package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Aggregates, Filters, Windows}
import graft.operators.Filters.{Ge, Pred}
import graft.sources.Tables

/** The paper's own surface over a seeded synthetic stocks table written
  * to Parquet in setup: six filters, global sum/min/max, three 10-row
  * forward windows (globalOrdinal + blockRolling), a volume-sorted layout
  * build, and a range probe of that layout against a linear scan. Every
  * result is checked against DuckDB over the same Parquet files. */
final class StocksWorkload(seed: Long, nproc: Int, oracle: Oracle) extends Workload {
  val name = "stocks"
  private val Rows = 300000L
  private val BlockRows = 65536L
  private val ProbeVolume = 2600000.0

  private val filters: Seq[(String, Seq[Pred])] = Seq(
    "filter_volume" -> Seq(Pred("volume", Ge, 2000000.0)),
    "filter_close" -> Seq(Pred("close", Ge, 600.0)),
    "filter_open" -> Seq(Pred("open", Ge, 550.0)),
    "filter_high" -> Seq(Pred("high", Ge, 600.0)),
    "filter_low" -> Seq(Pred("low", Ge, 520.0)),
    "filter_high_and_low" -> Seq(Pred("high", Ge, 600.0), Pred("low", Ge, 520.0)))
  private val globals: Seq[(String, DataFrame => DataFrame, String)] = Seq(
    ("sum_low", Aggregates.globalSum(_, "low"), "sum(low)"),
    ("min_low", Aggregates.globalMin(_, "low"), "min(low)"),
    ("max_high", Aggregates.globalMax(_, "high"), "max(high)"))
  private val windows: Seq[(String, Column => Column, String, String)] = Seq(
    ("window_avg_close", avg, "avg", "close"),
    ("window_min_low", min, "min", "low"),
    ("window_max_high", max, "max", "high"))

  def sizes: Seq[(String, Any)] = Seq("rows" -> Rows, "ops_per_pass" -> 15)
  val passSeconds = 5.0
  // after one warm-up pass the next pass still runs 10-20% slower while
  // the JIT finishes, and passes keep speeding up a little after two
  val warmPasses = 2

  private var table: String = ""
  private var expected: Map[String, Seq[Any]] = Map.empty

  private def sqlOf(preds: Seq[Pred]): String =
    preds.map(p => s"${p.column} >= ${p.value}").mkString(" AND ")

  def setup(spark: SparkSession, dir: File): Unit = {
    table = new File(dir, "stocks").getAbsolutePath
    Tables.syntheticStocks(spark, Rows, seed)
      .withColumn("rid", monotonically_increasing_id())
      .write.parquet(table)
    val probe = s"SELECT count(*), sum(close) FROM stocks WHERE volume >= $ProbeVolume"
    expected = oracle.rows(Map("stocks" -> table),
      filters.map { case (n, ps) => n -> s"SELECT count(*) FROM stocks WHERE ${sqlOf(ps)}" } ++
      globals.map { case (n, _, agg) => n -> s"SELECT $agg FROM stocks" } ++
      windows.map { case (n, _, f, c) => n ->
        (s"SELECT sum(x) FROM (SELECT $f($c) OVER (ORDER BY rid ROWS BETWEEN " +
          "CURRENT ROW AND 9 FOLLOWING) AS x FROM stocks)") } ++
      Seq("layout_build" -> "SELECT count(*) FROM stocks",
        "range_probe" -> probe, "linear_scan" -> probe))
  }

  def ops(spark: SparkSession, passDir: File): Seq[Op] = {
    def read(): DataFrame = spark.read.parquet(table)
    val layout = new File(passDir, "sorted").getAbsolutePath
    def want(op: String, i: Int): Any = expected(op)(i)
    def probeCheck(ctx: Ctx, r: Row): Unit = {
      ctx.expect("count", r.getLong(0), want(ctx.op.name, 0))
      ctx.expectClose("sum(close)", r.getDouble(1), want(ctx.op.name, 1).asInstanceOf[Double])
    }
    val probeAgg = Seq(count(lit(1)), sum("close"))

    filters.map { case (n, preds) =>
      Op(n, "query", Rows) { ctx =>
        val got = ctx.frame(Filters.filterRows(read(), preds: _*).agg(count(lit(1))))(_.head().getLong(0))
        ctx.expect("count", got, want(n, 0))
      }
    } ++ globals.map { case (n, agg, _) =>
      Op(n, "query", Rows) { ctx =>
        ctx.expectClose("value", ctx.frame(agg(read()))(_.head().getDouble(0)),
          want(n, 0).asInstanceOf[Double])
      }
    } ++ windows.map { case (n, f, _, c) =>
      Op(n, "query", Rows) { ctx =>
        val got = ctx.frame {
          val ord = Windows.globalOrdinal(read(), Seq(col("rid")))
          Windows.blockRolling(ord, "__ord", 9, BlockRows) { (u, w) =>
            u.withColumn("x", f(col(c)).over(w))
          }.agg(sum(col("x")))
        }(_.head().getDouble(0))
        ctx.expectClose("sum(x)", got, want(n, 0).asInstanceOf[Double])
      }
    } ++ Seq(
      Op("layout_build", "query", Rows) { ctx =>
        val got = ctx.frame(read().repartitionByRange(nproc * 2, col("volume"))
          .sortWithinPartitions("volume")) { df =>
          df.write.parquet(layout)
          spark.read.parquet(layout).count()
        }
        ctx.expect("rows written", got, want("layout_build", 0))
      },
      Op("range_probe", "query", Rows) { ctx =>
        probeCheck(ctx, ctx.frame(spark.read.parquet(layout)
          .filter(col("volume") >= ProbeVolume).agg(probeAgg.head, probeAgg.tail: _*))(_.head()))
      },
      Op("linear_scan", "query", Rows) { ctx =>
        probeCheck(ctx, ctx.frame(read()
          .filter(col("volume") >= ProbeVolume).agg(probeAgg.head, probeAgg.tail: _*))(_.head()))
      })
  }
}
