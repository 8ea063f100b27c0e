package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Oracled twins of the reference's headline experiments over its ACTUAL
  * 5,613,300-row stocks dataset (stockify.cu main(): the six filters
  * :229-452, the global sum :476-481, the three 10-row rolling windows
  * :513-615) — closing the "intent implemented but the literal data never
  * hash-checked" gap. StocksCompatSpec covers row counts and StocksBench
  * covers timings; these queries make the reference workload part of the
  * driver's DuckDB differential gate.
  *
  * Both engines read the SAME materialized Parquet
  * (Tables.ensureStocksParquet; the oracle via read_parquet on the
  * absolute path), so the compare is on identical bits.
  *
  * Determinism notes:
  *   - all checksums are f9-style order-insensitive BIGINT aggregates of
  *     per-row integer quantizations (floor(x*100) — floor, not round,
  *     sidesteps the engines' HALF_UP vs half-even divergence);
  *   - the reference's windows run over its one load-ordered series; load
  *     order is not a cross-engine concept, so the twins fix the series
  *     order to the CANONICAL total sort over all six columns. The data
  *     is 18 distinct rows repeated: ties under that sort are full-row
  *     duplicates, so the sorted VALUE SEQUENCE — and with it every
  *     window output and the ordinal-weighted mix checksum — is unique
  *     even though tie-breaking among identical rows is arbitrary;
  *   - the Spark side computes the global series windows with the
  *     scale-safe machinery (Windows.globalOrdinal + blockRolling), so
  *     this doubles as a 5.6M-row certification of the block-carry
  *     window against DuckDB's plain global window.
  */
object StocksParity {

  private def pq = s"read_parquet('${Tables.StocksParquetDir}/*.parquet')"

  /** The six reference filter predicates (stockify.cu:229,274,310,345,
    * 380,415): volume ≥ 1M, each price column ≥ 100, and the high∧low
    * conjunction. */
  private val Filters: Seq[(String, String)] = Seq(
    "f1_volume_ge_1m" -> "volume >= 1000000",
    "f2_close_ge_100" -> "close >= 100",
    "f3_open_ge_100" -> "open >= 100",
    "f4_high_ge_100" -> "high >= 100",
    "f5_low_ge_100" -> "low >= 100",
    "f6_high_and_low" -> "high >= 100 AND low >= 100")

  private val sortCols = "date, close, volume, open, high, low"

  val defs: Seq[QueryDef] = Seq(
    // STK1: the filter family as full-result checksums — every row each
    // predicate keeps feeds exact integer sums (volume floor-integral,
    // close in cents). ONE scan of the 5.6M rows evaluates all six
    // predicates as conditional aggregates (the f9 single-pass shape —
    // at 100 TB, 6 predicates must not mean 6 reads of the table);
    // otherwise(0)/COALESCE keep empty-match predicates at 0 on both
    // engines.
    QueryDef("stk1_filter_checksums",
      Filters.map { case (tag, where) =>
        s"""SELECT '$tag' AS pred, count(*) AS n,
           |       COALESCE(CAST(sum(CAST(floor(volume) AS BIGINT)) AS BIGINT), 0) AS ck_vol,
           |       COALESCE(CAST(sum(CAST(floor(close * 100) AS BIGINT)) AS BIGINT), 0) AS ck_close
           |FROM $pq WHERE $where""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY pred")) { (s, _) =>
      val t = Tables.stocksParquet(s)
      val entries = Filters.map { case (tag, where) =>
        struct(
          lit(tag).as("pred"),
          sum(when(expr(where), 1L).otherwise(0L)).as("n"),
          sum(when(expr(where), floor(col("volume")).cast("long")).otherwise(0L)).as("ck_vol"),
          sum(when(expr(where), floor(col("close") * 100).cast("long")).otherwise(0L)).as("ck_close"))
      }
      t.agg(entries.head.as("s0"),
          entries.tail.zipWithIndex.map { case (e, i) => e.as(s"s${i + 1}") }: _*)
        .select(explode(array(entries.indices.map(i => col(s"s$i")): _*)).as("e"))
        .select("e.*").orderBy("pred")
    },

    // STK2: the global sum experiment (stockify.cu:476-481, sum over
    // `low`) — integer-cents sum (order-independent, unlike a double
    // accumulation over 5.6M rows) plus the exact min/max copies.
    QueryDef("stk2_sum_low",
      s"""SELECT count(*) AS n,
         |       CAST(sum(CAST(floor(low * 100) AS BIGINT)) AS BIGINT) AS sum_low_cents,
         |       min(low) AS min_low, max(low) AS max_low
         |FROM $pq""".stripMargin) { (s, _) =>
      Tables.stocksParquet(s).agg(
        count(lit(1)).as("n"),
        sum(floor(col("low") * 100).cast("long")).as("sum_low_cents"),
        min("low").as("min_low"), max("low").as("max_low"))
    },

    // STK3: the three 10-row forward windows (moving avg close, rolling
    // min low, rolling max high; stockify.cu:513-615) over the canonical
    // global series, computed distributed (dense ordinal + block-carry —
    // no SinglePartition anywhere) and reduced to one checksum row: per
    // window, the BIGINT sum of the quantized outputs over ALL 5.6M rows
    // plus an ordinal-weighted mix (catches value permutations). The
    // moving average stays in pre-division integer form ws·100 div wn.
    QueryDef("stk3_window_checksums",
      s"""WITH w AS (
         |  SELECT row_number() OVER win - 1 AS ord,
         |         (sum(CAST(floor(close * 100) AS BIGINT))
         |            OVER (win ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) * 100)
         |           // (count(*) OVER (win ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)) AS qavg,
         |         CAST(floor(min(low) OVER (win ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) * 100) AS BIGINT) AS qmin,
         |         CAST(floor(max(high) OVER (win ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) * 100) AS BIGINT) AS qmax
         |  FROM $pq
         |  WINDOW win AS (ORDER BY $sortCols))
         |SELECT count(*) AS n,
         |       CAST(sum(qavg) AS BIGINT) AS ck_avg,
         |       CAST(sum((ord % 10007) * qavg) AS BIGINT) AS mix_avg,
         |       CAST(sum(qmin) AS BIGINT) AS ck_min,
         |       CAST(sum((ord % 10007) * qmin) AS BIGINT) AS mix_min,
         |       CAST(sum(qmax) AS BIGINT) AS ck_max,
         |       CAST(sum((ord % 10007) * qmax) AS BIGINT) AS mix_max
         |FROM w""".stripMargin) { (s, _) =>
      val t = Tables.stocksParquet(s)
      val series = Seq(col("date"), col("close"), col("volume"),
        col("open"), col("high"), col("low"))
      // NO OUTER CACHE (r18): one-pass blockRolling leaves the ordinal a
      // single consumer, so the 140 MB cache of the slimmed ordinal
      // (built only for the old base+carry double read) is gone — the
      // ordinal streams straight into the block window's spread
      // exchange. globalOrdinal caches nothing either: it pins one
      // execution of its range shuffle (Par.rangeWithOffsets) and numbers
      // the rows in a projection over the per-partition sort.
      // SLIMMED to the four columns the rolling window touches (guide
      // §2.3 project-before-the-exchange): date/volume/open end their
      // life at the ordinal sort.
      val ord = Windows.globalOrdinal(t, series)
        .select("__ord", "close", "low", "high")
      val win = Windows.blockRolling(ord, "__ord", frameEnd = 9,
        blockSize = 65536) { (u, w) =>
        u.withColumn("ws", sum(floor(col("close") * 100).cast("long")).over(w))
          .withColumn("wn", count(lit(1)).over(w))
          .withColumn("qmin", floor(min("low").over(w) * 100).cast("long"))
          .withColumn("qmax", floor(max("high").over(w) * 100).cast("long"))
      }
      win.select(col("__ord"), expr("ws * 100 div wn").as("qavg"),
        col("qmin"), col("qmax"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("qavg")).as("ck_avg"),
          sum((col("__ord") % 10007) * col("qavg")).as("mix_avg"),
          sum(col("qmin")).as("ck_min"),
          sum((col("__ord") % 10007) * col("qmin")).as("mix_min"),
          sum(col("qmax")).as("ck_max"),
          sum((col("__ord") % 10007) * col("qmax")).as("mix_max"))
    },

    // STK4: VWAP by date over the literal 5.6M rows — the
    // volume-weighted average price every trading system derives, absent
    // from the reference's experiments but THE natural next query on its
    // own data. Exact integer numerator/denominator per date (close in
    // floor-cents × floor-integral volume; both engines floor
    // identically); the reported VWAP is one identical division tree.
    // One grouped aggregate — 18 output rows, no window, no sort beyond
    // the tiny result.
    QueryDef("stk4_vwap_by_date",
      s"""SELECT date,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(floor(close * 100) AS BIGINT)
         |                * CAST(floor(volume) AS BIGINT)) AS BIGINT) AS vwap_num,
         |       CAST(sum(CAST(floor(volume) AS BIGINT)) AS BIGINT) AS vwap_den,
         |       CAST(round(CAST(sum(CAST(floor(close * 100) AS BIGINT)
         |                          * CAST(floor(volume) AS BIGINT)) AS DOUBLE)
         |                  / sum(CAST(floor(volume) AS BIGINT)) / 100.0, 6) AS DOUBLE) AS vwap
         |FROM $pq GROUP BY date ORDER BY date""".stripMargin) { (s, _) =>
      val cents = floor(col("close") * 100).cast("long")
      val vol = floor(col("volume")).cast("long")
      Tables.stocksParquet(s)
        .groupBy("date")
        .agg(count(lit(1)).as("n"),
          sum(cents * vol).as("vwap_num"),
          sum(vol).as("vwap_den"),
          round(sum(cents * vol).cast("double") / sum(vol) / 100.0, 6)
            .cast("double").as("vwap"))
        .orderBy("date")
    },

    // STK5: maximum drawdown over the WHOLE 5,613,300-row series — the
    // fin2 indicator re-based onto the reference's literal data, and the
    // certification of a new scale-safe primitive: the UNBOUNDED running
    // max ([[Windows.globalRunningMax]]: range partition + per-partition
    // prefix max + exclusive prefix of ≤ #partitions maxes —
    // no SinglePartition anywhere), hash-matched against DuckDB's
    // genuine global unbounded window. Series order is the stk3
    // canonical total sort; its ties are full-row duplicates, so the
    // running-max SEQUENCE is permutation-unique and the ordinal-
    // weighted drawdown mix is well-defined. Integer bp division (both
    // operands non-negative, close ≥ 500 dollars in this data; the
    // peak > 0 guard keeps the contract total anyway).
    QueryDef("stk5_drawdown_checksums",
      s"""WITH o AS (SELECT CAST(floor(close * 100) AS BIGINT) AS c,
         |             row_number() OVER w - 1 AS ord,
         |             max(CAST(floor(close * 100) AS BIGINT)) OVER
         |               (w ROWS UNBOUNDED PRECEDING) AS peak
         |           FROM $pq
         |           WINDOW w AS (ORDER BY $sortCols)),
         |d AS (SELECT ord, (peak - c) * 10000 // peak AS dd
         |      FROM o WHERE peak > 0)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |       CAST(max(dd) AS BIGINT) AS max_dd_bp,
         |       CAST(sum(dd) AS BIGINT) AS s_dd,
         |       CAST(sum(((ord % 251) + 1) * dd) AS BIGINT) AS mix
         |FROM d""".stripMargin) { (s, _) =>
      val t = Tables.stocksParquet(s)
        .withColumn("c", floor(col("close") * 100).cast("long"))
      val order = Seq(col("date"), col("close"), col("volume"),
        col("open"), col("high"), col("low"))
      Windows.globalRunningMax(t, order, col("c"))
        .filter(col("__runmax") > 0)
        .withColumn("dd", expr("(__runmax - c) * 10000 div __runmax"))
        .agg(count(lit(1)).as("n"), max("dd").as("max_dd_bp"),
          sum("dd").as("s_dd"),
          sum(((col("__ord") % 251) + 1) * col("dd")).as("mix"))
    }
  )
}
