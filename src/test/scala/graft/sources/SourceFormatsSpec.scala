package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format completeness beyond parquet + the reference CSV
  * (StocksCompatSpec): JSON-lines round-trips with an explicit schema, and
  * the partitioned layout supports idempotent partition backfill — the
  * "re-run one day" operation every batch pipeline needs. */
class SourceFormatsSpec extends SparkSpec {

  test("JSON-lines round-trip preserves the documents table exactly") {
    val dir = freshRoot("jsonl")
    val docs = Tables.documents(spark, sf)
    docs.write.json(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // explicit schema: schema-on-read without an inference pass (at 100 TB
    // inference is a full extra scan)
    val back = spark.read.schema(schema).json(dir)
    assert(back.count() === docs.count())
    assert(back.exceptAll(docs).count() === 0)
    assert(docs.exceptAll(back).count() === 0)
  }

  test("CSV sink round-trip preserves documents (header + explicit schema read-back)") {
    val dir = freshRoot("csvsink")
    val docs = Tables.documents(spark, sf)
    docs.write.option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
    assert(back.count() === docs.count())
    assert(back.exceptAll(docs).count() === 0)
    assert(docs.exceptAll(back).count() === 0)
  }

  test("ORC round-trip preserves the documents table exactly (predicate pushdown intact)") {
    val dir = freshRoot("orc")
    val docs = Tables.documents(spark, sf)
    docs.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === docs.count())
    assert(back.exceptAll(docs).count() === 0)
    assert(docs.exceptAll(back).count() === 0)
    // ORC scans must push filters like parquet scans do — the interchange
    // format changes, the scan contract doesn't
    val plan = back.filter(col("n_chars") >= 300)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,300)]")
      || plan.contains("GreaterThanOrEqual(n_chars,300)"),
      s"expected n_chars pushdown in ORC scan:\n$plan")
  }

  test("dynamic partition overwrite backfills ONE partition, leaves the rest") {
    withSQLConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      val dir = freshRoot("backfill")
      val ev = Tables.events(spark, sf)
        .select(col("event_id"), col("value"),
          to_date(col("ts")).cast("string").as("day"))
      ev.write.partitionBy("day").parquet(dir)
      val days = ev.select("day").distinct().collect().map(_.getString(0)).sorted
      assert(days.length >= 2, s"need >=2 partitions, got ${days.toSeq}")
      val target = days.head

      // backfill one day with corrected values; mode=overwrite + dynamic
      // partition overwrite replaces ONLY partitions present in the write
      ev.filter(col("day") === target)
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite").partitionBy("day").parquet(dir)

      val after = spark.read.parquet(dir)
      // untouched partitions: bit-identical
      assert(after.filter(col("day") =!= target).exceptAll(
        ev.filter(col("day") =!= target)).count() === 0)
      // backfilled partition: the corrected rows, same count
      val want = ev.filter(col("day") === target).withColumn("value", col("value") * 2)
      assert(after.filter(col("day") === target).exceptAll(want).count() === 0)
      assert(after.count() === ev.count())
    }
  }

  test("events loader normalizes both ts vintages to the same (ts, ts_us)") {
    // The generated events table has shipped ts both as TIMESTAMP(NANOS)
    // (which Spark reads as raw-nanos BIGINT under nanosAsLong) and as
    // TIMESTAMP(MICROS). Synthesize the ns-as-long vintage from whatever
    // the current testdata is and pin that the loader yields identical
    // normalized columns for both.
    val native = Tables.events(spark, sf)
    val dir = freshRoot("ns-vintage")
    native
      .select(col("event_id"), (col("ts_us") * 1000).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.parquet(s"$dir/events.parquet")
    val legacy = Tables.events(spark, dir)
    assert(legacy.schema("ts").dataType === native.schema("ts").dataType)
    assert(legacy.schema("ts_us").dataType.typeName === "long")
    val n = native.select("event_id", "ts", "ts_us")
    val l = legacy.select("event_id", "ts", "ts_us")
    assert(l.exceptAll(n).count() === 0)
    assert(n.exceptAll(l).count() === 0)
  }
}
