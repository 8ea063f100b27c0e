package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.Paths

/** Sources (reference S1-S4, stockify.cu:32-71, 209-212, 647-657).
  *
  * The reference's one table is a fixed-schema in-memory row vector loaded
  * from CSV; queries run against a device-resident mirror. Here every table
  * is columnar Parquet read through Spark's vectorized reader, so "load once,
  * query many" becomes predicate-pushdown scans (plus `.persist()` when a
  * caller genuinely reuses a table across many queries).
  */
object Tables {

  /** Reference row type (stockify.cu:21-28): date string + five float32
    * fields in CSV order date, close, volume, open, high, low
    * (stockify.cu:44-63). We widen to DATE + double per SURVEY §1.2. */
  val stockSchema: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("close", DoubleType, nullable = false),
    StructField("volume", DoubleType, nullable = false),
    StructField("open", DoubleType, nullable = false),
    StructField("high", DoubleType, nullable = false),
    StructField("low", DoubleType, nullable = false)))

  /** CSV loader replicating reference S1 (stockify.cu:32-71) with an
    * explicit compiled-in schema (no inference pass over 247 MB) and
    * WITHOUT the header-skip bug (stockify.cu:37-38 silently drops the
    * first data row of a headerless file). */
  def stocksCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(stockSchema).option("header", "false").csv(path)

  /** Unzip the reference's stocks.csv.zip into target/ once and return
    * the csv path (shared by StocksCompatSpec and StocksBench — one copy
    * of the unzip logic). Extracts to a temp name and atomically moves
    * into place, so an interrupted run can never leave a partial file
    * that the exists() fast-path would silently reuse. */
  def ensureStocksCsv(): String = synchronized {
    val out = new java.io.File(s"${Paths.work}/stocks-csv")
    val f = new java.io.File(out, "stocks.csv")
    if (!f.exists()) {
      out.mkdirs()
      val tmp = new java.io.File(out, "stocks.csv.tmp")
      val zip = new java.util.zip.ZipFile(Paths.stocksZip)
      try {
        val entry = zip.getEntry("stocks.csv")
        java.nio.file.Files.copy(zip.getInputStream(entry), tmp.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } finally zip.close()
    }
    f.getAbsolutePath
  }

  /** Materialize the reference's 5,613,300-row stocks table as Parquet
    * at an absolute path under [[Paths.work]], once per checkout — the columnar twin of
    * [[ensureStocksCsv]] that both the Spark stk-queries and the DuckDB
    * oracle (via read_parquet on the same path) consume, so the
    * reference's literal dataset becomes differentially hash-checkable.
    * Write-then-atomic-rename keeps the exists() fast-path from ever
    * seeing a half-written table. */
  // -v2: 64 files (was a fixed coalesce(8)). The 18 distinct rows
  // RLE-compress to ~150 KB/file, so BYTES never justified more files —
  // but each file is ONE parquet row group, and a row group is the
  // vectorized reader's parallelism quantum: 8 files capped every
  // stk-query's 5.6M-row decode at 8 tasks (guide §2.5 cheap bytes /
  // expensive rows, applied to the scan itself). 64 is ROW-derived
  // (~88k rows per decode task for this FIXED 5,613,300-row reference
  // dataset), not a local core count — the table never scales, so the
  // right quantum is rows-per-task, and a session of any width ≤ 64
  // decodes at full parallelism. NOT defaultParallelism: the fixture is
  // created once per checkout, and a narrow session (Verify at 8 cores)
  // would freeze a narrow layout for every later wide session. The path
  // bump forces stale 8-file fixtures in any checkout to regenerate (the
  // _SUCCESS fast-path can't see layout).
  val StocksParquetDir = s"${Paths.work}/stocks-parquet-v2"
  def ensureStocksParquet(spark: SparkSession): String = synchronized {
    val dir = new java.io.File(StocksParquetDir)
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      val tmp = new java.io.File(StocksParquetDir + ".tmp")
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      // superseded layouts: the unversioned base name and any other -vN
      val base = java.util.regex.Pattern.quote(dir.getName.replaceAll("-v\\d+$", ""))
      Option(dir.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName != dir.getName && f.getName.matches(s"$base(-v\\d+)?"))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      stocksCsv(spark, ensureStocksCsv())
        .repartition(64) // round-robin: equal-row files; coalesce(64)
                         // can't exceed the CSV read's own split count
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      java.nio.file.Files.move(tmp.toPath, dir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    StocksParquetDir
  }

  def stocksParquet(spark: SparkSession): DataFrame =
    spark.read.parquet(ensureStocksParquet(spark))

  /** Generic testdata table: one Parquet file/dir per table name. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS) which Spark's reader rejects
    * outright (ParquetSchemaConverter.illegalType). Read it as raw nanos
    * (`nanosAsLong`) and materialize both an exact integer-microsecond
    * column `ts_us` (what cross-engine checks compare on) and a proper
    * TimestampType `ts` (truncated ns→µs; truncation always rounds down,
    * so hour/minute windowing agrees with an engine that windows native
    * ns timestamps).
    *
    * SCHEMA-ADAPTIVE: the generated table has shipped `ts` both as
    * parquet TIMESTAMP(NANOS) and as TIMESTAMP(MICROS) — the loader
    * normalizes either vintage to the same contract downstream code and
    * oracles rely on: `ts_us` = the stored epoch-µs int64 exactly
    * (what DuckDB's `epoch_us(ts)` sees) and `ts` = TimestampType built
    * from it. The µs form arrives as TIMESTAMP_NTZ; sessions pin UTC, so
    * the NTZ→LTZ cast is value-preserving and `unix_micros` recovers the
    * stored integer bit-for-bit. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(table(spark, dir, "events"))
  }

  /** The single definition of the vintage→contract normalization, shared
    * by the batch loader and the streaming file source so the twins can
    * never diverge: whatever type `ts` arrived as, the result carries
    * `ts_us` = exact epoch-µs BIGINT and `ts` = TimestampType over it. */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000") // ns vintage
      case _ => unix_micros(col("ts").cast("timestamp")) // native µs (NTZ)
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Reference S4 (stockify.cu:647-657): 10 M rand()-based synthetic OHLCV
    * rows used only by the index experiments. Distributed equivalent: a
    * `spark.range` seeded-rand generator — test/bench fixture only. */
  def syntheticStocks(spark: SparkSession, rows: Long, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(rows).select(
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 18).cast("int")).as("date"),
      (rand(seed) * 170 + 500).as("close"),
      (floor(rand(seed + 1) * 1700000) + 1200000).cast("double").as("volume"),
      (rand(seed + 2) * 170 + 450).as("open"),
      (rand(seed + 3) * 170 + 510).as("high"),
      (rand(seed + 4) * 170 + 440).as("low"))
  }
}
