package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: building a DataFrame from a custom
  * LogicalPlan needs `Dataset.ofRows`, which Spark scopes to its own
  * package — the standard extension-library pattern (Delta, Sedona, etc.
  * ship the same shim) is one forwarding object inside
  * `org.apache.spark.sql`. Nothing else in the engine lives outside
  * `graft.*`. Besides `ofRows`, the frame builders here are
  * [[asStreaming]] (a batch frame re-tagged as a stream),
  * [[pinned]] (a frame over one execution of another frame's plan) and
  * [[manifestParquetRelation]] (a parquet scan over a pre-listed file
  * set). */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-tag a BATCH DataFrame as a STREAMING one — what a DSv1
    * streaming `Source.getBatch` must hand MicroBatchExecution (it
    * asserts `isStreaming` on the returned frame). The rows still
    * compute distributed from the batch plan's RDD lineage; nothing
    * materializes on the driver. The FileStreamSource/Delta shape. */
  def asStreaming(df: DataFrame): DataFrame = {
    val classic = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** A batch frame over ONE execution of `df`'s plan: its RDD is taken
    * once (`queryExecution.toRdd` — under AQE this runs the plan's map
    * stages; a range exchange samples its bounds here, once) and
    * wrapped as a `LogicalRDD` leaf, so every later job over the
    * returned frame re-reads the same shuffle output (map stage
    * skipped) and sees the same row placement. Nothing is cached: the
    * shuffle files live as long as the returned frame is reachable.
    *
    * `sizeInBytes` is the leaf's plan-time size estimate. A bare
    * `internalCreateDataFrame` leaf reports Spark's defaultSizeInBytes
    * sentinel, which size-driven planning (graft's `Par.parts`,
    * broadcast thresholds) cannot use; callers pass the size of what
    * the frame was computed from. */
  def pinned(df: DataFrame, sizeInBytes: BigInt): DataFrame = {
    val classic = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(df.schema)
    ofRows(classic, org.apache.spark.sql.execution.LogicalRDD(
      attrs, df.queryExecution.toRdd)(classic,
      Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes))))
  }

  /** Parse a SQL expression string to a catalyst Expression (Spark 4's
    * Column wraps a lazily-converted ColumnNode, so going through the
    * parser is the reliable way to obtain a transformable tree). */
  def parseExpression(spark: SparkSession, sql: String): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parseExpression(sql)

  /** The catalyst Expression behind a classic Column (unresolved tree —
    * what stats-based pruning pattern-matches on). */
  def expression(spark: SparkSession, c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** A parquet relation over a PRE-LISTED file set — (absolute path,
    * length) pairs a transaction-log manifest already knows — with ZERO
    * filesystem calls at plan time. The stock explicit-path reader
    * re-stats every path through InMemoryFileIndex (and above the
    * parallel-discovery threshold launches a distributed listing job):
    * O(files) metadata I/O per query that a 10⁵-file table pays in
    * minutes and an index probe pays in seconds. This is the Delta/
    * Iceberg read shape — the log is the file index. */
  /** `sizeHint`: an OVERRIDE for the relation's plan-time size estimate
    * (bytes). Without it the estimate is the summed COMPRESSED file
    * lengths — what every file-source relation reports — which can
    * overstate the in-memory footprint of a dim whose exact analyzed
    * row count is known (the transaction log's ANALYZE stats). The hint
    * feeds `FileIndex.sizeInBytes`, so Spark's own join planning
    * (broadcast threshold, AQE initial plan) consumes it with no custom
    * rule — the Delta `TahoeFileIndex` stats shape.
    *
    * `ordinalCol`: when set, the relation gains a LONG partition column
    * of that name whose value is each file's index in `files` — a
    * per-file constant the scan appends to every row with no per-row
    * work (the reader fills partition values per batch). What lets a
    * deletion-vector read key its positions on one long instead of on
    * the file path string. Partition filters on it are honoured here, as
    * Spark's own file indexes do (the scan does not re-apply them). */
  def manifestParquetRelation(spark: SparkSession,
      files: Seq[(String, Long)],
      schema: org.apache.spark.sql.types.StructType,
      judge: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => Int => Boolean = _ => _ => true,
      sizeHint: Option[Long] = None,
      ordinalCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.hadoop.fs.{FileStatus, Path}
    val partSchema = StructType(ordinalCol.toSeq.map(StructField(_, LongType, nullable = false)))
    val statuses = files.map { case (p, len) =>
      // mtime 0 is safe: nothing consults it (no FileStatusCache — the
      // index is immutable by construction, manifests reference
      // immutable staged files)
      new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, new Path(p))
    }.toArray
    val index = new FileIndex {
      override def rootPaths: Seq[Path] = Seq.empty
      // AUTOMATIC data skipping (the Delta TahoeFileIndex shape): the
      // physical scan hands its pushed-down filters here at planning,
      // and `judge` — fed by the transaction log's per-file footer
      // statistics, keyed by the SAME index as `files` — drops every
      // file that cannot contain a matching row. No opt-in API needed:
      // any .filter over a txlog read skips, including spark.sql text.
      // An empty filter set (or a keep-all judge) lists everything.
      override def listFiles(partitionFilters: Seq[Expression],
          dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
        val keep = if (dataFilters.isEmpty) (_: Int) => true else judge(dataFilters)
        val kept = statuses.indices.filter(keep)
        if (ordinalCol.isEmpty)
          Seq(PartitionDirectory(InternalRow.empty, kept.map(statuses).toArray))
        else {
          val onOrdinal = Predicate.createInterpreted(
            partitionFilters.reduceOption(And).getOrElse(Literal.TrueLiteral)
              .transform { case a: AttributeReference =>
                BoundReference(0, LongType, nullable = false) })
          kept.map(i => PartitionDirectory(InternalRow(i.toLong), Array(statuses(i))))
            .filter(d => onOrdinal.eval(d.values))
        }
      }
      override def inputFiles: Array[String] = files.map(_._1).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = sizeHint.getOrElse(files.map(_._2).sum)
      override def partitionSchema: StructType = partSchema
    }
    val rel = HadoopFsRelation(index,
      partitionSchema = partSchema,
      dataSchema = schema, bucketSpec = None,
      fileFormat = new parquet.ParquetFileFormat(),
      options = Map.empty)(spark)
    ofRows(spark, LogicalRelation(rel, isStreaming = false))
  }
}
