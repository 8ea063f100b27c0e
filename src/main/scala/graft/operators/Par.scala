package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, graftbridge}
import org.apache.spark.sql.functions._

/** CPU-parallel repartition for "cheap bytes, expensive rows" stages.
  *
  * `df.repartition(col)` leaves the partition count to
  * spark.sql.shuffle.partitions and — crucially — marks the exchange as
  * AQE-coalescable: when the shuffled BYTES are small (a few MB of
  * documents or packed vectors), AQE merges the output down to 1-2
  * partitions, and a downstream per-row stage that is CPU-bound (per-gram
  * md5, per-vector distance kernels) serializes onto 1-2 cores. Measured
  * on t7_winnowing at sf0.1: 3.1 s coalesced vs 0.9 s spread.
  *
  * Pinning an explicit count makes the exchange non-coalescable and
  * keeps every core busy. The count is `max(2 × defaultParallelism,
  * leaf bytes / 64 MB)` — see [[parts]]: it scales with the cluster
  * (defaultParallelism on a 1000-executor cluster is the real core
  * count, not a hardcoded 64) AND with the data (a 100 TB input derives
  * its count from its own size instead of freezing at the core count).
  */
object Par {
  /** Conf keys for the bytes-derived partition count (r18, optimization
    * brief item 4): per-partition byte target and a hard ceiling on the
    * derived count. The local defaults (64 MB, 2^18) keep sandbox plans
    * byte-for-byte identical — every sandbox input is MBs, so the CPU
    * floor always wins — while a warehouse-scale input drives the count
    * from its own size through the SAME code path. */
  private val TargetBytesKey = "spark.graft.parts.targetBytes"
  private val MaxPartsKey = "spark.graft.parts.max"

  /** Scale-adaptive, AQE-proof partition count:
    * `max(2 × defaultParallelism, leafBytes / targetBytes)`.
    *
    * The CPU floor keeps cheap-bytes/expensive-rows stages (per-gram
    * md5, per-vector kernels) on every core — disk bytes CANNOT see
    * per-row CPU cost (t7's 600 KB of dictionary-packed docs cost 3.1 s
    * when AQE coalesced them onto 2 tasks, 0.9 s spread), which is why
    * the floor never adapts DOWN. The bytes term takes over when the
    * input outgrows `2 × cores × 64 MB` — at 100 TB the count tracks
    * data size instead of freezing at the core count.
    *
    * Bytes are the sum of the ANALYZED plan's LEAF relation sizes,
    * deliberately NOT the frame's own sizeInBytes and NOT the optimized
    * plan's leaves: without CBO a join's estimate is the PRODUCT of its
    * children, so any post-join frame reports petabytes at megabyte
    * scale — and the optimized plan re-imports that garbage through
    * cache substitution (an unmaterialized InMemoryRelation is a leaf
    * whose stats INHERIT its child's join-product estimate; measured:
    * g2's ordinal exchange hit the 2^18 cap and ran 250 s at sf0.1).
    * The analyzed plan's leaves are the raw scans — deterministic,
    * cache-proof, and at worst an UNDER-estimate for fan-out plans,
    * which degrades to the CPU floor, exactly the r17 behavior. Leaves
    * that report the defaultSizeInBytes sentinel are skipped rather
    * than poisoning the sum. */
  private def parts(df: DataFrame): Int = {
    val s = df.sparkSession
    val cpu = 2 * s.sparkContext.defaultParallelism
    val target = s.conf.get(TargetBytesKey, (64L << 20).toString).toLong
    val cap = s.conf.get(MaxPartsKey, (1 << 18).toString).toInt
    math.max(cpu, (leafBytes(df) / target).min(BigInt(cap)).toInt)
  }

  private def leafBytes(df: DataFrame): BigInt = {
    val unknown = BigInt(Long.MaxValue) / 2
    df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).filter(_ < unknown).sum
  }

  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(parts(df), keys: _*)

  /** Materialization fence under a deterministic final ORDER BY.
    *
    * A global sort's range exchange SAMPLES its child to compute the
    * partition bounds — a separate job that re-executes the child's full
    * lineage down to the nearest exchange / cached relation. When the
    * operators between that boundary and the sort are expensive (a
    * 32-lag window pass, a percentile-buffer merge) the sampling pass
    * silently re-runs them, doubling the query (measured on w12_ema: two
    * 15-task, ~1.3 s window stages reading the same 18 MB exchange; on
    * a11: the percentile final-merge twice). Interposing one hash
    * exchange on the (small) pre-sort result gives the sampler a
    * materialized shuffle to read instead. Only worth it when the fenced
    * frame is orders of magnitude cheaper to re-shuffle than its lineage
    * is to re-run — grouped/filtered outputs, not raw scans.
    *
    * ROUND-ROBIN on purpose, not keyed: a keyed fence whose (keys,
    * count) happen to match the child's existing hash partitioning is
    * planned away as redundant — exactly what happened when w12's
    * window exchange moved to the same spread count, silently bringing
    * the double window pass back. RoundRobinPartitioning is never
    * satisfied by a child, so the fence always materializes; row
    * placement is deterministic (sortBeforeRepartition), and the final
    * sort fully determines output order — every fenced query sorts on
    * key columns its grouping/dedup made unique. The `keys` parameter
    * is kept for call-site documentation of that sort key. */
  def sortFence(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(parts(df))

  /** The partition count [[rangeWithOffsets]] range-partitions into —
    * exposed so downstream per-`__pid` exchanges can pin the SAME count
    * (more buckets than distinct pids is waste; fewer serializes). The
    * pinned frame's leaf carries its input's analyzed leaf bytes, so the
    * input and every frame derived from the pinned one give the same
    * count. */
  def prefixParts(df: DataFrame): Int = parts(df)

  /** Distributed exclusive-prefix machinery shared by
    * Windows.globalOrdinal / globalRunningMax and Curation's
    * packSequences / cur11: range-partition `df` on `order`, attach the
    * partition id `__pid`, and return, as a column over `__pid`, each
    * partition's BASE OFFSET — the exclusive prefix of per-partition
    * sum(weight); weight = lit(1) gives row-count offsets.
    *
    * The offsets and the caller's job must see the SAME row placement,
    * and repartitionByRange samples its bounds with an RDD-id-seeded RNG:
    * two executions of the exchange can place rows differently, and two
    * copies of it in one plan do not share (column pruning narrows the
    * totals branch's scan, so exchange reuse does not fire — both were
    * seen as non-dense ordinals). So the exchange runs ONCE: the returned
    * frame is a leaf over that one execution's shuffle output
    * ([[graftbridge.Bridge.pinned]]); the totals job and every caller
    * job re-read the shuffle files with the map stage skipped. Nothing
    * is cached — the shuffle output lives as long as the frame — and the
    * leaf carries `df`'s analyzed leaf bytes, so [[parts]] gives the
    * pinned frame and everything derived from it the count `df` gets.
    *
    * Order and weight columns resolve BY NAME against the pinned frame
    * (`col("x")`, not a `df("x")` bound to the input's plan). The
    * offsets travel as an array literal of ≤ #partitions longs, indexed
    * by `__pid`; a partition with no rows has weight 0.
    *
    * @return (pinned range-partitioned frame with `__pid`, `__pid`'s
    *         exclusive offset column) */
  def rangeWithOffsets(df: DataFrame, order: Seq[Column], weight: Column)
      : (DataFrame, Column) = {
    val (p, tot) = pinWithTotals(df, order, sum(weight))
    (p, exclusive(tot, 1, 0L)(_ + _))
  }

  /** [[rangeWithOffsets]] plus the exclusive prefix-MAX of `value` per
    * partition, from ONE combined per-partition aggregation pass (the
    * separate max pass Windows.globalRunningMax first shipped doubled
    * the whole-input jobs). Returns (pinned frame with `__pid`, offset
    * column, prefix-max column); the prefix max is Long.MinValue for the
    * first partition. */
  def rangeWithOffsetsAndMax(df: DataFrame, order: Seq[Column], weight: Column,
      value: Column): (DataFrame, Column, Column) = {
    val (p, tot) = pinWithTotals(df, order, sum(weight), max(value))
    (p, exclusive(tot, 1, 0L)(_ + _), exclusive(tot, 2, Long.MinValue)(math.max))
  }

  /** The pinned range-partitioned frame and its per-`__pid` totals
    * (`__pid`, aggs…) — one job over the pinned shuffle output. */
  private def pinWithTotals(df: DataFrame, order: Seq[Column], aggs: Column*)
      : (DataFrame, Map[Int, Row]) = {
    val p = graftbridge.Bridge
      .pinned(df.repartitionByRange(parts(df), order: _*), leafBytes(df))
      .withColumn("__pid", spark_partition_id())
    val tot = p.groupBy("__pid").agg(aggs.head, aggs.tail: _*).collect()
    (p, tot.map(r => r.getInt(0) -> r).toMap)
  }

  /** Column over `__pid`: the exclusive `op`-prefix, from `zero`, of
    * total `i` over the partitions before it; a partition with no rows
    * (absent from `tot`) contributes `zero`. */
  private def exclusive(tot: Map[Int, Row], i: Int, zero: Long)(
      op: (Long, Long) => Long): Column = {
    val v = Array.tabulate(if (tot.isEmpty) 0 else tot.keys.max + 1)(
      pid => tot.get(pid).map(_.getLong(i)).getOrElse(zero))
    element_at(typedLit(v.scanLeft(zero)(op).dropRight(1).toSeq), col("__pid") + 1)
  }
}
