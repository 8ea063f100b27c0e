package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Z-order clustering (`TxLog.cluster` / `OPTIMIZE ... ZORDER BY`): a
  * pure LAYOUT rewrite — same rows, new file arrangement — whose whole
  * point is that footer-stat pruning becomes selective on EVERY
  * clustered column, not just one range key. */
class ClusterSpec extends SparkSpec {

  /** doc_id plus an independent second dimension m = doc_id % 97 — a
    * doc_id range cluster leaves every file's m-interval wide, z-order
    * tightens both. */
  private def fixture = Tables.documents(spark, sf)
    .select(col("doc_id"), (col("doc_id") % 97).as("m"), col("text"))

  private def checksum(df: org.apache.spark.sql.DataFrame): Seq[Any] =
    df.agg(count(lit(1)), sum((col("doc_id") + 1) * col("m")),
      sum((col("doc_id") + 1) * length(col("text").cast("binary"))))
      .head().toSeq

  test("cluster is content-neutral: rows, schema, and checksums unchanged") {
    val root = freshRoot("cluster-neutral")
    TxLog.init(spark, root, fixture)
    val before = checksum(TxLog.read(spark, root))
    val v0 = TxLog.snapshot(root).get.version
    val v1 = TxLog.cluster(spark, root, Seq("doc_id", "m"), targetFiles = 16)
    assert(v1 === v0 + 1)
    val after = TxLog.read(spark, root)
    assert(checksum(after) === before)
    assert(after.schema === TxLog.read(spark, root, v0).schema)
  }

  test("z-order prunes on BOTH dimensions; a single-key cluster does not") {
    // sized so a doc_id-range file spans ≥ 2 full m-periods (250 rows/file
    // vs period 97): under the single-key layout EVERY file then contains
    // m < 5 rows, so only z-order can skip on the second dimension
    val big = spark.range(4000).toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 97).as("m"),
        md5(col("doc_id").cast("string").cast("binary")).as("text"))
    val zRoot = freshRoot("cluster-z")
    val rRoot = freshRoot("cluster-r")
    TxLog.init(spark, zRoot, big)
    TxLog.init(spark, rRoot, big)
    TxLog.cluster(spark, zRoot, Seq("doc_id", "m"), targetFiles = 16)
    TxLog.cluster(spark, rRoot, Seq("doc_id"), targetFiles = 16)
    val hi = big.agg(max("doc_id")).head().getLong(0)
    val dPred = s"doc_id >= ${hi / 2} AND doc_id < ${hi / 2 + math.max(hi / 20, 1)}"
    val mPred = "m < 5"
    def kept(root: String, pred: String): (Int, Int) = {
      val snap = TxLog.snapshot(root).get
      val (k, t) = TxLog.pruneEntries(spark, snap, pred)
      (k.size, t)
    }
    // the range key prunes under both layouts
    val (zd, zt) = kept(zRoot, dPred)
    val (rd, rt) = kept(rRoot, dPred)
    assert(zd > 0 && zd <= zt / 2, s"z layout: doc_id range kept $zd/$zt")
    assert(rd > 0 && rd <= rt / 2, s"range layout: doc_id range kept $rd/$rt")
    // the SECOND dimension only prunes under z-order: every single-key
    // file spans ≥ 2 m-periods, so the range layout cannot skip at all
    val (zm, _) = kept(zRoot, mPred)
    val (rm, _) = kept(rRoot, mPred)
    assert(zm > 0 && zm <= zt / 2, s"z layout: m band kept $zm/$zt")
    assert(rm === rt, s"range layout should keep everything on m ($rm/$rt)")
    // and pruning never changes the answer
    assert(TxLog.readWhere(spark, zRoot, mPred).count() ===
      big.filter(col("m") < 5).count())
  }

  test("OPTIMIZE ... ZORDER BY routes through the SQL surface") {
    val root = freshRoot("cluster-sql")
    TxLog.init(spark, root, fixture)
    val v = SqlSurface.TxSql.sql(spark,
      s"OPTIMIZE txlog.`$root` TARGET 16 ZORDER BY (doc_id, m)")
      .head().getLong(0)
    assert(v === TxLog.snapshot(root).get.version)
    val hi = fixture.agg(max("doc_id")).head().getLong(0)
    val (k, t) = TxLog.pruneEntries(spark, TxLog.snapshot(root).get,
      s"doc_id >= ${hi / 2} AND doc_id < ${hi / 2 + math.max(hi / 20, 1)}")
    assert(k.nonEmpty && k.size <= t / 2)
    // bare OPTIMIZE still bin-packs
    val v2 = SqlSurface.TxSql.sql(spark, s"OPTIMIZE txlog.`$root` TARGET 4")
      .head().getLong(0)
    assert(v2 === v + 1)
    assert(TxLog.snapshot(root).get.files.size <= 4)
  }

  test("clustering a partitioned table clusters WITHIN partitions") {
    val root = freshRoot("cluster-part")
    val docs = fixture.withColumn("lang",
      concat(lit("l"), (col("doc_id") % 3).cast("string")))
    docs.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    // adopted layouts flip to the stats-bearing single-relation layout on
    // their first overwrite — which cluster IS
    val before = checksum(TxLog.read(spark, root))
    TxLog.cluster(spark, root, Seq("doc_id", "m"), targetFiles = 4)
    val snap = TxLog.snapshot(root).get
    assert(snap.partCols.map(_._1) === Seq("lang"))
    assert(checksum(TxLog.read(spark, root)) === before)
    // partition + clustered-column predicates compose in one prune
    val hi = docs.agg(max("doc_id")).head().getLong(0)
    val (k, t) = TxLog.pruneEntries(spark, snap,
      s"lang = 'l1' AND doc_id >= ${hi / 2} AND doc_id < ${hi / 2 + math.max(hi / 20, 1)}")
    assert(k.nonEmpty && k.size < t / 2)
    assert(k.forall(_.part.exists(_.contains("l1"))))
  }

  test("cluster rejects bad keys loudly") {
    val root = freshRoot("cluster-bad")
    TxLog.init(spark, root, fixture)
    intercept[IllegalArgumentException] {
      TxLog.cluster(spark, root, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      TxLog.cluster(spark, root, Seq.empty)
    }
    val pRoot = freshRoot("cluster-badpart")
    val docs = fixture.withColumn("lang", lit("en"))
    docs.write.partitionBy("lang").parquet(pRoot)
    TxLog.adopt(spark, pRoot, Some("lang"))
    intercept[IllegalArgumentException] {
      TxLog.cluster(spark, pRoot, Seq("lang", "doc_id"))
    }
  }

  test("clusterIncremental folds ONLY the unsorted tail into a new " +
      "sorted generation; sorted generations carry byte-identical") {
    val root = freshRoot("cluster-inc")
    val big = spark.range(4000).toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 97).as("m"),
        md5(col("doc_id").cast("string").cast("binary")).as("text"))
    TxLog.init(spark, root, big)
    TxLog.cluster(spark, root, Seq("doc_id", "m"), targetFiles = 8)
    // an unsorted tail lands: two appends, one of them MoR-deleted from
    // (folding a DV'd tail file must apply AND purge the sidecar)
    def tail(a: Long, b: Long) = spark.range(a, b).toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 97).as("m"),
        md5(col("doc_id").cast("string").cast("binary")).as("text"))
    TxLog.appendOnce(spark, root, "t1", tail(4000, 4500))
    TxLog.appendOnce(spark, root, "t2", tail(4500, 5000))
    TxLog.deleteMoR(spark, root, col("doc_id") >= 4900)
    val pre = TxLog.snapshot(root).get
    val preZ = pre.entries.filter(_.path.startsWith("data/c-z"))
      .map(e => (e.path, e.size)).toSet
    val preTail = pre.entries.filterNot(_.path.startsWith("data/c-z"))
    assert(preZ.nonEmpty && preTail.nonEmpty)
    assert(preTail.exists(_.dv.isDefined),
      "fixture must include a DV'd tail file")
    val before = checksum(TxLog.read(spark, root))
    val v = TxLog.clusterIncremental(spark, root, Seq("doc_id", "m"),
      targetFiles = 4)
    assert(v === pre.version + 1)
    val after = TxLog.snapshot(root).get
    // the sorted generation carried by reference, byte-identical
    assert(preZ.subsetOf(after.entries.map(e => (e.path, e.size)).toSet),
      "the previous sorted generation must carry untouched")
    // the tail is gone: everything now lives in sorted generations,
    // and the fold purged the tail's deletion vector
    assert(after.entries.forall(_.path.startsWith("data/c-z")))
    assert(after.entries.filterNot(e => preZ((e.path, e.size)))
      .forall(_.dv.isEmpty))
    assert(checksum(TxLog.read(spark, root)) === before)
    // the new generation's footer intervals prune on BOTH dimensions
    val (k, t) = TxLog.pruneEntries(spark, after, "m < 5")
    assert(k.size <= t / 2, s"m band kept ${k.size}/$t across generations")
    assert(TxLog.readWhere(spark, root, "m < 5").count() ===
      TxLog.read(spark, root).filter(col("m") < 5).count())
    // layout maintenance is invisible to the change feed
    assert(TxLog.readChanges(spark, root, v - 1, v).count() === 0L)
    // no unsorted tail → metadata-only no-op
    assert(TxLog.clusterIncremental(spark, root, Seq("doc_id", "m")) === v)
    // a DIFFERENT column set is a different signature: those files are
    // all tail again (generations are per-clustering, never shared)
    val v2 = TxLog.clusterIncremental(spark, root, Seq("m"))
    assert(v2 === v + 1)
    assert(checksum(TxLog.read(spark, root)) === before)
  }

  test("clusterIncremental restages only a fixed tail at 4 and 32 " +
      "sorted files, every sorted file carrying; a full cluster restages " +
      "every file") {
    val rowsPerFile = 500L
    def frame(a: Long, b: Long) = spark.range(a, b).toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 97).as("m"),
        md5(col("doc_id").cast("string").cast("binary")).as("text"))
    def ids(s: TxLog.Snapshot) = s.entries.map(e => (e.path, e.size)).toSet
    // Returns (files the full cluster restaged, files the fold restaged).
    def restaged(nFiles: Int): (Int, Int) = {
      val root = freshRoot(s"cluster-scale-$nFiles")
      TxLog.init(spark, root,
        frame(0L, nFiles * rowsPerFile).repartition(nFiles, col("doc_id")))
      val loaded = TxLog.snapshot(root).get
      assert(loaded.entries.size === nFiles)
      TxLog.cluster(spark, root, Seq("doc_id", "m"), targetFiles = nFiles)
      val sorted = ids(TxLog.snapshot(root).get)
      // the same 400-row tail at both sizes
      TxLog.appendOnce(spark, root, "tail", frame(1000000L, 1000400L))
      val pre = TxLog.snapshot(root).get
      TxLog.clusterIncremental(spark, root, Seq("doc_id", "m"), targetFiles = 2)
      val after = ids(TxLog.snapshot(root).get)
      assert(sorted.subsetOf(after),
        "every sorted-generation file must carry byte-identical")
      assert(TxLog.read(spark, root).count() === nFiles * rowsPerFile + 400L)
      (loaded.entries.count(e => !sorted((e.path, e.size))),
        pre.entries.count(e => !after((e.path, e.size))))
    }
    val (full, fold) = restaged(4)
    val (full8, fold8) = restaged(32)
    assert(full === 4 && full8 === 32)
    assert(fold >= 1 && fold8 === fold, s"fold restaged $fold / $fold8")
  }

  test("clusterIncremental is the bootstrap too, composes with column " +
      "mapping, and routes through OPTIMIZE ... INCREMENTAL") {
    val root = freshRoot("cluster-inc-map")
    TxLog.init(spark, root, fixture)
    // bootstrap: never fully clustered → the whole table is the tail
    val v1 = TxLog.clusterIncremental(spark, root, Seq("doc_id", "m"),
      targetFiles = 8)
    assert(TxLog.snapshot(root).get.entries
      .forall(_.path.startsWith("data/c-z")))
    // a rename puts column mapping in play; the next incremental is a
    // PHYSICAL rewrite — mapping carries, logical names keep working
    TxLog.renameColumn(spark, root, "text", "body")
    TxLog.appendOnce(spark, root, "t1",
      spark.range(100000, 100500).toDF("doc_id")
        .select(col("doc_id"), (col("doc_id") % 97).as("m"),
          md5(col("doc_id").cast("string").cast("binary")).as("body")))
    val before = TxLog.read(spark, root).agg(
      count(lit(1)), sum((col("doc_id") + 1) * col("m")),
      sum(length(col("body")))).head().toSeq
    val v2 = SqlSurface.TxSql.sql(spark,
      s"OPTIMIZE txlog.`$root` TARGET 4 ZORDER BY (doc_id, m) INCREMENTAL")
      .head().getLong(0)
    assert(v2 > v1 + 1) // rename committed in between
    val snap = TxLog.snapshot(root).get
    assert(snap.mapping.nonEmpty, "incremental cluster must carry the mapping")
    assert(snap.entries.forall(_.path.startsWith("data/c-z")))
    assert(TxLog.read(spark, root).columns.toSeq ===
      Seq("doc_id", "m", "body"))
    assert(TxLog.read(spark, root).agg(
      count(lit(1)), sum((col("doc_id") + 1) * col("m")),
      sum(length(col("body")))).head().toSeq === before)
  }

  test("clusterIncremental on a partitioned table: partition tags " +
      "survive the fold and compose with clustered-column pruning") {
    val root = freshRoot("cluster-inc-part")
    val docs = fixture.withColumn("lang",
      concat(lit("l"), (col("doc_id") % 3).cast("string")))
    docs.write.partitionBy("lang").parquet(root)
    TxLog.adopt(spark, root, Some("lang"))
    TxLog.cluster(spark, root, Seq("doc_id", "m"), targetFiles = 4)
    // a tail lands in every partition
    val tail = spark.range(100000, 100900).toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 97).as("m"),
        md5(col("doc_id").cast("string").cast("binary")).as("text"),
        concat(lit("l"), (col("doc_id") % 3).cast("string")).as("lang"))
    TxLog.appendOnce(spark, root, "t1", tail)
    val pre = TxLog.snapshot(root).get
    val preZ = pre.entries.filter(_.path.startsWith("data/c-z"))
      .map(e => (e.path, e.size)).toSet
    val before = checksum(TxLog.read(spark, root))
    val v = TxLog.clusterIncremental(spark, root, Seq("doc_id", "m"),
      targetFiles = 4)
    assert(v === pre.version + 1)
    val after = TxLog.snapshot(root).get
    assert(after.partCols.map(_._1) === Seq("lang"))
    assert(preZ.subsetOf(after.entries.map(e => (e.path, e.size)).toSet))
    assert(after.entries.forall(_.path.startsWith("data/c-z")))
    // every folded file carries a decodable partition tag
    assert(after.entries.forall(_.part.isDefined))
    assert(checksum(TxLog.read(spark, root)) === before)
    // partition + clustered-column predicates compose in one prune
    val (k, t) = TxLog.pruneEntries(spark, after,
      "lang = 'l1' AND doc_id >= 100000")
    assert(k.nonEmpty && k.size < t,
      s"partition+range prune kept ${k.size}/$t")
    assert(k.forall(_.part.exists(_.contains("l1"))))
    assert(TxLog.readWhere(spark, root,
      "lang = 'l1' AND doc_id >= 100000").count() ===
      tail.filter(col("lang") === "l1").count())
  }

  test("cluster handles null-bearing and string keys") {
    val root = freshRoot("cluster-nulls")
    val df = fixture
      .withColumn("maybe", when(col("doc_id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("doc_id") * 31 % 1000))
      .withColumn("tag", concat(lit("t"), lpad((col("m") % 50).cast("string"), 3, "0")))
    TxLog.init(spark, root, df)
    val before = df.count()
    TxLog.cluster(spark, root, Seq("tag", "maybe"), targetFiles = 8)
    assert(TxLog.read(spark, root).count() === before)
    // string-key band prunes
    val snap = TxLog.snapshot(root).get
    val (k, t) = TxLog.pruneEntries(spark, snap, "tag < 't005'")
    assert(k.size < t)
    assert(TxLog.readWhere(spark, root, "tag < 't005'").count() ===
      df.filter(col("tag") < "t005").count())
  }

  /** Distinct sorted-generation directories in the current manifest. */
  private def generations(root: String): Int =
    TxLog.snapshot(root).get.entries.iterator
      .filter(_.path.startsWith("data/c-z"))
      .map(_.path.split('/')(1)).toSet.size

  test("clusterIncremental folds a sorted-generation file that acquired " +
      "a deletion vector (DV purged, dead rows reclaimed, no full rewrite)") {
    val root = freshRoot("cluster-inc-dv")
    TxLog.init(spark, root, fixture)
    TxLog.cluster(spark, root, Seq("doc_id", "m"), targetFiles = 6)
    // a MoR delete lands ON a sorted file: the layout is untouched but
    // the entry now carries a sidecar — path-prefix victim selection
    // alone would never fold it (no unsorted tail → no-op forever)
    TxLog.deleteMoR(spark, root, col("doc_id") % 11 === 0)
    val pre = TxLog.snapshot(root).get
    val dvd = pre.entries.filter(_.dv.isDefined)
    assert(dvd.nonEmpty && dvd.forall(_.path.startsWith("data/c-z")),
      "fixture must put the DV on sorted-generation files")
    val untouched = pre.entries.filter(_.dv.isEmpty)
      .map(e => (e.path, e.size)).toSet
    val before = checksum(TxLog.read(spark, root))
    val v = TxLog.clusterIncremental(spark, root, Seq("doc_id", "m"),
      targetFiles = 4)
    assert(v === pre.version + 1, "the DV'd sorted files must be victims")
    val after = TxLog.snapshot(root).get
    // DV-less sorted files carry by reference; the DV'd ones restage
    // with the sidecar applied and purged
    assert(untouched.subsetOf(after.entries.map(e => (e.path, e.size)).toSet))
    assert(after.entries.forall(_.dv.isEmpty), "the fold must purge DVs")
    assert(checksum(TxLog.read(spark, root)) === before)
    // nothing left to fold: metadata-only no-op
    assert(TxLog.clusterIncremental(spark, root, Seq("doc_id", "m")) === v)
  }

  test("maxGenerations bounds the LSM shape: the fold that would exceed " +
      "it promotes to a full cluster (major compaction), exactly at the bound") {
    val root = freshRoot("cluster-inc-gen")
    def batch(a: Long, b: Long) = spark.range(a, b).toDF("doc_id")
      .select(col("doc_id"), (col("doc_id") % 97).as("m"),
        md5(col("doc_id").cast("string").cast("binary")).as("text"))
    TxLog.init(spark, root, batch(0, 2000))
    // bootstrap fold → generation 1; two more appends+folds → 2, 3
    (1 to 3).foreach { i =>
      if (i > 1) TxLog.appendOnce(spark, root, s"t$i",
        batch(2000L * (i - 1), 2000L * i))
      TxLog.clusterIncremental(spark, root, Seq("doc_id", "m"),
        targetFiles = 8, maxGenerations = 3)
      assert(generations(root) === i,
        s"run $i must land as its own generation")
    }
    val preEntries = TxLog.snapshot(root).get.entries
      .map(e => (e.path, e.size)).toSet
    // run 4 would leave 4 generations > bound 3: it must promote to a
    // FULL cluster — one generation, every file restaged
    TxLog.appendOnce(spark, root, "t4", batch(6000, 8000))
    TxLog.clusterIncremental(spark, root, Seq("doc_id", "m"),
      targetFiles = 8, maxGenerations = 3)
    assert(generations(root) === 1,
      "the bounded fold must collapse to one generation")
    val after = TxLog.snapshot(root).get
    assert(!after.entries.exists(e => preEntries((e.path, e.size))),
      "the major compaction restages everything")
    assert(checksum(TxLog.read(spark, root)) === checksum(batch(0, 8000)))
    // skipping quality holds after the compaction: both dimensions prune
    val (k, t) = TxLog.pruneEntries(spark, after, "m < 10")
    assert(k.size < t, s"m band kept ${k.size}/$t after the compaction")
  }
}
