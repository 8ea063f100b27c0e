package graft.operators

import graft.{Paths, SparkSpec}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Incremental rollup-store contract on the commit log: mergeability
  * (fold order cannot matter), effectively-once replays, fold ≡
  * recompute, tags committing atomically WITH their data, and crashed
  * commits staying invisible — the parts the s9/s11 oracle hashes
  * certify only for one fixed fold sequence. */
class RollupSpec extends SparkSpec {

  private def freshStore(tag: String): String = {
    val p = s"${Paths.work}/graft-maint-test/$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    p
  }

  private def snapshot(store: String): Set[String] =
    TxLog.read(spark, store).collect().map(_.toString).toSet

  test("fold order cannot matter: three permutations land the identical store") {
    val ev = Tables.events(spark, sf)
    def slice(r: Int) = ev.filter(expr("ts_us div 86400000000") % 3 === r)
    val stores = Seq(Seq(0, 1, 2), Seq(2, 0, 1), Seq(1, 2, 0)).zipWithIndex.map {
      case (order, i) =>
        val st = freshStore(s"order-$i")
        order.foreach(r => Rollup.fold(spark, st, slice(r), s"slice-$r"))
        snapshot(st)
    }
    assert(stores(0).nonEmpty)
    assert(stores(0) === stores(1))
    assert(stores(1) === stores(2))
  }

  test("fold == recompute, and a replayed tag is a no-op that changes nothing") {
    val ev = Tables.events(spark, sf)
    val st = freshStore("replay")
    def slice(r: Int) = ev.filter(expr("ts_us div 86400000000") % 3 === r)
    (0 to 2).foreach(r => assert(Rollup.fold(spark, st, slice(r), s"slice-$r")))
    val before = snapshot(st)
    val versionBefore = TxLog.currentVersion(st)
    // replays of every tag: all rejected, store untouched, NO new version
    (0 to 2).foreach(r => assert(!Rollup.fold(spark, st, slice(r), s"slice-$r")))
    assert(snapshot(st) === before)
    assert(TxLog.currentVersion(st) === versionBefore)
    // fold ≡ recompute: the store equals one-shot aggregation of everything
    val direct = Rollup.grain(ev).collect().map(_.toString).toSet
    assert(before === direct)
  }

  test("tag set commits atomically with the fold: no double-count window") {
    val ev = Tables.events(spark, sf)
    val st = freshStore("atomic-tag")
    def slice(r: Int) = ev.filter(expr("ts_us div 86400000000") % 3 === r)
    Rollup.fold(spark, st, slice(0), "slice-0")
    // the committed version must already carry its tag IN the manifest
    assert(Rollup.foldedTags(st) === Set("slice-0"))
    Rollup.fold(spark, st, slice(1), "slice-1")
    assert(Rollup.foldedTags(st) === Set("slice-0", "slice-1"))
    // a replay straight after the commit is refused by the in-manifest
    // tag set alone — there is no post-commit marker window
    assert(!Rollup.fold(spark, st, slice(1), "slice-1"))
    val direct = Rollup.grain(ev.filter(expr("ts_us div 86400000000") % 3 =!= 2))
      .collect().map(_.toString).toSet
    assert(snapshot(st) === direct)
  }

  test("hll sketch store: folded estimates stay in the 5% envelope; counts are fold-order exact") {
    val ev = Tables.events(spark, sf)
    def slice(r: Int) = ev.filter(expr("ts_us div 86400000000") % 3 === r)
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("x")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // two fold orders: the sketch BYTES may differ (HLL union promotion
    // paths are order-dependent) but the exact row counts must not, and
    // both stores' estimates must sit inside the envelope
    val ests = Seq(Seq(0, 1, 2), Seq(2, 0, 1)).zipWithIndex.map { case (order, i) =>
      val st = freshStore(s"hll-$i")
      order.foreach(r => Rollup.foldHll(spark, st, slice(r), s"slice-$r"))
      assert(!Rollup.foldHll(spark, st, slice(0), "slice-0")) // replay no-op
      TxLog.read(spark, st).groupBy("event_type")
        .agg(sum("n").as("n"),
          expr("hll_sketch_estimate(hll_union_agg(hll))").as("est")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(ests(0).view.mapValues(_._1).toMap === ests(1).view.mapValues(_._1).toMap)
    ests.foreach(_.foreach { case (et, (_, est)) =>
      assert(math.abs(est - exact(et)).toDouble <= exact(et) * 0.05,
        s"$et: est $est vs exact ${exact(et)}")
    })
  }

  test("a legacy _folded_tags store is refused, never silently shadowed") {
    val st = freshStore("legacy")
    val ev = Tables.events(spark, sf)
    // simulate a store written by the pre-txlog format: parquet data +
    // the _folded_tags sidecar, no _txlog manifest
    Rollup.grain(ev).write.parquet(st)
    java.nio.file.Files.write(java.nio.file.Paths.get(st, "_folded_tags"),
      "slice-0\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      Rollup.fold(spark, st, ev.limit(10), "slice-1")
    }
    assert(e.getMessage.contains("legacy"))
    assert(!new java.io.File(s"$st/_txlog").exists(),
      "refusal must not have initialized a shadowing log")
  }

  test("a crashed commit stays invisible: staged-but-unpublished data never reads") {
    val ev = Tables.events(spark, sf)
    val st = freshStore("crashed")
    def slice(r: Int) = ev.filter(expr("ts_us div 86400000000") % 3 === r)
    Rollup.fold(spark, st, slice(0), "slice-0")
    val before = snapshot(st)
    // simulate a fold that died between staging its data and publishing
    // its manifest: an orphan data/c-* directory with real parquet in it
    Rollup.grain(slice(1)).write.parquet(s"$st/data/c-deadbeef0000")
    // readers see exactly the committed version — the orphan is unreachable
    assert(snapshot(st) === before)
    // the retry (same tag, fresh staging) folds exactly once
    assert(Rollup.fold(spark, st, slice(1), "slice-1"))
    val want = Rollup.grain(ev.filter(expr("ts_us div 86400000000") % 3 =!= 2))
      .collect().map(_.toString).toSet
    assert(snapshot(st) === want)
    // and the orphan is vacuum-able once quiescent
    assert(TxLog.vacuum(st, graceMs = 0L) === 1)
    assert(snapshot(st) === want)
  }
}
