package graft.sources

import graft.{Paths, SparkSpec}
import org.apache.spark.sql.functions._

/** Data-layout pipeline utilities a 100 TB corpus needs around the engine:
  * stratified sampling (training-mix construction) and small-file
  * compaction (the perpetual maintenance job of file-based tables). */
class LayoutSpec extends SparkSpec {

  test("stratified sample holds per-stratum fractions (seeded, reproducible)") {
    val docs = Tables.documents(spark, sf).cache()
    val fractions = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 1.0, "es" -> 0.0, "zh" -> 0.1)
    val s1 = docs.stat.sampleBy("lang", fractions, seed = 42L).cache()
    // reproducible under the same seed
    val s2 = docs.stat.sampleBy("lang", fractions, seed = 42L)
    assert(s1.exceptAll(s2).count() === 0 && s2.exceptAll(s1).count() === 0)
    // per-stratum counts track the requested fractions (Bernoulli bounds)
    val base = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    fractions.foreach { case (lang, f) =>
      val n = base(lang)
      val k = got.getOrElse(lang, 0L)
      val tol = 4 * math.sqrt(n * f * (1 - f)) + 1 // ±4σ
      assert(math.abs(k - n * f) <= tol, s"$lang: $k of $n at f=$f")
    }
    // excluded stratum contributes nothing
    assert(got.getOrElse("es", 0L) === 0L)
  }

  test("compaction: many small files rewritten to target file count, content identical") {
    val li = Tables.lineitem(spark, sf)
    val fragmented = s"${Paths.work}/compact-in"
    val compacted = s"${Paths.work}/compact-out"
    li.repartition(64).write.mode("overwrite").parquet(fragmented)

    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(fragmented) === 64)

    // the compaction job: read, coalesce to the target, rewrite
    spark.read.parquet(fragmented).coalesce(2)
      .write.mode("overwrite").parquet(compacted)
    assert(parquetFiles(compacted) === 2)
    val a = spark.read.parquet(fragmented)
    val b = spark.read.parquet(compacted)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }
}
