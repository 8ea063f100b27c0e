package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Small-files compaction: preservation, merging, idempotence, atomic
  * layout, partition-awareness. */
class CompactionSpec extends SparkSpec {

  private def stage(n: Int): String = {
    val dir = freshRoot("compact-test")
    Tables.documents(spark, sf).select("doc_id", "text")
      .repartition(n).write.parquet(dir)
    dir
  }

  private def files(dir: String) =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))

  test("compact merges files and preserves the exact row multiset") {
    val dir = stage(32)
    val before = spark.read.parquet(dir).cache()
    val wantRows = before.count()
    assert(files(dir).length === 32)

    val stats = Compaction.compact(spark, dir, targetFiles = 3)
    assert(stats.filesBefore === 32)
    assert(stats.filesAfter <= 3 && stats.filesAfter >= 1)
    assert(files(dir).length === stats.filesAfter)

    val after = spark.read.parquet(dir)
    assert(after.count() === wantRows)
    assert(after.exceptAll(before).count() === 0)
    assert(before.exceptAll(after).count() === 0)
    before.unpersist()
  }

  test("compact is a no-op when already at or below the target") {
    val dir = stage(2)
    val stats = Compaction.compact(spark, dir, targetFiles = 4)
    assert(stats.filesBefore === 2 && stats.filesAfter === 2)
    // and repeated compaction does not churn the layout
    val again = Compaction.compact(spark, dir, targetFiles = 4)
    assert(again.filesBefore === again.filesAfter)
  }

  test("byte policy plans ceil(total/target) with floor 1") {
    val dir = stage(8)
    val total = files(dir).map(_.length).sum
    assert(Compaction.planTargetFiles(dir, total + 1) === 1)
    assert(Compaction.planTargetFiles(dir, (total / 3).max(1)) >= 3)
  }

  test("no temp/old directories survive a compaction") {
    val dir = stage(16)
    Compaction.compact(spark, dir, targetFiles = 2)
    assert(!new java.io.File(dir + ".compact-tmp").exists())
    assert(!new java.io.File(dir + ".compact-old").exists())
  }

  test("a crash between the two swap renames recovers on the next entry") {
    val dir = stage(16)
    val before = spark.read.parquet(dir).cache()
    val wantRows = before.count()

    // Simulate the torn state: live dir moved aside, replacement never
    // moved in, plus leftover tmp garbage — the exact single-crash window
    // between swapInPlace's two ATOMIC_MOVEs.
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir), java.nio.file.Paths.get(dir + ".compact-old"))
    new java.io.File(dir + ".compact-tmp").mkdirs()
    assert(!new java.io.File(dir).exists())

    // The next maintenance entry rolls the old copy back, drops the
    // garbage, and proceeds normally.
    val stats = Compaction.compact(spark, dir, targetFiles = 2)
    assert(stats.filesBefore === 16)
    assert(!new java.io.File(dir + ".compact-old").exists())
    assert(!new java.io.File(dir + ".compact-tmp").exists())
    val after = spark.read.parquet(dir)
    assert(after.count() === wantRows)
    assert(after.exceptAll(before).count() === 0)
    before.unpersist()
  }

  test("partitioned compaction merges within partitions, keeps the scheme") {
    val root = freshRoot("compact-part")
    Tables.documents(spark, sf).select("doc_id", "text", "lang")
      .repartition(12).write.partitionBy("lang").parquet(root)
    val partsBefore = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("lang=")).map(_.getName).sorted
    val before = spark.read.parquet(root).cache()
    val wantRows = before.count()

    val stats = Compaction.compactPartitioned(spark, root, targetFiles = 1)
    assert(stats.map(_._1).sorted === partsBefore.toSeq)
    stats.foreach { case (p, st) => assert(st.filesAfter <= st.filesBefore, p) }

    val partsAfter = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("lang=")).map(_.getName).sorted
    assert(partsAfter.toSeq === partsBefore.toSeq)
    val after = spark.read.parquet(root)
    assert(after.count() === wantRows)
    assert(after.exceptAll(before).count() === 0)
    // partition pruning still works on the compacted layout
    val one = partsBefore.head.stripPrefix("lang=")
    assert(after.filter(col("lang") === one).count() ===
      before.filter(col("lang") === one).count())
    before.unpersist()
  }

  test("recovery only touches the reserved swap suffixes, never look-alike siblings") {
    val dir = stage(4)
    // a neighboring directory whose NAME merely ends in "-old" (e.g. a
    // hive partition whose value contains dots/dashes) is not ours to
    // delete or roll over the live dir
    val bystander = new java.io.File(dir + ".archive-old")
    bystander.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(bystander.getAbsolutePath, "keep.txt"),
      "precious".getBytes("UTF-8"))
    Compaction.compact(spark, dir, targetFiles = 2)
    assert(new java.io.File(bystander, "keep.txt").exists(),
      "recovery deleted an unrelated sibling directory")
    // and with the live dir ABSENT, the bystander must not be "rolled back"
    val dir2 = stage(2)
    val by2 = new java.io.File(dir2 + ".snapshot-old")
    java.nio.file.Files.move(java.nio.file.Paths.get(dir2), by2.toPath)
    assert(!new java.io.File(dir2).exists())
    Compaction.recoverSwap(dir2)
    assert(!new java.io.File(dir2).exists(), "bystander was moved over the live path")
    assert(by2.exists())
  }
}
