package graft.operators

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Small-files compaction — the lakehouse maintenance sink (S-family
  * extension). Streaming ingest, per-partition appends (IvfIndex.appendIvf,
  * SigIndex.append), and fine-grained backfills all accrete many small
  * parquet files; at 100 TB the resulting footer/open overhead and
  * sub-row-group reads dominate scan cost long before data volume does.
  * `compact` bin-packs a directory back to ~targetBytes files:
  *
  *  - planning is METADATA-ONLY (one file listing — no data read decides
  *    anything),
  *  - the rewrite is `coalesce`, not `repartition`: a merge of input
  *    splits with NO shuffle — the bytes stream through once,
  *  - the swap is write-to-temp + atomic directory rename
  *    ([[swapInPlace]] — see its contract for the single-writer
  *    assumption and what concurrent readers can observe),
  *  - partitioned layouts compact WITHIN each hive partition directory
  *    (the unit a 1000-executor job lists and prunes by), preserving the
  *    partition scheme and thus every downstream pruning plan.
  *
  * The oracled query (s5) stages the documents table as 64 deliberately
  * tiny files, compacts, and emits row count + an order-free id⊗bytes
  * checksum that the oracle computes from the ORIGINAL table — proving
  * the compacted copy is the same multiset of rows — plus the file-count
  * facts as exact constants (the fixture pins them deterministically).
  */
object Compaction {

  final case class CompactionStats(filesBefore: Int, filesAfter: Int, bytes: Long)

  /** Write-to-temp + atomic rename + cache invalidation — the swap
    * sequence for compacting PLAIN parquet directories (persisted index
    * layouts and other non-log state; TABLE state lives in [[TxLog]],
    * whose `TxLog.compact` is manifest-atomic and needs none of this).
    * Contract: single maintenance writer. Readers that already opened
    * files keep a consistent snapshot; a directory LISTING in the
    * instant between the two renames sees the path absent — never a
    * mixed old/new file set. The final `refreshByPath` is load-bearing:
    * Spark caches plans and file listings by path, and without it a
    * post-swap read silently serves the OLD table. */
  private[operators] def swapInPlace(spark: SparkSession, dir: String, tag: String)(
      write: String => Unit): Unit = {
    require(SwapTags.contains(tag), s"unknown swap tag $tag (recovery covers only $SwapTags)")
    val tmp = dir + s".$tag-tmp"
    val old = dir + s".$tag-old"
    recoverSwap(dir)
    write(tmp)
    Files.move(Paths.get(dir), Paths.get(old), StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(old))
    spark.catalog.refreshByPath(dir)
  }

  /** Crash recovery for [[swapInPlace]] (still single-writer): a prior
    * swap can die anywhere in write→move→move→delete. A stale `*-tmp` is
    * always garbage (it is rebuilt on the next swap). A stale `*-old`
    * means the prior swap broke either between the two ATOMIC_MOVEs (live
    * dir missing → roll the old copy back: no new version was committed,
    * the pre-swap table is the truth) or after the second move (live dir
    * present → old is just the orphaned previous version). Either way the
    * live path is restored and the leftovers can never make a later
    * swap's first Files.move throw. Every maintenance ENTRY POINT calls
    * this — not just the swap itself — because compact's nothing-to-do
    * early return would otherwise read a torn directory as truth. */
  /** The complete tag namespace swaps may use. recoverSwap deletes/moves
    * ONLY siblings carrying exactly these suffixes — matching any
    * `*-old`/`*-tmp` name would let an unrelated neighboring directory
    * (e.g. a hive partition whose VALUE happens to end in "-old") be
    * silently destroyed or rolled over the live dir. The suffix
    * `.compact-{old,tmp}` is therefore a reserved name next to any
    * maintained directory. (upsert/delete/rollup tags are gone — those
    * sinks now commit through [[TxLog]].) */
  private val SwapTags = Set("compact")

  private[operators] def recoverSwap(dir: String): Unit = {
    val d = new java.io.File(dir)
    val suffixes = for (t <- SwapTags; k <- Seq("old", "tmp"))
      yield s"${d.getName}.$t-$k"
    val parent = Option(d.getParentFile).getOrElse(return)
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => suffixes.contains(f.getName))
      .sortBy(_.getName) // -old before -tmp: roll back, then drop garbage
      .foreach { f =>
        if (f.getName.endsWith("-old") && !d.exists())
          Files.move(f.toPath, d.toPath, StandardCopyOption.ATOMIC_MOVE)
        else org.apache.commons.io.FileUtils.deleteQuietly(f)
      }
  }

  private def dataFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
  }

  /** Compact one directory of parquet files to `targetFiles` outputs
    * (callers wanting a byte policy use [[planTargetFiles]]). */
  def compact(spark: SparkSession, dir: String, targetFiles: Int): CompactionStats = {
    recoverSwap(dir)
    val before = dataFiles(dir)
    val totalBytes = before.map(_.length).sum
    val n = targetFiles.max(1)
    if (before.size <= n) return CompactionStats(before.size, before.size, totalBytes)
    swapInPlace(spark, dir, "compact") { tmp =>
      spark.read.parquet(dir).coalesce(n)
        .write.mode("overwrite").parquet(tmp)
    }
    CompactionStats(before.size, dataFiles(dir).size, totalBytes)
  }

  /** The byte policy: ceil(totalBytes / targetBytes), floor 1. */
  def planTargetFiles(dir: String, targetBytes: Long): Int = {
    val total = dataFiles(dir).map(_.length).sum
    (((total + targetBytes - 1) / targetBytes).toInt).max(1)
  }

  /** Partition-aware form: compact each hive partition directory
    * independently (planning stays metadata-only; partition dirs with few
    * files are left untouched, so repeated runs are cheap no-ops). */
  def compactPartitioned(spark: SparkSession, root: String, targetFiles: Int): Seq[(String, CompactionStats)] = {
    val parts = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains("=")).toSeq.sortBy(_.getName)
    parts.map(p => p.getName -> compact(spark, p.getAbsolutePath, targetFiles))
  }

  /** Once-per-JVM fixture: the documents table shattered into 64 files. */
  private val FixtureFiles = 64
  private val TargetFiles = 4
  private def ensureFixture(s: SparkSession, dir: String): String = synchronized {
    val out = s"${graft.Paths.work}/compact-fixture-${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    if (!new java.io.File(s"$out/_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      Tables.documents(s, dir).select("doc_id", "text")
        .repartition(FixtureFiles)
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  val defs: Seq[QueryDef] = Seq(
    // S5: compaction preserves the data and actually merges the files.
    // rows/checksum come from the COMPACTED copy but the oracle computes
    // them from the original table — the hash match proves the rewrite
    // kept the exact row multiset. File counts ride as verdict booleans
    // (the a8b pattern) because coalesce guarantees ≤ target, not ==:
    // Spark may pack the 64 tiny inputs into fewer read splits than the
    // target, and how many is an I/O-conf detail, not a contract.
    QueryDef("s5_compaction",
      """SELECT CAST(count(*) AS BIGINT) AS rows,
        |       CAST(sum((doc_id + 1) * octet_length(encode(text))) AS BIGINT) AS ck,
        |       64 AS files_before, TRUE AS merged_to_target
        |FROM documents""".stripMargin) { (s, dir) =>
      val fixture = ensureFixture(s, dir)
      // re-shatter if a previous run already compacted the shared fixture
      if (dataFiles(fixture).size < FixtureFiles) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fixture))
        ensureFixture(s, dir)
      }
      val stats = compact(s, fixture, TargetFiles)
      s.read.parquet(fixture)
        .agg(count(lit(1)).cast("long").as("rows"),
          sum((col("doc_id") + 1) * length(col("text").cast("binary"))).cast("long").as("ck"))
        .select(col("rows"), col("ck"),
          lit(stats.filesBefore).as("files_before"),
          lit(stats.filesAfter >= 1 && stats.filesAfter <= TargetFiles).as("merged_to_target"))
    }
  )
}
