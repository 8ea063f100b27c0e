package graft
/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (scripts/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev subset filter (same contract as Bench): comma-separated names;
    // unset = the full registry (what the driver runs)
    val defs = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"), SparkEntry.allDefs)
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    defs.foreach { d =>
      try d.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${d.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // per-query cache isolation
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = defs.collect { case QueryDef(k, _, Some(v)) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
