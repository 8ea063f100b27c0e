package graft

/** Dev-only plan dumper (not part of the driver contract): prints the
  * physical plan of each named registered query against a testdata dir —
  * the source of the PLANS.md audit sections.
  *
  * Usage: runMain graft.Explain <name> [<name> ...]
  * (env SPARK_GRAFT_SF_DIR overrides the default sf0.1 dir;
  *  env SPARK_GRAFT_PLAN_DIR, when set, additionally writes each query's
  *  explain("formatted") text to <dir>/<name>.txt — the optimization
  *  rounds' plans/rNN before/after evidence, one dir per side)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = SparkEntry.sfDir
    val defs = SparkEntry.select(Some(args.mkString(",")))
    val spark = GraftSession.build("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    planDir.foreach(d => new java.io.File(d).mkdirs())
    for (d <- defs) {
      println(s"\n## ${d.name}\n")
      val qe = d.run(spark, sfDir).queryExecution
      println(qe.executedPlan.toString)
      planDir.foreach { dir =>
        val txt = qe.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val f = new java.io.PrintWriter(s"$dir/${d.name}.txt")
        try f.write(txt) finally f.close()
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
