package graft

/** Dev-only plan dumper (not part of the driver contract): prints the
  * physical plan of each named registered query against a testdata dir —
  * the source of the PLANS.md audit sections.
  *
  * Usage: runMain graft.Explain <name> [<name> ...]
  * (env SPARK_GRAFT_SF_DIR overrides the default sf0.01 dir;
  *  env SPARK_GRAFT_PLAN_DIR, when set, additionally writes each query's
  *  explain("formatted") text to <dir>/<name>.txt — the optimization
  *  rounds' plans/rNN before/after evidence;
  *  env SPARK_GRAFT_PLAN_SUFFIX appends to the file stem, e.g. "_before")
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Paths.sf("sf0.01"))
    val spark = GraftSession.build("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    planDir.foreach(d => new java.io.File(d).mkdirs())
    val qs = SparkEntry.queries ++
      SparkEntry.benchOnlyDefs.map(d => d.name -> d.run).toMap
    for (name <- args) {
      println(s"\n## $name\n")
      qs.get(name) match {
        case Some(run) =>
          val qe = run(spark, sfDir).queryExecution
          println(qe.executedPlan.toString)
          planDir.foreach { d =>
            val txt = qe.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val f = new java.io.PrintWriter(s"$d/$name$suffix.txt")
            try f.write(txt) finally f.close()
          }
        case None => println(s"(unknown query: $name)")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
