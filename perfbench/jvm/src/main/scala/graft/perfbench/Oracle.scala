package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** The DuckDB oracle: `script` (perfbench/oracle.py), run by `python`,
  * runs each SQL query over views of the given Parquet directories and
  * returns every query's single result row. Runs in a child process,
  * inside setup. */
final class Oracle(python: String, script: String) {
  private val mapper = new ObjectMapper()

  def rows(tables: Map[String, String], queries: Seq[(String, String)]): Map[String, Seq[Any]] = {
    val req = mapper.createObjectNode()
    val t = req.putObject("tables")
    tables.foreach { case (k, v) => t.put(k, v) }
    val q = req.putObject("queries")
    queries.foreach { case (k, v) => q.put(k, v) }
    val p = new ProcessBuilder(python, script)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    try {
      val w = p.getOutputStream
      w.write(mapper.writeValueAsBytes(req))
      w.close()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val code = p.waitFor()
      require(code == 0, s"oracle exited with $code")
      val tree = mapper.readTree(out)
      queries.map { case (name, _) =>
        val row = tree.get(name)
        require(row != null && row.isArray, s"oracle returned no row for $name")
        name -> (0 until row.size).map { i =>
          val v = row.get(i)
          if (v.isIntegralNumber) v.asLong: Any
          else if (v.isNumber) v.asDouble: Any
          else if (v.isNull) null
          else v.asText: Any
        }
      }.toMap
    } finally {
      p.destroy()
      p.waitFor()
    }
  }
}
