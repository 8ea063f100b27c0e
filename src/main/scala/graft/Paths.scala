package graft

/** The one place fixed filesystem locations come from.
  *
  * `work` is the build's `target/` directory of the checkout the JVM runs
  * in: sbt forks tests and `runMain` with the checkout as working
  * directory, so every fixture, index and scratch table lands in its own
  * checkout and two checkouts never share state. It is resolved once and
  * absolute, because some of it leaves the JVM: the stk oracle SQL embeds
  * `Tables.StocksParquetDir` for DuckDB, which runs elsewhere.
  */
object Paths {

  /** Build output root for fixtures, indexes and scratch tables. */
  val work: String = new java.io.File("target").getAbsolutePath

  /** Read-only generated test tables, one directory per scale factor. */
  val testData: String = "/root/testdata"

  /** The test-table directory of scale factor `name`, e.g. `sf("sf0.01")`. */
  def sf(name: String): String = s"$testData/$name"

  /** The reference's stocks dataset (the stk queries' input). */
  val stocksZip: String = "/root/reference/stocks.csv.zip"
}
