package graft.operators

import graft.{Paths, SparkSpec}
import graft.operators.Filters._
import graft.sources.Tables
import org.apache.spark.sql.functions._

class FilterSpec extends SparkSpec {

  private lazy val li = Tables.lineitem(spark, sf).cache()

  test("predicate builder matches a direct filter") {
    val direct = li.filter(col("l_quantity") >= 45).count()
    val viaBuilder = filterRows(li, Pred("l_quantity", Ge, 45)).count()
    assert(direct === viaBuilder)
    assert(direct > 0)
  }

  test("conjunction ≡ chained filters (reference F6 semantics)") {
    val a = Pred("l_extendedprice", Ge, 50000)
    val b = Pred("l_discount", Ge, 0.05)
    val chained = li.filter(a.toColumn).filter(b.toColumn).count()
    val conj = filterRows(li, a, b).count()
    assert(chained === conj)
  }

  test("selection vector marks without compacting (stockify.cu:89-122 shape)") {
    val marked = selectionVector(li, "pass", Pred("l_quantity", Ge, 45))
    assert(marked.count() === li.count()) // no rows dropped
    val nPass = marked.filter(col("pass")).count()
    assert(nPass === filterRows(li, Pred("l_quantity", Ge, 45)).count())
  }

  test("full predicate-class operators all work (stockify.cu:74-83)") {
    val n = li.count()
    for (op <- Seq(Eq, Ne, Gt, Ge, Lt, Le)) {
      val c = filterRows(li, Pred("l_linenumber", op, 3)).count()
      assert(c >= 0 && c <= n)
    }
    // partition: = and != are complementary
    val eq = filterRows(li, Pred("l_linenumber", Eq, 3)).count()
    val ne = filterRows(li, Pred("l_linenumber", Ne, 3)).count()
    assert(eq + ne === n)
    // >= is > plus =
    val gt = filterRows(li, Pred("l_linenumber", Gt, 3)).count()
    val ge = filterRows(li, Pred("l_linenumber", Ge, 3)).count()
    assert(ge === gt + eq)
  }

  test("filter is pushed down to the parquet scan") {
    // sf0.01 path: the sf0.001 relation is cached by this suite, and an
    // InMemoryTableScan (correctly) has no parquet PushedFilters.
    val plan = filterRows(
      Tables.lineitem(spark, Paths.sf("sf0.01")), Pred("l_quantity", Ge, 45))
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(l_quantity,45"),
      s"expected pushed filter in plan:\n$plan")
  }
}
