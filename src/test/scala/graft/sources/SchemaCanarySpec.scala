package graft.sources

import graft.{Paths, SparkSpec}

/** Canary for driver-side testdata drift.
  *
  * The generated tables under `Paths.testData` are regenerated by the harness
  * and their physical schemas have drifted between rounds (events.ts shipped
  * first as parquet TIMESTAMP(NANOS), later as TIMESTAMP(MICROS)); a drift
  * otherwise surfaces as dozens of scattered query failures. This suite
  * fails with ONE precise message naming the drifted column instead, and
  * documents which vintages the loaders are expected to absorb.
  */
class SchemaCanarySpec extends SparkSpec {

  private val expected: Map[String, Map[String, Set[String]]] = Map(
    "region" -> Map("r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Map("n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Map("c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Map("s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Map("p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Map("o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      // timestamp_ntz is the shipped vintage; a DATE flip would need a
      // coordinated Spark+oracle change, so flag it loudly here
      "o_orderdate" -> Set("timestamp_ntz", "date"),
      "o_orderpriority" -> Set("string")),
    "lineitem" -> Map("l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> Set("timestamp_ntz", "date")),
    // ts: bigint = the nanosAsLong read of TIMESTAMP(NANOS); timestamp_ntz =
    // native TIMESTAMP(MICROS). Tables.events normalizes both vintages.
    "events" -> Map("event_id" -> Set("bigint"),
      "ts" -> Set("bigint", "timestamp_ntz"), "user_id" -> Set("bigint"),
      "event_type" -> Set("string"), "value" -> Set("double"),
      "props" -> Set("string")),
    "documents" -> Map("doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Map("vec_id" -> Set("bigint"),
      "embedding" -> Set("array<float>"), "label" -> Set("int")))

  test("testdata schemas match a loader-supported vintage") {
    withSQLConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val drift = expected.toSeq.sortBy(_._1).flatMap { case (t, cols) =>
        val got = Tables.table(spark, sf, t).schema
          .map(f => f.name -> f.dataType.simpleString).toMap
        val missing = cols.keySet -- got.keySet
        val extra = got.keySet -- cols.keySet
        val wrong = cols.collect {
          case (c, ok) if got.contains(c) && !ok(got(c)) => s"$t.$c is ${got(c)}, loaders support $ok"
        }
        missing.map(c => s"$t.$c MISSING") ++ extra.map(c => s"$t.$c UNEXPECTED new column") ++ wrong
      }
      assert(drift.isEmpty, s"TESTDATA SCHEMA DRIFT — update loaders/oracles:\n  ${drift.mkString("\n  ")}")
    }
  }

  test("events normalization yields the documented contract at every sf") {
    for (dir <- Seq(Paths.sf("sf0.001"), Paths.sf("sf0.01"))) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType.typeName === "timestamp", dir)
      assert(ev.schema("ts_us").dataType.typeName === "long", dir)
      // ts is exactly the µs timestamp ts_us denotes
      import org.apache.spark.sql.functions._
      assert(ev.filter(unix_micros(col("ts")) =!= col("ts_us")).count() === 0, dir)
    }
  }
}
