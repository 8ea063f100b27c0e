package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a pass. `rows` is its input size (rows_per_s);
  * `kind` groups latencies (query, read, commit, stream). */
final case class Op(name: String, kind: String, rows: Long)(val body: Ctx => Unit)

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Benchmark-side fault injection for the self-test: `corrupt` alters an
  * op's expected value, `throw` makes the op throw before it starts,
  * `sleep` adds `arg` seconds inside the op's timing. */
final case class Inject(kind: String, op: String, arg: Double) {
  def hits(kind0: String, name: String): Boolean = kind == kind0 && op == name
}

object Inject {
  def parse(s: String): Option[Inject] = s.split(":") match {
    case Array(k, op) => Some(Inject(k, op, 0.0))
    case Array(k, op, a) => Some(Inject(k, op, a.toDouble))
    case _ => None
  }
}

/** Named samples a pass reports besides op latencies (stream trigger
  * times, TxLog call times and counters, Spark phase times). */
final class Samples {
  val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = synchronized {
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def get(name: String): Seq[Double] = synchronized(values.get(name).map(_.toSeq).getOrElse(Nil))
}

/** What an op sees: the session, its span tracer and its sample sink. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val samples: Samples,
    val opId: Int, val op: Op, inject: Option[Inject]) {

  /** Build a DataFrame through the operator (layer `build`), force its
    * physical plan (layer `plan`), then run the action (layer `exec`). */
  def frame[T](build: => DataFrame)(act: DataFrame => T): T = {
    val df = tracer.span("build", opId, op.name)(build)
    tracer.span("plan", opId, op.name)(df.queryExecution.executedPlan)
    tracer.span("exec", opId, op.name)(act(df))
  }

  /** An operator call that does its work eagerly (a commit, a stream). */
  def call[T](layer: String)(f: => T): T = tracer.span(layer, opId, op.name)(f)

  private def corrupt: Boolean = inject.exists(_.hits("corrupt", op.name))

  def expect(what: String, got: Any, want: Any): Unit = {
    val w = if (corrupt) s"corrupted($want)" else want
    if (got != w) throw new CheckFailed(s"${op.name}: $what = $got, expected $w")
  }

  /** Float compare at the differential oracle's tolerance (1e-9 relative). */
  def expectClose(what: String, got: Double, want: Double): Unit = {
    val w = if (corrupt) want + 1.0 else want
    if (math.abs(got - w) > 1e-9 * math.max(1.0, math.max(math.abs(got), math.abs(w))))
      throw new CheckFailed(s"${op.name}: $what = $got, expected $w")
  }
}

/** A workload: seeded inputs and fixtures built in `setup`, then passes
  * of ops, each pass starting from the same state under a fresh dir. */
trait Workload {
  def name: String
  /** Input sizes, printed with every run. */
  def sizes: Seq[(String, Any)]
  /** About how long one warm pass takes on a 4-core host. A run measures
    * round(seconds / passSeconds) passes, at least two: a count fixed by
    * `--seconds`, so every run has the same number of samples. */
  def passSeconds: Double
  /** Untimed passes before measuring, so codegen and the JIT are warm. */
  def warmPasses: Int
  /** Generate inputs under `dir`, build fixtures, compute expected results. */
  def setup(spark: SparkSession, dir: java.io.File): Unit
  /** The ops of one pass; `passDir` is empty and private to the pass. */
  def ops(spark: SparkSession, passDir: java.io.File): Seq[Op]
}
