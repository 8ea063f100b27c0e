package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * `SparkSession.builder.getOrCreate` dedups across suites). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = Paths.sf("sf0.001")

  /** Run `f` with the given SQL confs set, restoring prior values after —
    * the session is JVM-shared across suites, so tests must not leak confs. */
  def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A fresh scratch root `<tag>-<nanoTime>` under [[Paths.work]]. */
  def freshRoot(tag: String): String =
    s"${Paths.work}/$tag-${System.nanoTime()}"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.build("graft-test", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
