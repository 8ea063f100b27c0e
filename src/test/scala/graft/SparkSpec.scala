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

  /** A fresh scratch root `<tag>-<nanoTime>` under [[Paths.work]],
    * deleted when the test JVM exits. */
  def freshRoot(tag: String): String = {
    val root = s"${Paths.work}/$tag-${System.nanoTime()}"
    SparkSpec.roots.add(root)
    root
  }
}

object SparkSpec {
  /** Every scratch root handed out; one JVM shutdown hook removes them
    * all (the test JVM is forked, so it exits after the run). */
  private[graft] val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(roots.forEach(r =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))))

  lazy val session: SparkSession = {
    val s = GraftSession.build("graft-test", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
