package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM-wide, never
  * stopped — sbt forks a single test JVM), built with the engine's
  * posture ([[GraftSession.builder]]) like every production session.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(Some("local[4]"), Some(4))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val Sf: String = "/root/testdata/sf0.001"

  /** Sets `kv` on `s` for `body`, then puts each key back as it was held
    * in `conf.getAll` (unset when it was not set).
    */
  protected def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> s.conf.getAll.get(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }
}
