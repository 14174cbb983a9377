package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise), built by the same
  * factory and config Bench times, at a fixed 4 cores. A spec that stops it
  * hands later specs a new one.
  */
object TestSession {
  private var live: Option[SparkSession] = None

  def spark: SparkSession = synchronized {
    live.filterNot(_.sparkContext.isStopped).getOrElse {
      val s = GraftSession.build("graft-test", cpus = "4")
      live = Some(s)
      s
    }
  }

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sfDir: String = TestSession.sfDir
}
