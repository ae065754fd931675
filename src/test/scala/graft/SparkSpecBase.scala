package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (single forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.get("graft-test", "local[4]", 8)
  val sf: String = "/root/testdata/sf0.001"
  val sfMid: String = "/root/testdata/sf0.01"
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
  def sfMid: String = TestSpark.sfMid

  /** Run `body` with the session confs `kv` set, then restore them. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
