package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; one per suite (lazy). */
trait SparkSpecBase extends AnyFunSuite {
  /** Explain's recipe (local[4], 4 shuffle partitions), so spec plans
    * match the committed plans/ files; Harness.session also turns off
    * .crc sidecars, as at every entry point.
    */
  lazy val spark: SparkSession = Harness.session(cores = 4, partitions = 4)

  val sf: String = "/root/testdata/sf0.001"

  /** Scope session confs to `body`, restoring the previous value (or
    * unsetting) afterwards — the session is SHARED across suites
    * (getOrCreate), so any conf a test sets must be restored or it
    * leaks into every later suite.
    */
  def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
