package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one SparkSession per suite (lazy), from the
  * same factory as every main, at a small fixed local parallelism. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  val sfDir = "/root/testdata/sf0.001"

  /** The in-pass `maxGroupRows` guards raise from executor tasks via
    * `raise_error`, so the driver sees a SparkException chain rather
    * than a call-time require. Runs `body` (which must contain an
    * ACTION — the guard lives in the data pass) and asserts every
    * needle appears somewhere in the failure's cause-chain messages. */
  def interceptGuard(needles: String*)(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    needles.foreach(n => assert(msgs.contains(n), s"'$n' not in:\n$msgs"))
  }
}
