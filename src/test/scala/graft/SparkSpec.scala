package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

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

  /** One query vector's [[Similarity.ivfProbe]] rows, probed as a
    * 1-row query table, as (id, score) ranked (score desc, id). */
  def ivfTop(path: String, qVec: Array[Float], k: Int, probes: Int = 1,
             predicate: Option[Column] = None): Seq[(Long, Double)] =
    Similarity.ivfProbe(spark, path,
        spark.createDataFrame(Seq((0L, qVec.toSeq))).toDF("qid", "qv"),
        "qid", "qv", k, probes, predicate)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      .sortBy { case (id, s) => (-s, id) }

  /** The Spark jobs `body` launches from this thread. A fence job on the
    * same thread runs last: the listener bus delivers events in order, so
    * once the fence's start arrives every earlier job has been counted. */
  def jobsLaunchedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val key = "graft.sparkSpec.jobs"
    val seen = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("body") => seen.incrementAndGet()
          case Some("fence") => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence job never reached the listener")
      seen.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
