package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Small synthetic events table matching the testdata schema
    * (event_id, user_id, ts, event_type, value, props). */
  def eventsDf(rows: Seq[(Long, Long, String, String, Double, String)])
      : DataFrame = {
    import spark.implicits._
    rows.map { case (id, u, t, ty, v, p) => (id, u, ts(t), ty, v, p) }
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
  }

  /** documents-shaped frame. */
  def docsDf(rows: Seq[(Long, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Spark jobs launched while `body` runs, counted by a listener
    * once every event posted so far is delivered. Events of earlier
    * jobs are delivered before the listener is added, so they are not
    * counted. */
  def countJobs(body: => Unit): Int = {
    org.apache.spark.SpecProbe.drain(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.SpecProbe.drain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** embeddings-shaped frame. */
  def embDf(rows: Seq[(Long, Seq[Float], Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create("4")
}
