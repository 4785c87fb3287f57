package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts — the job-budget specs'
  * one counter.
  */
object JobCounter {
  private val Marker = "graft-job-count-marker"

  /** Every job started while `body` runs. After `body` a marker job runs;
    * listener events arrive in order, so once the marker's start is seen,
    * every earlier start has been.
    */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.put(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { d => assert(d != null, "marker job never seen"); d != Marker }
        .size
    } finally sc.removeSparkListener(listener)
  }
}
