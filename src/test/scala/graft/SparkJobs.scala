package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of code starts. */
object SparkJobs {

  /** Jobs Spark starts while `body` runs. */
  def during(spark: SparkSession)(body: => Unit): Int =
    propertiesDuring(spark)(body).size

  /** The local properties of each job Spark starts while `body` runs, in
    * start order. Sentinel jobs before and after bracket the window in
    * the listener bus's event order, so no event of an earlier job leaks
    * in and no late-delivered one is missed.
    */
  def propertiesDuring(spark: SparkSession)(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val tag = s"graft-job-count-${System.nanoTime}"
    val events = new java.util.concurrent.LinkedBlockingQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Option(e.properties).getOrElse(new java.util.Properties))
    }
    def description(p: java.util.Properties): String =
      Option(p.getProperty("spark.job.description")).getOrElse("")
    def sentinel(which: String): Unit = {
      sc.setJobDescription(s"$tag-$which")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("start"); body; sentinel("end")
      var seen = Vector.empty[java.util.Properties]
      while (!seen.exists(description(_) == s"$tag-end")) {
        val e = events.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(e != null, "job-count sentinel never arrived")
        seen :+= e
      }
      seen.dropWhile(description(_) != s"$tag-start").filterNot(description(_).startsWith(tag))
    } finally sc.removeSparkListener(listener)
  }
}
