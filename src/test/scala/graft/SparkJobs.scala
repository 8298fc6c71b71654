package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of code starts. */
object SparkJobs {

  /** Jobs Spark starts while `body` runs. Sentinel jobs before and after
    * bracket the window in the listener bus's event order, so no event
    * of an earlier job leaks in and no late-delivered one is missed.
    */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"graft-job-count-${System.nanoTime}"
    val events = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def sentinel(which: String): Unit = {
      sc.setJobDescription(s"$tag-$which")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("start"); body; sentinel("end")
      var seen = Vector.empty[String]
      while (!seen.contains(s"$tag-end")) {
        val e = events.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(e != null, "job-count sentinel never arrived")
        seen :+= e
      }
      seen.dropWhile(_ != s"$tag-start").count(!_.startsWith(tag))
    } finally sc.removeSparkListener(listener)
  }
}
