package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert

object SparkJobs {

  /** Jobs started while `body` runs. The listener bus is asynchronous,
    * so a marker job (its own job group) is run after `body`, and every
    * start event seen before the marker's is counted. */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")): Unit
    }
    def marker(tag: String): Unit = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(tag) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(tag), s"marker job $tag never reported")
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-before")
      groups.clear()
      body
      marker("jobs-after")
      import scala.jdk.CollectionConverters._
      groups.asScala.takeWhile(_ != "jobs-after").size
    } finally sc.removeSparkListener(listener)
  }
}
