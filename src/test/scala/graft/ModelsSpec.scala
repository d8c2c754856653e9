package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Models, ScaleOps}

/** What reading an artifact costs: [[Models.load]] reads the manifest's
  * file list and schema, so building the DataFrame and asking its schema
  * must start no Spark job — not the schema-inference job a plain
  * parquet read runs, and not the parallel listing job Spark starts for
  * more than `parallelPartitionDiscovery.threshold` (32) paths. */
class ModelsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs started while `body` runs. The listener bus is asynchronous,
    * so a marker job (its own job group) is run after `body`, and every
    * start event seen before the marker's is counted. */
  private def jobsDuring(body: => Unit): Int = {
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
      marker("models-spec-before")
      groups.clear()
      body
      marker("models-spec-after")
      import scala.jdk.CollectionConverters._
      groups.asScala.takeWhile(_ != "models-spec-after").size
    } finally sc.removeSparkListener(listener)
  }

  test("Models.load runs no Spark job: 41 committed file sets and the " +
      "day-partitioned HLL cube") {
    val dir = java.nio.file.Files.createTempDirectory("models_load").toString
    Models.save(spark, dir)(_.write("t", spark.range(1).toDF("id")))
    (1 to 40).foreach { i =>
      Models.append(spark, dir)(_.write("t",
        spark.range(i.toLong, i + 1L, 1L, 1).toDF("id")))
    }
    var schema: Option[org.apache.spark.sql.types.StructType] = None
    assert(jobsDuring {
      schema = Some(Models.load(spark, dir, "t").schema)
    } == 0, "loading a 41-file table started a Spark job")
    assert(schema.get.fieldNames.toSeq == Seq("id"))
    assert(Models.load(spark, dir, "t").count() == 41L)

    val cube = java.nio.file.Files.createTempDirectory("models_cube").toString
    ScaleOps.hllCubeBuild(spark.range(400).select(
        concat(lit("t"), col("id") % 3).as("event_type"),
        (col("id") % 37).as("user_id"),
        (lit(1700000000L) + col("id") % 40 * 86400L).cast("timestamp")
          .as("ts")), cube)
    assert(jobsDuring {
      schema = Some(Models.load(spark, cube, "cube").schema)
    } == 0, "loading the HLL cube started a Spark job")
    assert(schema.get.fieldNames.toSeq == Seq("event_type", "sk", "day"))
    assert(Models.load(spark, cube, "cube").select("day").distinct()
      .count() == 40L)
  }
}
