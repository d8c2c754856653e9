package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CountMin, Dsir, Models, Neutral, SampleQuantile, ScaleOps}

/** What reading an artifact costs: [[Models.load]] reads the manifest's
  * file list and schema, so building the DataFrame and asking its schema
  * must start no Spark job — not the schema-inference job a plain
  * parquet read runs, and not the parallel listing job Spark starts for
  * more than `parallelPartitionDiscovery.threshold` (32) paths. A build
  * parameter is read from the manifest too, so constructing a served
  * DataFrame starts no job. One commit may be written from several
  * threads. */
class ModelsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def jobsDuring(body: => Unit): Int = SparkJobs.during(spark)(body)

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

  test("one commit written from 8 threads: every table is in the manifest " +
      "and loads as written") {
    val dir = java.nio.file.Files.createTempDirectory("models_threads").toString
    def rows(i: Int) = (i * 100L) until (i * 100L + 10 + i)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try Models.save(spark, dir) { c =>
      (0 until 8).map { i =>
        pool.submit { () =>
          c.write(s"t$i", spark.range(rows(i).head, rows(i).last + 1).toDF("id"))
          c.read(s"t$i").count()
        }
      }.zipWithIndex.foreach { case (n, i) => assert(n.get() == rows(i).size) }
    } finally pool.shutdown()
    (0 until 8).foreach { i =>
      val got = Models.load(spark, dir, s"t$i").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == rows(i), s"table t$i")
    }
  }

  test("constructing a served DataFrame starts no job: cms, sample, Bloom " +
      "and both DSIR forms") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i,
        s"alpha beta w${i % 7} gamma w${i % 5} delta",
        if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val en = docs.filter(col("lang") === "en")
    def dir(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (cms, sample, bloom, dsir, counts) = (dir("p_cms"), dir("p_sample"),
      dir("p_bloom"), dir("p_dsir"), dir("p_counts"))
    CountMin.cmsBuild(docs, cms, "text", depth = 3, width = 32)
    SampleQuantile.build(docs, sample, "lang", "doc_id", "doc_id", k = 8)
    Neutral.bloomIndexBuild(docs, bloom, mBits = 1 << 10)
    Dsir.dsirBuild(docs, en, dsir)
    Dsir.dsirBuildCounts(docs, en, counts)
    val served = Seq[(String, () => Unit)](
      "cmsServe" -> (() => CountMin.cmsServe(spark, cms, docs.select("text"),
        "text")),
      "serveSketch" -> (() => SampleQuantile.serveSketch(spark, sample, "lang")),
      "admitBloomServed" -> (() => Neutral.admitBloomServed(spark, bloom, docs)),
      "dsirServe" -> (() => Dsir.dsirServe(spark, dsir, docs)),
      "dsirServeCounts" -> (() => Dsir.dsirServeCounts(spark, counts, docs)))
    val jobs = served.map { case (name, serve) => name -> jobsDuring(serve()) }
    assert(jobs.forall(_._2 == 0), s"jobs while constructing: $jobs")
  }
}
