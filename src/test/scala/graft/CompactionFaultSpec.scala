package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CountMin, Dedup, Dsir, Evolve, Models, Neutral, Retrieval,
  SampleQuantile, Similarity}

/** The local file system under the `faulty://` scheme, except that while
  * armed with a fault, a `create` or `rename` the fault matches throws —
  * a write that dies at that step. While recording, every create and
  * rename (its target path) is logged, so a test can enumerate the write
  * steps of an operation before failing each. */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultyFs.check("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultyFs.check("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.check("rename", dst)
    super.rename(src, dst)
  }
}

object FaultyFs {
  val Uri: URI = URI.create("faulty:///")
  @volatile private var fault: (String, Path) => Boolean = (_, _) => false
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[(String, Path)]

  private def check(op: String, f: Path): Unit = {
    log.add(op -> f)
    if (fault(op, f)) throw new IOException(s"injected write fault: $op $f")
  }

  /** Run `body` with every create/rename that `f` matches failing. */
  def failing[T](f: (String, Path) => Boolean)(body: => T): T = {
    fault = f
    try body finally fault = (_, _) => false
  }

  /** Run `body` and return the creates and renames it made, in order. */
  def recording(body: => Unit): Seq[(String, Path)] = {
    log.clear()
    body
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }

  /** The write step a create or rename under local directory `root`
    * belongs to: the output directory of a parquet data file, or the
    * create/rename of the artifact manifest. */
  def stepOf(root: String, op: String, f: Path): Option[String] =
    if (f.getName.startsWith("_manifest"))
      Some(s"$op ${f.getName.takeWhile(_ != '.')}")
    else if (op == "create" && f.getName.startsWith("part-"))
      Some(f.toUri.getPath.stripPrefix(root).split("/_temporary/").head)
    else None
}

/** Crash safety of every artifact commit: when any write step of a
  * compaction, build, append or retrain fails — a data file or the
  * manifest — every served answer must equal the answer before the
  * operation, and a retried operation must succeed. A plain overwrite
  * fails this (Spark deletes the live table before its write job runs),
  * and so does any operation that writes its tables as separate commits.
  */
class CompactionFaultSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    s
  }

  /** One compaction under test: `build` writes the artifact into a fresh
    * directory, `serve` reads an answer from it, `compact` rewrites it in
    * place with write step `step` failing — leaving the answer unchanged
    * unless `changesAnswer` (the history fold's purpose is to change
    * it). */
  private case class Case(name: String, step: String,
      build: String => Unit, serve: String => Seq[String],
      compact: String => Unit, changesAnswer: Boolean = false)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def injected(t: scala.util.Try[_]): Boolean =
    t.failed.toOption.exists(e =>
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("injected")))

  private def failingStep[T](local: String, step: String)(body: => T): T =
    FaultyFs.failing((op, f) =>
      FaultyFs.stepOf(local, op, f).exists(_.endsWith(step)))(body)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val ev = spark.range(2000).select(col("id").as("event_id"),
    (col("id") % 97).as("user_id"),
    concat(lit("t"), col("id") % 5).as("event_type"),
    ((col("id") * 37) % 1000 / 10.0).as("value"))
  private lazy val orders = spark.range(600).select(col("id").as("o_orderkey"),
    (col("id") % 50).as("o_custkey"),
    ((col("id") * 13) % 10000 / 100.0).as("o_totalprice"))
  private lazy val docs = {
    val words = array(Seq("vector", "join", "hash", "index", "table",
      "query", "batch", "merge", "scan", "sort", "plan", "page").map(lit): _*)
    spark.range(500).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(8)),
        i => element_at(words, (pmod(col("id") * i + i * i, lit(12)) + 1)
          .cast("int")))).as("text"),
      when(col("id") % 3 === 0, "de").otherwise("en").as("lang"))
  }
  private lazy val emb = spark.range(120).select(col("id").as("vec_id"),
    transform(sequence(lit(1), lit(4)),
      i => sin(col("id") * i + i).cast("float")).as("embedding"),
    (col("id") % 4).cast("int").as("label"))
  private val terms = Seq("vector", "join", "hash")

  private def ccPairs(ps: (Long, Long)*) = {
    import spark.implicits._
    ps.toDF("doc_a", "doc_b")
  }

  test("a failed compaction write leaves every rewritten artifact " +
      "serving its pre-compaction answer") {
    val qs = Seq("p50" -> 0.5, "p90" -> 0.9)
    def ccBuilt(d: String): Unit = {
      Dedup.ccBuild(ccPairs((1L, 2L), (3L, 4L), (10L, 11L)), d)
      Dedup.ccAppend(ccPairs((2L, 3L), (20L, 21L)), d, batchId = 1L)
      Dedup.ccAppend(ccPairs((11L, 20L), (21L, 1L)), d, batchId = 2L)
    }
    val cases = Seq(
      Case("CountMin cells", "/cells",
        d => {
          CountMin.cmsBuild(ev.filter(col("event_id") % 2 === 0), d,
            "user_id", depth = 3, width = 32)
          CountMin.cmsAppend(ev.filter(col("event_id") % 2 =!= 0), d,
            "user_id")
        },
        d => rows(CountMin.cmsServe(spark, d,
          ev.select("user_id").distinct(), "user_id")),
        d => CountMin.cmsCompact(spark, d)),
      Case("SampleQuantile sample", "/sample",
        d => {
          SampleQuantile.build(ev.filter(col("event_id") % 2 === 0), d,
            "event_type", "event_id", "value", k = 64)
          SampleQuantile.append(ev.filter(col("event_id") % 2 =!= 0), d,
            "event_type", "event_id", "value")
        },
        d => rows(SampleQuantile.quantilesServed(spark, d, "event_type", qs)),
        d => SampleQuantile.compact(spark, d, "event_type")),
      Case("Evolve agg", "/agg",
        d => {
          Evolve.aggBuild(orders.filter(col("o_orderkey") % 2 === 0), d,
            "o_custkey", "o_totalprice")
          Evolve.aggFold(orders.filter(col("o_orderkey") % 2 =!= 0), d,
            "o_custkey", "o_totalprice")
        },
        d => rows(Evolve.aggServe(spark, d, "o_custkey")),
        d => Evolve.aggCompact(spark, d, "o_custkey")),
      Case("Dsir raw_counts", "/raw_counts",
        d => {
          val old = docs.filter(col("doc_id") < 250)
          Dsir.dsirBuildCounts(old, old.filter(col("lang") === "en"), d)
          Dsir.dsirAppendRaw(docs.filter(col("doc_id") >= 250), d)
        },
        d => rows(Dsir.dsirServeCounts(spark, d, docs)
          .select("doc_id", "n_grams", "dsir_logw")),
        d => Dsir.dsirCompactCounts(spark, d)),
      Case("BM25 stats", "/stats",
        d => {
          Retrieval.bm25Build(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", d)
          Retrieval.bm25Append(docs.filter(col("doc_id") % 2 =!= 0), d,
            "doc_id", "text", batchId = 1L)
        },
        d => rows(Retrieval.bm25Serve(spark, d, "doc_id", terms)),
        d => Retrieval.bm25Compact(spark, d, "doc_id")),
      Case("CC merges", "/merges", ccBuilt,
        d => rows(Dedup.ccServe(spark, d)),
        d => Dedup.ccCompact(spark, d)),
      Case("CC manifest", "create _manifest", ccBuilt,
        d => rows(Dedup.ccServe(spark, d)) ++ rows(Models.genStats(spark, d)),
        d => Dedup.ccCompact(spark, d), changesAnswer = true))
    val problems = cases.flatMap { c =>
      val local = tempDir("compaction_fault")
      val dir = s"faulty://$local"
      c.build(dir)
      val before = c.serve(dir)
      val failed = scala.util.Try(failingStep(local, c.step)(c.compact(dir)))
      val after = scala.util.Try(c.serve(dir))
      if (!injected(failed)) Some(s"${c.name}: the fault was not injected ($failed)")
      else if (after.isFailure)
        Some(s"${c.name}: live table unreadable after the failed write " +
          s"(${after.failed.get.getMessage.linesIterator.next()})")
      else if (after.get != before)
        Some(s"${c.name}: answer changed by the failed compaction")
      else {
        c.compact(dir)
        Option.when(!c.changesAnswer && c.serve(dir) != before)(
          s"${c.name}: the retried compaction changed the answer")
      }
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  /** An operation under test: `setup` writes the artifact it starts
    * from, `serve` reads every answer the artifact serves, `op` is the
    * build, append or retrain whose write steps fail one at a time. */
  private case class Op(name: String, setup: String => Unit,
      serve: String => Seq[String], op: String => Unit)

  /** `docs` repeats its texts every 12 ids; the dedup cases need texts
    * an append actually adds, so each doc gets its id as one more word. */
  private lazy val distinctDocs =
    docs.withColumn("text", concat_ws(" ", col("text"), col("doc_id")))

  private def dedupServe(d: String): Seq[String] =
    rows(Neutral.dedupAgainstServed(spark, d,
      distinctDocs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .withColumn("doc_id", col("doc_id") + 1000)).select("doc_id")) ++
      rows(Models.genStats(spark, d))

  private val ivfQueries = () => emb.filter(col("vec_id") < 6)
    .select(col("vec_id").as("query_id"), col("embedding"))
  private def ivfServe(d: String): Seq[String] =
    rows(Similarity.ivfServe(spark, d, ivfQueries(), 3, 2)) ++
      rows(Similarity.ivfDriftStats(spark, d)) ++
      rows(Models.genStats(spark, d))

  private def drifted = emb.filter(col("vec_id") < 40)
    .select((col("vec_id") + 1000L).as("vec_id"),
      transform(col("embedding"), x => (x * 0.5 + 0.7).cast("float"))
        .as("embedding"))

  private lazy val ops = Seq(
    Op("dedup-index build",
      d => Neutral.dedupIndexBuild(distinctDocs.filter(col("doc_id") < 100), d),
      dedupServe,
      d => Neutral.dedupIndexBuild(distinctDocs.filter(col("doc_id") < 150), d)),
    Op("dedup-index append",
      d => Neutral.dedupIndexBuild(distinctDocs.filter(col("doc_id") < 100), d),
      dedupServe,
      d => Neutral.dedupIndexAppend(
        distinctDocs.filter(col("doc_id") >= 100 && col("doc_id") < 150), d,
        batchId = 3L)),
    Op("BM25 append",
      d => Retrieval.bm25Build(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", d),
      d => rows(Retrieval.bm25Serve(spark, d, "doc_id", terms)) ++
        rows(Models.genStats(spark, d)),
      d => Retrieval.bm25Append(docs.filter(col("doc_id") % 2 =!= 0), d,
        "doc_id", "text", batchId = 1L)),
    Op("CC append",
      d => {
        Dedup.ccBuild(ccPairs((1L, 2L), (3L, 4L), (10L, 11L)), d)
        Dedup.ccAppend(ccPairs((2L, 3L), (20L, 21L)), d, batchId = 1L)
      },
      d => rows(Dedup.ccServe(spark, d)) ++ rows(Models.genStats(spark, d)),
      d => Dedup.ccAppend(ccPairs((11L, 20L), (21L, 1L), (30L, 31L)), d,
        batchId = 2L)),
    Op("Evolve join-view append",
      d => Evolve.joinViewBuild(orders.filter(col("o_orderkey") < 300),
        orders.filter(col("o_orderkey") < 40)
          .select(col("o_custkey"), col("o_orderkey").as("r_id")),
        d, "o_custkey"),
      d => rows(Evolve.joinViewServe(spark, d)) ++
        rows(Models.genStats(spark, d)),
      d => Evolve.joinViewAppend(spark, d,
        orders.filter(col("o_orderkey") >= 300 && col("o_orderkey") < 330),
        orders.filter(col("o_orderkey") >= 40 && col("o_orderkey") < 45)
          .select(col("o_custkey"), col("o_orderkey").as("r_id")),
        "o_custkey")),
    Op("IVF append",
      d => Similarity.ivfBuild(emb.filter(col("vec_id") % 5 =!= 0), d),
      ivfServe,
      d => Similarity.ivfAppend(spark,
        emb.filter(col("vec_id") % 5 === 0).drop("label"), d, batchId = 4L)),
    Op("IVF retrain",
      d => {
        Similarity.ivfBuild(emb, d)
        Similarity.ivfAppend(spark, drifted, d, batchId = 5L)
      },
      ivfServe,
      d => Similarity.ivfRetrain(spark, d)))

  private def copyTree(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val q = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }

  test("a failed write step of a build, append or retrain leaves every " +
      "served answer unchanged, and a retry succeeds") {
    val problems = ops.flatMap { o =>
      val template = tempDir("commit_fault")
      o.setup(s"faulty://$template")
      val before = o.serve(s"faulty://$template")
      val rec = tempDir("commit_fault")
      copyTree(template, rec)
      val steps = FaultyFs.recording(o.op(s"faulty://$rec"))
        .flatMap { case (op, f) => FaultyFs.stepOf(rec, op, f) }.distinct
      val expected = o.serve(s"faulty://$rec")
      assert(steps.size >= 3, s"${o.name}: write steps not found: $steps")
      steps.flatMap { step =>
        val local = tempDir("commit_fault")
        copyTree(template, local)
        val dir = s"faulty://$local"
        val failed = scala.util.Try(failingStep(local, step)(o.op(dir)))
        val after = scala.util.Try(o.serve(dir))
        if (!injected(failed)) Some(s"${o.name} $step: not injected ($failed)")
        else if (after.isFailure)
          Some(s"${o.name} $step: unreadable after the failure " +
            s"(${after.failed.get.getMessage.linesIterator.next()})")
        else if (after.get != before)
          Some(s"${o.name} $step: answer changed by the failed write")
        else scala.util.Try(o.op(dir)) match {
          case scala.util.Failure(e) =>
            Some(s"${o.name} $step: retry failed (${e.getMessage})")
          case _ => Option.when(o.serve(dir) != expected)(
            s"${o.name} $step: the retry's answer differs from a clean run")
        }
      }
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("a negative batch id fails each of the five id-stamped appends " +
      "with one message, leaving genStats and the served answer unchanged") {
    val phrase = Op("phrase append",
      d => Retrieval.phraseIndexBuild(docs.filter(col("doc_id") % 2 === 0),
        d, "doc_id", "text"),
      d => rows(Retrieval.phraseSearchServed(spark, d, "doc_id",
        Seq("vector", "join"), 50)) ++ rows(Models.genStats(spark, d)),
      _ => ())
    val appends: Seq[(Op, String => Unit)] = Seq(
      ops(1) -> (d => Neutral.dedupIndexAppend(
        distinctDocs.filter(col("doc_id") >= 100 && col("doc_id") < 150), d,
        batchId = -1L)),
      ops(2) -> (d => Retrieval.bm25Append(docs.filter(col("doc_id") % 2 =!= 0),
        d, "doc_id", "text", batchId = -1L)),
      phrase -> (d => Retrieval.phraseIndexAppend(
        docs.filter(col("doc_id") % 2 =!= 0), d, "doc_id", "text",
        batchId = -1L)),
      ops(5) -> (d => Similarity.ivfAppend(spark,
        emb.filter(col("vec_id") % 5 === 0).drop("label"), d, batchId = -1L)),
      ops(3) -> (d => Dedup.ccAppend(ccPairs((11L, 20L)), d, batchId = -1L)))
    appends.foreach { case (o, append) =>
      val dir = tempDir("negative_batch")
      o.setup(dir)
      val before = o.serve(dir)
      val e = intercept[IllegalArgumentException](append(dir))
      assert(e.getMessage.contains("appends need an explicit batch/sequence id"),
        s"${o.name}: ${e.getMessage}")
      assert(o.serve(dir) == before, s"${o.name}: answer changed")
    }
  }

  test("only Models swaps artifact generations in operator sources") {
    // every artifact write is a Models commit: no hand-rolled swap,
    // temp directory, second generation ledger or parameter table anywhere
    // else (build parameters live in the manifest: Commit.param)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val banned = Seq("swapIn(", "__compacting", "__retraining", "logGen",
      "resetGens", "/gens", "write(\"meta\"", "\"bloom_meta\"")
    val offenders = Seq("ops", "streaming", "queries").flatMap { d =>
      java.nio.file.Files.walk(root.resolve(d)).iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Models.scala")
        .flatMap { p =>
          val src = java.nio.file.Files.readString(p)
          val hits = banned.filter(src.contains)
          Option.when(hits.nonEmpty)(s"$p: ${hits.mkString(" ")}")
        }
    }
    assert(offenders.isEmpty,
      "artifact write outside a Models commit: " + offenders.mkString("; "))
  }
}
