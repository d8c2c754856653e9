package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CountMin, Dedup, Dsir, Evolve, Models, Retrieval,
  SampleQuantile}

/** The local file system under the `faulty://` scheme, except that while
  * armed with a directory, creating a parquet data file (`part-*`) whose
  * path starts with that directory throws — a write job that dies after
  * its output path was prepared, before any data landed. */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultyFs.check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultyFs.check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object FaultyFs {
  val Uri: URI = URI.create("faulty:///")
  @volatile private var armed: Option[String] = None

  private def check(f: Path): Unit = armed.foreach { dir =>
    if (f.getName.startsWith("part-") && f.toUri.getPath.startsWith(dir))
      throw new IOException(s"injected write fault: $f")
  }

  /** Run `body` with data-file creates under local path `dir` failing. */
  def failingWritesUnder[T](dir: String)(body: => T): T = {
    armed = Some(dir)
    try body finally armed = None
  }
}

/** Crash safety of every compaction that replaces a live artifact table:
  * when the rewrite's write job fails, serving must still return the
  * pre-compaction answer, and a retried compaction must succeed. An
  * overwrite of the live path fails this — Spark deletes the directory
  * before the write job runs, so the failed write leaves the table
  * unreadable.
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
    * directory, `serve` reads an answer from it, `compact` rewrites the
    * table `table` in place — leaving the answer unchanged unless
    * `changesAnswer` (the ledger fold's purpose is to change it). */
  private case class Case(name: String, table: String,
      build: String => Unit, serve: String => Seq[String],
      compact: String => Unit, changesAnswer: Boolean = false)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a failed compaction write leaves every rewritten artifact " +
      "serving its pre-compaction answer") {
    val ev = spark.range(2000).select(col("id").as("event_id"),
      (col("id") % 97).as("user_id"),
      concat(lit("t"), col("id") % 5).as("event_type"),
      ((col("id") * 37) % 1000 / 10.0).as("value"))
    val orders = spark.range(600).select(col("id").as("o_orderkey"),
      (col("id") % 50).as("o_custkey"),
      ((col("id") * 13) % 10000 / 100.0).as("o_totalprice"))
    val words = array(Seq("vector", "join", "hash", "index", "table",
      "query", "batch", "merge", "scan", "sort", "plan", "page").map(lit): _*)
    val docs = spark.range(500).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(8)),
        i => element_at(words, (pmod(col("id") * i + i * i, lit(12)) + 1)
          .cast("int")))).as("text"),
      when(col("id") % 3 === 0, "de").otherwise("en").as("lang"))
    val terms = Seq("vector", "join", "hash")
    val qs = Seq("p50" -> 0.5, "p90" -> 0.9)
    val cases = Seq(
      Case("CountMin cells", "cells",
        d => {
          CountMin.cmsBuild(ev.filter(col("event_id") % 2 === 0), d,
            "user_id", depth = 3, width = 32)
          CountMin.cmsAppend(ev.filter(col("event_id") % 2 =!= 0), d,
            "user_id")
        },
        d => rows(CountMin.cmsServe(spark, d,
          ev.select("user_id").distinct(), "user_id")),
        d => CountMin.cmsCompact(spark, d)),
      Case("SampleQuantile sample", "sample",
        d => {
          SampleQuantile.build(ev.filter(col("event_id") % 2 === 0), d,
            "event_type", "event_id", "value", k = 64)
          SampleQuantile.append(ev.filter(col("event_id") % 2 =!= 0), d,
            "event_type", "event_id", "value")
        },
        d => rows(SampleQuantile.quantilesServed(spark, d, "event_type", qs)),
        d => SampleQuantile.compact(spark, d, "event_type")),
      Case("Evolve agg", "agg",
        d => {
          Evolve.aggBuild(orders.filter(col("o_orderkey") % 2 === 0), d,
            "o_custkey", "o_totalprice")
          Evolve.aggFold(orders.filter(col("o_orderkey") % 2 =!= 0), d,
            "o_custkey", "o_totalprice")
        },
        d => rows(Evolve.aggServe(spark, d, "o_custkey")),
        d => Evolve.aggCompact(spark, d, "o_custkey")),
      Case("Dsir raw_counts", "raw_counts",
        d => {
          val old = docs.filter(col("doc_id") < 250)
          Dsir.dsirBuildCounts(old, old.filter(col("lang") === "en"), d)
          Dsir.dsirAppendRaw(docs.filter(col("doc_id") >= 250), d)
        },
        d => rows(Dsir.dsirServeCounts(spark, d, docs)
          .select("doc_id", "n_grams", "dsir_logw")),
        d => Dsir.dsirCompactCounts(spark, d)),
      Case("BM25 stats", "stats",
        d => {
          Retrieval.bm25Build(docs.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", d)
          Retrieval.bm25Append(docs.filter(col("doc_id") % 2 =!= 0), d,
            "doc_id", "text", batchId = 1L)
        },
        d => rows(Retrieval.bm25Serve(spark, d, "doc_id", terms)),
        d => Retrieval.bm25Compact(spark, d, "doc_id")),
      Case("CC merges", "merges",
        d => {
          import spark.implicits._
          Dedup.ccBuild(Seq((1L, 2L), (3L, 4L), (10L, 11L))
            .toDF("doc_a", "doc_b"), d)
          Dedup.ccAppend(Seq((2L, 3L), (20L, 21L)).toDF("doc_a", "doc_b"),
            d, batchId = 1L)
          Dedup.ccAppend(Seq((11L, 20L), (21L, 1L)).toDF("doc_a", "doc_b"),
            d, batchId = 2L)
        },
        d => rows(Dedup.ccServe(spark, d)),
        d => Dedup.ccCompact(spark, d)),
      Case("gens ledger", "gens",
        d => {
          import spark.implicits._
          Dedup.ccBuild(Seq((1L, 2L)).toDF("doc_a", "doc_b"), d)
          Dedup.ccAppend(Seq((2L, 3L)).toDF("doc_a", "doc_b"), d,
            batchId = 4L)
        },
        d => rows(Models.genStats(spark, d)),
        d => Models.resetGens(spark, d), changesAnswer = true))
    val problems = cases.flatMap { c =>
      val local = java.nio.file.Files
        .createTempDirectory("compaction_fault").toString
      val dir = s"faulty://$local"
      c.build(dir)
      val before = c.serve(dir)
      val failed = scala.util.Try(
        FaultyFs.failingWritesUnder(s"$local/${c.table}")(c.compact(dir)))
      val after = scala.util.Try(c.serve(dir))
      val injected = failed.failed.toOption.exists(e =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(x => String.valueOf(x.getMessage).contains("injected")))
      if (!injected) Some(s"${c.name}: the fault was not injected ($failed)")
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

  test("only Models swaps artifact generations in operator sources") {
    // every in-place rewrite goes through Models.rewrite; the one named
    // exemption is ivfRetrain's ordered two-table (coarse, lists) commit
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val banned = Seq("swapIn(", "__compacting")
    def exempt(p: java.nio.file.Path, src: String): String = {
      val from = src.indexOf("  def ivfRetrain(")
      if (p.getFileName.toString != "Similarity.scala" || from < 0) src
      else src.patch(from, "", src.indexOf("\n  }\n", from) - from)
    }
    val offenders = Seq("ops", "streaming", "queries").flatMap { d =>
      java.nio.file.Files.walk(root.resolve(d)).iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Models.scala")
        .flatMap { p =>
          val src = exempt(p, java.nio.file.Files.readString(p))
          val hits = banned.filter(src.contains)
          Option.when(hits.nonEmpty)(s"$p: ${hits.mkString(" ")}")
        }
    }
    assert(offenders.isEmpty,
      "artifact rewrite outside Models.rewrite: " + offenders.mkString("; "))
  }
}
