package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, the paths, the
  * time budget, and the result being built. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val cores: Int,
    val repo: String, val inputs: String, val work: String,
    val seconds: Double, val fixtureCache: String) {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attemptedOps = 0
  val result = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Count one op whose answer was checked; `problem` is None when it was
    * right. */
  def checked(problem: Option[String]): Unit = {
    attemptedOps += 1
    problem.foreach(failures += _)
  }
  def attempted: Int = attemptedOps
  def failed: Seq[String] = failures.toSeq

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Heap and GC over the timed loop. The heap figure is the peak live heap
  * at op boundaries: after each op (untimed) full collections run until
  * the heap settles, and the heap still in use is recorded, so what an op
  * leaves behind counts and GC timing does not. `gc_ms` is the collectors'
  * time during the ops, the forced collections excluded. */
final class HeapWatch {
  private val SettleRounds = 3
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private val gc0 = gcMs
  private var forcedMs = 0L
  private var peak = 0L

  /** Call after each op, outside its timing. */
  def afterOp(): Unit = {
    val before = gcMs
    // a collection enqueues Spark's weakly held broadcasts and shuffles for
    // the context cleaner; only after it has run does the heap settle (the
    // first collection after a batch leaves 2-3x the settled figure)
    (0 until SettleRounds).foreach { _ => System.gc(); Thread.sleep(200) }
    forcedMs += gcMs - before
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def stop(): Map[String, Double] =
    Map("peak_live_mb" -> peak / 1048576.0,
      "gc_ms" -> (gcMs - gc0 - forcedMs).toDouble)
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")
}

object Util {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes of the data files under `dir` (Spark's _SUCCESS/.crc excluded). */
  def dirBytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new java.io.File(dir))
  }
}

/** Entry point of the benchmark JVM. `perfbench/run.py` builds the
  * program, generates the inputs, launches this, and turns the result
  * file into metrics; see README.md. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val work = opt("work")
    Log(s"starting $workload")

    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toLong)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val tracer = if (traced) Tracer.on(spark) else Tracer.off(spark)
    val ctx = new Ctx(spark, tracer, cores, opt("repo"), opt("inputs"), work,
      opt("seconds").toDouble, opt("fixture-cache"))
    ctx.result("session_s") = sessionS

    // host contention sentinel around the run (graft.Bench's probes)
    def cal(): Seq[Double] = Seq(graft.Bench.calibrate(spark),
      graft.Bench.calibratePar(spark, cores))
    cal() // JIT warm-up of the probe itself
    val calBefore = cal()

    try {
      workload match {
        case "ufc_dashboard" => UfcDashboard.run(ctx)
        case "corpus_prepare" => CorpusPrepare.run(ctx)
        case "crawl_admission" => CrawlAdmission.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        ctx.checked(Some(s"workload aborted: $e"))
        e.printStackTrace()
    }
    val calAfter = cal()
    if (traced) ctx.layer ++= Kernels.run(ctx)

    ctx.result("cal") = Map("before" -> calBefore, "after" -> calAfter)
    ctx.result("attempted") = ctx.attempted
    ctx.result("failures") = ctx.failed
    ctx.result("layer") = ctx.layer
    if (traced) ctx.result("trace") = tracer.dump()
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.write(Json.write(ctx.result)) finally out.close()
    spark.stop()
  }
}
