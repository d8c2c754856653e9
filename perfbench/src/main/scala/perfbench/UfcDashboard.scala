package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{lit, to_date}

import graft.model.{Analytics, MetabaseCards, Sources, Warehouse}

/** Read-only BI refresh, the reference's own use: load the three CSVs
  * (the dlt stage), register the views once (the dbt run), then refresh
  * the 14 Metabase cards back to back. Every card is parsed, analysed and
  * planned afresh, as Metabase does; nothing is cached. */
object UfcDashboard {
  val SetupReps = 3
  val WarmupRounds = 2

  /** The CSV files of a scrape_ufc_stats export, by loaded table name. */
  val Files = Seq(
    "dim_ufc_event_details" -> "dim_ufc_event_details.csv",
    "fact_ufc_fight_results" -> "fact_ufc_fight_results.csv",
    "title_status_changes" -> "title_status_changes_outside_octagon.csv")

  def slug(title: String): String =
    title.toLowerCase.replaceAll("[^a-z0-9]+", "_").replaceAll("^_+|_+$", "")

  /** readCsv → writeReplace for each file, then registerViews over the
    * loaded tables. Returns (rows loaded, load s, views s, views). */
  def loadAndRegister(c: Ctx, csvDir: String, whDir: String)
      : (Long, Double, Double, Map[String, DataFrame]) = {
    val spark = c.spark
    val (rows, loadS) = c.time(c.tracer.span("load", "model") {
      Files.map { case (table, file) =>
        val raw = Sources.readCsv(spark, s"$csvDir/$file")
        Sources.writeReplace(raw, s"$whDir/$table")
        spark.read.parquet(s"$whDir/$table").count()
      }.sum
    })
    val (views, viewsS) = c.time(c.tracer.span("register_views", "model") {
      val Seq(ev, res, vac) =
        Files.map { case (table, _) => spark.read.parquet(s"$whDir/$table") }
      Warehouse.registerViews(spark, ev, res, vac)
    })
    (rows, loadS, viewsS, views)
  }

  private def render(r: Row): String = r.toSeq.map {
    case null => "␀"
    case d: Double => BigDecimal(d).round(new java.math.MathContext(9)).toString
    case v => v.toString
  }.mkString("|")

  /** One card, from spark.sql to collected rows, as its digest. */
  private def card(spark: SparkSession, sql: String): String = {
    val rows = spark.sql(sql).collect()
    graft.BenchProbe.md5Hex(rows.map(render).mkString("\n"))
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val wh = s"${c.work}/warehouse"
    def setupRep() = {
      val ((rows, loadS, viewsS, _), s) = c.time(loadAndRegister(c, c.inputs, wh))
      (s, rows, loadS, viewsS)
    }
    // set-up: load + views, SetupReps times; after the first, the warm-up
    // (JIT, codegen), which set-up time includes: every card WarmupRounds
    // times, on `cores` client threads
    val first = setupRep()
    val (_, warmS) = c.time {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
      try (0 until WarmupRounds).flatMap(_ => MetabaseCards.all).map { case (_, sql) =>
          pool.submit(() => card(spark, sql)) }.foreach(_.get())
      finally pool.shutdown()
    }
    val setup = first +: (1 until SetupReps).map(_ => setupRep())
    Log("setup done")
    c.result("setup_reps_s") = setup.map(_._1)
    c.result("warmup_s") = warmS
    val rows = setup.head._2
    c.result("store_bytes") = Files.map { case (t, _) => Util.dirBytes(s"$wh/$t") }.sum
    c.result("store_rows") = rows
    val loadMs = Util.median(setup.map(_._3)) * 1000
    c.layer("model.load_ms") = loadMs
    c.layer("model.load_rows_per_s") = rows / (loadMs / 1000)
    c.layer("model.views_ms") = Util.median(setup.map(_._4)) * 1000

    val firstDigest = mutable.Map.empty[String, String]
    val cardMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val heap = new HeapWatch
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val (calls, wall) = c.time(c.tracer.op(i, "refresh") {
        MetabaseCards.all.map { case (title, sql) =>
          val s = slug(title)
          val (d, t) = c.time(c.tracer.span(s"card.$s", "model")(card(spark, sql)))
          (title, s, d, t)
        }
      })
      val wrong = calls.collect { case (title, s, d, _)
          if firstDigest.getOrElseUpdate(s, d) != d => title }
      c.checked(if (wrong.isEmpty) None
        else Some(s"refresh $i: card digests changed: ${wrong.mkString(", ")}"))
      calls.foreach { case (_, s, _, t) =>
        cardMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += t * 1000 }
      ops += Map("wall_s" -> wall, "rows" -> rows,
        "calls_ms" -> calls.map(_._4 * 1000))
      heap.afterOp()
      i += 1
    }
    c.result("heap") = heap.stop()
    c.result("ops") = ops.toSeq
    cardMs.foreach { case (s, ts) => c.layer(s"model.card.${s}_ms") = Util.median(ts.toSeq) }
    Log("loop done")
    fixtureVerdicts(c).foreach(c.checked)
    Log("fixture check done")
  }

  /** The fixture check reads only checked-in files, so its verdicts are a
    * function of the build: they are computed once per build and kept in
    * `c.fixtureCache` (one line per check, empty when it passed), and
    * every later run of that build reports the same verdicts. */
  private def fixtureVerdicts(c: Ctx): Seq[Option[String]] = {
    val cache = new java.io.File(c.fixtureCache)
    if (cache.exists) {
      val src = scala.io.Source.fromFile(cache, "UTF-8")
      try src.getLines().map(l => Option(l).filter(_.nonEmpty)).toSeq
      finally src.close()
    } else {
      val verdicts = checkFixtures(c)
      val tmp = new java.io.File(cache.getPath + ".tmp")
      val out = new java.io.PrintWriter(tmp, "UTF-8")
      try verdicts.foreach(v => out.println(v.getOrElse(""))) finally out.close()
      java.nio.file.Files.move(tmp.toPath, cache.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      verdicts
    }
  }

  /** The checked-in fixture CSVs through the same load → views → cards
    * path; every model and card must equal its golden (the reference SQL
    * run in DuckDB). The goldens pin current_date to 2026-01-01, as
    * WarehouseSpec does. */
  private def checkFixtures(c: Ctx): Seq[Option[String]] = {
    val spark = c.spark
    val res = s"${c.repo}/src/test/resources"
    val (_, _, _, views) =
      loadAndRegister(c, s"$res/fixtures", s"${c.work}/fixture_warehouse")
    Analytics.totalChampDays(views("mv_title_reigns"), to_date(lit("2026-01-01")))
      .createOrReplaceTempView("mv_total_champ_days")
    def normalized(df: DataFrame): Seq[String] = df.collect().toSeq.map(render).sorted
    def golden(name: String, like: DataFrame): Seq[String] = normalized(
      spark.read.option("header", "true").option("nullValue", "\\N")
        .schema(like.schema).csv(s"$res/goldens/$name.csv"))
    val goldenName = Map(
      "fighters_best_record_min_10_fights" -> "fighters_best_record",
      "clutch_wins_min_10_fights" -> "clutch_wins",
      "multiple_weight_class_champs" -> "multi_division_champs")
    val models = views.keys.toSeq.sorted.map { alias =>
      val stem = alias.stripPrefix("mv_")
      alias -> (goldenName.getOrElse(stem, stem), spark.table(alias))
    }
    val cards = MetabaseCards.all.zipWithIndex.map { case ((title, sql), i) =>
      title -> (f"card_$i%02d_${slug(title)}", spark.sql(sql))
    }
    // checked after the loop, on `cores` client threads: this is not timed
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
    try {
      (models ++ cards).map { case (what, (file, df)) =>
        pool.submit(() => if (normalized(df) == golden(file, df)) None
          else Some(s"fixture $what differs from golden $file"))
      }.map(_.get())
    } finally pool.shutdown()
  }
}
