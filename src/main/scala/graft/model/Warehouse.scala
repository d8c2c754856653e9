package graft.model

import java.util.concurrent.{ExecutionException, Executors}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Models

/** The serving layer (SURVEY §2.1 S5/S6): build the whole model DAG,
  * register every model under its reference view alias, and expose the 14
  * Metabase card queries as Spark SQL over those views — the dashboard hot
  * path of SURVEY §3.2.
  *
  * [[registerViews]] is the dbt run. The staging models, the shared
  * models and the 11 models the cards read are tables (dbt's
  * `materialized='table'`), committed as ONE [[Models]] generation into
  * an artifact directory the SparkSession owns; the other 12 models are
  * views over those tables, so a card plans over one committed table
  * instead of its whole lineage from the raw inputs. The contract:
  *  - one commit per call; the views are registered only after it;
  *  - a failed call leaves the previous generation and its views serving;
  *  - a later call's cleanup may leave DataFrames returned by an earlier
  *    call unreadable (the [[Models]] rewrite rule): the registered views
  *    always serve the newest generation;
  *  - one writer per session: calls on one SparkSession must not overlap;
  *  - the tables are a snapshot of the raw inputs, so a reload means
  *    calling [[registerViews]] again;
  *  - `mv_total_champ_days` stays a view, so its `current_date` is each
  *    query's, as in the reference view.
  */
object Warehouse {

  private val Ev = "mv_stg_event_details"
  private val Res = "mv_stg_fight_results"

  /** Every model by its reference view alias (each model's
    * `config(alias=...)`), as a function of `ref`: an upstream model by
    * alias, or a raw source (`raw_events`, `raw_results`, `raw_vacancies`)
    * — dbt's ref() and source(). */
  private val Dag: Map[String, (String => DataFrame) => DataFrame] = Map(
    Ev -> (r => Staging.stgEventDetails(r("raw_events"))),
    Res -> (r => Staging.stgFightResults(r("raw_results"))),
    "fct_fights" -> (r => Core.fctFights(r(Res), r(Ev))),
    "dim_event" -> (r => Core.dimEvent(r(Ev))),
    "dim_fighter" -> (r => Core.dimFighter(r("fct_fights"))),
    "dim_division" -> (r => Core.dimDivision(r("fct_fights"))),
    "fct_title_reigns" -> (r => Core.fctTitleReigns(r("mv_title_reigns"))),
    "mv_title_reigns" ->
      (r => Analytics.titleReigns(r(Res), r(Ev), r("raw_vacancies"))),
    "mv_title_fights" -> (r => Analytics.titleFights(r(Res), r(Ev))),
    "mv_fighters_by_wins" -> (r => Analytics.fightersByWins(r(Res))),
    "mv_fighters_by_ko_wins" -> (r => Analytics.fightersByKoWins(r(Res))),
    "mv_fighters_by_submission_wins" ->
      (r => Analytics.fightersBySubmissionWins(r(Res))),
    "mv_fighters_by_non_decision_wins" ->
      (r => Analytics.fightersByNonDecisionWins(r(Res))),
    "mv_fight_time_per_division" -> (r => Analytics.fightTimePerDivision(r(Res))),
    "mv_fighters_best_record_min_10_fights" ->
      (r => Analytics.fightersBestRecord(r(Res))),
    "mv_fightrers_by_avg_fight_time_min_5" ->
      (r => Analytics.fightersByAvgFightTime(r(Res))),
    "mv_clutch_wins_min_10_fights" -> (r => Analytics.clutchWins(r(Res))),
    "mv_championship_rounds_fought" ->
      (r => Analytics.championshipRoundsFought(r(Res))),
    "mv_title_fight_results_by_fighter" ->
      (r => Analytics.titleFightResultsByFighter(r(Res))),
    "mv_title_defenses" -> (r => Analytics.titleDefenses(r(Res), r(Ev))),
    "mv_dominant_style_per_division_year" ->
      (r => Analytics.dominantStylePerDivisionYear(r(Res), r(Ev))),
    "mv_fighters_by_longest_winning_streak" ->
      (r => Analytics.fightersByLongestWinningStreak(r(Res), r(Ev))),
    "mv_consecutive_title_defenses" ->
      (r => Analytics.consecutiveTitleDefenses(r(Res), r(Ev))),
    "mv_quality_of_opposition_faced" ->
      (r => Analytics.qualityOfOppositionFaced(r(Res), r(Ev))),
    "mv_wins_over_champions" -> (r => Analytics.winsOverChampions(r(Res), r(Ev))),
    "mv_wins_over_champions_agg" ->
      (r => Analytics.winsOverChampionsAgg(r("mv_wins_over_champions"))),
    "mv_multiple_weight_class_champs" ->
      (r => Analytics.multiDivisionChamps(r("mv_title_fights"))),
    "mv_total_champ_days" -> (r => Analytics.totalChampDays(r("mv_title_reigns"))))

  /** The tables [[registerViews]] commits, layer by layer: a layer refs
    * only the raw sources and the layers before it. */
  private val Tables: Seq[Seq[String]] = Seq(
    Seq(Ev, Res),
    Seq("mv_title_reigns", "mv_title_fights", "mv_wins_over_champions"),
    Seq("mv_quality_of_opposition_faced", "mv_title_fight_results_by_fighter",
      "mv_multiple_weight_class_champs", "mv_wins_over_champions_agg",
      "mv_fighters_by_longest_winning_streak",
      "mv_fighters_best_record_min_10_fights",
      "mv_fighters_by_non_decision_wins", "mv_title_defenses",
      "mv_championship_rounds_fought", "mv_consecutive_title_defenses",
      "mv_clutch_wins_min_10_fights"))

  /** Build every model; keys are the reference view aliases
    * (each model's `config(alias=...)`). */
  def buildAll(rawEvents: DataFrame, rawResults: DataFrame,
      rawVacancies: DataFrame): Map[String, DataFrame] =
    resolve(sources(rawEvents, rawResults, rawVacancies))

  /** S5 materialization, the dbt run: commit [[Tables]], then register
    * every model as a temp view (`createOrReplaceTempView`, dbt's CREATE
    * VIEW) over the committed tables. Returns the registered models. */
  def registerViews(spark: SparkSession, rawEvents: DataFrame,
      rawResults: DataFrame, rawVacancies: DataFrame): Map[String, DataFrame] = {
    val dir = artifactDir(spark)
    val raw = sources(rawEvents, rawResults, rawVacancies)
    Models.save(spark, dir) { c =>
      Tables.foreach(layer => concurrently(spark, layer) { alias =>
        c.write(alias, Dag(alias)(r => raw.getOrElse(r, c.read(r))))
      })
    }
    val all = resolve(raw ++
      Tables.flatten.map(alias => alias -> Models.load(spark, dir, alias)))
    all.foreach { case (alias, df) => df.createOrReplaceTempView(alias) }
    all
  }

  private def sources(rawEvents: DataFrame, rawResults: DataFrame,
      rawVacancies: DataFrame): Map[String, DataFrame] =
    Map("raw_events" -> rawEvents, "raw_results" -> rawResults,
      "raw_vacancies" -> rawVacancies)

  /** Every model of [[Dag]], each DataFrame built once, over `known`
    * (the raw sources and any model already built). */
  private def resolve(known: Map[String, DataFrame]): Map[String, DataFrame] = {
    val built = mutable.Map.from(known)
    def ref(alias: String): DataFrame =
      built.getOrElseUpdate(alias, Dag(alias)(ref))
    Dag.map { case (alias, _) => alias -> ref(alias) }
  }

  /** `f` of every element on `defaultParallelism` client threads; once
    * all have ended, the first failure is rethrown. */
  private def concurrently[A](spark: SparkSession, xs: Seq[A])(f: A => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try {
      val runs = xs.map(x => pool.submit[Unit](() => f(x)))
      runs.flatMap(r => Try(r.get()).failed.toOption).headOption.foreach {
        case e: ExecutionException => throw e.getCause
        case e => throw e
      }
    } finally pool.shutdown()
  }

  private val artifacts = new java.util.WeakHashMap[SparkSession, String]()

  /** The session's artifact directory: made under `java.io.tmpdir` on the
    * first call, deleted at JVM exit. */
  private def artifactDir(spark: SparkSession): String = artifacts.synchronized {
    artifacts.computeIfAbsent(spark, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft_warehouse_").toFile
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
      dir.toString
    })
  }
}

/** The 14 Metabase dashboard cards (metabase/charts.sh:154-498) as Spark
  * SQL over the registered views. Translation notes: the schema prefix
  * (`fighters_extracted_goat_status.`) drops (temp views are schemaless),
  * and PG's 4-arg `regexp_replace(..., 'g')` becomes Spark's 3-arg form
  * (replace-all is Spark's default).
  *
  * Deviation: every ORDER BY ends in its model's key columns (`fighter`,
  * then the category and, for title reigns, `start_date`: one fighter can
  * hold one category twice), so each card's rows and their order are
  * total. The reference's order is undefined on ties, and a tie at a
  * LIMIT picked rows by input order and partitioning. For the same reason
  * card 0 orders by its average rounded to 9 decimals: the model's double
  * AVG sums in partition order, so its last bits, and with them the order
  * of equal averages, followed the partitioning.
  */
object MetabaseCards {

  /** The shared fighter-image-URL column (charts.sh:157-169, the inlined
    * fighter_image_url macro). */
  private val imgUrl: String =
    """case
      |    when fighter is null or fighter = '' then null
      |    else concat(
      |      'http://localhost:8888/',
      |      regexp_replace(
      |        regexp_replace(lower(fighter), '[^a-z0-9]+', '_'),
      |        '^_+|_+$',
      |        ''
      |      ),
      |      '.png'
      |    )
      |  end as fighter_image_url""".stripMargin

  private def card(cols: String, table: String, tail: String): String =
    s"SELECT\n  fighter,\n  $imgUrl${if (cols.isEmpty) "" else s",\n  $cols"}\nFROM $table\n$tail"

  /** (card title, spark SQL) in charts.sh order. */
  val all: Seq[(String, String)] = Seq(
    "Quality of Opposition (At Time) - Top 25" -> card(
      "avg_opponent_win_pct_at_time", "mv_quality_of_opposition_faced",
      "ORDER BY round(avg_opponent_win_pct_at_time, 9) DESC NULLS LAST, fighter\nLIMIT 25"),
    "Quality of Opposition (Career Wins) - Top 25" -> card(
      "avg_opponent_career_wins", "mv_quality_of_opposition_faced",
      "ORDER BY avg_opponent_career_wins DESC NULLS LAST, fighter\nLIMIT 25"),
    "Title Fight Wins by Fighter and Category" -> card(
      "category,\n  title_fight_wins", "mv_title_fight_results_by_fighter",
      "WHERE title_fight_wins > 0\nORDER BY title_fight_wins DESC, fighter, category\nLIMIT 50"),
    "Multiple Division Champs" -> card(
      "distinct_title_categories", "mv_multiple_weight_class_champs",
      "ORDER BY distinct_title_categories DESC, total_title_wins DESC, fighter"),
    "Wins Over Champions (Distinct Opponents)" -> card(
      "wins_over_champions", "mv_wins_over_champions_agg",
      "ORDER BY wins_over_champions DESC, fighter\nLIMIT 25"),
    "Longest Winning Streaks (10+)" -> card(
      "longest_win_streak", "mv_fighters_by_longest_winning_streak",
      "ORDER BY longest_win_streak DESC, fighter\nLIMIT 25"),
    "Best Records (Min 10 Fights)" -> card(
      "win_pct", "mv_fighters_best_record_min_10_fights",
      "ORDER BY win_pct DESC, fighter\nLIMIT 25"),
    "Non-Decision Wins" -> card(
      "non_decision_wins", "mv_fighters_by_non_decision_wins",
      "ORDER BY non_decision_wins DESC, fighter\nLIMIT 25"),
    "Title Defenses by Category" -> card(
      "weight_category,\n  title_defenses", "mv_title_defenses",
      "ORDER BY title_defenses DESC, fighter, weight_category\nLIMIT 50"),
    "Championship Rounds Fought (Min 5 Title Fights)" -> card(
      "title_fights,\n  championship_rounds_fought", "mv_championship_rounds_fought",
      "ORDER BY championship_rounds_fought DESC, title_fights DESC, fighter\nLIMIT 50"),
    "Consecutive Title Defenses by Category" -> card(
      "weight_category,\n  max_consecutive_title_defenses", "mv_consecutive_title_defenses",
      "ORDER BY max_consecutive_title_defenses DESC, fighter, weight_category\nLIMIT 50"),
    "Clutch Wins (Min 10 Fights)" -> card(
      "clutch_wins", "mv_clutch_wins_min_10_fights",
      "ORDER BY clutch_wins DESC, fighter\nLIMIT 25"),
    "Total Champ Days by Category" -> card(
      "weight_category,\n  total_champ_days", "mv_total_champ_days",
      "ORDER BY total_champ_days DESC NULLS LAST, fighter, weight_category\nLIMIT 50"),
    "Title Reigns" -> card(
      "weight_category,\n  start_date,\n  end_date,\n  end_reason,\n  reign_days,\n  is_active",
      "mv_title_reigns",
      "ORDER BY reign_days DESC NULLS LAST, fighter, weight_category, start_date\nLIMIT 200"))

  /** Run every card (S6 BI read path). */
  def runAll(spark: SparkSession): Seq[(String, DataFrame)] =
    all.map { case (name, sql) => name -> spark.sql(sql) }
}
