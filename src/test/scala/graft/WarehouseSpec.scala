package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, concat, lit, regexp_replace, to_date, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Analytics, MetabaseCards, Sources, Warehouse}

/** S5/S6 serving-layer tests: the full DAG registered as temp views, the 14
  * Metabase card queries run as Spark SQL over them, each compared against
  * the reference card SQL executed in DuckDB (goldens from
  * tools/gen_goldens.py). Every test leaves the fixture views registered.
  */
class WarehouseSpec extends AnyFunSuite {
  import WarehouseSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def res(p: String): String = getClass.getResource(p).getPath

  private def fixtures: Seq[DataFrame] = Seq(
    "dim_ufc_event_details", "fact_ufc_fight_results",
    "title_status_changes_outside_octagon")
    .map(f => Sources.readCsv(spark, res(s"/fixtures/$f.csv")))

  /** registerViews over (events, results, vacancies), with the
    * reference's current_date pinned to the golden generation date. */
  private def register(raw: Seq[DataFrame]): Map[String, DataFrame] = {
    val Seq(ev, results, vac) = raw
    val v = Warehouse.registerViews(spark, ev, results, vac)
    Analytics.totalChampDays(v("mv_title_reigns"), to_date(lit("2026-01-01")))
      .createOrReplaceTempView("mv_total_champ_days")
    v
  }

  lazy val views: Map[String, DataFrame] = register(fixtures)

  /** Each row as text, doubles to 9 significant digits: a double sum's
    * last bits follow its partitioning (14.65 or 14.649999999999999). */
  private def render(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { row =>
      row.toSeq.map {
        case null => "␀"
        case d: Double => BigDecimal(d).round(new java.math.MathContext(9))
          .bigDecimal.stripTrailingZeros.toPlainString
        case v => v.toString
      }.mkString("|")
    }

  private def normalize(df: DataFrame): Seq[String] = render(df).sorted

  /** `f` of every element on 4 client threads, in order. */
  private def par[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit[B](() => f(x))).map { r =>
      try r.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    } finally pool.shutdown()
  }

  /** Card `i` against its golden: None when equal, else the diff. */
  private def goldenDiff(i: Int): Option[String] = {
    val (title, sql) = MetabaseCards.all(i)
    val actual = spark.sql(sql)
    val slug = title.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")
    val expected = spark.read
      .option("header", "true")
      .option("nullValue", "\\N")
      .schema(actual.schema)
      .csv(res(f"/goldens/card_$i%02d_$slug.csv"))
    Option.when(normalize(actual) != normalize(expected))(
      s"card '$title' mismatch:\nexpected:\n${normalize(expected).mkString("\n")}\nactual:\n${normalize(actual).mkString("\n")}")
  }

  private def allCardsMatchGoldens(): Unit =
    par(MetabaseCards.all.indices)(goldenDiff).flatten.foreach(d => fail(d))

  private val cards: Seq[Card] = MetabaseCards.all.map { case (_, sql) =>
    sql match {
      case CardSql(t, w, o, l) => Card(t, Option(w).getOrElse(""), o, Option(l).map(_.toInt))
    }
  }

  test("all 28 views register and are queryable") {
    assert(views.size == 28)
    views.keys.foreach { alias =>
      // smoke: every registered view answers SQL (count may be 0 for
      // threshold-filtered models on the tiny fixture)
      spark.sql(s"SELECT * FROM $alias").count()
    }
  }

  MetabaseCards.all.zipWithIndex.foreach { case ((title, _), i) =>
    test(s"card $i: $title") {
      views // force registration
      goldenDiff(i).foreach(d => fail(d))
    }
  }

  test("cards and models do not depend on input partitioning: the fixtures " +
      "×4 repartitioned 1-, 4- and 7-wide") {
    // four copies of the fixtures, fighter and event names suffixed with the
    // copy number: every model value recurs, so the cards tie at their LIMITs
    val Seq(ev, results, vac) = fixtures
    val copies = (0 until 4).map { k =>
      val sfx = if (k == 0) "" else s"$k"
      def tag(c: String) = concat(col(c), lit(sfx))
      Seq(ev.withColumn("event", tag("event")),
        results.withColumn("event", tag("event")).withColumn("bout",
          concat(regexp_replace(col("bout"), " vs\\. ", s"$sfx vs. "), lit(sfx))),
        vac.withColumn("fighter", tag("fighter")))
    }
    val raw = copies.transpose.map(_.reduce(_ union _))

    /** Each card's ordered rows and each model's sorted rows, by name. */
    def answers(width: Int): Seq[(String, Seq[String])] = {
      val v = register(raw.map(_.repartition(width)))
      par(MetabaseCards.all.map { case (title, sql) => (title, spark.sql(sql), false) } ++
          v.keys.toSeq.sorted.map(alias => (alias, spark.table(alias), true))) {
        case (name, df, sorted) => name -> (if (sorted) normalize(df) else render(df))
      }
    }
    try {
      val one = answers(1)
      par(cards.zip(MetabaseCards.all)) { case (c, (title, _)) =>
        val keyed = spark.sql(s"SELECT ${c.keys.mkString(", ")} FROM ${c.table} ${c.where}")
        assert(keyed.count() == keyed.distinct().count(),
          s"'$title': ORDER BY ${c.orderBy} is not unique in ${c.table}")
      }
      val straddled = par(cards.zip(MetabaseCards.all)) { case (c, (title, _)) =>
        title -> c.limit.exists { n =>
          val lead = spark.sql(s"SELECT ${c.keys.head} FROM ${c.table} ${c.where} " +
            s"ORDER BY ${c.orderBy}").collect()
          lead.length > n && lead(n - 1) == lead(n)
        }
      }.collect { case (title, true) => title }
      assert(straddled.nonEmpty, "no card ties across its LIMIT: the input proves nothing")
      Seq(4, 7).foreach { w =>
        one.zip(answers(w)).foreach { case ((name, a), (_, b)) =>
          assert(a == b, s"'$name' at width $w")
        }
      }
    } finally register(fixtures)
  }

  test("a failed registerViews surfaces its error; the previous generation " +
      "keeps serving") {
    views
    val Seq(ev, results, vac) = fixtures
    // titleReigns reads the vacancies, so the scan fails after the staging
    // tables are staged
    val boom = udf((s: String) =>
      if (s == null) s else throw new IllegalStateException("vacancy scan failed"))
    val e = intercept[Exception](Warehouse.registerViews(spark, ev, results,
      vac.withColumn("fighter", boom(col("fighter")))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("vacancy scan failed")), e)
    allCardsMatchGoldens()
    register(fixtures)
    allCardsMatchGoldens()
  }

  test("a 14-card refresh starts at most 17 jobs") {
    views
    // a LIMIT card over a committed table is one TakeOrderedAndProject
    // job; card 3's global sort samples, shuffles and collects, and card
    // 12's aggregating view shuffles and collects
    val jobs = MetabaseCards.all.zip(cards).map { case ((title, sql), c) =>
      val budget = if (c.table == "mv_total_champ_days") 2 else if (c.limit.isEmpty) 3 else 1
      (title, budget, SparkJobs.during(spark)(spark.sql(sql).collect(): Unit))
    }
    assert(jobs.forall { case (_, budget, n) => n <= budget }, s"(card, budget, jobs): $jobs")
    assert(jobs.map(_._3).sum <= 17, s"(card, budget, jobs): $jobs")
  }

  test("every card scans exactly one file relation, a committed model table") {
    views
    MetabaseCards.all.zip(cards).foreach { case ((title, sql), c) =>
      val leaves = spark.sql(sql).queryExecution.optimizedPlan.collectLeaves()
      val roots = leaves.collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths }.flatten
      assert(leaves.size == 1 && roots.size == 1, s"'$title' leaves: $leaves")
      val table = roots.head
      val want = if (c.table == "mv_total_champ_days") "mv_title_reigns" else c.table
      assert(table.getName == want, s"'$title' scans $table")
      val dir = table.getParent
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.listStatus(dir).exists(_.getPath.getName.matches("_manifest\\.\\d+")),
        s"'$title' scans $table, which is not in a committed artifact")
    }
  }
}

private object WarehouseSpec {
  /** A card's SQL split into its model, WHERE clause, ORDER BY columns
    * and LIMIT. */
  val CardSql =
    """(?s).*\nFROM (\w+)\n(?:(WHERE [^\n]*)\n)?ORDER BY ([^\n]*)(?:\nLIMIT (\d+))?""".r

  final case class Card(table: String, where: String,
      orderBy: String, limit: Option[Int]) {
    /** The ORDER BY expressions, without direction or null order. */
    def keys: Seq[String] = orderBy.split(",(?![^(]*\\))").toSeq
      .map(_.replaceAll("(?i)\\s(ASC|DESC|NULLS|FIRST|LAST)\\b", "").trim)
  }
}
