package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Persisted model artifacts: the fit/apply split for the
  * learned-parameter operators (PQ codebooks, IVF coarse centroids,
  * k-means centroids, BPE merges) and the incrementally maintained
  * indexes and sketches. An operator that refits inside its serving
  * query re-pays the corpus-scanning fit on every batch; instead every
  * fit runs ONCE into a durable artifact (plain parquet, readable by any
  * engine) and serves any number of batches. Every fit here is
  * bit-deterministic (md5 seeds, decimal means, fixed tie-breaks), so a
  * rebuilt artifact is byte-identical — loading is a cost optimization,
  * never a semantics change, which lets a served query share its
  * oracle with the refitting form.
  *
  * An artifact is a directory `dir` of named tables (`dir/<table>/`,
  * Hive-partitioned where written with `partitionBy`) plus one manifest,
  * `dir/_manifest.<g>`: generation `g`'s data files, schema and partition
  * columns of every table, the batch-id history [[genStats]] reads, and
  * the build parameters a server must reuse ([[param]]: a sketch's
  * geometry, a filter's bit count).
  * The commit contract — a hand-built table-format commit (Delta Lake's
  * idea, without its log) on a file system whose rename is atomic:
  *  - ONE commit per operator call. [[save]] (a build), [[append]] and
  *    [[rewrite]] (a compaction or retrain) run a body whose
  *    [[Commit.write]]s stage every table the call writes under
  *    `dir/_stage.<g>/`, then rename a complete `_manifest.tmp` to
  *    `_manifest.<g>`: that rename is the commit. Cleanup then moves the
  *    staged files into their tables and deletes superseded files, the
  *    older manifest and the staging directory.
  *  - A crash before the rename (at any data file or at the manifest)
  *    changes nothing: the residue sits under `_`-prefixed paths, which
  *    neither [[load]] nor a plain `spark.read.parquet(dir/<table>)`
  *    lists, and the next commit deletes it.
  *  - A crash after the rename serves the new generation — [[load]]
  *    reads a committed file from staging while it is still there — and
  *    the next commit finishes the cleanup before its own work.
  *  - Between commits each table directory holds exactly its committed
  *    data files, so a plain parquet scan of it reads the same rows.
  *  - One writer per artifact (two commits would both claim g+1);
  *    readers never write.
  *  - A DataFrame loaded before a commit keeps its generation's files.
  *    An append deletes none, so the reader keeps serving the older
  *    generation; after a rewrite's cleanup, a scan of a pre-rewrite
  *    DataFrame fails rather than mix generations.
  * [[load]], [[genStats]] and [[param]] read the manifest only: no
  * listing, no schema-inference job.
  */
object Models {

  /** One committed table: JSON schema as a parquet scan reports it
    * (partition columns last, all nullable), partition columns, and data
    * file lengths by path under the table directory. */
  private final case class Table(schema: String, partitionBy: List[String],
      files: Map[String, Long])

  /** One committed generation: a build's history is (-1), an append with
    * an id adds it, a rewrite folds it to its last id. */
  private final case class Generation(gen: Long, batches: List[Long],
      tables: Map[String, Table], params: Map[String, Int])

  private implicit val formats: Formats = DefaultFormats
  private val ManifestName = """_manifest\.(\d+)""".r
  private def stage(root: Path, gen: Long) = new Path(root, s"_stage.$gen")

  /** The tables of one commit; each [[write]] runs its job at once.
    * Several threads may write and read one commit's distinct tables. */
  final class Commit private[Models] (spark: SparkSession, fs: FileSystem,
      root: Path, prior: Generation, appending: Boolean) {
    @volatile private[Models] var tables = Map.empty[String, Table]
    @volatile private[Models] var params = Map.empty[String, Int]
    @volatile private var staged = Map.empty[String, Table]
    private def out(table: String) = new Path(stage(root, prior.gen + 1), table)

    /** Stage `df` as `table`'s new rows: added to the committed rows in
      * an [[append]], replacing them otherwise. Partitioned by
      * `partitionBy`, else as the committed table is. */
    def write(table: String, df: DataFrame, partitionBy: String*): Commit = {
      val old = prior.tables.get(table).filter(_ => appending)
      val parts = if (partitionBy.nonEmpty) partitionBy.toList
        else prior.tables.get(table).fold(List.empty[String])(_.partitionBy)
      df.write.partitionBy(parts: _*).parquet(out(table).toString)
      val t = Table(old.fold(readSchema(df.schema, parts).json)(_.schema),
        parts, dataFiles(fs, out(table)))
      synchronized {
        staged += table -> t
        tables += table -> t.copy(files =
          old.fold(Map.empty[String, Long])(_.files) ++ t.files)
      }
      this
    }

    /** Stage `f` of `table`'s committed rows as its new rows. */
    def update(table: String)(f: DataFrame => DataFrame): Commit = {
      val t = prior.tables(table)
      write(table, f(relation(spark, t, new Path(root, table), t.files.keys)))
    }

    /** Record the build parameter `name` = `value` (set by a [[save]];
      * later commits carry it forward), read back by [[Models.param]]. */
    def param(name: String, value: Int): Commit = {
      synchronized(params += name -> value)
      this
    }

    /** The rows this commit staged for `table`, so a later table derives
      * from what was written, never from a recompute. */
    def read(table: String): DataFrame = {
      val t = staged(table)
      relation(spark, t, out(table), t.files.keys)
    }
  }

  /** Commit a build: the written tables replace same-named ones and the
    * history restarts at -1 ("fitted, no stream position seen"). */
  def save(spark: SparkSession, dir: String)(body: Commit => Unit): Unit =
    commit(spark, dir, appending = false, body)(_ => List(-1L))

  /** Commit an append: the written rows join the committed tables — the
    * growth path of every incrementally maintained artifact. A fitted
    * model (centroids, codebooks, BPE merges) is rebuilt, never
    * appended. `batchId` is the stream position now seen (a streaming
    * fold's micro-batch id, a batch caller's sequence number, from 0);
    * [[genStats]] counts DISTINCT ids, so a replayed micro-batch folds
    * into the generation it already wrote. */
  def append(spark: SparkSession, dir: String, batchId: Option[Long] = None)(
      body: Commit => Unit): Unit = {
    batchId.foreach(id =>
      require(id >= 0, "appends need an explicit batch/sequence id"))
    commit(spark, dir, appending = true, body)(_ ++ batchId)
  }

  /** Commit a rewrite of the artifact's own contents — every compaction
    * and retrain: the written tables (typically of their [[load]]ed
    * selves, which serve until the commit) replace the committed ones,
    * and the history folds to its last id — ONE generation again. */
  def rewrite(spark: SparkSession, dir: String)(body: Commit => Unit): Unit =
    commit(spark, dir, appending = false, body)(_.maxOption.toList)

  /** The dataset card's freshness row: generation count (DISTINCT batch
    * ids — the compaction-cadence signal) and the last batch id (the
    * staleness signal). */
  def genStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = committed(spark, dir)._3.batches
    Seq((b.distinct.size.toLong, b.maxOption))
      .toDF("n_generations", "last_batch_id")
  }

  /** Build parameter `name` of the artifact at `dir`, as its build
    * recorded it ([[Commit.param]]) — read from the manifest, no job. */
  def param(spark: SparkSession, dir: String, name: String): Int = {
    val g = committed(spark, dir)._3
    g.params.getOrElse(name, sys.error(s"$dir records no parameter $name"))
  }

  /** `table` of the artifact at `dir`: exactly its committed files with
    * the recorded schema — no listing, no Spark job. */
  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    val (fs, root, g) = committed(spark, dir)
    val t = g.tables.getOrElse(table, sys.error(s"$dir has no table $table"))
    val live = new Path(root, table)
    // committed files a crash left in staging are read there
    val staged = new Path(stage(root, g.gen), table)
    val (early, moved) = t.files.keys.partition(dataFiles(fs, staged).contains)
    if (early.isEmpty) relation(spark, t, live, moved)
    else relation(spark, t, staged, early).union(relation(spark, t, live, moved))
  }

  private def commit(spark: SparkSession, dir: String, appending: Boolean,
      body: Commit => Unit)(history: List[Long] => List[Long]): Unit = {
    val (fs, root, last) = newest(spark, dir)
    val prior = last.getOrElse(Generation(0L, Nil, Map.empty, Map.empty))
    settle(fs, root, prior) // a crashed commit's cleanup or residue
    val c = new Commit(spark, fs, root, prior, appending)
    body(c)
    val next = Generation(prior.gen + 1, history(prior.batches),
      prior.tables ++ c.tables, prior.params ++ c.params)
    val tmp = new Path(root, "_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(Serialization.write(next).getBytes(UTF_8)) finally out.close()
    require(fs.rename(tmp, new Path(root, s"_manifest.${next.gen}")),
      s"commit of generation ${next.gen} failed at $dir")
    settle(fs, root, next)
    // as Spark's own append to a table path does: cached results over a
    // grown table drop their blocks and recompute on next use
    if (appending) c.tables.keys.foreach(t =>
      spark.catalog.refreshByPath(new Path(root, t).toString))
  }

  /** Bring `root` to exactly generation `g`: move its staged files into
    * their tables, delete table files it does not name, other manifests
    * and every staging directory. Idempotent, so the next commit finishes
    * a cleanup a crash cut short. */
  private def settle(fs: FileSystem, root: Path, g: Generation): Unit = {
    g.tables.foreach { case (name, t) =>
      val (live, staged) = (new Path(root, name), new Path(stage(root, g.gen), name))
      dataFiles(fs, staged).keys.foreach { rel =>
        fs.mkdirs(new Path(live, rel).getParent)
        require(fs.rename(new Path(staged, rel), new Path(live, rel)),
          s"moving committed $staged/$rel into $live failed")
      }
      (dataFiles(fs, live).keySet -- t.files.keySet)
        .foreach(rel => fs.delete(new Path(live, rel), false))
    }
    entries(fs, root)
      .filter(p => p.getName.startsWith("_") && p.getName != s"_manifest.${g.gen}")
      .foreach(fs.delete(_, true))
  }

  /** A DataFrame over exactly `files` under `root`: the file index is
    * served their recorded statuses, so it lists and infers nothing. */
  private def relation(spark: SparkSession, t: Table, root: Path,
      files: Iterable[String]): DataFrame = {
    val known = new FileStatusCache {
      override def getLeafFiles(p: Path) = Some(files.map(f =>
        new FileStatus(t.files(f), false, 0, 0L, 0L, new Path(root, f))).toArray)
      def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val s = DataType.fromJson(t.schema).asInstanceOf[StructType]
    val (parts, data) = s.partition(f => t.partitionBy.contains(f.name))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new InMemoryFileIndex(spark, Seq(root), Map.empty, Some(s), known),
      StructType(parts), StructType(data), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** What a parquet scan reports for `schema` written partitioned by
    * `parts`: those columns last, every field nullable. */
  private def readSchema(schema: StructType, parts: Seq[String]): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType))
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType))
      case o => o
    }
    nullable(StructType(schema.filterNot(f => parts.contains(f.name)) ++
      parts.map(schema(_)))).asInstanceOf[StructType]
  }

  /** Data file lengths by path under `dir`, skipping the `_`/`.` names
    * parquet readers skip. */
  private def dataFiles(fs: FileSystem, dir: Path): Map[String, Long] = {
    def walk(p: Path, prefix: String): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.filterNot(s => "_.".contains(s.getPath.getName.head))
        .flatMap { s =>
          val rel = prefix + s.getPath.getName
          if (s.isDirectory) walk(s.getPath, rel + "/") else Seq(rel -> s.getLen)
        }
    if (fs.exists(dir)) walk(dir, "").toMap else Map.empty
  }

  private def entries(fs: FileSystem, root: Path): Seq[Path] =
    if (fs.exists(root)) fs.listStatus(root).toSeq.map(_.getPath) else Nil

  /** `dir`'s file system, qualified path and newest committed generation. */
  private def newest(spark: SparkSession,
      dir: String): (FileSystem, Path, Option[Generation]) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(dir))
    (fs, root, entries(fs, root).map(_.getName)
      .collect { case ManifestName(g) => g.toLong }.maxOption.map { g =>
        val in = fs.open(new Path(root, s"_manifest.$g"))
        try Serialization.read[Generation](new String(in.readAllBytes(), UTF_8))
        finally in.close()
      })
  }

  private def committed(spark: SparkSession,
      dir: String): (FileSystem, Path, Generation) = {
    val (fs, root, g) = newest(spark, dir)
    (fs, root, g.getOrElse(sys.error(s"no artifact committed at $dir")))
  }

  private val built = new ConcurrentHashMap[String, String]()

  /** Build-once-per-JVM: the first call for `key` runs `build` against a
    * fresh temp directory and returns it; later calls return the same
    * directory without building. Keyed per (operator, dataset, params) by
    * the caller. Temp-dir scoped so an artifact can never outlive the JVM
    * and serve a different dataset generation. */
  def ensureBuilt(key: String)(build: String => Unit): String =
    built.computeIfAbsent(key, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft_model_")
        .toString
      build(dir)
      dir
    })
}
