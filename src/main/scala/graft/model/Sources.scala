package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** UFC source-table ingestion (SURVEY §2.1 S1-S3).
  *
  * Mirrors the reference loader's contract (dlt/load.py:18-46): every raw
  * column is text, headers are snake_case-normalized ("TIME FORMAT" →
  * time_format, dlt/load.py behavior the staging SQL relies on —
  * SURVEY §7.4.8), and table identity follows the fact_/dim_ filename
  * convention (dlt/load.py:25-29). Write side is full-replace
  * (write_disposition="replace", dlt/load.py:35) →
  * `mode("overwrite")` parquet/saveAsTable.
  */
object Sources {

  /** dlt-style identifier normalization: lower-case, runs of
    * non-alphanumerics → '_', trimmed of edge underscores. */
  def snakeCase(name: String): String =
    name.trim.toLowerCase
      .replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")

  /** fact_/dim_ routing by filename stem (dlt/load.py:18-29). */
  private val factStems = Set("ufc_fight_results", "ufc_fight_details", "ufc_fight_stats")

  def tableNameFor(fileStem: String): String = {
    val stem = snakeCase(fileStem)
    if (factStems.contains(stem)) s"fact_$stem" else s"dim_$stem"
  }

  /** All-text schema from a header list (dlt infers text for CSV). */
  def textSchema(columns: Seq[String]): StructType =
    StructType(columns.map(c => StructField(snakeCase(c), StringType, nullable = true)))

  /** CSV scan with header + snake_case normalization; all columns text,
    * exactly like the dlt load (strong types are created in staging). */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(path)
    raw.toDF(raw.columns.map(snakeCase).toIndexedSeq: _*)
  }

  /** Full-replace relational sink (S3): idempotent rebuild per run. */
  def writeReplace(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Schema'd JSONL scan — the training-data interchange format (one
    * JSON object per line). Read with an EXPLICIT schema: the two
    * properties that make JSONL viable at 100 TB are line-splittability
    * (any byte range extends to line boundaries, so a 10 GB file fans
    * out across tasks) and a known schema (inference is a second full
    * scan of every byte; passing the schema keeps ingestion
    * single-pass). */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    // DROPMALFORMED: the poison-blob contract of the media decoders,
    // applied to text ingestion — a 100 TB crawl always carries some
    // UNPARSEABLE lines, and the default PERMISSIVE mode would inject
    // an all-null row for each instead of dropping it at the gate.
    // Scope: this drops lines that fail to PARSE as JSON only; a
    // structurally valid object with missing/null fields still yields
    // a row with null columns — callers needing non-null guarantees on
    // required columns add an explicit notNull filter downstream
    spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)

  /** Full-replace JSONL sink (one object per line, the readJsonl twin). */
  def writeJsonlReplace(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC scan — the second columnar interchange format a lakehouse
    * ingests besides parquet (Spark-native reader: vectorized, with
    * predicate pushdown into stripe/row-group stats and column pruning,
    * same as the parquet path). Schema comes from the ORC footer, so no
    * inference scan. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Full-replace ORC sink (the readOrc twin). Preserves the full typed
    * surface — timestamps, decimals, nested arrays — unlike text
    * formats, which is what the roundtrip query differentially tests. */
  def writeOrcReplace(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Schema-evolved parquet read: a long-lived 100 TB table accretes
    * columns across years of writer generations; `mergeSchema` unions the
    * per-file footers in ONE scan (older files surface the new columns as
    * NULL) instead of forcing a petabyte rewrite on every schema change.
    * Off by default in Spark because footer-merging costs a pass over
    * file metadata — turn it on only at generation boundaries, or pass
    * the unified schema explicitly once it's known. */
  def readParquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
