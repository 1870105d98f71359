package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md) plus the
  * canonical schema for reference-shaped legal documents
  * (reference: schema.json:1-22, fetch_legal_docs.py:74-85).
  *
  * Scale note: every loader is a plain parquet scan — Catalyst handles
  * predicate pushdown / column pruning, and at cluster scale the same
  * call reads a partitioned directory tree; nothing here assumes
  * single-file inputs.
  */
object Tables {
  /** Memoized per-(session, path) table handles. `spark.read.parquet` lists
    * the directory and reads footers eagerly to build the FileIndex +
    * schema; re-resolving that for every catalog query is pure fixed
    * overhead (the round-1 bench paid it 49×). The corpus paths are
    * immutable driver testdata, so one resolution per session is sound; a
    * stopped session's entries are dead weight only until the next lookup
    * with a live session (bounded: #sessions × #tables).
    */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    resolved.computeIfAbsent((spark, s"$dir/$name.parquet"),
      key => key._1.read.parquet(key._2))

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.ts has shipped as TIMESTAMP(NANOS) (rounds 1–7) and as
    * TIMESTAMP(MICROS) (round 8+) across corpus regenerations, so detect
    * the physical form and normalize to a session-tz TimestampType column
    * either way. NANOS: Spark 4 refuses to read it as a timestamp — read
    * nanos as LONG and truncate to µs, exactly what DuckDB does on read,
    * so oracle parity holds (SURVEY §7.3). MICROS: arrives as
    * TIMESTAMP_NTZ; cast to TimestampType (identical wall-clock under the
    * UTC session tz every entry point sets).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — expected raw " +
          "nanos LONG, TIMESTAMP, or TIMESTAMP_NTZ; refusing to guess")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Money columns are DOUBLE in the corpus; aggregate on DECIMAL(18,2)
    * for determinism (SURVEY §7.3) then surface as DOUBLE.
    */
  def money(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(18, 2))

  /** Fixed document schema from the reference contract
    * (reference: schema.json:1-22). Explicit — never inferred.
    */
  val legalDocSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("year", StringType),          // "" sentinel, never null
    StructField("sourceURL", StringType),
    StructField("dateIngested", StringType),  // ISO yyyy-MM-dd
    StructField("category", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("content", StringType),
    StructField("caseFields", StructType(Seq(
      StructField("issue", StringType),
      StructField("holding", StringType),
      StructField("ratio", StringType)))),
    StructField("legisFields", StructType(Seq(
      StructField("scope", StringType),
      StructField("keyArticles", ArrayType(StringType)),
      StructField("effectiveDate", StringType)))),
    StructField("templateFields", StructType(Seq(
      StructField("placeholders", ArrayType(StringType)))))
  ))
}
