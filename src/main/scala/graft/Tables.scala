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

  /** Scale-adaptive scan fanout (r18, guide §2 — derive partitioning from
    * input size, never a constant): a single-row-group parquet file scans
    * as ONE task no matter how many cores the session has, so every
    * per-row kernel downstream (shingle build, 16-perm md5 signatures,
    * window fingerprints, vector distances) runs single-threaded until
    * the first exchange — measured at sf0.1 as c8 ≈ c32 across the whole
    * catalog (BENCH_r17 vs BENCH_r17_c8). When the input is too narrow to
    * reach the session's parallelism, hash-repartition on a stable key of
    * the caller's input contract up to the parallelism; when the scan
    * already fans wider — any real-scale corpus, where splits number in
    * the thousands — the gate is false and NO shuffle is ever added, so
    * the 100 TB plan shape is untouched. Hash keys (not round-robin) keep
    * the layout a pure function of row content: deterministic under task
    * retry (guide §2.5's SPARK-38388 caveat) with no
    * sort-before-repartition pass, and identical across hosts. The
    * shuffle this pays at small scale is bounded by scanPartitions ×
    * maxPartitionBytes — exactly the regime where cores are idle and
    * bytes are cheap.
    *
    * The gate reads plan facts only — nothing runs, nothing is planned
    * physically — because it is called while callers are still BUILDING
    * their frame: an `rdd.getNumPartitions` probe on a frame carrying an
    * `Observation` fires that observation with zeros (r18's q55 shipped
    * `n_input=0` under AQE off exactly so). Partition counts are the
    * wrong fact anyway: Spark's split packing targets bytesPerCore, so
    * even a 2 MB single-row-group file "plans" 32 byte-range splits, all
    * but one EMPTY (a row group is the minimum split unit). The honest
    * proxies are the file count (rows cannot spread wider than one task
    * per file here) and the relation size: fan when the input has fewer
    * FILES than cores AND is small enough that one extra shuffle is
    * trivially cheap (bounded by parallelism × maxPartitionBytes — the
    * budget one ordinary scan wave would read anyway). Any real-scale
    * corpus fails both conditions (thousands of files, TBs of bytes) and
    * the gate is the identity.
    */
  private def needsFanout(df: DataFrame, want: Int): Boolean = {
    val conf = df.sparkSession.sessionState.conf
    val budget = BigInt(want.toLong) * conf.filesMaxPartitionBytes
    df.inputFiles.length < want &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes < budget
  }

  private def fanout(df: DataFrame, keys: Seq[String]): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (needsFanout(df, want)) df.repartition(want, keys.map(col): _*)
    else df
  }

  /** Public [[fanout]] for operator call sites (the pair core, the LSH
    * signature pass, shingle/fingerprint kernels): callers whose per-row
    * map work dominates apply it immediately before that work. It is NOT
    * applied table-wide: for a light map feeding a high-cardinality
    * partial aggregation (token/vocab-grain groupBys), fanning the scan
    * multiplies the map-side partials — up to one partial per key per
    * partition — so the exchange carries MORE rows than the single-task
    * form, and the measured A/B window showed exactly that
    * (q45/q70/q49/q26/q28 regressed 60–260 ms under table-wide fanout
    * while the kernel families improved 0.4–2 s; see dev/r18).
    */
  def wide(df: DataFrame, keys: String*): DataFrame = fanout(df, keys)

  /** [[wide]]'s RANGE-partitioned twin for per-row map queries whose FINAL
    * global sort is on `key` (r18): fanning by range instead of hash makes
    * the output partitioning `RangePartitioning(key)`, which map-only
    * operators preserve — so the final `orderBy(key)` plans as
    * per-partition local sorts with NO exchange and, crucially, NO
    * range-boundary sampling pass: a RangePartitioning exchange re-executes
    * its whole child subtree to sample boundaries, which for these queries
    * meant computing the per-doc kernel TWICE. Here the one range exchange
    * (and its boundary sample) sits directly on the cheap scan, below the
    * kernel. Same scale gate as [[wide]]: at real corpus size the scan
    * already fans wider and this is the identity — the production plan
    * keeps its ordinary sort. Boundaries come from Spark's deterministic
    * fixed-seed sampler, so the layout is reproducible run to run.
    */
  def wideOrdered(df: DataFrame, key: String): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (needsFanout(df, want)) df.repartitionByRange(want, col(key))
    else df
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  /** orders/lineitem/events do NOT fan out at the table (r18, measured
    * both ways and reverted): their consumers are light maps feeding
    * aggregations or joins, where the un-fanned single-task scan shuffles
    * only tiny map-side partials — a table fanout replaces that with a
    * SINGLE-THREADED full-table shuffle write (decode + serialize +
    * compress of every row on the one real task, a row group being the
    * minimum split unit) before any parallelism exists, and the keyed
    * table-fanout A/B window regressed the whole family (q13 +451 ms,
    * q47 +403, q72 +389, q17/q18 +330, …; dev/r18/bench_w3_gatefix.json).
    * Fanout pays only where per-row KERNEL work dominates serialization —
    * the documents/embeddings text/vector kernels, fanned at their
    * operator call sites via [[wide]]/[[wideOrdered]].
    */
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
