package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.{BloomOps, TextOps}
import graft.functions.expressions.NativeExprs

/** Benchmark decontamination — per-document count of distinct w-shingles
  * shared with an eval-suite shingle set (the n-gram-overlap contamination
  * check every pre-training corpus runs against its benchmarks). Library
  * facade for the declared q44/q51 catalog entries; both strategies return
  * identical EXACT results and differ only in how the benchmark set is
  * distributed:
  *
  *  - [[overlap]] — the eval set is small by nature (eval suites), so its
  *    distinct shingle set BROADCASTS and the corpus side stays a narrow
  *    scan + broadcast semi-aggregation. The default.
  *  - [[overlapBloom]] — for eval suites too large to broadcast as an
  *    exact set: a distributed-built bloom filter (~9.6 bits/key at 1 %
  *    fpp vs ≥64 bits + hash-table overhead exact) pre-cuts the corpus
  *    shingle stream via the codegen'd might_contain probe inside the
  *    scan, and ONLY the ~fpp survivors take the exact-verify shuffled
  *    join — no exact-set broadcast anywhere. False positives die in the
  *    verify join, so results match [[overlap]] byte-for-byte (CatalogSpec
  *    asserts it; both share one DuckDB oracle).
  *
  * Shingles compare as 60-bit md5 prefixes (the q31 inverted-index
  * collision tolerance; the string-keyed oracle would surface any
  * collision).
  */
object Decontaminate {

  /** (id, sh) stream of DISTINCT w-shingle 60-bit digests per document —
    * the one-pass native kernel, computed inside the scan projection.
    */
  def shingleSet(docs: DataFrame, idCol: String, textCol: String,
                 w: Int = 3, hexDigits: Int = 15): DataFrame =
    docs.select(col(idCol),
      explode(NativeExprs.shingleMd5Prefixes(
        TextOps.tokens(col(textCol)), w, hexDigits)).as("sh"))

  /** Attach overlap counts to the corpus id spine: (idCol, n_overlap,
    * contaminated), one row per corpus document (zero-overlap docs kept).
    */
  private def attach(corpusIds: DataFrame, overlap: DataFrame,
                     idCol: String): DataFrame =
    corpusIds
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).cast(LongType).as("n_overlap"),
        (coalesce(col("n"), lit(0L)) > 0).as("contaminated"))

  /** Sparse overlap counts, broadcast-exact form: (idCol, n) for docs with
    * n ≥ 1 shared shingles ONLY — callers that just need the contaminated
    * ids (e.g. [[CorpusPipeline]]'s stage 2b) filter this directly instead
    * of paying [[overlap]]'s corpus-spine left join to resurrect the
    * zero-overlap rows they would immediately discard.
    */
  def overlapCounts(corpusShingled: DataFrame,
                    benchShingled: DataFrame, idCol: String): DataFrame = {
    val bench = benchShingled.select("sh").distinct()
    corpusShingled
      .join(broadcast(bench), Seq("sh"))
      .groupBy(idCol).agg(count(lit(1)).as("n"))
  }

  /** Streaming-safe contamination predicate: TRUE when any distinct
    * w-shingle of `textCol` probes the bloom filter — a pure per-row
    * scalar (shingle kernel + `exists` over the codegen'd might_contain),
    * no explode, no join, no state, so it works as-is under
    * `readStream`/`writeStream` (the batch strategies need a join the
    * streaming planner would reject without watermark machinery).
    * CONSERVATIVE by the filter's fpp: ~fpp of clean documents false-
    * positive into the gate — acceptable for an ingest quarantine, use
    * the exact batch forms for the training-set cut. Null-text documents
    * evaluate to FALSE (not null): they have no shingles, so they cannot
    * be contaminated, and the documented `.filter(!bloomContaminated(…))`
    * gate must deterministically PASS them rather than silently dropping
    * them through three-valued logic.
    */
  def bloomContaminated(textCol: Column, filterBytes: Array[Byte],
                        w: Int = 3, hexDigits: Int = 15): Column =
    coalesce(
      exists(
        NativeExprs.shingleMd5Prefixes(TextOps.tokens(textCol), w, hexDigits),
        sh => BloomOps.mightContainLong(filterBytes, sh)),
      lit(false))

  /** Broadcast-exact form (q44 shape). `corpusShingled`/`benchShingled`
    * are [[shingleSet]] outputs; `corpusIds` is the one-column id spine
    * the counts attach to (zero-overlap docs kept with n_overlap = 0).
    */
  def overlap(corpusShingled: DataFrame, benchShingled: DataFrame,
              corpusIds: DataFrame, idCol: String): DataFrame =
    attach(corpusIds,
      overlapCounts(corpusShingled, benchShingled, idCol), idCol)

  /** Benchmark-side contamination report (q58 shape) — the inverse
    * aggregation of [[overlap]]: instead of "how contaminated is each
    * corpus document", answer "how BURNED is each benchmark item" —
    * for every eval document, how many corpus documents share at least
    * one of its w-shingles, how many of its distinct shingles appear
    * anywhere in the corpus, and the burned fraction. This is the
    * report an eval-suite owner reads to decide which items are still
    * trustworthy after a crawl refresh.
    *
    * Scale shape: the CORPUS shingle stream (the 100 TB side) is never
    * shuffled by value — the small bench (bench_id, sh) pairs broadcast
    * into a hash join inside the corpus scan, and the two distinct
    * counts aggregate at eval-suite group cardinality (bounded and
    * small by declaration; Spark's two-phase expand handles the dual
    * countDistinct with map-side partials). Bench items whose text has
    * fewer than w tokens have no shingles and no report row, by
    * definition.
    */
  def report(corpusShingled: DataFrame, benchShingled: DataFrame,
             idCol: String): DataFrame = {
    val bench = benchShingled
      .select(col(idCol).as("bench_id"), col("sh"))
    val totals = bench.groupBy("bench_id")
      .agg(count(lit(1)).as("n_shingles"))
    val hits = corpusShingled
      .join(broadcast(bench), Seq("sh"))
      .groupBy("bench_id")
      .agg(countDistinct(col(idCol)).as("n_docs_hit"),
           countDistinct(col("sh")).as("n_shingles_hit"))
    totals.join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
        coalesce(col("n_shingles_hit"), lit(0L)).as("n_shingles_hit"),
        round(coalesce(col("n_shingles_hit"), lit(0L)) * lit(1.0) /
              col("n_shingles"), 4).as("burn_frac"))
  }

  /** Bloom-prefiltered form (q51 shape). The filter is sized from the
    * measured benchmark cardinality (known a priori in production), so
    * the plan-embedded literal stays proportional to the suite. The
    * benchmark set is cached only across the count/build pair and
    * RELEASED before returning — the facade leaks nothing into the
    * session's cache; the exact-verify join recomputes the bench
    * distinct once more, a narrow scan + small shuffle of the eval
    * suite (small by declaration), which is the price of a
    * self-contained operator.
    */
  def overlapBloom(corpusShingled: DataFrame, benchShingled: DataFrame,
                   corpusIds: DataFrame, idCol: String,
                   fpp: Double = 0.01): DataFrame = {
    val bench = benchShingled.select("sh").distinct()
    bench.persist()
    val bloom =
      try BloomOps.buildLongFilter(
        bench, "sh", math.max(bench.count(), 1L), fpp)
      finally bench.unpersist(blocking = false)
    val survivors = corpusShingled
      .filter(BloomOps.mightContainLong(bloom, col("sh")))
    val counts = survivors
      .join(bench.hint("shuffle_hash"), Seq("sh"))
      .groupBy(idCol).agg(count(lit(1)).as("n"))
    attach(corpusIds, counts, idCol)
  }
}
