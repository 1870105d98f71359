package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import org.apache.spark.sql.graft.RowKernel

/** Exact top-k heavy hitters under BOUNDED memory — the 100 TB alternative
  * to q26's full token-universe groupBy. At web scale the distinct-token
  * universe (misspellings, URLs, numbers, code identifiers) can run to
  * billions of keys, so even the map-side-combined (token, count) shuffle
  * of a plain groupBy carries |vocab per partition| rows and the reduce
  * side must hold the full universe. The two-pass scheme here never
  * materializes the universe:
  *
  *   pass 1 — a Misra–Gries summary of capacity m per partition (mergeable
  *     summaries, Agarwal et al., PODS'12): each task folds its tokens into
  *     ≤ m counters, the shuffle carries ≤ m rows per task, and the merged
  *     summary provably contains every token with true frequency > delta
  *     (the summary's accumulated decrement total).
  *   pass 2 — the ≤ m surviving candidates re-count EXACTLY in one narrow
  *     scan (an `isin` literal filter ahead of the shuffle, so only
  *     candidate tokens leave their scan tasks), then top-k by
  *     (count desc, token).
  *
  * The result is certified exact, not approximate: any non-candidate has
  * true count ≤ delta, so if the k-th candidate's EXACT count exceeds
  * delta, no dropped token can displace the returned top-k. `certify=true`
  * enforces that with a k-row driver check and throws rather than return a
  * possibly-wrong answer (the m lever: raise capacity until the
  * certificate holds — delta shrinks as O(N/m)).
  */
object HeavyHitters {

  /** Summary state: surviving counters plus the cumulative per-counter
    * decrement `delta`. Invariant (maintained by reduce and merge):
    *   f(x) − delta ≤ est(x) ≤ f(x)   for every token x,
    * with est(x) = 0 when x is absent — so absence proves f(x) ≤ delta.
    */
  final case class MGSummary(counts: Map[String, Long], delta: Long)

  /** Weighted mergeable Misra–Gries. Compression on overflow subtracts the
    * (m+1)-th largest counter value from EVERY counter and drops the
    * non-positive — at most m survive (only values strictly above the
    * pivot), and the subtracted pivot accumulates into `delta`, preserving
    * the invariant through arbitrary merge trees (partition count and
    * merge order cannot change what the bound proves, only how tight
    * delta is).
    */
  final class MisraGriesAgg(m: Int)
      extends Aggregator[Seq[String], MGSummary, MGSummary] with RowKernel {
    require(m > 0, "MisraGries capacity must be positive")

    def zero: MGSummary = MGSummary(Map.empty, 0L)

    private def compress(c: Map[String, Long], delta: Long): MGSummary =
      if (c.size <= m) MGSummary(c, delta)
      else {
        val vs = c.valuesIterator.toArray
        java.util.Arrays.sort(vs)
        val pivot = vs(vs.length - 1 - m) // (m+1)-th largest
        val kept = c.iterator
          .collect { case (k, n) if n > pivot => k -> (n - pivot) }
          .toMap
        MGSummary(kept, delta + pivot)
      }

    def reduce(b: MGSummary, toks: Seq[String]): MGSummary = {
      if (toks == null) b
      else {
        // fold the document locally, then apply once — one map update per
        // DISTINCT token in the doc, not per instance
        val local = new scala.collection.mutable.HashMap[String, Long]
        toks.foreach { t =>
          if (t != null) local.update(t, local.getOrElse(t, 0L) + 1L)
        }
        var c = b.counts
        local.foreach { case (k, n) => c = c.updated(k, c.getOrElse(k, 0L) + n) }
        compress(c, b.delta)
      }
    }

    def merge(a: MGSummary, b: MGSummary): MGSummary = {
      var c = a.counts
      b.counts.foreach { case (k, n) => c = c.updated(k, c.getOrElse(k, 0L) + n) }
      compress(c, a.delta + b.delta)
    }

    def finish(b: MGSummary): MGSummary = b
    def bufferEncoder: Encoder[MGSummary] = Encoders.product[MGSummary]
    def outputEncoder: Encoder[MGSummary] = Encoders.product[MGSummary]
  }

  /** Merged pass-1 summary over the tokenized corpus (one driver-visible
    * row: ≤ m counters + delta). The aggregate is partial: each task ships
    * one bounded buffer, never its token stream.
    */
  def summarize(docs: DataFrame, textCol: String, m: Int): MGSummary = {
    val mg = udaf(new MisraGriesAgg(m))
    val row = docs.select(mg(TextOps.tokens(col(textCol))).as("s"))
      .head()
    val s = row.getStruct(0)
    MGSummary(s.getMap[String, Long](0).toMap, s.getLong(1))
  }

  /** Certified-exact top-k tokens via the two-pass bounded-memory scheme.
    * Throws when `certify` and the certificate fails (k-th exact candidate
    * count not above delta — raise m). The returned plan is lazy; the
    * certificate re-runs only the k-row pass-2 head, not pass 1.
    */
  def exactTopK(docs: DataFrame, textCol: String, k: Int, m: Int,
                certify: Boolean = true): DataFrame = {
    val summary = summarize(docs, textCol, m)
    // deterministic literal order (map iteration order is not)
    val cand = summary.counts.keys.toArray.sorted
    val exact = docs.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .where(col("token").isin(cand.toIndexedSeq: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
      // the certificate collects these k rows and the caller then
      // consumes the same frame — persist the k-row result so pass 2's
      // corpus scan runs once, not once per consumer (the q64
      // double-scan rule; a k-row cache is free at any scale). The cache
      // lives until the session's clearCache (Verify/Bench do this
      // between queries) or the caller's own unpersist; on a certify
      // failure it is released here before the throw so the caller is
      // never left holding an unreachable persisted frame.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (certify) {
      try {
        val top = exact.collect()
        if (top.length == k) {
          val ck = top.last.getAs[Long]("cnt")
          require(ck > summary.delta,
            s"heavy-hitter certificate failed: k-th exact count $ck is not " +
              s"above the summary decrement bound ${summary.delta} — a dropped " +
              s"token could tie into the top-$k; raise m (=$m)")
        } else {
          // fewer candidates than k: only exact when nothing was ever dropped
          require(summary.delta == 0L,
            s"heavy-hitter certificate failed: ${top.length} < $k candidates " +
              s"with nonzero decrement bound ${summary.delta}; raise m (=$m)")
        }
      } catch {
        case t: Throwable =>
          exact.unpersist(blocking = false)
          throw t
      }
    }
    exact
  }
}
