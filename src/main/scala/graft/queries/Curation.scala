package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.TextOps
import graft.functions.expressions.NativeExprs

/** Round-8 curation/retrieval additions (SURVEY §2.6): BM25 relevance
  * ranking, contamination quarantine by duplicate-cluster closure, and
  * near-dup survivorship (canonical representative per cluster). Each
  * query states its 100 TB scale shape in the doc; q74–q76 are all
  * DuckDB-oracled (q75/q76 via the recursive-CTE transitive closure, the
  * q68 engine-vs-engine precedent).
  */
object Curation {

  /** q85's exact content-hash split over a `text` column — the ONE
    * definition q85, q86's leakage audit and q103's parity audit share
    * (their cross-query semantics require the identical assignment; a
    * drifted copy would pass every per-query test while silently
    * breaking the audits). First md5 byte vs 205/230 of 256 ≈ 80/10/10.
    */
  private[queries] def contentSplit: Column = {
    val v = conv(substring(md5(col("text").cast(BinaryType)), 1, 2), 16, 10)
      .cast(IntegerType)
    when(v < 205, "train").when(v < 230, "val").otherwise("test")
  }

  /** q31's measured-best exact near-dup pair plan via the shared
    * `Dedup.coShingledPairs` core: (i, j) pairs with 3-shingle jaccard
    * >= 0.5 plus the persisted shingle frame so callers can reuse it (and
    * must not re-scan the corpus for shingle-derived sets). Caller
    * releases via the session's clearCache (Verify/Bench) — the q31/q68
    * session-cache contract.
    */
  private def jaccardPairs(docs: DataFrame): (DataFrame, DataFrame) = {
    val (wc, sh) = graft.operators.Dedup.coShingledPairs(docs, "doc_id", "text")
    val pairs = wc
      .filter(col("k") * 1.0 / (col("ni") + col("nj") - col("k")) >= 0.5)
      .select(col("i"), col("j"))
    (pairs, sh)
  }

  /** q75's logic over an arbitrary corpus: quarantined near-dup clusters
    * (one row per cluster with >=1 member sharing a 3-shingle with the
    * doc_id < benchIdLt benchmark split). Exposed so specs can pin the
    * PARTIAL-cluster case (clean member of a contaminated family) on
    * engineered data — the driver corpus happens to be closure-complete.
    */
  def quarantineClusters(docs: DataFrame, benchIdLt: Long = 5L): DataFrame = {
    val (pairs, sh) = jaccardPairs(docs)
    // eval-suite shingles are small by nature (q44's broadcast rationale)
    val benchSh = sh.filter(col("doc_id") < benchIdLt).select("s").distinct()
    val seeds = sh.filter(col("doc_id") >= benchIdLt)
      .join(broadcast(benchSh), Seq("s"), "leftsemi")
      .select(col("doc_id")).distinct()
    val labels = graft.operators.Dedup.connectedComponents(pairs, "i", "j")
    labels
      .join(seeds.select(col("doc_id").as("u"), lit(1L).as("c")), Seq("u"), "left")
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("szl"), sum(coalesce(col("c"), lit(0L))).as("n_contaminated"))
      .filter(col("n_contaminated") >= 1)
      .select(col("lbl").as("cluster_id"),
        col("szl").cast(IntegerType).as("cluster_size"),
        col("n_contaminated"))
      .orderBy("cluster_id")
  }

  /** q79's logic over an arbitrary corpus: cluster-grain deterministic
    * sampling accounting (one q40-style membership draw per near-dup
    * family, by its representative's hash). Exposed so specs can pin the
    * one-draw-per-family property on engineered clusters.
    */
  def dupAwareSample(docs: DataFrame, frac: Double = 0.2): DataFrame = {
    val (wc, _) = graft.operators.Dedup.coShingledPairs(docs, "doc_id", "text")
    val pairs = wc
      .filter(col("k") * 1.0 / (col("ni") + col("nj") - col("k")) >= 0.5)
      .select(col("i"), col("j"))
    val labels = graft.operators.Dedup.connectedComponents(pairs, "i", "j")
    val mem = docs.select(col("doc_id"), col("n_chars"), col("source"))
      .join(labels.select(col("u").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"), col("source"),
        coalesce(col("lbl"), col("doc_id")).as("cl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rep = graft.operators.TopK.perGroup(mem, Seq("cl"), "n_chars", "doc_id", 1)
      .select(col("cl"), col("doc_id").as("rep_id"))
      .join(docs.select(col("doc_id").as("rep_id"),
        col("source").as("rep_source")), Seq("rep_id"))
    val sz = mem.groupBy("cl").agg(count(lit(1)).as("n"))
    val cut = (frac * 1000000L).toLong
    rep.join(sz, Seq("cl"))
      .select(col("rep_source"),
        (graft.operators.Sampling.score(col("rep_id"), 42L) < cut).as("keep"),
        col("n"))
      .groupBy(col("rep_source"))
      .agg(count(lit(1)).as("clusters_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("clusters_kept"),
        sum(when(col("keep"), col("n")).otherwise(0L)).as("docs_covered"))
      .select(col("rep_source").as("source"), col("clusters_total"),
        col("clusters_kept"), col("docs_covered"))
      .transform(Relational.smallSort(_, "source"))
  }

  /** q76's logic over an arbitrary corpus: canonical representative per
    * near-dup cluster (max n_chars, ties to min doc_id) with family size
    * and total chars. Exposed for spec-level tie/selection pinning.
    */
  def clusterReps(docs: DataFrame): DataFrame = {
    val (pairs, _) = jaccardPairs(docs)
    val labels = graft.operators.Dedup.connectedComponents(pairs, "i", "j")
    val mem = labels
      .join(docs.select(col("doc_id").as("u"), col("n_chars")), Seq("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rep = graft.operators.TopK.perGroup(mem, Seq("lbl"), "n_chars", "u", 1)
      .select(col("lbl"), col("u").as("rep_doc_id"))
    val stats = mem.groupBy("lbl")
      .agg(count(lit(1)).as("szl"), sum(col("n_chars")).as("cluster_chars"))
    rep.join(stats, Seq("lbl"))
      .select(col("lbl").as("cluster_id"), col("rep_doc_id"),
        col("szl").cast(IntegerType).as("cluster_size"),
        col("cluster_chars"))
      .orderBy("cluster_id")
  }

  /** q117's logic over an arbitrary corpus — exposed so specs can pin
    * the rep/dup/unique classification (q76's argmax order), the share
    * arithmetic and Σ n_docs = corpus conservation on engineered
    * clusters.
    */
  def dupQualityBias(docs: DataFrame): DataFrame = {
    val (pairs, _) = jaccardPairs(docs)
    val labels = graft.operators.Dedup.connectedComponents(pairs, "i", "j")
    // the member frame feeds the rep argmax AND the dup anti-join →
    // persist (session clearCache contract)
    val mem = labels
      .join(docs.select(col("doc_id").as("u"), col("n_chars")), Seq("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rep = graft.operators.TopK.perGroup(mem, Seq("lbl"), "n_chars", "u", 1)
      .select(col("u").as("doc_id"), lit("rep").as("status"))
    val dup = mem.join(rep.select(col("doc_id").as("u")), Seq("u"), "left_anti")
      .select(col("u").as("doc_id"), lit("dup").as("status"))
    val toks = TextOps.tokens(col("text"))
    val n = size(toks).cast(LongType)
    val hits = TextOps.stopwordHits(toks, Llm.qualityStopwords)
      .cast(LongType)
    val db = docs
      .join(broadcast(rep.union(dup)), Seq("doc_id"), "left")
      .select(coalesce(col("status"), lit("unique")).as("status"),
        n.as("n"), hits.as("hits"))
      .select(col("status"), Llm.qualityDecile.as("b"))
    // ≤ 3×11-row tail; feeds the totals AND the share attach → persist
    val c = db.groupBy("status", "b").agg(count(lit(1)).as("n_docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ns = c.groupBy("status").agg(sum(col("n_docs")).as("n_status"))
    c.join(broadcast(ns), Seq("status"))
      .select(col("status"), col("b"), col("n_docs"),
        expr("(2 * 10000 * n_docs + n_status) div (2 * n_status)")
          .as("share_e4"))
      .transform(Relational.smallSort(_, "status", "b"))
  }

  /** The shingle-array + banded-key frames under [[lshMd5Candidates]]
    * (self-join candidates, q83/q128) and [[lshIncremental]] (cross-side
    * candidates, q134) — one signature definition for every md5-LSH
    * consumer. The banded frame is persisted (every caller joins it
    * against itself or a filtered view of itself, and the signature HOF
    * is the dominant compute); the shingle frame persists only when the
    * caller's plan re-reads it.
    */
  private def lshMd5Banded(docs: DataFrame, nPerms: Int, nBands: Int,
                           persistShingles: Boolean)
      : (DataFrame, DataFrame) = {
    val rowsPerBand = nPerms / nBands
    require(nBands * rowsPerBand == nPerms, "bands must tile the signature")
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    // per-doc DISTINCT shingle strings as an array — array_distinct is
    // per-row, so doc-local dedup costs no shuffle (vs q31's digest
    // explode this keeps the strings: they are the md5 preimage here).
    // Compiled ShinglesExpr, not the transform/concat HOF: DevQ83
    // measured the interpreted shingle BUILD at 3.4 s of the query's
    // 7.4 s — the lambda + per-element array indexing tax, not md5, was
    // the dominant term (<3-token docs yield the same empty array)
    // persisted only for callers whose plan re-reads it (q83's exact
    // verification); q128 verifies through the q31 core instead, so the
    // corpus-sized shingle arrays would sit in cache for a single-use
    // subtree (review finding, r10 s2)
    val shArrPlain = toks.select(col("doc_id"),
        array_distinct(NativeExprs.shingles(col("toks"), 3)).as("shs"))
      .filter(size(col("shs")) > 0)
    val shArr =
      if (persistShingles)
        shArrPlain.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else shArrPlain
    // signature with NO shuffle: min over the doc's shingle array per
    // permutation; fixed-width lowercase hex makes lexicographic min ≡
    // numeric min, identically in DuckDB (bytewise string compare).
    // Compiled kernel (LshMinSigExpr) — the nested-HOF form pays
    // interpreted lambdas + a materialized array per permutation per doc
    // over nPerms·|shs| md5s (measured 7.4 s vs ~2 s at sf0.1); the
    // kernel keeps nPerms running byte-compared mins in one pass
    // (NativeExprsSpec pins value-parity to the HOF form)
    val sig = shArr.select(col("doc_id"),
      NativeExprs.lshMinSig(col("shs"), nPerms).as("sig"))
    val bandKey = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => s"sig[${b * rowsPerBand + r}]")
      s"struct(${b} as b, concat(${parts.mkString(", ")}) as key)"
    }.mkString(", ")
    // persisted: the candidate self-join consumes this frame twice and the
    // signature HOF above is the query's dominant compute
    val banded = sig
      .select(col("doc_id"), explode(expr(s"array($bandKey)")).as("bk"))
      .select(col("doc_id"), col("bk.b").as("b"), col("bk.key").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (shArr, banded)
  }

  /** The banded SELF-JOIN candidate set over [[lshMd5Banded]] (i < j,
    * n_bands per pair) — the q83/q128 shared candidate definition
    * (the q85-contentSplit rule: q128's fidelity audit measures exactly
    * the banding q83 ships, not a drifted copy). The candidate frame is
    * persisted (verification consumes it twice in q83; q128 reads it for
    * the scalar + detection marks).
    */
  private def lshMd5Candidates(docs: DataFrame, nPerms: Int, nBands: Int,
                               persistShingles: Boolean = true)
      : (DataFrame, DataFrame) = {
    val (shArr, banded) = lshMd5Banded(docs, nPerms, nBands, persistShingles)
    val cand = banded.select(col("doc_id").as("i"), col("b"), col("key"))
      .hint("shuffle_hash")
      .join(banded.select(col("doc_id").as("j"), col("b"), col("key")),
        Seq("b", "key"))
      .filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (shArr, cand)
  }

  /** Exact-jaccard verification of an md5-LSH candidate set against the
    * shingle-array frame — the ONE verify plan q83 and q134 share
    * (candidate-drift rule again: a rounding or broadcast change edits
    * both entries or neither). Both joins are driven by the (tiny)
    * candidate set broadcast into the shingle stream, so the full
    * co-shingle posting join never forms; at 100 TB the candidate set
    * still broadcasts because banding caps it near the true-positive
    * mass. `left`/`right` name the candidate frame's two id columns.
    */
  private def verifyMd5Candidates(shArr: DataFrame, cand: DataFrame,
                                  left: String, right: String): DataFrame = {
    val shx = shArr.select(col("doc_id"), explode(col("shs")).as("s"))
    val leftSh = shx
      .join(broadcast(cand.select(col(left), col(right))),
        col("doc_id") === col(left))
      .select(col(left), col(right), col("s"))
    val inter = broadcast(leftSh)
      .join(shx.select(col("doc_id").as(right), col("s")), Seq(right, "s"))
      .groupBy(left, right).agg(count(lit(1)).as("k"))
    val cnt = shArr.select(col("doc_id"),
      size(col("shs")).cast(LongType).as("n"))
    cand
      .join(inter, Seq(left, right), "left")
      .join(broadcast(cnt.select(col("doc_id").as(left), col("n").as("ni"))),
        Seq(left))
      .join(broadcast(cnt.select(col("doc_id").as(right), col("n").as("nj"))),
        Seq(right))
      .select(col(left), col(right),
        col("n_bands").cast(LongType).as("n_bands"),
        round(coalesce(col("k"), lit(0L)) * 1.0 /
          (col("ni") + col("nj") - coalesce(col("k"), lit(0L))), 4)
          .as("jaccard"))
      .orderBy(left, right)
  }

  /** q83's logic over an arbitrary corpus: md5-replayable MinHash-LSH
    * near-dup candidates (16 perms, 4 bands × 4 rows) with the exact
    * 3-shingle jaccard attached to every candidate. Exposed so specs can
    * pin recall vs the exact q31 pairs and the signature's determinism.
    * Persists the shingle-array and banded frames under the session
    * clearCache contract (each feeds multiple subtrees).
    */
  def lshMd5Pairs(docs: DataFrame, nPerms: Int = 16, nBands: Int = 4): DataFrame = {
    val (shArr, cand) = lshMd5Candidates(docs, nPerms, nBands)
    verifyMd5Candidates(shArr, cand, "i", "j")
  }

  /** q128's logic over an arbitrary corpus — exposed so specs can pin the
    * candidate-⊆-truth containment, the threshold boundary (≥, integer
    * form), the half-up rounding, and the empty-corpus / engineered-miss
    * behavior. Thresholds are integer ten-thousandths of jaccard.
    */
  def lshFidelity(docs: DataFrame,
                  thresholds: Seq[Int] = Seq(500, 2500, 5000, 7500),
                  nPerms: Int = 16, nBands: Int = 4): DataFrame = {
    // truth: ALL co-shingled pairs with exact k/|union| (no threshold —
    // each rung applies its own integer cut below); the digest core is
    // q31's, so fidelity here IS fidelity of the shipped pair plan
    val (wc, _) = graft.operators.Dedup.coShingledPairs(docs, "doc_id", "text")
    val (_, cand) = lshMd5Candidates(docs, nPerms, nBands,
      persistShingles = false)
    // candidates ⊆ truth (equal band key ⟹ shared argmin shingle), so a
    // left mark-join loses nothing; persist: feeds the ×4 fan-out once
    val tj = wc
      .select(col("i"), col("j"), col("k"),
        (col("ni") + col("nj") - col("k")).as("u"))
      .join(broadcast(cand.select(col("i"), col("j"), lit(true).as("m"))),
        Seq("i", "j"), "left")
      .select(col("k"), col("u"), coalesce(col("m"), lit(false)).as("is_cand"))
    // the whole ladder folds in ONE pass over the pair set: per rung a
    // conditional truth/detected sum (integer threshold test — no float
    // jaccard compares), then the 1-row aggregate explodes back into its
    // ladder rows. No ×rungs fan-out of the pair set, no join against a
    // threshold frame; an EMPTY pair set still yields the global-agg row
    // (null sums → 0), so every rung always surfaces.
    val perRung = thresholds.flatMap { t =>
      val hit = lit(10000L) * col("k") >= lit(t.toLong) * col("u")
      Seq(sum(when(hit, 1L).otherwise(0L)).as(s"_t$t"),
        sum(when(col("is_cand") && hit, 1L).otherwise(0L)).as(s"_d$t"))
    }
    val ladder = tj.agg(perRung.head, perRung.tail: _*)
      .select(explode(array(thresholds.map(t =>
        struct(lit(t.toLong).as("thr_e4"),
          coalesce(col(s"_t$t"), lit(0L)).as("n_truth"),
          coalesce(col(s"_d$t"), lit(0L)).as("n_detected"))): _*)).as("r"))
      .select(col("r.thr_e4"), col("r.n_truth"), col("r.n_detected"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    ladder
      .crossJoin(broadcast(nc))
      .select(col("thr_e4"), col("n_truth"), col("n_cand"), col("n_detected"),
        expr("case when n_cand = 0 then 10000 else " +
          "(2 * 10000 * n_detected + n_cand) div (2 * n_cand) end")
          .as("precision_e4"),
        expr("case when n_truth = 0 then 10000 else " +
          "(2 * 10000 * n_detected + n_truth) div (2 * n_truth) end")
          .as("recall_e4"))
      .transform(Relational.smallSort(_, "thr_e4"))
  }

  private lazy val lshFidelityOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
      |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |hx AS (SELECT doc_id, p.p, min(md5(CAST(p.p AS VARCHAR) || ':' || s)) AS mh
      |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p) p GROUP BY 1, 2),
      |bands AS (SELECT doc_id, p // 4 AS b, string_agg(mh, '' ORDER BY p) AS key
      |  FROM hx GROUP BY 1, 2),
      |cand AS MATERIALIZED (SELECT a.doc_id AS i, b2.doc_id AS j
      |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id
      |  GROUP BY 1, 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |truth AS MATERIALIZED (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |tj AS (SELECT t.k, ca.n + cb.n - t.k AS u, (cand.i IS NOT NULL) AS is_cand
      |       FROM truth t JOIN cnt ca ON ca.doc_id = t.i JOIN cnt cb ON cb.doc_id = t.j
      |       LEFT JOIN cand ON cand.i = t.i AND cand.j = t.j),
      |nc AS (SELECT count(*) AS n_cand FROM cand),
      |thr AS (SELECT unnest([500, 2500, 5000, 7500]) AS thr_e4),
      |agg AS (SELECT thr_e4,
      |  count(*) FILTER (WHERE 10000 * k >= thr_e4 * u) AS n_truth,
      |  count(*) FILTER (WHERE is_cand AND 10000 * k >= thr_e4 * u) AS n_det
      |  FROM thr CROSS JOIN tj GROUP BY thr_e4)
      |SELECT CAST(t.thr_e4 AS BIGINT) AS thr_e4,
      |  CAST(coalesce(a.n_truth, 0) AS BIGINT) AS n_truth,
      |  CAST(nc.n_cand AS BIGINT) AS n_cand,
      |  CAST(coalesce(a.n_det, 0) AS BIGINT) AS n_detected,
      |  CAST(CASE WHEN nc.n_cand = 0 THEN 10000
      |       ELSE (2 * 10000 * coalesce(a.n_det, 0) + nc.n_cand) // (2 * nc.n_cand)
      |       END AS BIGINT) AS precision_e4,
      |  CAST(CASE WHEN coalesce(a.n_truth, 0) = 0 THEN 10000
      |       ELSE (2 * 10000 * coalesce(a.n_det, 0) + a.n_truth) // (2 * a.n_truth)
      |       END AS BIGINT) AS recall_e4
      |FROM thr t LEFT JOIN agg a ON a.thr_e4 = t.thr_e4 CROSS JOIN nc
      |ORDER BY t.thr_e4""".stripMargin

  /** q134's logic over an arbitrary corpus — exposed so specs can pin the
    * cross-only property (corpus×corpus and batch×batch pairs NEVER
    * surface), the identical-doc guarantee (equal signatures ⟹ all-band
    * candidate), and layout invariance. The split mirrors q56's (every
    * `everyNth`-th doc_id is the arriving batch).
    */
  def lshIncremental(docs: DataFrame, everyNth: Long = 10L,
                     nPerms: Int = 16, nBands: Int = 4): DataFrame = {
    // ONE shingle/signature pass over the full frame; the side split is a
    // filter on the persisted banded table (production ingest keeps the
    // corpus side at rest — crossNearDupPairsPrepared's contract — so only
    // the batch's signatures compute per increment; this batch replay
    // computes both sides once to stay oracle-replayable)
    val (shArr, banded) =
      lshMd5Banded(docs, nPerms, nBands, persistShingles = true)
    val cand = banded.filter(col("doc_id") % everyNth === 0)
      .select(col("doc_id").as("new_id"), col("b"), col("key"))
      .hint("shuffle_hash")
      .join(banded.filter(col("doc_id") % everyNth =!= 0)
        .select(col("doc_id").as("old_id"), col("b"), col("key")),
        Seq("b", "key"))
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("n_bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifyMd5Candidates(shArr, cand, "new_id", "old_id")
  }

  private lazy val lshIncrementalOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
      |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |hx AS (SELECT doc_id, p.p, min(md5(CAST(p.p AS VARCHAR) || ':' || s)) AS mh
      |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p) p GROUP BY 1, 2),
      |bands AS (SELECT doc_id, p // 4 AS b, string_agg(mh, '' ORDER BY p) AS key
      |  FROM hx GROUP BY 1, 2),
      |cand AS MATERIALIZED (SELECT a.doc_id AS new_id, b2.doc_id AS old_id, count(*) AS n_bands
      |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.key = b2.key
      |  WHERE a.doc_id % 10 = 0 AND b2.doc_id % 10 <> 0 GROUP BY 1, 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.new_id, c.old_id, count(*) AS k
      |  FROM sh a JOIN sh b ON a.s = b.s
      |  JOIN cand c ON c.new_id = a.doc_id AND c.old_id = b.doc_id GROUP BY 1, 2)
      |SELECT c.new_id, c.old_id, CAST(c.n_bands AS BIGINT) AS n_bands,
      |  round(coalesce(k, 0) * 1.0 / (ca.n + cb.n - coalesce(k, 0)), 4) AS jaccard
      |FROM cand c LEFT JOIN inter ON inter.new_id = c.new_id AND inter.old_id = c.old_id
      |JOIN cnt ca ON ca.doc_id = c.new_id JOIN cnt cb ON cb.doc_id = c.old_id
      |ORDER BY c.new_id, c.old_id""".stripMargin

  /** q84's logic over an arbitrary corpus: synchronous majority-label
    * propagation over the exact near-dup graph (the semi-supervised label
    * spread a curation pipeline uses to transfer sparse human labels —
    * here lang on the doc_id % 3 == 0 split — across duplicate families).
    * Seeded nodes are clamped; every other node recomputes each round as
    * the majority label among its neighbors' current non-null labels
    * (count DESC, code ASC — the oracle's row_number order); nodes whose
    * family holds no seed stay unlabeled (surfaced as 0). Exposed so
    * specs can pin clamping, tie-breaks, and seedless-family behavior on
    * engineered graphs.
    */
  def labelPropagation(docs: DataFrame, rounds: Int = 3,
                       maxDriverEdges: Long = 2000000L,
                       forceShuffled: Boolean = false): DataFrame = {
    val (pairs, _) = jaccardPairs(docs)
    val spark = docs.sparkSession
    val code = expr("CASE lang WHEN 'de' THEN 1L WHEN 'en' THEN 2L " +
      "WHEN 'es' THEN 3L WHEN 'fr' THEN 4L ELSE 5L END")
    // ---- fused driver walk (r17 — the q82/q88/CC economics): the
    // synchronous-rounds recurrence is inherently sequential over the
    // PAIR-set-sized graph, so below the edge budget the edges and the
    // node-bounded seed labels collect once and all `rounds` majority
    // votes run as a driver loop — 4 bounded jobs replace the shuffled
    // form's per-round broadcast + dst-keyed count + argmax + two eager
    // checkpoints (DevJobs r17: 17 jobs → 5, wall ~1.5 s → ~0.9 s at
    // sf0.1). Vote semantics are IDENTICAL: majority = (count DESC,
    // code ASC) over neighbors' current non-null labels, seeds clamped,
    // seedless families stay unlabeled (surface as 0); CatalogSpec pins
    // driver ≡ shuffled bit-for-bit.
    val pp = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    spark.sparkContext.setJobDescription("labelprop: edge count (budget gate)")
    val nEdges = pp.count()
    if (!forceShuffled && nEdges <= maxDriverEdges) {
      spark.sparkContext.setJobDescription("labelprop: edge collect")
      val es = pp.collect().map(r => (r.getLong(0), r.getLong(1)))
      pp.unpersist()
      val und0 = es ++ es.map { case (i, j) => (j, i) } // (src, dst)
      val nodes = und0.map(_._1).distinct.sorted
      import spark.implicits._
      val nodesDf = nodes.toSeq.toDF("doc_id")
      spark.sparkContext.setJobDescription("labelprop: seed collect")
      val seedArr = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .join(broadcast(nodesDf), Seq("doc_id"), "leftsemi")
        .select(col("doc_id"), code.as("scode"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      spark.sparkContext.setJobDescription(null)
      // adjacency by destination: dst -> its in-neighbors (src list)
      val inNbrs = und0.groupBy(_._2).map { case (dst, arr) =>
        dst -> arr.map(_._1)
      }
      var lab: Map[Long, Option[Long]] =
        nodes.map(u => u -> seedArr.get(u)).toMap
      (1 to rounds).foreach { _ =>
        val next = nodes.map { u =>
          seedArr.get(u) match {
            case s @ Some(_) => u -> (s: Option[Long]) // clamped
            case None =>
              val votes = inNbrs.getOrElse(u, Array.empty[Long])
                .flatMap(src => lab(src))
                .groupBy(identity).map { case (c, xs) => (c, xs.length.toLong) }
              u -> (if (votes.isEmpty) None
                    else Some(votes.minBy { case (c, n) => (-n, c) }._1))
          }
        }.toMap
        lab = next
      }
      return nodes.toSeq
        .map(u => (u, lab(u).getOrElse(0L)))
        .toDF("doc_id", "label")
        .orderBy("doc_id")
    }
    spark.sparkContext.setJobDescription(null)
    pp.unpersist()
    // ---- shuffled form (past the budget — the web-scale path), unchanged:
    // flat lineage: edges/nodes/seeds are consumed by every round, and each
    // round BROADCASTS the label frame — without the checkpoints round k
    // would re-run rounds 1..k-1 inside its broadcast (the q82 lesson)
    val und = pairs.select(col("i").as("src"), col("j").as("dst"))
      .union(pairs.select(col("j").as("src"), col("i").as("dst")))
      .localCheckpoint(true)
    val nodes = und.select(col("src").as("doc_id")).distinct()
      .localCheckpoint(true)
    val seeds = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .join(nodes, Seq("doc_id"), "leftsemi")
      .select(col("doc_id"), code.as("scode"))
      .localCheckpoint(true)
    var lab = nodes.join(seeds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("scode").as("code"))
      .localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      // label frame is graph-node-sized (docs in dup families) — broadcast
      // here; the documented web-scale lever is the q82 one: flip to a
      // src-keyed shuffle join when the node set outgrows the budget
      val nb = und
        .join(broadcast(lab.filter(col("code").isNotNull)
          .select(col("doc_id").as("src"), col("code"))), Seq("src"))
        .groupBy(col("dst"), col("code")).agg(count(lit(1)).as("c"))
      val major = graft.operators.TopK
        .perGroup(nb.select(col("dst"), col("c").cast(DoubleType).as("c"),
          col("code")), Seq("dst"), "c", "code", 1)
        .select(col("dst").as("doc_id"), col("code").as("mcode"))
      lab = nodes
        .join(broadcast(seeds), Seq("doc_id"), "left")
        .join(major, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("scode"), col("mcode")).as("code"))
        .localCheckpoint(true)
    }
    lab.select(col("doc_id"),
        coalesce(col("code"), lit(0L)).cast(LongType).as("label"))
      .orderBy("doc_id")
  }

  /** Three chained majority-vote CTEs over the exact-pair graph — same
    * clamping and (count DESC, code ASC) tie rule; sh/pairs MATERIALIZED
    * (multi-referenced — the q55 fairness rule).
    */
  private lazy val labelPropOracle: String = {
    def rnd(k: Int): String = {
      val p = k - 1
      s"""l$k AS (SELECT n.doc_id,
         |  CASE WHEN s.scode IS NOT NULL THEN s.scode ELSE m.code END AS code
         |  FROM nodes n LEFT JOIN seeds s USING (doc_id)
         |  LEFT JOIN (SELECT doc_id, code FROM (
         |     SELECT e.dst AS doc_id, l.code, count(*) AS c,
         |       row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.code ASC) AS rn
         |     FROM und e JOIN l$p l ON l.doc_id = e.src WHERE l.code IS NOT NULL
         |     GROUP BY e.dst, l.code) x WHERE rn = 1) m USING (doc_id))""".stripMargin
    }
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
      |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS MATERIALIZED (SELECT i, j FROM inter
      |  JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
      |  WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5),
      |und AS (SELECT i AS src, j AS dst FROM pairs UNION ALL SELECT j, i FROM pairs),
      |nodes AS (SELECT DISTINCT src AS doc_id FROM und),
      |seeds AS (SELECT d.doc_id,
      |    CASE d.lang WHEN 'de' THEN 1 WHEN 'en' THEN 2 WHEN 'es' THEN 3
      |         WHEN 'fr' THEN 4 ELSE 5 END AS scode
      |  FROM documents d JOIN nodes n ON n.doc_id = d.doc_id WHERE mod(d.doc_id, 3) = 0),
      |l0 AS (SELECT n.doc_id, s.scode AS code FROM nodes n LEFT JOIN seeds s USING (doc_id)),
      |""".stripMargin +
      (1 to 3).map(rnd).mkString(",\n") + "\n" +
      """SELECT n.doc_id, CAST(coalesce(l3.code, 0) AS BIGINT) AS label
        |FROM nodes n LEFT JOIN l3 USING (doc_id) ORDER BY n.doc_id""".stripMargin
  }

  /** The md5 minhash replay: identical permutations, band keys and exact
    * jaccard arithmetic; sh/cand MATERIALIZED (measured faster for DuckDB
    * than inlining — the q55 fairness rule).
    */
  private lazy val lshMd5Oracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
      |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |hx AS (SELECT doc_id, p.p, min(md5(CAST(p.p AS VARCHAR) || ':' || s)) AS mh
      |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p) p GROUP BY 1, 2),
      |bands AS (SELECT doc_id, p // 4 AS b, string_agg(mh, '' ORDER BY p) AS key
      |  FROM hx GROUP BY 1, 2),
      |cand AS MATERIALIZED (SELECT a.doc_id AS i, b2.doc_id AS j, count(*) AS n_bands
      |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id
      |  GROUP BY 1, 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN cand c ON c.i = a.doc_id AND c.j = b.doc_id GROUP BY 1, 2)
      |SELECT c.i, c.j, CAST(c.n_bands AS BIGINT) AS n_bands,
      |  round(coalesce(k, 0) * 1.0 / (ca.n + cb.n - coalesce(k, 0)), 4) AS jaccard
      |FROM cand c LEFT JOIN inter ON inter.i = c.i AND inter.j = c.j
      |JOIN cnt ca ON ca.doc_id = c.i JOIN cnt cb ON cb.doc_id = c.j
      |ORDER BY c.i, c.j""".stripMargin

  val qs: Seq[Q] = Seq(

    Q("q74_bm25",
      """Q74 — BM25 document ranking (k1=1.2, b=0.75, Lucene's ln(1+idf)
        |form) for a fixed query-term set: S19 "index for search" with the
        |doc-length-normalized score real retrieval stacks use (q45's
        |TF-IDF without length bias). Scale shape: per-doc term frequencies
        |AND doc length come out of ONE corpus pass inside the scan
        |projection (tokenCounts kernel + size — a doc's tokens live in its
        |own row, so the raw token stream never shuffles); the query-term
        |filter cuts the stream to |Q| rows per doc BEFORE any exchange;
        |document frequency is a |Q|-row aggregate (query sets are small by
        |nature — the dual of q44's broadcastable eval suite); corpus-size
        |scalars ride a 1-row broadcast. Per-term scores quantize to
        |integer ten-thousandths BEFORE the per-doc sum (the q61/q65
        |lesson: integer summation kills float order-sensitivity; ln/mul/
        |div are correctly-rounded IEEE ops on identically-ordered
        |operands, and the oracle's literals are e0-forced to DOUBLE so
        |neither engine drops into decimal arithmetic). Final top-10 is a
        |bounded TopKAgg global cut — map-side partials ship <=10 rows
        |each; no global window, no corpus sort (the q53 economics).""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
        |gl AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
        |tf AS (SELECT doc_id, t AS token, count(*) AS tf FROM tok
        |       WHERE t IN ('spark','join','window','stream') GROUP BY 1,2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |  CAST(round(ln(1e0 + (gl.n - df.df + 5e-1) / (df.df + 5e-1)) *
        |       (tf.tf * 22e-1) / (tf.tf + 12e-1 * (25e-2 + 75e-2 * (dl.dl * gl.n) / gl.sumdl))
        |       * 1e4) AS BIGINT) AS s_e4
        |  FROM tf JOIN df USING (token) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN gl),
        |tot AS (SELECT doc_id, CAST(sum(s_e4) AS BIGINT) AS score_e4 FROM sc GROUP BY 1),
        |rk AS (SELECT doc_id, score_e4,
        |       row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS rnk FROM tot)
        |SELECT CAST(rnk AS INT) AS rnk, doc_id, score_e4 FROM rk WHERE rnk <= 10
        |ORDER BY rnk""".stripMargin) { (s, d) =>
      val terms = Seq("spark", "join", "window", "stream")
      val docs = Tables.documents(s, d)
      // one pass: per-doc (dl, token, tf), pre-cut to the query terms
      // the query-term cut happens INSIDE the array (HOF filter) before the
      // explode: <=|Q| rows per doc leave the projection instead of one per
      // distinct token (~15x fewer exploded rows on this corpus)
      val tf = docs
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("dl"),
          explode(filter(NativeExprs.tokenCounts(col("text")),
            tc => tc.getField("token").isin(terms: _*))).as("tc"))
        .select(col("doc_id"), col("dl"),
          col("tc.token").as("token"), col("tc.tf").cast(LongType).as("tf"))
      // |Q|-row document frequencies; join un-hinted (provably tiny, AQE
      // broadcasts it at scale — the q45 no-forced-broadcast rule applies
      // to unbounded sides only, and df here is bounded by |Q|)
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val gl = docs.agg(
        count(lit(1)).as("n"),
        sum(size(TextOps.tokens(col("text"))).cast(LongType)).as("sumdl"))
      // mirror the oracle's operand order exactly: ln(1 + (n-df+.5)/(df+.5))
      // * (tf*2.2) / (tf + 1.2*(0.25 + 0.75*(dl*n)/sumdl)), all double ops
      val sc = tf.join(df, Seq("token")).crossJoin(broadcast(gl))
        .select(col("doc_id"),
          round(log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") * col("n")) / col("sumdl")))
            * lit(10000.0)).cast(LongType).as("s_e4"))
      val tot = sc.groupBy("doc_id").agg(sum(col("s_e4")).as("score_e4"))
      // TopKAgg buffers scores as DOUBLE; restore the BIGINT surface (exact:
      // scores are integer ten-thousandths well under 2^53)
      graft.operators.TopK.perGroup(tot, Seq.empty, "score_e4", "doc_id", 10)
        .select(col("rnk"), col("doc_id"),
          col("score_e4").cast(LongType).as("score_e4"))
        .transform(Relational.smallSort(_, "rnk"))
    },

    Q("q75_quarantine_clusters",
      """Q75 — contamination quarantine by duplicate-cluster closure: if ANY
        |member of a near-dup family (q31's j>=0.5 pairs collapsed to
        |transitive components, the q68 closure) shares a 3-shingle with the
        |benchmark set (doc_id<5, q44's check), the WHOLE family is
        |quarantined — doc-level decontamination alone leaves the twin of a
        |contaminated doc in the corpus. Output: one row per quarantined
        |cluster (cluster_id = min member, size, contaminated-member
        |count). Scale shape: ONE persisted shingle frame feeds both the
        |pair index (q31's inverted 60-bit join) and the seed check (semi
        |join against the broadcastable-by-nature eval shingle set); the CC
        |loop shuffles only the pair set (pointer jumping, O(log diameter)
        |rounds); the final rollup aggregates at component cardinality.
        |The closure property (every member of a contaminated cluster is
        |itself contaminated on THIS corpus) is corpus-specific — the spec
        |pins the partial-cluster case on engineered data where closure
        |does NOT hold.""".stripMargin,
      """WITH RECURSIVE tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |seeds AS (SELECT DISTINCT cs.doc_id
        |  FROM sh cs JOIN sh bs ON cs.s = bs.s
        |  WHERE bs.doc_id < 5 AND cs.doc_id >= 5),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT i, j FROM inter JOIN cnt ca ON ca.doc_id = i
        |                              JOIN cnt cb ON cb.doc_id = j
        |       WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5),
        |edges AS (SELECT i AS u, j AS v FROM pr UNION ALL SELECT j AS u, i AS v FROM pr),
        |reach(u, x) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.u, r.x FROM edges e JOIN reach r ON r.u = e.v),
        |lb AS (SELECT u, min(x) AS lbl FROM reach GROUP BY u),
        |st AS (SELECT lb.lbl, count(*) AS sz,
        |       sum(CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END) AS nc
        |       FROM lb LEFT JOIN seeds s ON s.doc_id = lb.u GROUP BY lb.lbl)
        |SELECT lbl AS cluster_id, CAST(sz AS INT) AS cluster_size,
        |       CAST(nc AS BIGINT) AS n_contaminated
        |FROM st WHERE nc >= 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
      quarantineClusters(Tables.documents(s, d))
    },

    Q("q76_cluster_reps",
      """Q76 — near-dup survivorship: the canonical representative each
        |duplicate family keeps after dedup (longest member by n_chars,
        |ties to the lowest doc_id) plus the family's size and total
        |chars — the stage that turns q68's cluster histogram into an
        |actual keep/drop decision (SemDeDup/keep-one semantics at the
        |exact-near-dup tier). Scale shape: pair generation is q31's
        |inverted index; CC shuffles only pairs; member stats join docs on
        |doc_id (one key-narrow shuffle of the PAIRED docs only — the
        |near-dup subset, small by definition); the per-cluster argmax is
        |a bounded TopKAgg (score=n_chars, tag=doc_id, k=1 — (score DESC,
        |tag ASC) matches the oracle's row_number order exactly), so
        |mappers ship one struct per (mapper, cluster) instead of
        |window-sorting members; sizes/chars ride the same lbl exchange in
        |a second hash agg over the tiny labels frame.""".stripMargin,
      """WITH RECURSIVE tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT i, j FROM inter JOIN cnt ca ON ca.doc_id = i
        |                              JOIN cnt cb ON cb.doc_id = j
        |       WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5),
        |edges AS (SELECT i AS u, j AS v FROM pr UNION ALL SELECT j AS u, i AS v FROM pr),
        |reach(u, x) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.u, r.x FROM edges e JOIN reach r ON r.u = e.v),
        |lb AS (SELECT u, min(x) AS lbl FROM reach GROUP BY u),
        |mem AS (SELECT lb.u, lb.lbl, d.n_chars FROM lb JOIN documents d ON d.doc_id = lb.u),
        |rk AS (SELECT u, lbl, n_chars,
        |       row_number() OVER (PARTITION BY lbl ORDER BY n_chars DESC, u) AS rn,
        |       count(*) OVER (PARTITION BY lbl) AS sz,
        |       sum(n_chars) OVER (PARTITION BY lbl) AS chars FROM mem)
        |SELECT lbl AS cluster_id, u AS rep_doc_id, CAST(sz AS INT) AS cluster_size,
        |       CAST(chars AS BIGINT) AS cluster_chars
        |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, d) =>
      clusterReps(Tables.documents(s, d))
    },

    Q("q77_kmeans_refine",
      """Q77 — Lloyd k-means refinement of the codebook (K=64, 4
        |iterations, integer-exact): the TRAINED version of q61's fixed
        |anchor stand-in — the iterative step every IVF/semantic-cluster
        |pipeline (q29/q50/q61/q64) actually runs before those operators
        |consume the codebook. Cross-engine determinism is by
        |construction, not tolerance: embeddings quantize to integer
        |ten-thousandths (float→double widening is exact, *1e4 and
        |half-away round are identical IEEE ops), distances are exact
        |integer L2 (max ~1.3e10 ≪ 2^53, so even the TopKAgg double
        |buffer is exact), and centroid updates are sign-aware half-up
        |INTEGER division ((2s+n) div 2n on the positive branch) — no
        |float ever enters the iteration, so engines can't drift across
        |rounds. Scale shape: the K-row centroid table BROADCASTS every
        |round (the only cross-row state); assignment is ONE narrow scan
        |pass through the compiled NearestCentroidL2 kernel — a single
        |per-row argmin loop over the broadcast codebook under the
        |(d, cid) total order, no K-way row expansion, no per-vec argmin
        |aggregation (the interpreted zip_with/aggregate form measured
        |8.2 s vs 1.2 s at sf0.1 — the q61 lambda-overhead lesson at 4×
        |magnitude); the update aggregates (cid, dim) partials with
        |map-side combine (K·dim rows per mapper); the driver loop holds
        |4 × 64-row localCheckpoints, keeping the plan O(1) in rounds
        |(the CC lesson). The oracle pays n·K·dim materialized rows PER
        |ITERATION in chained CTEs — the non-iterative-engine cost this
        |entry exists to contrast.""".stripMargin,
      kmeansOracle) { (s, d) =>
      val emb = quantizedEmbeddings(s, d)
      assignToCent(emb, refineCodebookArr(emb))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"), sum(col("d")).as("inertia"))
        .select(col("cid").as("cluster_id"), col("n_members"), col("inertia"))
        .transform(Relational.smallSort(_, "cluster_id"))
    },

    Q("q80_codebook_margin",
      """Q80 — codebook separation margins over the q77-TRAINED centroids:
        |per final cluster, the distribution of each member's margin
        |d2 − d1 (second-nearest minus nearest integer squared-L2) — the
        |"how decisively do vectors belong" read before trusting a
        |codebook for IVF routing (q29/q50) or SemDeDup pruning (q64); a
        |cluster whose margins hug 0 sits on a boundary and its members
        |churn under any perturbation. Same determinism-by-construction
        |regime as q77 (no float anywhere); the two nearest centroids
        |come from ONE compiled per-row loop (NearestKCentroidsL2 at k=2 —
        |same (d, cid) total order as the oracle's rank-1/rank-2 rows;
        |a vector with fewer than two same-dimension centroids has no
        |margin and lands in the null cluster), the trained
        |codebook is the identical 4-iteration refinement, and the mean
        |margin rounds half-up in INTEGER space ((2s+n) div 2n —
        |margins are non-negative). Scale shape: q77's broadcast-codebook
        |narrow pass plus one K-cardinality rollup.""".stripMargin,
      kmeansMarginOracle) { (s, d) =>
      val emb = quantizedEmbeddings(s, d)
      emb
        .select(NativeExprs.nearestKCentroidsL2(col("v"),
          centsLit(refineCodebookArr(emb)), 2).as("nk"))
        .select(when(size(col("nk")) === 2, struct(
          get(col("nk"), lit(0)).getField("cid").as("cid"),
          get(col("nk"), lit(0)).getField("d").as("d"),
          get(col("nk"), lit(1)).getField("d").as("d2"))).as("r"))
        .select(col("r.cid").as("cid"), (col("r.d2") - col("r.d")).as("m"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          min(col("m")).as("min_margin"),
          expr("(2 * sum(m) + count(1)) div (2 * count(1))").as("avg_margin"))
        .select(col("cid").as("cluster_id"), col("n_members"),
          col("min_margin"), col("avg_margin"))
        .transform(Relational.smallSort(_, "cluster_id"))
    },

    Q("q78_novelty_deciles",
      """Q78 — per-source novelty histogram: for each document, the
        |fraction of its DISTINCT 3-shingles that occur in no other
        |document (novelty — the inverse of q43's within-doc repetition
        |and q54's span-duplication profile), bucketed to deciles per
        |source. A low-novelty source is a template/boilerplate farm even
        |when q31 finds no whole-document near-dups — the screen read
        |next to q70's TTR before mixture weighting. Scale shape: ONE
        |shingle pass (persisted 60-bit digest frame); corpus frequency
        |attaches via a count window riding the single s-keyed exchange
        |(the q45/q54 lesson — an aggregate+join would scan the shingle
        |stream twice); per-doc (n, u) reduce with map-side partials;
        |the decile is PURE INTEGER arithmetic ((10·u) div n — membership
        |never consults a float, the q66 rule); final rollup at
        |#source × 11 cardinality.""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |freq AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
        |per AS (SELECT sh.doc_id, count(*) AS n,
        |        sum(CASE WHEN f.c = 1 THEN 1 ELSE 0 END) AS u
        |        FROM sh JOIN freq f USING (s) GROUP BY sh.doc_id),
        |dec AS (SELECT d.source, CAST((10 * per.u) // per.n AS INT) AS decile
        |        FROM per JOIN documents d USING (doc_id) WHERE per.n > 0)
        |SELECT source, decile, count(*) AS n_docs FROM dec
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val sh = docs
        .select(col("doc_id"),
          explode(NativeExprs.shingleMd5Prefixes(
            TextOps.tokens(col("text")), 3, 15)).as("s"))
      // corpus shingle frequency via the count window — the one s-keyed
      // exchange carries (doc_id, s); no second scan, no freq join
      val per = sh
        .withColumn("c", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("s")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("u"))
        .filter(col("n") > 0)
      per
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"),
          expr("cast((10 * u) div n as int)").as("decile"))
        .groupBy("source", "decile")
        .agg(count(lit(1)).as("n_docs"))
        .transform(Relational.smallSort(_, "source", "decile"))
    },

    Q("q79_dup_aware_sample",
      """Q79 — duplicate-aware deterministic sampling: q40's content-hash
        |membership applied at the CLUSTER grain — each near-dup family
        |(q68's components; singletons are their own family) is kept or
        |dropped as a unit by its q76 representative's hash, so the 20 %
        |sample can't over-represent duplicated content (a 1000-copy
        |boilerplate farm gets ONE membership draw, not 1000) and stays
        |reproducible across runs/partitionings/engines. Output: per
        |representative source — families total/kept and documents
        |covered by kept families. Scale shape: the shared
        |coShingledPairs core + pointer-jumping CC; the full corpus joins
        |the PAIRED label set left (narrow key join — unmatched docs are
        |their own cluster); rep selection = bounded TopKAgg top-1 per
        |family; the membership draw is the q40 md5 score on the rep id;
        |rollup at source cardinality.""".stripMargin,
      """WITH RECURSIVE tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT i, j FROM inter JOIN cnt ca ON ca.doc_id = i
        |                              JOIN cnt cb ON cb.doc_id = j
        |       WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5),
        |edges AS (SELECT i AS u, j AS v FROM pr UNION ALL SELECT j AS u, i AS v FROM pr),
        |reach(u, x) AS (
        |  SELECT DISTINCT u, u FROM edges
        |  UNION
        |  SELECT e.u, r.x FROM edges e JOIN reach r ON r.u = e.v),
        |lb AS (SELECT u, min(x) AS lbl FROM reach GROUP BY u),
        |mem AS (SELECT d.doc_id, coalesce(lb.lbl, d.doc_id) AS cl, d.n_chars, d.source
        |        FROM documents d LEFT JOIN lb ON lb.u = d.doc_id),
        |rep AS (SELECT cl, doc_id AS rep_id, source AS rep_source FROM (
        |         SELECT cl, doc_id, source,
        |                row_number() OVER (PARTITION BY cl ORDER BY n_chars DESC, doc_id) AS rn
        |         FROM mem) WHERE rn = 1),
        |sz AS (SELECT cl, count(*) AS n FROM mem GROUP BY cl),
        |dec AS (SELECT r.rep_source,
        |        ((('0x' || substr(md5(CAST(r.rep_id AS VARCHAR) || '#42'), 1, 15))::UBIGINT % 1000000) < 200000) AS keep,
        |        sz.n
        |        FROM rep r JOIN sz USING (cl))
        |SELECT rep_source AS source, count(*) AS clusters_total,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS clusters_kept,
        |       CAST(sum(CASE WHEN keep THEN n ELSE 0 END) AS BIGINT) AS docs_covered
        |FROM dec GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      dupAwareSample(Tables.documents(s, d))
    },

    Q("q81_ivf_route",
      """Q81 — IVF similarity search over the q77-TRAINED codebook (VERDICT
        |r8 #4): the production ANN read path that q61/q77/q80 exist to
        |feed — every query routes to its nProbe = 8 nearest trained
        |cells ((d, cid) order, the compiled NearestKCentroidsL2 bounded
        |top-k loop — one row per query, no K-way explode), scans only
        |those cells' inverted-file members, scores candidates with exact
        |integer squared-L2 (the codegen'd l2sq_long pair kernel), and
        |keeps top-5 per query via the bounded TopKAgg (map side ships
        |≤ 5 candidates per (mapper, query); dist ASC ≡ negated-score
        |DESC, ties nid ASC — the oracle's row_number order; the DOUBLE
        |score buffer is exact, max dist 2.6e10 ≪ 2^53). Fully
        |deterministic — quantized integer vectors, the shared
        |integer-exact Lloyd prefix, total-order routing — so unlike
        |LSH-probabilistic q50 this ANN entry is DuckDB-ORACLED: the
        |oracle replays routing and scoring from the same kmeans CTE
        |prefix. Scale shape: queries batch through ONE cid-keyed
        |shuffle_hash join against the assignment (at rest the inverted
        |file is a cid-partitioned table and routing prunes partitions,
        |the Ann.writeBucketed story); candidate work per query is
        |nProbe/K of the corpus. Recall vs integer brute force is pinned
        |in CatalogSpec (planted-twin exactness + a measured floor).""".stripMargin,
      ivfRouteOracle) { (s, d) =>
      ivfRoute(quantizedEmbeddings(s, d))
    },

    Q("q82_textrank",
      """Q82 — TextRank keyword extraction (the Mihalcea–Tarau graph-based
        |ranker): a damped PageRank walk over the word co-occurrence
        |graph — nodes = vocabulary, directed edges = bigrams weighted by
        |corpus count — surfacing the tokens most central to the corpus's
        |phrase structure (the unsupervised keyword/tag signal a curation
        |pipeline attaches before topic routing; beyond q26/q69's raw
        |frequency — a token ranks high when WELL-CONNECTED tokens
        |transition into it, not merely when common). Five damped
        |iterations (d=0.85), INTEGER-exact end to end: ranks live at
        |scale 10¹², the uniform seed and teleport term are integer
        |divisions of it, and each edge's contribution is
        |(r(w1)·c) div W(w1) (≤ 10¹⁷ ≪ 2⁶³) — no float enters the
        |walk, so engines can't drift (the q77 regime). Scale shape: the
        |token STREAM is consumed once into the map-side-combined bigram
        |count table (the q57 reduced-table lesson) with out-weights by
        |a sum window over its w1 groups; each iteration joins the
        |REDUCED edge table against the vocabulary-sized rank frame
        |(broadcast here; the documented web-scale lever is the same as
        |the pair core's count attach — flip to a w1-keyed shuffle join
        |when the vocabulary outgrows the broadcast budget) and reduces
        |by destination token with map-side partials; the rank frame
        |eager-localCheckpoints per round (the CC O(1)-plan lesson).
        |Dangling mass (tokens with no outgoing bigram) decays by
        |design — identically in both engines, since the teleport term
        |re-seeds every node. Top-20 via the bounded global TopKAgg
        |((rank DESC, token ASC) — the oracle's row_number order; the
        |DOUBLE score buffer is exact ≤ 2⁵³). Round 10: below a reduced-
        |edge-table budget the five rounds FUSE into one driver-local
        |walk (see [[textrank]]) — one collect of the reduced table
        |replaces five per-round broadcast collects + checkpoints.""".stripMargin,
      textrankOracle) { (s, d) =>
      textrank(Tables.documents(s, d))
    },

    Q("q83_lsh_md5",
      """Q83 — MinHash + banded LSH near-dup candidates with a REPLAYABLE
        |signature, DuckDB-ORACLED end to end (the first oracled entry in
        |the LSH family — q32/q56 stay caps because their xxhash-style
        |permutations aren't expressible in SQL; md5 is, in both engines,
        |so the whole probabilistic pipeline becomes hash-checkable):
        |16 permutations h_p(s) = md5(p || ':' || shingle) minimized per
        |document, 4 bands × 4 rows, candidates = pairs sharing ≥1 band
        |key, each candidate exact-verified (3-shingle jaccard attached —
        |NO threshold, so the output exposes the banding's true
        |candidate-generation behavior, not just its survivors). Lexico-
        |graphic min over fixed-width lowercase hex ≡ numeric min over the
        |128-bit value, and both engines compare strings bytewise, so the
        |signatures are bit-identical. Scale shape: signatures are computed
        |per document with NO shuffle (nested HOF over the per-doc distinct
        |shingle array — md5 cost dominates the interpreted-lambda tax, and
        |the banded frame is persisted so the self-join's two sides don't
        |recompute the 16·|sh| hashes); the candidate join shuffles 4
        |(band, 128-hex key) rows per doc — constant width regardless of
        |document size, the property that makes LSH the scale path; exact
        |verification touches ONLY candidate pairs (two broadcast-driven
        |joins against the shingle frame — candidates ≪ co-shingled pairs,
        |so this is strictly cheaper than the q31 posting join; at 100 TB
        |the candidate set still broadcasts because banding caps it near
        |the true-positive mass). Oracle fairness: sh/cand are AS
        |MATERIALIZED — measured FASTER for DuckDB than inlining (5.0 s vs
        |11.7 s at sf0.1), so the denominator is DuckDB's best form.""".stripMargin,
      lshMd5Oracle) { (s, d) =>
      lshMd5Pairs(Tables.documents(s, d))
    },

    Q("q84_label_prop",
      """Q84 — semi-supervised label propagation over the exact near-dup
        |graph (Zhu–Ghahramani label spreading, the majority-vote form):
        |sparse seed labels (lang on the doc_id % 3 == 0 split, the
        |"human-annotated subset" stand-in) spread to unlabeled duplicate
        |family members over 3 synchronous rounds — the label-transfer
        |pass a curation pipeline runs before training per-language
        |filters. Seeds are CLAMPED (never overwritten); unlabeled nodes
        |take the majority label among neighbors' current non-null labels
        |(count DESC, code ASC — integer-exact, no float enters the
        |vote, the q77/q82 regime); families holding no seed surface as
        |label 0. Scale shape: edges are the shared q31 pair core (the
        |banded/bucketed candidate path at 100 TB); each round is ONE
        |dst-keyed count aggregation over the edge table with the
        |node-sized label frame broadcast in (the q82 web-scale lever —
        |flip to a src-keyed shuffle join past the broadcast budget) and
        |a bounded TopKAgg argmax — no windows, no per-key collections;
        |per-round localCheckpoints keep the broadcast from re-running
        |prior rounds (the q82 checkpoint lesson). DuckDB-oracled via 3
        |chained majority-vote CTEs over the same MATERIALIZED pair
        |closure.""".stripMargin,
      labelPropOracle) { (s, d) =>
      labelPropagation(Tables.documents(s, d))
    },

    Q("q85_split_assign",
      """Q85 — deterministic content-hash train/val/test split with
        |stratified accounting: split = first byte of md5(text) against
        |80/10/10 thresholds (205/230 of 256), so assignment is a pure
        |function of CONTENT — stable under re-crawls, re-orderings and
        |doc_id reassignment, and exactly replayable by any engine (the
        |property that keeps eval sets leak-free across pipeline reruns;
        |id- or position-based splits silently re-shuffle docs between
        |train and test when upstream ordering changes). Output is the
        |per-(source, split) doc/token mass and the within-source
        |fraction — the stratification report that catches a source
        |whose content distribution skews its own split. Scale shape:
        |one md5 + token-count projection per doc (map-only, inside
        |whole-stage codegen), partial-aggregated map-side into a
        |(source × 3)-row table; the stratification window runs on that
        |tiny aggregate, never on the corpus. At 100 TB this is a single
        |scan with two trivial exchanges.""".stripMargin,
      """WITH h AS (SELECT source, doc_id, text,
        |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16 +
        |    (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS v,
        |    len(string_split(text, ' ')) AS n_tok FROM documents),
        |s AS (SELECT source,
        |    CASE WHEN v < 205 THEN 'train' WHEN v < 230 THEN 'val' ELSE 'test' END AS split,
        |    count(*) AS nd, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM h GROUP BY 1, 2)
        |SELECT source, split, CAST(nd AS BIGINT) AS n_docs, n_tokens,
        |  round(nd * 1.0 / sum(nd) OVER (PARTITION BY source), 4) AS frac
        |FROM s ORDER BY source, split""".stripMargin) { (s, d) =>
      val sp = Tables.documents(s, d)
        .select(col("source"), contentSplit.as("split"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_tok"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("n_tokens"))
      sp.withColumn("frac", round(col("nd") * 1.0 /
          sum(col("nd")).over(org.apache.spark.sql.expressions.Window
            .partitionBy("source")), 4))
        .select(col("source"), col("split"), col("nd").cast(LongType).as("n_docs"),
          col("n_tokens"), col("frac"))
        .transform(Relational.smallSort(_, "source", "split"))
    },

    Q("q86_split_leakage",
      """Q86 — train→test shingle-leakage audit over q85's content-hash
        |split (the eval-integrity check run after every split
        |assignment): for each TEST document, the fraction of its distinct
        |3-shingles that also occur in ANY train document, rolled up per
        |source as (n_test, mean leak fraction in integer ten-thousandths,
        |docs with >= 50 % leaked). A content-stable split does NOT make
        |near-duplicate leakage impossible — two near-identical docs can
        |hash to different splits — which is exactly what this audit
        |measures (and why curation dedups BEFORE splitting; compare
        |q44's corpus-vs-benchmark direction). Shingles compare as 60-bit
        |md5-prefix digests (q31/q44's declared collision tolerance; the
        |string-keyed oracle would surface any collision). Scale shape:
        |one scan computes split tag + per-doc DISTINCT shingle digests
        |(array_distinct is doc-local — no shuffle); train digests and
        |test shingles meet in ONE digest-keyed equi join (both sides
        |corpus-sized, so neither broadcasts — sort-merge co-partitioned,
        |the q31 posting economics); everything after the per-doc count
        |is a #sources-row aggregate. Integer half-up arithmetic
        |throughout ((2s+n) div 2n — the q61 rule) so no float mean
        |crosses engines.""".stripMargin,
      splitLeakageOracle) { (s, d) =>
      splitLeakage(Tables.documents(s, d))
    },

    Q("q88_bpe_merges",
      """Q88 — byte-pair-encoding merge training (the first 5 merges),
        |the tokenizer-training step of an LLM data pipeline: words are
        |spelled as space-separated symbol sequences; each round counts
        |adjacent symbol pairs weighted by word frequency, merges the
        |globally most frequent pair (count DESC, then lexicographic —
        |deterministic), and rewrites the vocabulary by literal
        |leftmost-non-overlapping replace — the exact greedy semantics of
        |the reference BPE algorithm, and `replace` behaves identically
        |in both engines so the whole training run is hash-checkable.
        |Output: (rnd, lhs, rhs, merged, freq) per merge. Scale shape:
        |the corpus collapses to a VOCABULARY-sized (word, cnt) table in
        |one eager-checkpointed map-side-combined aggregation — the
        |corpus is scanned once, ever; each round is one pair-count
        |shuffle over that table and a bounded TakeOrdered top-1 (never
        |a global sort) whose SINGLE row is collected to the driver (the
        |merge decision is inherently sequential; the CC
        |convergence-check bounded-collect precedent), making each
        |rewrite a LITERAL narrow replace projection — round k's scan is
        |the checkpointed vocab plus k−1 vocabulary-local string
        |rewrites, with NO per-round crossJoin/persist/checkpoint
        |barrier (r9s3: 1.25 → ~0.6 s warm at sf0.1). At 100 TB the
        |vocab is ~10⁷ rows: every per-round structure is vocabulary-,
        |not corpus-, sized.""".stripMargin,
      bpeOracle) { (s, d) =>
      bpeMerges(Tables.documents(s, d))
    },

    Q("q89_minhash_estimate",
      """Q89 — MinHash estimator-quality audit: for every EXACT near-dup
        |pair (q31's jaccard ≥ 0.5 cut), the 16-permutation md5-signature
        |agreement estimate next to the true jaccard and the absolute
        |error, all in integer ten-thousandths (est = matching perms / 16;
        |E[est] = jaccard is the MinHash theorem — this entry measures the
        |16-perm estimator's actual spread on the corpus, the calibration
        |read a pipeline does before trusting q32/q56's thresholds at
        |scale). Integer half-up arithmetic end to end — no float round
        |crosses engines (the q61 rule). Scale shape: the exact pairs come
        |from the shared inverted-index core; signatures are computed ONLY
        |for pair participants (semi-join first — at a 0.5 threshold the
        |participant set is ≪ the corpus) with the compiled q83 kernels
        |and kept as one 16-element array per participant; agreement is a
        |per-pair zip_with count after two broadcast joins of the
        |candidate-bounded pair set into the signature stream — no
        |explode, no signature shuffle.""".stripMargin,
      minhashEstOracle) { (s, d) =>
      minhashEstimate(Tables.documents(s, d))
    },

    Q("q91_snapshot_diff",
      """Q91 — crawl-refresh snapshot diff (the CDC accounting a corpus
        |pipeline emits per re-crawl): current vs previous snapshot at the
        |doc_id key, rows classified added / removed / changed / same by
        |CONTENT HASH (md5 compared, never the document bytes — the diff
        |join ships 16-byte digests, not text), rolled up per source. The
        |snapshots are deterministic stand-ins on the driver corpus:
        |previous drops doc_id % 17 = 0 (→ added), current drops % 19 = 0
        |(→ removed) and revises % 13 = 0 (→ changed). Scale shape: two
        |projections of one scan, md5 computed BEFORE the join, ONE
        |id-keyed join + one anti join (both co-partition on doc_id at
        |scale), then a #source×4-row rollup.""".stripMargin,
      snapshotDiffOracle) { (s, d) =>
      snapshotDiff(Tables.documents(s, d))
    },

    Q("q92_bpe_encode",
      """Q92 — corpus encoding with the q88-trained tokenizer: per source,
        |whitespace-token count, post-merge BPE symbol count, and the
        |half-up e4 symbols-per-token ratio (the "how many tokens will
        |this corpus cost" read a pipeline does after training merges).
        |Scale shape: the corpus NEVER rewrites — encoding is word-level.
        |The q88 loop yields the final (word → symbol sequence) vocab;
        |symbol counts attach to a (source, word) count table via ONE
        |word-keyed shuffle_hash join (build on the global vocab, the
        |smaller side — both sides are vocabulary-, not corpus-, sized),
        |then a #sources-row rollup. At 100 TB the corpus is scanned once
        |for the (source, word) aggregation (map-side combined) and once
        |inside training's own vocab collapse; everything downstream is
        |vocabulary-sized.""".stripMargin,
      bpeEncodeOracle) { (s, d) =>
      bpeEncode(Tables.documents(s, d))
    },

    Q("q93_oov_rate",
      """Q93 — vocabulary coverage / OOV screen: global top-16 tokens by
        |corpus frequency (count DESC, token ASC — deterministic), then
        |per source the token count, out-of-vocabulary token count and
        |half-up e4 OOV rate (the coverage read that decides whether a
        |tokenizer vocab transfers to a new source mix; 16 of the corpus'
        |31-token vocabulary so the read is non-degenerate at every SF).
        |Scale shape: the corpus is scanned ONCE into a persisted
        |(source, token) count table (vocabulary × sources rows); the
        |global vocab derives from that table (a vocabulary-sized
        |re-aggregation, never a second text pass) as a bounded
        |TakeOrdered top-16 (never a global sort) and broadcasts as a
        |fixed-size build side back into it — one corpus-sized
        |aggregation exchange, one broadcast join, one #sources-row
        |rollup.""".stripMargin,
      oovOracle) { (s, d) =>
      oovRate(Tables.documents(s, d))
    },

    Q("q94_chunk_dedup",
      """Q94 — sub-document (chunk-level) exact dedup accounting: each doc
        |splits into non-overlapping 25-token chunks (last partial chunk
        |kept, the q41 slice economics); a chunk instance is DUPLICATED
        |when its md5 digest appears in ≥2 distinct docs. Per source:
        |chunk instances, duplicated instances, half-up e4 duplicated
        |fraction — the line/paragraph-grain dedup read (boilerplate
        |headers, licence blocks) that document-grain q28/q31 can't see.
        |Scale shape: chunking is codegen'd builtins (sequence + slice —
        |no interpreted lambdas, the q83 lesson); instances collapse to
        |the (digest, doc) grain map-side (a doc's chunks are co-located
        |with their doc row, so the per-doc combine is local); the
        |distinct-doc count is a map-side-combined digest aggregate
        |STREAMED back through a dg-keyed hash join (a count window
        |would buffer the hottest digest's — i.e. the boilerplate
        |chunk's — every row in one task); the exchange ships 16-byte
        |BINARY digests (unhex'd md5, never chunk text), and the rollup
        |is #sources-row.""".stripMargin,
      chunkDedupOracle) { (s, d) =>
      chunkDedup(Tables.documents(s, d))
    },

    Q("q95_boilerplate",
      """Q95 — per-source boilerplate shingle screen: a distinct 3-shingle
        |is BOILERPLATE within a source when it appears in ≥2 distinct
        |docs of that source (absolute min-support; production screens
        |layer a relative cut on top, but a percentage threshold is
        |scale-degenerate on this corpus — cross-doc shingle sharing
        |peaks at 12 %/2.4 % of a source at sf0.01/sf0.1). Per source:
        |distinct shingle types, boilerplate types, half-up e4
        |boilerplate share — the template/chrome detection read
        |(C4-style) that drives source-level cleaning rules. Scale
        |shape: per-doc distinct 60-bit shingle digests from the
        |compiled one-pass kernel (the pair-core representation — 8-byte
        |digests shuffle, never shingle strings), ONE (source,
        |digest)-keyed aggregation exchange, #sources-row rollup.""".stripMargin,
      boilerplateOracle) { (s, d) =>
      boilerplateScreen(Tables.documents(s, d))
    },

    Q("q96_dedup_yield",
      """Q96 — dedup yield accounting: the "what does dedup actually save"
        |read a pipeline reports before committing to a cleaning config —
        |per (source, reason ∈ kept/exact/near_dup), documents and
        |whitespace-token mass. Exact removal keeps the min doc_id per
        |content hash (q28 semantics); near-dup removal runs on the exact
        |SURVIVORS (the q55 stage order) and keeps the min member of each
        |jaccard ≥ 0.5 transitive closure cluster (q76 semantics). Scale
        |shape: one corpus scan persisted with the md5-window flag (the
        |audited q28 exchange); survivors feed the shared pair core and
        |the pointer-jumping CC (pair-set-only shuffles); classification
        |is two doc-keyed joins against the node-sized label frame; the
        |rollup is #sources×3 rows. Mass conservation (Σ over reasons =
        |corpus totals) is spec-pinned.""".stripMargin,
      dedupYieldOracle) { (s, d) =>
      dedupYield(Tables.documents(s, d))
    },

    Q("q101_centroid_drift",
      """Q101 — per-label embedding-centroid drift vs the corpus centroid
        |(the class-balance / embedding-space skew read before trusting a
        |label split or a mixture weighting: a label whose centroid sits
        |far off the corpus axis is either a genuine modality or a
        |labeling artifact — read next to q60's per-item outliers and
        |q80's codebook margins). Cosine is computed between SUM vectors
        |(cos of sums ≡ cos of means — the per-label division never
        |happens): per-dimension sums of the e4-quantized integer
        |components are EXACT BIGINTs, the dot products and norm squares
        |stay exact integers (≤ 4.4e16 at sf0.1 — inside BIGINT; the
        |doubles both engines then divide are casts of IDENTICAL
        |integers, the q90 bit-identity regime), and only the final
        |sqrt/divide/round(4) runs in float. Scale shape: one posexplode
        |scan reduces to the (label × dim) sum table (map-side combined);
        |the global per-dim vector is that table re-reduced (#dims rows,
        |broadcast back); everything after is #labels-row. At 100 TB
        |this is one scan + two bounded exchanges.""".stripMargin,
      centroidDriftOracle) { (s, d) =>
      centroidDrift(Tables.embeddings(s, d))
    },

    Q("q103_split_parity",
      """Q103 — split-representativeness audit over q85's content-hash
        |split (the check a content-stable split still needs: random BY
        |CONTENT does not mean balanced BY QUALITY — a skewed val/test
        |quality profile silently biases every eval): per (split,
        |quality-decile) the doc count, the within-split share and the
        |absolute deviation from the train share, shares in integer
        |half-up e4 and the deviation computed ON the rounded integers
        |(engine-exact end to end; decile = q66's pure-rational bucket,
        |split = q85's exact md5-byte assignment). Scale shape: ONE
        |corpus scan maps each doc to its (split, decile); everything
        |after runs on the ≤ 3×11-row count table — the grid is a
        |33-row map-only range (no literal×literal cross join), the
        |per-split totals and the train-share column attach as bounded
        |broadcasts. An empty split drops its rows on both engines
        |(inner join with the totals) rather than dividing by
        |zero.""".stripMargin,
      splitParityOracle) { (s, d) =>
      splitParity(Tables.documents(s, d))
    },

    Q("q116_label_confusion",
      """Q116 — pairwise label-centroid cosine matrix over the
        |embeddings (the confusability read between labels: q101 scores
        |each label against the corpus axis, this scores every label
        |against every OTHER label — two labels whose centroids cosine
        |near 1 are one concept split by the labeler, the merge
        |candidate list before training on the label column). The q101
        |integer regime end to end: cosine between per-label SUM
        |vectors of e4-quantized integer components (cos of sums ≡ cos
        |of means; dots and norms exact BIGINTs — pairwise products are
        |bounded by q101's global-sum case; both engines divide
        |IDENTICAL integer casts, only sqrt/divide/round(4) in float).
        |Contract: fixed-dimension non-empty vectors (as cosine itself
        |requires — per-dim counts are per-label constant, so n_vecs =
        |max over dims, the q101 trick). Scale shape: one posexplode
        |scan reduces to the (label × dim) sum table; the pair matrix
        |is that TINY table self-joined on dim (≤ #labels² × dims rows
        |— label cardinality is bounded); everything else is
        |#labels²-row.""".stripMargin,
      labelConfusionOracle) { (s, d) =>
      labelConfusion(Tables.embeddings(s, d))
    },

    Q("q123_dim_variance",
      """Q123 — per-DIMENSION embedding mean/variance profile (the
        |dead-and-biased-dimension screen: a near-zero-variance
        |dimension carries no signal but full storage/compute cost, a
        |far-from-zero mean biases every dot product — the
        |dimension-grain QA read beside q118's vector-grain norms and
        |q101/q116's label-grain centroids). Determinism: Σv and Σv²
        |over e4-quantized integers are exact BIGINTs; the variance
        |numerator n·Σv² − (Σv)² is an exact non-negative integer (the
        |q90 second-moment rule), and both engines then divide and
        |round(4) IDENTICAL doubles. BIGINT bound: n·Σv² overflows
        |past ~1e9 vectors (the q112 DECIMAL(38) lever). Scale shape:
        |one posexplode scan reduces map-side to #dims rows — at
        |100 TB this is a scan plus one bounded exchange.""".stripMargin,
      dimVarianceOracle) { (s, d) =>
      dimVariance(Tables.embeddings(s, d))
    },

    Q("q118_norm_audit",
      """Q118 — per-label embedding-norm audit: n_vecs, exact min /
        |median / max of the INTEGER squared norm Σ(e4-quantized
        |component)² (the normalized-or-not read before choosing dot
        |product vs cosine, and before trusting q64/q77's L2 geometry:
        |un-normalized labels make dot-ranked retrieval length-biased;
        |this corpus measures normalized to ±0.01 % — the audit is what
        |PROVES that, per label). Median = the value at rank ceil(n/2)
        |(the q110 order-statistic convention) found by the q100 cum
        |trick on the (label, norm²) count table — no row-grain rank
        |window ever sorts a label slice. Norm² is computed per row by
        |a LOCAL array fold (no posexplode, no shuffle); everything
        |after runs on the reduced count table. All integer until the
        |output. Empty vectors are guarded out explicitly on BOTH
        |engines (a fold says 0, list_sum says NULL — the one shape
        |where they disagree).""".stripMargin,
      normAuditOracle) { (s, d) =>
      normAudit(Tables.embeddings(s, d))
    },

    Q("q117_dup_quality_bias",
      """Q117 — near-dup quality-bias audit: the quality-decile mix of
        |duplicate-family members vs the deduplicated corpus (rep =
        |the q76 canonical each family keeps, dup = the members dedup
        |drops, unique = docs in no family), with the within-status
        |share in half-up e4. The question a dedup stage must answer
        |before shipping its survivors: is duplicated content QUALITY-
        |SKEWED — if dups concentrate in low deciles, dedup silently
        |raises corpus quality (fine), but if they concentrate in HIGH
        |deciles the keep-one rule is deleting the best mass and the
        |mixture weights (q65) re-balance on a biased profile. An
        |EXACT-dup version was rejected: the corpus has ZERO exact
        |duplicates at sf0.01 (measured — the dropped stratum would be
        |empty at the correctness SF); the near-dup family grain is
        |the q76 semantics with non-vacuous strata at both SFs.
        |Decile = q66's pure-rational bucket (the ONE shared
        |definition). Scale shape: pairs are q31's inverted index, CC
        |shuffles only pairs, rep is the bounded per-family TopKAgg
        |argmax ((n_chars DESC, doc_id ASC) — q76's order); the
        |status column attaches to the corpus scan as a BROADCAST of
        |the paired subset (near-dup members are small by definition);
        |the tail is the ≤ 3×11-row (status, decile) table.""".stripMargin,
      dupQualityBiasOracle) { (s, d) =>
      dupQualityBias(Tables.documents(s, d))
    },

    Q("q128_lsh_fidelity",
      """Q128 — MinHash-LSH fidelity audit: precision/recall of q83's
        |banded candidate generation against q31's EXACT 3-shingle
        |jaccard truth, per threshold rung (τ_e4 ∈ 500/2500/5000/7500) —
        |the tuning read a dedup stage runs on a SAMPLE before trusting a
        |(perms, bands) configuration on the full corpus: recall says
        |what fraction of true near-dup pairs the banding surfaces,
        |precision says what fraction of the candidate budget is spent on
        |true pairs at each τ. Both sides are the SHARED definitions
        |(truth = Dedup.coShingledPairs — q31's measured-best inverted
        |index; candidates = lshMd5Candidates — exactly the banding q83
        |ships), so the audit measures the production operators, not
        |replicas. Candidates are provably ⊆ co-shingled pairs (equal
        |band ⟹ equal argmin shingle ⟹ shared shingle), so detection is
        |a LEFT mark-join of truth onto candidates; threshold tests are
        |integer-exact (10⁴·k ≥ τ·u in BIGINT — no float jaccard enters
        |a comparison), precision/recall are half-up e4 with the
        |empty-denominator convention 10000 (a banding audited against
        |nothing has nothing to miss). Scale shape: the pair frames are
        |the operators' own (posting join / band join — nothing new
        |shuffles at corpus grain); the whole ladder folds in ONE
        |conditional-sum pass over the marked pair set (map-side
        |combined to a single row that explodes back into its rungs —
        |no ×rungs fan-out, no threshold-frame join); n_cand attaches
        |as a proven-1-row scalar. At 100 TB the audit runs on a
        |stratified sample (q40) — exact truth is O(co-shingled pairs)
        |by construction, which is the quantity q120's Σdf·(df−1)/2
        |histogram budgets in advance.""".stripMargin,
      lshFidelityOracle) { (s, d) =>
      lshFidelity(Tables.documents(s, d))
    },

    Q("q130_ann_recall",
      """Q130 — IVF recall curve: micro-averaged recall@5 of q81's routed
        |search against exact integer brute-force truth, per nProbe rung
        |(1/2/4/8), with the candidate volume each rung pays — the
        |recall-vs-cost TRADEOFF surface an ANN deployment reads to pick
        |its operating point (q81 ships nProbe = 8; this entry is the
        |evidence for that choice, the q128-for-ANN: every retrieval
        |stack audits its index against flat search on a query sample
        |before serving it). Fully deterministic and DuckDB-oracled like
        |q81: the q77-trained codebook, (d, cid)-total-order routing,
        |exact integer squared-L2 everywhere, (dist, nid) top-5 on both
        |the IVF and truth sides — no float enters a comparison; recall
        |is half-up e4 over the k·n_queries slot denominator (queries
        |whose probed cells hold < 5 candidates forfeit the missing
        |slots — that IS the cost of under-probing). Scale shape: ONE
        |corpus-sized candidate join at the MAXIMAL rung (each smaller
        |rung filters the persisted scored frame by the cell's routing
        |rank — cells are disjoint, so a neighbor enters via exactly one
        |rank); truth is the brute scan with the query batch broadcast
        |(nQueries ≪ corpus — the audit runs on a sample, q128's rule);
        |every rung's tail is three proven-1-row aggregates.""".stripMargin,
      ivfRecallOracle) { (s, d) =>
      ivfRecall(quantizedEmbeddings(s, d))
    },

    Q("q132_cell_balance",
      """Q132 — IVF cell-size balance audit over the q77-trained codebook:
        |empty-cell count, max and median membership, max-over-mean ratio
        |and the Gini of the 64 cell sizes (empty cells count at 0) — the
        |routing-SKEW read that completes q130's recall curve: recall says
        |whether nProbe cells are ENOUGH, balance says what the worst
        |probed cell COSTS (a hot cell holding 10× the mean makes every
        |query routed to it scan 10× the candidates — tail latency — and
        |dead cells are wasted codebook capacity, the q123 dead-dimension
        |read at the INDEX grain). Exact integers end to end: median =
        |rank ceil(n/2) on the counts-of-counts table (q124's rule), Gini
        |via the q102 tie-block identity, ratio half-up e4. Scale shape:
        |assignment is the shared one-pass kernel; cell sizes reduce the
        |corpus to ≤K rows; the (size, count) support then collapses to
        |ONE row whose sorted array drives median and Gini as local
        |integer folds (K is broadcast-bounded by the codebook's own
        |premise — no window, no rank sort, no driver collect).""".stripMargin,
      cellBalanceOracle) { (s, d) =>
      cellBalance(quantizedEmbeddings(s, d))
    },

    Q("q134_lsh_incremental",
      """Q134 — incremental LSH at the ingest boundary, md5-ORACLED (the
        |q56 cap's hash-checkable twin, closing the q32→q83 precedent for
        |the INCREMENTAL form): the arriving batch (q56's every-10th-doc
        |split) probes the corpus's band buckets and only batch×corpus
        |candidates form — corpus×corpus pairs NEVER materialize, which
        |is the property that makes per-ingest cost O(batch · bands)
        |against a corpus signature table computed once. Signatures are
        |the q83/q128 shared md5 banding (16 perms, 4 × 4 — replayable in
        |both engines); every candidate is exact-verified (3-shingle
        |jaccard, NO threshold, exposing the banding's true cross-side
        |behavior). q56 keeps the production xxhash path — this entry is
        |its auditable replay, exactly as q83 is q32's. Scale shape: ONE
        |shingle/signature pass (the side split is a filter on the
        |persisted banded frame; production keeps the corpus side at
        |rest and computes only batch signatures per increment); the
        |candidate join ships 4 constant-width rows per doc; exact
        |verification touches ONLY the candidate set (broadcast-driven,
        |the q83 pattern).""".stripMargin,
      lshIncrementalOracle) { (s, d) =>
      lshIncremental(Tables.documents(s, d))
    }
  )

  /** Five chained damped-walk CTEs over the reduced bigram table — the
    * same integer arithmetic as the engine ((r·c) div W, teleport =
    * (15·seed) div 100), ending in the row_number top-20.
    */
  /** q82's logic over an arbitrary corpus — exposed so specs can pin the
    * fused-vs-shuffled walk equivalence and the teleport floor on
    * engineered graphs.
    *
    * Two physically different walks, one integer semantics:
    *  - `localWalk` (default when the REDUCED bigram table fits the
    *    budget): the edge table — already vocabulary²-bounded and
    *    map-side combined, the same frame the shuffled form broadcasts
    *    the rank vector against — collects ONCE and all five damped
    *    rounds run as a driver-local integer loop; the final rank map
    *    re-enters the plan as a broadcast join onto the vocab frame.
    *    ONE bounded collect replaces 5 × (broadcast-collect of the rank
    *    frame + dst-keyed shuffle + eager checkpoint) — the same
    *    barrier-economics rewrite as q88's driver argmax. The collect is
    *    of a REDUCED aggregate (never corpus rows), exactly the data the
    *    old form shipped driver-ward five times in rank-frame pieces.
    *  - shuffled (forced, or when the edge table outgrows the budget —
    *    the web-scale path): per round, join the reduced edges against
    *    the broadcast rank frame and reduce by destination with
    *    map-side partials; eager per-round localCheckpoint is
    *    LOAD-BEARING — each round's broadcast exchange executes its
    *    input subtree, so without it round k re-runs rounds 1..k−1
    *    inside the broadcast (measured 2.5 s vs 1.0 s at sf0.1).
    * Both paths use the identical integer recurrence (seed = 10¹² div V,
    * teleport = 15·seed div 100, edge flow (r·c) div wt, damp
    * (85·inm) div 100 — all non-negative, so Long `/` ≡ `div`), so the
    * results are bit-identical (CatalogSpec pins it).
    */
  def textrank(docs: DataFrame, localWalkMaxEdges: Long = 2000000L,
               forceShuffled: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs.select(TextOps.tokens(col("text")).as("toks"))
    val bi = toks.select(explode(arrays_zip(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))).as("w1"),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))).as("w2")))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val e = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .withColumn("wt", sum(col("c"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("w1")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = toks.select(explode(col("toks")).as("t")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // V is a scalar by nature (the rank seed's denominator); the count
    // also materializes the vocab cache the walk reuses
    val vocab = v.count()
    val seed = 1000000000000L / vocab
    val teleport = 15L * seed / 100L
    val nEdges = e.count()
    val r: DataFrame =
      if (!forceShuffled && nEdges <= localWalkMaxEdges) {
        // ---- fused local walk over the collected reduced edge table
        val edges = e.select(col("w1"), col("w2"), col("c"), col("wt"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        val nodes = edges.iterator
          .flatMap(t => Iterator(t._1, t._2)).toSet
        var rm = nodes.iterator.map(_ -> seed).toMap
        (1 to 5).foreach { _ =>
          val inm = scala.collection.mutable.HashMap.empty[String, Long]
          edges.foreach { case (w1, w2, c, wt) =>
            inm.update(w2, inm.getOrElse(w2, 0L) + rm(w1) * c / wt)
          }
          rm = nodes.iterator
            .map(t => t -> (teleport + 85L * inm.getOrElse(t, 0L) / 100L))
            .toMap
        }
        import spark.implicits._
        val rankDf = rm.toSeq.toDF("t", "r")
        // isolated vocab tokens (no bigram either side) sit at the
        // teleport floor — identical to 5 rounds of inm = 0
        v.join(broadcast(rankDf), Seq("t"), "left")
          .select(col("t"), coalesce(col("r"), lit(teleport)).as("r"))
      } else {
        var rr = v.select(col("t"), lit(seed).as("r")).localCheckpoint(true)
        (1 to 5).foreach { _ =>
          val inm = e
            .join(broadcast(rr.select(col("t").as("w1"), col("r"))), Seq("w1"))
            .select(col("w2").as("t"), expr("(r * c) div wt").as("m"))
            .groupBy("t").agg(sum(col("m")).as("inm"))
          rr = v.join(inm, Seq("t"), "left")
            .select(col("t"),
              (lit(teleport) + expr("(85 * coalesce(inm, 0L)) div 100")).as("r"))
            .localCheckpoint(true)
        }
        rr
      }
    graft.operators.TopK.perGroup(
        r.select(col("t"), col("r").cast(DoubleType).as("rs")),
        Seq.empty, "rs", "t", 20)
      .select(col("t").as("token"), col("rnk"),
        col("rs").cast(LongType).as("rank"))
      .transform(Relational.smallSort(_, "rnk"))
  }

  private lazy val textrankOracle: String = {
    def it(k: Int): String = {
      val p = k - 1
      s"""r$k AS (SELECT v.t,
         |       CAST((15 * (1000000000000 // vc.v)) // 100 +
         |            (85 * coalesce(m$k.inm, 0)) // 100 AS BIGINT) AS r
         |       FROM v CROSS JOIN vc
         |       LEFT JOIN (SELECT e.w2 AS t,
         |                  CAST(sum((r$p.r * e.c) // w.wt) AS BIGINT) AS inm
         |                  FROM e JOIN r$p ON r$p.t = e.w1
         |                         JOIN w ON w.w1 = e.w1
         |                  GROUP BY e.w2) m$k ON m$k.t = v.t)""".stripMargin
    }
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |ix AS (SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS i FROM tok),
      |bi AS MATERIALIZED (SELECT a.t AS w1, b.t AS w2 FROM ix a JOIN ix b
      |      ON a.doc_id = b.doc_id AND b.i = a.i + 1),
      |e AS MATERIALIZED (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
      |w AS MATERIALIZED (SELECT w1, sum(c) AS wt FROM e GROUP BY 1),
      |v AS MATERIALIZED (SELECT DISTINCT t FROM ix),
      |vc AS (SELECT count(*) AS v FROM v),
      |r0 AS (SELECT t, CAST(1000000000000 // vc.v AS BIGINT) AS r FROM v CROSS JOIN vc),
      |""".stripMargin +
      (1 to 5).map(it).mkString(",\n") + """
      |SELECT t AS token, CAST(rn AS INT) AS rnk, r AS rank
      |FROM (SELECT t, r, row_number() OVER (ORDER BY r DESC, t) AS rn FROM r5)
      |WHERE rn <= 20 ORDER BY rnk""".stripMargin
  }

  /** q81's logic over an arbitrary quantized (vec_id, v ARRAY<LONG>) frame
    * — exposed so specs can drive engineered corpora (planted twins,
    * separated clusters) through the exact catalog path, the
    * quarantineClusters/clusterReps precedent. Queries = every
    * `everyNth`-th vec_id; routing fans each query to its `nProbe`
    * nearest trained cells; exact integer top-`k` per query.
    */
  def ivfRoute(emb: DataFrame, everyNth: Long = 100L, nProbe: Int = 8,
               k: Int = 5): DataFrame = {
    // driver-trained codebook (r17): ONE literal feeds both the
    // assignment pass and the routing pass — both are map-only (no
    // crossJoin, no broadcast builds)
    val arr = refineCodebookArr(emb)
    val asg = assignToCent(emb, arr)
    val routed = emb.filter(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(NativeExprs.nearestKCentroidsL2(col("v"), centsLit(arr), nProbe))
          .as("rc"))
      .select(col("qid"), col("qv"), col("rc.cid").as("cid"))
    // the HINTED side becomes the hash-join BUILD side: build on the query
    // batch (nQueries × nProbe rows per cid partition), probe the
    // corpus-sized inverted file — building on the corpus side would hold
    // ~nProbe/K of the whole corpus' vectors in the hash map per partition
    // (review finding, r9)
    val scored = routed.hint("shuffle_hash")
      .join(asg.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("cid")), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (-NativeExprs.l2SqLong(col("qv"), col("nv")).cast(DoubleType))
          .as("nd"))
    graft.operators.TopK.perGroup(scored, Seq("qid"), "nd", "nid", k)
      .select(col("qid"), col("rnk"), col("nid"),
        (-col("nd")).cast(LongType).as("dist"))
      .orderBy("qid", "rnk")
  }

  /** q130's logic over an arbitrary quantized (vec_id, v ARRAY<LONG>)
    * frame — exposed so specs can pin planted-twin exactness per rung,
    * rung monotonicity (recall and candidate volume both non-decreasing
    * in nProbe), and the truth/IVF tie orders on engineered clusters.
    */
  def ivfRecall(emb: DataFrame, everyNth: Long = 20L,
                probes: Seq[Int] = Seq(1, 2, 4, 8), k: Int = 5): DataFrame = {
    val maxProbe = probes.max
    val arr = refineCodebookArr(emb)
    val asg = assignToCent(emb, arr)
    val queries = emb.filter(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val routed = queries
      .select(col("qid"), col("qv"),
        posexplode(NativeExprs
          .nearestKCentroidsL2(col("qv"), centsLit(arr), maxProbe))
          .as(Seq("pos", "rc")))
      .select(col("qid"), col("qv"), (col("pos") + 1).as("cell_rank"),
        col("rc.cid").as("cid"))
    // ONE corpus join at the maximal rung (q81's build-on-queries hint);
    // persisted: every rung filters it twice (candidate count + top-k)
    val scored = routed.hint("shuffle_hash")
      .join(asg.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("cid")), Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("cell_rank"), col("nid"),
        (-NativeExprs.l2SqLong(col("qv"), col("nv")).cast(DoubleType))
          .as("nd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact truth: flat scan with the query batch broadcast; the q81
    // double-buffer bound applies (max dist 2.6e10 ≪ 2^53, negation exact)
    val truthScored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (-NativeExprs.l2SqLong(col("qv"), col("v")).cast(DoubleType))
          .as("nd"))
    val truth = graft.operators.TopK
      .perGroup(truthScored, Seq("qid"), "nd", "nid", k)
      .select(col("qid"), col("nid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    // r18 rung folding: the old form re-read the persisted scored frame
    // per rung (4 × (filter + top-k aggregate + truth join + count) — four
    // full jobs; DevJobs measured them at ~750 ms each on this corpus).
    // Cells are disjoint and ranked, so a scored row belongs to EVERY rung
    // p ≥ its cell_rank: explode each row into exactly those rungs (≤
    // |probes| copies of a 4-column frame) and take top-k per (rung, qid)
    // in ONE bounded aggregate; per-rung candidate counts fold as
    // conditional sums in one 1-row pass (the q128 ladder pattern). Rung
    // semantics are identical: exploded rows with n_probe = p ARE the old
    // candP, and TopK.perGroup over (n_probe, qid) ranks each rung's qid
    // group by the same (nd DESC, nid ASC).
    val exploded = scored
      .select(explode(filter(array(probes.map(lit(_)): _*),
          p => p >= col("cell_rank"))).as("np"),
        col("qid"), col("nd"), col("nid"))
      .select(col("np").cast(LongType).as("n_probe"),
        col("qid"), col("nd"), col("nid"))
    val ivfTopAll = graft.operators.TopK
      .perGroup(exploded, Seq("n_probe", "qid"), "nd", "nid", k)
    val hitsAll = ivfTopAll.select(col("n_probe"), col("qid"), col("nid"))
      .join(truth, Seq("qid", "nid"))
      .groupBy("n_probe").agg(count(lit(1)).as("n_hits"))
    val candSums = probes.map(p =>
      sum(when(col("cell_rank") <= p, 1L).otherwise(0L)).as(s"_c$p"))
    val candLadder = scored.agg(candSums.head, candSums.tail: _*)
      .select(explode(array(probes.map(p =>
        struct(lit(p.toLong).as("n_probe"),
          coalesce(col(s"_c$p"), lit(0L)).as("n_candidates"))): _*)).as("r"))
      .select(col("r.n_probe"), col("r.n_candidates"))
    candLadder
      .join(hitsAll, Seq("n_probe"), "left")
      .crossJoin(nq)
      .select(col("n_probe"), col("n_queries"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"case when n_queries = 0 then 10000 else " +
          s"(2 * 10000 * coalesce(n_hits, 0) + $k * n_queries) div " +
          s"(2 * $k * n_queries) end").as("recall_e4"))
      .transform(Relational.smallSort(_, "n_probe"))
  }

  /** q132's logic over an arbitrary quantized (vec_id, v ARRAY<LONG>)
    * frame — exposed so specs can pin the hand Gini/median/ratio values
    * on engineered singleton-cell and hot-cell corpora, the empty-cell
    * zero convention, and the all-empty guard.
    */
  def cellBalance(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    val arr = refineCodebookArr(emb)
    val asg = assignToCent(emb, arr)
    // every trained cell surfaces (empty cells at 0 — they ARE the read)
    val cs = centDf(spark, arr).select(col("cid"))
      .join(asg.groupBy("cid").agg(count(lit(1)).as("n")), Seq("cid"), "left")
      .select(coalesce(col("n"), lit(0L)).as("sz"))
    val szc = cs.groupBy("sz").agg(count(lit(1)).as("c"))
    // ONE row: the sorted (size, count) support is ≤K entries — K is
    // broadcast-bounded by the codebook premise, so median and Gini run
    // as local integer folds over the array (no unpartitioned window,
    // no rank sort, no theta join, no collect)
    // count-like sums coalesce to 0 so the all-empty edge matches the
    // oracle's count(*)/FILTER forms (review finding, r10 s2); n_vectors
    // and max_members stay NULL there on BOTH engines
    szc
      .agg(sort_array(collect_list(struct(col("sz"), col("c")))).as("a"),
        coalesce(sum(col("c")), lit(0L)).as("n_cells"),
        sum(col("sz") * col("c")).as("n_vectors"),
        coalesce(sum(when(col("sz") === 0L, col("c")).otherwise(0L)), lit(0L))
          .as("n_empty"),
        max(col("sz")).as("max_members"))
      .select(col("n_cells"), col("n_vectors"), col("n_empty"),
        col("max_members"),
        expr("""aggregate(a, named_struct('cum', 0L, 'p50', -1L),
            (acc, x) -> named_struct(
              'cum', acc.cum + x.c,
              'p50', case when acc.p50 >= 0L then acc.p50
                          when acc.cum + x.c >= (n_cells + 1) div 2 then x.sz
                          else -1L end),
            acc -> nullif(acc.p50, -1L))""").as("p50_members"),
        expr("""case when coalesce(n_vectors, 0) = 0 then 0L
            else (2 * 10000 * max_members * n_cells + n_vectors)
                 div (2 * n_vectors) end""").as("max_over_mean_e4"),
        expr("""aggregate(a, named_struct('cum', 0L, 'sx', 0L, 'sw', 0L),
            (acc, x) -> named_struct(
              'cum', acc.cum + x.c,
              'sx', acc.sx + x.sz * x.c,
              'sw', acc.sw + x.sz * (x.c * acc.cum
                    + (x.c * (x.c + 1)) div 2)),
            acc -> case when acc.sx = 0L then 0L
                   else (2 * 10000 * (2 * acc.sw - (n_cells + 1) * acc.sx)
                         + n_cells * acc.sx)
                        div (2 * n_cells * acc.sx) end)""").as("gini_e4"))
  }

  private lazy val cellBalanceOracle: String = kmeansCtePrefix + """,
    |af AS (SELECT vec_id, cid FROM (
    |        SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM df)
    |       WHERE rn = 1),
    |cs AS (SELECT c4.cid, coalesce(m.n, 0) AS sz FROM c4
    |       LEFT JOIN (SELECT cid, count(*) AS n FROM af GROUP BY cid) m USING (cid)),
    |tot AS (SELECT count(*) AS n_cells, sum(sz) AS n_vec,
    |               count(*) FILTER (WHERE sz = 0) AS n_empty, max(sz) AS mx FROM cs),
    |szc AS (SELECT sz, count(*) AS c FROM cs GROUP BY sz),
    |cum AS (SELECT sz, c, sum(c) OVER (ORDER BY sz) AS cum FROM szc),
    |med AS (SELECT min(sz) AS p50 FROM cum CROSS JOIN tot WHERE cum >= (tot.n_cells + 1) // 2),
    |gini AS (SELECT sum(sz * c) AS sx,
    |                sum(sz * (c * (cum - c) + (c * (c + 1)) // 2)) AS sw
    |         FROM cum)
    |SELECT CAST(tot.n_cells AS BIGINT) AS n_cells, CAST(tot.n_vec AS BIGINT) AS n_vectors,
    |  CAST(tot.n_empty AS BIGINT) AS n_empty, CAST(tot.mx AS BIGINT) AS max_members,
    |  CAST(med.p50 AS BIGINT) AS p50_members,
    |  CAST(CASE WHEN coalesce(tot.n_vec, 0) = 0 THEN 0
    |       ELSE (2 * 10000 * tot.mx * tot.n_cells + tot.n_vec) // (2 * tot.n_vec)
    |       END AS BIGINT) AS max_over_mean_e4,
    |  CAST(CASE WHEN coalesce(gini.sx, 0) = 0 THEN 0
    |       ELSE (2 * 10000 * (2 * gini.sw - (tot.n_cells + 1) * gini.sx) + tot.n_cells * gini.sx)
    |            // (2 * tot.n_cells * gini.sx)
    |       END AS BIGINT) AS gini_e4
    |FROM tot CROSS JOIN med CROSS JOIN gini""".stripMargin

  /** The ONE integer ten-thousandths quantization definition every
    * kmeans-family consumer (q77/q80/q81/q130/q132 and their specs)
    * shares — a drifted test-side replica would audit a frame the
    * catalog never ships (the q85-contentSplit rule; review finding,
    * r10 s2).
    */
  private[graft] def quantizeVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"),
        e => round(e.cast(DoubleType) * lit(10000.0)).cast(LongType)).as("v"))

  /** Integer ten-thousandths quantization of the embeddings table —
    * consumed by every q77/q80 assignment and update pass, so persisted
    * (released by the session's clearCache, the catalog contract).
    */
  private def quantizedEmbeddings(s: SparkSession, d: String): DataFrame =
    quantizeVectors(Tables.embeddings(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The driver-trained codebook as a COMPLEX-TYPED LITERAL column (r17):
    * the same sorted array<struct(cid, cv)> packCodebook aggregated —
    * cid is unique, so sort_array's (cid, cv) order ≡ cid order — but
    * embedded directly in the consuming projection, so the assignment
    * pass is a pure map (no crossJoin, no broadcast exchange, no
    * broadcast-build job per Lloyd iteration). K·dim longs ≈ 32 KB of
    * plan payload — codebook-sized at any corpus scale; codegen passes
    * complex literals by reference, so the generated source (and the
    * codegen cache entry) is identical across iterations.
    */
  private def centsLit(cent: Array[(Int, Array[Long])]): Column = {
    import org.apache.spark.sql.Row
    val dt = ArrayType(StructType(Seq(
      StructField("cid", IntegerType), StructField("cv", ArrayType(LongType)))))
    val v = cent.sortBy(_._1).toSeq.map { case (cid, arr) => Row(cid, arr.toSeq) }
    NativeExprs.complexLit(v, dt)
  }

  /** One narrow assignment pass: exact integer squared-L2 argmin in ONE
    * compiled per-row loop (NearestCentroidL2 — (d ASC, cid ASC) = the
    * oracle's ORDER BY d, cid); no K-way row expansion, no per-vec argmin
    * aggregation. v rides THROUGH the projection (consumers that don't
    * need it get it pruned) — joining emb back per iteration would
    * re-shuffle the full vector set every round. r17: the codebook rides
    * as a literal (see [[centsLit]]), so this is map-only.
    */
  private def assignToCent(emb: DataFrame,
                           cent: Array[(Int, Array[Long])]): DataFrame =
    emb.select(col("vec_id"), col("v"),
        NativeExprs.nearestCentroidL2(col("v"), centsLit(cent)).as("r"))
      .select(col("vec_id"), col("v"),
        col("r.cid").as("cid"), col("r.d").as("d"))

  /** The q77 Lloyd refinement (K=64, 4 iterations, integer-exact — see the
    * q77 doc). Shared by q77 (inertia rollup), q80 (margin rollup) and the
    * q81/q130/q132 IVF family.
    *
    * r17 REWRITE (the q82/q88/CC driver-walk economics): the centroid
    * table is K-row state the iteration is inherently sequential over, so
    * it lives on the DRIVER — each iteration is ONE collected aggregate
    * of (cid, dim) → (Σ component, n) partial sums (≤ K·dim rows, bounded
    * by the codebook and the embedding dimension at ANY corpus size —
    * exactly the rows the old form shipped into a join) followed by a
    * driver-side sign-aware half-up integer division, the identical
    * arithmetic the old in-plan expression computed ((2s+n) div 2n on the
    * positive branch; all operands positive longs, so Scala / ≡ div).
    * Replaces, PER ITERATION: one eager K-row localCheckpoint job, one
    * centroid join, and one broadcast-build job of the packed codebook
    * (now a LocalRelation — no job) with one collect (DevJobs r17: q77
    * 16 jobs → 6, ~1.49 s → ~0.9 s at sf0.1). Empty clusters keep their
    * previous centroid (absent (cid, dim) groups — the old coalesce).
    * CatalogSpec's kmeans-family oracles re-prove bit-identity end to end.
    */
  private[queries] def refineCodebookArr(emb: DataFrame, K: Int = 64,
                                         iters: Int = 4): Array[(Int, Array[Long])] = {
    val spark = emb.sparkSession
    spark.sparkContext.setJobDescription("kmeans: seed collect")
    var cent: Array[(Int, Array[Long])] = emb.filter(col("vec_id") < K)
      .select(col("vec_id").cast(IntegerType).as("cid"), col("v"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    (1 to iters).foreach { it =>
      spark.sparkContext.setJobDescription(s"kmeans: update collect (iter $it)")
      val upd = assignToCent(emb, cent)
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "u")))
        .groupBy("cid", "i")
        .agg(sum(col("u")).as("sc"), count(lit(1)).as("n"))
        .collect() // ≤ K·dim rows — codebook-sized at any corpus scale
      val byCid = upd.groupBy(_.getInt(0))
      cent = cent.map { case (cid, prev) =>
        byCid.get(cid) match {
          case None => (cid, prev) // empty cluster keeps its centroid
          case Some(rows) =>
            val v = new Array[Long](prev.length)
            var filled = 0
            rows.foreach { r =>
              val i = r.getInt(1); val sc = r.getLong(2); val n = r.getLong(3)
              v(i) = if (sc >= 0) (2 * sc + n) / (2 * n)
                     else -((2 * -sc + n) / (2 * n))
              filled += 1
            }
            require(filled == prev.length,
              s"kmeans update for cid=$cid covered $filled of ${prev.length} dims")
            (cid, v)
        }
      }
    }
    spark.sparkContext.setJobDescription(null)
    cent
  }

  /** K-row DataFrame view of the driver-trained codebook — what
    * cellBalance's every-cell-surfaces join consumes (a LocalRelation:
    * downstream joins broadcast it for free).
    */
  private def centDf(spark: SparkSession,
                     cent: Array[(Int, Array[Long])]): DataFrame = {
    import spark.implicits._
    cent.map { case (cid, v) => (cid, v.toSeq) }.toSeq.toDF("cid", "v")
  }

  /** The shared q77/q80 oracle prefix: quantization, the K=64 seed, and
    * the identical integer-exact Lloyd iterations as chained DuckDB CTEs
    * (assignment row_number argmin, generate_subscripts dimension explode,
    * sign-aware half-up integer division — `//` on the positive branch
    * matches Spark's `div` there) — ending at the trained c4 plus the
    * final per-(vec, centroid) distance table df.
    */
  private lazy val kmeansCtePrefix: String = {
    def it(k: Int): String = {
      val p = k - 1
      s"""d$k AS (SELECT e.vec_id, c.cid,
         |       list_sum(list_transform(list_zip(e.v, c.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
         |       FROM emb e CROSS JOIN c$p c),
         |a$k AS (SELECT vec_id, cid, d FROM (
         |        SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d$k)
         |       WHERE rn = 1),
         |u$k AS (SELECT cid, i, sum(u) AS s, count(*) AS n FROM (
         |        SELECT a.cid, unnest(e.v) AS u, generate_subscripts(e.v, 1) AS i
         |        FROM a$k a JOIN emb e USING (vec_id)) GROUP BY cid, i),
         |n$k AS (SELECT cid, list(CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
         |                             ELSE -((2*(-s) + n) // (2*n)) END ORDER BY i) AS v
         |       FROM u$k GROUP BY cid),
         |c$k AS (SELECT c$p.cid, coalesce(n$k.v, c$p.v) AS v FROM c$p LEFT JOIN n$k USING (cid))""".stripMargin
    }
    """WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1e4) AS BIGINT)) AS v FROM embeddings),
      |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v FROM emb WHERE vec_id < 64),""".stripMargin +
      (1 to 4).map(it).mkString("\n", ",\n", ",\n") +
      """df AS (SELECT e.vec_id, c.cid,
        |       list_sum(list_transform(list_zip(e.v, c.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
        |       FROM emb e CROSS JOIN c4 c)""".stripMargin
  }

  private lazy val kmeansOracle: String = kmeansCtePrefix + """,
    |af AS (SELECT vec_id, cid, d FROM (
    |        SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM df)
    |       WHERE rn = 1)
    |SELECT cid AS cluster_id, count(*) AS n_members, CAST(sum(d) AS BIGINT) AS inertia
    |FROM af GROUP BY cid ORDER BY cluster_id""".stripMargin

  /** Routing + scoring replay over the shared Lloyd prefix: df already
    * holds every (vec, trained-centroid) distance, so query→cell routing
    * is a row_number over the query's df rows and the inverted file is
    * df's rank-1 assignment; candidate scoring re-derives the exact
    * integer pair distance from emb.
    */
  private lazy val ivfRouteOracle: String = kmeansCtePrefix + """,
    |af AS (SELECT vec_id, cid FROM (
    |        SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM df)
    |       WHERE rn = 1),
    |qs AS (SELECT vec_id AS qid FROM emb WHERE vec_id % 100 = 0),
    |cells AS (SELECT qid, cid FROM (
    |        SELECT q.qid, df.cid, row_number() OVER (PARTITION BY q.qid ORDER BY df.d, df.cid) AS rn
    |        FROM qs q JOIN df ON df.vec_id = q.qid)
    |       WHERE rn <= 8),
    |cand AS (SELECT c.qid, a.vec_id AS nid FROM cells c JOIN af a ON a.cid = c.cid
    |         WHERE a.vec_id <> c.qid),
    |sc AS (SELECT cand.qid, cand.nid,
    |       list_sum(list_transform(list_zip(eq.v, en.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
    |       FROM cand JOIN emb eq ON eq.vec_id = cand.qid JOIN emb en ON en.vec_id = cand.nid)
    |SELECT qid, CAST(rn AS INT) AS rnk, nid, CAST(dist AS BIGINT) AS dist
    |FROM (SELECT qid, nid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn FROM sc)
    |WHERE rn <= 5 ORDER BY qid, rnk""".stripMargin

  /** Recall-curve replay over the shared Lloyd prefix: cells keeps the
    * routing RANK (not just the top-8 membership) so each nProbe rung is
    * a filter; truth is the flat query×corpus scan; both top-5s are the
    * (dist, nid) row_number order. The empty-query guard mirrors the
    * engine's n_queries = 0 → 10000 convention.
    */
  private lazy val ivfRecallOracle: String = kmeansCtePrefix + """,
    |af AS (SELECT vec_id, cid FROM (
    |        SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM df)
    |       WHERE rn = 1),
    |qs AS (SELECT vec_id AS qid FROM emb WHERE vec_id % 20 = 0),
    |cells AS (SELECT qid, cid, rn FROM (
    |        SELECT q.qid, df.cid, row_number() OVER (PARTITION BY q.qid ORDER BY df.d, df.cid) AS rn
    |        FROM qs q JOIN df ON df.vec_id = q.qid)
    |       WHERE rn <= 8),
    |cand AS MATERIALIZED (SELECT c.qid, c.rn, a.vec_id AS nid FROM cells c JOIN af a ON a.cid = c.cid
    |         WHERE a.vec_id <> c.qid),
    |sc AS MATERIALIZED (SELECT cand.qid, cand.rn, cand.nid,
    |       list_sum(list_transform(list_zip(eq.v, en.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist
    |       FROM cand JOIN emb eq ON eq.vec_id = cand.qid JOIN emb en ON en.vec_id = cand.nid),
    |truth AS MATERIALIZED (SELECT qid, nid FROM (
    |        SELECT q.qid, e.vec_id AS nid,
    |               list_sum(list_transform(list_zip(eq.v, e.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist,
    |               row_number() OVER (PARTITION BY q.qid ORDER BY
    |                 list_sum(list_transform(list_zip(eq.v, e.v), p -> (p[1]-p[2])*(p[1]-p[2]))), e.vec_id) AS rn
    |        FROM qs q JOIN emb eq ON eq.vec_id = q.qid CROSS JOIN emb e WHERE e.vec_id <> q.qid)
    |       WHERE rn <= 5),
    |probes AS (SELECT unnest([1, 2, 4, 8]) AS np),
    |ivf AS (SELECT p.np, s.qid, s.nid,
    |        row_number() OVER (PARTITION BY p.np, s.qid ORDER BY s.dist, s.nid) AS rk
    |        FROM probes p JOIN sc s ON s.rn <= p.np),
    |hits AS (SELECT np, count(*) AS n_hits FROM ivf JOIN truth USING (qid, nid)
    |         WHERE rk <= 5 GROUP BY np),
    |nc AS (SELECT p.np, count(*) AS n_cand FROM probes p JOIN cand c ON c.rn <= p.np GROUP BY p.np),
    |nq AS (SELECT count(*) AS n_queries FROM qs)
    |SELECT CAST(pr.np AS BIGINT) AS n_probe, CAST(nq.n_queries AS BIGINT) AS n_queries,
    |  CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_candidates,
    |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
    |  CAST(CASE WHEN nq.n_queries = 0 THEN 10000
    |       ELSE (2 * 10000 * coalesce(h.n_hits, 0) + 5 * nq.n_queries) // (2 * 5 * nq.n_queries)
    |       END AS BIGINT) AS recall_e4
    |FROM probes pr CROSS JOIN nq LEFT JOIN nc ON nc.np = pr.np
    |LEFT JOIN hits h ON h.np = pr.np ORDER BY n_probe""".stripMargin

  private lazy val kmeansMarginOracle: String = kmeansCtePrefix + """,
    |rk AS (SELECT vec_id, cid, d,
    |       row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM df),
    |mg AS (SELECT r1.cid, r2.d - r1.d AS m
    |       FROM rk r1 JOIN rk r2 ON r1.vec_id = r2.vec_id
    |       WHERE r1.rn = 1 AND r2.rn = 2)
    |SELECT cid AS cluster_id, count(*) AS n_members,
    |       CAST(min(m) AS BIGINT) AS min_margin,
    |       CAST((2 * sum(m) + count(*)) // (2 * count(*)) AS BIGINT) AS avg_margin
    |FROM mg GROUP BY cid ORDER BY cluster_id""".stripMargin

  /** q86's logic over an arbitrary corpus — exposed so specs can pin the
    * engineered full-leak case (a test doc whose every shingle exists in
    * some train doc reads 10000) and layout invariance. Uses q85's exact
    * content-hash split expression; shingles are the shared 60-bit
    * md5-prefix digests (`NativeExprs.shingleMd5Prefixes` is per-doc
    * DISTINCT already — no explode+distinct shuffle).
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), col("source"), contentSplit.as("split"),
        explode(NativeExprs.shingleMd5Prefixes(
          TextOps.tokens(col("text")), 3, 15)).as("sh"))
    // train digests are ~80 % of the corpus — NOT broadcastable by
    // design; both sides shuffle once on the digest key (q31 economics)
    val tr = sh.filter(col("split") === "train")
      .select(col("sh")).distinct().withColumn("hit", lit(1L))
    val perDoc = sh.filter(col("split") === "test")
      .join(tr, Seq("sh"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_leak"))
      .filter(col("n_sh") > 0)
      .select(col("source"),
        expr("(2 * 10000 * n_leak + n_sh) div (2 * n_sh)").as("fr_e4"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_test"),
        expr("(2 * sum(fr_e4) + count(1)) div (2 * count(1))").as("mean_leak_e4"),
        sum(when(col("fr_e4") >= 5000, 1L).otherwise(0L)).as("n_high"))
      .select(col("source"), col("n_test"), col("mean_leak_e4"),
        col("n_high"))
      .transform(Relational.smallSort(_, "source"))
  }

  /** String-keyed replay of the digest-keyed engine join (q44's
    * collision-surfacing precedent); sh MATERIALIZED — it feeds both the
    * train set and the test stream (the q55 fairness rule).
    */
  private lazy val splitLeakageOracle: String =
    """WITH h AS (SELECT doc_id, source, text,
      |    (strpos('0123456789abcdef', substr(md5(text),1,1))-1)*16 +
      |    (strpos('0123456789abcdef', substr(md5(text),2,1))-1) AS v FROM documents),
      |sp AS (SELECT doc_id, source, text,
      |    CASE WHEN v < 205 THEN 'train' WHEN v < 230 THEN 'val' ELSE 'test' END AS split FROM h),
      |tok AS (SELECT doc_id, source, split, string_split(text,' ') AS toks FROM sp),
      |s AS (SELECT doc_id, source, split,
      |      unnest(generate_series(1, greatest(len(toks)-2,0))) AS i, toks FROM tok),
      |sh AS MATERIALIZED (SELECT DISTINCT doc_id, source, split,
      |      array_to_string(toks[i:i+2],' ') AS s FROM s),
      |tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
      |te AS (SELECT sh.doc_id, sh.source, count(*) AS n_sh,
      |       sum(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS n_leak
      |    FROM sh LEFT JOIN tr USING (s) WHERE split = 'test' GROUP BY 1, 2),
      |d AS (SELECT source, doc_id, (2*10000*n_leak + n_sh) // (2*n_sh) AS fr_e4
      |      FROM te WHERE n_sh > 0)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_test,
      |   CAST((2*sum(fr_e4) + count(*)) // (2*count(*)) AS BIGINT) AS mean_leak_e4,
      |   CAST(sum(CASE WHEN fr_e4 >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** q88's logic over an arbitrary corpus — exposed so specs can pin the
    * greedy leftmost-non-overlapping merge semantics (' a a a ' merges
    * ONCE per round) and a full driver-side BPE replay bit-for-bit.
    * Each round: pair counts over the vocab table, a bounded top-1
    * argmax COLLECTED to the driver (≤1 row), and a literal narrow
    * `replace` projection — see [[bpeTrain]] for the plan rationale.
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 5,
                forceShuffled: Boolean = false): DataFrame =
    bpeTrain(docs, rounds, forceShuffled = forceShuffled)._1

  /** The q88 merge loop, returning (mergeRows, finalVocab): finalVocab is
    * the (word, cnt, w) frame AFTER all `rounds` rewrites — the trained
    * tokenizer state q92's encoder consumes (word → symbol sequence).
    *
    * The per-round argmax COLLECTS (one bounded row per round — the CC
    * convergence-check precedent): the merge decision is inherently
    * sequential, and with it on the driver each rewrite is a LITERAL
    * narrow `replace` projection, so round k's pair scan is the one
    * eager-checkpointed vocab collapse plus k−1 vocabulary-local string
    * rewrites — no per-round crossJoin, persist, or checkpoint barrier
    * (the r9s3 rewrite: q88 1.25 → ~0.6 s, q92 1.8 → ~1.1 s warm at
    * sf0.1; the old 1-row-broadcast form paid 2 jobs + an eager
    * checkpoint per round). Exhaustion (no pair left) skips the round
    * and KEEPS the vocab — the encoder sees the last trained state.
    */
  private def bpeTrain(docs: DataFrame, rounds: Int,
      maxDriverVocab: Long = 4000000L,
      forceShuffled: Boolean = false): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    var words = docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        // ' h e l l o ' — every symbol space-delimited on BOTH ends so
        // the merge rewrite is a literal ' p1 p2 ' -> ' p1p2 ' replace
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("w"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // Round-10 fusion (the q82 economics): training is inherently
    // sequential over a VOCABULARY-sized frame the corpus already
    // collapsed to, so below a vocab budget the (cnt, spelling) pairs
    // collect ONCE and all `rounds` greedy merges run as a driver loop —
    // one bounded job replaces `rounds` pair-count shuffles + TakeOrdered
    // argmax jobs (each of which re-evaluated k−1 replace projections
    // over the vocab). The spelling collects AS COMPUTED by the engine
    // (never re-derived driver-side — regex `.` vs char-iteration parity
    // is not re-litigated), argmax ties break on UTF-8 byte order (what
    // both engines' string ORDER BY uses), and the rewrite is
    // java.lang.String.replace — the same literal leftmost-non-
    // overlapping semantics as the engines' replace(). Above the budget
    // (~10⁷-row vocab at 100 TB): the per-round shuffled form below,
    // unchanged.
    if (!forceShuffled && words.count() <= maxDriverVocab) {
      def u8Lt(a: String, b: String): Boolean = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        while (i < x.length && i < y.length) {
          if (x(i) != y(i)) return (x(i) & 0xff) < (y(i) & 0xff)
          i += 1
        }
        x.length < y.length
      }
      var sp = words.select(col("cnt"), col("w")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      (1 to rounds).foreach { k =>
        val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        sp.foreach { case (cnt, w) =>
          val s = w.trim.split(" ")
          var i = 0
          while (i < s.length - 1) {
            val key = (s(i), s(i + 1))
            pc.update(key, pc.getOrElse(key, 0L) + cnt)
            i += 1
          }
        }
        if (pc.nonEmpty) {
          val ((p1, p2), c) = pc.minBy(identity)(Ordering.fromLessThan {
            (a: ((String, String), Long), b: ((String, String), Long)) =>
              if (a._2 != b._2) a._2 > b._2
              else if (a._1._1 != b._1._1) u8Lt(a._1._1, b._1._1)
              else u8Lt(a._1._2, b._1._2)
          })
          sp = sp.map { case (cnt, w) =>
            (cnt, w.replace(s" $p1 $p2 ", s" $p1$p2 "))
          }
          merges += ((k, p1, p2, c))
        }
      }
      // the trained state q92 consumes stays a DISTRIBUTED frame: the
      // driver-decided merges replay as literal narrow replace
      // projections over the checkpointed vocab (bit-identical to the
      // shuffled form's final frame — CatalogSpec pins both paths)
      merges.foreach { case (_, p1, p2, _) =>
        words = words.select(col("word"), col("cnt"),
          call_function("replace", col("w"),
            lit(s" $p1 $p2 "), lit(s" $p1$p2 ")).as("w"))
      }
    } else (1 to rounds).foreach { k =>
      val syms = words.select(col("cnt"), split(trim(col("w")), " ").as("s"))
      val pairs = syms.select(col("cnt"), explode(arrays_zip(
          slice(col("s"), lit(1), greatest(size(col("s")) - 1, lit(0))).as("p1"),
          slice(col("s"), lit(2), greatest(size(col("s")) - 1, lit(0))).as("p2")))
          .as("p"))
        .select(col("p.p1").as("p1"), col("p.p2").as("p2"), col("cnt"))
      val mk = pairs.groupBy("p1", "p2").agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("p1"), col("p2")).limit(1)
        .collect() // bounded: TakeOrdered ships ≤1 row per map task
      mk.headOption.foreach { r =>
        val (p1, p2, c) = (r.getString(0), r.getString(1), r.getLong(2))
        words = words.select(col("word"), col("cnt"),
          call_function("replace", col("w"),
            lit(s" $p1 $p2 "), lit(s" $p1$p2 ")).as("w"))
        merges += ((k, p1, p2, c))
      }
    }
    import spark.implicits._
    val out = merges.toSeq
      .map { case (k, p1, p2, c) => (k, p1, p2, p1 + p2, c) }
      .toDF("rnd", "lhs", "rhs", "merged", "freq")
    (out.orderBy("rnd"), words)
  }

  /** q92's logic: encode the corpus with the q88-trained merges. The
    * corpus never rewrites — encoding is word-level: the final vocab maps
    * each word to its post-merge symbol count, and per-source totals come
    * from a (source, word) count table joined to that map. Exposed so
    * specs can pin the encoder against a driver-side merge replay.
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 5,
                forceShuffled: Boolean = false): DataFrame = {
    val vocab = bpeTrain(docs, rounds, forceShuffled = forceShuffled)._2
      .select(col("word"), size(split(trim(col("w")), " ")).as("nsym"))
    val srcWords = docs
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    // both sides are vocabulary-sized; build on the global vocab (the
    // smaller side — srcWords is vocab × sources) and skip SMJ's sorts
    srcWords.join(vocab.hint("shuffle_hash"), Seq("word"))
      .groupBy("source")
      .agg(sum(col("cnt")).as("tok_ws"),
        sum(col("cnt") * col("nsym")).as("tok_bpe"))
      .select(col("source"),
        col("tok_ws").cast(LongType).as("tok_ws"),
        col("tok_bpe").cast(LongType).as("tok_bpe"),
        expr("(2 * 10000 * tok_bpe + tok_ws) div (2 * tok_ws)").as("ratio_e4"))
      .transform(Relational.smallSort(_, "source"))
  }

  /** q93's logic over an arbitrary corpus — exposed so specs can pin the
    * coverage math on engineered vocab/source mixes.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 16): DataFrame = {
    // ONE corpus scan: the global vocab counts derive from the persisted
    // (source, token) table (vocabulary × sources rows), never a second
    // pass over the text (review finding, r9s3)
    val st = docs
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("source", "t").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = st.groupBy("t").agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(vocabSize)
      .select(col("t"), lit(1L).as("inv"))
    st.join(broadcast(vocab), Seq("t"), "left")
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_tok"),
        sum(when(col("inv").isNull, col("cnt")).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tok").cast(LongType).as("n_tok"),
        col("n_oov").cast(LongType).as("n_oov"),
        expr("(2 * 10000 * n_oov + n_tok) div (2 * n_tok)").as("oov_e4"))
      .transform(Relational.smallSort(_, "source"))
  }

  /** q94's logic over an arbitrary corpus — exposed so specs can pin the
    * chunk boundaries (partial tail chunk, single-chunk docs) and the
    * ≥2-distinct-doc duplication rule on engineered corpora.
    */
  def chunkDedup(docs: DataFrame, width: Int = 25): DataFrame = {
    // unhex(md5(..)) → the exchange ships 16-byte BINARY digests, not
    // 32-char hex text (review finding, r9s3)
    val ch = docs
      .select(col("source"), col("doc_id"),
        TextOps.tokens(col("text")).as("toks"))
      .select(col("source"), col("doc_id"), col("toks"),
        explode(sequence(lit(1), greatest(size(col("toks")), lit(1)),
          lit(width))).as("st"))
      .select(col("source"), col("doc_id"),
        unhex(md5(array_join(slice(col("toks"), col("st"), lit(width)), " ")
          .cast(BinaryType))).as("dg"))
    val grain = ch.groupBy(col("dg"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("inst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // distinct-doc counts as a map-side-combined aggregate STREAMED back
    // through a dg-keyed hash join (build = one row per digest) — a
    // count window over the dg partition would BUFFER the hottest
    // digest's every grain row in one task, and the hottest digest is
    // the boilerplate chunk this query exists to find (review finding,
    // r9s3); the persist funds both consumers of the grain frame
    val nd = grain.groupBy("dg").agg(count(lit(1)).as("ndocs"))
    grain
      .join(nd.hint("shuffle_hash"), Seq("dg"))
      .groupBy("source")
      .agg(sum(col("inst")).as("n_chunks"),
        sum(when(col("ndocs") >= 2, col("inst")).otherwise(0L)).as("n_dup"))
      .select(col("source"), col("n_chunks").cast(LongType).as("n_chunks"),
        col("n_dup").cast(LongType).as("n_dup"),
        expr("(2 * 10000 * n_dup + n_chunks) div (2 * n_chunks)").as("dup_e4"))
      .transform(Relational.smallSort(_, "source"))
  }

  /** q95's logic over an arbitrary corpus — exposed so specs can pin the
    * ≥2-distinct-docs-per-source min-support rule on engineered source
    * mixes.
    */
  def boilerplateScreen(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("source"),
      explode(NativeExprs.shingleMd5Prefixes(
        TextOps.tokens(col("text")), 3, 15)).as("dg"))
    sh.groupBy("source", "dg").agg(count(lit(1)).as("ndocs"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("source"), col("n_types").cast(LongType).as("n_types"),
        col("n_boiler").cast(LongType).as("n_boiler"),
        expr("(2 * 10000 * n_boiler + n_types) div (2 * n_types)")
          .as("boiler_e4"))
      .transform(Relational.smallSort(_, "source"))
  }

  /** q96's logic over an arbitrary corpus — exposed so specs can pin the
    * stage order (near-dup runs on exact survivors), the per-reason
    * classification and mass conservation on engineered corpora.
    */
  def dedupYield(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text").cast(BinaryType))).orderBy("doc_id")
    // one corpus scan; the flagged frame feeds the exact-removed split,
    // the survivor pair core and both classification joins
    val flagged = docs
      .select(col("doc_id"), col("source"), col("text"),
        size(split(col("text"), " ")).as("nt"))
      .withColumn("_rn", row_number().over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exactRemoved = flagged.filter(col("_rn") > 1)
      .select(col("source"), lit("exact").as("reason"), col("nt"))
    val survivors = flagged.filter(col("_rn") === 1)
      .select("doc_id", "source", "text", "nt")
    val (wc, _) = graft.operators.Dedup.coShingledPairs(
      survivors, "doc_id", "text")
    val pairs = wc
      .filter(col("k") * 1.0 / (col("ni") + col("nj") - col("k")) >= 0.5)
      .select(col("i"), col("j"))
    val removedIds = graft.operators.Dedup
      .connectedComponents(pairs, "i", "j")
      .filter(col("u") =!= col("lbl"))
      .select(col("u").as("doc_id"))
    val nearRemoved = survivors
      .join(removedIds, Seq("doc_id"), "leftsemi")
      .select(col("source"), lit("near_dup").as("reason"), col("nt"))
    val kept = survivors
      .join(removedIds, Seq("doc_id"), "left_anti")
      .select(col("source"), lit("kept").as("reason"), col("nt"))
    kept.union(exactRemoved).union(nearRemoved)
      .groupBy("source", "reason")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast(LongType).as("n_tok"))
      .transform(Relational.smallSort(_, "source", "reason"))
  }

  private lazy val dedupYieldOracle: String =
    """WITH RECURSIVE d AS (SELECT doc_id, source, text,
      |        len(string_split(text, ' ')) AS nt FROM documents),
      |x AS MATERIALIZED (SELECT doc_id, source, nt, text,
      |     row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM d),
      |surv AS MATERIALIZED (SELECT doc_id, source, nt, text FROM x WHERE rn = 1),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |        generate_subscripts(string_split(text, ' '), 1) AS i FROM surv),
      |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pr AS (SELECT i, j FROM inter JOIN cnt ca ON ca.doc_id = i
      |                              JOIN cnt cb ON cb.doc_id = j
      |       WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5),
      |edges AS (SELECT i AS u, j AS v FROM pr UNION ALL SELECT j AS u, i AS v FROM pr),
      |reach(u, x) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.x FROM edges e JOIN reach r ON r.u = e.v),
      |lb AS (SELECT u, min(x) AS lbl FROM reach GROUP BY u),
      |rm AS (SELECT u FROM lb WHERE lbl <> u),
      |cls AS (
      |  SELECT source, nt, 'exact' AS reason FROM x WHERE rn > 1
      |  UNION ALL
      |  SELECT s.source, s.nt, 'near_dup' FROM surv s JOIN rm ON rm.u = s.doc_id
      |  UNION ALL
      |  SELECT s.source, s.nt, 'kept' FROM surv s LEFT JOIN rm ON rm.u = s.doc_id
      |  WHERE rm.u IS NULL)
      |SELECT source, reason, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(nt) AS BIGINT) AS n_tok
      |FROM cls GROUP BY 1, 2 ORDER BY source, reason""".stripMargin

  private lazy val oovOracle: String =
    """WITH tc AS (SELECT word AS t, count(*) AS cnt FROM
      |   (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |   WHERE word <> '' GROUP BY 1),
      |v AS (SELECT t FROM tc ORDER BY cnt DESC, t LIMIT 16),
      |st AS (SELECT source, word AS t, count(*) AS cnt FROM
      |   (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
      |   WHERE word <> '' GROUP BY 1, 2)
      |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tok,
      |   CAST(sum(CASE WHEN v.t IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
      |   CAST((2 * 10000 * sum(CASE WHEN v.t IS NULL THEN cnt ELSE 0 END) + sum(cnt))
      |        // (2 * sum(cnt)) AS BIGINT) AS oov_e4
      |FROM st LEFT JOIN v ON st.t = v.t GROUP BY source ORDER BY source""".stripMargin

  private lazy val chunkDedupOracle: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, source, toks,
      |      unnest(generate_series(1, greatest(len(toks), 1), 25)) AS st FROM t),
      |ch AS (SELECT source, doc_id,
      |       md5(array_to_string(toks[st : st + 24], ' ')) AS dg FROM c),
      |g AS (SELECT source, doc_id, dg, count(*) AS inst FROM ch GROUP BY 1, 2, 3),
      |w AS (SELECT source, inst, count(*) OVER (PARTITION BY dg) AS ndocs FROM g)
      |SELECT source, CAST(sum(inst) AS BIGINT) AS n_chunks,
      |   CAST(sum(CASE WHEN ndocs >= 2 THEN inst ELSE 0 END) AS BIGINT) AS n_dup,
      |   CAST((2 * 10000 * sum(CASE WHEN ndocs >= 2 THEN inst ELSE 0 END) + sum(inst))
      |        // (2 * sum(inst)) AS BIGINT) AS dup_e4
      |FROM w GROUP BY source ORDER BY source""".stripMargin

  private lazy val boilerplateOracle: String =
    """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t,
      |         generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
      |sh AS (SELECT DISTINCT a.doc_id, a.source, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |g AS (SELECT source, s, count(*) AS ndocs FROM sh GROUP BY 1, 2)
      |SELECT source,
      |   CAST(count(*) AS BIGINT) AS n_types,
      |   CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |   CAST((2 * 10000 * sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
      |         + count(*)) // (2 * count(*)) AS BIGINT) AS boiler_e4
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** q89's logic over an arbitrary corpus — exposed so specs can pin the
    * estimator against a driver-side signature replay and the identical-
    * document edge (est = jaccard = 10000, err 0).
    */
  def minhashEstimate(docs: DataFrame, nPerms: Int = 16,
                      maxDriverPairs: Long = 1000000L,
                      forceShuffled: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    val (wc, _) = graft.operators.Dedup.coShingledPairs(docs, "doc_id", "text")
    val pairs = wc
      .filter(col("k") * 1.0 / (col("ni") + col("nj") - col("k")) >= 0.5)
      .select(col("i"), col("j"),
        expr("(2 * 10000 * k + (ni + nj - k)) div (2 * (ni + nj - k))")
          .as("jac_e4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ---- fused driver agreement (r17 — the CC/labelprop economics): the
    // thresholded pair set is candidate-bounded, so below the budget the
    // pairs AND the participants' 16-element signatures collect once and
    // the per-pair agreement count runs as a driver loop — the identical
    // string-equality zip the zip_with form computes. Replaces the ids
    // union+distinct exchange, the signature persist, BOTH broadcast
    // builds and the final assembly's range-sampled sort with two bounded
    // collects (DevJobs r17: 6 jobs → 4). Past the budget: the shuffled
    // broadcast-join form below, unchanged.
    spark.sparkContext.setJobDescription("minhashest: pair count (budget gate)")
    val nPairs = pairs.count()
    if (!forceShuffled && nPairs <= maxDriverPairs) {
      spark.sparkContext.setJobDescription("minhashest: pair collect")
      val pr = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      pairs.unpersist()
      import spark.implicits._
      val idsDf = (pr.map(_._1) ++ pr.map(_._2)).distinct.sorted.toSeq
        .toDF("doc_id")
      spark.sparkContext.setJobDescription("minhashest: signature collect")
      val sig = docs.join(broadcast(idsDf), Seq("doc_id"), "leftsemi")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          array_distinct(NativeExprs.shingles(col("toks"), 3)).as("shs"))
        .filter(size(col("shs")) > 0)
        .select(col("doc_id"),
          NativeExprs.lshMinSig(col("shs"), nPerms).as("sig"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      spark.sparkContext.setJobDescription(null)
      // every pair participant shares a shingle by construction, so its
      // signature exists; est = (2·10⁴·m + nPerms) div (2·nPerms) — all
      // operands positive longs, Scala / ≡ div
      return pr.toSeq.map { case (i, j, jac) =>
        val m = sig(i).iterator.zip(sig(j).iterator)
          .count { case (a, b) => a == b }.toLong
        val est = (2L * 10000L * m + nPerms) / (2L * nPerms)
        (i, j, est, jac, math.abs(est - jac))
      }.toDF("i", "j", "est_e4", "jac_e4", "err_e4")
        .orderBy("i", "j")
    }
    spark.sparkContext.setJobDescription(null)
    val ids = pairs.select(col("i").as("doc_id"))
      .union(pairs.select(col("j").as("doc_id"))).distinct()
    // signatures ONLY for pair participants (≪ corpus at a 0.5 cut),
    // kept as ONE nPerms-element array per participant: agreement is a
    // per-pair-row zip_with+aggregate over two 16-element arrays on the
    // candidate-bounded pair set, so the interpreted-HOF cost is
    // negligible (unlike q83's corpus-sized streams) and the whole
    // agreement stage is two broadcast joins — no explode, no (j, p)
    // shuffle, no re-aggregation barrier (DevQ89: 2.0–2.7 → 1.6–2.0 s
    // fresh-cache, exact row parity)
    val sigs = docs.join(ids, Seq("doc_id"), "leftsemi")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(NativeExprs.shingles(col("toks"), 3)).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), NativeExprs.lshMinSig(col("shs"), nPerms).as("sig"))
      // participant-bounded (≪ corpus) — persisted because BOTH join
      // sides below consume it, and the minhash kernel is the most
      // expensive per-row work in the query (session clearCache contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the pair set is candidate-bounded — broadcast it into the signature
    // stream, then broadcast the joined (pair × lhs-signature) rows into
    // the stream again for the rhs signature
    val withSi = sigs.select(col("doc_id").as("i"), col("sig").as("si"))
      .join(broadcast(pairs), Seq("i"))
    broadcast(withSi)
      .join(sigs.select(col("doc_id").as("j"), col("sig").as("sj")), Seq("j"))
      .withColumn("m", expr("aggregate(zip_with(si, sj, " +
        "(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0L, (a, b) -> a + b)"))
      .select(col("i"), col("j"),
        expr(s"(2 * 10000 * m + $nPerms) div (2 * $nPerms)").as("est_e4"),
        col("jac_e4"),
        abs(expr(s"(2 * 10000 * m + $nPerms) div (2 * $nPerms)") -
          col("jac_e4")).as("err_e4"))
      .orderBy("i", "j")
  }

  private lazy val minhashEstOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
      |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS MATERIALIZED (SELECT i, j,
      |  (2 * 10000 * k + (ca.n + cb.n - k)) // (2 * (ca.n + cb.n - k)) AS jac_e4
      |  FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
      |  WHERE k * 1e0 / (ca.n + cb.n - k) >= 5e-1),
      |ids AS (SELECT DISTINCT i AS doc_id FROM pairs UNION SELECT DISTINCT j FROM pairs),
      |hx AS MATERIALIZED (SELECT doc_id, p.p, min(md5(CAST(p.p AS VARCHAR) || ':' || s)) AS mh
      |  FROM sh JOIN ids USING (doc_id)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS p) p
      |  GROUP BY 1, 2),
      |agree AS (SELECT pr.i, pr.j, sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS m
      |  FROM pairs pr JOIN hx a ON a.doc_id = pr.i JOIN hx b ON b.doc_id = pr.j AND a.p = b.p
      |  GROUP BY 1, 2)
      |SELECT i, j, CAST((2 * 10000 * m + 16) // 32 AS BIGINT) AS est_e4,
      |  CAST(jac_e4 AS BIGINT) AS jac_e4,
      |  CAST(abs((2 * 10000 * m + 16) // 32 - jac_e4) AS BIGINT) AS err_e4
      |FROM agree JOIN pairs USING (i, j) ORDER BY i, j""".stripMargin

  /** q91's logic over an arbitrary corpus with injectable snapshot
    * predicates — exposed so specs can pin each status class on
    * engineered snapshots.
    */
  def snapshotDiff(docs: DataFrame): DataFrame = {
    val cur = docs.filter(col("doc_id") % 19 =!= 0)
      .select(col("doc_id"), col("source"),
        md5(when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).cast(BinaryType)).as("h"))
    val prev = docs.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast(BinaryType)).as("hp"))
    val j = cur.join(prev.select(col("doc_id"), col("hp")), Seq("doc_id"), "left")
      .select(col("source"),
        when(col("hp").isNull, "added")
          .when(col("h") =!= col("hp"), "changed")
          .otherwise("same").as("status"))
    val removed = prev.join(cur.select("doc_id"), Seq("doc_id"), "leftanti")
      .select(col("source"), lit("removed").as("status"))
    j.union(removed)
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"))
      .transform(Relational.smallSort(_, "source", "status"))
  }

  private lazy val snapshotDiffOracle: String =
    """WITH cur AS (SELECT doc_id, source,
      |       CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
      |       FROM documents WHERE doc_id % 19 <> 0),
      |prev AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 17 <> 0),
      |j AS (SELECT c.doc_id, c.source,
      |       CASE WHEN p.doc_id IS NULL THEN 'added'
      |            WHEN md5(c.text) <> md5(p.text) THEN 'changed'
      |            ELSE 'same' END AS status
      |      FROM cur c LEFT JOIN prev p USING (doc_id)),
      |rm AS (SELECT p.source, p.doc_id FROM prev p LEFT JOIN cur c USING (doc_id)
      |       WHERE c.doc_id IS NULL)
      |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
      |FROM (SELECT source, status FROM j
      |      UNION ALL SELECT source, 'removed' FROM rm)
      |GROUP BY 1, 2 ORDER BY source, status""".stripMargin

  /** The identical greedy replay as chained CTEs: per round, pair counts
    * from the previous vocabulary spelling, ORDER BY c DESC, p1, p2 LIMIT
    * 1, then the same literal replace. Both engines' `replace` is
    * leftmost-non-overlapping on identical strings, so the vocabularies
    * stay bit-identical round over round.
    */
  /** The q88 WITH-prefix (word table + five merge rounds), shared by the
    * q92 encoder oracle so both replay the identical training run.
    */
  private lazy val bpePrefixSql: String = {
    def rnd(k: Int): String = {
      val p = k - 1
      s"""u$k AS (SELECT word, cnt, unnest(string_split(trim(w), ' ')) AS sym,
         |        generate_subscripts(string_split(trim(w), ' '), 1) AS i FROM w$p),
         |c$k AS (SELECT a.sym AS p1, b.sym AS p2, sum(a.cnt) AS c
         |        FROM u$k a JOIN u$k b ON a.word = b.word AND b.i = a.i + 1 GROUP BY 1, 2),
         |m$k AS (SELECT p1, p2, c FROM c$k ORDER BY c DESC, p1, p2 LIMIT 1),
         |w$k AS (SELECT word, cnt,
         |        CASE WHEN m.p1 IS NULL THEN w
         |             ELSE replace(w, ' '||m.p1||' '||m.p2||' ', ' '||m.p1||m.p2||' ')
         |        END AS w
         |        FROM w$p LEFT JOIN m$k m ON TRUE)""".stripMargin
    }
    """WITH wd AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
      |w0 AS MATERIALIZED (SELECT word, count(*) AS cnt,
      |     ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS w
      |     FROM wd WHERE word <> '' GROUP BY 1),
      |""".stripMargin +
      (1 to 5).map(rnd).mkString(",\n")
  }

  private lazy val bpeOracle: String =
    bpePrefixSql + "\n" +
      (1 to 5).map(k =>
        s"SELECT $k AS rnd, p1 AS lhs, p2 AS rhs, p1||p2 AS merged, " +
          s"CAST(c AS BIGINT) AS freq FROM m$k")
        .mkString("", "\nUNION ALL ", "\nORDER BY rnd")

  private lazy val bpeEncodeOracle: String =
    bpePrefixSql + """,
      |v AS (SELECT word, len(string_split(trim(w), ' ')) AS nsym FROM w5),
      |sw AS (SELECT source, word, count(*) AS cnt FROM
      |   (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
      |   WHERE word <> '' GROUP BY 1, 2)
      |SELECT source, CAST(sum(cnt) AS BIGINT) AS tok_ws,
      |   CAST(sum(cnt * nsym) AS BIGINT) AS tok_bpe,
      |   CAST((2 * 10000 * sum(cnt * nsym) + sum(cnt)) // (2 * sum(cnt)) AS BIGINT) AS ratio_e4
      |FROM sw JOIN v USING (word) GROUP BY source ORDER BY source""".stripMargin

  /** q101's logic over an arbitrary (vec_id, embedding, label) frame —
    * exposed so specs can pin the single-label identity (cos = 1), an
    * engineered orthogonal-label value and the exact-integer sum path.
    */
  /** The (label × dim) e4-quantized integer sum table q101 and q116
    * share — the Spark twin of embSumCtePrefix, ONE definition so the
    * quantization/sum regime cannot drift between the drift and
    * confusion entries. Persisted: both consumers feed it to two
    * subtrees (session clearCache contract). Carries the per-dim
    * contributor count: n_vecs = max over dims of cnt (every non-empty
    * vector contributes dim 0, so the max IS the vector count — the
    * q101 review fix that removed a second corpus scan; contract:
    * vectors are non-empty, as cosine itself requires).
    */
  private def labelDimSums(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("label"), col("i"),
        round(col("x").cast(DoubleType) * lit(10000.0)).cast(LongType)
          .as("v"))
      .groupBy("label", "i")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  def centroidDrift(emb: DataFrame): DataFrame = {
    val ls = labelDimSums(emb)
    val g = ls.groupBy("i").agg(sum(col("sv")).as("gv")) // #dims rows
    ls.join(broadcast(g), Seq("i"))
      .groupBy("label")
      .agg(sum(col("sv") * col("gv")).as("num"),
        sum(col("sv") * col("sv")).as("n1"),
        sum(col("gv") * col("gv")).as("n2"),
        max(col("cnt")).as("n_vecs"))
      .select(col("label"), col("n_vecs"),
        round(col("num") / (sqrt(col("n1").cast(DoubleType)) *
          sqrt(col("n2").cast(DoubleType))), 4).as("cos_drift"))
      .transform(Relational.smallSort(_, "label"))
  }

  /** q116's logic over an arbitrary (vec_id, embedding, label) frame —
    * exposed so specs can pin the pair cosines against hand values and
    * the C(#labels, 2) matrix shape. Same integer regime as q101.
    */
  def labelConfusion(emb: DataFrame): DataFrame = {
    // the shared (label × dim) sum table is BOTH sides of the pair
    // self-join; cnt rides along for n_vecs = max over dims
    val ls = labelDimSums(emb)
    val a = ls.select(col("label").as("label_a"), col("i"),
      col("sv").as("sva"), col("cnt").as("ca"))
    val b = ls.select(col("label").as("label_b"), col("i"),
      col("sv").as("svb"), col("cnt").as("cb"))
    a.join(b, Seq("i")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("sva") * col("svb")).as("num"),
        sum(col("sva") * col("sva")).as("n1"),
        sum(col("svb") * col("svb")).as("n2"),
        max(col("ca")).as("n_a"), max(col("cb")).as("n_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(col("num") / (sqrt(col("n1").cast(DoubleType)) *
          sqrt(col("n2").cast(DoubleType))), 4).as("cos_ab"))
      .transform(Relational.smallSort(_, "label_a", "label_b"))
  }

  /** q103's logic over an arbitrary corpus — exposed so specs can pin
    * the full driver-side replay (md5 split + rational decile + integer
    * shares) and the train-deviation-is-zero invariant. Reuses q85's
    * exact split expression and q66's exact decile bucket.
    */
  def splitParity(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val toks = TextOps.tokens(col("text"))
    val n = size(toks).cast(LongType)
    val hits = TextOps.stopwordHits(toks, Llm.qualityStopwords)
      .cast(LongType)
    val db = docs
      .select(contentSplit.as("split"), n.as("n"), hits.as("hits"))
      .select(col("split"), Llm.qualityDecile.as("b"))
    // the ≤3×11-row count table feeds totals, the grid join and the
    // train-share attach → persist (session clearCache contract)
    val c = db.groupBy("split", "b").agg(count(lit(1)).as("nb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ns = c.groupBy("split").agg(sum(col("nb")).as("n_split"))
    // 33-row map-only grid (split × decile) — no literal×literal cross
    // join for the catalog audit to flag
    val grid = spark.range(0, 33).select(
      element_at(array(lit("train"), lit("val"), lit("test")),
        expr("CAST(id div 11 AS INT) + 1")).as("split"),
      expr("CAST(id % 11 AS INT)").as("b"))
    val sh = grid.join(c, Seq("split", "b"), "left")
      .join(broadcast(ns), Seq("split"))
      .withColumn("n_docs", coalesce(col("nb"), lit(0L)))
      .withColumn("share_e4",
        expr("(2 * 10000 * n_docs + n_split) div (2 * n_split)"))
    val tr = sh.filter(col("split") === "train")
      .select(col("b"), col("share_e4").as("tr_share"))
    sh.join(broadcast(tr), Seq("b"))
      .select(col("split"), col("b"), col("n_docs"), col("share_e4"),
        abs(col("share_e4") - col("tr_share")).as("dev_e4"))
      .transform(Relational.smallSort(_, "split", "b"))
  }

  private lazy val splitParityOracle: String =
    """WITH tk AS (SELECT
      |    (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16 +
      |    (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS v,
      |    len(string_split(text, ' ')) AS n,
      |    len(list_filter(string_split(text, ' '),
      |        x -> x IN ('the','a','of','and','to','in','is'))) AS hits
      |    FROM documents),
      |db AS (SELECT CASE WHEN v < 205 THEN 'train' WHEN v < 230 THEN 'val' ELSE 'test' END AS split,
      |       least(CAST((10 * (200 * hits + n * least(200, n))) // (400 * n) AS INT), 10) AS b
      |       FROM tk),
      |c AS (SELECT split, b, count(*) AS nb FROM db GROUP BY 1, 2),
      |ns AS (SELECT split, sum(nb) AS n_split FROM c GROUP BY 1),
      |grid AS (SELECT CASE WHEN g // 11 = 0 THEN 'train' WHEN g // 11 = 1 THEN 'val' ELSE 'test' END AS split,
      |         CAST(g % 11 AS INT) AS b FROM (SELECT unnest(range(0, 33)) AS g)),
      |sh AS (SELECT grid.split AS split, grid.b AS b, coalesce(c.nb, 0) AS n_docs,
      |       CAST((2 * 10000 * coalesce(c.nb, 0) + ns.n_split) // (2 * ns.n_split) AS BIGINT) AS share_e4
      |       FROM grid LEFT JOIN c ON c.split = grid.split AND c.b = grid.b
      |       JOIN ns ON ns.split = grid.split),
      |tr AS (SELECT b AS tb, share_e4 AS tr_share FROM sh WHERE split = 'train')
      |SELECT sh.split AS split, sh.b AS b, CAST(sh.n_docs AS BIGINT) AS n_docs,
      |  sh.share_e4 AS share_e4, abs(sh.share_e4 - tr.tr_share) AS dev_e4
      |FROM sh JOIN tr ON tr.tb = sh.b
      |ORDER BY split, b""".stripMargin

  /** q118's logic over an arbitrary (vec_id, embedding, label) frame —
    * exposed so specs can pin the exact norms and the even/odd median
    * rank rule on hand vectors.
    */
  def normAudit(emb: DataFrame): DataFrame = {
    // empty vectors are guarded out EXPLICITLY on both engines: Spark's
    // aggregate() fold would yield norm² = 0 while DuckDB's list_sum
    // yields NULL — the one row shape where the engines disagree
    val n2 = emb.filter(size(col("embedding")) > 0)
      .select(col("label"), expr(
      """aggregate(transform(embedding,
        |  x -> CAST(round(CAST(x AS DOUBLE) * 1e4) AS BIGINT)),
        |  0L, (a, v) -> a + v * v)""".stripMargin).as("n2"))
    // the (label, norm²) count table feeds the cum window, the min/max
    // rollup and the median attach → persist (session clearCache
    // contract)
    val c = n2.groupBy("label", "n2").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy("n2")
    val cs = c.withColumn("cum", sum(col("c")).over(w))
    val nl = c.groupBy("label").agg(sum(col("c")).as("n_vecs"),
      min(col("n2")).as("min_n2"), max(col("n2")).as("max_n2"))
    val med = cs
      .join(broadcast(nl.select(col("label"), col("n_vecs"))), Seq("label"))
      .filter(col("cum") >= expr("(n_vecs + 1) div 2")) // rank ceil(n/2)
      .groupBy("label").agg(min(col("n2")).as("p50_n2"))
    nl.join(med, Seq("label"))
      .select(col("label"), col("n_vecs"), col("min_n2"), col("p50_n2"),
        col("max_n2"))
      .transform(Relational.smallSort(_, "label"))
  }

  /** q123's logic over an arbitrary (vec_id, embedding, label) frame —
    * exposed so specs can pin the exact moment arithmetic on hand
    * vectors (zero-variance dim, known mean/variance).
    */
  def dimVariance(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i"),
        round(col("x").cast(DoubleType) * lit(10000.0)).cast(LongType)
          .as("v"))
      .groupBy("i")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("sq"))
      .select(col("i").cast(IntegerType).as("i"),
        col("n").as("n_vecs"),
        round(col("sv").cast(DoubleType) / col("n"), 4).as("mean4"),
        round((col("n") * col("sq") - col("sv") * col("sv"))
          .cast(DoubleType) / (col("n") * col("n")).cast(DoubleType), 4)
          .as("var4"))
      .transform(Relational.smallSort(_, "i"))

  private lazy val dimVarianceOracle: String =
    """WITH q AS (SELECT i, CAST(round(x * 1e4) AS BIGINT) AS v
      |       FROM (SELECT unnest(embedding) AS x,
      |             generate_subscripts(embedding, 1) AS i FROM embeddings)),
      |a AS (SELECT i, count(*) AS n, sum(v) AS sv, sum(v * v) AS sq FROM q GROUP BY 1)
      |SELECT CAST(i - 1 AS INT) AS i, CAST(n AS BIGINT) AS n_vecs,
      |  round(CAST(sv AS DOUBLE) / n, 4) AS mean4,
      |  round(CAST(n * sq - sv * sv AS DOUBLE) / CAST(n * n AS DOUBLE), 4) AS var4
      |FROM a ORDER BY i""".stripMargin

  private lazy val normAuditOracle: String =
    """WITH n2x AS (SELECT label,
      |    CAST(list_sum(list_transform(embedding,
      |      x -> CAST(round(x * 1e4) AS BIGINT) * CAST(round(x * 1e4) AS BIGINT))) AS BIGINT) AS n2
      |    FROM embeddings WHERE len(embedding) > 0),
      |c AS (SELECT label, n2, count(*) AS c FROM n2x GROUP BY 1, 2),
      |cs AS (SELECT label, n2, sum(c) OVER (PARTITION BY label ORDER BY n2) AS cum FROM c),
      |nl AS (SELECT label, sum(c) AS n_vecs, min(n2) AS min_n2, max(n2) AS max_n2 FROM c GROUP BY 1),
      |med AS (SELECT cs.label, min(n2) AS p50_n2 FROM cs JOIN nl USING (label)
      |        WHERE cum >= (n_vecs + 1) // 2 GROUP BY 1)
      |SELECT nl.label AS label, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  CAST(min_n2 AS BIGINT) AS min_n2, CAST(p50_n2 AS BIGINT) AS p50_n2,
      |  CAST(max_n2 AS BIGINT) AS max_n2
      |FROM nl JOIN med USING (label) ORDER BY label""".stripMargin

  /** The (label × dim) integer-sum CTE prefix q101 and q116 share — one
    * definition so the quantization/sum regime cannot drift between the
    * drift and confusion oracles.
    */
  private lazy val embSumCtePrefix: String =
    """WITH q AS (SELECT label, i, CAST(round(x * 1e4) AS BIGINT) AS v
      |           FROM (SELECT label, unnest(embedding) AS x,
      |                 generate_subscripts(embedding, 1) AS i FROM embeddings)),
      |ls AS (SELECT label, i, sum(v) AS sv FROM q GROUP BY 1, 2),
      |nl AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)""".stripMargin

  private lazy val centroidDriftOracle: String = embSumCtePrefix +
    """,
      |g AS (SELECT i, sum(sv) AS gv FROM ls GROUP BY 1),
      |agg AS (SELECT ls.label, sum(ls.sv * g.gv) AS num,
      |        sum(ls.sv * ls.sv) AS n1, sum(g.gv * g.gv) AS n2
      |        FROM ls JOIN g USING (i) GROUP BY 1)
      |SELECT a.label, CAST(nl.n_vecs AS BIGINT) AS n_vecs,
      |  round(num / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))), 4) AS cos_drift
      |FROM agg a JOIN nl USING (label) ORDER BY label""".stripMargin

  private lazy val labelConfusionOracle: String = embSumCtePrefix +
    """,
      |p AS (SELECT a.label AS label_a, b.label AS label_b,
      |      sum(a.sv * b.sv) AS num, sum(a.sv * a.sv) AS n1,
      |      sum(b.sv * b.sv) AS n2
      |      FROM ls a JOIN ls b ON a.i = b.i AND a.label < b.label
      |      GROUP BY 1, 2)
      |SELECT label_a, label_b, CAST(na.n_vecs AS BIGINT) AS n_a,
      |  CAST(nb.n_vecs AS BIGINT) AS n_b,
      |  round(num / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))), 4) AS cos_ab
      |FROM p JOIN nl na ON na.label = label_a
      |       JOIN nl nb ON nb.label = label_b
      |ORDER BY label_a, label_b""".stripMargin

  // sh is MATERIALIZED: it feeds cnt + both sides of inter — DuckDB's
  // default inlining re-derives the three-way token join per consumer
  // (6.2 s vs 3.9 s at sf0.1 measured; the q55 fairness rule — every
  // multi-reference CTE oracle ships whichever form is faster for duck)
  private lazy val dupQualityBiasOracle: String =
    """WITH RECURSIVE tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
      |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pr AS (SELECT i, j FROM inter JOIN cnt ca ON ca.doc_id = i
      |                              JOIN cnt cb ON cb.doc_id = j
      |       WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5),
      |edges AS (SELECT i AS u, j AS v FROM pr UNION ALL SELECT j AS u, i AS v FROM pr),
      |reach(u, x) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.x FROM edges e JOIN reach r ON r.u = e.v),
      |lb AS (SELECT u, min(x) AS lbl FROM reach GROUP BY u),
      |mem AS (SELECT lb.u, lb.lbl, d.n_chars FROM lb JOIN documents d ON d.doc_id = lb.u),
      |rk AS (SELECT u, row_number() OVER (PARTITION BY lbl ORDER BY n_chars DESC, u) AS rn
      |       FROM mem),
      |st AS (SELECT CASE WHEN rk.rn = 1 THEN 'rep'
      |              WHEN rk.u IS NOT NULL THEN 'dup' ELSE 'unique' END AS status,
      |       len(string_split(d.text, ' ')) AS n,
      |       len(list_filter(string_split(d.text, ' '),
      |           x -> x IN ('the','a','of','and','to','in','is'))) AS hits
      |       FROM documents d LEFT JOIN rk ON rk.u = d.doc_id),
      |db AS (SELECT status,
      |       least(CAST((10 * (200 * hits + n * least(200, n))) // (400 * n) AS INT), 10) AS b
      |       FROM st),
      |c AS (SELECT status, b, count(*) AS nb FROM db GROUP BY 1, 2),
      |ns AS (SELECT status, sum(nb) AS n_status FROM c GROUP BY 1)
      |SELECT c.status AS status, c.b AS b, CAST(c.nb AS BIGINT) AS n_docs,
      |  CAST((2 * 10000 * c.nb + ns.n_status) // (2 * ns.n_status) AS BIGINT) AS share_e4
      |FROM c JOIN ns USING (status) ORDER BY status, b""".stripMargin
}
