package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.{TextOps, VectorOps}
import graft.operators.{Ann, MinHashLsh, Sampling}

/** LLM-data-pipeline catalog (SURVEY §2.2 Q28–Q30 + the north-star
  * extensions): dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash /
  * embedding near-dup), similarity search, sessionization and text analysis.
  * Spark side is higher-order-function based (no UDFs) so everything stays
  * in whole-stage codegen and the DuckDB oracle can reproduce each value.
  */
object Llm {

  /** q35/q66's quality stopword set — shared with q103's parity audit
    * (the cross-query decile semantics require the identical list).
    */
  private[queries] val qualityStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** q66's exact rational quality decile over columns named `n` (token
    * count) and `hits` (stopword hits): least((10·(200·hits +
    * n·min(200,n))) div (400·n), 10) — membership never consults a
    * float. The ONE definition q66's sweep and q103's parity audit
    * share.
    */
  /** The q66 exact quality rational's numerator/denominator over columns
    * named `n` / `hits` — the ONE engine-side spelling qualityDecile
    * (hard deciles), q112's e4 score and q135's sampling weight all
    * assemble from: an edit here IS an edit to every quality consumer
    * (review finding, r10 s2).
    */
  private[queries] val qualityNumSql = "(200 * hits + n * least(200, n))"
  private[queries] val qualityDenSql = "(400 * n)"

  private[queries] def qualityDecile: org.apache.spark.sql.Column =
    least(expr(s"(10 * $qualityNumSql) div $qualityDenSql")
      .cast(IntegerType), lit(10))

  private def dbl(c: Column): Column = c.cast(DoubleType)

  /** ONE oracle for both decontamination strategies: q44 (broadcast-exact)
    * and q51 (bloom-prefiltered) declare byte-identical results, and
    * sharing the SQL makes that identity structural — an edit to the
    * oracle cannot leave a stale copy behind (CatalogSpec additionally
    * asserts q44 ≡ q51 row-for-row on the Spark side).
    */
  private val decontaminateOracle: String =
    """WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i,
      |        toks FROM tok),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS s FROM s),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 5),
      |ov AS (SELECT sh.doc_id, count(*) AS n FROM sh JOIN bench USING (s)
      |       WHERE sh.doc_id >= 5 GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_overlap,
      |       coalesce(n, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN ov USING (doc_id)
      |WHERE d.doc_id >= 5 ORDER BY doc_id""".stripMargin

  /** The q55 five-stage replay (see the q55 doc). MATERIALIZED CTEs are
    * load-bearing: the shingle table feeds the pair index, the pair
    * counts, and the decontamination probe — DuckDB's default inlining
    * re-derives the three-way token join per consumer (38 s vs 2.5 s at
    * sf0.1 measured).
    */
  private lazy val curateOracle: String = {
    val g = "greatest(s_en, s_de, s_es, s_fr, s_zh)"
    s"""WITH RECURSIVE
       |inp AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id >= 5),
       |bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
       |ex AS MATERIALIZED (SELECT doc_id, text FROM (
       |        SELECT doc_id, text,
       |               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |        FROM inp) WHERE rn = 1),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
       |        generate_subscripts(string_split(text, ' '), 1) AS i FROM ex),
       |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pr AS (SELECT i, j FROM inter JOIN cnt ca ON ca.doc_id = i
       |                              JOIN cnt cb ON cb.doc_id = j
       |       WHERE k * 1e0 / (ca.n + cb.n - k) >= 8e-1),
       |edges AS (SELECT i AS u, j AS v FROM pr UNION ALL SELECT j AS u, i AS v FROM pr),
       |reach(u, x) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.u, r.x FROM edges e JOIN reach r ON r.u = e.v),
       |lb AS (SELECT u, min(x) AS lbl FROM reach GROUP BY u),
       |nd AS MATERIALIZED (SELECT ex.doc_id, ex.text FROM ex LEFT JOIN lb ON lb.u = ex.doc_id
       |       WHERE lb.u IS NULL OR lb.lbl = ex.doc_id),
       |btok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
       |         generate_subscripts(string_split(text, ' '), 1) AS i FROM bench),
       |bsh AS (SELECT DISTINCT a.t || ' ' || b.t || ' ' || c.t AS s
       |  FROM btok a JOIN btok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |              JOIN btok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |contaminated AS (SELECT DISTINCT sh.doc_id
       |  FROM sh JOIN bsh USING (s) JOIN nd ON nd.doc_id = sh.doc_id),
       |dc AS MATERIALIZED (SELECT nd.doc_id, nd.text FROM nd
       |       LEFT JOIN contaminated c ON c.doc_id = nd.doc_id WHERE c.doc_id IS NULL),
       |sc AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
       |  len(list_filter(string_split(text, ' '), x -> x IN ('der','die','das','und','ist','ein','zu'))) AS s_de,
       |  len(list_filter(string_split(text, ' '), x -> x IN ('el','la','de','y','es','un','en'))) AS s_es,
       |  len(list_filter(string_split(text, ' '), x -> x IN ('le','la','de','et','est','un','dans'))) AS s_fr,
       |  len(list_filter(string_split(text, ' '), x -> x IN ('de5','shi4','le5','zai4','he2','you3','wo3'))) AS s_zh
       |  FROM dc),
       |pred AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, CASE
       |    WHEN $g = 0 THEN 0
       |    WHEN s_de = $g THEN s_de
       |    WHEN s_en = $g THEN s_en
       |    WHEN s_es = $g THEN s_es
       |    WHEN s_fr = $g THEN s_fr
       |    ELSE s_zh END AS hits
       |  FROM sc),
       |kept AS (SELECT doc_id FROM pred
       |  WHERE n_toks BETWEEN 10 AND 1000000
       |    AND round((hits * 1e0 / n_toks) * 5e-1 + least(1e0, n_toks / 2e2) * 5e-1, 4) >= 2e-1)
       |SELECT (SELECT count(*) FROM inp) AS n_input,
       |       (SELECT count(*) FROM kept) AS n_kept,
       |       (SELECT count(*) FROM inp) - (SELECT count(*) FROM ex) AS dropped_exact,
       |       (SELECT count(*) FROM ex) - (SELECT count(*) FROM nd) AS dropped_near_dup,
       |       (SELECT count(*) FROM nd) - (SELECT count(*) FROM dc) AS dropped_contaminated,
       |       (SELECT count(*) FROM dc) - (SELECT count(*) FROM kept) AS dropped_quality""".stripMargin
  }

  val qs: Seq[Q] = Seq(

    Q("q28_dedup_exact",
      """Q28 — exact dedup by content hash keeping the smallest doc_id.
        |min-per-hash-group is the determinism-safe form of dropDuplicates
        |(ids unique — deterministically the row_number-window row), as a
        |map-side-combinable AGGREGATE: at 100 TB only (hash, min-id)
        |partials shuffle and nothing is sorted (r13; the window form
        |sorted the pair stream on its exchange).""".stripMargin,
      """SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      // min per hash group — deterministically the rn=1 window row (ids
      // unique), but a map-side-combinable aggregate: only (hash, min id)
      // partials shuffle and nothing sorts (r13, the q97 max_by lesson)
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast(BinaryType)).as("_h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    },

    Q("q29_ann_topk",
      """Q29 — brute-force cosine top-k: the 5 nearest neighbours of
        |vec_id = 0. The probe row is broadcast, so the scan side streams
        |once with no shuffle; top-k is TakeOrderedAndProject. The 100 TB
        |path (hyperplane-LSH bucketing) is AnnSpec's subject.""".stripMargin,
      """WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(p.pe AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(p.pe AS DOUBLE[]), CAST(p.pe AS DOUBLE[])))), 4) AS score
        |FROM embeddings e, p WHERE e.vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      // limit(1) is a no-op (vec_id unique) making the 1-row bound provable
      // to the plan audit (maxRows==1 → declared scalar attach, not a BNLJ)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe")).limit(1)
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"),
                round(VectorOps.cosine(col("embedding"), col("pe")), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(5)
    },

    Q("q30_sessionize",
      """Q30 — batch sessionization: a new session starts when the per-user
        |gap exceeds 30 minutes. lag + cumulative-sum windows, one shuffle on
        |user_id; the streaming twin (session_window) lives in Streams.""".stripMargin,
      """WITH g AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (SELECT user_id, sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g),
        |per_session AS (SELECT user_id, session_id, count(*) AS n
        |  FROM sid GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        |       CAST(max(n) AS BIGINT) AS max_session_events,
        |       CAST(sum(n) AS BIGINT) AS n_events
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("new_s",
          when(lag(col("ts"), 1).over(w).isNull
            || unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
               > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(cum))
        .groupBy("user_id", "session_id").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
             max(col("n")).cast(LongType).as("max_session_events"),
             sum(col("n")).cast(LongType).as("n_events"))
        .orderBy("user_id")
    },

    Q("q30b_text_stats",
      """Q30b — per-language corpus stats with an n_chars-vs-length(text)
        |consistency check (SURVEY §2.2 Q30 second half).""".stripMargin,
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).cast(LongType).as("total_chars"),
             sum(when(col("n_chars") === length(col("text")), 1).otherwise(0))
               .cast(LongType).as("n_consistent"),
             min(col("n_chars")).cast(LongType).as("min_chars"),
             max(col("n_chars")).cast(LongType).as("max_chars"))
        .transform(Relational.smallSort(_, "lang"))
    },

    Q("q31_jaccard_pairs",
      """Q31 — exact 3-word-shingle Jaccard near-dup pairs (j >= 0.5) via an
        |inverted-index join: docs sharing a shingle are the only candidate
        |pairs, so no O(n²) cross join; any pair with j > 0 shares a shingle,
        |so the method is exact (no false negatives). MinHash-LSH (q32) is
        |the constant-width-signature scale path.""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT i, j, round(k * 1.0 / (ca.n + cb.n - k), 4) AS jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
        |WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5
        |ORDER BY i, j""".stripMargin) { (s, d) =>
      // the shared measured-best core (operators.Dedup.coShingledPairs —
      // 60-bit digest keys, persisted shingle frame, shuffle_hash posting
      // self-join, counts attached to the SMALL pair set; its scaladoc
      // records the r2/r3 measured-slower alternatives: counts through the
      // wide join ~2×, posting-list collect_list ~1.5×)
      val (wc, _) = graft.operators.Dedup
        .coShingledPairs(Tables.documents(s, d), "doc_id", "text")
      wc
        .withColumn("jaccard", col("k") * 1.0 / (col("ni") + col("nj") - col("k")))
        .filter(col("jaccard") >= 0.5)
        .select(col("i"), col("j"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("i", "j")
    },

    Q.cap("q32_minhash_lsh",
      """Q32 — MinHash + banded LSH near-dup pairs, exact-verified at the
        |same 0.5 threshold as q31. No DuckDB oracle (LSH is probabilistic by
        |design); MinHashLshSpec asserts recall vs q31's exact pairs.""".stripMargin) {
      (s, d) =>
        MinHashLsh.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
          threshold = 0.5)
    },

    Q("q33_embedding_neardup",
      """Q33 — embedding-cosine near-dup pairs (cos > 0.4) as a BLOCKED
        |self-join: block = vec_id div B gives K ≈ n/B blocks; the left side
        |replicates each row to keys (blk, q) for q in blk..K-1, the right to
        |(p, blk) for p in 0..blk, so every ordered block pair meets on
        |exactly one (p, q) equi key. That makes the all-pairs comparison a
        |shuffled equi-join with a uniform B² comparisons per key — no
        |BroadcastNestedLoopJoin, no skew, and B tunes task size at any
        |scale. i < j residual keeps exactly the oracle's pairs. When
        |approximate recall is acceptable the hyperplane-LSH path
        |(Dedup.embeddingPairs) skips the O(n²) work entirely.""".stripMargin,
      """SELECT a.vec_id AS i, b.vec_id AS j,
        |  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        |    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
        |     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) > 0.4
        |ORDER BY i, j""".stripMargin) { (s, d) =>
      embeddingNeardupExact(Tables.embeddings(s, d))
    },

    Q("q34_simhash",
      """Q34 — 32-bit md5-based SimHash fingerprint per document, computed in
        |one higher-order-function pass (no explode, no extra shuffle). The
        |oracle reproduces it bit-for-bit via the explode formulation.""".stripMargin,
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |bits AS (SELECT doc_id, t, b,
        |  CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), (b // 4) + 1, 1)) - 1)
        |             & (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) > 0
        |       THEN 1 ELSE -1 END AS v
        |  FROM tok, (SELECT unnest(generate_series(0, 31)) AS b) bb),
        |s AS (SELECT doc_id, b, sum(v) AS sv FROM bits GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN sv >= 0 THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END) AS BIGINT) AS simhash
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
                TextOps.simhash32(TextOps.tokens(col("text"))).as("simhash"))
        .orderBy("doc_id")
    },

    Q("q35_quality",
      """Q35 — document quality scoring: token count, mean token length,
        |stopword ratio and a blended score. All ratios derive from exact
        |integer counts, so double arithmetic is engine-identical.""".stripMargin,
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nc
        |            FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round((nc - (len(toks) - 1)) * 1.0 / len(toks), 4) AS mean_token_len,
        |  round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is')))
        |        * 1.0 / len(toks), 4) AS stop_ratio,
        |  round(0.5 * (len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is')))
        |               * 1.0 / len(toks))
        |      + 0.5 * least(1.0, len(toks) / 200.0), 4) AS score
        |FROM tk ORDER BY doc_id""".stripMargin) { (s, d) =>
      val stop = qualityStopwords
      val toks = col("toks")
      val n = size(toks)
      val hits = TextOps.stopwordHits(toks, stop)
      val stopRatio = hits * 1.0 / n
      Tables.documents(s, d)
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
                n.cast(LongType).as("n_tokens"),
                round((length(col("text")) - (n - 1)) * 1.0 / n, 4).as("mean_token_len"),
                round(stopRatio, 4).as("stop_ratio"),
                round(stopRatio * 0.5 + least(lit(1.0), n / 200.0) * 0.5, 4).as("score"))
        .orderBy("doc_id")
    },

    Q("q36_token_count",
      """Q36 — token counting two ways: whitespace split and a BPE-ish
        |regex ([a-z0-9]+ runs), per document.""".stripMargin,
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_txt
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
                size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
                // native single-pass run count — value-identical to
                // size(regexp_extract_all(text, '[a-z0-9]+', 0)), proven in
                // NativeExprsSpec
                graft.functions.expressions.NativeExprs
                  .lowerAlnumRunCount(col("text"))
                  .cast(LongType).as("re_tokens"),
                length(col("text")).cast(LongType).as("n_chars_txt"))
        .orderBy("doc_id")
    },

    Q("q37_fingerprint",
      """Q37 — bottom-k sketch fingerprint: the 4 smallest md5 hashes of the
        |document's distinct 3-shingles, concatenated. A fixed-width
        |order-independent fingerprint suitable for 100 TB dedup joins.""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS (SELECT DISTINCT a.doc_id, md5(a.t || ' ' || b.t || ' ' || c.t) AS h
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |fp AS (SELECT doc_id, array_to_string(list_sort(list(h))[1:4], '|') AS fp
        |  FROM sh GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(fp.fp, '') AS fp
        |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(graft.functions.expressions.NativeExprs.shingleMd5BottomK(
            TextOps.tokens(col("text")), 3, 4), "|")
            .as("fp"))
        .orderBy("doc_id")
    },

    Q("q40_stratified_sample",
      """Q40 — deterministic stratified sampling (training-data mix
        |control): membership = content-hash score < per-stratum threshold,
        |so the sample is identical across runs, partitionings and engines —
        |the DuckDB oracle recomputes the exact same md5-derived score.
        |Downsamples en to 25% and de to 50%, keeps the rest.""".stripMargin,
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 15))::UBIGINT
        |      % 1000000
        |  < CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000 ELSE 1000000 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Sampling.stratified(Tables.documents(s, d),
          "lang", "doc_id", Map("en" -> 0.25, "de" -> 0.5), default = 1.0)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    Q("q41_chunking",
      """Q41 — document chunking: split each document into 32-token windows
        |with a 16-token stride (context-window preparation — the inverse of
        |q-packing). One narrow pass: compute window starts with sequence(),
        |explode, slice the token array — no shuffle until the final sort,
        |chunk count ∝ document length. Also the S9/S10 page-dataflow shape
        |generalized to token windows.""".stripMargin,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks,
        |        generate_series(1, greatest(len(toks) - 16, 1), 16) AS starts
        |      FROM t),
        |c AS (SELECT doc_id, unnest(starts) AS start, toks FROM s)
        |SELECT doc_id, CAST((start - 1) / 16 AS BIGINT) AS chunk_id,
        |       array_to_string(toks[start : start + 31], ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      // window starts 1, 17, 33, … up to max(n-16, 1): the final window is
      // the only one allowed shorter than 32 tokens, and every token is
      // covered by ≥1 chunk. DuckDB's toks[a:b] slice is INCLUSIVE of b, so
      // the Spark side slices exactly 32 elements (slice(toks, start, 32)).
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .withColumn("start", explode(sequence(lit(1),
          greatest(size(col("toks")) - 16, lit(1)), lit(16))))
        .select(col("doc_id"),
          ((col("start") - 1) / 16).cast(LongType).as("chunk_id"),
          array_join(slice(col("toks"), col("start"), lit(32)), " ")
            .as("chunk"))
        .orderBy("doc_id", "chunk_id")
    },

    Q("q42_redaction",
      """Q42 — PII-style redaction pass: scrub email addresses and long
        |digit runs from every document, and count what was redacted. A
        |narrow regexp map — the text-cleaning stage every training corpus
        |runs before tokenization; codegen'd, scales with the scan.""".stripMargin,
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_nums
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // One-pass native scanner (struct of all three outputs): the four
      // java-regex passes of the composed form were the single largest
      // absolute gap vs the oracle in BENCH_r02. Value-identity to the
      // regexp formulation is proven in NativeExprsSpec.
      Tables.documents(s, d)
        .withColumn("r", graft.functions.expressions.NativeExprs.redact(col("text")))
        .select(col("doc_id"),
          col("r.redacted").as("redacted"),
          col("r.n_emails").cast(LongType).as("n_emails"),
          col("r.n_nums").cast(LongType).as("n_nums"))
        .orderBy("doc_id")
    },

    Q("q43_repetition",
      """Q43 — repetition-ratio quality signal: the fraction of duplicate
        |3-shingles per document (the Gopher/RefinedWeb-style repetition
        |filter that gates boilerplate and looped text out of training
        |corpora). A single narrow map — shingle counts come from the native
        |one-pass shingle kernel, no shuffle before the final sort — so it
        |scales with the scan.""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |        generate_subscripts(string_split(text,' '), 1) AS i
        |      FROM documents),
        |sh AS (SELECT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |ag AS (SELECT doc_id, count(*) AS n_sh, count(DISTINCT s) AS n_uniq
        |  FROM sh GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_sh, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(n_uniq, 0) AS BIGINT) AS n_uniq_shingles,
        |  round(CASE WHEN coalesce(n_sh, 0) > 0
        |             THEN 1.0 - n_uniq * 1.0 / n_sh ELSE 0.0 END, 4) AS rep_ratio
        |FROM documents d LEFT JOIN ag USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      // fused digest-set pass (no shingle strings) — NativeExprsSpec proves
      // value-identity to the size/array_distinct composition
      val nSh = col("st.n_shingles")
      val nUniq = col("st.n_uniq")
      Tables.documents(s, d)
        .withColumn("st", graft.functions.expressions.NativeExprs
          .shingleStats(TextOps.tokens(col("text")), 3))
        .select(col("doc_id"),
          nSh.cast(LongType).as("n_shingles"),
          nUniq.cast(LongType).as("n_uniq_shingles"),
          round(when(nSh > 0, lit(1.0) - nUniq * 1.0 / nSh).otherwise(0.0), 4)
            .as("rep_ratio"))
        .orderBy("doc_id")
    },

    Q("q44_decontaminate",
      """Q44 — benchmark decontamination: per-document count of distinct
        |3-shingles shared with a benchmark set (here: doc_id < 5), the
        |n-gram-overlap contamination check every pre-training corpus runs
        |against its eval suites. Scale shape: the benchmark's shingle set
        |is SMALL by nature (eval suites), so it broadcasts — the corpus
        |side stays a narrow scan + broadcast semi-aggregation, no
        |corpus-sized shuffle before the final sort. Shingles are compared
        |as 60-bit md5 prefixes (same declared collision tolerance as the
        |q31 inverted index; the string-keyed oracle would surface any
        |collision).""".stripMargin,
      decontaminateOracle) { (s, d) =>
      import graft.operators.Decontaminate
      val shingled = Decontaminate.shingleSet(
        Tables.documents(s, d), "doc_id", "text")
      Decontaminate.overlap(
          shingled.filter(col("doc_id") >= 5),
          shingled.filter(col("doc_id") < 5),
          Tables.documents(s, d).filter(col("doc_id") >= 5).select("doc_id"),
          "doc_id")
        .orderBy("doc_id")
    },

    Q("q51_bloom_decontaminate",
      """Q51 — bloom-prefiltered decontamination: q44's semantics (distinct
        |3-shingle overlap with the doc_id<5 benchmark set) re-expressed for
        |the case where the eval-suite shingle set is too large to broadcast
        |as an EXACT set. Shape: (1) distributed-build a bloom filter over
        |the benchmark shingles (~9.6 bits/key at 1 % fpp vs ≥64 bits + table
        |overhead for a broadcast hash set — a 100M-shingle suite is ~120 MB
        |of filter, not multi-GB of set); (2) pre-cut the corpus shingle
        |stream with the codegen'd might_contain probe INSIDE the scan
        |projection — survivors are true overlaps + ~1 % false positives;
        |(3) exact-verify ONLY the survivors with a shuffled hash join
        |against the benchmark set, which now shuffles ~1 % of the corpus
        |stream instead of all of it. False positives die in step 3, so the
        |result is EXACT — same DuckDB oracle as q44. The filter build is a
        |per-partition-merge action on the driver (scalar-sized anchor, the
        |same class as the ANN probe lookups); it is sized from the measured
        |benchmark cardinality (the suite size is known in production), so
        |the plan-embedded literal stays proportional to the suite — the
        |bench set is persisted across the count/build pair and released
        |before the facade returns; the exact-verify join recomputes the
        |bench distinct once (a narrow scan of the small-by-declaration
        |eval suite — the price of a cache-leak-free operator).""".stripMargin,
      decontaminateOracle) { (s, d) =>
      import graft.operators.Decontaminate
      val shingled = Decontaminate.shingleSet(
        Tables.documents(s, d), "doc_id", "text")
      Decontaminate.overlapBloom(
          shingled.filter(col("doc_id") >= 5),
          shingled.filter(col("doc_id") < 5),
          Tables.documents(s, d).filter(col("doc_id") >= 5).select("doc_id"),
          "doc_id")
        .orderBy("doc_id")
    },

    Q("q39_rolling_fingerprint",
      """Q39 — sliding-window document fingerprint: bottom-4 DISTINCT
        |60-bit md5 prefixes over every 48-character window, a
        |content-defined fingerprint robust to edits outside the sampled
        |windows (the winnowing/MOSS family). ORACLED in round 9 (it was
        |a declared cap): the original Rabin-Karp window hash was this
        |library's own polynomial — inexpressible in portable SQL — so
        |the window digest is now md5 (exactly
        |`('0x' || substr(md5(substr(text,i,48)), 1, 15))::UBIGINT` per
        |window), making the fingerprint REPLAYABLE by any engine with
        |md5 — the property a cross-team dedup exchange format actually
        |needs. Scale shape: a single narrow map — the compiled
        |Md5WindowBottomKExpr keeps a bounded k-slot distinct-minima
        |buffer per doc (never the n-w+1 window hashes), so output is 4
        |longs per document regardless of length; no shuffle but the
        |final ORDER BY.""".stripMargin,
      """WITH w AS (
        |  SELECT doc_id, ('0x' || substr(md5(substr(text, i, 48)), 1, 15))::UBIGINT AS h
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 47)) AS i
        |        FROM documents)),
        |dh AS (SELECT DISTINCT doc_id, h FROM w),
        |bk AS (SELECT doc_id, h FROM dh
        |       QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY h) <= 4)
        |SELECT d.doc_id,
        |       coalesce(string_agg(CAST(bk.h AS VARCHAR), '|' ORDER BY bk.h), '') AS fp
        |FROM documents d LEFT JOIN bk ON bk.doc_id = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(transform(
            graft.functions.expressions.NativeExprs
              .md5WindowBottomK(col("text"), 48, 4),
            h => h.cast(StringType)), "|").as("fp"))
        .orderBy("doc_id")
    },

    Q("q38_langid",
      """Q38 — heuristic language ID: argmax of fixed stopword-list hit
        |counts (tie → smallest code, none → 'und'). A single narrow map —
        |no shuffle — so it scales with the scan.""".stripMargin,
      q38OracleSql) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
                TextOps.langId(TextOps.tokens(col("text"))).as("pred"))
        .orderBy("doc_id")
    },

    Q.cap("q50_batch_ann",
      """Q50 — batch ANN: EVERY probe in the query set resolved in one
        |shuffled bucket join + bounded top-5 aggregate (the production
        |multi-probe similarity-search shape — a training pipeline matches
        |millions of probes, not one driver-looped probe at a time). Each
        |probe explodes to its 93 hamming-ring-≤3 bucket ids and equi-joins
        |the hyperplane-bucketed corpus on the bucket key; the per-probe
        |top-5 cut is the bounded-buffer TopK aggregate, so the map side
        |ships ≤5 candidates per (mapper, probe) — no window sort, no
        |per-probe driver jobs. Query set: every 10th vector (probes drawn
        |from the corpus, so self-matches are excluded). No DuckDB oracle
        |(LSH is probabilistic by design); TopKSpec asserts probe-by-probe
        |row-identity to the single-probe q29-family operator, and
        |CatalogSpec asserts brute-force top-5 recall over all probes.""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        val queries = e.filter(col("vec_id") % 10 === 0)
        Ann.lshTopKBatch(e, queries, "vec_id", "embedding", k = 5)
          .orderBy("qid", "rnk")
    },

    Q("q53_per_source_cap",
      """Q53 — per-source document caps: keep the top-10 documents per
        |source by (n_chars DESC, doc_id ASC) — the data-mixing cap every
        |corpus recipe applies so one domain can't dominate the training
        |mix. Scale shape: the window form (`row_number() OVER (PARTITION
        |BY source ...)`) must shuffle and sort EVERY document row into its
        |source's partition before cutting; this runs the bounded top-k
        |aggregate (TopKAgg) instead — each mapper reduces its slice to
        |≤10 entries per source before anything shuffles, so the exchange
        |carries ≤10·sources·mappers tiny structs, not the corpus. Same
        |rank semantics as the window form (TopKSpec row-identity), and
        |the DuckDB oracle IS the window formulation.""".stripMargin,
      """SELECT source, rnk, doc_id, sc FROM (
        |  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS sc,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents) t
        |WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin) { (s, d) =>
      import graft.operators.TopK
      TopK.perGroup(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"),
              col("n_chars").cast(DoubleType).as("sc")),
          Seq("source"), "sc", "doc_id", 10)
        .select(col("source"), col("rnk"), col("doc_id"), col("sc"))
        .transform(Relational.smallSort(_, "source", "rnk"))
    },

    Q("q54_dup_spans",
      """Q54 — cross-document duplicated-span profile: for each document,
        |how many of its distinct 5-token spans also appear in at least one
        |OTHER document (the exact-substring duplication signal corpus
        |curation uses to find boilerplate/copy-paste shared across pages —
        |distinct from q31's near-dup PAIRS and q43's within-doc
        |repetition). Scale shape (round 7 — measured, DevQ54): the span
        |stream is evaluated ONCE — count(*) over (partition by sh)
        |attaches each span's global document frequency in the same
        |exchange that a membership join would need for its probe side
        |anyway, then one per-doc hash aggregate folds shared/total counts
        |together. The prior aggregate+join form evaluated the
        |tokenize→shingle→md5 scan twice (agg branch + probe) plus a third
        |shingleStats pass for totals — 3× the dominant per-byte work for
        |one fewer sort; measured 0.81–0.97 s vs 0.55 s at sf0.1. A hot
        |boilerplate span concentrates one window group exactly as it
        |would concentrate one join-probe partition (same bound, and
        |WindowExec's group buffer spills); per-doc totals ride the same
        |aggregate instead of a separate kernel pass. Spans compare as
        |60-bit md5 prefixes (q31/q44 collision tolerance; the
        |string-keyed oracle would surface collisions).""".stripMargin,
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - 4, 0))) AS i,
        |        toks FROM tok),
        |sp AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 4], ' ') AS s FROM s),
        |d AS (SELECT s FROM sp GROUP BY s HAVING count(*) >= 2),
        |pd AS (SELECT sp.doc_id, count(*) AS nd FROM sp JOIN d USING (s) GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS nt FROM sp GROUP BY 1)
        |SELECT doc_id,
        |  CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(nt, 0) AS BIGINT) AS n_spans,
        |  round(CASE WHEN coalesce(nt, 0) > 0
        |             THEN coalesce(nd, 0) * 1.0 / nt ELSE 0.0 END, 4) AS dup_frac
        |FROM documents LEFT JOIN pd USING (doc_id) LEFT JOIN tot USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val spans = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.expressions.NativeExprs
            .shingleMd5Prefixes(TextOps.tokens(col("text")), 5, 15)).as("sh"))
      // the kernel emits DISTINCT spans per doc, so count(*) over the span
      // partition counts DOCUMENTS containing the span, and count(*) per
      // doc is exactly shingleStats.n_uniq — no second kernel pass needed
      val perDoc = spans
        .withColumn("ndocs", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("sh")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nt"),
             sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("nd"))
      val nd = coalesce(col("nd"), lit(0L))
      val nt = coalesce(col("nt"), lit(0L))
      Tables.documents(s, d)
        .select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          nd.cast(LongType).as("n_dup_spans"),
          nt.cast(LongType).as("n_spans"),
          round(when(nt > 0, nd * 1.0 / nt).otherwise(0.0), 4).as("dup_frac"))
        .orderBy("doc_id")
    },

    Q("q55_curate",
      """Q55 — the COMPOSED curation pipeline as a gating artifact (VERDICT
        |r6 #2): exact dedup → transitive near-dup removal → benchmark
        |decontamination (eval set = the q44 doc_id<5 convention)
        |→ language/token/quality annotation → quality gate, i.e. the
        |end-to-end shape a 100 TB pre-training job actually runs
        |([[graft.operators.CorpusPipeline.curate]]). Output is the
        |one-row drop ACCOUNTING (n_input, n_kept, dropped_exact,
        |dropped_near_dup, dropped_contaminated, dropped_quality) — the
        |numbers a production run reports — so both the pipeline's cost
        |and its stage-level stability are regression-guarded by the
        |bench/correctness artifacts. ORACLED in round 9 (it was a
        |no-oracle cap): the catalog entry runs the EXACT near-dup
        |strategy (Config.exactNearDup — the inverted-index pair core,
        |every jaccard ≥ 0.8 pair, fully deterministic) so the whole
        |five-stage accounting is replayable engine-vs-engine; the
        |DuckDB oracle composes the q28 keep-min, the q31 pair CTE, the
        |q68-style recursive closure, the q44 overlap, and the q38/q35
        |annotate-gate as MATERIALIZED CTEs (the shared shingle table is
        |consumed three times — DuckDB's default inlining re-derived it
        |per consumer, 38 s vs 2.5 s at sf0.1). The MinHash-LSH strategy
        |remains the production default for corpora where the exact pair
        |mass outgrows the co-shingle bound, covered by q32/q56 and
        |their recall specs. COMPOSITE-ACTION entry: unlike every other
        |catalog builder this one EXECUTES the pipeline (stage counts +
        |observed metrics are actions by nature) and returns the one-row
        |local accounting — so PlanShapeSpec's lazy-plan lint explicitly
        |exempts it and the component operators' plans are audited via
        |their own entries and CorpusPipelineSpec. CatalogSpec pins
        |conservation (n_kept + Σ drops ≡ the independent input count)
        |and stage consistency against the independently-oracled q28/q44
        |counts.""".stripMargin,
      curateOracle) {
      (s, d) =>
        import graft.operators.CorpusPipeline
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val bench = docs.filter(col("doc_id") < 5)
        val r = CorpusPipeline.curate(
          docs.filter(col("doc_id") >= 5), "doc_id", "text",
          CorpusPipeline.Config(exactNearDup = true), Some(bench))
        val nKept = r.corpus.count()
        r.corpus.unpersist()
        val nInput = nKept + r.droppedExact + r.droppedNearDup +
          r.droppedContaminated + r.droppedQuality
        import s.implicits._
        Seq((nInput, nKept, r.droppedExact, r.droppedNearDup,
             r.droppedContaminated, r.droppedQuality))
          .toDF("n_input", "n_kept", "dropped_exact", "dropped_near_dup",
                "dropped_contaminated", "dropped_quality")
    },

    Q.cap("q56_incremental_neardup",
      """Q56 — incremental near-dup at ingest (VERDICT r6 #3): a new batch
        |(every 10th doc_id — a 10% ingest against the remaining 90%
        |corpus) probes the corpus's MinHash band buckets and exact-verifies
        |only batch×corpus candidates — corpus×corpus pairs NEVER form, so
        |per-ingest cost is O(batch · bands) probe state against a
        |signature table computed once ([[graft.operators.MinHashLsh
        |.crossNearDupPairs]] — the handle-free LEAK-FREE form: nothing
        |persists, each signature subtree evaluates twice in the one plan;
        |production ingest amortizes via crossNearDupPairsPrepared, which
        |reuses a persisted/stored corpus-signature frame and keeps the
        |corpus un-shuffled — the batch's band probes broadcast). Output:
        |(i = batch id, j = corpus id, jaccard) pairs at the q31 0.8
        |threshold. No DuckDB oracle (banded LSH recall is probabilistic by
        |design); MinHashLshSpec pins cross-run ≡ union-run restricted to
        |straddling pairs, and the exact-verify step makes every emitted
        |pair's jaccard exact.""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        MinHashLsh.crossNearDupPairs(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", threshold = 0.8)
    },

    Q("q58_contamination_report",
      """Q58 — benchmark-side contamination report: the inverse aggregation
        |of q44. For every eval document (doc_id < 5), how many corpus
        |documents share at least one of its 3-shingles, how many of its
        |distinct shingles appear anywhere in the corpus, and the burned
        |fraction — the report an eval-suite owner reads to decide which
        |items are still trustworthy after a crawl refresh (q44 answers the
        |corpus owner's question; this answers the benchmark owner's).
        |Scale shape: the corpus shingle stream (the 100 TB side) is never
        |value-shuffled — the small bench (bench_id, sh) set broadcasts
        |into a hash join inside the corpus scan, and the dual distinct
        |counts aggregate at eval-suite cardinality (bounded by
        |declaration; Spark's two-phase expand gives them map-side
        |partials). Shingles compare as 60-bit md5 prefixes — the q44/q31
        |collision tolerance; the string-keyed oracle would surface any
        |collision.""".stripMargin,
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s AS (SELECT doc_id, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i,
        |        toks FROM tok),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS s FROM s),
        |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 5),
        |corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 5),
        |tot AS (SELECT bench_id, count(*) AS n_shingles FROM bench GROUP BY 1),
        |hit AS (SELECT bench_id, count(DISTINCT c.doc_id) AS n_docs_hit,
        |               count(DISTINCT b.s) AS n_shingles_hit
        |        FROM bench b JOIN corpus c USING (s) GROUP BY 1)
        |SELECT bench_id, CAST(coalesce(n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
        |       CAST(coalesce(n_shingles_hit, 0) AS BIGINT) AS n_shingles_hit,
        |       round(coalesce(n_shingles_hit, 0) * 1.0 / n_shingles, 4) AS burn_frac
        |FROM tot LEFT JOIN hit USING (bench_id) ORDER BY bench_id""".stripMargin) {
      (s, d) =>
        import graft.operators.Decontaminate
        val shingled = Decontaminate.shingleSet(
          Tables.documents(s, d), "doc_id", "text")
        Decontaminate.report(
            shingled.filter(col("doc_id") >= 5),
            shingled.filter(col("doc_id") < 5),
            "doc_id")
          .transform(Relational.smallSort(_, "bench_id"))
    },

    Q("q62_pack",
      """Q62 — sequence packing: group documents into context-window packs
        |(capacity 2048 whitespace tokens) via the value-keyed NEXT-FIT
        |operator ([[graft.operators.Packing.packGreedy]]) and emit the
        |per-pack profile (n_docs, n_tokens, fill fraction) — the
        |packing-efficiency report a training-data export job writes next
        |to its shards. Scale shape: the parallelism unit is a VALUE
        |(group = doc_id mod 64), so packs are identical run-over-run
        |regardless of AQE coalescing or cluster size; packing itself is
        |a streaming O(1)-state fold over each group's sorted iterator
        |(no group buffering), and the profile is one hash agg over the
        |(group-prefixed, globally unique) pack ids. ORACLED in round 9
        |(it was a declared cap): next-fit is a non-associative
        |sequential fold (a running capacity RESET), inexpressible as
        |window/aggregate SQL but exactly expressible as a per-group
        |RECURSIVE CTE advancing one rank per step — the recursion
        |carries (pidx, used) state, the same guard (used > 0 AND
        |used + n > cap) the operator's fold applies, so the pack ids
        |(grp·2³² + idx) match bit-for-bit. The fill division is by the
        |exact power of two 2048, so round(·, 4) can never land on a
        |decimal half boundary in either engine. SamplingPackingSpec
        |still pins determinism across partitionings, the capacity
        |bound, and singleton-oversize handling; CatalogSpec pins
        |conservation against the independently-oracled q36 token
        |counts.""".stripMargin,
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         doc_id % 64 AS grp,
        |         row_number() OVER (PARTITION BY doc_id % 64 ORDER BY doc_id) AS rn
        |  FROM documents),
        |st AS (
        |  SELECT grp, rn, n_tokens, CAST(0 AS BIGINT) AS pidx, n_tokens AS used
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.grp, d.rn, d.n_tokens,
        |         CASE WHEN st.used > 0 AND st.used + d.n_tokens > 2048
        |              THEN st.pidx + 1 ELSE st.pidx END,
        |         CASE WHEN st.used > 0 AND st.used + d.n_tokens > 2048
        |              THEN d.n_tokens ELSE st.used + d.n_tokens END
        |  FROM st JOIN d ON d.grp = st.grp AND d.rn = st.rn + 1)
        |SELECT grp * 4294967296 + pidx AS pack_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       round(CAST(sum(n_tokens) AS DOUBLE) / 2.048e3, 4) AS fill
        |FROM st GROUP BY 1 ORDER BY pack_id""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
        graft.operators.Packing
          .packGreedy(docs, "doc_id", "n_tokens", capacity = 2048L)
          .groupBy("pack_id")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          .select(col("pack_id"), col("n_docs"), col("n_tokens"),
            round(col("n_tokens") / 2048.0, 4).as("fill"))
          .orderBy("pack_id")
    },

    Q("q63_containment",
      """Q63 — shingle-containment near-dup pairs (Broder's asymmetric
        |measure): for co-shingled pairs i<j, c_ij = |Si∩Sj|/|Si| and
        |c_ji = |Si∩Sj|/|Sj|, kept when either ≥ 0.3. Containment catches
        |SUBSET duplication that symmetric Jaccard (q31) is blind to — a
        |boilerplate notice of 200 tokens embedded verbatim in a 10k-token
        |page has jaccard ≈ 0.02 but containment ≈ 1.0; on this corpus the
        |0.3 cut surfaces 20 sf0.1 pairs invisible at q31's jaccard ≥ 0.5.
        |Scale shape = q31's (the measured-best of three recorded
        |alternatives): shingles hash to 60-bit longs so the inverted-index
        |shuffle carries 8-byte keys, the posting join is shuffle_hash (no
        |useful sort order — skip sort-merge's O(n log n)), the pair
        |stream keeps the i<j half only (both directions derive from ONE
        |intersection count), and the per-doc sizes attach to the SMALL
        |aggregated pair set, never through the wide posting-match stream
        |(the r2-measured 2× trap).""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT i, j, round(k * 1.0 / ca.n, 4) AS c_ij, round(k * 1.0 / cb.n, 4) AS c_ji
        |FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
        |WHERE k * 1.0 / ca.n >= 0.3 OR k * 1.0 / cb.n >= 0.3
        |ORDER BY i, j""".stripMargin) { (s, d) =>
      val (wc, _) = graft.operators.Dedup
        .coShingledPairs(Tables.documents(s, d), "doc_id", "text")
      wc
        .withColumn("c_ij", col("k") * 1.0 / col("ni"))
        .withColumn("c_ji", col("k") * 1.0 / col("nj"))
        .filter(col("c_ij") >= 0.3 || col("c_ji") >= 0.3)
        .select(col("i"), col("j"),
          round(col("c_ij"), 4).as("c_ij"), round(col("c_ji"), 4).as("c_ji"))
        .orderBy("i", "j")
    },

    Q("q65_mix_weights",
      """Q65 — temperature-scaled data-mixture weights (the Gopher/LLaMA
        |sampling-weight table): per source, token mass and an α=0.5
        |weight  w_s ∝ √tokens_s  (down-weights the biggest sources,
        |up-weights the tail — α=1 is proportional, α=0 uniform), plus
        |the implied epochs/duplication each source runs at a 1M-token
        |budget (epochs ≫ 1 on a small source flags memorization risk
        |BEFORE training). Scale shape: ONE map-side-combined aggregate
        |at source cardinality — per-doc token counts never leave their
        |scan tasks (sum of a size(), no token materialization beyond the
        |split) — then the normalizer Σ√t is a 1-row broadcast and the
        |final sort is #sources rows. Determinism: √t is quantized to
        |integer hundredths (floor(√t·100) — sqrt/mult are correctly
        |rounded IEEE ops, bit-identical in both engines) so the
        |normalizer is an exact INTEGER sum — summation order can't
        |perturb the 4-dp rounding the way a float Σ√t could (the q61
        |lesson applied before it bites).""".stripMargin,
      """WITH st AS (SELECT source, count(*) AS n_docs,
        |              sum(len(string_split(text, ' '))) AS n_tokens
        |            FROM documents GROUP BY source),
        |sq AS (SELECT source, n_docs, n_tokens,
        |              CAST(floor(sqrt(n_tokens) * 100) AS BIGINT) AS s100 FROM st),
        |tot AS (SELECT sum(s100) AS z FROM sq)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       round(s100 * 1.0 / z, 4) AS weight,
        |       round(1000000.0 * (s100 * 1.0 / z) / n_tokens, 4) AS epochs
        |FROM sq CROSS JOIN tot ORDER BY source""".stripMargin) { (s, d) =>
      val st = Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast(LongType)).as("n_tokens"))
        .withColumn("s100", floor(sqrt(col("n_tokens")) * 100).cast(LongType))
        // the normalizer subtree reads this frame too — persist the
        // #sources-row summary so the corpus aggregates once (the q45
        // double-scan lesson); the 1-row total then attaches as the
        // audited proven-scalar cross join, never a global window
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = st.agg(sum(col("s100")).as("z"))
      st.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("s100") * 1.0 / col("z"), 4).as("weight"),
          round(lit(1000000.0) * (col("s100") * 1.0 / col("z")) / col("n_tokens"), 4)
            .as("epochs"))
        .transform(Relational.smallSort(_, "source"))
    },

    Q("q66_quality_sweep",
      """Q66 — quality-threshold yield curve: for every cut t ∈ 0.0..0.9,
        |how many documents and tokens the q35 quality gate would keep —
        |the sweep read before committing a filter threshold (where does
        |the curve fall off a cliff, what token budget survives each
        |cut). Scale shape: the corpus is scanned ONCE — each doc maps to
        |its quality DECILE and a ≤11-row bucket table aggregates per
        |decile; each bucket then EXPLODES to the thresholds it satisfies
        |(t ≤ min(b,9) — suffix sums as an equi groupBy over ~55 rows,
        |no non-equi join) and the 10-row grid fills the empty cuts, so
        |sweeping 10 thresholds costs one corpus pass + an 11-row
        |reduction, NOT 10 corpus scans (and a 100-point sweep would cost
        |the same pass). Determinism: the q35 score is the exact rational
        |(200·hits + n·min(200,n)) / (400·n), so the decile is the pure
        |integer division (10·num) div den — threshold membership never
        |consults a float (score ≥ t/10 ⟺ decile ≥ t, exactly).""".stripMargin,
      """WITH tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n,
        |              len(list_filter(string_split(text, ' '),
        |                  x -> x IN ('the','a','of','and','to','in','is'))) AS hits
        |            FROM documents),
        |bk AS (SELECT least(CAST((10 * (200 * hits + n * least(200, n)))
        |                         // (400 * n) AS INT), 10) AS b,
        |              count(*) AS nd, sum(n) AS nt
        |       FROM tk GROUP BY 1),
        |tot AS (SELECT count(*) AS total_docs FROM tk)
        |SELECT t.t AS t_tenths, t.t / 10.0 AS threshold,
        |       CAST(coalesce(sum(bk.nd), 0) AS BIGINT) AS n_docs,
        |       CAST(coalesce(sum(bk.nt), 0) AS BIGINT) AS n_tokens,
        |       round(coalesce(sum(bk.nd), 0) * 1.0
        |             / (SELECT total_docs FROM tot), 4) AS frac_docs
        |FROM (SELECT CAST(unnest(range(0, 10)) AS INT) AS t) t
        |LEFT JOIN bk ON bk.b >= t.t
        |GROUP BY 1, 2 ORDER BY t_tenths""".stripMargin) { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      val n = size(toks).cast(LongType)
      val hits = TextOps.stopwordHits(toks, qualityStopwords).cast(LongType)
      val bk = Tables.documents(s, d)
        .select(n.as("n"), hits.as("hits"))
        .select(col("n"), qualityDecile.as("b"))
        .groupBy("b")
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("nt"))
      // bucket b satisfies every threshold t ≤ min(b, 9), so the suffix
      // sums come from an explode + EQUI groupBy/join over the ≤11-row
      // summary — no non-equi (b ≥ t) nested loop for the audit to flag,
      // and the corpus still scans exactly once (bk persisted; its total
      // attaches as the audited proven-1-row cross join)
      val bkP = bk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = bkP.agg(sum(col("nd")).as("total_docs"))
      val curve = bkP
        .select(explode(sequence(lit(0), least(col("b"), lit(9)))).as("t"),
          col("nd"), col("nt"))
        .groupBy("t")
        .agg(sum(col("nd")).as("kd"), sum(col("nt")).as("kt"))
      val grid = s.range(0, 10).select(col("id").cast(IntegerType).as("t"))
      grid.join(broadcast(curve), Seq("t"), "left")
        .crossJoin(broadcast(tot))
        .select(col("t").as("t_tenths"), (col("t") / 10.0).as("threshold"),
          coalesce(col("kd"), lit(0L)).as("n_docs"),
          coalesce(col("kt"), lit(0L)).as("n_tokens"),
          round(coalesce(col("kd"), lit(0L)) * 1.0 / col("total_docs"), 4)
            .as("frac_docs"))
        .transform(Relational.smallSort(_, "t_tenths"))
    },

    Q("q67_source_overlap",
      """Q67 — cross-source duplication matrix: q31's near-dup pairs
        |(exact 3-shingle jaccard ≥ 0.5) rolled up to SOURCE pairs —
        |n_pairs, distinct docs involved, mean/max similarity per
        |(src_a ≤ src_b) — the "which crawls mirror each other" read
        |before source selection or mixture weighting (a src_a=src_b row
        |is internal duplication; a hot off-diagonal row says two feeds
        |re-serve the same content and one should be down-weighted or
        |dropped). Scale shape: pair generation is q31's measured-best
        |inverted index (60-bit digests, shuffle_hash posting join, i<j
        |half, counts attached to the SMALL aggregated pair set); the
        |doc→source attach joins the THRESHOLDED pair set — tiny by
        |near-dup definition — against the doc map with the pair side as
        |the hash build, so nothing corpus-sized shuffles after the
        |posting join; the final rollups aggregate at #source² ≤ tiny
        |cardinality. Determinism: per-pair jaccard scales to integer
        |ten-thousandths and the mean is the q61 integer half-up form
        |((2s+n) div 2n) — no float summation order anywhere.""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT i, j, CAST(round(k * 1.0 / (ca.n + cb.n - k) * 10000) AS BIGINT) AS ji
        |       FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
        |       WHERE k * 1.0 / (ca.n + cb.n - k) >= 0.5),
        |sp AS (SELECT least(da.source, db.source) AS src_a,
        |              greatest(da.source, db.source) AS src_b, i, j, ji
        |       FROM pr JOIN documents da ON da.doc_id = pr.i
        |               JOIN documents db ON db.doc_id = pr.j),
        |ag AS (SELECT src_a, src_b, count(*) AS n_pairs, sum(ji) AS sj, max(ji) AS mx
        |       FROM sp GROUP BY 1, 2),
        |dc AS (SELECT src_a, src_b, count(DISTINCT d) AS n_docs FROM
        |         (SELECT src_a, src_b, i AS d FROM sp
        |          UNION ALL SELECT src_a, src_b, j AS d FROM sp)
        |       GROUP BY 1, 2)
        |SELECT ag.src_a, ag.src_b, CAST(n_pairs AS BIGINT) AS n_pairs,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST((2 * sj + n_pairs) // (2 * n_pairs) AS BIGINT) / 10000.0 AS avg_j,
        |       mx / 10000.0 AS max_j
        |FROM ag JOIN dc USING (src_a, src_b)
        |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val (wc, _) = graft.operators.Dedup
        .coShingledPairs(docs, "doc_id", "text")
      val pr = wc
        .filter(col("k") * 1.0 / (col("ni") + col("nj") - col("k")) >= 0.5)
        .select(col("i"), col("j"),
          round(col("k") * 1.0 / (col("ni") + col("nj") - col("k")) * 10000, 0)
            .cast(LongType).as("ji"))
      // the pair set is tiny post-threshold — hint IT as the hash build so
      // the corpus-sized doc→source map streams as the probe side
      val srcMap = docs.select(col("doc_id"), col("source"))
      val sp = pr.hint("shuffle_hash")
        .join(srcMap.select(col("doc_id").as("i"), col("source").as("sa")), Seq("i"))
        .hint("shuffle_hash")
        .join(srcMap.select(col("doc_id").as("j"), col("source").as("sb")), Seq("j"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"),
          col("i"), col("j"), col("ji"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ag = sp.groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"), sum(col("ji")).as("sj"),
          max(col("ji")).as("mx"))
      val dc = sp
        .select(col("src_a"), col("src_b"), explode(array(col("i"), col("j"))).as("d"))
        .groupBy("src_a", "src_b")
        .agg(countDistinct(col("d")).as("n_docs"))
      ag.join(dc, Seq("src_a", "src_b"))
        .select(col("src_a"), col("src_b"), col("n_pairs"), col("n_docs"),
          (expr("(2 * sj + n_pairs) div (2 * n_pairs)") / 10000.0).as("avg_j"),
          (col("mx") / 10000.0).as("max_j"))
        .transform(Relational.smallSort(_, "src_a", "src_b"))
    },

    Q("q68_dup_clusters",
      """Q68 — near-dup cluster-size histogram: q31's exact jaccard ≥ 0.5
        |pairs collapsed to TRANSITIVE connected components
        |(Dedup.connectedComponents — min-label propagation with pointer
        |jumping, O(log diameter) rounds, O(1)-size checkpointed plans)
        |and rolled up to (cluster_size, n_clusters, n_docs) — the "how
        |big do duplicate families get" read that sizes keep-one dedup
        |savings and flags template explosions (one 10k-doc cluster is a
        |boilerplate farm, not ordinary duplication). Scale shape: pair
        |generation is q31's measured-best inverted index; the CC loop
        |shuffles only the PAIR set (tiny by near-dup definition) per
        |round; both rollups aggregate at component cardinality. The
        |DuckDB oracle computes the same closure via a recursive CTE —
        |label-propagation semantics pinned engine-vs-engine, not just
        |spec-vs-self.""".stripMargin,
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
        |cl AS (SELECT lbl, count(*) AS sz FROM lb GROUP BY lbl)
        |SELECT CAST(sz AS INT) AS cluster_size, count(*) AS n_clusters,
        |       CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM cl GROUP BY sz ORDER BY cluster_size""".stripMargin) { (s, d) =>
      val (wc, _) = graft.operators.Dedup
        .coShingledPairs(Tables.documents(s, d), "doc_id", "text")
      val pairs = wc
        .filter(col("k") * 1.0 / (col("ni") + col("nj") - col("k")) >= 0.5)
        .select(col("i"), col("j"))
      val labels = graft.operators.Dedup.connectedComponents(pairs, "i", "j")
      labels.groupBy("lbl").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").cast(IntegerType).as("cluster_size"),
          col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    },

    Q("q69_heavy_hitters",
      """Q69 — certified-exact top-25 tokens under BOUNDED memory (the
        |operators.HeavyHitters two-pass Misra–Gries scheme). Same answer
        |as a q26-style full groupBy — the q51 precedent: identical
        |declared result, different distribution shape — but the plan
        |never materializes the token universe: pass 1 ships ONE ≤ m-entry
        |mergeable summary per task (m = 48 here), pass 2 re-counts only
        |the surviving candidates exactly (an isin literal filter ahead of
        |the shuffle), and the result is CERTIFIED exact at build time —
        |any token absent from the summary has true count ≤ the summary's
        |decrement total delta, so k-th-candidate-count > delta proves no
        |dropped token can displace the top-k (build throws rather than
        |return an uncertified answer; raise m until it holds). On this
        |corpus vocab (31) < m so delta = 0 and the certificate is
        |trivially tight; ExtensionsAndAggsSpec exercises the compressed
        |regime (delta > 0, certificate still proving exactness) and the
        |must-throw uniform case on synthetic corpora.""".stripMargin,
      """SELECT t AS token, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |GROUP BY t ORDER BY cnt DESC, token LIMIT 25""".stripMargin) { (s, d) =>
      graft.operators.HeavyHitters.exactTopK(
        Tables.documents(s, d), "text", k = 25, m = 48)
    },

    Q("q73_span_ladder",
      """Q73 — repeated-span profile at doubling lengths 2..64: how many
        |DISTINCT token spans of each length occur ≥ 2 times in the
        |corpus, and how many positions they cover — the exact-substring
        |duplication signal (the suffix-array dedup family à la "dedup
        |makes LMs better") that q54's fixed-width shingles sample at one
        |width. Scale shape: the whole ladder is computed ROW-LOCALLY by
        |prefix doubling (spanDigestLadderPacked kernel — level k+1
        |combines each span's two half-span digests, so a 64-span costs
        |log₂64 mixes per token, not 64 hashes; spans never cross document
        |bounds, so no cross-row state exists) and only PACKED
        |level-over-digest longs shuffle — one primitive 8-byte key per
        |span (level tag in bits 61..63, codegen'd kernel, zero boxing)
        |with map-side partial aggregation, never the span STRINGS (the
        |oracle's array_to_string n-grams carry ~L·6 bytes per position
        |per length). The struct-ladder form (boxed InternalRow per span +
        |a two-column group key) measured ~30 % slower end-to-end
        |(DevQ73). Digest tolerance is the 61-bit truncation of q31's
        |class (~2⁻⁶¹ per pair; a real collision would surface as an
        |oracle hash mismatch). The 6-row grid fills lengths with no
        |repeats so the output shape is data-independent.""".stripMargin,
      """SELECT CAST(2 AS INT) AS span_len, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n_positions
        |FROM (SELECT s, count(*) AS c
        |      FROM (SELECT array_to_string(toks[i:i+2-1], ' ') AS s
        |            FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |                 unnest(generate_series(1, len(toks) - 2 + 1)) AS t(i))
        |      GROUP BY s HAVING count(*) >= 2)
        |UNION ALL
        |SELECT CAST(4 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT s, count(*) AS c
        |      FROM (SELECT array_to_string(toks[i:i+4-1], ' ') AS s
        |            FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |                 unnest(generate_series(1, len(toks) - 4 + 1)) AS t(i))
        |      GROUP BY s HAVING count(*) >= 2)
        |UNION ALL
        |SELECT CAST(8 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT s, count(*) AS c
        |      FROM (SELECT array_to_string(toks[i:i+8-1], ' ') AS s
        |            FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |                 unnest(generate_series(1, len(toks) - 8 + 1)) AS t(i))
        |      GROUP BY s HAVING count(*) >= 2)
        |UNION ALL
        |SELECT CAST(16 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT s, count(*) AS c
        |      FROM (SELECT array_to_string(toks[i:i+16-1], ' ') AS s
        |            FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |                 unnest(generate_series(1, len(toks) - 16 + 1)) AS t(i))
        |      GROUP BY s HAVING count(*) >= 2)
        |UNION ALL
        |SELECT CAST(32 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT s, count(*) AS c
        |      FROM (SELECT array_to_string(toks[i:i+32-1], ' ') AS s
        |            FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |                 unnest(generate_series(1, len(toks) - 32 + 1)) AS t(i))
        |      GROUP BY s HAVING count(*) >= 2)
        |UNION ALL
        |SELECT CAST(64 AS INT), CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(c), 0) AS BIGINT)
        |FROM (SELECT s, count(*) AS c
        |      FROM (SELECT array_to_string(toks[i:i+64-1], ' ') AS s
        |            FROM (SELECT string_split(text, ' ') AS toks FROM documents),
        |                 unnest(generate_series(1, len(toks) - 64 + 1)) AS t(i))
        |      GROUP BY s HAVING count(*) >= 2)
        |ORDER BY span_len""".stripMargin) { (s, d) =>
      val spans = Tables.documents(s, d)
        .select(explode(graft.functions.expressions.NativeExprs
          .spanDigestLadderPacked(TextOps.tokens(col("text")), 6)).as("pk"))
      val agg = spans
        .groupBy("pk").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .groupBy(expr("cast(shiftleft(1, cast(shiftrightunsigned(pk, 61) as int)) as int)")
          .as("span_len"))
        .agg(count(lit(1)).as("n_spans"), sum(col("c")).as("n_positions"))
      val grid = s.range(1, 7)
        .select(expr("cast(shiftleft(1, cast(id as int)) as int)")
          .as("span_len"))
      grid.join(broadcast(agg), Seq("span_len"), "left")
        .select(col("span_len"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_positions"), lit(0L)).as("n_positions"))
        .transform(Relational.smallSort(_, "span_len"))
    },

    Q("q106_neardup_sweep",
      """Q106 — near-dup threshold yield curve: for every jaccard cut
        |t ∈ 0.1..1.0, the exact pair count and the count of documents
        |touched by at least one such pair — the sweep read before
        |committing a dedup threshold (q31/q96 fix t = 0.5; this shows
        |what each alternative would sweep in, and how far the banded
        |candidate mass — the dec-0 row it reports implicitly — sits
        |from the actionable mass). Determinism: membership is the pure
        |integer decile (10·k) div (ni+nj−k) — j ≥ t/10 ⟺ dec ≥ t
        |exactly, no float threshold crosses engines (the q66 rule on
        |the pair measure). Scale shape: the shared inverted-index pair
        |core runs ONCE (banded/bucketed candidates, never n²); the
        |decile projection is persisted and everything downstream is
        |≤11-row — the pair histogram directly, the doc histogram via a
        |per-doc max-decile aggregate (a doc counts at its strongest
        |pair, so suffix sums stay a plain explode + equi groupBy over
        |the tiny bucket table — the q66 no-BNLJ trick), and the 10-row
        |grid fills empty cuts. Sweeping 10 cuts costs one pair-core
        |pass, not 10.""".stripMargin,
      q106OracleSql) { (s, d) =>
      neardupSweep(Tables.documents(s, d))
    },

    Q("q112_quality_length_corr",
      """Q112 — per-source Pearson correlation between the q35 quality
        |score and document length (the confound check before acting on
        |either signal: when quality is mostly re-measuring length, a
        |quality gate is a length gate in disguise and q100's clip
        |already covers it — read beside q66's sweep before committing a
        |filter). Determinism: the score enters as the exact integer e4
        |rational ((2·10⁴·(200·hits + n·min(200,n)) + 400n) div (800n)
        |— the q66 quality arithmetic, half-up), lengths are integers,
        |and ALL five correlation moments (Σx, Σy, Σxy, Σx², Σy²) are
        |exact BIGINTs (the q90 second-moment rule) — both engines then
        |divide identical doubles and round(4); degenerate (zero
        |variance) sources are guarded out identically. Scale shape: one
        |scan projection computes (source, x, y); ONE #sources-row
        |reduction with map-side combine carries all five moments; at
        |100 TB this is a scan plus a bounded exchange. BIGINT bound:
        |n·Σy² overflows past ~1e9 large docs per source — the
        |DECIMAL(38) lever, documented not needed below that.""".stripMargin,
      q112OracleSql) { (s, d) =>
      qualityLengthCorr(Tables.documents(s, d))
    },

    Q("q120_shingle_df_histogram",
      """Q120 — shingle document-frequency histogram in power-of-two
        |buckets (bucket = MSB position of df — pure INTEGER binary
        |length, no float log2 crosses engines): per bucket the distinct
        |shingles, the posting mass Σdf and the PAIR-CANDIDATE mass
        |Σ df·(df−1)/2 — the last column is EXACTLY the candidate count
        |the q31 inverted-index posting join will generate, so this is
        |the index-sizing read that PREDICTS the pair-core's cost (and
        |the skew screen: one boilerplate shingle in a high bucket
        |dominates the candidate mass long before it dominates
        |postings). Shingles are the shared 60-bit md5-prefix digests
        |(q31's kernel; digest equality ≡ shingle equality is the
        |corpus-verified q31 contract). Scale shape: one shingle
        |exchange to df, then a ≤64-row bucket reduction — the
        |histogram costs one pass of what the pair join it sizes would
        |cost.""".stripMargin,
      q120OracleSql) { (s, d) =>
      shingleDfHistogram(Tables.documents(s, d))
    },

    Q("q121_lang_agreement",
      """Q121 — declared-language vs heuristic-langid agreement matrix:
        |per (declared lang, q38 prediction) the doc count and the
        |within-declared-lang share (half-up e4) — the label-QA read
        |before ANY per-lang decision (q65's mixture weights, q109's
        |composition, q52's per-lang stats all trust the lang column;
        |this measures whether they should — on THIS corpus the
        |heuristic reads en/und everywhere, exposing the synthetic
        |label). Prediction = the ONE shared q38 semantics (engine:
        |TextOps.langId; oracle: the shared langIdPredSql CTE — an edit
        |cannot drift the two entries apart). Scale shape: one narrow
        |scan projection, ONE ≤ #langs×#langs-row reduction, shares as
        |a bounded broadcast attach.""".stripMargin,
      q121OracleSql) { (s, d) =>
      langAgreement(Tables.documents(s, d))
    },

    Q("q131_neardup_degree",
      """Q131 — near-dup graph degree histogram: per paired document its
        |number of j ≥ 0.5 partners, rolled up to (degree, n_docs) — the
        |graph-TOPOLOGY read beside q68's cluster sizes: a size-k
        |component can be a CLIQUE (k mutually-similar variants — the
        |keep-one survivorship premise holds) or a STAR (one hub weakly
        |similar to k spokes — boilerplate/template contamination where
        |keep-one deletes distinct content), and only the degree
        |distribution separates them (clique: degrees k−1; star: one
        |degree-k hub, k degree-1 spokes). High-degree outliers are the
        |template explosions a pipeline quarantines BEFORE transitive
        |closure chains them into a mega-cluster. Threshold compares in
        |exact integers (10⁴·k ≥ 5000·u — no float jaccard). Scale
        |shape: pairs are the shared q31 posting core (the banded path
        |at 100 TB); degrees reduce the thresholded PAIR set (both
        |endpoints via one unionAll, map-side combined); the histogram
        |re-reduces the ≤#docs degree table to its support — nothing
        |corpus-sized shuffles after the posting join.""".stripMargin,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
        |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT i, j FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
        |      WHERE 10000 * k >= 5000 * (ca.n + cb.n - k)),
        |deg AS (SELECT d, count(*) AS degree FROM
        |        (SELECT i AS d FROM p UNION ALL SELECT j AS d FROM p) GROUP BY 1)
        |SELECT CAST(degree AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_docs
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin) { (s, d) =>
      neardupDegree(Tables.documents(s, d))
    },

    Q("q135_weighted_sample",
      """Q135 — deterministic quality-WEIGHTED downsampling accounting
        |(soft filtering): every doc keeps with probability equal to its
        |q66 exact quality rational w = (200·hits + n·min(200,n)) /
        |(400·n), decided by a content-hash Bernoulli — keep iff
        |u · den < num · 2³² with u = the first 8 md5 hex digits of the
        |text (a uniform 32-bit draw) — so the sample is a pure function
        |of CONTENT: re-crawls, re-orderings and cluster layouts keep the
        |identical sample (q85's stability rule applied at the SAMPLING
        |stage; the soft alternative to q66's hard threshold, which
        |deletes whole strata — temperature-style weighting keeps a
        |calibrated low-quality tail for robustness). Output per source:
        |docs, kept docs, Σ per-doc half-up-e4 weights (the EXPECTED kept
        |mass — realized-vs-expected is the sampler-calibration audit),
        |kept share e4. Integer-exact end to end: the keep test never
        |consults a float (Long-safe to ~5e6 tokens/doc — u·den <
        |2³²·400·n; the DECIMAL lever applies past it, the q112
        |convention). Scale shape: one narrow scan projection (tokens,
        |stopword hits, one md5) reducing map-side to #sources rows —
        |embarrassingly parallel, no shuffle beyond the rollup.""".stripMargin,
      """WITH tk AS (SELECT source, string_split(text,' ') AS toks, text FROM documents),
        |w AS (SELECT source, len(toks) AS n,
        |        len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS hits,
        |        CAST(('0x' || substr(md5(text), 1, 8))::UBIGINT AS BIGINT) AS u
        |      FROM tk),
        |k AS (SELECT source, 200 * hits + n * least(200, n) AS num, 400 * n AS den, u FROM w)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE u * den < num * 4294967296) AS BIGINT) AS n_kept,
        |  CAST(sum((2 * 10000 * num + den) // (2 * den)) AS BIGINT) AS exp_kept_e4,
        |  CAST((2 * 10000 * count(*) FILTER (WHERE u * den < num * 4294967296) + count(*))
        |       // (2 * count(*)) AS BIGINT) AS kept_share_e4
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      weightedSample(Tables.documents(s, d))
    }
  )

  /** The q38 langid prediction as ONE shared CTE prefix (doc_id, lang,
    * pred) — q38's per-doc oracle and q121's agreement oracle both end
    * in `pr`, so the stopword lists and the tie order cannot drift
    * between them (the decontaminateOracle convention). lazy: declared
    * below `qs`, which captures it during object init.
    */
  private lazy val langIdPredSql: String =
    """WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |sc AS (SELECT doc_id, lang,
      |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
      |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu'))) AS s_de,
      |  len(list_filter(toks, x -> x IN ('el','la','de','y','es','un','en'))) AS s_es,
      |  len(list_filter(toks, x -> x IN ('le','la','de','et','est','un','dans'))) AS s_fr,
      |  len(list_filter(toks, x -> x IN ('de5','shi4','le5','zai4','he2','you3','wo3'))) AS s_zh
      |  FROM tk),
      |pr AS (SELECT doc_id, lang,
      |  CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
      |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
      |       WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
      |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
      |       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
      |       ELSE 'zh' END AS pred FROM sc)""".stripMargin

  private lazy val q38OracleSql: String = langIdPredSql +
    "\nSELECT doc_id, pred FROM pr ORDER BY doc_id"

  private lazy val q121OracleSql: String = langIdPredSql +
    """,
      |c AS (SELECT lang, pred, count(*) AS n FROM pr GROUP BY 1, 2),
      |ns AS (SELECT lang, sum(n) AS n_lang FROM c GROUP BY 1)
      |SELECT c.lang AS lang, c.pred AS pred, CAST(c.n AS BIGINT) AS n_docs,
      |  CAST((2 * 10000 * c.n + ns.n_lang) // (2 * ns.n_lang) AS BIGINT) AS share_e4
      |FROM c JOIN ns USING (lang) ORDER BY lang, pred""".stripMargin

  /** q121's logic over an arbitrary corpus — exposed so specs can pin
    * the agreement arithmetic on engineered label/text combinations.
    */
  def langAgreement(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pr = docs.select(col("lang"),
      TextOps.langId(TextOps.tokens(col("text"))).as("pred"))
    // ≤ #langs×(#langs+1)-row tail; feeds the totals AND the share
    // attach → persist (session clearCache contract)
    val c = pr.groupBy("lang", "pred").agg(count(lit(1)).as("n_docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ns = c.groupBy("lang").agg(sum(col("n_docs")).as("n_lang"))
    c.join(broadcast(ns), Seq("lang"))
      .select(col("lang"), col("pred"), col("n_docs"),
        expr("(2 * 10000 * n_docs + n_lang) div (2 * n_lang)")
          .as("share_e4"))
      .transform(Relational.smallSort(_, "lang", "pred"))
  }

  /** q120's logic over an arbitrary corpus — exposed so specs can pin
    * the bucket rule (MSB of df) and the pair-candidate identity on
    * engineered df distributions.
    */
  def shingleDfHistogram(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.expressions.NativeExprs
        .shingleMd5Prefixes(TextOps.tokens(col("text")), 3, 15)).as("s"))
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    df.groupBy(length(bin(col("df"))).cast(IntegerType).as("msb"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_postings"),
        sum(expr("df * (df - 1) div 2")).as("n_pair_candidates"))
      .transform(Relational.smallSort(_, "msb"))
  }

  private lazy val q120OracleSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
      |sh AS (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
      |SELECT CAST(length(bin(df)) AS INT) AS msb,
      |  count(*) AS n_shingles, CAST(sum(df) AS BIGINT) AS n_postings,
      |  CAST(sum(df * (df - 1) // 2) AS BIGINT) AS n_pair_candidates
      |FROM df GROUP BY 1 ORDER BY msb""".stripMargin

  /** q112's logic over an arbitrary corpus — exposed so specs can pin
    * hand-computed correlations (perfect linear = 1.0, a constant
    * column guards out) on engineered corpora.
    */
  def qualityLengthCorr(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val n = size(toks).cast(LongType)
    val hits = TextOps.stopwordHits(toks, qualityStopwords).cast(LongType)
    val q = docs
      .select(col("source"), col("n_chars").as("y"), n.as("n"),
        hits.as("hits"))
      .select(col("source"), col("y"),
        expr(s"(2 * 10000 * $qualityNumSql + $qualityDenSql) " +
          s"div (2 * $qualityDenSql)").as("x"))
    q.groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n") * col("sxx") > col("sx") * col("sx") &&
        col("n") * col("syy") > col("sy") * col("sy"))
      .select(col("source"), col("n").as("n_docs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType)) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy"))
            .cast(DoubleType))), 4).as("corr"))
      .transform(Relational.smallSort(_, "source"))
  }

  private lazy val q112OracleSql: String =
    """WITH tk AS (SELECT source, n_chars AS y,
      |    len(string_split(text, ' ')) AS n,
      |    len(list_filter(string_split(text, ' '),
      |        t -> t IN ('the','a','of','and','to','in','is'))) AS hits
      |    FROM documents),
      |q AS (SELECT source, y,
      |    (2 * 10000 * (200 * hits + n * least(200, n)) + 400 * n) // (2 * 400 * n) AS x
      |    FROM tk),
      |a AS (SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |      sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |      FROM q GROUP BY 1)
      |SELECT source, CAST(n AS BIGINT) AS n_docs,
      |  round((n * sxy - sx * sy) /
      |        (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) AS corr
      |FROM a WHERE n * sxx > sx * sx AND n * syy > sy * sy
      |ORDER BY source""".stripMargin

  /** q106's logic over an arbitrary corpus — exposed so specs can pin
    * the curve against independent per-threshold filters and the
    * doc-counts-at-max-decile rule on engineered corpora.
    */
  def neardupSweep(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val (wc, _) = graft.operators.Dedup.coShingledPairs(docs, "doc_id", "text")
    // the decile projection feeds the pair histogram AND the per-doc max
    // — persist (session clearCache contract; the pair core's shingle
    // frame is under the same contract)
    val pd = wc.select(col("i"), col("j"),
        expr("(10 * k) div (ni + nj - k)").cast(IntegerType).as("dec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ph = pd.groupBy("dec").agg(count(lit(1)).as("np"))
    val dh = pd.select(explode(array(col("i"), col("j"))).as("d"), col("dec"))
      .groupBy("d").agg(max(col("dec")).as("m"))
      .groupBy(col("m").as("dec")).agg(count(lit(1)).as("ndc"))
    // bucket dec satisfies every cut t ≤ min(dec, 10) — suffix sums as
    // an explode + equi groupBy over the ≤11-row histograms (q66)
    def suffix(h: DataFrame, vcol: String): DataFrame = h
      .filter(col("dec") >= 1)
      .select(explode(sequence(lit(1), least(col("dec"), lit(10)))).as("t"),
        col(vcol))
      .groupBy("t").agg(sum(col(vcol)).as(vcol))
    val grid = spark.range(1, 11).select(col("id").cast(IntegerType).as("t"))
    grid.join(broadcast(suffix(ph, "np")), Seq("t"), "left")
      .join(broadcast(suffix(dh, "ndc")), Seq("t"), "left")
      .select(col("t").as("t_tenths"), (col("t") / 10.0).as("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("ndc"), lit(0L)).as("n_docs"))
      .transform(Relational.smallSort(_, "t_tenths"))
  }

  private lazy val q106OracleSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS i FROM documents),
      |sh AS MATERIALIZED (SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS k
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pd AS (SELECT i, j, CAST((10 * k) // (ca.n + cb.n - k) AS INT) AS dec
      |  FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j),
      |ph AS (SELECT dec, count(*) AS np FROM pd GROUP BY 1),
      |dm AS (SELECT d, max(dec) AS m FROM
      |       (SELECT i AS d, dec FROM pd UNION ALL SELECT j AS d, dec FROM pd) GROUP BY 1),
      |dh AS (SELECT m AS dec, count(*) AS ndc FROM dm GROUP BY 1),
      |t AS (SELECT CAST(unnest(range(1, 11)) AS INT) AS t),
      |ps AS (SELECT t.t, coalesce(sum(ph.np), 0) AS n_pairs FROM t LEFT JOIN ph ON ph.dec >= t.t GROUP BY 1),
      |ds AS (SELECT t.t, coalesce(sum(dh.ndc), 0) AS n_docs FROM t LEFT JOIN dh ON dh.dec >= t.t GROUP BY 1)
      |SELECT ps.t AS t_tenths, ps.t / 10.0 AS threshold,
      |  CAST(ps.n_pairs AS BIGINT) AS n_pairs, CAST(ds.n_docs AS BIGINT) AS n_docs
      |FROM ps JOIN ds ON ds.t = ps.t ORDER BY t_tenths""".stripMargin

  /** q135's logic over an arbitrary corpus — exposed so specs can pin the
    * full driver-side replay (md5 draw + rational weight + half-up
    * expectations), the w = 1 always-keep identity, and layout
    * invariance.
    */
  /** Largest token count for which the keep test's Long arithmetic is
    * exact: `u * den` with u < 2^32 and den = 400·n stays below 2^63
    * only while n ≤ 2^63 / (2^32 · 400) ≈ 5.36e6 (the num side shares
    * the bound since num ≤ 400·n). Past it Spark's non-ANSI mode would
    * wrap SILENTLY, flipping keep decisions, while the DuckDB oracle
    * errors — so the engine fails loudly instead (review finding).
    */
  private[queries] val weightedSampleMaxTokens: Long =
    Long.MaxValue / (4294967296L * 400L) // 5 368 709

  def weightedSample(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nGuarded = when(
      size(col("toks")).cast(LongType) > lit(weightedSampleMaxTokens),
      raise_error(concat(
        lit("weightedSample: document exceeds the Long-safe token bound " +
          s"($weightedSampleMaxTokens); the 32-bit-draw keep test would " +
          "overflow and wrap silently. n="),
        size(col("toks")).cast(StringType))).cast(LongType))
      .otherwise(size(col("toks")).cast(LongType))
    val base = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("source"),
        nGuarded.as("n"),
        TextOps.stopwordHits(col("toks"), qualityStopwords)
          .cast(LongType).as("hits"),
        conv(substring(md5(col("text").cast(BinaryType)), 1, 8), 16, 10)
          .cast(LongType).as("u"))
      // the shared q66 rational spelling — the weight here IS the decile
      // gate's rational, not a re-derivation
      .select(col("source"), expr(qualityNumSql).as("num"),
        expr(qualityDenSql).as("den"), col("u"))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("u") * col("den") < col("num") * lit(4294967296L), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(expr("(2 * 10000 * num + den) div (2 * den)")).as("exp_kept_e4"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("exp_kept_e4"),
        expr("(2 * 10000 * n_kept + n_docs) div (2 * n_docs)")
          .as("kept_share_e4"))
      .transform(Relational.smallSort(_, "source"))
  }

  /** q33's blocked exact all-pairs cosine over an arbitrary embeddings
    * frame — the ONE quadratic entry in the catalog, exposed behind an
    * explicit ROW-COUNT BUDGET (`maxRows`, the textrank
    * `localWalkMaxEdges` pattern; VERDICT r10 item 5) so the O(n²/B)
    * plan cannot be launched on a corpus-sized table by accident: the
    * budget check rides the SAME metadata-cheap single agg pass that
    * already sizes the block grid (count + max over one int column —
    * parquet row-group stats, no extra scan) and throws
    * IllegalArgumentException past the budget, naming the LSH /
    * SemDeDup scale paths. At the default 1M-row budget the worst case
    * is ~n²/2 ≈ 5e11 comparisons — audit scale, a deliberate ceiling.
    *
    * Plan (unchanged from the oracled entry): norms precomputed once per
    * row, the codegen'd DotF32 dot, block = vec_id div B replicated so
    * every ordered block pair meets on exactly one (p, q) equi key — a
    * uniform shuffled equi-join, no BroadcastNestedLoopJoin, no skew.
    */
  def embeddingNeardupExact(embeddings: DataFrame, threshold: Double = 0.4,
                            blockSize: Int = 512,
                            maxRows: Long = 1000000L): DataFrame = {
    val B = blockSize
    val head = embeddings
      .agg(max(expr(s"vec_id div $B").cast(IntegerType)).as("kmax"),
        count(lit(1)).as("n")).collect()(0)
    val n = head.getLong(1)
    require(n <= maxRows,
      s"embeddingNeardupExact: $n rows exceeds the quadratic-plan budget " +
        s"($maxRows). This exact all-pairs entry is audit-scale by design " +
        "— use the LSH path (Dedup.embeddingPairs) or SemDeDup (q64) at " +
        "corpus scale, or raise maxRows explicitly.")
    val kmax = if (head.isNullAt(0)) 0 else head.getInt(0)
    val base = embeddings
      .withColumn("nrm", sqrt(VectorOps.dot(col("embedding"), col("embedding"))))
      .withColumn("blk", expr(s"vec_id div $B").cast(IntegerType))
    val a = base
      .withColumn("q", explode(sequence(col("blk"), lit(kmax))))
      .select(col("vec_id").as("i"), col("embedding").as("ea"),
              col("nrm").as("na"), col("blk").as("p"), col("q"))
    val b = base
      .withColumn("p", explode(sequence(lit(0), col("blk"))))
      .select(col("vec_id").as("j"), col("embedding").as("eb"),
              col("nrm").as("nb"), col("p"), col("blk").as("q"))
    a.hint("shuffle_hash") // block-pair keys need no sort order
      .join(b, Seq("p", "q"))
      .filter(col("i") < col("j"))
      .withColumn("cs", VectorOps.cosinePrenorm(
        VectorOps.dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cs") > threshold)
      .select(col("i"), col("j"), round(col("cs"), 4).as("score"))
      .orderBy("i", "j")
  }

  /** q131's logic over an arbitrary corpus — exposed so specs can pin the
    * clique-vs-star separation (the read the entry exists for), the
    * integer threshold boundary, and layout invariance on engineered
    * graphs.
    */
  def neardupDegree(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (wc, _) = graft.operators.Dedup.coShingledPairs(docs, "doc_id", "text")
    val p = wc
      .filter(lit(10000L) * col("k") >=
        lit(5000L) * (col("ni") + col("nj") - col("k")))
      .select(col("i"), col("j"))
    p.select(col("i").as("d")).unionAll(p.select(col("j").as("d")))
      .groupBy("d").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }
}
