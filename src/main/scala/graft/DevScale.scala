package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: 1× vs 10× scale-up smoke for the heavy operator family
  * (VERDICT r6 #4). Generates a DETERMINISTIC 10× corpus from sf0.1 —
  * replica r of every document suffixes each token with "_r<r>" (a
  * bijective token renaming, so within-replica near-dup/shingle structure
  * is IDENTICAL to the original while cross-replica jaccard is 0: the
  * problem itself scales linearly by construction, and the measurement
  * isolates whether the ENGINE does) — then times the heavy queries on
  * both. Embeddings get a deterministic per-replica perturbation (ids
  * offset by r·1e6, which preserves the mod-10 probe/batch splits).
  *
  * No Date.now/random anywhere — same bytes every run.
  */
object DevScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale10x"
    val spark = SparkBoot.session("4")
    // the documented scale lever: partitions grow with the data (the
    // fixed-8 artifact was ~1.2–1.3× above linear at 30× — BASELINE
    // round-9 sweep); the 100× run (VERDICT r12 item 6) sets 64
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    // off like the bench (sub-GB sweeps); SPARK_GRAFT_SCALE_AQE=1 turns it
    // on for runs that demonstrate the cluster-config behavior (r16: the
    // q21/q126 broadcast-boundary re-check at 100×)
    if (sys.env.get("SPARK_GRAFT_SCALE_AQE").contains("1"))
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_SCALE_REPLICAS overrides the default 10× (round 9: a 30×
    // run over the exact-pair family to observe the Σ(co-shingle) curvature
    // past the routine sweep — VERDICT r8 #7)
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    // completion marker, written AFTER every table lands and encoding
    // the replica count (review r15 round 2: any per-table existence
    // check — even on the last-written table — passes while that
    // table's overwrite is in flight, or when a REGENERATION over a
    // previously complete corpus dies early and the old table
    // survives; it also couldn't catch a replica-count mismatch)
    val corpusMarker = new java.io.File(s"$outDir/_graft_corpus_complete")
    def replicate(): Unit = {
      corpusMarker.delete() // regeneration in progress: gate closed
      val docs = Tables.documents(spark, sfDir)
      val reps = spark.range(replicas).select(col("id").as("r"))
      val docs10 = docs.crossJoin(reps).select(
        (col("doc_id") + col("r") * 1000000L).as("doc_id"),
        when(col("r") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(t, lit("_r"), col("r"))))).as("text"),
        col("lang"), col("source"))
      docs10.withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      val emb = Tables.embeddings(spark, sfDir)
      emb.crossJoin(reps).select(
          (col("vec_id") + col("r") * 1000000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x + (col("r") % 7).cast("float") * lit(0.001f) *
              ((i % 5).cast("float") - lit(2.0f))).as("embedding"),
          col("label"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      // events: user population grows 10x (ids offset per replica), the
      // observation window stays fixed — the realistic traffic-growth
      // shape for sessionize/funnel/retention. ts is kept as the RAW
      // nanos int64 (read with nanosAsLong before Tables.events converts)
      // so the replica parquet round-trips through the same Tables.events
      // contract as the driver corpus.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sfDir/events.parquet").crossJoin(reps).select(
          (col("event_id") + col("r") * 100000000L).as("event_id"),
          col("ts"),
          (col("user_id") + col("r") * 1000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      // TPC-H side (round 10: q126/q127 rows): 10x customers, each replica
      // keeping the original's full order history — per-customer (r, f, m)
      // metrics are replica-INVARIANT, so q126's reduced (value, count)
      // mark tables keep the ORIGINAL support while the bucketing pass
      // scans 10x customers (the aggregate-sized-marks property under
      // test); q127's per-order quantity sums are likewise invariant, so
      // the HAVING survivor set scales exactly 10x through the
      // group-then-join. Lineitem keys follow their orders.
      spark.read.parquet(s"$sfDir/orders.parquet").crossJoin(reps).select(
          (col("o_orderkey") + col("r") * 100000000L).as("o_orderkey"),
          (col("o_custkey") + col("r") * 10000000L).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      spark.read.parquet(s"$sfDir/lineitem.parquet").crossJoin(reps).select(
          (col("l_orderkey") + col("r") * 100000000L).as("l_orderkey"),
          col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      spark.read.parquet(s"$sfDir/customer.parquet").crossJoin(reps).select(
          (col("c_custkey") + col("r") * 10000000L).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
      val w = new java.io.PrintWriter(corpusMarker)
      try w.print(replicas.toString) finally w.close()
    }

    // q57: replica vocabularies are disjoint, so V, the bigram stream and
    // the distinct-bigram table all scale exactly 10x. q58: the bench side
    // (doc_id < 5, replica 0 only) stays FIXED while the corpus grows 10x —
    // the realistic eval-suite-vs-growing-crawl scaling. q59: sources are
    // unchanged, each source's support grows 10x disjoint tokens. q60:
    // same 10 labels over 10x members per centroid. q61: the K=256
    // codebook stays FIXED (replica-0 ids are the lowest) while the
    // scored corpus grows 10x — the realistic codebook-vs-corpus scaling.
    // q63: q31's inverted-index scaling, both directions derived in-plan.
    // q64: the FIXED K=256 codebook means 10x members per cluster and
    // ~100x within-cluster pairs — the q50 fixed-resolution story (K grows
    // with the corpus in production, keeping cluster sizes ~constant); the
    // smoke documents the fixed-K cost honestly. q66: the sweep is one
    // corpus pass + an 11-row reduction — should scale like the scan.
    // q67: replica token renaming keeps cross-replica jaccard at 0, so the
    // thresholded pair set scales exactly 10x while the source matrix stays
    // at #source^2 rows — pair generation (q31's index) should dominate.
    // q68: the thresholded pair set scales 10x with unchanged component
    // structure (renaming is bijective), so the CC loop runs the same
    // round count over 10x edges — pair generation should dominate.
    // q70: vocabulary grows 10x disjoint types; the (source, token)
    // distinct-pair table scales 10x, instances never shuffle. q30/q46/
    // q71 (events): 10x users, fixed window — per-user state stays
    // bounded, the user-keyed exchanges carry 10x keys.
    val heavy = Seq("q31_jaccard_pairs", "q32_minhash_lsh", "q50_batch_ann",
      "q54_dup_spans", "q55_curate", "q56_incremental_neardup",
      "q57_bigram_lm", "q58_contamination_report", "q59_source_drift",
      "q60_label_outliers", "q61_cluster_profile", "q63_containment",
      "q64_semdedup", "q66_quality_sweep", "q67_source_overlap",
      "q68_dup_clusters", "q70_vocab_ttr", "q30_sessionize", "q46_funnel",
      "q71_retention", "q73_span_ladder",
      // r8: BM25 (fixed |Q|, scan-dominated), quarantine closure and
      // survivorship (both track q68's pair+CC scaling — the bijective
      // renaming keeps component structure invariant per replica),
      // k-means at FIXED K over 10x vectors (the q50 fixed-resolution
      // story: production grows K with the corpus), novelty histogram
      // (tracks q54's shingle-window scaling)
      "q74_bm25", "q75_quarantine_clusters", "q76_cluster_reps",
      "q77_kmeans_refine", "q78_novelty_deciles",
      "q79_dup_aware_sample",
      // r9 third batch: md5-LSH (constant-width band rows per doc — the
      // candidate join should scale ~linearly; the signature pass is the
      // per-byte term), label propagation (q68's pair+CC economics + 3
      // bounded rounds), leakage audit (one digest-keyed join of two
      // corpus-sized sides — tracks q54's shingle-exchange band), event
      // transitions (10x users, one user-keyed window), BPE merges (the
      // vocab table scales 10x with disjoint replica vocabularies; each
      // round's pair table likewise — the argmax stays 1 row)
      "q83_lsh_md5", "q84_label_prop", "q86_split_leakage",
      "q87_event_transitions", "q88_bpe_merges",
      // r9 fourth batch: estimator audit (pair-participant signatures —
      // tracks the pair family), snapshot diff (id-keyed digest join,
      // scan-bound)
      "q89_minhash_estimate", "q91_snapshot_diff",
      // r9 fifth batch: BPE encode (training scales like q88; the encode
      // join stays vocabulary-sized — replica renaming grows the vocab
      // 10x), chunk dedup (one digest-keyed window exchange — tracks the
      // corpus-scan band; replica suffixes keep chunks doc-local so the
      // dup mass scales linearly), boilerplate screen (one
      // (source, digest) exchange of per-doc-distinct digests)
      "q92_bpe_encode", "q94_chunk_dedup", "q95_boilerplate",
      // r9 sixth batch: dedup yield (md5 window + the pair+CC family on
      // exact survivors — tracks q76's scaling); PIT backfill (10x users
      // → 10x window groups and a 10x-user grid, calendar days fixed)
      "q96_dedup_yield", "q97_pit_features",
      // r9 session 4: session itemsets (10x users → 10x sessions through
      // one user-keyed exchange; the pair table stays #types²), length KS
      // (replica token suffixes lengthen docs, so distinct lengths — and
      // the #sources×#lens grid — grow ~10x alongside the (source, len)
      // reduction; still aggregate-sized), length clip (one source-keyed
      // exchange over 10x rows), centroid drift (10x vectors reduce into
      // the same (label × dim) table)
      "q98_session_itemsets", "q99_length_ks", "q100_length_clip",
      "q101_centroid_drift",
      // r9 session 4 batch 2: the Gini pair (one keyed exchange over 10x
      // rows / 10x (type, user) keys), deciles (the constant-9 explode
      // scales with the scan), split parity (corpus scan → a ≤33-row
      // tail; replica texts re-hash so the split histogram stays ~80/10/10)
      "q102_length_gini", "q103_split_parity", "q104_length_deciles",
      "q105_activity_gini",
      // r9 session 4 batch 3: the threshold sweep rides the shared pair
      // core (q31's scaling band); everything after the decile
      // projection is ≤11-row
      "q106_neardup_sweep",
      // r9 session 4 batch 4: gap deciles + value percentiles (one
      // type-keyed exchange over 10x rows; #types fixed so per-group
      // sort mass grows 10x — the window band), hour profile and lang
      // mix (one reduction each to a bounded table)
      "q107_gap_deciles", "q108_hour_profile", "q109_lang_mix",
      "q110_value_percentiles",
      // r9 session 4 batch 5: rules ride the q98 session base; the
      // correlation is a five-moment map-side reduction
      "q111_session_rules", "q112_quality_length_corr",
      // r9 session 5: time split + stickiness (each ONE full-data
      // exchange into a (type, user, day)-grain pre-reduction over 10x
      // users; the day/CDF tails stay calendar-bounded), conversion lag
      // (one user exchange, conditional mins map-side combined), label
      // confusion (10x vectors reduce into the same (label × dim) table
      // — the pair self-join is corpus-size-invariant), dup quality
      // bias (the pair+CC family + one corpus scan for deciles — tracks
      // q76/q96), norm audit (per-row local folds reduce to the
      // (label, norm²) count table; replica perturbation widens the
      // distinct-norm support ~10x, still aggregate-sized)
      "q113_time_split", "q114_stickiness", "q115_conversion_lag",
      // r15 (VERDICT r14 #2, the event/sessionize family at 100×): the
      // routed gap-deciles twin measures alongside the exact form so the
      // ledger shows the ordered-pass cost AND its catalog alternative
      // at the same replica count
      "q107b_gap_deciles_scalable",
      "q116_label_confusion", "q117_dup_quality_bias", "q118_norm_audit",
      // r9 session 5 batch 3: df histogram (ONE shingle exchange to df
      // — the q31 band's first half without the self-join; replica
      // renaming grows the distinct-shingle table 10x), lang agreement
      // (scan-bound narrow projection to a bounded matrix)
      "q120_shingle_df_histogram", "q121_lang_agreement",
      // the MAD screen rides the q100/q104 lenCum band (one source-keyed
      // exchange over 10x rows; replica token suffixes widen the
      // distinct-length support, both medians stay count-table-sized)
      "q122_length_mad",
      // dim variance (10x vectors reduce map-side to the same #dims
      // rows), hour burst (10x users raise per-hour counts, the
      // (type, hour) table stays calendar-bounded)
      "q123_dim_variance", "q124_hour_burst",
      // round 10 (the r9-tail ledger debt): token entropy (replica
      // vocabularies are disjoint so the (source, token, tf) support
      // grows 10x; the moment rollup stays #sources), RFM (10x customers
      // through the bucketing scan; mark tables keep the original
      // support — replica metrics are invariant), big orders (10x
      // lineitem through the group-then-join; survivors scale 10x)
      "q125_token_entropy", "q126_rfm_segments", "q127_big_orders",
      // round 10 session 2: LSH fidelity rides BOTH measured bands at
      // once (q31's posting join for truth + q83's band join for
      // candidates; the rung fold is one pass over the pair set, the
      // tail is 4 rows), Zipf slope rides q125's support-table band
      // (10x disjoint vocab through the per-source rank window, moments
      // reduce to #sources). ANN recall is the DECLARED quadratic
      // smoke: fixed everyNth (10x queries) × 10x corpus = ~100x truth
      // scoring and ~100x routed candidates at fixed K — the q64
      // fixed-resolution story squared; production pins the ABSOLUTE
      // query-sample size and grows K with the corpus, so the smoke
      // documents the fixed-rate cost honestly rather than hiding it
      "q128_lsh_fidelity", "q129_zipf_slope", "q130_ann_recall",
      // round 10 session 2 batch 2: degree histogram (the thresholded
      // pair set scales 10x with unchanged per-replica topology — the
      // degree reduction and its counts-of-counts tail stay pair- and
      // support-sized), cell balance (fixed K=64 over 10x vectors: the
      // q64/q77 fixed-resolution story — assignment scales with the
      // corpus, everything after the ≤K-row reduction is constant)
      "q131_neardup_degree", "q132_cell_balance",
      // r14 (VERDICT r13 #3, the vector/ANN family at 100×): IVF route —
      // FIXED trained codebook (replica-0 ids), queries grow with the
      // corpus (vec_id % 100), members-per-probe grow with cluster size:
      // candidate pairs scale ~(replicas)² of the 1× count at fixed K —
      // the fixed-resolution cost documented honestly (production grows
      // K with the corpus and pins the query-sample size; the retuned
      // q130 block below shows that lever). q64 (already listed above)
      // is the Σc² premise's direct probe: fixed K=256, within-cluster
      // pairs grow ~replicas², the shuffle meter confirms exchanges
      // carry only the reduced survivor rows.
      "q81_ivf_route",
      // skip-gram PMI: the pair stream is window×(q57's bigram band) —
      // 4 narrow zips per doc, disjoint replica vocab grows the pair
      // support 10x; counts map-side combine, the cut is TakeOrdered
      "q133_skipgram_pmi",
      // incremental LSH: batch and corpus both scale 10x but candidates
      // stay batch×corpus-bounded (replica renaming keeps cross-replica
      // jaccard 0, so the candidate set scales ~10x with the batch —
      // the q83 constant-width band economics at the ingest boundary)
      "q134_lsh_incremental",
      // weighted sample: one narrow scan projection map-side reducing to
      // #sources rows — should track the raw scan band
      "q135_weighted_sample",
      // round 11 ledger additions (previously unmeasured): textrank —
      // disjoint replica vocabularies grow the vocab AND the reduced edge
      // table 10x; past localWalkMaxEdges the walk routes to the shuffled
      // bounded-round path (the budget lever under test); measured 1.52x.
      // LTV profile — 10x customers through one orders exchange; per-
      // customer ltv is replica-INVARIANT under this corpus's replication
      // (the q126 mark-table property), so the (seg, ltv) support stays
      // original while counts scale — measured 1.24x. NOTE the honest
      // caveat: under REAL customer growth ltv support grows ~linearly
      // and the per-seg cum window becomes the q107/q110 ordered-pass
      // class; the q126 GK routing pattern (percentile_approx on p50/p90)
      // is the documented lever if that regime arrives
      "q82_textrank", "q119_ltv_profile",
      // round 16 (VERDICT r15 #1, the orders/lineitem relational lineage
      // at 100×): TPC-H Q1 — 100x lineitem through ONE map-side-combined
      // hash aggregate into the fixed (returnflag × linestatus) table;
      // the exchange should carry only partials (aggregate-sized, flat
      // in replicas). Top-k revenue — 100x customers ⋈ 100x orders on
      // the replica-offset custkey (join exchange linear in rows), then
      // TakeOrderedAndProject keeps per-partition top-10s (driver merge
      // is partitions×10, never data-sized); per-customer revenue is
      // replica-invariant so the top-10 stays the original set with
      // replica-0 ids winning the tie-break.
      "q13_tpch_q1", "q21_topk")

    // shuffle meter (VERDICT r12 item 6: the 100× ledger row records
    // wall + PEAK SHUFFLE BYTES — the cliff detector a wall time alone
    // can't be: a superlinear pair blow-up shows in the largest single
    // exchange long before it shows in the median wall).
    object meter extends org.apache.spark.scheduler.SparkListener {
      private val byStage = scala.collection.mutable.Map[Int, Long]()
      // the listener-bus thread and the driver thread (reset/peak/total)
      // both touch the map — EVERY access synchronizes (r13 review: a
      // one-sided lock is no lock)
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val w = Option(te.taskMetrics)
          .map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        if (w > 0) synchronized {
          byStage(te.stageId) = byStage.getOrElse(te.stageId, 0L) + w
        }
      }
      def reset(): Unit = synchronized { byStage.clear() }
      def peak: Long = synchronized {
        if (byStage.isEmpty) 0L else byStage.values.max }
      def total: Long = synchronized { byStage.values.sum }
    }
    spark.sparkContext.addSparkListener(meter)

    def time(dir: String, name: String): (Double, Long) = {
      val fn = SparkEntry.queries(name)
      var rows = 0L
      var shuffle = (0L, 0L) // (peak single-stage write, total write)
      val ts = (1 to 3).map { _ =>
        meter.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        // listener bus is async — drain it DETERMINISTICALLY before the
        // read (r14 advice: a fixed 500 ms sleep silently under-reported
        // tail TaskEnd events on a loaded host, corrupting the 100×
        // ledger's peak-exchange cliff detector)
        org.apache.spark.GraftListenerDrain.drain(spark.sparkContext, 30000L)
        shuffle = (meter.peak, meter.total)
        rows = df.count()
        spark.catalog.clearCache()
        s
      }.sorted
      println(f"[scale]   $name%-24s $dir%-24s shuffle peak=${shuffle._1 / 1048576.0}%9.2f MiB total=${shuffle._2 / 1048576.0}%9.2f MiB")
      (ts(1), rows)
    }

    // replica generation is DETERMINISTIC (same bytes every run), so an
    // existing corpus can be reused across same-replica sessions;
    // SPARK_GRAFT_SCALE_REUSE=1 skips the ~4-min 100× regeneration when
    // the target dir already holds the events table (r15 iteration aid —
    // the caller owns the replica-count match)
    // value-checked (review r15: contains() made REUSE=0 reuse too) and
    // keyed on the completion marker — written after the last table
    // lands, deleted before regeneration starts, and matched against
    // THIS run's replica count — so neither a torn generation nor a
    // different-replica corpus ever passes the gate
    if (sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") &&
        corpusMarker.exists() && {
          val src = scala.io.Source.fromFile(corpusMarker)
          try src.mkString.trim == replicas.toString finally src.close()
        }) {
      println(s"[scale] reusing existing ${replicas}x corpus at $outDir")
    } else {
      println(s"[scale] generating ${replicas}x corpus at $outDir")
      replicate()
    }
    // optional third arg+ = run only the named queries (iteration aid)
    val selected =
      if (args.length > 2) heavy.filter(args.drop(2).toSet) else heavy
    selected.foreach { q =>
      val (t1, r1) = time(sfDir, q)
      val (t10, r10) = time(outDir, q)
      println(f"[scale] $q%-24s 1x=${t1}%7.3f s ($r1%d rows)  ${replicas}%dx=${t10}%7.3f s ($r10%d rows)  ratio=${t10 / t1}%5.2f")
    }

    // r14 ANN production-lever block (VERDICT r13 #3): q130's recall
    // audit brute-forces queries × corpus for its ground truth, so the
    // as-is form is quadratic BY DEFINITION at fixed everyNth. The
    // production lever pins the ABSOLUTE query-sample size (everyNth
    // grows with the corpus) — truth scoring then scales linearly with
    // the corpus. Same lever shown for q81's route batch. Enabled by
    // SPARK_GRAFT_SCALE_ANN=1 (runs on the replica corpus only).
    if (sys.env.get("SPARK_GRAFT_SCALE_ANN").contains("1")) {
      import graft.queries.Curation
      def timeDf(label: String, mk: => DataFrame): Unit = {
        val ts = (1 to 3).map { _ =>
          meter.reset()
          val t0 = System.nanoTime()
          mk.write.format("noop").mode("overwrite").save()
          val s = (System.nanoTime() - t0) / 1e9
          org.apache.spark.GraftListenerDrain.drain(spark.sparkContext, 30000L)
          println(f"[scale]   $label%-24s shuffle peak=${meter.peak / 1048576.0}%9.2f MiB total=${meter.total / 1048576.0}%9.2f MiB")
          spark.catalog.clearCache()
          s
        }.sorted
        println(f"[scale] $label%-32s ${replicas}%dx=${ts(1)}%7.3f s")
      }
      def quantized(dir: String) =
        Curation.quantizeVectors(Tables.embeddings(spark, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      timeDf(s"q130 retuned everyNth=${20L * replicas}",
        Curation.ivfRecall(quantized(outDir), everyNth = 20L * replicas))
      timeDf(s"q81 retuned everyNth=${100L * replicas}",
        Curation.ivfRoute(quantized(outDir), everyNth = 100L * replicas))
    }

    // q21/q126 plan pin above the broadcast boundary (r17, VERDICT r16
    // #5). What the pin ASSERTS is the scale-invariant load-bearing
    // shapes: q21's top-10 must stay TakeOrderedAndProject with no
    // global Sort materialization (the quiet O(n log n) regression a
    // join-strategy change could smuggle in), and q126's three 1-row
    // mark arrays must still broadcast (explicit broadcast() hints over
    // proven-1-row aggregates; replica count cannot grow them). The
    // JOIN strategy itself is logged, not asserted: writing this pin
    // CORRECTED the r16 narrative — the static planner scales the
    // customer scan's stats by the Project's column-width ratio, so the
    // 2-column (c_custkey, c_name) slice of the 16 MB 100× customer
    // table estimates ~3.6 MB and legitimately KEEPS broadcasting above
    // the r16 text's claimed flip point; the 160.6 MiB 100× peak is the
    // partial-agg exchange densified by replica-key entropy (the q119
    // mechanism), not join input (BASELINE round-17 correction, with
    // the measurement). Either join strategy is correct when it follows
    // the estimate — the pin's job is the shapes that must not move.
    // Static plans only, so the pin is free; skipped under AQE (the
    // adaptive wrapper hides the final shape until execution). Runs by
    // default and under an explicit `planpin` selection token.
    if ((args.length <= 2 || args.drop(2).contains("planpin")) &&
        !sys.env.get("SPARK_GRAFT_SCALE_AQE").contains("1")) {
      import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
      def executed(name: String) =
        SparkEntry.queries(name)(spark, outDir).queryExecution.executedPlan
      val q21 = executed("q21_topk")
      val topk = q21.collect { case t: TakeOrderedAndProjectExec => t }
      val globalSorts = q21.collect { case s: SortExec if s.global => s }
      require(topk.nonEmpty && globalSorts.isEmpty,
        s"q21 plan lost TakeOrderedAndProject at ${replicas}x " +
          s"(topk=${topk.size}, globalSorts=${globalSorts.size}):\n$q21")
      val q21join = q21.collect {
        case _: BroadcastHashJoinExec => "broadcast"
        case _: SortMergeJoinExec => "sort-merge"
        case _: ShuffledHashJoinExec => "shuffled-hash"
      }
      val q126 = executed("q126_rfm_segments")
      val marks = q126.collect { case b: BroadcastExchangeExec => b }
      require(marks.size >= 3,
        s"q126 mark tables stopped broadcasting at ${replicas}x " +
          s"(${marks.size} < 3):\n$q126")
      println(s"[scale] plan pin @${replicas}x: q21 TakeOrderedAndProject " +
        s"kept, no global sort, join=${q21join.mkString(",")}; " +
        s"q126 mark broadcasts=${marks.size} (>=3)")
    }

    // q107/q110 ROUTED scale paths (VERDICT r10 #2): the shipped
    // stitched-lag + GK forms must break the 4–6× per-type-ordered-pass
    // scaling the exact entries document — expect ~scan-linear ratios.
    // r14: this block and the q50/q69 retunes below are SKIPPED when an
    // explicit query selection was passed (the blocks ran unconditionally
    // and cost minutes on targeted iteration runs); r17 adds the
    // `gk_routed` selection token so the 100× GK rows (VERDICT r16 #7)
    // can run without the full heavy sweep, and meters the exchanges so
    // the ledger row carries wall + peak shuffle like the main table.
    if (args.length <= 2 || args.drop(2).contains("gk_routed")) {
      def timeDf(mk: String => DataFrame, dir: String): (Double, Long) = {
        // the ledger row must be ONE rep's (wall, peak) pair — pairing
        // the median wall with the last rep's peak could report a
        // wall/peak combination that never co-occurred (r17 review)
        val reps = (1 to 3).map { _ =>
          meter.reset()
          val t0 = System.nanoTime()
          mk(dir).write.format("noop").mode("overwrite").save()
          val s = (System.nanoTime() - t0) / 1e9
          org.apache.spark.GraftListenerDrain.drain(spark.sparkContext, 30000L)
          val p = meter.peak
          spark.catalog.clearCache()
          (s, p)
        }.sortBy(_._1)
        reps(1)
      }
      Seq[(String, String => DataFrame)](
        ("q107 routed(scalable)", d => graft.queries.Analytics
          .gapDeciles(Tables.events(spark, d), scalable = true)),
        ("q110 routed(approx)", d => graft.queries.Analytics
          .valuePercentiles(Tables.events(spark, d), approx = true))
      ).foreach { case (name, mk) =>
        val (t1, p1) = timeDf(mk, sfDir)
        val (t10, p10) = timeDf(mk, outDir)
        println(f"[scale] $name%-24s 1x=${t1}%7.3f s (peak=${p1 / 1048576.0}%.2f MiB)  " +
          f"${replicas}%dx=${t10}%7.3f s (peak=${p10 / 1048576.0}%.2f MiB)  ratio=${t10 / t1}%5.2f")
      }
    }

    // q50 with the bucket count RETUNED for the denser corpus (the
    // production lever: planes grow with log(corpus) to hold per-bucket
    // occupancy constant; at fixed resolution, 10x corpus x 10x probes
    // necessarily multiplies candidate pairs ~100x). nPlanes follows the
    // replica count: 11 at 10x, +log2(replicas/10) beyond it.
    if (args.length <= 2) {
      import graft.operators.Ann
      val nPlanes = 11 + math.max(0,
        math.round(math.log(replicas / 10.0) / math.log(2)).toInt)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val e = Tables.embeddings(spark, outDir)
        Ann.lshTopKBatch(e, e.filter(col("vec_id") % 10 === 0), "vec_id",
            "embedding", k = 5, nPlanes = nPlanes)
          .write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        s
      }.sorted
      println(f"[scale] q50 retuned nPlanes=$nPlanes%d ${replicas}%dx=${ts(1)}%7.3f s")
    }

    // q69 with the summary capacity RETUNED for the denser vocabulary
    // (the m lever, same story as q50's planes): the replica renaming
    // grows the near-uniform token vocabulary ~linearly with `replicas`
    // (310 types at 10×), so the catalog's m=48 summary cannot certify a
    // top-25 — the operator THROWS by design (uniform data has no heavy
    // hitters) — and m must track the replica count (512 certifies at
    // 10×; a 30× run with m=512 < vocab correctly refuses too, bit us in
    // r12). In production m grows with the acceptable N/m error bound,
    // not with the vocabulary.
    if (args.length <= 2) {
      import graft.operators.HeavyHitters
      val docs10 = Tables.documents(spark, outDir)
      val threw =
        try { HeavyHitters.exactTopK(docs10, "text", k = 25, m = 48); false }
        catch { case _: IllegalArgumentException => true }
      println(s"[scale] q69 m=48 on ${replicas}x uniform vocab refused (expected): $threw")
      val m = 512 * ((replicas + 9) / 10) // 512 per 10 replicas of vocab
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        HeavyHitters.exactTopK(docs10, "text", k = 25, m = m)
          .write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        s
      }.sorted
      println(f"[scale] q69 retuned m=$m%d    ${replicas}%dx=${ts(1)}%7.3f s")
    }
    spark.stop()
  }
}
