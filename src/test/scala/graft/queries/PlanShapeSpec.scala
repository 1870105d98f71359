package graft.queries

import graft.{SparkSpec, SpecHelpers, Tables}

/** Physical-plan audits (the "explain and iterate" discipline): these pin
  * the plan shapes that matter at 100 TB — pushdown reaching the scan,
  * dimension broadcasts, top-k short-circuits, map-side partial aggregation,
  * and the absence of accidental nested-loop joins. A regression here is a
  * scale bug even when sf0.01 results stay correct.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    Catalog.byName(name).build(spark, sf0001).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q01 — filter and projection reach the parquet reader") {
    val p = plan("q01_scan_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate,"), p)
    // parquet isAdjustedToUTC=false → Spark 4 reads TIMESTAMP_NTZ (UTC
    // session TZ keeps literal comparisons oracle-consistent)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate:timestamp_ntz>"), p)
  }

  test("q05 — explicit broadcasts produce BroadcastHashJoin, no shuffle of dims") {
    val p = plan("q05_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q13 — hash aggregation with map-side partials") {
    val p = plan("q13_tpch_q1")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("q21 — top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q21_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q07/q08 — semi/anti joins stay semi/anti in the physical plan") {
    assert(plan("q07_semi_join").contains("LeftSemi"), "semi")
    assert(plan("q08_anti_join").contains("LeftAnti"), "anti")
  }

  test("q10/q11 — theta residuals ride the equi join; no nested loop") {
    Seq("q10_theta_join", "q11_range_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q degenerated to a nested loop:\n$p")
    }
  }

  test("q28 — dedup is a map-side-combinable min aggregate, no window sort (r13)") {
    val p = plan("q28_dedup_exact")
    // the r13 swap: NO window machinery — a partial/final HashAggregate
    // pair over the md5 key, so only (hash, min-id) partials shuffle and
    // nothing event-grain is sorted (the final orderBy is the declared
    // output sort, not the dedup)
    assert(!p.contains("row_number"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
    // the exchange hashes on the md5 grouping key (Catalyst rewrites the
    // _h alias to _groupingexpression)
    assert(p.contains("hashpartitioning(_groupingexpression") ||
      p.contains("hashpartitioning(_h"), p)
  }

  test("de-sorted family — q28/q97/exactKeepMin: no Sort or Window over scan-grain data (VERDICT r13 #7)") {
    // the r13 plan swaps replaced corpus-wide window sorts with
    // map-side-combinable min/min_by/max_by aggregates. This pin makes
    // the shape a contract: in each plan, EVERY Sort and Window node
    // must sit above a reducing Aggregate — a refactor that
    // reintroduces a row_number()/sort over the raw event or document
    // stream puts a Sort/Window directly over the scan and fails here.
    // (q97's forward-fill window over the (user, day) calendar grid and
    // q28's declared output orderBy both ride above their aggregates,
    // so they pass structurally, not by allowlist.)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Sort, Window => LWindow}
    def audit(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val opt = df.queryExecution.optimizedPlan
      // EVERY path from the node to a leaf must pass through an
      // Aggregate (r14 review: a collectFirst-anywhere check let a sort
      // over Join(rawScan, smallAggregatedSide) pass because the small
      // side carried the aggregate — exactly the regression shape the
      // pin exists to block)
      def reducedPhys(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            reducedPhys(a.inputPlan)
          case leaf if leaf.children.isEmpty => false
          case other => other.children.forall(reducedPhys)
        }
      def reduced(p: LogicalPlan): Boolean = p match {
        case _: Aggregate => true
        // a persisted reduced frame appears as an InMemoryRelation LEAF —
        // the aggregate lives inside its cached physical plan
        case i: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          reducedPhys(i.cachedPlan)
        case leaf if leaf.children.isEmpty => false
        case other => other.children.forall(reduced)
      }
      val rawSorts = opt.collect {
        case s: Sort if !reduced(s.child) => s }
      val rawWindows = opt.collect {
        case w: LWindow if !reduced(w.child) => w }
      assert(rawSorts.isEmpty,
        s"$name sorts scan-grain data:\n${rawSorts.map(_.simpleString(60))}")
      assert(rawWindows.isEmpty,
        s"$name windows scan-grain data:\n${rawWindows.map(_.simpleString(60))}")
    }
    audit("q28_dedup_exact", Catalog.byName("q28_dedup_exact").build(spark, sf0001))
    audit("q97_pit_features", Catalog.byName("q97_pit_features").build(spark, sf0001))
    val dedup = graft.operators.Dedup.exactKeepMin(
      Tables.documents(spark, sf0001), "doc_id", "text")
    audit("Dedup.exactKeepMin", dedup)
    // and the aggregates stay map-side combinable (partial pass present)
    val p28 = plan("q28_dedup_exact")
    assert(p28.contains("partial_min"), p28)
    val pk = dedup.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(pk.contains("min_by") && !pk.contains("Window"), pk)
  }

  test("catalog-wide audit — nested loops and global windows only where declared") {
    // q22b is the single declared GENUINE cross join (guarded, 5×5×5
    // bounded). Any OTHER nested-loop/cartesian physical node must be a
    // scalar attach: every non-equi join in the optimized logical plan has
    // a side the optimizer PROVES is ≤1 row (keyless aggregate / literal
    // single-row frame → maxRows == 1). This is structural, not a name
    // allowlist — a future 1-row scalar attach (quantile boundaries, probe
    // vector, corpus totals …) passes automatically, while a real unkeyed
    // join of two unbounded relations still fails here before any bench
    // regresses.
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // q130's exact-truth side is DEFINITIONALLY flat search: the broadcast
    // query sample × the corpus scan (a recall audit that didn't brute-force
    // its ground truth wouldn't be ground truth). Bounded by the sample —
    // the production shape at any corpus size — and the query batch is the
    // broadcast side, so the corpus streams exactly once.
    val genuineCrossOk = Set("q22b_crossjoin", "q130_ann_recall")
    // mirrors ExtractEquiJoinKeys: only a TOP-LEVEL conjunct of the form
    // leftSideExpr = rightSideExpr yields a hash key. An EqualTo under an
    // Or (a.x=b.y OR a.z=b.w) or a same-side equality gives Catalyst
    // nothing to hash on — counting those would let a genuine unbounded
    // nested loop slip past this audit.
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other     => Seq(other)
    }
    def hasEquiKeys(j: Join): Boolean = {
      def oneSideEach(l: Expression, r: Expression): Boolean = {
        val (ll, lr) = (l.references.subsetOf(j.left.outputSet),
                        l.references.subsetOf(j.right.outputSet))
        val (rl, rr) = (r.references.subsetOf(j.left.outputSet),
                        r.references.subsetOf(j.right.outputSet))
        (ll && rr) || (lr && rl)
      }
      j.condition.exists(conjuncts(_).exists {
        case EqualTo(l, r)       => oneSideEach(l, r)
        case EqualNullSafe(l, r) => oneSideEach(l, r)
        case _ => false
      })
    }
    // q20 is the DECLARED exact global ntile (oracle form; q20b is its
    // scale twin). q126's cum windows run over each metric's REDUCED
    // (value, count) mark table — tiny for recency/frequency,
    // ~#customers rows for near-distinct monetary, where the entry's
    // doc names q72's GK sketch as the 100 TB mark path (the q110
    // exact-vs-sketch contract). No other query gets an unpartitioned
    // window.
    val globalWindowOk = Set("q20_ntile", "q126_rfm_segments")
    val offendersNl = scala.collection.mutable.ArrayBuffer.empty[String]
    val offendersWin = scala.collection.mutable.ArrayBuffer.empty[String]
    // scan fanout (ScanFanoutRule) reaches only per-row kernels over the
    // corpus tables: an entry fans when any plan it executes or returns
    // holds a REPARTITION_BY_NUM exchange, and one that reads neither
    // documents nor embeddings never may — the star-schema and events
    // queries measured slower under table-level fanout
    val fanned = scala.collection.mutable.ArrayBuffer.empty[String]
    val offendersFan = scala.collection.mutable.ArrayBuffer.empty[String]
    def readsCorpus(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      SpecHelpers.deepNodes(p).exists {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.rootPaths.exists(r =>
            Set("documents.parquet", "embeddings.parquet")(r.getName))
        case _ => false
      }
    // q55 is the COMPOSITE pipeline entry: its builder executes curate()
    // eagerly and returns a 1-row local accounting frame, so linting its
    // "plan" would inspect a LocalRelation and prove nothing — and would
    // run the whole pipeline as a side effect. Its component operators'
    // plans are audited through their own entries (q28/q32/q44-shapes)
    // and CorpusPipelineSpec's bounded-state/persist assertions; declare
    // the exemption here instead of letting it pass vacuously.
    Catalog.all.filterNot(_.name == "q55_curate").foreach { q =>
      spark.catalog.clearCache()
      val (qe, eager) = SpecHelpers.executedPlans(spark) {
        val qe = q.build(spark, sf0001).queryExecution
        qe.executedPlan
        qe
      }
      val plans = qe.executedPlan +: eager
      if (plans.exists(SpecHelpers.fanouts(_) > 0)) {
        fanned += q.name
        if (!plans.exists(readsCorpus)) offendersFan += q.name
      }
      val physical = qe.executedPlan.toString
      if ((physical.contains("BroadcastNestedLoopJoin") ||
           physical.contains("CartesianProduct")) &&
          !genuineCrossOk(q.name)) {
        val unbounded = qe.optimizedPlan.collect {
          case j: Join if !hasEquiKeys(j) &&
              !j.left.maxRows.exists(_ <= 1L) &&
              !j.right.maxRows.exists(_ <= 1L) => j
        }
        if (unbounded.nonEmpty)
          offendersNl += s"${q.name} (${unbounded.size} non-scalar nested loop(s))"
      }
      val hasGlobalWindow = qe.optimizedPlan.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.nonEmpty
      if (hasGlobalWindow && !globalWindowOk(q.name)) offendersWin += q.name
    }
    spark.catalog.clearCache()
    assert(offendersNl.isEmpty, s"undeclared nested-loop joins in: $offendersNl")
    assert(offendersWin.isEmpty, s"undeclared global windows in: $offendersWin")
    assert(offendersFan.isEmpty, s"fanout outside the corpus tables in: $offendersFan")
    assert(fanned.toSet == PlanShapeSpec.fanned,
      s"fanned set drifted — added: ${fanned.toSet -- PlanShapeSpec.fanned}, " +
        s"lost: ${PlanShapeSpec.fanned -- fanned}")
  }

  test("q45 — the document-frequency join is never a FORCED broadcast") {
    // a web-scale token vocabulary is heavy-tailed and effectively
    // unbounded, so a broadcast() hint on the df side would OOM at 100 TB.
    // Only provably-1-row sides (the corpus-size scalar) may carry a
    // broadcast hint; the tf⋈df join must be left to AQE's runtime sizing.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    val qe = Catalog.byName("q45_tfidf").build(spark, sf0001).queryExecution
    val forced = qe.optimizedPlan.collect {
      case j: Join =>
        Seq((j.hint.leftHint, j.left), (j.hint.rightHint, j.right)).collect {
          case (Some(h), side)
              if h.strategy.contains(BROADCAST) &&
                !side.maxRows.exists(_ <= 1L) => j.simpleString(40)
        }
    }.flatten
    assert(forced.isEmpty, s"forced broadcast of an unbounded side: $forced")
  }

  test("q33 — blocked self-join: equi join on block pairs, no nested loop") {
    val p = plan("q33_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q33 degenerated to a nested loop:\n$p")
    assert(p.contains("dot_f32"), p)                 // native expression in the plan
  }

  test("q31/q33 — hash-keyed self-joins plan ShuffledHashJoin, not sort-merge") {
    // posting/block keys are hash-derived with no downstream sort order; a
    // sort-merge join would pay two useless O(n log n) sorts (r2 bench: 2×)
    Seq("q31_jaccard_pairs", "q33_embedding_neardup").foreach { q =>
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q lost its hash join:\n$p")
    }
  }

  test("q31 — pair core: co-partitioned cached self-join, broadcast count attach") {
    // the round-9 measured-best shape (DevQ31): the shingle frame
    // repartitions by the digest BEFORE the persist, so the posting
    // self-join consumes InMemoryTableScan's HashPartitioning(s) with NO
    // runtime exchange above either side, and the doc-count table
    // BROADCASTS into the pair stream instead of shuffling the
    // pre-threshold pair set twice. AQE OFF for the audit — the bench
    // regime; under AQE the cached plan reports unknown partitioning and
    // EnsureRequirements re-shuffles both sides (AQE-on deployments get
    // the same effect back at runtime via its coalescing instead)
    // drop any cache entry an earlier (AQE-on) test built for the same
    // logical plan — cache lookup is by plan equality and would resurrect
    // the AQE-compiled relation
    spark.catalog.clearCache()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val executed =
      try Catalog.byName("q31_jaccard_pairs").build(spark, sf0001)
        .queryExecution.executedPlan
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        // symmetric hygiene: don't leave the AQE-OFF-compiled pair-core
        // relation behind for later AQE-on tests to resurrect either
        spark.catalog.clearCache()
      }
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val shj = executed.collect { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"posting self-join lost its hash join:\n$executed")
    // neither input of the posting join carries a RUNTIME shuffle — both
    // sides read the co-partitioned cache (InMemoryTableScan is a leaf;
    // the cached plan's own REPARTITION exchange is inside the
    // InMemoryRelation, not in this operator tree)
    shj.foreach { j =>
      j.children.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"posting-join side re-shuffles above the cache:\n$side")
      }
    }
    val bhj = executed.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"count attach lost its broadcasts:\n$executed")
  }

  test("pair core broadcastCounts=false — count attach shuffle-hash-joins, nothing broadcasts (VERDICT r14 #3)") {
    // the >100M-doc fallback lever: when the doc-count table outgrows
    // the broadcast budget the attach must degrade to a shuffle hash
    // join on the pair stream, not silently re-plan as a broadcast (or
    // worse, a sort-merge that sorts the pair set). AQE OFF — the same
    // compiled-plan audit regime as the q31 pin above.
    spark.catalog.clearCache()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val executed =
      try graft.operators.Dedup.coShingledPairsDetached(
        Tables.documents(spark, sf0001), "doc_id", "text",
        broadcastCounts = false).queryExecution.executedPlan
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.catalog.clearCache()
      }
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val shj = executed.collect { case j: ShuffledHashJoinExec => j }
    // posting self-join + two count attaches
    assert(shj.size >= 3,
      s"non-broadcast pair core lost its shuffle hash joins:\n$executed")
    assert(executed.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"broadcastCounts=false still broadcasts:\n$executed")
    assert(executed.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"count attach degraded to a sort-merge join:\n$executed")
  }

  test("q81 — IVF route: literal codebook, cid hash join, bounded top-k (no window)") {
    val p = plan("q81_ivf_route")
    // r17: the driver-trained codebook rides the routing/assignment
    // projections as a complex literal — NO broadcast exchange (and no
    // broadcast-build job) exists anywhere in the plan
    assert(!p.contains("BroadcastExchange"),
      s"q81 re-grew a broadcast (the codebook is a literal now):\n$p")
    assert(p.contains("ShuffledHashJoin"), s"q81 inverted-file join lost shuffle_hash:\n$p")
    assert(!p.contains("Window"), s"q81 grew a window sort (TopKAgg is the declared cut):\n$p")
    assert(!p.contains("CartesianProduct"), s"q81 planned a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q81 re-grew the packed-codebook join (literal expected):\n$p")
    // the routing + scoring kernels are in the plan (compiled, not HOFs)
    assert(p.contains("nearest_k_centroids_l2"), p)
    assert(p.contains("l2sq_long"), p)
  }

  test("q39 — window fingerprint is a narrow map: no join, no mid-plan shuffle") {
    val p = plan("q39_rolling_fingerprint")
    assert(!p.contains("Join"), s"q39 grew a join:\n$p")
    // formatted explain lists each node in the tree AND the detail section,
    // so one real exchange (the final sort) counts twice
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"q39 shuffles beyond the final sort:\n$p")
  }

  test("q98/q111 — one event-stream exchange; pairs expand post-reduction") {
    // the sessionize window's user exchange is the ONLY shuffle the raw
    // event stream pays; the (user, sid) aggregate rides it
    // (HashPartitioning(user_id) satisfies the clustering — the q57
    // lesson), and the pair explode runs on the reduced session frame
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("q98_session_itemsets", "q111_session_rules").foreach { name =>
      spark.catalog.clearCache()
      val executed = Catalog.byName(name).build(spark, sf0001)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.window.WindowExec
      val wins = SpecHelpers.deepNodes(executed).collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name lost the sessionize window:\n$executed")
      // every exchange inside any window subtree hashes on user_id —
      // the raw stream is never re-shuffled for the session aggregate
      val winEx = wins.flatMap(_.collect { case e: ShuffleExchangeExec => e })
      assert(winEx.nonEmpty &&
          winEx.forall(_.outputPartitioning.toString.contains("user_id")),
        s"$name's raw stream must shuffle once, on user_id:\n$executed")
      spark.catalog.clearCache()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q100/q102/q104/q105 — order statistics run on aggregates, never raw-row rank windows") {
    // the session-4 rewrite: every rank/cumulative window's input is an
    // aggregate (the (key, value-count) table), so no window ever sorts
    // a whole source/type slice of raw rows in one task
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("q100_length_clip", "q102_length_gini", "q104_length_deciles",
      "q105_activity_gini").foreach { name =>
      spark.catalog.clearCache()
      val executed = Catalog.byName(name).build(spark, sf0001)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.window.WindowExec
      val wins = SpecHelpers.deepNodes(executed).collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name lost its cumulative window:\n$executed")
      wins.foreach { w =>
        assert(w.exists(p => p.getClass.getSimpleName.contains("HashAggregate")),
          s"$name has a window over raw rows (no aggregate below):\n$w")
      }
      spark.catalog.clearCache()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("q106 — one pair-core pass; the sweep tail is bucket-table-sized") {
    // the decile projection persists and feeds BOTH histograms; the
    // suffix sums and grid joins are broadcast-sized — no second
    // corpus-scale exchange after the pair core
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.catalog.clearCache()
    val executed =
      try Catalog.byName("q106_neardup_sweep").build(spark, sf0001)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // the persisted decile projection is consumed (not recomputed) …
    assert(executed.collect { case s: InMemoryTableScanExec => s }.size >= 2,
      s"q106's decile projection must feed both histograms from cache:\n$executed")
    // … and the final grid attaches both suffix tables by broadcast
    assert(executed.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"q106's suffix tables must broadcast into the grid:\n$executed")
    spark.catalog.clearCache()
  }

  test("q57 — one stream-cardinality shuffle, no stream-cardinality sort") {
    // the bigram stream shuffles once into the (w1,w2) hash join; the only
    // Window (and its sort) runs over the REDUCED count table. AQE off so
    // the executed tree is a plain (collectable) plan — the bench regime
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val executed =
      try Catalog.byName("q57_bigram_lm").build(spark, sf0001)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    assert(executed.collect { case j: ShuffledHashJoinExec => j }.nonEmpty,
      s"q57 lost the stream-side hash join:\n$executed")
    val windows = executed.collect { case w: WindowExec => w }
    assert(windows.size == 1, s"q57 should have exactly one (reduced-table) window:\n$executed")
    // the window's input must be the aggregated count table, never the raw
    // bigram stream — an aggregate node sits below it
    assert(windows.head.exists(p =>
        p.getClass.getSimpleName.contains("HashAggregate")),
      s"q57's window no longer rides the reduced table:\n${windows.head}")
  }

  test("text kernels — q23/q26b/q27/q34–q39/q42/q43 are narrow maps: one exchange (final sort), no join") {
    // the per-document text queries must scale with the scan: their only
    // shuffle is the final deterministic ORDER BY — the scan fanout's
    // range exchange when it fires (q27 additionally aggregates, giving it
    // one more exchange), and no join appears
    Seq("q23_strings", "q26b_array_ops", "q34_simhash", "q35_quality",
      "q36_token_count", "q37_fingerprint", "q38_langid",
      "q39_rolling_fingerprint", "q42_redaction", "q43_repetition").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 2, s"$q shuffles more than the final sort:\n$p")
    }
    val p27 = plan("q27_json")
    assert(!p27.contains("Join"), s"q27 grew a join:\n$p27")
  }

  test("q46 — per-user state is bounded: min anchors only, no per-key collection") {
    // the funnel must survive a pathological user with millions of events:
    // every per-user aggregate has to be a bounded partial (min/count),
    // never an unbounded collect_list/collect_set array build
    val p = plan("q46_funnel")
    assert(!p.contains("collect_list") && !p.contains("collect_set"),
      s"q46 builds unbounded per-user arrays:\n$p")
    // min() partial-aggregates map-side, so the user-keyed exchanges only
    // carry one row per (mapper, user)
    assert(p.contains("partial_min"), p)
  }

  test("q44 — the benchmark shingle set broadcasts; corpus side never shuffles whole") {
    val p = plan("q44_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"q44 lost the benchmark broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q51 — bloom probe precedes the verify join; exact set never broadcasts") {
    val p = plan("q51_bloom_decontaminate")
    // the codegen'd might_contain prefilter sits on the corpus side
    assert(p.contains("might_contain"), s"q51 lost the bloom prefilter:\n$p")
    // the exact-verify join of survivors vs the benchmark set is SHUFFLED —
    // the whole point is that no exact benchmark set is ever broadcast
    // (the bloom literal replaces it); the only broadcast is the final
    // small overlap-counts attach onto the doc spine
    assert(p.contains("ShuffledHashJoin"), s"q51 verify join not shuffled:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q54 — span stream evaluated once; frequency attached via sh-partitioned window") {
    val p = plan("q54_dup_spans")
    // round 7: the expensive tokenize→shingle→md5 scan must appear exactly
    // ONCE — the span frequency rides a window over the same sh exchange a
    // membership join would shuffle anyway (DevQ54: the 2-scan join form is
    // ~1.6x slower), and the window is sh-PARTITIONED (never global)
    val generates = "shingle_md5_prefixes".r.findAllIn(p).length
    assert(generates == 1, s"q54 span scan evaluated $generates times (want 1):\n$p")
    assert(p.contains("Window"), s"q54 lost the frequency window:\n$p")
    assert(p.contains("windowspecdefinition(sh#"), s"q54 window not partitioned by sh:\n$p")
    // per-doc fold keeps map-side partials; no nested loop anywhere
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q20b — scalable ntile has NO window operator (no single-partition stage)") {
    val p = plan("q20b_ntile_scalable")
    assert(!p.contains("Window"), s"q20b still plans a window:\n$p")
  }

  test("q107/q110 routed — event-grain rank windows gone; GK aggregates with map-side partials (r11)") {
    def explain(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val ev = Tables.events(spark, sf0001)
    // q110 approx: NO window operator at all — the per-type ordered pass
    // is gone; the GK sketch aggregates with partial_percentile_approx
    // (mergeable map-side partials)
    val pv = explain(graft.queries.Analytics.valuePercentiles(ev, approx = true))
    assert(!pv.contains("Window"), s"q110 approx still plans a window:\n$pv")
    assert(pv.contains("partial_percentile_approx"),
      s"q110 approx lost its map-side partials:\n$pv")
    // q107 scalable: NO rank window anywhere (the exact form's
    // row_number selection is replaced by the sketch); the ONLY window
    // left is the bucket-grain stitch lag — over the (type, bucket)
    // aggregate, not the event stream (asserted structurally: its
    // exchange hashes on event_type after the bucket-grain aggregate)
    val pg = explain(graft.queries.Analytics.gapDeciles(ev, scalable = true))
    assert(!pg.contains("row_number"),
      s"q107 scalable still rank-windows:\n$pg")
    assert(pg.contains("partial_percentile_approx"),
      s"q107 scalable lost its map-side partials:\n$pg")
    // the gap extraction is ONE corpus aggregate exchange — sort_array's
    // in-task sort, not a window sort, carries the within-bucket order
    assert(pg.contains("sort_array"), s"q107 stitch lost its in-task sort:\n$pg")
    // the exact defaults keep their declared rank-window shape (contrast
    // pin — routing must not leak into the oracled entries)
    assert(plan("q110_value_percentiles").contains("row_number"))
    assert(plan("q107_gap_deciles").contains("row_number"))
  }

  test("q11 — band join carries (user_id, time-bucket) as the equi key") {
    val p = plan("q11_range_join")
    // both the user id and the 5-min bucket must be join keys — the bucket
    // is what spreads a hot user across tasks at scale
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("bkt"), p)
  }

  test("q61 — per-row argmax: no SortAggregate, no Window, no corpus explode") {
    // the regression class this guards: max(struct) over an exploded
    // anchors stream silently degrades HashAggregate → SortAggregate
    // (struct buffers are not hash-aggregable), inserting a full sort +
    // exchange of the N·K scored stream. The declared form keeps the
    // argmax inside the best_anchor kernel, so the only aggregate left
    // is the K-row profile and the only Generate-free scan is narrow.
    val p = plan("q61_cluster_profile")
    assert(!p.contains("SortAggregate"), s"q61 regressed to SortAggregate:\n$p")
    assert(!p.contains("(Window"), s"q61 plans a window:\n$p")
    assert(!p.contains("Generate"), s"q61 explodes the scored stream:\n$p")
    assert(p.contains("best_anchor"), s"q61 lost the kernel:\n$p")
    // r14: the codebook is a plan LITERAL (bounded 256-row collect folded
    // into the kernel call — DevQ61 measured the broadcast-1-row cross
    // join ~20 % slower), so the plan has NO join machinery at all and
    // the scan is pruned to the single embedding column
    assert(!p.contains("BroadcastExchange") && !p.contains("Join"),
      s"q61 regrew join machinery around the literal codebook:\n$p")
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"),
      s"q61 scan not pruned to the embedding column:\n$p")
  }

  test("q64 — cluster-bounded pairing: one assignment pass, equi cluster join") {
    // the SemDeDup shape: pairs may only form through the cluster-keyed
    // equi join over the PERSISTED assignment frame — never a corpus-wide
    // explode, window sort, or second assignment evaluation
    val p = plan("q64_semdedup")
    assert(p.contains("best_anchor"), s"q64 lost the assignment kernel:\n$p")
    assert(p.contains("InMemoryRelation"), s"assignment frame not persisted:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"cluster join not hash-keyed:\n$p")
    assert(!p.contains("(Window"), s"q64 plans a window:\n$p")
    assert(!p.contains("Generate"), s"q64 explodes the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"hash-keyed join degraded to sort:\n$p")
  }

  test("q65/q66 — sweep/weights reuse the persisted summary; no global window") {
    // both attach corpus totals to a tiny persisted aggregate: the corpus
    // scans once (summary cached), the total is the audited proven-1-row
    // cross join, and nothing corpus-sized meets a window or sort
    for (q <- Seq("q65_mix_weights", "q66_quality_sweep")) {
      val p = plan(q)
      assert(p.contains("InMemoryRelation"), s"$q summary not persisted:\n$p")
      assert(!p.contains("(Window"), s"$q plans a window:\n$p")
      assert(!p.contains("SortAggregate"), s"$q aggregate degraded to sort:\n$p")
    }
  }

  test("q92 — encode join is hash-keyed and vocabulary-sized; no round barrier remains") {
    val p = plan("q92_bpe_encode")
    // the (source, word) counts meet the trained vocab in ONE word-keyed
    // hash join — never a sort-merge (no downstream order) and never a
    // nested loop; the training rounds are literal projections over the
    // checkpointed vocab, so NO crossJoin/broadcast survives in the plan
    assert(p.contains("ShuffledHashJoin"), s"q92 encode join not hash-keyed:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q92 join degraded to sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q92 kept a training cross join:\n$p")
    assert(p.contains("partial_sum"), s"q92 rollup lost map-side partials:\n$p")
  }

  test("q93 — vocab is a bounded top-k broadcast; corpus side never sorts") {
    val p = plan("q93_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), s"q93 vocab cut is a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q93 vocab not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q93 join degraded to sort:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"q93 counts lost map-side partials:\n$p")
  }

  test("q94 — distinct-doc counts stream through a dg hash join, never a buffering window") {
    val p = plan("q94_chunk_dedup")
    // the ≥2-docs rule is a map-side-combined digest aggregate streamed
    // back through a dg-keyed hash join (build = 1 row/digest) — a count
    // window would buffer the hottest digest's every grain row in one
    // task, and the hottest digest is the boilerplate chunk the query
    // exists to find
    assert(p.contains("ShuffledHashJoin"), s"q94 lost the streamed dg join:\n$p")
    assert(!p.contains("(Window"), s"q94 plans a buffering window:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q94 join degraded to sort:\n$p")
    assert(p.contains("InMemoryRelation"), s"q94 grain frame not persisted:\n$p")
    // chunk build must stay codegen'd builtins (sequence+slice explode),
    // never an interpreted lambda (the q83 HOF lesson)
    assert(!p.contains("transform("), s"q94 chunk build uses an interpreted HOF:\n$p")
    assert(p.contains("partial_count"), s"q94 lost map-side partials:\n$p")
  }

  test("q95 — boilerplate screen is join-free over compiled digests") {
    val p = plan("q95_boilerplate")
    assert(!p.contains("Join"), s"q95 plans a join:\n$p")
    val kernels = "shingle_md5_prefixes".r.findAllIn(p).length
    assert(kernels == 1, s"q95 shingle kernel evaluated $kernels times (want 1):\n$p")
    assert(p.contains("partial_count"), s"q95 lost map-side partials:\n$p")
  }
}

object PlanShapeSpec {
  /** The catalog entries whose plans fan a narrow scan out before a per-row
    * kernel (ScanFanoutRule) at sf0.001 on 4 cores. Against the r18
    * call-site set: q02_docs_scan and q40_stratified_sample evaluate no
    * kernel; q96_dedup_yield's shingle input is a cached window output that
    * already runs at shuffle width; q54, q66, q78, q86, q103, q112, q120,
    * q121 and q135 run the same marked text kernels on document scans that
    * r18 never wrapped; q77, q80 and q132 run the nearest-centroid kernel
    * over the same cached quantized embeddings q81 and q130 fanned.
    */
  val fanned: Set[String] = Set(
    "q23_strings", "q26b_array_ops", "q31_jaccard_pairs", "q32_minhash_lsh",
    "q34_simhash", "q35_quality", "q36_token_count", "q37_fingerprint",
    "q38_langid", "q39_rolling_fingerprint", "q42_redaction",
    "q43_repetition", "q44_decontaminate", "q51_bloom_decontaminate",
    "q54_dup_spans", "q56_incremental_neardup", "q58_contamination_report",
    "q63_containment", "q66_quality_sweep", "q67_source_overlap",
    "q68_dup_clusters", "q69_heavy_hitters", "q73_span_ladder",
    "q75_quarantine_clusters", "q76_cluster_reps", "q77_kmeans_refine",
    "q78_novelty_deciles", "q79_dup_aware_sample", "q80_codebook_margin",
    "q81_ivf_route", "q83_lsh_md5", "q84_label_prop", "q86_split_leakage",
    "q89_minhash_estimate", "q95_boilerplate", "q103_split_parity",
    "q106_neardup_sweep", "q112_quality_length_corr",
    "q117_dup_quality_bias", "q120_shingle_df_histogram",
    "q121_lang_agreement", "q128_lsh_fidelity", "q130_ann_recall",
    "q131_neardup_degree", "q132_cell_balance", "q134_lsh_incremental",
    "q135_weighted_sample")
}
