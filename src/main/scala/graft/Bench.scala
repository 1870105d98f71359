package graft
import org.apache.spark.sql.SparkSession

/** Bench harness (driver contract: print ONE JSON line with per-query
  * seconds at SPARK_GRAFT_SF_DIR).
  *
  * Methodology — stated explicitly so the numbers are interpretable:
  *  - An UNTIMED full warmup pass runs every catalog query once first. It
  *    absorbs one-time JVM/classloader/whole-stage-codegen compilation and
  *    file-index resolution, so the timed pass measures steady-state
  *    execution — the same thing the DuckDB baseline harness
  *    (dev/baseline.py, median of 3) measures. The warmup pass durations
  *    are still on the record (VERDICT r1 item 7): per-query on stderr,
  *    and the cold total inside the stdout JSON ("totals" key).
  *  - The timed pass takes the median of SPARK_GRAFT_BENCH_REPS (default 3)
  *    runs per query.
  *  - Results go through a noop sink, which materializes every output
  *    column (count() would let Catalyst prune the query down to row
  *    counting — not an honest measurement).
  */
object Bench {

  /** The repeat-on-outlier trigger: a SORTED rep vector whose median is
    * both past the floor band (>0.3 s, so 2× isn't launch jitter) and
    * more than twice its own minimum — the transient-contention
    * signature (see the timed-pass comment). Pure so BenchSpec can pin
    * it; `times` must be sorted ascending.
    */
  private[graft] def bimodalHigh(times: Seq[Double]): Boolean =
    times.nonEmpty && times(times.size / 2) > 0.3 &&
      times(times.size / 2) > 2 * times.head

  /** Agree-slow trigger (VERDICT r12 item 1): a contention episode
    * longer than a query's WHOLE rep vector defeats [[bimodalHigh]] —
    * every rep sits inside the episode, so they agree with each other
    * and the retry never fires (the r12 driver window shipped
    * q25/q26b/q10 at 40–67× their quiet rows this way). The tell is the
    * warm median reading far ABOVE the same query's cold single-shot
    * from this window's own warmup pass: steady-state must not cost
    * more than first-touch (codegen cache + file index warm), so a warm
    * median past 2× cold is host noise, not plan cost. Floor-banded
    * like bimodalHigh (>0.3 s — sub-floor medians are launch jitter);
    * a failed cold reading (≤0) can't vouch either way → no trigger.
    * Pure so BenchSpec can pin it.
    */
  private[graft] def agreeSlow(warmMedian: Double, cold: Double): Boolean =
    warmMedian > 0.3 && cold > 0 && warmMedian > 2 * cold

  /** End-of-window re-probe candidate set (pure; BenchSpec pins): the
    * retry-resistant bimodal names PLUS every [[agreeSlow]] one —
    * UNCAPPED (VERDICT r13 item 5: r13 kept only the 16 worst warm/cold
    * ratios, so an episode slow enough to inflate >16 queries still
    * SHIPPED the rest as outliers; a catalog-wide storm is better
    * re-run than truncated, and re-probing all triggered queries IS
    * that re-run for the affected half). Cost stays bounded by the
    * catalog (3 probe reps per candidate) and correctness by the
    * [[adoptReprobe]] under-half rule: a candidate whose probe reads
    * like its in-window median adopts nothing. Candidates keep catalog
    * order (the order reps ran in).
    */
  private[graft] def reprobeCandidates(measured: Seq[(String, Double)],
                                       cold: Map[String, Double],
                                       unhealed: Set[String]): Seq[String] = {
    val extra = measured
      .collect { case (n, med) if med >= 0 && !unhealed(n) &&
          agreeSlow(med, cold.getOrElse(n, -1.0)) => n }.toSet
    measured.collect { case (n, med)
      if med >= 0 && (unhealed(n) || extra(n)) => n }
  }

  /** End-of-window re-probe adoption rule (VERDICT r11 item 2): adopt
    * the probe median ONLY when it reads under HALF the in-window
    * median — confirming the in-window reading was transiently inflated
    * rather than a real cost. A probe that is itself contended (or
    * empty, every probe rep failed) reads high and changes nothing.
    * Pure so BenchSpec can pin it.
    */
  private[graft] def adoptReprobe(inWindowMedian: Double,
                                  probe: Seq[Double]): Option[Double] = {
    val sorted = probe.sorted
    if (sorted.nonEmpty && sorted(sorted.size / 2) < inWindowMedian / 2)
      Some(sorted(sorted.size / 2))
    else None
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SparkBoot.session: the one config Verify oracles. SPARK_GRAFT_MASTER
    // (r16) lets one ledger window run under local-cluster executors; NOT
    // the gate config, such windows are marked as cluster-mode in BASELINE.
    val spark = SparkBoot.session(cpus)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // the JSON line keys on the qNN name prefixes (see below) — guard
    // collisions BEFORE the multi-minute measurement passes, not at emit
    // time (a crash after the timed runs would lose the whole window)
    require(ordered.map(q => q._1.takeWhile(_ != '_')).distinct.size
        == ordered.size,
      "query-name prefixes are not unique — bench keys would collide")

    // host load-average probe (1-min), sampled at window start/end: a
    // reader of the JSON can see whole-host contention that the floor
    // metric misses when it lands on long shuffles rather than task launch
    // (the BENCH_r09 199 s window read 4.4× on a host whose load the
    // record never captured).
    def loadAvg(): Double = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      math.rint(l * 100) / 100
    }
    val loadStart = loadAvg()

    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // untimed: operators may persist intermediates
      (sec, ok)
    }

    // ---- warmup pass (untimed, but recorded as the cold single-shot run)
    val cold = ordered.map { case (name, fn) =>
      val (sec, ok) = runOnce(name, fn)
      name -> (if (ok) sec else -1.0)
    }
    // cold per-query detail on the record via stderr (the stdout JSON line
    // must stay within the driver's tail window; see below)
    System.err.println("[bench] cold_queries " + cold.map {
      case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    // one full GC at the pass boundary — NOT per query: a stop-the-world
    // collection before every measurement left each single-shot run on a
    // cold heap (TLABs, card tables), inflating the whole catalog ~2×
    // versus steady-state; the ContextCleaner reaps broadcasts/shuffles
    // asynchronously regardless.
    System.gc()

    // ---- contention sentinel: ONE fixed shuffle-heavy query re-timed at
    // three points in the window (post-warmup baseline, mid-catalog, end).
    // Whole-host contention that inflates long shuffles — invisible to the
    // "floor" metric, which only sees task-launch fixed costs — shows up
    // as sentinel drift on UNCHANGED code+data, so a slow window carries
    // its own diagnosis (VERDICT r9 item 2). Drift >2× vs the baseline
    // stamps the window "contended"; readers should treat per-query times
    // from a contended window as host noise, not plan regressions.
    val sentinelName = "q31_jaccard_pairs"
    val sentinel = SparkEntry.queries.get(sentinelName)
    def sentinelOnce(): Double = sentinel match {
      case Some(fn) => runOnce(sentinelName, fn)._1
      case None => -1.0
    }
    // baseline = min of two runs: the first sits right after the pass-
    // boundary GC (cold TLABs) and measured up to 2.6x its settled value —
    // a high baseline would MASK later contention in the drift ratio
    val sentinelBase = math.min(sentinelOnce(), sentinelOnce())

    // ---- timed pass: median of `reps` steady-state runs per query
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    var sentinelMid = -1.0
    var retried = List.empty[String]
    // names whose rep vector stayed bimodal-high THROUGH the retry —
    // candidates for the end-of-window re-probe below
    var unhealed = List.empty[String]
    val measured = ordered.zipWithIndex.map { case ((name, fn), i) =>
      if (i == ordered.size / 2) sentinelMid = sentinelOnce()
      var failed = false
      def rep(): Double = {
        val (sec, ok) = runOnce(name, fn)
        if (!ok) failed = true
        sec
      }
      var times = (1 to reps).map(_ => rep()).sorted
      val primaryOk = !failed
      // repeat-on-outlier: a BIMODAL rep vector (median > 2× the min, and
      // the median past the floor band so 2× isn't launch jitter) is the
      // transient-contention signature the regime fields can miss when
      // the hit lands between sentinel probes (the r10-session-2 window-1
      // q119 reading: 7.45 s median in-window, 0.56–0.64 s on the same
      // artifact immediately before and after). Two extra reps give the
      // median a quorum over the transient; the retry is RECORDED (count
      // in the JSON, names on stderr) so a reader can see the window
      // needed self-healing rather than silently trusting it.
      if (primaryOk && reps >= 3 && bimodalHigh(times)) {
        retried ::= name
        // a failure DURING the self-heal reps must not retroactively turn
        // a successful 3-rep measurement into a -1: only successful extra
        // samples join the vector (review finding, r10 s2)
        val extra = (1 to 2).map(_ => runOnce(name, fn))
          .collect { case (sec, true) => sec }
        times = (times ++ extra).sorted
        if (bimodalHigh(times)) unhealed ::= name
      }
      // -1 keeps failures machine-detectable in the JSON (a failure's wall
      // time would otherwise read as a suspiciously fast success)
      name -> (if (!primaryOk) -1.0 else times(times.size / 2))
    }
    if (retried.nonEmpty)
      System.err.println("[bench] retried_on_outlier " +
        retried.sorted.mkString(" "))
    // ---- end-of-window re-probe (VERDICT r11 item 2): a contention
    // episode longer than a query's whole rep vector defeats the
    // immediate retry — the extra reps run INSIDE the same episode (the
    // r11 driver window read q106 at 5618 ms across 5 consecutive reps,
    // vs 1072 ms on the same artifact in every adjacent window). For
    // queries still bimodal-high after the retry — PLUS the agree-slow
    // ones the bimodal trigger structurally misses (VERDICT r12 item 1:
    // all reps inside one episode agree, so q25/q26b/q10 shipped at
    // 40–67× their quiet rows with zero retries; the warm-median-vs-
    // cold-single-shot tell in [[agreeSlow]] catches them) — re-time 3
    // reps here, minutes later, after the catalog has moved off the hot
    // spot. The end median REPLACES the in-window reading only when it
    // comes in under half of it — confirming transient inflation rather
    // than a real cost (an end probe that is itself contended reads
    // high and changes nothing). Replaced readings keep the original on
    // the record ("reprobe_ms" in the JSON + stderr), so the window
    // shows its self-heal instead of silently trusting either number.
    val reprobeSet =
      reprobeCandidates(measured, cold.toMap, unhealed.toSet).toSet
    if (reprobeSet.size > unhealed.size)
      System.err.println("[bench] agree_slow_candidates " +
        (reprobeSet -- unhealed).toSeq.sorted.mkString(" "))
    var reprobed = List.empty[(String, Double)] // (name, original median)
    val results = measured.map { case (name, med) =>
      if (med < 0 || !reprobeSet.contains(name)) name -> med
      else {
        val probe = (1 to 3).map(_ => runOnce(name, SparkEntry.queries(name)))
          .collect { case (sec, true) => sec }
        adoptReprobe(med, probe) match {
          case Some(healed) => reprobed ::= (name, med); name -> healed
          case None => name -> med
        }
      }
    }
    if (reprobed.nonEmpty)
      System.err.println("[bench] reprobed_at_window_end " + reprobed.map {
        case (n, orig) => f"$n(in-window ${orig}%.3f s)" }.mkString(" "))
    val sentinelEnd = sentinelOnce()
    val loadEnd = loadAvg()
    val sentinelDrift =
      if (sentinelBase <= 0) -1.0
      else math.rint(math.max(sentinelMid, sentinelEnd) / sentinelBase * 100) / 100
    val regime =
      if (sentinelDrift < 0) "unknown"
      else if (sentinelDrift > 2.0) "contended"
      else "quiet"
    // One compact line: the driver keeps only the LAST ~2000 chars of the
    // run's output as the on-record tail, and round 2's line (full-precision
    // doubles + an inline cold_queries map) outgrew that window — the
    // headline warm total was truncated out of the record. Per-query values
    // are therefore INTEGER MILLISECONDS under the self-describing
    // "queries_ms" key (the 78-entry seconds form hit 1986 chars — one entry
    // short of the window), the cold per-query detail goes to stderr (still
    // on the record per VERDICT r1 item 7, just not inside the size-budgeted
    // stdout line), and the two totals are REPEATED in a trailing "totals"
    // key (seconds) so they survive even a clipped line head.
    def r3(v: Double) = math.rint(v * 1000) / 1000
    // Keys are the catalog names' UNIQUE qNN[x] prefixes ("q31_jaccard_pairs"
    // → "q31"): the 92-entry full-name form reached 2159 chars and clipped
    // the line HEAD — including the parseable "metric"/"value" fields — out
    // of the driver's ~2000-char tail (BENCH_r08 recorded parsed:null for
    // exactly this reason; the prefix form is ~950 chars, whole-line safe).
    // Full names live in BASELINE.md's table; the prefix is the stable
    // cross-reference (Catalog guards name uniqueness, prefix uniqueness is
    // asserted here).
    def qKey(name: String) = name.takeWhile(_ != '_')
    def jmapMs(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) =>
        "\"" + qKey(k) + "\":" + (if (v < 0) "-1" else math.rint(v * 1000).toLong)
      }.mkString("{", ",", "}")
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    val coldTotal = r3(cold.map(_._2).filter(_ >= 0).sum)
    // failures are EXPLICIT at the top level: the totals above sum only
    // non-failed queries, so without this a crashing query would make the
    // headline look BETTER — a skimmed record must not read a partial
    // total as a healthy run (failed queries also carry -1 in "queries")
    val failed = (results.filter(_._2 < 0).map(_._1) ++
      cold.filter(_._2 < 0).map(_._1)).distinct.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-window host-floor estimate (VERDICT r6 #7): the median of the 5
    // cheapest queries is pure fixed-cost machinery (plan + barriers + task
    // launch, ~flat in data), so comparing "floor" across two windows
    // separates whole-host drift from a real per-query regression
    // mechanically — BASELINE.md "Reading the ratios" uses it.
    val floor = {
      val ok = results.map(_._2).filter(_ >= 0).sorted.take(5)
      if (ok.isEmpty) -1.0 else r3(ok(ok.size / 2))
    }
    val sfName = new java.io.File(sfDir).getName
    def ms(v: Double) = if (v < 0) -1 else math.rint(v * 1000).toLong
    // regime fields budgeted ~60 chars: the whole line must stay inside
    // the driver's ~2000-char stdout tail (see the queries_ms note above),
    // and 138 queries_ms entries already spend ~1600 of it — so drift is
    // NOT repeated (sent_ms carries it: drift = max(mid,end)/base) and the
    // full-precision diagnosis goes to stderr below.
    // reprobe_ms: in-window medians that the end-of-window re-probe
    // replaced (the adopted values sit in queries_ms) — at most a couple
    // of entries per window, so the line budget is safe
    val reprobeJson =
      if (reprobed.isEmpty) ""
      else reprobed.map { case (n, orig) =>
        "\"" + qKey(n) + "\":" + math.rint(orig * 1000).toLong
      }.mkString(",\"reprobe_ms\":{", ",", "}")
    val regimeJson =
      s""""regime":"$regime","load":[$loadStart,$loadEnd],"sent_ms":[${ms(sentinelBase)},${ms(sentinelMid)},${ms(sentinelEnd)}],"retried":${retried.size}$reprobeJson"""
    System.err.println(s"[bench] regime=$regime drift=$sentinelDrift " +
      s"load=$loadStart->$loadEnd sentinel=$sentinelName " +
      s"base/mid/end=${ms(sentinelBase)}/${ms(sentinelMid)}/${ms(sentinelEnd)}ms")
    def line(qms: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failedJson,"queries_ms":$qms,"reps":$reps,"sf":"$sfName",$regimeJson,"totals":{"warm_median":$total,"cold_single_shot":$coldTotal,"n_failed":${failed.size},"floor":$floor}}"""
    val full = line(jmapMs(results))
    // hard budget guard: a contended window can push many entries to 5
    // digits and overflow the tail window — if the full line would risk
    // clipping its own HEAD, keep only the slowest half of queries_ms
    // (the informative half in a slow window; the rest is on stderr).
    val out = if (full.length <= 1950) full else {
      val keep = results.sortBy(-_._2).take(results.size / 2)
        .sortBy(_._1)
      line(jmapMs(keep))
    }
    println(out)
    spark.stop()
  }
}
