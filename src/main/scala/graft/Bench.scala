package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
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
  *    are still on the record: per-query on stderr, and the cold total
  *    inside the stdout JSON ("totals" key).
  *  - The timed pass takes the median of [[Reps]] runs per query.
  *  - Results go through a noop sink, which materializes every output
  *    column (count() would let Catalyst prune the query down to row
  *    counting — not an honest measurement).
  *  - Every timed run also reads the executor CPU its tasks spent (summed
  *    `taskMetrics.executorCpuTime`). Host load stretches wall time but not
  *    CPU time, so a slow window explains itself: wall up with `cpu_s` flat
  *    means a busy host, both up means a more expensive plan.
  */
object Bench {

  /** Timed runs per query; the reported value is their median. */
  private val Reps = 3

  /** The JSON line's key for a catalog name: its UNIQUE qNN[x] prefix
    * ("q31_jaccard_pairs" → "q31"). The full-name form of the map clipped
    * the line head out of the driver's ~2000-char tail; full names live in
    * BASELINE.md's table.
    */
  private[graft] def qKey(name: String): String = name.takeWhile(_ != '_')

  /** The one stdout line, from per-query warm medians and cold single
    * shots (seconds, -1 = failed) and per-query median executor-CPU ms.
    *
    * Per-query values are integer milliseconds under "queries_ms" so 148
    * entries fit the driver's ~2000-char tail; the totals are repeated in a
    * trailing "totals" key so they survive a clipped head. A line over
    * 1950 characters keeps only the slowest half of "queries_ms" (the
    * informative half in a slow window; all of them are on stderr).
    */
  private[graft] def jsonLine(results: Seq[(String, Double)],
                              cold: Seq[(String, Double)],
                              cpuMs: Seq[(String, Double)],
                              sf: String): String = {
    def r3(v: Double) = math.rint(v * 1000) / 1000
    def jmapMs(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) =>
        "\"" + qKey(k) + "\":" + (if (v < 0) "-1" else math.rint(v * 1000).toLong)
      }.mkString("{", ",", "}")
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    val coldTotal = r3(cold.map(_._2).filter(_ >= 0).sum)
    val cpuS = r3(cpuMs.map(_._2).filter(_ >= 0).sum / 1000)
    // failures are EXPLICIT at the top level: the totals sum only
    // non-failed queries, so without this a crashing query would make the
    // headline look BETTER
    val failed = (results.filter(_._2 < 0).map(_._1) ++
      cold.filter(_._2 < 0).map(_._1)).distinct.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-window host-floor estimate: the median of the 5 cheapest queries
    // is pure fixed-cost machinery (plan + barriers + task launch, ~flat in
    // data), so comparing "floor" across two windows separates whole-host
    // drift from a real per-query regression — BASELINE.md "Reading the
    // ratios" uses it.
    val floor = {
      val ok = results.map(_._2).filter(_ >= 0).sorted.take(5)
      if (ok.isEmpty) -1.0 else r3(ok(ok.size / 2))
    }
    def line(qms: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failedJson,"queries_ms":$qms,"reps":$Reps,"sf":"$sf","totals":{"warm_median":$total,"cold_single_shot":$coldTotal,"n_failed":${failed.size},"floor":$floor,"cpu_s":$cpuS}}"""
    val full = line(jmapMs(results))
    if (full.length <= 1950) full
    else line(jmapMs(results.sortBy(-_._2).take(results.size / 2).sortBy(_._1)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SparkBoot.session: the one config Verify oracles. SPARK_GRAFT_MASTER
    // lets one ledger window run under local-cluster executors; NOT the
    // gate config, such windows are marked as cluster-mode in BASELINE.
    val spark = SparkBoot.session(cpus)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // the JSON line keys on the qNN name prefixes — guard collisions BEFORE
    // the multi-minute measurement passes, not at emit time
    require(ordered.map(q => qKey(q._1)).distinct.size == ordered.size,
      "query-name prefixes are not unique — bench keys would collide")

    val cpuNs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => cpuNs.addAndGet(m.executorCpuTime))
    })

    /** (wall seconds, executor-CPU ms), or None when the query failed. */
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[(Double, Double)] = {
      val cpu0 = cpuNs.get
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val sec = (System.nanoTime() - t0) / 1e9
      // untimed: the listener bus delivers TaskEnd asynchronously
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      val cpuMs = (cpuNs.get - cpu0) / 1e6
      spark.catalog.clearCache() // untimed: operators may persist intermediates
      if (ok) Some((sec, cpuMs)) else None
    }

    // ---- warmup pass (untimed, but recorded as the cold single-shot run)
    val cold = ordered.map { case (name, fn) =>
      name -> runOnce(name, fn).fold(-1.0)(_._1)
    }
    // cold per-query detail on the record via stderr (the stdout JSON line
    // must stay within the driver's tail window)
    System.err.println("[bench] cold_queries " + cold.map {
      case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    // one full GC at the pass boundary — NOT per query: a stop-the-world
    // collection before every measurement left each single-shot run on a
    // cold heap (TLABs, card tables), inflating the whole catalog ~2×
    // versus steady-state; the ContextCleaner reaps broadcasts/shuffles
    // asynchronously regardless.
    System.gc()

    // ---- timed pass: median wall and median executor CPU of Reps runs;
    // -1 keeps a failure machine-detectable (its wall time would otherwise
    // read as a suspiciously fast success)
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val measured = ordered.map { case (name, fn) =>
      val runs = (1 to Reps).map(_ => runOnce(name, fn))
      if (runs.contains(None)) (name, -1.0, -1.0)
      else (name, median(runs.flatten.map(_._1)), median(runs.flatten.map(_._2)))
    }
    val cpuMs = measured.map { case (n, _, c) => n -> c }
    System.err.println("[bench] cpu_queries " + cpuMs.map { case (k, v) =>
      qKey(k) + "=" + (if (v < 0) "-1" else math.rint(v).toLong) }.mkString(" "))
    println(jsonLine(measured.map { case (n, w, _) => n -> w }, cold, cpuMs,
      new java.io.File(sfDir).getName))
    spark.stop()
  }
}
