package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Pipeline, SniffingExtractor}
import graft.queries.Catalog

/** The benchmark's JVM side. `run.py` builds it, stages the inputs and calls
  * it once per run:
  *
  *   Main mode=classify data=<dir> out=<run dir>
  *   Main mode=catalog  data=<dir> queries=<file> seed=<n> seconds=<s> trace=<0|1> out=<run dir>
  *   Main mode=ingest   data=<dir> seed=<n> seconds=<s> trace=<0|1> out=<run dir>
  *
  * Each run writes `<run dir>/jvm.json`: the raw samples, the correctness
  * verdicts it can reach on its own, and with trace=1 the per-layer numbers
  * and the spans. Percentiles, rates and the DuckDB oracle check are
  * run.py's.
  */
object Main {
  /** Untimed ingest batches after the checked one, before the window. */
  val IngestWarmupBatches = 2

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = new File(opt("out"))
    out.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(cores)
    val result = opt("mode") match {
      case "classify" => classify(spark, opt("data"), cores)
      case "catalog" => new Run(spark, opt, cores).catalog()
      case "ingest" => new Run(spark, opt, cores).ingest()
    }
    Files.writeString(Paths.get(out.getPath, "jvm.json"), json(result))
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  /** The session `graft.Bench` measures: AQE off, 8 shuffle partitions,
    * 16 MiB splits, the graft extensions.
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Builds and plans every catalog query and records the tables it reads:
    * those its final physical plan scans (cached inputs included), plus
    * those scanned by jobs the build itself ran (several operators collect
    * or checkpoint while the query is built).
    */
  def classify(spark: SparkSession, data: String,
               cores: Int): Map[String, Any] = {
    val tracer = new Tracer(spark)
    val rows = concurrently(cores, Catalog.all) { q =>
      val op = tracer.nextOp()
      tracer.begin(op)
      val (files, error) =
        try (Trace.scannedTables(q.build(spark, data).queryExecution.executedPlan), None)
        catch { case e: Throwable => (Set.empty[String], Some(msg(e))) }
        finally tracer.end()
      (q, op, files, error)
    }
    tracer.close()
    spark.catalog.clearCache()
    Map("queries" -> rows.map { case (q, op, files, error) =>
      q.name -> Map("tables" -> (files ++ tracer.tables(op)).toSeq.sorted,
        "oracle" -> q.oracle, "error" -> error)
    }.toMap)
  }

  /** `f` over `xs` on `threads` threads, results in input order. The
    * catalog's queries are independent, and a first execution is dominated
    * by driver-side code generation, which spreads over cores.
    */
  def concurrently[A, B](threads: Int, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    finally pool.shutdown()
  }

  def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def processCpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e6

  /** The JVM's peak resident set (VmHWM), MiB. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** One measured run of a workload. */
final class Run(spark: SparkSession, opt: Map[String, String], cores: Int) {
  import Main._

  private val data = opt("data")
  private val seed = opt("seed").toLong
  private val seconds = opt("seconds").toDouble
  private val out = opt("out")
  /** Started after the untimed pass, so tracing costs only the timed run. */
  private var tracer: Option[Tracer] = None
  private def startTracing(): Unit =
    if (opt("trace") == "1") tracer = Some(new Tracer(spark))
  private var opCounter = 0
  private def nextOp(): Int = tracer.map(_.nextOp()).getOrElse {
    opCounter += 1; opCounter
  }

  /** One timed operation: its id, name, wall ms and failure, if any. */
  final case class Sample(op: Int, name: String, ms: Double,
                          error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  private val clock0 = System.nanoTime()
  private def now(): Double = (System.nanoTime() - clock0) / 1e6

  /** Times `build` then `sink` as one operation; traced, each is a span
    * under the operation's root span.
    */
  private def operation[T](name: String)(build: => T)(
      sink: T => Unit): Sample = {
    val op = nextOp()
    tracer.foreach(_.begin(op))
    val ts = tracer.map(_.now()).getOrElse(0.0)
    val s = now()
    val error = try {
      tracer match {
        case Some(t) =>
          val built = t.timed(op, -1, "build")(build)._1
          // analysis runs when the frame is built, outside any execution
          built match {
            case df: DataFrame => t.phases(op, df.queryExecution)
            case _ =>
          }
          t.timed(op, -1, "sink")(sink(built))
        case None => sink(build)
      }
      None
    } catch { case e: Throwable => Some(msg(e)) }
    finally tracer.foreach(_.end())
    val ms = now() - s
    tracer.foreach(t => t.span(op, -1, "op", ts, t.now()))
    Sample(op, name, ms, error)
  }

  /** Closed loop with one client. Runs whole rounds of operations (a
    * catalog pass, an ingest batch) until `seconds` have passed, so every
    * run measures the same mix.
    */
  private def window(
      rounds: Iterator[Seq[() => Sample]]): (Map[String, Any], Seq[Sample]) = {
    System.gc()
    val startEpoch = System.currentTimeMillis()
    val cpu0 = processCpuMs()
    val s = now()
    val samples = Seq.newBuilder[Sample]
    while (now() - s < seconds * 1000) rounds.next().foreach(op => samples += op())
    val wall = now() - s
    val cpu = processCpuMs() - cpu0
    val all = samples.result()
    (Map("window_start_epoch_ms" -> startEpoch, "wall_ms" -> wall,
      "cpu_ms" -> cpu, "samples" -> all.map(x => Map("name" -> x.name,
        "ms" -> x.ms, "ok" -> x.ok, "error" -> x.error))), all)
  }

  // ---------------------------------------------------------------- catalog

  def catalog(): Map[String, Any] = {
    val names = scala.io.Source.fromFile(opt("queries")).getLines()
      .map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val queries = names.map(Catalog.byName)
    val resultsDir = s"$out/results"

    // Untimed checked pass in the timed session: every query once, outputs
    // written for the oracle check.
    val c0 = System.nanoTime()
    val correctness = concurrently(cores, queries) { q =>
      val error =
        try { q.build(spark, data).write.mode("overwrite")
                .parquet(s"$resultsDir/${q.name}"); None }
        catch { case e: Throwable => Some(msg(e)) }
      q.name -> Map("error" -> error)
    }
    spark.catalog.clearCache()
    val c1 = System.nanoTime()
    // Untimed warm-up pass, through the noop sink as timed passes run. A
    // timed pass that follows the checked pass alone is still warming: over
    // eight seeds its quartile spread was 1.5 to 2 times that of the pass
    // after it. A query that fails here is counted by the checked and timed
    // passes.
    concurrently(cores, queries) { q =>
      try noop(q.build(spark, data)) catch { case _: Throwable => }
    }
    spark.catalog.clearCache()
    val c2 = System.nanoTime()
    startTracing()

    // Each pass runs every query once, in an order drawn from the seed.
    val rnd = new scala.util.Random(seed)
    val passes = Iterator.continually(rnd.shuffle(queries).map { q =>
      () => {
        val r = operation(q.name)(q.build(spark, data))(noop)
        spark.catalog.clearCache() // operators may persist intermediates
        r
      }
    })
    val (w, samples) = window(passes)
    val layers = tracer.map(t => traced(t, samples) ++ probes(t)).getOrElse(Map.empty)
    Map("correctness" -> correctness.toMap, "window" -> w,
      "per_layer" -> layers, "peak_rss_mb" -> peakRssMb(), "cores" -> cores,
      "setup_ms" -> Map("check_ms" -> (c1 - c0) / 1e6,
        "warmup_ms" -> (c2 - c1) / 1e6)) ++ spansFile()
  }

  // ----------------------------------------------------------------- ingest

  private lazy val corpus = IngestCorpus.generate(seed)

  /** Stages the seeded corpus as (url, content) parquet under the run dir:
    * the pipeline reads only this.
    */
  private lazy val staged: String = {
    import spark.implicits._
    val dir = s"$out/staged"
    spark.sparkContext.parallelize(corpus.map(d => (d.url, d.bytes)), 8)
      .toDF("url", "content").write.mode("overwrite").parquet(dir)
    dir
  }

  private def process() = Pipeline.process(spark.read.parquet(staged),
    SniffingExtractor(), "2026-01-01")

  def ingest(): Map[String, Any] = {
    val t0 = now()
    val digest = IngestCorpus.digest(corpus)
    val inBytes = corpus.map(_.bytes.length.toLong).sum
    val t1 = now()
    staged
    val t2 = now()

    // Untimed pass: every document must land in its expected channel with
    // its expected reason or words.
    val checkDir = s"$out/docs-check"
    val p = process()
    Pipeline.writeDocs(p.docs, checkDir)
    val got = Pipeline.readDocs(spark, checkDir).select("sourceURL", "content")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val quarantined = p.quarantine.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val wrong = corpus.flatMap { d =>
      val verdict = d.expect match {
        case IngestCorpus.Good(text) =>
          if (quarantined.contains(d.url)) Some(s"quarantined: ${quarantined(d.url)}")
          else got.get(d.url) match {
            case None => Some("missing")
            case Some(c) if IngestCorpus.words(c) != IngestCorpus.words(text) =>
              Some("wrong text")
            case _ => None
          }
        case IngestCorpus.Quarantined(reason) =>
          if (got.contains(d.url)) Some("extracted")
          else quarantined.get(d.url) match {
            case Some(`reason`) => None
            case other => Some(s"reason ${other.getOrElse("missing")}, want $reason")
          }
      }
      verdict.map(v => Map("url" -> d.url, "kind" -> d.kind, "problem" -> v))
    }
    spark.catalog.clearCache()
    val t3 = now()

    // Each batch ingests the whole staged corpus: documents to a fresh
    // JSON directory, the quarantine channel through a noop sink.
    var batch = 0
    def ingestBatch(): Sample = {
      batch += 1
      val dir = s"$out/docs-$batch"
      val r = operation("ingest")(process()) { p =>
        Pipeline.writeDocs(p.docs, dir)
        noop(p.quarantine)
      }
      deleteTree(new File(dir))
      r
    }
    // Untimed warm-up: the JIT compiles the codecs' hot paths over the
    // first batches, which run up to twice as long as later ones.
    (1 to IngestWarmupBatches).foreach(_ => ingestBatch())
    val setupMs = Map("generate_ms" -> (t1 - t0), "stage_ms" -> (t2 - t1),
      "check_ms" -> (t3 - t2), "warmup_ms" -> (now() - t3))
    startTracing()
    val (w, samples) = window(Iterator.continually(Seq(() => ingestBatch())))
    val layers = tracer.map(t => traced(t, samples) ++ probes(t)).getOrElse(Map.empty)
    Map("docs" -> corpus.size, "wrong_docs" -> wrong, "corpus_digest" -> digest,
      "input_bytes_per_op" -> inBytes, "setup_ms" -> setupMs, "window" -> w,
      "per_layer" -> layers, "peak_rss_mb" -> peakRssMb(), "cores" -> cores) ++
      spansFile()
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ------------------------------------------------------------ traced run

  /** Per-operation means of what the tracer saw during the window. */
  private def traced(t: Tracer, samples: Seq[Sample]): Map[String, Double] = {
    t.flush()
    val ops = samples.map(_.op)
    val n = math.max(1, ops.size).toDouble
    val tot = ops.map(t.totals)
    def sum(f: TaskTotals => Double) = tot.map(f).sum
    val plans = ops.map(t.plans).foldLeft(PlanDecisions())(_ + _)
    val opSet = ops.toSet
    val spans = Trace.nest(t.snapshot().filter(s => opSet.contains(s.op)))
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
    val self = Trace.selfTime(spans)
    val windowMs = samples.map(_.ms).sum
    val gap = samples.map { s =>
      val root = spans.find(x => x.op == s.op && x.name == "op")
      root.map(r => r.ms - Trace.covered(
        t.taskIntervals.getOrElse(s.op, Nil).toSeq, r.startMs, r.endMs))
        .getOrElse(0.0)
    }.sum
    val catalogOnly =
      if (opt("mode") == "catalog") Map("queries.build_ms" -> spanMs("build"))
      else Map.empty[String, Double]
    catalogOnly ++ Map(
      "catalyst.analysis_ms" -> spanMs("catalyst.analysis"),
      "catalyst.optimization_ms" -> spanMs("catalyst.optimization"),
      "catalyst.planning_ms" -> spanMs("catalyst.planning"),
      "plan.exchanges" -> plans.exchanges / n,
      "plan.broadcast_joins" -> plans.broadcastJoins / n,
      "plan.sort_merge_joins" -> plans.sortMergeJoins / n,
      "plan.fanout_repartitions" -> plans.fanoutRepartitions / n,
      "plan.native_exprs" -> plans.nativeExprs / n,
      "exec.jobs" -> ops.map(t.jobs).sum / n,
      "exec.stages" -> ops.map(t.stages).sum / n,
      "exec.tasks" -> sum(_.tasks.toDouble) / n,
      "exec.task_run_ms" -> sum(_.runMs) / n,
      "exec.task_cpu_ms" -> sum(_.cpuMs) / n,
      "exec.gc_ms" -> sum(_.gcMs) / n,
      "exec.core_util" -> sum(_.runMs) / (windowMs * cores),
      "exec.driver_gap_ms" -> gap / n,
      "exchange.write_bytes" -> sum(_.shuffleWriteBytes.toDouble) / n,
      "exchange.read_bytes" -> sum(_.shuffleReadBytes.toDouble) / n,
      "exchange.records" -> sum(_.shuffleRecords.toDouble) / n,
      "exchange.fetch_wait_ms" -> sum(_.fetchWaitMs) / n,
      "exchange.spill_bytes" -> sum(_.spillBytes.toDouble) / n,
      "scan.bytes" -> sum(_.scanBytes.toDouble) / n,
      "scan.records" -> sum(_.scanRecords.toDouble) / n,
      "scan.tasks" -> sum(_.scanTasks.toDouble) / n,
      "self_ms.op" -> self.getOrElse("op", 0.0) / n,
      "self_ms.build" -> self.getOrElse("build", 0.0) / n,
      "self_ms.sink" -> self.getOrElse("sink", 0.0) / n,
      "self_ms.catalyst" -> self.filter(_._1.startsWith("catalyst.")).values.sum / n,
      "self_ms.spark_job" -> self.getOrElse("spark_job", 0.0) / n)
  }

  /** The layer probes of this workload's side of the program: kernels and
    * operators for the catalog, codecs and pipeline stages for ingest.
    */
  private def probes(t: Tracer): Map[String, Double] = {
    val layers = new Layers(spark, t, data)
    if (opt("mode") == "catalog") layers.kernels() ++ layers.operators()
    else layers.codecs(corpus) ++ ingestStages(t)
  }

  /** Each pipeline stage forced on its own (median of 3), plus the
    * channel counts and the sink's output size.
    */
  private def ingestStages(t: Tracer): Map[String, Double] = {
    val ex = SniffingExtractor()
    val extractUdf = udf((b: Array[Byte]) => ex.extractPages(b))
    def med(name: String)(body: => Unit): Double = {
      val xs = (1 to 3).map { _ =>
        val op = t.nextOp(); t.begin(op)
        try t.ms(t.timed(op, -1, name)(body)._2) finally t.end()
      }.sorted
      xs(1)
    }
    val bins = spark.read.parquet(staged)
    val pagesDf = bins.select(col("url"), posexplode(extractUdf(col("content"))))
    val extract = med("ingest.extract")(noop(pagesDf))
    val docs = med("ingest.docs")(noop(process().docs))
    val quarantine = med("ingest.quarantine")(noop(process().quarantine))
    val sinkDir = s"$out/docs-stage"
    val written = med("ingest.sink")(Pipeline.writeDocs(process().docs, sinkDir))
    val outBytes = Option(new File(sinkDir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-")).map(_.length).sum
    deleteTree(new File(sinkDir))
    val pages = pagesDf.filter(graft.etl.DocOps.nonEmptyPage(col("col"))).count()
    val p = process()
    val good = p.docs.count()
    val reasons = p.quarantine.groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val known = Seq("encrypted", "unsupported-filter:DCTDecode", "not-pdf-or-docx")
    val inBytes = corpus.map(_.bytes.length.toLong).sum
    Map(
      "ingest.extract_ms" -> extract,
      "ingest.reassemble_ms" -> (docs - extract),
      "ingest.quarantine_ms" -> (quarantine - docs),
      "ingest.sink_ms" -> (written - docs),
      "ingest.pages" -> pages.toDouble,
      "ingest.yield" -> good.toDouble / corpus.size,
      "ingest.quarantine.other" ->
        reasons.filter(r => !known.contains(r._1)).values.sum.toDouble,
      "sink.bytes_out_per_in" -> outBytes.toDouble / inBytes) ++
      known.map(r => s"ingest.quarantine.${r.replace(':', '.')}" ->
        reasons.getOrElse(r, 0L).toDouble)
  }

  /** Writes the spans (JSON lines) and returns their file and count. */
  private def spansFile(): Map[String, Any] = tracer.map { t =>
    t.close()
    val spans = Trace.nest(t.snapshot())
    val path = s"$out/spans.jsonl"
    Files.writeString(Paths.get(path), spans.map(s => json(Map(
      "id" -> s.id, "op" -> s.op, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))).mkString("", "\n", "\n"))
    Map("spans_file" -> path, "spans" -> spans.size)
  }.getOrElse(Map.empty)
}
