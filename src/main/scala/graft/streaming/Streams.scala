package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured-Streaming twins of the reference's push-triggered incremental
  * ingest (SURVEY §2.1 S5/S8 → §2.2 streaming caps). Every transform here
  * takes a streaming OR batch DataFrame — the same code path is asserted
  * batch-equivalent in StreamingSpec via Trigger.AvailableNow, which is the
  * contract that makes the operators trustworthy at scale: state stores and
  * watermarks behave identically on a 1000-executor cluster, only the
  * checkpoint location changes.
  */
object Streams {

  /** Incremental file source over a parquet directory — the streaming form
    * of the reference's "process only new files" semantics (S5+S8,
    * auto_ingest.yml push trigger). Exactly-once across restarts comes from
    * the checkpoint, not from file-exists checks.
    */
  def parquetStream(spark: SparkSession, dir: String,
                    schemaFrom: DataFrame): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(dir)

  /** Tumbling 1 h counts per event_type (cap: tumbling window). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("event_type"), col("cnt"))

  /** Sliding 1 h window every 15 min (cap: sliding window). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("cnt"))

  /** 30-min-gap session windows per user (cap: session window; the
    * streaming twin of batch q30_sessionize).
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("s_start"), col("n_events"))

  /** Streaming dedup by event_id within the watermark (cap: streaming dedup —
    * S5 semantics on streams).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  // ------------------------------------------------------- custom state
  final case class ErrorEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class ErrorCount(user_id: Long, n_errors: Long)

  /** Per-user running error count (cap: stateful custom op via
    * mapGroupsWithState). State is one long per key — the smallest possible
    * store. With `evictAfter` set, a processing-time timeout evicts idle
    * users so the store size tracks the active-key working set, not the
    * all-time key count; leave it None for finite AvailableNow runs
    * (processing-time timeouts keep the query alive waiting for wall-clock
    * time, which never terminates under AvailableNow).
    */
  def errorCounts(events: Dataset[ErrorEvent],
                  evictAfter: Option[String] = None): Dataset[ErrorCount] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (evictAfter.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Long, ErrorCount](timeoutConf) {
        (user: Long, rows: Iterator[ErrorEvent], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0L)
            state.remove()
            ErrorCount(user, n)
          } else {
            val n = state.getOption.getOrElse(0L) +
              rows.count(_.event_type == "error")
            state.update(n)
            evictAfter.foreach(state.setTimeoutDuration)
            ErrorCount(user, n)
          }
      }
  }

  // ----------------------------------------------------- streaming funnel
  final case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelState(signup: Option[Timestamp],
                               clicks: Seq[Timestamp],
                               purchases: Seq[Timestamp], seq: Long)
  /** Reader-ordering contract. [[funnelDepthsEvicting]] resets a user's
    * `seq` counter to 1 when post-eviction events restart the funnel from
    * empty state, so seq alone cannot rank updates across an eviction —
    * the settled emission's higher seq would shadow the genuinely newer
    * restart forever. Recency is `(wm, live, seq)` lexicographically:
    *
    *  - `wm` — the event-time watermark (ms) at emission, 0 when the
    *    query has none. A timeout fires only because the watermark
    *    ADVANCED past its timestamp, so an eviction emission's wm is
    *    strictly greater than every update of the lineage it closes; and
    *    any restart emits in a later batch, so its wm is ≥ the eviction's.
    *  - `live` — true for updates from live state, false for the
    *    eviction's final emission. Breaks the wm tie between an eviction
    *    and a restart that the watermark has not yet moved past: the
    *    restart (live) wins.
    *  - `seq` — orders updates within one live lineage (same wm).
    */
  final case class FunnelUpdate(user_id: Long, seq: Long, depth: Int,
                                wm: Long, live: Boolean)

  private val DayMicros = 24L * 3600L * 1000000L
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Streaming twin of batch q46_funnel: per-user funnel depth
    * (1 = signed up, 2 = + clicked within 24 h of first signup,
    * 3 = + purchased within 24 h of that first click), re-emitted in
    * Update mode whenever a user's state changes; the reader keeps the
    * row with the highest `seq` per user. State is the user's per-type
    * timestamp lists — retained in full because a late-arriving earlier
    * signup legally re-anchors the whole funnel (a min-only state could
    * never revise t2/t3). NoTimeout keeps finite AvailableNow runs
    * terminating (same trade as [[errorCounts]]); at scale use
    * [[funnelDepthsEvicting]], whose event-time timeout evicts settled
    * users so state tracks the active working set.
    */
  /** Fold a micro-batch of events into the funnel state (shared by both
    * funnel variants — identical semantics to the batch q46 anchors).
    */
  private def foldFunnel(st: FunnelState,
                         rows: Iterator[FunnelEvent]): FunnelState = {
    var signup = st.signup
    var clicks = st.clicks
    var purchases = st.purchases
    rows.foreach { e =>
      e.event_type match {
        case "signup" =>
          if (signup.forall(s => micros(e.ts) < micros(s))) signup = Some(e.ts)
        case "click"    => clicks = clicks :+ e.ts
        case "purchase" => purchases = purchases :+ e.ts
        case _          => ()
      }
    }
    FunnelState(signup, clicks, purchases, st.seq + 1L)
  }

  /** Resolve the stage anchors exactly as the batch fold: first click in
    * (t1, t1+24h], then first purchase in (t2, t2+24h].
    */
  private def funnelDepth(st: FunnelState): Int = {
    val t1 = st.signup.map(micros)
    val t2 = t1.flatMap(a =>
      st.clicks.map(micros).filter(c => c > a && c <= a + DayMicros)
        .sorted.headOption)
    val t3 = t2.flatMap(a =>
      st.purchases.map(micros).filter(p => p > a && p <= a + DayMicros)
        .sorted.headOption)
    if (t3.isDefined) 3 else if (t2.isDefined) 2
    else if (t1.isDefined) 1 else 0
  }

  /** Watermark at emission, tolerating queries that define none (batch
    * runs / unwatermarked NoTimeout streams report 0 — recency then falls
    * back to the seq counter alone, the pre-eviction contract).
    */
  private def wmMs(state: GroupState[_]): Long =
    try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => 0L }

  def funnelDepths(events: Dataset[FunnelEvent]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelUpdate](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val next = foldFunnel(
            state.getOption.getOrElse(FunnelState(None, Nil, Nil, 0L)), rows)
          state.update(next)
          FunnelUpdate(user, next.seq, funnelDepth(next), wmMs(state),
            live = true)
      }
  }

  /** [[funnelDepths]] with WATERMARK-driven state eviction — the 100 TB
    * form, where the state store must track the ACTIVE user working set
    * instead of growing with all-time users. Callers apply
    * `withWatermark("ts", …)` upstream (EventTimeTimeout requires it);
    * a user's state is dropped once the event-time watermark passes the
    * user's newest funnel event + `settleAfterMs`, at which point the
    * settled depth is re-emitted one final time (readers rank updates by
    * the (wm, seq) recency [[funnelCounts]] uses — see [[FunnelUpdate]]
    * for why seq alone cannot order across an eviction). The trade vs
    * NoTimeout is
    * explicit: an event arriving AFTER its user settled restarts that
    * user's funnel from empty state — the same event would also be beyond
    * any watermarked batch-recomputation window, so streaming and batch
    * agree on what "too late" means.
    */
  def funnelDepthsEvicting(events: Dataset[FunnelEvent],
                           settleAfterMs: Long = 48L * 3600L * 1000L)
      : Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelUpdate](GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val st = state.getOption.getOrElse(FunnelState(None, Nil, Nil, 0L))
            state.remove()
            // final re-emission of the settled depth; recency for readers
            // is (wm, seq) — see FunnelUpdate — so a post-eviction restart
            // (whose seq counter resets to 1) still wins once the
            // watermark advances past this batch's
            FunnelUpdate(user, st.seq + 1L, funnelDepth(st), wmMs(state),
              live = false)
          } else {
            val next = foldFunnel(
              state.getOption.getOrElse(FunnelState(None, Nil, Nil, 0L)), rows)
            state.update(next)
            // settle once the watermark passes the user's newest event +
            // slack; timeout timestamps must sit strictly beyond the
            // current watermark, so clamp against it. A batch carrying
            // only unrecognized event types anchors nothing (maxOption
            // None) — the clamp alone schedules the next possible settle.
            val newestMs = (next.signup.toSeq ++ next.clicks ++ next.purchases)
              .map(t => micros(t) / 1000L).maxOption
            state.setTimeoutTimestamp(math.max(
              newestMs.map(_ + settleAfterMs).getOrElse(0L),
              state.getCurrentWatermarkMs() + 1L))
            FunnelUpdate(user, next.seq, funnelDepth(next), wmMs(state),
              live = true)
          }
      }
  }

  /** The 3-row stage×count funnel from [[funnelDepths]] output: keep each
    * user's LATEST update (max seq), then count users reaching each stage —
    * the batch-q46-equivalent reading of the update stream.
    */
  def funnelCounts(updates: DataFrame): DataFrame = {
    // recency = (wm, live, seq) — see FunnelUpdate: seq alone would let a
    // settled user's eviction emission shadow the restarted (seq-reset)
    // funnel, and wm alone cannot split an eviction from a restart the
    // watermark has not yet moved past (booleans order false < true, so
    // live updates outrank the final emission at equal wm)
    val latest = updates.groupBy("user_id")
      .agg(max_by(col("depth"),
        struct(col("wm"), col("live"), col("seq"))).as("depth"))
    latest.agg(
        sum(when(col("depth") >= 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("depth") >= 2, 1L).otherwise(0L)).as("c2"),
        sum(when(col("depth") >= 3, 1L).otherwise(0L)).as("c3"))
      .select(explode(array(
        struct(lit("signup").as("stage"), lit(1).as("depth"), col("c1").as("n")),
        struct(lit("click").as("stage"), lit(2).as("depth"), col("c2").as("n")),
        struct(lit("purchase").as("stage"), lit(3).as("depth"), col("c3").as("n")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.depth").as("depth"),
              col("s.n").as("n"))
      .orderBy("depth")
  }

  /** The reference's push-triggered PDF ingest as a stream (S5+S8,
    * auto_ingest.yml): a binaryFile source watches a directory, and each
    * micro-batch runs the SAME batch document pipeline via foreachBatch —
    * exactly-once across restarts from the checkpoint, no file-exists
    * checks. Returns after all currently-available files are processed.
    */
  /** @param deleteQuarantined true = after recording a quarantine row,
    *        remove its staged binary (the reference's compensating delete,
    *        import requests.py:84) via the replay-idempotent
    *        Pipeline.compensatingDelete — safe under micro-batch replay
    *        because deletion of an absent file is a no-op.
    *  @param globFilter source pathGlobFilter; the `*.pdf` default is the
    *        original PDF-only watch. The auto_ingest sweep pushes `*.docx`
    *        too — pass a wider glob with `SniffingExtractor` (per-row
    *        format routing) for the mixed stream (r11).
    *  @param category per-row category column evaluated over (url,
    *        content) — `DocOps.autoCategory(col("url"))` for the
    *        reference's vol*-vs-statute rule.
    */
  /** @param maxFilesPerTrigger source micro-batch size cap. None keeps
    *        the source default (AvailableNow drains everything in one
    *        batch); the r16 streaming-scale rig sets it so a 100× file
    *        count runs as 100× batches of the SAME size — the shape a
    *        production watch directory (bounded arrivals per trigger)
    *        actually produces, and the one that makes per-batch state
    *        boundedness measurable.
    */
  def ingestPdfStream(spark: SparkSession, watchDir: String, outDir: String,
                      checkpoint: String,
                      extractor: graft.etl.PageExtractor,
                      ingestDate: String,
                      deleteQuarantined: Boolean = false,
                      globFilter: String = "*.pdf",
                      category: org.apache.spark.sql.Column =
                        lit("CassationDecision"),
                      maxFilesPerTrigger: Option[Int] = None,
                      sourceOptions: Map[String, String] = Map.empty): Unit = {
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val reader = spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", globFilter)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    // extra file-source options (r17 — the retention levers DEPLOY.md
    // names): `cleanSource=delete|archive` bounds the WATCH DIRECTORY
    // by removing processed inputs (the real production disk-pressure
    // bound), `spark.sql.streaming.fileSource.log.*` session confs
    // bound the per-batch log-file population. Pass-through rather than
    // defaults: batch-parity tests and the REST path don't want inputs
    // vanishing under them.
    sourceOptions.foreach { case (k, v) => reader.option(k, v) }
    val stream = reader.load(watchDir)
      .select(col("path").as("url"), col("content"))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // A batch is extracted once: the two channel sinks share the
        // extracted rows Pipeline.process caches. persist serves the
        // raster-loss pass, the batch's second reader, which would
        // otherwise re-read the staged files.
        batch.persist()
        try {
          val out = graft.etl.Pipeline.process(batch, extractor, ingestDate,
            category = category)
          // batchId-keyed overwrite makes the write IDEMPOTENT: a replayed
          // micro-batch (sink write succeeded but checkpoint commit didn't)
          // overwrites its own directory instead of appending duplicates —
          // this is what makes the exactly-once claim true end-to-end
          out.docs.write.mode("overwrite").json(s"$outDir/documents/$batchId")
          out.quarantine.write.mode("overwrite")
            .json(s"$outDir/quarantine/$batchId")
          // raster-loss channel (r14, the batch pipeline's VERDICT r13 #4
          // twin): GOOD-channel documents with skipped raster streams
          // never reach quarantine, so the loss gets its own
          // batchId-keyed idempotent sink — structure-only re-parse over
          // the already-persisted batch, rows only for lossy documents.
          // Loss-FREE batches write NOTHING (r14 ADVICE: an empty JSON
          // dataset is only schema-less empty part files, which fail a
          // consumer's spark.read.json with 'Unable to infer schema' —
          // the reader contract is "absent batchId dir ⇒ no loss").
          // The empty branch DELETES a leftover batchId dir (review
          // r15): a replayed batch whose loss flips to empty — codec or
          // password changed across the restart — must heal the prior
          // attempt's stale rows exactly like the overwrite used to.
          // persist: isEmpty + write would otherwise run the
          // structure-only re-parse UDF twice per lossy batch.
          val loss = graft.etl.Pipeline.rasterLoss(batch, extractor).persist()
          try {
            if (loss.isEmpty) {
              val dir = new org.apache.hadoop.fs.Path(
                s"$outDir/raster_loss/$batchId")
              val fs = dir.getFileSystem(
                batch.sparkSession.sparkContext.hadoopConfiguration)
              if (fs.exists(dir)) {
                // a silent false return would commit the batch with the
                // stale rows still on disk and no replay left to retry
                // the heal — fail loudly like the write branch would
                // (review r15 round 2)
                if (!fs.delete(dir, true))
                  throw new java.io.IOException(
                    s"failed to heal stale raster-loss dir $dir")
                // keep ONE representation of "no loss": if that was the
                // last batchId dir, drop the now-empty parent too — the
                // reader contract is dir-absence, and foreachBatch is
                // serial so the list+delete is race-free
                val parent = dir.getParent
                if (fs.listStatus(parent).isEmpty) fs.delete(parent, true)
              }
            } else loss.write.mode("overwrite")
              .json(s"$outDir/raster_loss/$batchId")
          } finally loss.unpersist()
          // compensating action AFTER the quarantine record is durable —
          // the audit row survives even if the delete pass is replayed. It
          // deletes exactly what that record holds, read back with a fixed
          // schema (an empty quarantine has none to infer).
          if (deleteQuarantined)
            graft.etl.Pipeline.compensatingDelete(
              batch.sparkSession.read.schema("url STRING, reason STRING")
                .json(s"$outDir/quarantine/$batchId"), "url")
        } finally batch.unpersist()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Incremental near-dup screening AT INGEST as a stream — q56/q134's
    * semantics made continuous (the missing third leg of that story:
    * batch operator q56, md5-oracled audit q134, and THIS, the running
    * form). A parquet docs stream (doc_id, text) is screened per
    * micro-batch against the ACCUMULATED corpus signature store — an
    * at-rest parquet table of [[graft.operators.MinHashLsh.signatures]]
    * rows under `outDir/sigs/<batchId>` that this same query appends to
    * AFTER screening — plus the batch's internal pairs. That ordering +
    * batchId-keyed OVERWRITE writes + excluding the current batchId's
    * sig directory when reading the store make every micro-batch
    * idempotent under replay (the ingestPdfStream exactly-once rule).
    * Scale economics per ingest: ONE signature pass over the batch text
    * (the corpus text is NEVER re-scanned — its signatures are at rest,
    * ~50 longs/doc), a broadcast of the batch's band probes against the
    * store scan, exact verification on candidates only; corpus×corpus
    * pairs never form. Pairs land under `outDir/pairs/<batchId>` as
    * (i, j, jaccard, kind ∈ within|cross, batch_id).
    */
  def neardupIngestStream(spark: SparkSession, watchDir: String,
                          outDir: String, checkpoint: String,
                          threshold: Double = 0.8,
                          maxFilesPerTrigger: Int = 1): Unit = {
    import graft.operators.MinHashLsh
    val docsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // the sig/pair store lifecycle is coupled to the checkpoint — BOTH
    // divergence directions corrupt silently, so both fail fast (review
    // findings, r10 + r11):
    //  (a) fresh checkpoint + populated store: batchIds restart at 0 and
    //      the batchId-keyed overwrites clobber earlier batches while
    //      stale higher-numbered sig dirs keep feeding the cross probe.
    //      Detected via the OFFSETS log (written before any processing,
    //      so a legitimately crashed-mid-batch-0 run — offsets present,
    //      sigs already written — is still allowed to replay).
    //  (b) committed checkpoint + missing/emptied store: batches resume
    //      past the deletion and the cross probe sees no prior sigs, so
    //      duplicates of every pre-restart document silently stop being
    //      reported. Detected via the COMMITS log (a commit is written
    //      only AFTER foreachBatch returns, i.e. after that batch's sig
    //      write was durable — commits ⇒ sigs must exist).
    locally {
      val conf = spark.sparkContext.hadoopConfiguration
      val cpOffsets = new org.apache.hadoop.fs.Path(s"$checkpoint/offsets")
      val cpCommits = new org.apache.hadoop.fs.Path(s"$checkpoint/commits")
      val sigsBase = new org.apache.hadoop.fs.Path(s"$outDir/sigs")
      val cpFs = cpOffsets.getFileSystem(conf)
      val sigFs = sigsBase.getFileSystem(conf)
      def numericNames(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path,
                       dirsOnly: Boolean): Set[Long] =
        if (!fs.exists(p)) Set.empty
        else fs.listStatus(p).toSeq
          .filter(s => !dirsOnly || s.isDirectory)
          .map(_.getPath.getName)
          .collect { case n if n.forall(_.isDigit) && n.nonEmpty => n.toLong }
          .toSet
      val offsetsEmpty =
        !cpFs.exists(cpOffsets) || cpFs.listStatus(cpOffsets).isEmpty
      // commit-log entries are the batchIds whose foreachBatch RETURNED —
      // i.e. whose sigs/<id> write was durable before the commit
      val committedIds = numericNames(cpFs, cpCommits, dirsOnly = false)
      val sigIds = numericNames(sigFs, sigsBase, dirsOnly = true)
      require(!(offsetsEmpty && sigIds.nonEmpty),
        s"neardupIngestStream: signature store $outDir/sigs already holds " +
          s"batch directories but checkpoint $checkpoint is empty — a " +
          "fresh checkpoint restarts batchIds at 0 and would silently " +
          "corrupt the store. Delete outDir and checkpoint together, or " +
          "reuse the original checkpoint.")
      // coverage, not mere non-emptiness (review finding r11 #2): a
      // PARTIALLY deleted store (sigs/1 gone, sigs/0 and sigs/2 intact)
      // would pass an exists() check and silently stop reporting
      // duplicates of the deleted batch's documents
      val missing = committedIds -- sigIds
      require(missing.isEmpty,
        s"neardupIngestStream: checkpoint $checkpoint has committed " +
          s"batches ${missing.toSeq.sorted.mkString(",")} whose signature " +
          s"directories are missing under $outDir/sigs — " +
          "resuming would silently stop reporting duplicates of those " +
          "batches' documents. Delete outDir and checkpoint together, or " +
          "restore the store.")
    }
    val stream = spark.readStream
      .schema(docsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(watchDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch signature frame feeds the cross probe, the within
        // self-probe AND the store append — one text pass, three readers
        val batchSigs = MinHashLsh.signatures(batch, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // resolve through outDir's OWN filesystem — the default-FS client
          // would throw (or silently list a different store) whenever
          // outDir's scheme differs from fs.defaultFS (review finding)
          val sigsBase = new org.apache.hadoop.fs.Path(s"$outDir/sigs")
          val fs = sigsBase
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          // the store = every PRIOR batch's signatures; the current
          // batchId is excluded so a replayed micro-batch (sig write
          // survived, checkpoint commit didn't) cannot screen the batch
          // against itself through the store
          val prior =
            if (fs.exists(sigsBase))
              fs.listStatus(sigsBase).filter(_.isDirectory)
                .map(_.getPath.toString)
                .filterNot(_.endsWith(s"/$batchId"))
            else Array.empty[String]
          val cross =
            if (prior.isEmpty)
              spark.emptyDataFrame
                .select(lit(0L).as("i"), lit(0L).as("j"),
                  lit(0.0).as("jaccard")).limit(0)
            else MinHashLsh.crossNearDupPairsFromSigs(batchSigs,
              spark.read.parquet(prior.toIndexedSeq: _*), threshold)
          // within-batch pairs from the SAME signature frame — the self
          // form cuts i < j at CANDIDATE time, so mirrored orderings and
          // self-pairs never reach the verify kernel (review finding)
          val within = MinHashLsh
            .nearDupPairsFromSigs(batchSigs, threshold,
              broadcastCandidates = true) // batch-bounded by construction
          val pairs = within.select(col("i"), col("j"), col("jaccard"),
              lit("within").as("kind"))
            .unionByName(cross.select(col("i"), col("j"), col("jaccard"),
              lit("cross").as("kind")))
            .withColumn("batch_id", lit(batchId))
          pairs.write.mode("overwrite").parquet(s"$outDir/pairs/$batchId")
          // append to the store ONLY after the pair write is durable
          batchSigs.write.mode("overwrite")
            .parquet(s"$outDir/sigs/$batchId")
        } finally { batchSigs.unpersist(); () }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  final case class TransEvent(user_id: Long, ts: Timestamp,
                              event_type: String, event_id: Long)
  final case class TransState(lastUs: Long, lastType: String)
  final case class Transition(src_type: String, dst_type: String)

  /** Streaming twin of batch q87_event_transitions' extraction stage:
    * per-user consecutive-event (src, dst) pairs whenever the gap is
    * ≤ `gapUs` (inclusive — the batch boundary rule), with the SAME
    * (ts, event_id) order contract. State per user is ONE (ts, type)
    * tuple — bounded, the q46-min-anchor economics — carried across
    * micro-batches so a transition spanning two batches still counts;
    * within a batch rows sort by (us, event_id) before folding, so
    * arrival order inside a trigger never changes the answer. Appended
    * transitions feed [[transitionCounts]] (Update-mode aggregation) or
    * any sink. Events older than the user's carried state are the
    * streaming-vs-batch divergence point exactly as in the funnel
    * eviction story: an out-of-order event across batches would also be
    * beyond a watermarked recomputation window.
    */
  def transitions(events: Dataset[TransEvent],
                  gapUs: Long = 1800000000L): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[TransEvent], state: GroupState[TransState]) =>
          val sorted = rows.toVector.sortBy(e => (micros(e.ts), e.event_id))
          var last = state.getOption
          val out = Vector.newBuilder[Transition]
          sorted.foreach { e =>
            val us = micros(e.ts)
            last.foreach { l =>
              if (us - l.lastUs <= gapUs)
                out += Transition(l.lastType, e.event_type)
            }
            last = Some(TransState(us, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Update-mode rollup of [[transitions]] — the live transition matrix. */
  def transitionCounts(trans: DataFrame): DataFrame =
    trans.groupBy("src_type", "dst_type").agg(count(lit(1)).as("n"))

  final case class BasketState(lastUs: Long, tys: List[String])
  final case class Basket(tys: Seq[String])

  /** Streaming twin of batch q98_session_itemsets' extraction stage:
    * per-user 30-minute-gap sessions fold into a distinct-type basket;
    * a session EMITS (sorted type set) only when a later event CLOSES it
    * (gap strictly greater than `gapUs` — the inclusive batch boundary
    * rule), so each user's open tail session is carried, not emitted.
    * State per user is ONE (ts, distinct-type list) pair, bounded by
    * #types (the q46-min-anchor economics), carried across micro-batches
    * so a session straddling triggers stays ONE basket; within a batch
    * rows sort by (us, event_id) before folding. Streaming-vs-batch
    * divergence points: the open tail (above), and — as in
    * [[transitions]] — an event arriving out of order ACROSS
    * micro-batches: the fold's lastUs follows arrival, so a late event
    * can rewind it and fragment a session batch q98 would merge, exactly
    * as it would fall outside a watermarked recomputation window. Closed
    * baskets feed [[basketPairCounts]] (update-mode co-occurrence
    * rollup) or any sink.
    */
  def sessionBaskets(events: Dataset[TransEvent],
                     gapUs: Long = 1800000000L): Dataset[Basket] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BasketState, Basket](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[TransEvent], state: GroupState[BasketState]) =>
          val sorted = rows.toVector.sortBy(e => (micros(e.ts), e.event_id))
          var cur = state.getOption
          val out = Vector.newBuilder[Basket]
          sorted.foreach { e =>
            val us = micros(e.ts)
            cur match {
              case Some(c) if us - c.lastUs <= gapUs =>
                cur = Some(BasketState(us,
                  if (c.tys.contains(e.event_type)) c.tys
                  else e.event_type :: c.tys))
              case Some(c) =>
                out += Basket(c.tys.sorted)
                cur = Some(BasketState(us, List(e.event_type)))
              case None =>
                cur = Some(BasketState(us, List(e.event_type)))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Update-mode pair rollup of [[sessionBaskets]] — the live
    * co-occurrence table (the q98 pair expansion over closed baskets).
    */
  def basketPairCounts(baskets: DataFrame): DataFrame =
    baskets
      .select(explode(expr(graft.queries.Analytics.typePairsExpr)).as("p"))
      .select(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))

  /** Ingest-side vocabulary-coverage monitor — the streaming twin of the
    * q93 OOV screen: per source, RUNNING token and out-of-vocabulary
    * counts against a STATIC vocab frame (one `t` column), the coverage
    * alarm a pipeline watches while a new crawl streams in (a rising OOV
    * rate on a source means the trained tokenizer no longer fits what
    * that source now sends). The vocab joins per micro-batch as a
    * broadcast static side (the [[enrich]] pattern — no state store for
    * the join); the rollup is an update-mode stateful aggregation whose
    * state is #sources rows, so it runs forever without a watermark.
    * Emits (source, n_tok, n_oov) updates; rate = n_oov/n_tok downstream.
    */
  def oovRates(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .join(broadcast(vocab.select(col("t"), lit(1L).as("inv"))),
        Seq("t"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))

  /** Live hour-of-day traffic shape — the streaming twin of batch
    * q108's extraction: running (event_type, hour) counts as an
    * update-mode stateful aggregation whose state is ≤ #types×24 rows,
    * so it runs forever without a watermark (the [[oovRates]]
    * economics). Hour is the same pure integer epoch arithmetic as the
    * batch entry (no timezone/date-trunc semantics); shares normalize
    * downstream where the consumer chooses the window.
    */
  def hourCounts(events: DataFrame): DataFrame =
    events
      .filter(expr("unix_micros(ts) >= 0"))
      .groupBy(col("event_type"),
        expr(graft.queries.Analytics.hourOfDayExpr).as("hour"))
      .agg(count(lit(1)).as("n"))

  /** Live daily-active-users monitor — the streaming twin of batch
    * q114's DAU grain: exact distinct (event_type, user_id, day) via
    * dropDuplicatesWithinWatermark under a 48 h delay (dedup state
    * EVICTS as the watermark advances — same-day duplicates are at most
    * 24 h apart in event time, so on-time data dedups exactly; the
    * no-eviction plain dropDuplicates would grow state forever), then
    * an event-time day-window count that FINALIZES when the day closes
    * (append mode — each emitted row is the day's final exact DAU, the
    * sessionBaskets emit-when-closed semantics). Divergences from the
    * batch entry, stated: the open day is not emitted until the
    * watermark passes it, and events arriving later than the watermark
    * delay are dropped where the batch entry counts them. WAU is the
    * same shape at a 7-day window; at production scale the exact dedup
    * state trades for a sketch (the q72/q16b contract).
    */
  def dauCounts(events: DataFrame): DataFrame =
    events
      .filter(expr(graft.queries.Analytics.tsNonNegExpr))
      .withWatermark("ts", "48 hours")
      .withColumn("day", expr(graft.queries.Analytics.epochDayExpr))
      .dropDuplicatesWithinWatermark("event_type", "user_id", "day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("dau"))
      .select(col("event_type"),
        expr("unix_micros(window.start) div 86400000000").as("day"),
        col("dau"))

  /** Stream ⋈ static dimension enrichment (the ingest-side join every
    * pipeline needs): per micro-batch hash join against the static side —
    * no state store, broadcast when small.
    */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String,
             dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
                col(eventKey) === col(dimKey), "left")

  /** Stream-stream inner join within a time bound: purchases matched to the
    * same user's signups at most 30 days earlier. Both sides carry
    * watermarks and the join condition bounds event-time distance, so the
    * state store retains only the bounded window — the 100 TB-safe shape
    * (an unbounded stream-stream join would accrete state forever).
    */
  def purchasesWithRecentSignup(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    purchases.join(signups,
      col("user_id") === col("s_user") &&
      col("s_ts") <= col("p_ts") &&
      col("s_ts") >= col("p_ts") - expr("INTERVAL 30 DAYS"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("s_ts"))
  }

  /** transformWithState twin of [[errorCounts]] — the Spark 4 arbitrary-state
    * API (typed state handles, RocksDB-backed store). Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * ...RocksDBStateStoreProvider` on the session running the stream.
    */
  class ErrorCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ErrorEvent, ErrorCount] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[ErrorEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[ErrorCount] = {
      val n = (if (count.exists()) count.get() else 0L) +
        rows.count(_.event_type == "error")
      count.update(n)
      Iterator.single(ErrorCount(user, n))
    }
  }

  /** [[errorCounts]] via transformWithState (see [[ErrorCountProcessor]]). */
  def errorCountsTws(events: Dataset[ErrorEvent]): Dataset[ErrorCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.user_id)
      .transformWithState(new ErrorCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** State-API-v2 twin of [[funnelDepthsEvicting]]: the same
    * watermark-driven settle/evict/restart semantics expressed as a
    * `StatefulProcessor` with EVENT-TIME TIMERS — the Spark-4-native form
    * of the 100 TB shape (typed state handles on the RocksDB store;
    * timers are an explicit per-key SET here rather than GroupState's
    * single timeout slot, so each input batch replaces the key's pending
    * timer). Kept semantically identical to the v1 operator — same fold,
    * same depth resolution, same (wm, live, seq) recency contract — and
    * StreamingSpec asserts the same eviction/restart scenario on it.
    */
  class FunnelProcessor(settleAfterMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, FunnelEvent, FunnelUpdate] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState,
      TimerValues, ExpiredTimerInfo}
    import org.apache.spark.sql.Encoders
    @transient private var st: ValueState[FunnelState] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[FunnelEvent],
        timers: TimerValues): Iterator[FunnelUpdate] = {
      val next = foldFunnel(
        if (st.exists()) st.get() else FunnelState(None, Nil, Nil, 0L), rows)
      st.update(next)
      // one pending settle timer per key: replace, don't accumulate
      // (materialize before deleting — don't mutate under a live state-
      // store iterator; the list is ≤1 element by this same invariant)
      getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
      val newestMs = (next.signup.toSeq ++ next.clicks ++ next.purchases)
        .map(t => micros(t) / 1000L).maxOption
      getHandle.registerTimer(math.max(
        newestMs.map(_ + settleAfterMs).getOrElse(0L),
        timers.getCurrentWatermarkInMs() + 1L))
      Iterator.single(FunnelUpdate(user, next.seq, funnelDepth(next),
        timers.getCurrentWatermarkInMs(), live = true))
    }
    override def handleExpiredTimer(user: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[FunnelUpdate] = {
      val cur = if (st.exists()) st.get() else FunnelState(None, Nil, Nil, 0L)
      st.clear()
      Iterator.single(FunnelUpdate(user, cur.seq + 1L, funnelDepth(cur),
        timers.getCurrentWatermarkInMs(), live = false))
    }
  }

  /** [[funnelDepthsEvicting]] via transformWithState (see
    * [[FunnelProcessor]]). Callers apply `withWatermark("ts", …)` upstream
    * (TimeMode.EventTime requires it) and run on the RocksDB state store
    * provider.
    */
  def funnelDepthsTws(events: Dataset[FunnelEvent],
                      settleAfterMs: Long = 48L * 3600L * 1000L)
      : Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(settleAfterMs),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Run any of the above to a memory sink with Trigger.AvailableNow and
    * return the materialized result — the batch-equivalence harness used by
    * StreamingSpec (SURVEY §5.4).
    */
  def runAvailableNow(out: DataFrame, name: String, checkpoint: String,
                      outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val q = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    out.sparkSession.table(name)
  }
}
