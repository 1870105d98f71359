package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming caps verified by batch-equivalence (SURVEY §5.4): each
  * streaming transform run with Trigger.AvailableNow over the events corpus
  * must equal its batch twin on the same data. This pins watermark/window
  * semantics before anything relies on them.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // Stage the sf0.001 events as a micro-batch-able parquet dir (µs
  // timestamps — the streaming source can't read the raw ns parquet either,
  // so the staged dir is the shared input for both sides).
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft_events").toString
    Tables.events(spark, sf0001).repartition(4)
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private lazy val batchEvents = spark.read.parquet(eventsDir)

  private def ckpt() = Files.createTempDirectory("graft_ckpt").toString

  test("tumbling window — AvailableNow equals batch") {
    val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
    // Complete mode: append-mode windows close only when a LATER batch
    // advances the watermark past them — under AvailableNow there is no
    // later batch, so append emits nothing for a finite corpus.
    val got = Streams.runAvailableNow(
      Streams.tumblingCounts(stream), "t_tumble", ckpt(),
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val want = Streams.tumblingCounts(batchEvents)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("sliding window — AvailableNow equals batch") {
    val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
    val got = Streams.runAvailableNow(
      Streams.slidingCounts(stream), "t_slide", ckpt(),
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val want = Streams.slidingCounts(batchEvents)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("session window — AvailableNow equals batch, and matches q30 totals") {
    val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
    val got = Streams.runAvailableNow(
      Streams.sessionCounts(stream), "t_sess", ckpt(),
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val want = Streams.sessionCounts(batchEvents)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // cross-check against the batch lag+cumsum sessionizer (q30): same
    // per-user session counts
    val q30 = graft.queries.Catalog.byName("q30_sessionize").build(spark, sf0001)
      .select($"user_id", $"n_sessions")
    val fromWindows = got.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"))
    assert(fromWindows.exceptAll(q30).isEmpty && q30.exceptAll(fromWindows).isEmpty)
  }

  test("streaming dedup within watermark — duplicates collapse") {
    val dupDir = Files.createTempDirectory("graft_dup").toString
    val dup = batchEvents.union(batchEvents.limit(100))
    dup.repartition(3).write.mode("overwrite").parquet(dupDir)
    val stream = Streams.parquetStream(spark, dupDir, batchEvents)
    val got = Streams.runAvailableNow(Streams.dedupEvents(stream), "t_dedup", ckpt())
    assert(got.count() === batchEvents.count())
    assert(got.select("event_id").distinct().count() === got.count())
  }

  test("stateful error counts (mapGroupsWithState) — totals match batch") {
    val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
      .select($"user_id", $"ts", $"event_type").as[Streams.ErrorEvent]
    val got = Streams.runAvailableNow(
      Streams.errorCounts(stream).toDF(), "t_errs", ckpt(),
      org.apache.spark.sql.streaming.OutputMode.Update())
    // Update mode: last emission per user carries the final running count
    val finals = got.groupBy("user_id").agg(max("n_errors").as("n_errors"))
    val want = batchEvents.filter($"event_type" === "error")
      .groupBy("user_id").agg(count(lit(1)).as("n_errors"))
    val diff = finals.join(want, Seq("user_id"))
      .filter(finals("n_errors") =!= want("n_errors"))
    assert(diff.count() === 0)
  }

  test("streaming funnel (mapGroupsWithState) — stage counts match batch q46") {
    val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
      .filter($"event_type".isin("signup", "click", "purchase"))
      .select($"user_id", $"ts", $"event_type").as[Streams.FunnelEvent]
    val updates = Streams.runAvailableNow(
      Streams.funnelDepths(stream).toDF(), "t_funnel", ckpt(),
      org.apache.spark.sql.streaming.OutputMode.Update())
    val got = Streams.funnelCounts(updates)
    val want = graft.queries.Catalog.byName("q46_funnel").build(spark, sf0001)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"streaming funnel ${got.collect().toSeq} != batch ${want.collect().toSeq}")
    // and the funnel is monotone by construction
    val ns = got.orderBy("depth").select("n").as[Long].collect()
    assert(ns.sorted.reverse.sameElements(ns), s"non-monotone funnel: ${ns.toSeq}")
  }

  test("evicting funnel — batch-equivalent when no user settles mid-run") {
    // wide watermark + settle window: no event is late and no user settles
    // before end-of-input, so the evicting variant must reproduce the
    // NoTimeout variant's (= batch q46's) counts exactly
    val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
      .filter($"event_type".isin("signup", "click", "purchase"))
      .withWatermark("ts", "3650 days")
      .select($"user_id", $"ts", $"event_type").as[Streams.FunnelEvent]
    val updates = Streams.runAvailableNow(
      Streams.funnelDepthsEvicting(stream,
        settleAfterMs = 3650L * 24 * 3600 * 1000).toDF(),
      "t_funnel_evict", ckpt(),
      org.apache.spark.sql.streaming.OutputMode.Update())
    val got = Streams.funnelCounts(updates)
    val want = graft.queries.Catalog.byName("q46_funnel").build(spark, sf0001)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"evicting funnel ${got.collect().toSeq} != batch ${want.collect().toSeq}")
  }

  test("evicting funnel — watermark evicts settled users; post-settle data restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(hours: Long) = new java.sql.Timestamp(t0.getTime + hours * 3600_000L)
    val src = MemoryStream[Streams.FunnelEvent]
    val updates = Streams.funnelDepthsEvicting(
      src.toDS().withWatermark("ts", "1 hour").as[Streams.FunnelEvent],
      settleAfterMs = 24L * 3600 * 1000)
    val q = updates.toDF().writeStream.format("memory")
      .queryName("t_funnel_wm").outputMode("update")
      .option("checkpointLocation", ckpt()).start()
    try {
      // batch 1: user 1 completes the funnel (depth 3)
      src.addData(
        Streams.FunnelEvent(1L, at(0), "signup"),
        Streams.FunnelEvent(1L, at(1), "click"),
        Streams.FunnelEvent(1L, at(2), "purchase"))
      q.processAllAvailable()
      // batch 2: a far-future event advances the watermark to t0+99h —
      // beyond user 1's newest event (t0+2h) + 24h settle, so user 1's
      // state is evicted in the watermark-commit batch that follows
      src.addData(Streams.FunnelEvent(2L, at(100), "signup"))
      q.processAllAvailable()
      // batch 3: a fresh event keeps the query moving so the timeout fires
      src.addData(Streams.FunnelEvent(2L, at(101), "click"))
      q.processAllAvailable()
      val after = spark.table("t_funnel_wm")
        .filter($"user_id" === 1L)
        .select("seq", "depth").as[(Long, Int)].collect().toSet
      // batch 1 emitted (seq 1, depth 3); the timeout re-emits the settled
      // depth with the incremented seq — (2, 3) proves the eviction fired
      assert(after === Set((1L, 3), (2L, 3)),
        s"settled user 1 should re-emit depth 3 on eviction: $after")
      // batch 4: user 1 events arriving AFTER eviction fold from EMPTY
      // state — a lone click yields (seq 1, depth 0), proving the state was
      // dropped (retained state would extend the old depth-3 funnel, and a
      // fresh fold restarts the seq counter at 1)
      src.addData(Streams.FunnelEvent(1L, at(102), "click"))
      q.processAllAvailable()
      // advance the watermark past the restart batch so the (wm, seq)
      // recency can rank the restart above the eviction emission
      src.addData(Streams.FunnelEvent(2L, at(200), "purchase"))
      q.processAllAvailable()
      src.addData(Streams.FunnelEvent(1L, at(201), "signup"))
      q.processAllAvailable()
      val restarted = spark.table("t_funnel_wm")
        .filter($"user_id" === 1L)
        .select("seq", "depth").as[(Long, Int)].collect().toSet -- after
      assert(restarted.contains((1L, 0)),
        s"post-eviction click must restart from empty state: $restarted")
      // and the funnelCounts reader must rank the restarted funnel (seq
      // reset to 1) ABOVE the settled depth-3 eviction emissions — the
      // (wm, live, seq) recency contract. User 1's latest state is the
      // lone post-restart signup → depth 1; user 2 reached depth 2
      // (signup+click; the purchase@200h is outside its 24 h window). So
      // signup counts both users, click only user 2, purchase nobody —
      // user 1's old depth-3 funnel must be gone from the purchase stage.
      val counts = Streams.funnelCounts(spark.table("t_funnel_wm"))
        .orderBy("depth").select("n").as[Long].collect().toSeq
      assert(counts === Seq(2L, 1L, 0L),
        s"funnelCounts must follow the restarted user, got $counts")
    } finally q.stop()
  }

  test("transformWithState funnel — event-time timers evict and restart (v2 twin)") {
    // the SAME eviction/restart scenario as the GroupState variant above,
    // run through the state-API-v2 processor (RocksDB store, explicit
    // per-key timer set) — semantics must be indistinguishable
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try { // everything after the conf set — a start()/scenario failure must
          // not leak the provider override into later tests
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(hours: Long) = new java.sql.Timestamp(t0.getTime + hours * 3600_000L)
    val src = MemoryStream[Streams.FunnelEvent]
    val updates = Streams.funnelDepthsTws(
      src.toDS().withWatermark("ts", "1 hour").as[Streams.FunnelEvent],
      settleAfterMs = 24L * 3600 * 1000)
    val q = updates.toDF().writeStream.format("memory")
      .queryName("t_funnel_tws").outputMode("update")
      .option("checkpointLocation", ckpt()).start()
    try {
      src.addData(
        Streams.FunnelEvent(1L, at(0), "signup"),
        Streams.FunnelEvent(1L, at(1), "click"),
        Streams.FunnelEvent(1L, at(2), "purchase"))
      q.processAllAvailable()
      src.addData(Streams.FunnelEvent(2L, at(100), "signup"))
      q.processAllAvailable()
      src.addData(Streams.FunnelEvent(2L, at(101), "click"))
      q.processAllAvailable()
      val after = spark.table("t_funnel_tws")
        .filter($"user_id" === 1L)
        .select("seq", "depth").as[(Long, Int)].collect().toSet
      assert(after === Set((1L, 3), (2L, 3)),
        s"settled user 1 should re-emit depth 3 on timer expiry: $after")
      // post-eviction events must fold from EMPTY state (seq restarts at 1)
      src.addData(Streams.FunnelEvent(1L, at(102), "click"))
      q.processAllAvailable()
      src.addData(Streams.FunnelEvent(2L, at(200), "purchase"))
      q.processAllAvailable()
      src.addData(Streams.FunnelEvent(1L, at(201), "signup"))
      q.processAllAvailable()
      val restarted = spark.table("t_funnel_tws")
        .filter($"user_id" === 1L)
        .select("seq", "depth").as[(Long, Int)].collect().toSet -- after
      assert(restarted.contains((1L, 0)),
        s"post-eviction click must restart from empty state: $restarted")
      // the (wm, live, seq) reader contract holds across the v2 operator too
      val counts = Streams.funnelCounts(spark.table("t_funnel_tws"))
        .orderBy("depth").select("n").as[Long].collect().toSeq
      assert(counts === Seq(2L, 1L, 0L),
        s"funnelCounts must follow the restarted user, got $counts")
    } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming decontamination gate — bloom predicate filters a live stream") {
    // the per-row bloom predicate needs no join/state, so it runs under
    // writeStream as-is; batch-equivalence: the same predicate over the
    // same rows as a batch filter
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val benchText = (1 to 12).map(i => s"bench$i").mkString(" ")
    val docsRows = Seq(
      (1L, (1 to 15).map(i => s"clean$i").mkString(" ")),
      (2L, s"some prefix $benchText suffix words"),
      (3L, (1 to 15).map(i => s"other$i").mkString(" ")))
    val benchSh = graft.operators.Decontaminate.shingleSet(
      Seq((9L, benchText)).toDF("doc_id", "text"), "doc_id", "text")
    val bloom = graft.functions.BloomOps.buildLongFilter(
      benchSh.select("sh").distinct(), "sh", 1000L, 0.01)
    val src = MemoryStream[(Long, String)]
    val gated = src.toDS().toDF("doc_id", "text")
      .filter(!graft.operators.Decontaminate.bloomContaminated($"text", bloom))
    val q = gated.writeStream.format("memory").queryName("t_decon_gate")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      src.addData(docsRows: _*)
      q.processAllAvailable()
      val got = spark.table("t_decon_gate").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(got === Seq(1L, 3L), s"contaminated doc 2 must be gated: $got")
      // batch twin of the same predicate agrees row-for-row
      val batch = docsRows.toDF("doc_id", "text")
        .filter(!graft.operators.Decontaminate.bloomContaminated($"text", bloom))
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(batch === got)
    } finally q.stop()
  }

  test("binaryFile PDF ingest stream — incremental, exactly-once (S5+S8)") {
    val watch = Files.createTempDirectory("graft_pdfwatch").toString
    val out = Files.createTempDirectory("graft_pdfout").toString
    val checkpoint = ckpt()
    def pdf(text: String): Array[Byte] =
      ("%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nstream\n" +
       s"BT ($text) Tj ET\nendstream\nendobj\n%%EOF").getBytes("ISO-8859-1")
    Files.write(java.nio.file.Paths.get(s"$watch/Vol%2001.pdf"), pdf("Decided 1998 alpha"))
    Streams.ingestPdfStream(spark, watch, out, checkpoint,
      graft.etl.FlatePdfExtractor, "2026-08-12")
    val docs1 = graft.etl.Pipeline.readDocs(spark, s"$out/documents/*")
    assert(docs1.count() === 1)
    assert(docs1.select("year").as[String].head() === "1998")
    // push a second file; restart from the same checkpoint — only the new
    // file is processed (appended once, no reprocessing of Vol 01)
    Files.write(java.nio.file.Paths.get(s"$watch/Vol%2002.pdf"), pdf("Decided 2003 beta"))
    Streams.ingestPdfStream(spark, watch, out, checkpoint,
      graft.etl.FlatePdfExtractor, "2026-08-12")
    val docs2 = graft.etl.Pipeline.readDocs(spark, s"$out/documents/*")
    assert(docs2.count() === 2)
    assert(docs2.select("title").as[String].collect().sorted === Array("Vol 01", "Vol 02"))
  }

  test("ingest stream surfaces raster loss — half-scanned doc flows good channel, loss sink records it (r14)") {
    val watch = Files.createTempDirectory("graft_rasterwatch").toString
    val out = Files.createTempDirectory("graft_rasterout").toString
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes("ISO-8859-1")); d.finish()
      val buf = new Array[Byte](4096); val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    val text = deflate("BT (typed page) Tj ET")
    val halfScanned = ("%PDF-1.4\n" +
      s"1 0 obj\n<< /Length ${text.length} /Filter /FlateDecode >>\nstream\n" +
      new String(text, "ISO-8859-1") + "\nendstream\nendobj\n" +
      "2 0 obj\n<< /Length 2 /Filter /DCTDecode >>\nstream\nÿØ\nendstream\nendobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    Files.write(java.nio.file.Paths.get(s"$watch/half.pdf"), halfScanned)
    Streams.ingestPdfStream(spark, watch, out, ckpt(),
      graft.etl.FlatePdfExtractor, "2026-08-16")
    // the document made the GOOD channel...
    val docs = graft.etl.Pipeline.readDocs(spark, s"$out/documents/*")
    assert(docs.count() === 1)
    assert(docs.select("content").as[String].head() === "typed page")
    // ...and the loss sink recorded the skipped raster stream
    val loss = spark.read.json(s"$out/raster_loss/*")
      .select("filter", "n_streams").as[(String, Long)].collect().toSeq
    assert(loss === Seq(("DCTDecode", 1L)), loss)
  }

  test("raster-loss sink replays idempotently; loss-free batches leave NO dir (VERDICT r14 #4 + ADVICE)") {
    val watch = Files.createTempDirectory("graft_replaywatch").toString
    val out = Files.createTempDirectory("graft_replayout").toString
    val checkpoint = ckpt()
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes("ISO-8859-1")); d.finish()
      val buf = new Array[Byte](4096); val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    val text = deflate("BT (typed page) Tj ET")
    val halfScanned = ("%PDF-1.4\n" +
      s"1 0 obj\n<< /Length ${text.length} /Filter /FlateDecode >>\nstream\n" +
      new String(text, "ISO-8859-1") + "\nendstream\nendobj\n" +
      "2 0 obj\n<< /Length 2 /Filter /DCTDecode >>\nstream\nÿØ\nendstream\nendobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    Files.write(java.nio.file.Paths.get(s"$watch/half.pdf"), halfScanned)
    Streams.ingestPdfStream(spark, watch, out, checkpoint,
      graft.etl.FlatePdfExtractor, "2026-08-16")
    assert(spark.read.json(s"$out/raster_loss/*").count() === 1)
    // simulate the exactly-once crash window: the offset is durable but
    // the COMMIT never landed (sink writes finished, checkpoint commit
    // didn't) — on restart the engine must REPLAY batch 0 into the same
    // sink directories, and the batchId-keyed overwrite must keep every
    // channel single-copy
    val commit0 = java.nio.file.Paths.get(checkpoint, "commits", "0")
    assert(Files.exists(commit0), s"expected a commit marker at $commit0")
    Files.delete(commit0)
    // the local FS checkpoint manager writes a .crc sidecar per commit;
    // it must go with the commit or the replay's rename fails on it
    Files.deleteIfExists(
      java.nio.file.Paths.get(checkpoint, "commits", ".0.crc"))
    Streams.ingestPdfStream(spark, watch, out, checkpoint,
      graft.etl.FlatePdfExtractor, "2026-08-16")
    val loss = spark.read.json(s"$out/raster_loss/*")
      .select("filter", "n_streams").as[(String, Long)].collect().toSeq
    assert(loss === Seq(("DCTDecode", 1L)),
      s"replayed batch duplicated/altered loss rows: $loss")
    assert(graft.etl.Pipeline.readDocs(spark, s"$out/documents/*")
      .count() === 1, "replayed batch duplicated the document")

    // replay whose loss FLIPS to empty must HEAL the stale dir (review
    // r15): the codec changed across the restart — here to one with a
    // total decode set, the password-now-supplied analogue — so the
    // replayed batch 0 has zero loss and the prior attempt's rows must
    // be deleted, not left to contradict the replayed documents
    Files.delete(commit0)
    Files.deleteIfExists(
      java.nio.file.Paths.get(checkpoint, "commits", ".0.crc"))
    Streams.ingestPdfStream(spark, watch, out, checkpoint,
      graft.etl.FormFeedExtractor, "2026-08-16")
    assert(!Files.exists(java.nio.file.Paths.get(out, "raster_loss", "0")),
      "empty-loss replay must delete the stale raster_loss batch dir")
    // and the now-empty parent goes too — "no loss" has ONE
    // representation (absent dir), matching the loss-free case below
    assert(!Files.exists(java.nio.file.Paths.get(out, "raster_loss")),
      "healing the last batchId dir must drop the empty parent")

    // loss-FREE ingest: no raster_loss batch dir at all — 'no loss' is
    // the ABSENT dir, never schema-less empty part files that break a
    // consumer's spark.read.json (r14 ADVICE)
    val watch2 = Files.createTempDirectory("graft_losslesswatch").toString
    val out2 = Files.createTempDirectory("graft_losslessout").toString
    val clean = ("%PDF-1.4\n" +
      s"1 0 obj\n<< /Length ${text.length} /Filter /FlateDecode >>\nstream\n" +
      new String(text, "ISO-8859-1") + "\nendstream\nendobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    Files.write(java.nio.file.Paths.get(s"$watch2/clean.pdf"), clean)
    Streams.ingestPdfStream(spark, watch2, out2, ckpt(),
      graft.etl.FlatePdfExtractor, "2026-08-16")
    assert(graft.etl.Pipeline.readDocs(spark, s"$out2/documents/*")
      .count() === 1)
    assert(!Files.exists(java.nio.file.Paths.get(out2, "raster_loss")),
      "loss-free run must not create the raster_loss dir")
  }

  test("mixed PDF+DOCX ingest stream — sniffing extractor + per-row category (r11)") {
    // the auto_ingest sweep's streaming twin: one watch dir, a wider glob,
    // per-row format routing and the vol*-vs-statute category rule
    val watch = Files.createTempDirectory("graft_mixwatch").toString
    val out = Files.createTempDirectory("graft_mixout").toString
    def pdf(text: String): Array[Byte] =
      ("%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nstream\n" +
       s"BT ($text) Tj ET\nendstream\nendobj\n%%EOF").getBytes("ISO-8859-1")
    Files.write(java.nio.file.Paths.get(s"$watch/vol07.pdf"),
      pdf("Decided 1998 alpha"))
    Files.copy(java.nio.file.Paths.get(
        "src/test/resources/fixtures/minimal_statute.docx"),
      java.nio.file.Paths.get(s"$watch/Proc%201-2016.docx"))
    Streams.ingestPdfStream(spark, watch, out, ckpt(),
      graft.etl.SniffingExtractor(), "2026-08-15",
      globFilter = "*.{pdf,docx}",
      category = graft.etl.DocOps.autoCategory(col("url")))
    val docs = graft.etl.Pipeline.readDocs(spark, s"$out/documents/*")
      .select("title", "category").as[(String, String)].collect().sorted
    assert(docs === Array(("Proc 1-2016", "Statute"),
      ("vol07", "CassationDecision")), docs.toSeq)
  }

  test("ingest stream with compensating delete — quarantined PDF removed, good kept") {
    val watch = Files.createTempDirectory("graft_pdfwatch2").toString
    val out = Files.createTempDirectory("graft_pdfout2").toString
    val checkpoint = ckpt()
    def pdf(text: String): Array[Byte] =
      ("%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nstream\n" +
       s"BT ($text) Tj ET\nendstream\nendobj\n%%EOF").getBytes("ISO-8859-1")
    val good = java.nio.file.Paths.get(s"$watch/good.pdf")
    val bad = java.nio.file.Paths.get(s"$watch/bad.pdf")
    Files.write(good, pdf("Decided 1998 alpha"))
    Files.write(bad, "not a pdf at all".getBytes) // unparseable → quarantine
    Streams.ingestPdfStream(spark, watch, out, checkpoint,
      graft.etl.FlatePdfExtractor, "2026-08-12", deleteQuarantined = true)
    // the audit row is durable, the staged binary is gone, the good one stays
    val q = spark.read.json(s"$out/quarantine/*")
    assert(q.count() === 1)
    assert(q.select("reason").as[String].head() === "not-a-pdf")
    assert(!Files.exists(bad), "quarantined binary should be deleted (S11/S16)")
    assert(Files.exists(good))
    // restart on the same checkpoint with nothing new: no replay, no error
    Streams.ingestPdfStream(spark, watch, out, checkpoint,
      graft.etl.FlatePdfExtractor, "2026-08-12", deleteQuarantined = true)
    assert(Files.exists(good))
  }

  test("ingest stream with compensating delete — one extraction per row; the delete reads the written quarantine") {
    import graft.etl.CountingExtractor
    val watch = Files.createTempDirectory("graft_countwatch").toString
    val out = Files.createTempDirectory("graft_countout").toString
    def put(name: String, text: String) = {
      val p = java.nio.file.Paths.get(s"$watch/$name")
      Files.write(p, text.getBytes("UTF-8")); p
    }
    val a = put("a.pdf", "alpha")
    val b = put("b.pdf", "beta\fgamma")
    val c = put("c.pdf", "\f ") // no text → quarantine
    CountingExtractor.extractions.set(0)
    Streams.ingestPdfStream(spark, watch, out, ckpt(), CountingExtractor,
      "2026-08-12", deleteQuarantined = true)
    // one extraction per row: the two channel sinks share one reassembly,
    // and the delete reads what the quarantine sink wrote
    assert(CountingExtractor.extractions.get === 1 * 3)
    assert(spark.read.json(s"$out/quarantine/*").select("url", "reason")
      .as[(String, String)].collect().toSeq.map(r => (r._1.split('/').last, r._2))
      === Seq("c.pdf" -> "empty-text"))
    assert(!Files.exists(c), "quarantined binary should be deleted")
    assert(Files.exists(a) && Files.exists(b))
  }

  test("stream ⋈ static enrichment — equals the batch join") {
    val dim = Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_name")
    val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
    val got = Streams.runAvailableNow(
      Streams.enrich(stream, dim, "user_id", "c_custkey")
        .select("event_id", "c_name"), "t_enrich", ckpt())
    val want = Streams.enrich(batchEvents, dim, "user_id", "c_custkey")
      .select("event_id", "c_name")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("stream-stream time-bounded join — equals the batch join") {
    val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
    val got = Streams.runAvailableNow(
      Streams.purchasesWithRecentSignup(stream), "t_ss_join", ckpt())
    val want = Streams.purchasesWithRecentSignup(batchEvents)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("transformWithState error counts — totals match batch (RocksDB store)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = Streams.parquetStream(spark, eventsDir, batchEvents)
        .select($"user_id", $"ts", $"event_type").as[Streams.ErrorEvent]
      val got = Streams.runAvailableNow(
        Streams.errorCountsTws(stream).toDF(), "t_errs_tws", ckpt(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      val finals = got.groupBy("user_id").agg(max("n_errors").as("n_errors"))
      val want = batchEvents.filter($"event_type" === "error")
        .groupBy("user_id").agg(count(lit(1)).as("n_errors"))
      val diff = finals.join(want, Seq("user_id"))
        .filter(finals("n_errors") =!= want("n_errors"))
      assert(diff.count() === 0)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("watermark — rows later than 1h behind the max seen ts are dropped") {
    import java.sql.Timestamp
    val srcDir = Files.createTempDirectory("graft_late").toString
    val checkpoint = ckpt()
    def ts(s: String) = Timestamp.valueOf(s)
    def writeRows(rows: Seq[(Long, Timestamp, String)]): Unit =
      rows.toDF("event_id", "ts", "event_type").coalesce(1)
        .write.mode("append").parquet(srcDir)
    val emissions = new java.util.concurrent.CopyOnWriteArrayList[(Timestamp, Long)]()
    def runOnce(): Unit = {
      val schema = spark.read.parquet(srcDir)
      val counts = spark.readStream.schema(schema.schema).parquet(srcDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select($"w.start".as("w_start"), $"cnt")
      val q = counts.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            emissions.add((r.getTimestamp(0), r.getLong(1))))
        }
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: window 10:00 gets 2 rows and a 14:00 row commits watermark 13:00
    writeRows(Seq((1L, ts("2026-01-01 10:05:00"), "a"),
                  (2L, ts("2026-01-01 10:10:00"), "a"),
                  (3L, ts("2026-01-01 14:00:00"), "a")))
    runOnce()
    // run 2 (same checkpoint → watermark restored): a LATE row back in the
    // closed 10:00 window must be dropped, not re-emitted
    writeRows(Seq((4L, ts("2026-01-01 10:20:00"), "a")))
    runOnce()
    import scala.jdk.CollectionConverters._
    val w10 = emissions.asScala.filter(_._1 == ts("2026-01-01 10:00:00")).map(_._2)
    assert(w10.nonEmpty && w10.max === 2,
      s"late row was not dropped: emissions for 10:00 window = $w10")
  }

  test("streaming DAU monitor — closed days match batch q114 DAU; duplicates collapse across batches") {
    import java.sql.Timestamp
    val srcDir = Files.createTempDirectory("graft_dau").toString
    val checkpoint = ckpt()
    def writeRows(rows: Seq[(Long, Timestamp, Long, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type").coalesce(1)
        .write.mode("append").parquet(srcDir)
    val emissions = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, Long)]()
    def runOnce(): Unit = {
      val schema = spark.read.parquet(srcDir)
      val q = Streams.dauCounts(
          spark.readStream.schema(schema.schema).parquet(srcDir))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            emissions.add((r.getString(0), r.getLong(1), r.getLong(2))))
        }
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def at(day: Long, hour: Long, id: Long, u: Long, ty: String) =
      (id, new Timestamp(day * 86400000L + hour * 3600000L), u, ty)
    // run 1: day 0 — u1 twice (same batch), u2 once; u1 also on day 1
    writeRows(Seq(at(0, 1, 1, 1, "x"), at(0, 5, 2, 1, "x"),
      at(0, 9, 3, 2, "x"), at(1, 1, 4, 1, "x")))
    runOnce()
    // run 2: u1/day0 AGAIN from a later batch — the dedup state is still
    // live (watermark = day1 01:00 − 48 h < day 0), so it must collapse
    writeRows(Seq(at(0, 13, 5, 1, "x")))
    runOnce()
    // run 3: far-future flush closes days 0 and 1
    writeRows(Seq(at(10, 0, 6, 99, "x")))
    runOnce()
    import scala.jdk.CollectionConverters._
    val got = emissions.asScala.toSet
    assert(got === Set(("x", 0L, 2L), ("x", 1L, 1L)),
      s"streaming DAU diverged: $got")
    // corpus equivalence: the emitted (type, day, dau) rows for CLOSED
    // days equal the batch q114 DAU grain on the same events
    val ckpt2 = ckpt()
    val srcDir2 = Files.createTempDirectory("graft_dau2").toString
    val evs = Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type")
    evs.write.mode("overwrite").parquet(srcDir2)
    // flush row: one extra event far past the corpus closes every day
    val flushTs = new Timestamp(
      evs.agg(org.apache.spark.sql.functions.max($"ts")).head.getTimestamp(0)
        .getTime + 10L * 86400000L)
    val em2 = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, Long)]()
    def runCorpus(): Unit = {
      val schema = spark.read.parquet(srcDir2)
      val q = Streams.dauCounts(
          spark.readStream.schema(schema.schema).parquet(srcDir2))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            em2.add((r.getString(0), r.getLong(1), r.getLong(2))))
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runCorpus()
    Seq((-1L, flushTs, -1L, "x")).toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("append").parquet(srcDir2)
    runCorpus()
    val flushDay = flushTs.getTime / 86400000L
    val gotCorpus = em2.asScala.toSet.filter(_._2 != flushDay)
    val want = graft.queries.Analytics.stickiness(Tables.events(spark, sf0001))
      .select($"event_type", $"day", $"dau").as[(String, Long, Long)]
      .collect().toSet
    spark.catalog.clearCache()
    assert(gotCorpus === want, s"streaming DAU != batch q114 DAU grain")
  }

  test("incremental file ingest — exactly-once across restarts (S5/S8)") {
    // file sink, not memory: only durable sinks support checkpoint recovery
    val srcDir = Files.createTempDirectory("graft_incr").toString
    val outDir = Files.createTempDirectory("graft_incr_out").toString
    val checkpoint = ckpt()
    def runOnce(): Unit = {
      val q = Streams.parquetStream(spark, srcDir, batchEvents)
        .select("event_id")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    batchEvents.limit(200).write.mode("overwrite").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(outDir).count() === 200)
    // "push" more files, restart from the same checkpoint: only new rows flow
    batchEvents.limit(300).write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(outDir).count() === 500) // 200 kept + 300 new, no reprocess
  }

  test("streaming transitions — counts match batch q87; state spans batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // full-corpus batch equivalence in a single trigger (within-batch
    // (ts, event_id) sort makes arrival order irrelevant)
    val evs = Tables.events(spark, sf0001)
      .select($"user_id", $"ts", $"event_type", $"event_id")
      .as[Streams.TransEvent].collect()
    val src = MemoryStream[Streams.TransEvent]
    src.addData(evs.toSeq)
    val q = Streams.transitionCounts(Streams.transitions(src.toDS()).toDF())
      .writeStream.format("memory").queryName("t_trans")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_trans")
      .select("src_type", "dst_type", "n")
    val want = graft.queries.Catalog.byName("q87_event_transitions")
      .build(spark, sf0001).select("src_type", "dst_type", "n")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"streaming transitions ${got.collect().toSeq} != batch")

    // cross-batch carry: the last event of batch 1 pairs with the first of
    // batch 2 (within gap); an over-gap successor does not
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60_000L)
    val src2 = MemoryStream[Streams.TransEvent]
    val q2 = Streams.transitionCounts(Streams.transitions(src2.toDS()).toDF())
      .writeStream.format("memory").queryName("t_trans2")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try {
      src2.addData(Streams.TransEvent(1L, at(0), "a", 1L))
      q2.processAllAvailable()
      src2.addData(Streams.TransEvent(1L, at(30), "b", 2L), // exactly 30 min — inclusive
        Streams.TransEvent(1L, at(90), "c", 3L))            // 60 min after b — dropped
      q2.processAllAvailable()
    } finally q2.stop()
    val got2 = spark.table("t_trans2")
      .select("src_type", "dst_type", "n").as[(String, String, Long)]
      .collect().toSet
    assert(got2 === Set(("a", "b", 1L)),
      s"cross-batch transition semantics diverged: $got2")
  }

  test("streaming baskets — closed sessions match a driver replay; a basket spans batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // driver-side replay: fold each user's (us, event_id)-sorted events
    // into 30-min-gap sessions; the stream emits exactly the CLOSED
    // ones — every session except each user's open tail
    def us(e: Streams.TransEvent): Long = {
      val i = e.ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val evs = Tables.events(spark, sf0001)
      .select($"user_id", $"ts", $"event_type", $"event_id")
      .as[Streams.TransEvent].collect()
    val expected = evs.groupBy(_.user_id).values.flatMap { es =>
      val sorted = es.sortBy(e => (us(e), e.event_id))
      val sessions = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
      var cur = Set.empty[String]
      var lastUs = Long.MinValue
      sorted.foreach { e =>
        if (cur.nonEmpty && us(e) - lastUs > 1800000000L) {
          sessions += cur; cur = Set.empty
        }
        cur += e.event_type; lastUs = us(e)
      }
      sessions // the open tail `cur` is never emitted
    }.map(_.toSeq.sorted.mkString(",")).toSeq.sorted
    val src = MemoryStream[Streams.TransEvent]
    src.addData(evs.toSeq)
    val q = Streams.sessionBaskets(src.toDS()).toDF()
      .writeStream.format("memory").queryName("t_baskets")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_baskets").as[Streams.Basket]
      .collect().map(_.tys.mkString(",")).toSeq.sorted
    assert(got === expected, s"closed baskets diverged: $got vs $expected")

    // cross-batch carry: a session straddling two triggers stays ONE
    // basket (the 30-min boundary is inclusive); a later over-gap event
    // closes it and the open tail never emits
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60_000L)
    val src2 = MemoryStream[Streams.TransEvent]
    val q2 = Streams.sessionBaskets(src2.toDS()).toDF()
      .writeStream.format("memory").queryName("t_baskets2")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      src2.addData(Streams.TransEvent(1L, at(0), "b", 1L),
        Streams.TransEvent(1L, at(10), "a", 2L))
      q2.processAllAvailable()
      src2.addData(Streams.TransEvent(1L, at(40), "c", 3L), // exactly 30 min after a — same session
        Streams.TransEvent(1L, at(130), "d", 4L))           // 90 min later — closes {a,b,c}
      q2.processAllAvailable()
    } finally q2.stop()
    val got2 = spark.table("t_baskets2").as[Streams.Basket]
      .collect().map(_.tys.toList).toList
    assert(got2 === List(List("a", "b", "c")),
      s"cross-batch basket semantics diverged: $got2")
    // and the pair rollup expands the closed basket the q98 way
    val pairs = Streams.basketPairCounts(spark.table("t_baskets2"))
      .as[(String, String, Long)].collect().toSet
    assert(pairs === Set(("a", "b", 1L), ("a", "c", 1L), ("b", "c", 1L)),
      s"basket pair rollup diverged: $pairs")
  }

  test("streaming hour profile — running counts match batch q108; accumulates across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // single-trigger corpus equivalence against the batch q108 counts
    // (the share normalization is the batch entry's grid stage — the
    // monitor emits raw counts)
    val evs = Tables.events(spark, sf0001)
      .select($"user_id", $"ts", $"event_type", $"event_id")
      .as[Streams.TransEvent].collect()
    val src = MemoryStream[Streams.TransEvent]
    src.addData(evs.toSeq)
    val q = Streams.hourCounts(src.toDS().toDF())
      .writeStream.format("memory").queryName("t_hours")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_hours").as[(String, Int, Long)].collect().toSet
    val want = graft.queries.Catalog.byName("q108_hour_profile")
      .build(spark, sf0001).filter($"n" > 0)
      .select($"event_type", $"hour", $"n").as[(String, Int, Long)]
      .collect().toSet
    spark.catalog.clearCache()
    assert(got === want, s"streaming hour counts != batch q108")
    // cross-batch accumulation: a second batch in the same hour bumps
    // the same state row
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 03:30:00")
    val src2 = MemoryStream[Streams.TransEvent]
    val q2 = Streams.hourCounts(src2.toDS().toDF())
      .writeStream.format("memory").queryName("t_hours2")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try {
      src2.addData(Streams.TransEvent(1L, t0, "a", 1L))
      q2.processAllAvailable()
      src2.addData(Streams.TransEvent(2L, t0, "a", 2L))
      q2.processAllAvailable()
    } finally q2.stop()
    val got2 = spark.table("t_hours2").as[(String, Int, Long)]
      .collect().groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).max)
    assert(got2.toMap === Map(("a", 3) -> 2L),
      s"cross-batch hour accumulation diverged: ${got2.toMap}")
  }

  test("streaming OOV monitor — running totals match batch q93; counts accumulate across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // full-corpus batch equivalence in a single trigger, against the
    // catalog q93 logic (same top-16 vocab, derived batch-side — the
    // monitor's vocab input is static by contract)
    val docs = Tables.documents(spark, sf0001)
    val vocab = docs
      .select(explode(split($"text", " ")).as("t")).filter($"t" =!= "")
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"t").limit(16).select("t")
    val rows = docs.select($"doc_id", $"text", $"source")
      .as[(Long, String, String)].collect()
    val src = MemoryStream[(Long, String, String)]
    src.addData(rows.toSeq)
    val q = Streams.oovRates(
        src.toDS().toDF("doc_id", "text", "source"), vocab)
      .writeStream.format("memory").queryName("t_oov")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_oov").select("source", "n_tok", "n_oov")
    val want = graft.queries.Curation.oovRate(docs)
      .select("source", "n_tok", "n_oov")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"streaming OOV != batch q93: ${got.collect().toSeq}")

    // cross-batch accumulation: totals after batch 2 are the union's
    // totals (update mode re-emits the risen counters; counters are
    // monotone, so the per-source max across updates is the final state)
    val vocab2 = Seq("a", "b").toDF("t")
    val src2 = MemoryStream[(Long, String, String)]
    val q2 = Streams.oovRates(
        src2.toDS().toDF("doc_id", "text", "source"), vocab2)
      .writeStream.format("memory").queryName("t_oov2")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    try {
      src2.addData((1L, "a a b", "s1"))
      q2.processAllAvailable()
      src2.addData((2L, "a z z", "s1"), (3L, "b q", "s2"))
      q2.processAllAvailable()
    } finally q2.stop()
    val finalTotals = spark.table("t_oov2")
      .groupBy("source")
      .agg(max($"n_tok").as("n_tok"), max($"n_oov").as("n_oov"))
      .as[(String, Long, Long)].collect().toSet
    assert(finalTotals === Set(("s1", 6L, 2L), ("s2", 2L, 1L)),
      s"cross-batch OOV accumulation diverged: $finalTotals")
  }

  test("near-dup ingest stream — union of per-batch pairs equals the batch operator on the whole corpus") {
    // the split-invariance identity that makes the monitor correct by
    // construction: over ANY partition of the corpus into ordered
    // micro-batches, (within Bk) ∪ (cross Bk vs earlier) covers every
    // near-dup pair exactly once — so the union of everything the stream
    // emits must equal MinHashLsh.nearDupPairs over the union corpus,
    // regardless of which file lands in which trigger.
    val watch = Files.createTempDirectory("graft_lshwatch").toString
    val out = Files.createTempDirectory("graft_lshout").toString
    // two FLAT files → two micro-batches (maxFilesPerTrigger = 1; the
    // file source lists plain files, not nested write dirs): a within-
    // file identical pair (1, 2), a cross-file identical pair set
    // (1, 11)/(2, 11), and unrelated docs on both sides
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_lshstage").toString
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(watch).resolve(name))
      ()
    }
    stage("f1.parquet",
      Seq((1L, "x y z w v u"), (2L, "x y z w v u"), (3L, "p q r s t m")))
    stage("f2.parquet", Seq((11L, "x y z w v u"), (12L, "d e f g h k")))
    val originalCkpt = ckpt()
    Streams.neardupIngestStream(spark, watch, out, originalCkpt,
      threshold = 0.8)
    val emitted = spark.read.parquet(s"$out/pairs/*")
      .select(least($"i", $"j").as("a"), greatest($"i", $"j").as("b"),
        $"jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    val corpus = spark.read.parquet(watch)
    val ref = graft.operators.MinHashLsh
      .nearDupPairs(corpus, "doc_id", "text", threshold = 0.8)
      .select(least($"i", $"j").as("a"), greatest($"i", $"j").as("b"),
        $"jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    spark.catalog.clearCache()
    // exactly-once: as a multiset, not just a set
    assert(emitted.sorted === ref.sorted,
      s"stream pairs diverged from the batch operator: " +
        s"emitted=${emitted.sorted} ref=${ref.sorted}")
    assert(emitted.map(p => (p._1, p._2)).distinct.size === emitted.size,
      s"a pair was emitted more than once: $emitted")
    // the identical triplet must be present however the files were split
    assert(emitted.map(p => (p._1, p._2)).toSet === Set((1L, 2L), (1L, 11L),
      (2L, 11L)), s"expected pair set diverged: $emitted")
    // the signature store holds one directory per micro-batch
    val sigDirs = new java.io.File(s"$out/sigs").listFiles()
      .count(_.isDirectory)
    assert(sigDirs === 2, s"expected 2 per-batch sig dirs, got $sigDirs")

    // reusing the ORIGINAL checkpoint against the intact store is a
    // legitimate resume: no new files → no-op, must NOT be refused
    Streams.neardupIngestStream(spark, watch, out, originalCkpt,
      threshold = 0.8)
    assert(new java.io.File(s"$out/sigs").listFiles()
      .count(_.isDirectory) === 2, "no-op resume must not touch the store")

    // ADVICE r10: restarting against the SAME populated store with a FRESH
    // checkpoint must fail fast — batchIds restart at 0 and the overwrite
    // writes would silently corrupt the store (clobber low batches, leave
    // stale high sig dirs feeding the cross probe)
    val ex = intercept[IllegalArgumentException] {
      Streams.neardupIngestStream(spark, watch, out, ckpt(), threshold = 0.8)
    }
    assert(ex.getMessage.contains("checkpoint"),
      s"fail-fast message should explain the lifecycle coupling: $ex")
    // and the store is untouched by the refused start
    assert(new java.io.File(s"$out/sigs").listFiles()
      .count(_.isDirectory) === 2)

    // r11 review findings — the CONVERSE direction: a committed
    // checkpoint whose store lost sig directories must refuse, and the
    // check is COVERAGE of the committed batchIds, not mere
    // non-emptiness (a partial deletion leaves the store "populated")
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
    rmTree(java.nio.file.Paths.get(s"$out/sigs/0")) // PARTIAL: sigs/1 stays
    val ex2 = intercept[IllegalArgumentException] {
      Streams.neardupIngestStream(spark, watch, out, originalCkpt,
        threshold = 0.8)
    }
    assert(ex2.getMessage.contains("missing") && ex2.getMessage.contains("0"),
      s"partially-deleted store resume must refuse, naming the batch: $ex2")
    rmTree(java.nio.file.Paths.get(s"$out/sigs")) // fully gone
    val ex3 = intercept[IllegalArgumentException] {
      Streams.neardupIngestStream(spark, watch, out, originalCkpt,
        threshold = 0.8)
    }
    assert(ex3.getMessage.contains("missing"),
      s"deleted-store resume must refuse: $ex3")
  }

  test("near-dup ingest stream — kill mid-batch and restart from the same checkpoint: each batch lands in the store exactly once (VERDICT r11 #6)") {
    // the production failure mode the split-invariance identity doesn't
    // exercise: the process dies AFTER a batch's pair+sig writes were
    // durable but BEFORE Structured Streaming logged the commit. A new
    // query on the SAME checkpoint must replay that batch exactly once
    // (overwrite semantics + the store's own-batchId exclusion), then
    // continue into files that arrived during the outage — and the final
    // emitted pair multiset must still equal the batch operator on the
    // union corpus.
    val watch = Files.createTempDirectory("graft_lshwatch3").toString
    val out = Files.createTempDirectory("graft_lshout3").toString
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_lshstage3").toString
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath,
        java.nio.file.Paths.get(watch).resolve(name))
      ()
    }
    val theCkpt = ckpt()
    stage("f1.parquet",
      Seq((1L, "x y z w v u"), (2L, "x y z w v u"), (3L, "p q r s t m")))
    Streams.neardupIngestStream(spark, watch, out, theCkpt, threshold = 0.8)
    assert(new java.io.File(s"$out/sigs").listFiles()
      .count(_.isDirectory) === 1)
    // simulate the kill: sigs/0 and pairs/0 are on disk (foreachBatch
    // returned) but the engine died before writing commits/0 — on
    // restart Structured Streaming replays any offsets-logged batch
    // with no commit entry
    val commit0 = java.nio.file.Paths.get(s"$theCkpt/commits/0")
    assert(java.nio.file.Files.exists(commit0), "fixture expects commits/0")
    java.nio.file.Files.delete(commit0)
    // the local checkpoint manager is a ChecksumFs: drop the sidecar too,
    // or the replayed commit write fails on the stale .0.crc
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$theCkpt/commits/.0.crc"))
    // a file arrives during the outage
    stage("f2.parquet", Seq((11L, "x y z w v u"), (12L, "d e f g h k")))
    // NEW query, SAME checkpoint: replays batch 0, then processes f2 as
    // batch 1 (the lifecycle guard allows this — offsets/0 exists, so
    // this is the crashed-mid-batch shape, not a fresh-checkpoint one)
    Streams.neardupIngestStream(spark, watch, out, theCkpt, threshold = 0.8)
    // the store saw each batch exactly once: dirs {0, 1}, and batch 0's
    // replay OVERWROTE (same content) rather than duplicated
    val sigDirs = new java.io.File(s"$out/sigs").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(sigDirs.toSeq === Seq("0", "1"),
      s"store must hold exactly batches 0 and 1: ${sigDirs.toSeq}")
    val sig0 = spark.read.parquet(s"$out/sigs/0")
    assert(sig0.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L), "replayed batch 0 sigs must cover f1 exactly once")
    // emitted pairs: exactly once each, equal to the batch operator
    val emitted = spark.read.parquet(s"$out/pairs/*")
      .select(least($"i", $"j").as("a"), greatest($"i", $"j").as("b"))
      .as[(Long, Long)].collect().toSeq
    assert(emitted.distinct.size === emitted.size,
      s"a pair was emitted more than once across the restart: $emitted")
    val ref = graft.operators.MinHashLsh
      .nearDupPairs(spark.read.parquet(watch), "doc_id", "text",
        threshold = 0.8)
      .select(least($"i", $"j").as("a"), greatest($"i", $"j").as("b"))
      .as[(Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    assert(emitted.sorted === ref.sorted,
      s"post-restart pairs diverged from batch: " +
        s"emitted=${emitted.sorted} ref=${ref.sorted}")
    assert(emitted.toSet === Set((1L, 2L), (1L, 11L), (2L, 11L)))
  }
}
