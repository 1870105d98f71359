package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** End-to-end ETL pipeline tests (SURVEY §3 E1/E2): incremental anti-join,
  * quarantine channel, ordered reassembly through a real (fake-codec)
  * binary → document run, JSON round-trip under the fixed schema, and the
  * non-ASCII (Amharic) byte-level contract.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def binDf(rows: (String, String)*) =
    rows.toDF("url", "raw")
      .select($"url", $"raw".cast("binary").as("content"))

  test("S5 — incremental anti-join skips processed base names") {
    val links = Seq("https://x/Vol%2001.pdf", "https://x/Vol%2002.pdf",
                    "https://x/Vol%2003.pdf").toDF("url")
    val processed = Seq("Vol_01", "Vol_03").toDF("base_name")
    val todo = Pipeline.incremental(links, processed)
      .select("url").as[String].collect()
    assert(todo === Array("https://x/Vol%2002.pdf"))
  }

  test("E1 — binaries → documents with quarantine (S9-S16)") {
    val bins = binDf(
      "https://x/good%20doc.pdf" -> "Decided 1998 page one\f\fpage three",
      "https://x/empty.pdf" -> "\f  \f\t")
    val out = Pipeline.process(bins, FormFeedExtractor, "2026-08-12")
    val docs = out.docs.collect()
    assert(docs.length === 1)
    val doc = docs.head
    assert(doc.getAs[String]("title") === "good doc")
    assert(doc.getAs[String]("year") === "1998")
    // CLI semantics: empty middle page dropped, not joined as ""
    assert(doc.getAs[String]("content") === "Decided 1998 page one\npage three")
    val quarantined = out.quarantine.collect()
    assert(quarantined.length === 1)
    assert(quarantined.head.getAs[String]("url") === "https://x/empty.pdf")
  }

  test("S16 — compensating delete removes staged binaries exactly once (replay-safe)") {
    // reference: import requests.py:84 deletes the PDF whose text came back
    // empty. The utility must remove each quarantined row's staged file and
    // be a no-op on replay (streaming recovery re-runs foreachBatch).
    val stage = Files.createTempDirectory("graft_stage")
    val bad = stage.resolve("bad.pdf"); Files.write(bad, "\f \f".getBytes)
    val good = stage.resolve("good.pdf"); Files.write(good, "some text".getBytes)
    val bins = binDf(
      bad.toUri.toString -> "\f \f",
      good.toUri.toString -> "some text")
    val out = Pipeline.process(bins, FormFeedExtractor, "2026-08-12")
    val q = out.quarantine.withColumn("path", col("url"))
    assert(q.count() === 1)
    Pipeline.compensatingDeleteBatch("path")(q, batchId = 0L)
    assert(!Files.exists(bad) && Files.exists(good))
    // replayed batch: already-deleted file is a no-op, not a failure
    Pipeline.compensatingDeleteBatch("path")(q, batchId = 0L)
    assert(!Files.exists(bad) && Files.exists(good))
  }

  test("E3 variant — keepEmptyPages preserves \"\" pages (mcp_server.py:27-28)") {
    val bins = binDf("https://x/d.pdf" -> "a\f\fb")
    val out = Pipeline.process(bins, FormFeedExtractor, "2026-08-12",
                               keepEmptyPages = true)
    assert(out.docs.select("content").as[String].head() === "a\n\nb")
  }

  test("S15 — JSON round-trip: fixed schema, UTF-8 Amharic preserved") {
    val dir = Files.createTempDirectory("graft_docs").toString
    val amharic = "የፌደራል ጠቅላይ ፍርድ ቤት ሰበር ውሳኔ 1998"
    val bins = binDf("https://x/Amharic%20Vol.pdf" -> amharic)
    val out = Pipeline.process(bins, FormFeedExtractor, "2026-08-12")
    Pipeline.writeDocs(out.docs, dir)
    val back = Pipeline.readDocs(spark, dir)
    assert(back.schema === graft.Tables.legalDocSchema)
    assert(back.select("content").as[String].head() === amharic)
    // byte-level: the json on disk must carry raw UTF-8 (ensure_ascii=False
    // contract, fetch_legal_docs.py:89), not \u escapes
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    val rawText = files.map(f => new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8)).mkString
    assert(rawText.contains("የፌደራል"))
  }

  test("file-per-doc sink writes one json file per title") {
    val dir = Files.createTempDirectory("graft_perdoc").toString
    val bins = binDf(
      "https://x/A.pdf" -> "alpha 1998",
      "https://x/B.pdf" -> "beta 1999",
      "https://x/C.pdf" -> "gamma 2000")
    val out = Pipeline.process(bins, FormFeedExtractor, "2026-08-12")
    Pipeline.writeDocs(out.docs, dir, filePerDoc = true)
    val back = Pipeline.readDocs(spark, dir)
    assert(back.count() === 3)
  }

  test("FlatePdfExtractor — Amharic text through Type0/CID fonts and a Flate /ToUnicode CMap") {
    // the reference volumes' shape: page text shown only as 2-byte CIDs,
    // recoverable only through the font's compressed CMap
    assert(FlatePdfExtractor.extractPages(EthiopicPdfFixture.volume()) ===
      EthiopicPdfFixture.Pages)
    val one = Seq("ሀሁሂ ሃሄ ህሆ")
    assert(FlatePdfExtractor.extractPages(EthiopicPdfFixture.volume(one)) === one)
    // garbage stays containable
    assert(FlatePdfExtractor.extractPages("junk".getBytes) === Nil)
    assert(FlatePdfExtractor.extractPages(Array[Byte](1, 2, 3)) === Nil)
  }

  test("reference snapshot — the real cassation volumes parse, decode Amharic and flow the pipeline") {
    val vol01 = graft.ReferenceSnapshot.bytes("vol01.pdf")
    val vol02 = graft.ReferenceSnapshot.bytes("vol02.pdf")
    val pages = FlatePdfExtractor.extractPages(vol01)
    assert(pages.nonEmpty, "no pages extracted from vol01.pdf")
    val text = pages.mkString("\n")
    // Ethiopic block U+1200–U+137F — the actual cassation-decision script
    assert(text.exists(c => c >= 'ሀ' && c <= '፿'),
      s"no Ethiopic characters decoded; got: ${text.take(120)}")
    assert(FlatePdfExtractor.extractPages(vol02).nonEmpty)
    // E1 over a real volume, and the sniffing route picks the PDF codec
    val bins = Seq(("https://x/Cassation%20Vol%2001.pdf", vol01))
      .toDF("url", "content")
    val out = Pipeline.process(bins, FlatePdfExtractor, "2026-08-12")
    val doc = out.docs.head()
    assert(doc.getAs[String]("title") === "Cassation Vol 01")
    assert(doc.getAs[String]("content").exists(c => c >= 'ሀ' && c <= '፿'))
    assert(out.quarantine.count() === 0)
    val sniffed = Pipeline.process(bins, SniffingExtractor(), "2026-08-12",
      category = DocOps.autoCategory(col("url")))
    assert(sniffed.docs.head().getAs[String]("content") ===
      doc.getAs[String]("content"))
  }

  test("unsupported filters (DCT/encrypted) degrade to quarantine, never throw (VERDICT r10 #4)") {
    // Fixture builders mirroring the lzwPdf shape. DCT = a raster-only
    // stream (needs OCR — declared out of scope); "encrypted" = /Encrypt
    // in the trailer with stream bytes that are ciphertext to the
    // declared Flate filter.
    def pdf(objs: String*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
      w("%PDF-1.4\n"); objs.foreach(w); w("%%EOF\n")
      out.toByteArray
    }
    val fakeJpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte,
      0xE0.toByte) ++ "not really scan data".getBytes(StandardCharsets.ISO_8859_1)
    def streamObj(num: Int, dict: String, data: Array[Byte]): String =
      s"$num 0 obj\n<< /Length ${data.length} $dict >>\nstream\n" +
        new String(data, StandardCharsets.ISO_8859_1) + "\nendstream\nendobj\n"
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes(StandardCharsets.ISO_8859_1)); d.finish()
      val buf = new Array[Byte](4096); val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    // 1) raster-only document: every stream is DCTDecode → Nil, no throw
    val dctOnly = pdf(streamObj(1, "/Filter /DCTDecode", fakeJpeg),
      "2 0 obj\n<< /Type /Page /Contents 1 0 R >>\nendobj\n")
    assert(FlatePdfExtractor.extractPages(dctOnly) === Nil)
    // 2) encrypted document: declared Flate, ciphertext bytes, /Encrypt
    //    trailer → Nil, no throw
    val cipher = Array.tabulate[Byte](64)(i => ((i * 37 + 11) % 251).toByte)
    val encrypted = pdf(streamObj(1, "/Filter /FlateDecode", cipher),
      "2 0 obj\n<< /Type /Page /Contents 1 0 R >>\nendobj\n",
      "trailer\n<< /Encrypt 9 0 R /Root 2 0 R >>\n")
    assert(FlatePdfExtractor.extractPages(encrypted) === Nil)
    // 3) per-page tolerance (pdfplumber's `if p.extract_text()` rule,
    //    fetch_legal_docs.py:62-63): a mixed doc keeps its text pages
    //    while the raster page is skipped — not all-or-nothing
    val textStream = deflate("BT /F1 12 Tf (salvaged text) Tj ET")
    val mixed = pdf(
      streamObj(1, "/Filter /FlateDecode", textStream),
      streamObj(2, "/Filter /DCTDecode", fakeJpeg),
      "3 0 obj\n<< /Type /Page /Contents 1 0 R >>\nendobj\n")
    assert(FlatePdfExtractor.extractPages(mixed) === Seq("salvaged text"))
    // 4) the S16 channel: through the full pipeline, undecodable docs land
    //    in quarantine WITH a DISTINCT coded reason per failure class
    //    (VERDICT r11 item 3); the mixed doc survives as a doc
    val bins = Seq(
      ("https://x/scanned%20vol.pdf", dctOnly),
      ("https://x/locked%20vol.pdf", encrypted),
      ("https://x/mixed%20vol.pdf", mixed)).toDF("url", "content")
    val out = Pipeline.process(bins, FlatePdfExtractor, "2026-08-15")
    val q = out.quarantine.collect().map(r =>
      (r.getAs[String]("url"), r.getAs[String]("reason"))).sorted
    assert(q.toSeq === Seq(
      ("https://x/locked%20vol.pdf", "encrypted"),
      ("https://x/scanned%20vol.pdf", "unsupported-filter:DCTDecode")),
      q.toSeq)
    val docs = out.docs.collect()
    assert(docs.length === 1 &&
      docs(0).getAs[String]("content") === "salvaged text")
  }

  test("raster-loss visibility: mixed text/raster docs report skipped streams while flowing the GOOD channel (VERDICT r13 #4)") {
    // the S9 hole this metric closes: a half-scanned volume extracts its
    // text pages, passes the S11 gate, and never reaches quarantine — so
    // without this count the OCR-exclusion loss is invisible to ops.
    def pdf(objs: String*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
      w("%PDF-1.4\n"); objs.foreach(w); w("%%EOF\n")
      out.toByteArray
    }
    def streamObj(num: Int, dict: String, data: Array[Byte]): String =
      s"$num 0 obj\n<< /Length ${data.length} $dict >>\nstream\n" +
        new String(data, StandardCharsets.ISO_8859_1) + "\nendstream\nendobj\n"
    def deflate(s: String): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes(StandardCharsets.ISO_8859_1)); d.finish()
      val buf = new Array[Byte](4096); val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    val scan = Array[Byte](0xFF.toByte, 0xD8.toByte) ++
      "scan".getBytes(StandardCharsets.ISO_8859_1)
    val halfScanned = pdf(
      streamObj(1, "/Filter /FlateDecode", deflate("BT (typed half) Tj ET")),
      streamObj(2, "/Filter /DCTDecode", scan),
      streamObj(3, "/Filter /DCTDecode", scan))
    val allText = pdf(
      streamObj(1, "/Filter /FlateDecode", deflate("BT (all typed) Tj ET")))
    // codec-level counts: per unsupported filter, good docs included
    assert(FlatePdfExtractor.skippedStreams(halfScanned) ===
      Map("DCTDecode" -> 2))
    assert(FlatePdfExtractor.skippedStreams(allText) === Map.empty)
    assert(FlatePdfExtractor.skippedStreams("junk".getBytes) === Map.empty)
    // pipeline channel: (url, filter, n_streams) rows for lossy docs only
    val bins = Seq(
      ("https://x/half%20scanned.pdf", halfScanned),
      ("https://x/typed.pdf", allText)).toDF("url", "content")
    val loss = Pipeline.rasterLoss(bins, FlatePdfExtractor).collect()
      .map(r => (r.getAs[String]("url"), r.getAs[String]("filter"),
        r.getAs[Int]("n_streams"))).toSeq
    assert(loss === Seq(("https://x/half%20scanned.pdf", "DCTDecode", 2)),
      loss)
    // and BOTH docs still flow the good channel — the loss channel is
    // additive, never a new failure mode
    val out = Pipeline.process(bins, FlatePdfExtractor, "2026-08-16")
    assert(out.quarantine.count() === 0)
    assert(out.docs.collect().map(_.getAs[String]("content")).sorted.toSeq ===
      Seq("all typed", "typed half"))
  }

  test("empty-user-password encrypted PDF flows the GOOD channel end-to-end (r13)") {
    // the owner-locked shape every viewer opens silently: through the
    // full pipeline it must land as a DOCUMENT, not in quarantine —
    // the PdfDecryptSpec covers the handler; this pins the S9→S16 wiring.
    // Writer side inline (R3 RC4-128, the PdfDecryptSpec transcription).
    val pad = Array(0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
      0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
      0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
      0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)
    def md5(parts: Array[Byte]*): Array[Byte] = {
      val d = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(d.update); d.digest()
    }
    def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] =
      PdfDecrypt.rc4(key, data)
    def le(v: Long, n: Int) =
      Array.tabulate(n)(i => ((v >>> (8 * i)) & 0xff).toByte)
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    val id0 = (1 to 16).map(_.toByte).toArray
    val kl = 16
    var ok = md5(("owner-x".getBytes(StandardCharsets.ISO_8859_1) ++ pad).take(32))
    for (_ <- 0 until 50) ok = md5(ok.take(kl))
    var o = rc4(ok.take(kl), pad) // empty user password → padded = pad
    for (i <- 1 to 19) o = rc4(ok.take(kl).map(b => (b ^ i).toByte), o)
    var fk = md5(pad, o, le(-3904L & 0xffffffffL, 4), id0)
    for (_ <- 0 until 50) fk = md5(fk.take(kl))
    fk = fk.take(kl)
    var u = rc4(fk, md5(pad, id0))
    for (i <- 1 to 19) u = rc4(fk.map(b => (b ^ i).toByte), u)
    val uv = u.take(16) ++ new Array[Byte](16)
    val defl = {
      val d = new java.util.zip.Deflater()
      d.setInput("BT (Art 5: tax applies) Tj ET"
        .getBytes(StandardCharsets.ISO_8859_1)); d.finish()
      val buf = new Array[Byte](4096); val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    val objKey = md5(fk, le(2L, 3), le(0L, 2)).take(16)
    val enc = rc4(objKey, defl)
    val out2 = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out2.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    w(s"1 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P -3904 " +
      s"/O <${hex(o)}> /U <${hex(uv)}> >>\nendobj\n")
    w(s"2 0 obj\n<< /Length ${enc.length} /Filter /FlateDecode >>\nstream\n")
    out2.write(enc)
    w("\nendstream\nendobj\n")
    w(s"trailer << /Encrypt 1 0 R /ID [ <${hex(id0)}> <${hex(id0)}> ] >>\n%%EOF\n")
    val lockedOpenable = out2.toByteArray
    val bins = Seq(("https://x/owner%20locked.pdf", lockedOpenable))
      .toDF("url", "content")
    val res = Pipeline.process(bins, FlatePdfExtractor, "2026-08-16")
    assert(res.quarantine.count() === 0)
    val docs = res.docs.collect()
    assert(docs.length === 1 &&
      docs(0).getAs[String]("content") === "Art 5: tax applies", docs.toSeq)
  }

  test("SniffingExtractor — mixed PDF+DOCX corpus routes per row by magic bytes (r11)") {
    // the auto_ingest.yml sweep shape: one staged-binary frame holding a
    // reference-shaped CID-font volume, the checked-in statute DOCX, and
    // garbage — one process() pass extracts both formats and quarantines
    // the garbage
    val vol01 = EthiopicPdfFixture.volume()
    val docx = Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/fixtures/minimal_statute.docx"))
    val bins = Seq(
      ("https://x/vol01.pdf", vol01),
      ("https://x/Proc%201-2016.docx", docx),
      ("https://x/junk.bin", "not a document".getBytes("UTF-8")))
      .toDF("url", "content")
    // per-row categorization (review finding r11): the auto_ingest name
    // rule routes vol* to CassationDecision and everything else to
    // Statute — in the SAME pass as the per-row format sniffing
    val out = Pipeline.process(bins, SniffingExtractor(), "2026-08-15",
      category = DocOps.autoCategory(col("url")))
    val docs = out.docs.collect().map(r =>
      r.getAs[String]("title") ->
        (r.getAs[String]("content"), r.getAs[String]("category"),
          r.getAs[Seq[String]]("tags"))).toMap
    assert(docs.keySet === Set("vol01", "Proc 1-2016"))
    assert(docs("vol01")._1.exists(c => c >= 'ሀ' && c <= '፿'))
    assert(docs("vol01")._2 === "CassationDecision")
    assert(docs("Proc 1-2016")._1.contains("Article 2: scope <broad>"))
    assert(docs("Proc 1-2016")._2 === "Statute")
    assert(docs("Proc 1-2016")._3 === Seq("Statute"))
    val q = out.quarantine.collect().map(r =>
      (r.getAs[String]("url"), r.getAs[String]("reason")))
    assert(q.toSeq === Seq(("https://x/junk.bin", "not-pdf-or-docx")))
    // a NULL url must still surface in quarantine, never vanish from
    // both channels
    val withNull = Pipeline.process(
      Seq((null: String, "not a document".getBytes("UTF-8")))
        .toDF("url", "content"),
      SniffingExtractor(), "2026-08-15")
    val nq = withNull.quarantine.collect()
    assert(nq.length === 1 && nq.head.isNullAt(0) &&
      nq.head.getString(1) === "not-pdf-or-docx", nq.toSeq)
    // a zip that is not an OPC word document gets its own reason class
    val zipNoDoc = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      z.putNextEntry(new java.util.zip.ZipEntry("readme.txt"))
      z.write("hi".getBytes("UTF-8")); z.closeEntry(); z.close()
      bos.toByteArray
    }
    val out3 = Pipeline.process(
      Seq(("https://x/archive.docx", zipNoDoc)).toDF("url", "content"),
      SniffingExtractor(), "2026-08-15")
    assert(out3.quarantine.collect().map(r =>
      (r.getAs[String]("url"), r.getAs[String]("reason"))).toSeq ===
      Seq(("https://x/archive.docx", "docx-missing-document-xml")))
    // content-based, not name-based: a DOCX lying behind a .pdf name
    // still extracts (the magic bytes win)
    val lying = Seq(("https://x/mislabeled.pdf", docx)).toDF("url", "content")
    val out2 = Pipeline.process(lying, SniffingExtractor(), "2026-08-15")
    assert(out2.docs.head().getAs[String]("content")
      .contains("Federal Statute"))
  }

  test("E1 with FlatePdfExtractor — full pipeline over a reference-shaped CID-font volume") {
    val bins = Seq(("https://x/Cassation%20Vol%2001.pdf",
        EthiopicPdfFixture.volume()))
      .toDF("url", "content")
    val out = Pipeline.process(bins, FlatePdfExtractor, "2026-08-12")
    val doc = out.docs.head()
    assert(doc.getAs[String]("title") === "Cassation Vol 01")
    assert(doc.getAs[String]("content") ===
      EthiopicPdfFixture.Pages.mkString("\n"))
    assert(out.quarantine.count() === 0)
  }

  test("legacy binary .doc flows the pipeline per-row next to PDF/DOCX; encrypted .doc quarantines with reason (r17)") {
    // the old-cassation-volume population (Word 97–2003): a .doc row in
    // the same staged frame as the other formats extracts through the
    // sniffing router, and an ENCRYPTED .doc lands in quarantine with
    // the actionable `encrypted` reason — no password channel on the
    // batch path, mirroring the encrypted-OOXML row's behavior
    val am = "የሰበር ውሳኔ ቅጽ 3 1995\r"
    val legacy = DocFixtures.doc(Seq(("Cassation decision, decided 1995\r", true), (am, false)))
    val sealed0 = DocFixtures.rc4Doc("በር", Seq(("hidden\r", true)))
    val bins = Seq(
      ("https://x/vol03.doc", legacy),
      ("https://x/locked.doc", sealed0)).toDF("url", "content")
    val out = Pipeline.process(bins, SniffingExtractor(), "2026-08-16")
    val doc = out.docs.head()
    assert(doc.getAs[String]("title") === "vol03")
    assert(doc.getAs[String]("content")
      === "Cassation decision, decided 1995\n" + am.stripSuffix("\r"))
    assert(doc.getAs[String]("year") === "1995")
    val q = out.quarantine.collect()
    assert(q.length === 1 && q.head.getAs[String]("url").contains("locked"))
    assert(q.head.getAs[String]("reason") === "encrypted")
    // a passworded sniffing router opens the same staged row
    val keyed = Pipeline.process(
      Seq(("https://x/locked.doc", sealed0)).toDF("url", "content"),
      SniffingExtractor().withPassword("በር"), "2026-08-16")
    assert(keyed.docs.head().getAs[String]("content") === "hidden")
  }

  // ------------------------------------------- the narrow pass (S9–S16)

  private def channels(out: Pipeline.Processed) = (
    out.docs.select("sourceURL", "content").as[(String, String)]
      .collect().sortBy(_._1).toSeq,
    out.quarantine.as[(String, String)].collect().sortBy(_._1).toSeq)

  test("narrow pass — a url staged twice stays one row, its pages merged by (pos, txt)") {
    val out = Pipeline.process(binDf(
      "https://x/twice.pdf" -> "a\fb",
      "https://x/twice.pdf" -> "a\fc",
      "https://x/half.pdf" -> "\f \f",
      "https://x/half.pdf" -> "kept",
      "https://x/none.pdf" -> " ",
      "https://x/none.pdf" -> "\f"), FormFeedExtractor, "2026-08-12")
    val (docs, quarantine) = channels(out)
    assert(docs === Seq(
      "https://x/half.pdf" -> "kept",
      "https://x/twice.pdf" -> "a\na\nb\nc"))
    assert(quarantine === Seq("https://x/none.pdf" -> "empty-text"))
  }

  test("narrow pass — a null url with extractable text lands in quarantine") {
    val out = Pipeline.process(binDf(
      (null: String) -> "plenty of text",
      (null: String) -> "more text",
      "https://x/ok.pdf" -> "text"), FormFeedExtractor, "2026-08-12")
    val (docs, quarantine) = channels(out)
    assert(docs === Seq("https://x/ok.pdf" -> "text"))
    assert(quarantine === Seq((null: String) -> "empty-text"))
  }

  test("narrow pass — an extractor that throws or returns null quarantines with a reason") {
    for (ex <- Seq(ThrowingExtractor, NullPagesExtractor, ThrowingDiagnoser)) {
      val out = Pipeline.process(binDf("https://x/a.pdf" -> "text"), ex,
        "2026-08-12")
      val (docs, quarantine) = channels(out)
      assert(docs.isEmpty, ex)
      assert(quarantine === Seq("https://x/a.pdf" -> "empty-text"), ex)
    }
    // a null binary gets its own reason
    val nullBytes = Pipeline.process(
      Seq(("https://x/n.pdf", null: Array[Byte])).toDF("url", "content"),
      FormFeedExtractor, "2026-08-12")
    assert(channels(nullBytes)._2 === Seq("https://x/n.pdf" -> "no-content"))
  }

  test("narrow pass — keepEmptyPages keeps whitespace pages but still gates whitespace-only docs") {
    val out = Pipeline.process(binDf(
      "https://x/d.pdf" -> "a\f \f\fb",
      "https://x/blank.pdf" -> "\f \f\t"), FormFeedExtractor, "2026-08-12",
      keepEmptyPages = true)
    val (docs, quarantine) = channels(out)
    assert(docs === Seq("https://x/d.pdf" -> "a\n \n\nb"))
    assert(quarantine === Seq("https://x/blank.pdf" -> "empty-text"))
  }

  // ------------------------------------ the shared rows and their lifetime

  /** Three staged rows: two with text, one (c.pdf) without. */
  private def stagedThree(): String = {
    val dir = Files.createTempDirectory("graft_staged").resolve("bins").toString
    binDf("https://x/a.pdf" -> "alpha", "https://x/b.pdf" -> "beta\fgamma",
      "https://x/c.pdf" -> "\f ").write.parquet(dir)
    dir
  }

  /** `body`'s value, with the jobs it started and the codec calls it made
    * as (extractions, diagnoses).
    */
  private def counted[A](body: => A): (A, Int, (Int, Int)) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      CountingExtractor.extractions.set(0); CountingExtractor.diagnoses.set(0)
      val a = body
      org.apache.spark.GraftListenerDrain.drain(sc)
      (a, jobs.get,
        (CountingExtractor.extractions.get, CountingExtractor.diagnoses.get))
    } finally sc.removeSparkListener(listener)
  }

  test("narrow pass — process runs no job and no extraction, with AQE off and on") {
    val dir = stagedThree()
    for (aqe <- Seq("false", "true")) withConfs(
        "spark.sql.adaptive.enabled" -> aqe,
        "spark.sql.shuffle.partitions" -> "8") {
      val bins = spark.read.parquet(dir)
      val (_, jobs, calls) = counted(
        Pipeline.process(bins, CountingExtractor, "2026-08-12"))
      assert(jobs === 0, s"AQE $aqe")
      assert(calls === ((0, 0)), s"AQE $aqe")
    }
  }

  test("narrow pass — one extraction per row per batch, whichever channel runs first") {
    benchConf {
      val dir = stagedThree()
      def channelsIn(docsFirst: Boolean) = {
        val out = Pipeline.process(spark.read.parquet(dir), CountingExtractor,
          "2026-08-12")
        val docs = () => out.docs.select("sourceURL").as[String].collect().sorted.toSeq
        val quarantine = () => out.quarantine.as[(String, String)].collect().toSeq
        counted(
          if (docsFirst) { val d = docs(); (d, quarantine()) }
          else { val q = quarantine(); (docs(), q) })
      }
      for (docsFirst <- Seq(true, false)) {
        val ((docs, quarantine), _, calls) = channelsIn(docsFirst)
        // the first channel action extracts every row and diagnoses only
        // c.pdf, the row without text; the second reassembles the cached
        // rows
        assert(calls === ((3, 1)), s"docs first: $docsFirst")
        assert(docs === Seq("https://x/a.pdf", "https://x/b.pdf"))
        assert(quarantine === Seq("https://x/c.pdf" -> "empty-text"))
      }
    }
  }

  test("narrow pass — two process calls over the same staged input extract twice") {
    benchConf {
      val dir = stagedThree()
      // nothing is reused across calls: a re-staged path is never read
      // from an earlier call's text
      val (_, _, calls) = counted {
        for (_ <- 1 to 2) {
          val out = Pipeline.process(spark.read.parquet(dir), CountingExtractor,
            "2026-08-12")
          out.docs.collect(); out.quarantine.collect()
        }
      }
      assert(calls === ((6, 2)))
    }
  }

  test("narrow pass — the shared rows are released once both channel frames are unreachable") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cache = session.sharedState.cacheManager
    val dir = stagedThree()
    // run both channels inside a frame of their own, so nothing on this
    // test's stack keeps them reachable; keep only the cached plan, the
    // per-row projection the reassembly reads
    def drained(): LogicalPlan = {
      val out = Pipeline.process(spark.read.parquet(dir), CountingExtractor,
        "2026-08-12")
      out.docs.collect(); out.quarantine.collect()
      out.docs.queryExecution.analyzed
        .collectFirst { case a: Aggregate => a.child }.get
    }
    val plan = drained()
    assert(cache.lookupCachedData(session, plan).nonEmpty)
    org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
      System.gc()
      assert(cache.lookupCachedData(session, plan).isEmpty)
    }
  }

  test("narrow pass — channel rows are identical with AQE on and off (mixed sniffing corpus)") {
    val docx = Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/fixtures/minimal_statute.docx"))
    val dir = Files.createTempDirectory("graft_staged").resolve("bins").toString
    Seq(
      ("https://x/vol01.pdf", EthiopicPdfFixture.volume()),
      ("https://x/Proc%201-2016.docx", docx),
      ("https://x/vol03.doc", DocFixtures.doc(Seq(("Decided 1995\r", true)))),
      ("https://x/locked.doc", DocFixtures.rc4Doc("x", Seq(("hidden\r", true)))),
      ("https://x/junk.bin", "not a document".getBytes("UTF-8")),
      ((null: String), "no url".getBytes("UTF-8")))
      .toDF("url", "content").write.parquet(dir)
    def run(aqe: String) = withConfs("spark.sql.adaptive.enabled" -> aqe) {
      val out = Pipeline.process(spark.read.parquet(dir), SniffingExtractor(),
        "2026-08-12", category = DocOps.autoCategory(col("url")))
      (out.docs.select("sourceURL", "content").as[(String, String)].collect().toSet,
        out.quarantine.as[(String, String)].collect().toSet)
    }
    val (docs, quarantine) = run("false")
    assert(docs.map(_._1) === Set("https://x/Proc%201-2016.docx",
      "https://x/vol01.pdf", "https://x/vol03.doc"))
    assert(quarantine === Set("https://x/junk.bin" -> "not-pdf-or-docx",
      "https://x/locked.doc" -> "encrypted", (null: String) -> "not-pdf-or-docx"))
    assert(run("true") === ((docs, quarantine)))
  }

  test("narrow pass — neither channel joins, and no exchange carries the binaries") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.BinaryType
    val dir = Files.createTempDirectory("graft_staged").resolve("bins").toString
    binDf("https://x/a.pdf" -> "alpha", "https://x/c.pdf" -> " ")
      .write.parquet(dir)
    val out = Pipeline.process(spark.read.parquet(dir), SniffingExtractor(),
      "2026-08-12")
    for ((name, df) <- Seq("docs" -> out.docs, "quarantine" -> out.quarantine)) {
      val nodes = graft.SpecHelpers.deepNodes(df.queryExecution.executedPlan)
      val plan = df.queryExecution.executedPlan.treeString
      assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), s"$name joins:\n$plan")
      // the scanned binary column, by attribute id: a partial
      // collect_list buffer is BINARY too, but it holds page text
      val binaries = nodes.collect { case s: FileSourceScanExec => s }
        .flatMap(_.output).filter(_.dataType == BinaryType).map(_.exprId)
      assert(binaries.nonEmpty, plan)
      val exchanges = nodes.collect { case e: Exchange => e }
      assert(exchanges.size === 1, s"$name:\n$plan")
      assert(exchanges.forall(_.output.forall(a =>
        a.name != "content" && !binaries.contains(a.exprId))),
        s"$name shuffles the binaries:\n$plan")
    }
  }
}

/** Counts codec calls across the executor threads of the local session. */
object CountingExtractor extends PageExtractor {
  val extractions = new java.util.concurrent.atomic.AtomicInteger
  val diagnoses = new java.util.concurrent.atomic.AtomicInteger
  def extractPages(bytes: Array[Byte]): Seq[String] = {
    extractions.incrementAndGet()
    FormFeedExtractor.extractPages(bytes)
  }
  override def diagnose(bytes: Array[Byte]): String = {
    diagnoses.incrementAndGet()
    super.diagnose(bytes)
  }
}

object ThrowingExtractor extends PageExtractor {
  def extractPages(bytes: Array[Byte]): Seq[String] =
    throw new IllegalStateException("codec bug")
}

object NullPagesExtractor extends PageExtractor {
  def extractPages(bytes: Array[Byte]): Seq[String] = null
}

/** Extracts nothing and fails its diagnosis as well. */
object ThrowingDiagnoser extends PageExtractor {
  def extractPages(bytes: Array[Byte]): Seq[String] = Nil
  override def diagnose(bytes: Array[Byte]): String =
    throw new IllegalStateException("diagnosis bug")
}
