package graft.multimodal

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Multimodal plumbing tests: binaryFile ingest, per-partition feature
  * extraction (schema/batch shape/laziness), frame-sample fan-out, and
  * phash near-dup banding — against the deterministic FakeCodec for
  * image/audio (real codec out-of-container, SURVEY §7.4-style stub), and
  * against the REAL FlatePdfCodec for text-bearing PDFs.
  */
class MultimodalSpec extends SparkSpec {

  private lazy val mediaDir: String = {
    val dir = Files.createTempDirectory("graft_media")
    Seq("imgA" -> "media-bytes-alpha", "imgB" -> "media-bytes-alpha",
        "imgC" -> "completely different payload").foreach { case (name, body) =>
      Files.write(dir.resolve(s"$name.bin"), body.getBytes("UTF-8"))
    }
    dir.toString
  }

  test("binaryFile ingest — (path, kind, length, content) contract") {
    val media = Multimodal.ingest(spark, mediaDir, "image")
    val rows = media.collect()
    assert(rows.length === 3)
    assert(rows.forall(_.kind == "image"))
    assert(rows.forall(r => r.length == r.content.length))
  }

  test("image features — deterministic per content, partition-layout independent") {
    val media = Multimodal.ingest(spark, mediaDir, "image")
    val f1 = Multimodal.imageFeatures(media, Multimodal.FakeCodec).collect()
      .map(f => f.path -> f).toMap
    val f2 = Multimodal.imageFeatures(media.repartition(3), Multimodal.FakeCodec)
      .collect().map(f => f.path -> f).toMap
    assert(f1 === f2)
    // identical bytes → identical features; different bytes → different phash
    val byName = f1.map { case (p, f) => Paths.get(p.stripPrefix("file:")).getFileName.toString -> f }
    assert(byName("imgA.bin").phash === byName("imgB.bin").phash)
    assert(byName("imgA.bin").phash !== byName("imgC.bin").phash)
    assert(byName.values.forall(f => f.width >= 64 && f.height >= 64 &&
      (1 to 4).contains(f.channels)))
  }

  private def pdfText(dir: String): Seq[Multimodal.DocText] =
    Multimodal.extractText(
      spark.read.format("binaryFile")
        .option("pathGlobFilter", "vol01.pdf").load(dir)
        .selectExpr("path", "'pdf' as kind", "length", "content")
        .as[Multimodal.MediaRow](org.apache.spark.sql.Encoders.product),
      Multimodal.FlatePdfCodec).collect().toSeq

  test("PDF text via the REAL codec — Ethiopic text from a reference-shaped CID-font volume") {
    // binaryFile ingest of a CID-font Flate volume → per-partition decode
    // through the DocumentCodec seam — no stub anywhere on this path
    val dir = Files.createTempDirectory("graft_vol")
    Files.write(dir.resolve("vol01.pdf"), graft.etl.EthiopicPdfFixture.volume())
    val docs = pdfText(dir.toString)
    assert(docs.length === 1)
    assert(docs.head.nPages === graft.etl.EthiopicPdfFixture.Pages.size)
    assert(docs.head.text.split("\n").toSeq === graft.etl.EthiopicPdfFixture.Pages,
      s"got: ${docs.head.text.take(120)}")
    // garbage bytes flow through as empty docs, never throw
    import spark.implicits._
    val junk = Seq(Multimodal.MediaRow("junk", "pdf", 4L,
      Array[Byte](1, 2, 3, 4))).toDS()
    val jr = Multimodal.extractText(junk, Multimodal.FlatePdfCodec).collect()
    assert(jr.head.nPages === 0 && jr.head.text.isEmpty)
  }

  test("reference snapshot — Ethiopic text from the real vol01 bytes") {
    val docs = pdfText(graft.ReferenceSnapshot.path("vol01.pdf").getParent.toString)
    assert(docs.length === 1)
    assert(docs.head.nPages > 0, "no pages decoded from vol01.pdf")
    // Ethiopic block U+1200–U+137F — the actual cassation-decision script
    assert(docs.head.text.exists(c => c >= 'ሀ' && c <= '፿'),
      s"no Ethiopic characters decoded; got: ${docs.head.text.take(120)}")
  }

  test("passworded PDF text via PasswordedPdfCodec — executor-side decrypt+decode (r15)") {
    // AESV3/R6 fixture with a real user password, decoded through the
    // SAME mapPartitions plumbing as every other codec — the password
    // rides inside the Serializable codec, so executors decrypt without
    // any driver-side coordination. Crypto key schedules are pinned in
    // PdfDecryptSpec; this pins the Spark-side seam.
    val doc = graft.etl.EncryptedPdfFixture.r6UserLocked(
      "ፍትሕ-2016", "locked page")
    import spark.implicits._
    val media = Seq(Multimodal.MediaRow("locked.pdf", "pdf",
      doc.length.toLong, doc)).toDS().repartition(3)
    val got = Multimodal.extractText(media,
      Multimodal.PasswordedPdfCodec("ፍትሕ-2016")).collect()
    assert(got.head.nPages === 1 && got.head.text === "locked page")
    // wrong password degrades to Nil through the same seam, never throws
    val wrong = Multimodal.extractText(media,
      Multimodal.PasswordedPdfCodec("not-it")).collect()
    assert(wrong.head.nPages === 0 && wrong.head.text.isEmpty)
    // and the password-free codec quarantine-shapes it too
    val none = Multimodal.extractText(media, Multimodal.FlatePdfCodec)
      .collect()
    assert(none.head.nPages === 0)
  }

  test("PDF text via the REAL codec — LZW-compressed fixture (non-Flate path)") {
    // round-7 codec increment: the same binaryFile→DocumentCodec path as
    // vol01, but the content stream is LZWDecode (fixture built by the
    // spec-pinned test encoder, FlatePdfLzwSpec)
    val dir = Files.createTempDirectory("graft_lzw_pdf")
    Files.write(dir.resolve("lzw01.pdf"),
      graft.etl.LzwTestSupport.lzwPdf("Selam LZW fixture"))
    val media = spark.read.format("binaryFile").load(dir.toString)
      .selectExpr("path", "'pdf' as kind", "length", "content")
      .as[Multimodal.MediaRow](org.apache.spark.sql.Encoders.product)
    val docs = Multimodal.extractText(media, Multimodal.FlatePdfCodec).collect()
    assert(docs.length === 1 && docs.head.nPages === 1)
    assert(docs.head.text.contains("Selam LZW fixture"))
  }

  test("DOCX text via the REAL codec — golden on the checked-in statute fixture (VERDICT r10 #3)") {
    // the statute-ingestion twin of the vol01 path: binaryFile ingest of
    // the checked-in minimal .docx → per-partition decode through the
    // same DocumentCodec seam
    val media = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.docx")
      .load("src/test/resources/fixtures")
      .selectExpr("path", "'docx' as kind", "length", "content")
      .as[Multimodal.MediaRow](org.apache.spark.sql.Encoders.product)
    val docs = Multimodal.extractText(media, Multimodal.DocxCodec).collect()
    assert(docs.length === 1)
    // golden: entities unescaped, tab and in-paragraph break honored,
    // Ethiopic numeric references decoded, page split on <w:br type=page>
    assert(docs.head.nPages === 2, s"expected 2 pages: ${docs.head}")
    val pages = graft.etl.DocxExtractor.extractPages(
      Files.readAllBytes(
        Paths.get("src/test/resources/fixtures/minimal_statute.docx")))
    assert(pages === Seq(
      "Federal Statute & Proclamation No. 1/2016\n" +
        "Article 1:\tመገቢያ\n" +
        "first part\nsecond line",
      "Article 2: scope <broad>"), pages)
    // garbage degrades to Nil (the S16 contract), never throws
    assert(graft.etl.DocxExtractor.extractPages("not a zip".getBytes) === Nil)
    assert(graft.etl.DocxExtractor.extractPages(Array[Byte](0x50, 0x4b, 3, 4))
      === Nil)
    // a real zip WITHOUT word/document.xml is also Nil, not an error
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("other.txt"))
    z.write("x".getBytes); z.closeEntry(); z.close()
    assert(graft.etl.DocxExtractor.extractPages(bos.toByteArray) === Nil)
  }

  test("frame sampling — one row per sampled frame, offsets spaced by everyMs") {
    val media = Multimodal.ingest(spark, mediaDir, "video")
    val frames = Multimodal.sampleFrames(media, Multimodal.FakeCodec, everyMs = 500)
      .collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.path).values.foreach { fs =>
      val sorted = fs.sortBy(_.frameIdx)
      sorted.zipWithIndex.foreach { case (f, i) =>
        assert(f.frameIdx === i)
        assert(f.offsetMs === i * 500L)
      }
    }
  }

  test("phash near-dups — identical media pair found, distinct media not") {
    val media = Multimodal.ingest(spark, mediaDir, "image")
    val features = Multimodal.imageFeatures(media, Multimodal.FakeCodec).toDF()
    val dups = Multimodal.phashNearDups(features, maxDist = 4).collect()
    assert(dups.length === 1) // imgA ≈ imgB only
    assert(dups.head.getAs[Int]("dist") === 0)
  }

  test("resize — binary passthrough preserves row count and metadata") {
    val media = Multimodal.ingest(spark, mediaDir, "image")
    val resized = Multimodal.resizeAll(media, Multimodal.FakeCodec, 8, 8).collect()
    assert(resized.length === 3)
    assert(resized.forall(r => r.length == r.content.length))
  }

  test("legacy .doc text via DocCodec — Word-97 binary through the same DocumentCodec seam (r17)") {
    import spark.implicits._
    val am = "የፌዴራል ጠቅላይ ፍርድ ቤት\r"
    val plain = graft.etl.DocFixtures.doc(Seq(
      ("First page text\r\f", true), (am, false)))
    val sealed0 = graft.etl.DocFixtures.rc4Doc("ቁልፍ", Seq(("locked body\r", true)))
    val media = Seq(
      Multimodal.MediaRow("mem://vol03.doc", "doc", plain.length.toLong, plain),
      Multimodal.MediaRow("mem://locked.doc", "doc", sealed0.length.toLong, sealed0))
      .toDS()
    val docs = Multimodal.extractText(media, Multimodal.DocCodec)
      .collect().map(d => d.path -> d).toMap
    assert(docs("mem://vol03.doc").nPages === 2) // the \f page split
    assert(docs("mem://vol03.doc").text
      === "First page text\n" + am.stripSuffix("\r"))
    assert(docs("mem://locked.doc").nPages === 0) // encrypted: degrades to Nil
    // the passworded codec opens it through the same plumbing
    val keyed = Multimodal.extractText(media,
      Multimodal.PasswordedDocCodec("ቁልፍ")).collect()
      .map(d => d.path -> d).toMap
    assert(keyed("mem://locked.doc").text === "locked body")
    assert(keyed("mem://vol03.doc").nPages === 2) // plain rows unaffected
  }
}
