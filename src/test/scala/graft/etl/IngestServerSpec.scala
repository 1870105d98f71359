package graft.etl

import graft.SparkSpec
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** E3 integration: POST a fixture "PDF" to the /ingest shim and get the
  * S14 document record back — the reference's mcp_server.py contract
  * (error-as-row on bad input, empty pages kept).
  */
class IngestServerSpec extends SparkSpec {
  import spark.implicits._

  private def post(port: Int, path: String, body: Array[Byte],
                   contentType: String,
                   headers: Map[String, String] = Map.empty): String = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    HttpClient.newHttpClient()
      .send(b.build(), HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      .body()
  }

  test("POST /ingest returns the S14 document JSON; gates and errors match mcp") {
    val server = new IngestServer(spark, FormFeedExtractor)
    val port = server.start()
    try {
      // happy path: form-feed fixture through the real S9-S14 chain
      val body = "Decided 1998 first page\f\fthird page".getBytes("UTF-8")
      val resp = post(port,
        "/ingest?volume=Vol%2001&pdf_url=https%3A%2F%2Fx%2FVol%2001.pdf",
        body, "application/pdf")
      val doc = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(resp).toDS()).head()
      assert(doc.getAs[String]("title") === "Vol 01")
      assert(doc.getAs[String]("year") === "1998")
      assert(doc.getAs[String]("category") === "CassationDecision")
      // mcp keeps empty pages: the "" middle page joins as a blank line
      assert(doc.getAs[String]("content")
        === "Decided 1998 first page\n\nthird page")

      // S7 gate: wrong content type → error-as-row (HTTP 200, mcp shape)
      val bad = post(port, "/ingest?volume=x", body, "text/html")
      assert(bad.contains("\"error\""))

      // whitespace-only doc → quarantine reason surfaces as the error
      val empty = post(port, "/ingest?volume=e", "\f \f".getBytes,
        "application/pdf")
      assert(empty.contains("\"error\""))
    } finally server.stop()
  }

  test("POST /ingest?resource_type=statute — DOCX round-trip with Statute category (VERDICT r10 #3)") {
    val server = new IngestServer(spark, FlatePdfExtractor)
    val port = server.start()
    try {
      val docx = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "src/test/resources/fixtures/minimal_statute.docx"))
      // auto_ingest.yml:24-32 parity: *.docx POSTed with
      // resource_type=statute; the DOCX codec is selected by Content-Type
      val resp = post(port,
        "/ingest?volume=Proc%201-2016&resource_type=statute",
        docx, IngestServer.DocxContentType)
      val doc = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(resp).toDS()).head()
      assert(doc.getAs[String]("title") === "Proc 1-2016")
      assert(doc.getAs[String]("category") === "Statute")
      assert(doc.getAs[Seq[String]]("tags") === Seq("Statute"))
      assert(doc.getAs[String]("year") === "2016")
      val content = doc.getAs[String]("content")
      assert(content.contains("Federal Statute & Proclamation No. 1/2016"))
      assert(content.contains("መገቢያ"), "Ethiopic content must survive")
      assert(content.contains("Article 2: scope <broad>"))

      // DOCX without statute resource_type is refused at the S7 gate
      val refused = post(port, "/ingest?volume=x", docx,
        IngestServer.DocxContentType)
      assert(refused.contains("\"error\""))
      // unknown resource_type is refused loudly
      val unknown = post(port, "/ingest?volume=x&resource_type=treaty",
        "%PDF".getBytes, "application/pdf")
      assert(unknown.contains("\"error\""))
      // statute PDFs still work (statutes/** may be PDF) and carry the
      // statute category
      val pdfBytes = EthiopicPdfFixture.volume()
      val pdfResp = post(port,
        "/ingest?volume=Statute%20Vol&resource_type=statute",
        pdfBytes, "application/pdf")
      val pdfDoc = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(pdfResp).toDS()).head()
      assert(pdfDoc.getAs[String]("category") === "Statute")
    } finally server.stop()
  }

  test("POST /ingest?password=… opens a user-passworded PDF; wrong/absent password is error-as-row (r15, VERDICT #1)") {
    // minimal R3 RC4-128 writer (the PdfDecryptSpec spec transcription,
    // compacted): a document whose USER password is `stat-pass-42`
    val pad = Array(
      0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
      0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
      0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A)
      .map(_.toByte)
    def md5(parts: Array[Byte]*): Array[Byte] = {
      val d = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(d.update); d.digest()
    }
    def padPwd(s: String): Array[Byte] =
      (s.getBytes(StandardCharsets.ISO_8859_1) ++ pad).take(32)
    def le(v: Long, n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((v >>> (8 * i)) & 0xff).toByte)
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    val id0 = (1 to 16).map(_.toByte).toArray
    val p = -3904
    val o = {
      var ok = md5(padPwd("owner-x"))
      for (_ <- 0 until 50) ok = md5(ok.take(16))
      val key = ok.take(16)
      var v = PdfDecrypt.rc4(key, padPwd("stat-pass-42"))
      for (i <- 1 to 19)
        v = PdfDecrypt.rc4(key.map(b => (b ^ i).toByte), v)
      v
    }
    val fk = {
      var k = md5(padPwd("stat-pass-42"), o, le(p.toLong & 0xffffffffL, 4), id0)
      for (_ <- 0 until 50) k = md5(k.take(16))
      k.take(16)
    }
    val u = {
      var x = PdfDecrypt.rc4(fk, md5(pad, id0))
      for (i <- 1 to 19) x = PdfDecrypt.rc4(fk.map(b => (b ^ i).toByte), x)
      x.take(16) ++ new Array[Byte](16)
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput("BT (Decided 2004 ruling text) Tj ET"
        .getBytes(StandardCharsets.ISO_8859_1))
      d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val enc = PdfDecrypt.rc4(
      md5(fk, le(2L, 3), le(0L, 2)).take(16), deflated)
    val doc = {
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit =
        out.write(s.getBytes(StandardCharsets.ISO_8859_1))
      w("%PDF-1.6\n")
      w(s"1 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P $p " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>\nendobj\n")
      w(s"2 0 obj\n<< /Length ${enc.length} /Filter /FlateDecode >>\nstream\n")
      out.write(enc)
      w("\nendstream\nendobj\n")
      w(s"trailer << /Root 3 0 R /Encrypt 1 0 R " +
        s"/ID [ <${hex(id0)}> <${hex(id0)}> ] >>\n%%EOF\n")
      out.toByteArray
    }
    val server = new IngestServer(spark, FlatePdfExtractor)
    val port = server.start()
    try {
      // right password (URL-encoded like any query param) → S14 record
      val resp = post(port,
        "/ingest?volume=Locked%20Vol&password=stat-pass-42",
        doc, "application/pdf")
      val rec = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(resp).toDS()).head()
      assert(rec.getAs[String]("content") === "Decided 2004 ruling text")
      assert(rec.getAs[String]("year") === "2004")
      // absent password → the empty-password open fails → coded reason
      val absent = post(port, "/ingest?volume=x", doc, "application/pdf")
      assert(absent.contains("\"error\"") && absent.contains("encrypted"))
      // wrong password → same quarantine row (no partial open)
      val wrong = post(port, "/ingest?volume=x&password=nope", doc,
        "application/pdf")
      assert(wrong.contains("\"error\"") && wrong.contains("encrypted"))
      // the password scopes to its request: a later password-free upload
      // of an UNENCRYPTED document is untouched by the previous request
      val plain = post(port, "/ingest?volume=p",
        ("%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n" +
          "2 0 obj\n<< /Length 30 >>\nstream\n" +
          "BT (Decided 1999 open) Tj ET\nendstream\nendobj\n" +
          "trailer << >>\n%%EOF\n").getBytes(StandardCharsets.ISO_8859_1),
        "application/pdf")
      assert(plain.contains("Decided 1999 open"))
    } finally server.stop()
  }

  test("POST /ingest statute route + password — encrypted OOXML decrypts end-to-end (r15)") {
    // agile-encrypted statute DOCX through the REST shim: the password
    // query param reaches the DOCX codec via the same withPassword seam
    // the PDF route uses, Ethiopic password URL-encoding included
    val doc = OoxmlFixtures.agileDoc("የሕግ-ቁልፍ",
      OoxmlFixtures.docx("Proclamation 7/2016 ድንጋጌ"))
    val server = new IngestServer(spark, FlatePdfExtractor)
    val port = server.start()
    try {
      val pwd = java.net.URLEncoder.encode("የሕግ-ቁልፍ", "UTF-8")
      val resp = post(port,
        s"/ingest?volume=Proc%207-2016&resource_type=statute&password=$pwd",
        doc, IngestServer.DocxContentType)
      val rec = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(resp).toDS()).head()
      assert(rec.getAs[String]("category") === "Statute")
      assert(rec.getAs[String]("content")
        .contains("Proclamation 7/2016 ድንጋጌ"))
      assert(rec.getAs[String]("year") === "2016")
      // no/wrong password → the coded `encrypted` reason as error-row
      val absent = post(port,
        "/ingest?volume=x&resource_type=statute", doc,
        IngestServer.DocxContentType)
      assert(absent.contains("\"error\"") && absent.contains("encrypted"))
      val wrong = post(port,
        "/ingest?volume=x&resource_type=statute&password=nope", doc,
        IngestServer.DocxContentType)
      assert(wrong.contains("\"error\"") && wrong.contains("encrypted"))
    } finally server.stop()
  }

  /** Raw-socket POST so the test can put NON-ASCII bytes on the wire in
    * a header value, the way curl does — java.net.http flattens header
    * chars above 0x7F to '?' before sending (measured), so it cannot
    * exercise the server's raw-UTF-8 header contract.
    */
  private def postRaw(port: Int, path: String, body: Array[Byte],
                      contentType: String,
                      rawHeaders: Map[String, Array[Byte]]): String = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val out = new java.io.BufferedOutputStream(sock.getOutputStream)
      def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
      w(s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n")
      w(s"Content-Type: $contentType\r\nContent-Length: ${body.length}\r\n")
      rawHeaders.foreach { case (k, v) =>
        w(s"$k: "); out.write(v); w("\r\n")
      }
      w("Connection: close\r\n\r\n")
      out.write(body); out.flush()
      val resp = new String(sock.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8)
      resp.substring(resp.indexOf("\r\n\r\n") + 4)
    } finally sock.close()
  }

  test("RC4 CryptoAPI statute DOCX decrypts end-to-end through the REST route (r16)") {
    // the r16 scheme through the same seam the agile/standard paths
    // use — proves the AlgID dispatch needs no route-level special case
    val doc = OoxmlFixtures.rc4CryptoApiDoc("w2003-key",
      OoxmlFixtures.docx("Proclamation 11/2003 compat-mode ድንጋጌ"))
    val server = new IngestServer(spark, FlatePdfExtractor)
    val port = server.start()
    try {
      val resp = post(port,
        "/ingest?volume=Proc%2011-2003&resource_type=statute", doc,
        IngestServer.DocxContentType,
        headers = Map("X-Document-Password" -> "w2003-key"))
      val rec = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(resp).toDS()).head()
      assert(rec.getAs[String]("content")
        .contains("Proclamation 11/2003 compat-mode ድንጋጌ"))
      assert(rec.getAs[String]("year") === "2003")
      val bare = post(port, "/ingest?volume=x&resource_type=statute", doc,
        IngestServer.DocxContentType)
      assert(bare.contains("\"error\"") && bare.contains("encrypted"))
    } finally server.stop()
  }

  test("X-Document-Password header is the preferred password channel (r15 ADVICE: keep secrets out of query strings)") {
    val pwd = "የሕግ-ቁልፍ-16"
    val doc = OoxmlFixtures.agileDoc(pwd,
      OoxmlFixtures.docx("Proclamation 9/2016 ድንጋጌ"))
    val server = new IngestServer(spark, FlatePdfExtractor)
    val port = server.start()
    try {
      // curl-style: the header carries the password's raw UTF-8 bytes
      val resp = postRaw(port,
        "/ingest?volume=Proc%209-2016&resource_type=statute", doc,
        IngestServer.DocxContentType,
        rawHeaders = Map("X-Document-Password" ->
          pwd.getBytes(StandardCharsets.UTF_8)))
      val rec = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(resp).toDS()).head()
      assert(rec.getAs[String]("content").contains("Proclamation 9/2016"))
      // plain-ASCII header value passes through identically
      val pdfPwdDoc = OoxmlFixtures.agileDoc("ascii-pass",
        OoxmlFixtures.docx("Proclamation 10/2016"))
      val asciiResp = post(port,
        "/ingest?volume=Proc%2010-2016&resource_type=statute", pdfPwdDoc,
        IngestServer.DocxContentType,
        headers = Map("X-Document-Password" -> "ascii-pass"))
      assert(asciiResp.contains("Proclamation 10/2016"))
      // the header WINS over the query param (the documented contract:
      // the parity query channel is ignored when the header is present)
      val both = postRaw(port,
        "/ingest?volume=x&resource_type=statute&password=wrong-one", doc,
        IngestServer.DocxContentType,
        rawHeaders = Map("X-Document-Password" ->
          pwd.getBytes(StandardCharsets.UTF_8)))
      assert(both.contains("ድንጋጌ"))
      // wrong header password → the same coded quarantine row
      val bad = post(port, "/ingest?volume=x&resource_type=statute", doc,
        IngestServer.DocxContentType,
        headers = Map("X-Document-Password" -> "nope"))
      assert(bad.contains("\"error\"") && bad.contains("encrypted"))
      // a present-but-EMPTY header still wins over the query param
      // (review r16): the client explicitly requests the empty-password
      // open, overriding a stale ?password= in a templated URL — for
      // this encrypted doc that is the quarantine, NOT an open with the
      // query value (which is the right password here and would open)
      val emptyHdr = postRaw(port,
        s"/ingest?volume=x&resource_type=statute&password=${
          java.net.URLEncoder.encode(pwd, "UTF-8")}", doc,
        IngestServer.DocxContentType,
        rawHeaders = Map("X-Document-Password" -> Array.emptyByteArray))
      assert(emptyHdr.contains("\"error\"") && emptyHdr.contains("encrypted"))
    } finally server.stop()
  }

  test("GET / and /hub — static status dashboard backed by StatusLog + MetricsExport (VERDICT r10 #7)") {
    val statusDir = java.nio.file.Files
      .createTempDirectory("graft_hub_status").toString
    val metricsDir = java.nio.file.Files
      .createTempDirectory("graft_hub_metrics").toString + "/feed"
    // seed the two stores the dashboard reads
    StatusLog.append(spark, statusDir,
      Seq(("2026-08-15 10:00:00", "INFO", "ingested Vol 01"),
          ("2026-08-15 10:05:00", "ERROR", "quarantined locked.pdf"))
        .toDF("ts", "level", "message")
        .selectExpr("cast(ts as timestamp) ts", "level", "message"))
    MetricsExport.appendRun(spark, metricsDir, "run_0001",
      Map("docs_ingested" -> 41L, "quarantined" -> 2L))
    val server = new IngestServer(spark, FormFeedExtractor,
      statusDir = Some(statusDir), metricsDir = Some(metricsDir))
    val port = server.start()
    def get(path: String): (Int, String, String) = {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).GET().build()
      val r = HttpClient.newHttpClient()
        .send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (r.statusCode(), r.body(),
        r.headers().firstValue("Content-Type").orElse(""))
    }
    try {
      // root status line — the reference's own string (main.py:9-11)
      val (rc, rb, _) = get("/")
      assert(rc === 200 &&
        rb === """{"status": "App is live. Visit /hub for dashboard."}""")
      // the static page at /hub and /hub/ (StaticFiles html=True parity)
      val (hc, hb, hct) = get("/hub")
      assert(hc === 200 && hct.startsWith("text/html"))
      assert(hb.contains("<html") && hb.contains("/hub/status.json"))
      assert(get("/hub/")._2 === hb)
      // the live data feed renders both stores
      val (sc2, sb, sct) = get("/hub/status.json")
      assert(sc2 === 200 && sct.startsWith("application/json"))
      val parsed = spark.read.option("mode", "FAILFAST")
        .json(Seq(sb).toDS()).head()
      assert(sb.contains("\"docs_ingested\"") && sb.contains("41"))
      assert(sb.contains("ingested Vol 01") &&
        sb.contains("quarantined locked.pdf"))
      assert(parsed.schema.fieldNames.sorted === Array("log", "metrics"))
      // unknown paths 404 as error rows, existing contexts still win
      assert(get("/nope")._1 === 404)
      assert(get("/hub/nope")._1 === 404)
      assert(get("/openapi.json")._1 === 200)
    } finally server.stop()

    // a broken feed must be distinguishable from a healthy empty one by
    // status code (review finding, r12): /hub's catch returns 500 + the
    // error-JSON body, unlike /ingest's S16 row-shaped 200s. The fixture
    // is a complete-looking generation whose parquet is garbage — the
    // read throws at collect, the healthy-empty case (no generations)
    // stays 200.
    val badDir = java.nio.file.Files
      .createTempDirectory("graft_hub_bad").toString
    val gen = java.nio.file.Paths.get(badDir, "gen_1")
    java.nio.file.Files.createDirectories(gen)
    java.nio.file.Files.write(gen.resolve("_SUCCESS"), Array.empty[Byte])
    java.nio.file.Files.write(gen.resolve("part-00000.parquet"),
      "not parquet".getBytes(StandardCharsets.UTF_8))
    val broken = new IngestServer(spark, FormFeedExtractor,
      statusDir = Some(badDir))
    val bport = broken.start()
    def bget(path: String): (Int, String) = {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$bport$path")).GET().build()
      val r = HttpClient.newHttpClient()
        .send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (r.statusCode(), r.body())
    }
    try {
      val (bc, bb) = bget("/hub/status.json")
      assert(bc === 500, s"want 500 on a throwing feed, got $bc: $bb")
      assert(bb.contains("\"error\""))
      assert(bget("/hub")._1 === 200) // the static page itself still serves
    } finally broken.stop()
  }

  test("raster-skip counts of a GOOD-channel upload reach the hub feed (VERDICT r13 #4)") {
    // a half-scanned volume ingests fine (text pages only) — the loss
    // must still show: cumulative pages_skipped_raster on the metrics
    // feed (→ /hub/status.json) plus a WARN status row naming the doc.
    val statusDir = java.nio.file.Files
      .createTempDirectory("graft_raster_status").toString
    val metricsDir = java.nio.file.Files
      .createTempDirectory("graft_raster_metrics").toString + "/feed"
    def streamObj(num: Int, dict: String, data: Array[Byte]): String =
      s"$num 0 obj\n<< /Length ${data.length} $dict >>\nstream\n" +
        new String(data, StandardCharsets.ISO_8859_1) + "\nendstream\nendobj\n"
    val defl = {
      val d = new java.util.zip.Deflater()
      d.setInput("BT (typed page) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
      d.finish()
      val buf = new Array[Byte](4096); val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    val halfScanned = ("%PDF-1.4\n" +
      streamObj(1, "/Filter /FlateDecode", defl) +
      streamObj(2, "/Filter /DCTDecode", Array[Byte](0xFF.toByte, 0xD8.toByte)) +
      streamObj(3, "/Filter /DCTDecode", Array[Byte](0xFF.toByte, 0xD8.toByte)) +
      "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    val server = new IngestServer(spark, FlatePdfExtractor,
      statusDir = Some(statusDir), metricsDir = Some(metricsDir))
    val port = server.start()
    try {
      val resp = post(port, "/ingest?volume=Half%20Scanned", halfScanned,
        "application/pdf")
      assert(!resp.contains("\"error\""), resp) // good channel
      assert(resp.contains("typed page"), resp)
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/hub/status.json")).GET().build()
      val sb = HttpClient.newHttpClient()
        .send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
        .body()
      assert(sb.contains("\"pages_skipped_raster\"") &&
        sb.contains("\"pages_skipped_raster:DCTDecode\""), sb)
      assert(sb.contains("2 stream(s) skipped (DCTDecode)"), sb)
      // a second lossy upload accumulates — the hub metric is a TOTAL
      post(port, "/ingest?volume=Half%20Scanned%202", halfScanned,
        "application/pdf")
      val sb2 = HttpClient.newHttpClient()
        .send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
        .body()
      val total = MetricsExport.latest(spark, metricsDir)
        .filter(org.apache.spark.sql.functions.col("metric") ===
          "pages_skipped_raster")
        .head().getAs[Long]("value")
      assert(total === 4L, sb2)
    } finally server.stop()
  }

  test("GET /openapi.json serves the machine-readable contract; schema matches the live record") {
    val server = new IngestServer(spark, FormFeedExtractor)
    val port = server.start()
    try {
      val req = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/openapi.json")).GET().build()
      val resp = HttpClient.newHttpClient()
        .send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      assert(resp.statusCode() === 200)
      // must parse as strict JSON (FAILFAST — a malformed contract is
      // worse than none) and carry the reference-shaped landmarks
      val parsed = spark.read.option("mode", "FAILFAST")
        .json(Seq(resp.body()).toDS()).head()
      assert(parsed.schema.fieldNames.contains("openapi"))
      assert(resp.body().contains("\"/ingest\""))
      assert(resp.body().contains("\"DocumentRequest\"")
        || resp.body().contains("\"Document\""))
      // the declared Document properties must be exactly the LIVE S14
      // record's fields — the contract cannot drift from the engine
      val declared = """"Document":\{[^}]*"required":\[([^\]]*)\]""".r
        .findFirstMatchIn(resp.body()).map(_.group(1)).getOrElse("")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet
      val live = graft.Tables.legalDocSchema.fieldNames.toSet
      assert(declared === live,
        s"contract fields $declared drifted from the live schema $live")
    } finally server.stop()
  }

  test("POST /ingest statute route — legacy binary .doc round-trip, plain and RC4-encrypted (r17)") {
    val server = new IngestServer(spark, FlatePdfExtractor)
    val port = server.start()
    try {
      // plain Word-97 binary through the application/msword gate
      val am = "አዋጅ ቁጥር 25/1988\r"
      val plain = DocFixtures.doc(Seq(
        ("Proclamation issued 1996\r", true), (am, false)))
      val resp = post(port,
        "/ingest?volume=Proc%2025-1988&resource_type=statute",
        plain, IngestServer.DocContentType)
      val doc = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(resp).toDS()).head()
      assert(doc.getAs[String]("title") === "Proc 25-1988")
      assert(doc.getAs[String]("category") === "Statute")
      assert(doc.getAs[String]("year") === "1996")
      assert(doc.getAs[String]("content")
        === "Proclamation issued 1996\n" + am.stripSuffix("\r"))
      // the sourceURL default carries the .doc extension
      assert(doc.getAs[String]("sourceURL") === "Proc 25-1988.doc")

      // .doc without statute resource_type is refused at the S7 gate,
      // exactly like DOCX
      val refused = post(port, "/ingest?volume=x", plain,
        IngestServer.DocContentType)
      assert(refused.contains("\"error\""))

      // RC4-v1.1-encrypted .doc + the header password channel opens
      // end-to-end; wrong password is the error-as-row `encrypted`.
      // (raw socket: java.net.http refuses non-ASCII header values —
      // the r16 header-channel gotcha; the contract is raw UTF-8 bytes)
      val sealed0 = DocFixtures.rc4Doc("መክፈቻ", Seq(("sealed text\r", true)))
      val opened = postRaw(port,
        "/ingest?volume=Locked&resource_type=statute",
        sealed0, IngestServer.DocContentType,
        rawHeaders = Map("X-Document-Password" ->
          "መክፈቻ".getBytes(StandardCharsets.UTF_8)))
      val openedDoc = spark.read.schema(graft.Tables.legalDocSchema)
        .json(Seq(opened).toDS()).head()
      assert(openedDoc.getAs[String]("content") === "sealed text")
      val wrong = post(port,
        "/ingest?volume=Locked&resource_type=statute",
        sealed0, IngestServer.DocContentType,
        headers = Map("X-Document-Password" -> "not-it"))
      assert(wrong.contains("\"error\"") && wrong.contains("encrypted"))
    } finally server.stop()
  }

  test("docx-crc-mismatch surfaces on /hub/status.json — the r16 integrity-gate reason completes the observability contract (r17, VERDICT r16 #6)") {
    // a silently-corrupted upload (one flipped byte in a STORED
    // document.xml — no integrity check of its own, only the central
    // directory's CRC-32 catches it) must not just quarantine with the
    // coded reason in the HTTP response: the reason must reach the
    // dashboard feed like every other quarantine class, so an operator
    // watching /hub sees storage rot as itself, not as a generic error
    val statusDir = java.nio.file.Files
      .createTempDirectory("graft_crc_status").toString
    val metricsDir = java.nio.file.Files
      .createTempDirectory("graft_crc_metrics").toString + "/feed"
    val xml =
      ("""<?xml version="1.0"?><w:document><w:body>""" +
        """<w:p><w:r><w:t>stored body text</w:t></w:r></w:p>""" +
        "</w:body></w:document>").getBytes(StandardCharsets.UTF_8)
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    val e = new java.util.zip.ZipEntry("word/document.xml")
    e.setMethod(java.util.zip.ZipEntry.STORED)
    e.setSize(xml.length.toLong)
    val c = new java.util.zip.CRC32(); c.update(xml)
    e.setCrc(c.getValue)
    z.putNextEntry(e); z.write(xml); z.closeEntry(); z.close()
    val good = bos.toByteArray
    val bad = good.clone()
    val dataOff = good.indexOfSlice("body text".getBytes(StandardCharsets.UTF_8))
    assert(dataOff > 0)
    bad(dataOff) = 'x'.toByte
    val server = new IngestServer(spark, FlatePdfExtractor,
      statusDir = Some(statusDir), metricsDir = Some(metricsDir))
    val port = server.start()
    try {
      // the undamaged twin extracts — pinning that the quarantine below
      // is the CRC gate, not a malformed fixture
      val ok = post(port, "/ingest?volume=Fine&resource_type=statute",
        good, IngestServer.DocxContentType)
      assert(ok.contains("stored body text"), ok)
      val resp = post(port, "/ingest?volume=Rotted&resource_type=statute",
        bad, IngestServer.DocxContentType)
      assert(resp.contains("\"error\"") && resp.contains("docx-crc-mismatch"),
        resp)
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/hub/status.json")).GET().build()
      val sb = HttpClient.newHttpClient()
        .send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
        .body()
      assert(sb.contains("docx-crc-mismatch") && sb.contains("Rotted"), sb)
    } finally server.stop()
  }
}
