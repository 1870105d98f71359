package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Adversarial-input pins for the network-admitted codecs (r12 hardening
  * — the `<w:t>` CPU-bomb class generalized): every lazy-dot regex that
  * scanned attacker-shaped bytes is now a linear open/close pairing walk,
  * and every decompressor that can expand super-linearly is ceilinged at
  * [[FlatePdfExtractor.MaxDecodedStreamBytes]]. Each pin builds a small
  * crafted document that made the OLD shape quadratic (hours) or
  * gigabyte-scale, and asserts the walk completes promptly with the
  * documented graceful degrade — and that adjacent GOOD content still
  * extracts (per-stream/per-page tolerance, the S9 contract).
  *
  * Wall-clock bounds are generous (the DocxExtractorSpec CPU-bomb
  * convention): a quadratic path overshoots them by orders of magnitude.
  */
class CodecBombSpec extends AnyFunSuite {

  private def pdf(objs: String*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n"); objs.foreach(w); w("%%EOF\n")
    out.toByteArray
  }

  private def streamObj(num: Int, dict: String, data: Array[Byte]): String =
    s"$num 0 obj\n<< /Length ${data.length} $dict >>\nstream\n" +
      new String(data, StandardCharsets.ISO_8859_1) + "\nendstream\nendobj\n"

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream
    val buf = new Array[Byte](65536)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end(); out.toByteArray
  }

  private def deflateS(s: String): Array[Byte] =
    deflate(s.getBytes(StandardCharsets.ISO_8859_1))

  private def timed[A](maxMs: Long, what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms < maxMs, s"$what took $ms ms — quadratic?")
    a
  }

  test("object-header CPU bomb: 300k terminator-less `1 0 obj` headers walk in linear time") {
    // the old ObjRe rescanned to end-of-input per header (O(k·n) ≈ 10^12
    // regex steps over ~2.4 MB); the linear objSlices walk clamps each
    // header's terminator search at the next header
    val raw = "%PDF-1.4\n" + ("1 0 obj " * 300000) +
      streamObj(2, "/Filter /FlateDecode", deflateS("BT (still works) Tj ET"))
    val bytes = raw.getBytes(StandardCharsets.ISO_8859_1)
    val pages = timed(30000, "extract") { FlatePdfExtractor.extractPages(bytes) }
    assert(pages === Seq("still works"), pages)
    timed(30000, "diagnose") { FlatePdfExtractor.diagnose(bytes) }
  }

  test("an overflowing object number skips ITS header only — adjacent objects still extract (r13 advice)") {
    // `99999999999 0 obj` used to throw NumberFormatException out of
    // objSlices and abort the WHOLE document to Nil (diagnosing a
    // misleading 'empty-text'); attacker-controlled numbers must skip,
    // the same class as the DOCX HeaderNameRe \d{1,6} fix
    val raw = "%PDF-1.4\n" +
      "99999999999 0 obj\n<< /Type /XObject >>\nendobj\n" +
      streamObj(2, "/Filter /FlateDecode", deflateS("BT (survives) Tj ET"))
    val bytes = raw.getBytes(StandardCharsets.ISO_8859_1)
    val pages = FlatePdfExtractor.extractPages(bytes)
    assert(pages === Seq("survives"), pages)
  }

  test("overflowing /ToUnicode ref and /Predicator numbers skip, never abort the document (r13 review)") {
    // the objSlices toIntOption fix generalized: extract()'s remaining
    // attacker-number parses (ToUnicode/font refs, DecodeParms ints,
    // EarlyChange) must also skip on overflow instead of throwing
    // NumberFormatException out to the Nil catch-all
    val raw = "%PDF-1.4\n" +
      "1 0 obj\n<< /Font << /F1 3 0 R >> /ToUnicode 99999999999 0 R >>\nendobj\n" +
      streamObj(2, "/Filter /FlateDecode /DecodeParms << /Predictor 99999999999 >>",
        deflateS("ignored — implausible parms")) +
      streamObj(4, "/Filter /FlateDecode", deflateS("BT (still here) Tj ET"))
    val bytes = raw.getBytes(StandardCharsets.ISO_8859_1)
    val pages = FlatePdfExtractor.extractPages(bytes)
    assert(pages.contains("still here"), pages)
  }

  test("CMap hex bombs skip their entry only: <FFFFFFFF> CIDs and invalid-codepoint ranges (r13 review round 2)") {
    // Integer.parseInt on an 8-digit CID threw NumberFormatException out
    // of extract() to the Nil catch-all — one crafted mapping lost the
    // whole document; now the bad ENTRY skips and the good rows map
    val cmap = "begincmap beginbfchar " +
      "<FFFFFFFF> <0041> " + // overflows Int: skip
      "<0042> <1218> " + // good: CID 0x42 -> U+1218 (Ethiopic me)
      "endbfchar beginbfrange " +
      "<0000> <0001> <7FFFFFF0> " + // dst past valid code points: rows skip
      "<0050> <0051> <0041> " + // good range
      "endbfrange endcmap"
    val raw = "%PDF-1.4\n" +
      "1 0 obj\n<< /Font << /F1 2 0 R >> >>\nendobj\n" +
      "2 0 obj\n<< /ToUnicode 3 0 R >>\nendobj\n" +
      streamObj(3, "/Filter /FlateDecode", deflateS(cmap)) +
      streamObj(4, "/Filter /FlateDecode",
        deflateS("BT /F1 12 Tf [ <00420050> ] TJ ET"))
    val bytes = raw.getBytes(StandardCharsets.ISO_8859_1)
    val pages = FlatePdfExtractor.extractPages(bytes)
    assert(pages === Seq("መA"), pages)
  }

  test("an indirect multi-digit /Length cannot backtrack into a direct length (r13 review round 2)") {
    // '/Length 20 0 R' with a backtrackable \d+ matched the prefix '2'
    // and truncated the stream to 2 bytes when the plausibility window
    // allowed it; the possessive quantifier rejects the whole form and
    // the endstream scan takes over
    val body = deflateS("BT (full stream intact) Tj ET")
    // N = (L-2)*10 + 1: the backtracked digit-prefix (L-2) sits inside
    // the plausibility window and TRUNCATES the stream by 2 bytes
    val n = (body.length - 2) * 10 + 1
    val raw = "%PDF-1.4\n" +
      s"2 0 obj\n<< /Length $n 0 R /Filter /FlateDecode >>\nstream\n" +
      new String(body, StandardCharsets.ISO_8859_1) + "\nendstream\nendobj\n" +
      s"3 0 obj\n<< /Length ${body.length} >>\nendobj\n"
    val bytes = raw.getBytes(StandardCharsets.ISO_8859_1)
    assert(FlatePdfExtractor.extractPages(bytes) === Seq("full stream intact"))
  }

  test("/Crypt stream filter: skipped per-stream, diagnosed unsupported-filter:Crypt (VERDICT r13 #6)") {
    // the last declared-out PDF shape: a stream whose filter chain names
    // /Crypt (per-stream crypt-filter selection, ISO 32000 §7.4.10).
    // decodeStream must skip it (never mis-decode), text in OTHER
    // streams must survive, and an all-Crypt document must reason-code
    // as unsupported-filter:Crypt — not fall through to empty-text.
    val good = streamObj(2, "/Filter /FlateDecode",
      deflateS("BT (visible text) Tj ET"))
    val crypt = streamObj(3,
      "/Filter [ /Crypt ] /DecodeParms [ << /Name /Identity >> ]",
      "opaque-bytes-the-decoder-must-not-touch".getBytes(StandardCharsets.ISO_8859_1))
    assert(FlatePdfExtractor.extractPages(pdf(good, crypt)) ===
      Seq("visible text"))
    val onlyCrypt = pdf(crypt)
    assert(FlatePdfExtractor.extractPages(onlyCrypt) === Nil)
    assert(FlatePdfExtractor.diagnose(onlyCrypt) === "unsupported-filter:Crypt",
      FlatePdfExtractor.diagnose(onlyCrypt))
    // mixed-raster determinism: Crypt sorts into the +-joined list
    val dct = streamObj(4, "/Filter /DCTDecode", Array[Byte](1, 2, 3))
    assert(FlatePdfExtractor.diagnose(pdf(crypt, dct)) ===
      "unsupported-filter:Crypt+DCTDecode")
  }

  test("trailer CPU bomb: 200k close-less `trailer <<` markers diagnose in linear time") {
    val raw = "%PDF-1.4\n" + ("trailer << /X " * 200000)
    val bytes = raw.getBytes(StandardCharsets.ISO_8859_1)
    val reason = timed(30000, "diagnose") { FlatePdfExtractor.diagnose(bytes) }
    assert(reason === "empty-text", reason)
  }

  test("deflate bomb: a ~100 KB stream inflating past the 64 MB ceiling degrades per-stream, text pages survive") {
    val bombPlain = new Array[Byte](128 << 20) // zeros: 128 MB → ~130 KB deflated
    val doc = pdf(
      streamObj(1, "/Filter /FlateDecode", deflate(bombPlain)),
      streamObj(2, "/Filter /FlateDecode", deflateS("BT (salvaged) Tj ET")))
    val pages = timed(30000, "extract") { FlatePdfExtractor.extractPages(doc) }
    assert(pages === Seq("salvaged"), pages)
  }

  test("RunLength bomb: 128x expansion past the ceiling degrades per-stream") {
    // 1.5 MB of (0xFF, 'x') pairs → each pair emits 130 bytes → ~96 MB
    val rl = new Array[Byte](3 << 19)
    var i = 0
    while (i < rl.length) { rl(i) = 0x81.toByte; rl(i + 1) = 'x'.toByte; i += 2 }
    val doc = pdf(
      streamObj(1, "/Filter /RunLengthDecode", rl),
      streamObj(2, "/Filter /FlateDecode", deflateS("BT (kept) Tj ET")))
    val pages = timed(30000, "extract") { FlatePdfExtractor.extractPages(doc) }
    assert(pages === Seq("kept"), pages)
  }

  test("TJ CPU bomb: 400k close-less `[` openers in a content stream pair in linear time") {
    // the old lazy TJRe rescanned the tail per `[`; the pairing walk
    // consults the precomputed close positions once
    val content = "BT " + ("[x" * 400000) + " (ok) Tj ET"
    val doc = pdf(streamObj(1, "/Filter /FlateDecode", deflateS(content)))
    val pages = timed(30000, "extract") { FlatePdfExtractor.extractPages(doc) }
    assert(pages === Seq("ok"), pages)
  }

  test("unclosed-literal CPU bomb: 400k `(` end the scan once, the text before them stays") {
    // one literal that never closes is read to the end once, not retried
    // at each of its 400k nested openers
    val content = "BT (ok) Tj " + ("(" * 400000) + ") Tj ET"
    val doc = pdf(streamObj(1, "/Filter /FlateDecode", deflateS(content)))
    val pages = timed(30000, "extract") { FlatePdfExtractor.extractPages(doc) }
    assert(pages === Seq("ok"), pages)
  }

  /** A catalog (1) over page tree node 2 and `nodes`, with a trailer. */
  private def treeDoc(nodes: String*): Array[Byte] =
    pdf(("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +: nodes) :+
      "trailer\n<< /Root 1 0 R >>\n": _*)

  test("page-tree cycles: a /Kids self-cycle and an A→B→A cycle visit each node once") {
    val page = "3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n" +
      streamObj(4, "", "BT (once) Tj ET".getBytes(StandardCharsets.ISO_8859_1))
    val self = treeDoc("2 0 obj\n<< /Type /Pages /Kids [2 0 R 3 0 R] >>\nendobj\n", page)
    assert(timed(30000, "self-cycle") { FlatePdfExtractor.extractPages(self) } === Seq("once"))
    val ab = treeDoc(
      "2 0 obj\n<< /Type /Pages /Kids [5 0 R 3 0 R] >>\nendobj\n",
      "5 0 obj\n<< /Type /Pages /Parent 2 0 R /Kids [2 0 R] >>\nendobj\n", page)
    assert(timed(30000, "A→B→A") { FlatePdfExtractor.extractPages(ab) } === Seq("once"))
  }

  test("a 100k-deep /Pages chain walks without a stack overflow") {
    val depth = 100000
    val chain = (2 until depth + 2).map { n =>
      s"$n 0 obj\n<< /Type /Pages /Kids [${n + 1} 0 R] >>\nendobj\n"
    }
    val leaf = depth + 2
    val doc = treeDoc(chain ++ Seq(
      s"$leaf 0 obj\n<< /Type /Page /Contents ${leaf + 1} 0 R >>\nendobj\n",
      streamObj(leaf + 1, "", "BT (deep) Tj ET".getBytes(StandardCharsets.ISO_8859_1))): _*)
    val pages = timed(30000, "deep tree") { FlatePdfExtractor.extractPages(doc) }
    assert(pages === Seq("deep"), pages)
  }

  /** Bytes this thread allocates while `body` runs (HotSpot's counter). */
  private def allocated[A](body: => A): (A, Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    val a = body
    (a, mx.getThreadAllocatedBytes(id) - before)
  }

  test("streams no page reads cost nothing: font programs and images are never inflated") {
    // a /FontFile2 program (its /Length1 marks it) whose inflated bytes
    // read as a content stream shows no page
    val ghost = pdf(
      streamObj(1, "/Length1 17 /Filter /FlateDecode", deflateS("BT (ghost) Tj ET")),
      streamObj(2, "/Filter /FlateDecode", deflateS("BT (real) Tj ET")))
    assert(FlatePdfExtractor.extractPages(ghost) === Seq("real"))
    // a 128 MB-of-zeros font program and a Flate image: inflating either
    // would allocate past the 64 MB ceiling, reading neither allocates a
    // few times the ~260 KB document
    val zeros = deflate(new Array[Byte](128 << 20))
    val doc = pdf(
      streamObj(1, "/Length1 134217728 /Filter /FlateDecode", zeros),
      streamObj(2, "/Type /XObject /Subtype /Image /Width 8192 /Height 16384 " +
        "/BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /FlateDecode", zeros),
      streamObj(3, "/Filter /FlateDecode", deflateS("BT (intact) Tj ET")))
    val (pages, bytes) = timed(30000, "extract") {
      allocated(FlatePdfExtractor.extractPages(doc))
    }
    assert(pages === Seq("intact"), pages)
    assert(bytes < (32L << 20), s"extraction allocated $bytes bytes")
  }

  test("a stream named 10k times is read for one page: repeated /Contents entries, leaves, shared arrays") {
    // ~1 MB of shown text behind a ~1 KB Flate stream: read once per
    // name it would be ~10 GB of page text
    val big = streamObj(5, "/Filter /FlateDecode",
      deflateS("BT (" + ("x" * (1 << 20)) + ") Tj ET"))
    val refs = Seq.fill(10000)("5 0 R").mkString("[", " ", "]")
    val leaves = 10 until 10010
    def leafDoc(contents: String, more: String*): Array[Byte] =
      treeDoc(Seq(s"2 0 obj\n<< /Type /Pages /Kids " +
        s"[${leaves.map(n => s"$n 0 R").mkString(" ")}] >>\nendobj\n", big) ++ more ++
        leaves.map(n => s"$n 0 obj\n<< /Type /Page /Contents $contents >>\nendobj\n"): _*)
    val docs = Seq(
      "one /Contents array" -> treeDoc(
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] >>\nendobj\n",
        s"3 0 obj\n<< /Type /Page /Contents $refs >>\nendobj\n", big),
      "10k leaves" -> leafDoc("5 0 R"),
      "10k leaves over one indirect array" ->
        leafDoc("7 0 R", s"7 0 obj\n$refs\nendobj\n"))
    for ((what, doc) <- docs) {
      val (pages, bytes) = timed(30000, what) {
        allocated(FlatePdfExtractor.extractPages(doc))
      }
      assert(pages.map(_.length) === Seq(1 << 20), what)
      assert(bytes < (128L << 20), s"$what allocated $bytes bytes")
    }
  }

  test("fonts and CMaps are read once, however many names and fonts point at them") {
    // an ~8 MB CMap behind 2000 font names: 1000 names for one font
    // object and 1000 font objects of their own, all over CMap 3
    val cmap = "begincmap 1 beginbfchar <41> <1218> endbfchar " +
      ("1 beginbfchar <FFFF> <0041> endbfchar\n" * 200000) + "endcmap"
    val names = (0 until 1000).map(i => s"/G$i 2 0 R") ++
      (0 until 1000).map(i => s"/F$i ${100 + i} 0 R")
    val selects = (0 until 1000).map(i => s"/G$i 1 Tf (A) Tj /F$i 1 Tf (A) Tj")
    val doc = pdf(Seq(
      s"1 0 obj\n<< /Font << ${names.mkString(" ")} >> >>\nendobj\n",
      "2 0 obj\n<< /Type /Font /Subtype /Type1 /ToUnicode 3 0 R >>\nendobj\n",
      streamObj(3, "/Filter /FlateDecode", deflateS(cmap)),
      streamObj(4, "/Filter /FlateDecode",
        deflateS(selects.mkString("BT ", " ", " ET")))) ++
      (0 until 1000).map(i =>
        s"${100 + i} 0 obj\n<< /Type /Font /Subtype /Type1 /ToUnicode 3 0 R >>\nendobj\n"): _*)
    val pages = timed(30000, "extract") { FlatePdfExtractor.extractPages(doc) }
    assert(pages === Seq("መ" * 2000))
  }

  test("show-text stops at the document's ceiling when a CMap maps one code to a long string") {
    // the code A shows 1024 chars: each page's 128k A's would show 128M
    val cmap = s"begincmap 1 beginbfchar <41> <${"0061" * 1024}> endbfchar endcmap"
    val page = deflateS("BT /F1 1 Tf (" + ("A" * (1 << 17)) + ") Tj ET")
    val doc = pdf(
      "1 0 obj\n<< /Font << /F1 2 0 R >> >>\nendobj\n",
      "2 0 obj\n<< /Type /Font /Subtype /Type1 /ToUnicode 3 0 R >>\nendobj\n",
      streamObj(3, "/Filter /FlateDecode", deflateS(cmap)),
      streamObj(4, "/Filter /FlateDecode", page),
      streamObj(5, "/Filter /FlateDecode", page))
    val pages = timed(30000, "extract") { FlatePdfExtractor.extractPages(doc) }
    assert(pages.nonEmpty && pages.head.startsWith("aaaa"))
    assert(pages.map(_.length.toLong).sum <=
      FlatePdfExtractor.MaxDecodedStreamBytes + 1024, pages.map(_.length))
  }

  test("bfrange span bomb: a <00000000><7FFFFFFF> range is skipped, sane CMap entries still map") {
    // 2^31 map inserts before the cap — an OOM/CPU bomb through the
    // ToUnicode path; CIDs here are 16-bit so the wide range carries no
    // legitimate text. The synthetic CMap wiring doubles as the path's
    // first non-reference fixture: F1 → obj 4 → ToUnicode obj 5.
    val cmap =
      "beginbfchar\n<0041> <12AB>\nendbfchar\n" +
        "beginbfrange\n<00000000> <7FFFFFFF> <0041>\nendbfrange\n"
    val doc = pdf(
      streamObj(1, "/Filter /FlateDecode",
        deflateS("BT /F1 12 Tf [<0041>] TJ ET")),
      "2 0 obj\n<< /Type /Page /Resources << /Font << /F1 4 0 R >> >> >>\nendobj\n",
      "4 0 obj\n<< /Type /Font /ToUnicode 5 0 R >>\nendobj\n",
      streamObj(5, "", cmap.getBytes(StandardCharsets.ISO_8859_1)))
    val pages = timed(30000, "extract") { FlatePdfExtractor.extractPages(doc) }
    assert(pages === Seq("ካ"), pages.map(_.map(_.toInt.toHexString)))
  }

  test("a deflate-bomb entry the extractor never asked for costs nothing (central-directory read)") {
    // ZipInputStream.getNextEntry drains every SKIPPED entry through the
    // inflater to find the next header, so a bomb entry BEFORE the
    // wanted parts used to cost its full inflated size in discarded CPU;
    // the central-directory read jumps straight to the wanted entries
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, b: Array[Byte]): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name)); z.write(b); z.closeEntry()
    }
    // 512 MB of zeros streamed in 1 MB writes (~0.5 MB deflated) — the
    // bomb never exists uncompressed on the test heap
    locally {
      z.putNextEntry(new java.util.zip.ZipEntry("media/bomb.bin"))
      val mb = new Array[Byte](1 << 20)
      (1 to 512).foreach(_ => z.write(mb))
      z.closeEntry()
    }
    entry("word/document.xml",
      ("""<w:document xmlns:w="x"><w:body><w:p><w:r><w:t>body</w:t></w:r></w:p>""" +
        "</w:body></w:document>").getBytes(StandardCharsets.UTF_8))
    entry("word/footnotes.xml",
      ("""<w:footnotes xmlns:w="x"><w:footnote w:id="2"><w:p><w:r>""" +
        "<w:t>note</w:t></w:r></w:p></w:footnote></w:footnotes>")
        .getBytes(StandardCharsets.UTF_8))
    z.close()
    val doc = bos.toByteArray
    val pages = timed(30000, "docx with unwanted bomb entry") {
      DocxWithFootnotesExtractor.extractPages(doc)
    }
    assert(pages === Seq("body\nnote"), pages)
    // an OVERSIZE wanted part degrades that part only — and skipping it
    // costs nothing either (nothing is drained to reach other entries)
    val bos2 = new java.io.ByteArrayOutputStream()
    val z2 = new java.util.zip.ZipOutputStream(bos2)
    def entry2(name: String, b: Array[Byte]): Unit = {
      z2.putNextEntry(new java.util.zip.ZipEntry(name)); z2.write(b); z2.closeEntry()
    }
    locally { // 128 MB body, past the 64 MB ceiling — streamed, same reason
      z2.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
      val mb = new Array[Byte](1 << 20)
      (1 to 128).foreach(_ => z2.write(mb))
      z2.closeEntry()
    }
    entry2("word/footnotes.xml", "<w:footnotes/>".getBytes(StandardCharsets.UTF_8))
    z2.close()
    val quarantined = timed(30000, "oversize body") {
      DocxWithFootnotesExtractor.extractPages(bos2.toByteArray)
    }
    assert(quarantined === Nil)
    assert(DocxExtractor.diagnose(bos2.toByteArray) === "docx-oversize-xml")
  }

  test("footnotes CPU bomb: 300k close-less `<w:footnote` openers walk in linear time") {
    val notes = ("<w:footnote " * 300000) +
      """<w:footnote w:id="2"><w:p><w:r><w:t>real note</w:t></w:r></w:p></w:footnote>"""
    // minimal OPC container (the DocxExtractorSpec fixture shape)
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, b: Array[Byte]): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name)); z.write(b); z.closeEntry()
    }
    entry("[Content_Types].xml", "<Types/>".getBytes(StandardCharsets.UTF_8))
    entry("word/document.xml",
      ("""<w:document xmlns:w="x"><w:body><w:p><w:r><w:t>body</w:t></w:r></w:p>""" +
        "</w:body></w:document>").getBytes(StandardCharsets.UTF_8))
    entry("word/footnotes.xml",
      ("""<w:footnotes xmlns:w="x">""" + notes + "</w:footnotes>")
        .getBytes(StandardCharsets.UTF_8))
    z.close()
    val pages = timed(30000, "footnotes walk") {
      DocxWithFootnotesExtractor.extractPages(bos.toByteArray)
    }
    // the close-less openers pair lazily: the FIRST opener swallows up to
    // the single real close (regex parity) — body text must survive and
    // the walk must stay linear
    assert(pages.nonEmpty && pages.head.startsWith("body"), pages)
  }
}
