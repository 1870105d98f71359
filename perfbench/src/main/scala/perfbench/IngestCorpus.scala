package perfbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.etl.BenchFixtures

/** The seeded binary corpus of the `ingest` workload.
  *
  * The seed alone sets every byte: document order, page text, font glyph
  * numbering, passwords, and the raster and garbage bytes. Every document
  * carries the outcome the pipeline must produce for it, derived from how
  * it was written rather than from running a codec: good documents must
  * come out with the words of their pages in order (see [[words]]), locked
  * and unreadable ones must land in quarantine with the named reason.
  *
  * Flate PDFs are written in the shape of the reference corpus's Cassation
  * volumes: Amharic text shown as 2-byte CIDs of Type0 fonts, decoded only
  * through each font's `/ToUnicode` CMap, six pages and about 656 KB per
  * volume (SURVEY.md §6: vol01.pdf is 656,600 B over 6 pages).
  */
object IngestCorpus {

  sealed trait Expect
  final case class Good(content: String) extends Expect
  final case class Quarantined(reason: String) extends Expect

  final case class Doc(url: String, kind: String, bytes: Array[Byte],
                       expect: Expect)

  /** Documents of each kind in one batch. The 34 Flate PDF volumes are the
    * reference corpus's size (SURVEY.md §6, "34 sources"). The reference
    * crawl holds nothing else, so the counts of the other kinds are
    * assumed: small, so that Flate PDFs stay the bulk of the batch, and
    * large enough that every codec and quarantine path runs in every batch.
    */
  val Mix: Seq[(String, Int)] = Seq(
    "flate_pdf" -> 34, "docx" -> 8, "doc" -> 6, "pdf_encrypted" -> 3,
    "ooxml_encrypted" -> 3, "doc_encrypted" -> 3, "dct_only" -> 3,
    "garbage" -> 3)

  /** Pages and bytes of one Flate PDF volume (SURVEY.md §6). */
  val VolumePages = 6
  val VolumeBytes = 656600

  /** Words per page: assumed, a full page of a court decision. */
  val WordsPerPage = 300
  private val WordsPerLine = 12

  /** Amharic legal vocabulary: judgment, court, cassation, bench, decision,
    * appeal, federal, supreme, article, proclamation, contract, property,
    * land, lease, compensation, defendant, applicant, respondent, dispute,
    * law, civil (two words), number, year, file, evidence, region, heir,
    * worker, reversed, affirmed.
    */
  private val Vocab = Vector("ፍርድ", "ቤት", "ሰበር", "ችሎት", "ውሳኔ", "ይግባኝ",
    "ፌዴራል", "ጠቅላይ", "አንቀጽ", "አዋጅ", "ውል", "ንብረት", "መሬት", "ኪራይ",
    "ካሳ", "ተከሳሽ", "አመልካች", "ተጠሪ", "ክርክር", "ሕግ", "ፍትሐ", "ብሔር",
    "ቁጥር", "ዓመት", "መዝገብ", "ማስረጃ", "ክልል", "ወራሽ", "ሠራተኛ", "ተሽሯል",
    "ጸንቷል")
  private val FullStop = "።"

  /** Every character a page can show, in code point order. */
  private val Glyphs: Vector[Int] =
    (Vocab :+ FullStop :+ " ").flatMap(_.codePoints().toArray).distinct.sorted

  /** `n` words in sentences of 6 to 17 words, each ended by a full stop. */
  private def pageText(rnd: scala.util.Random, n: Int): String = {
    val ws = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.size))).toArray
    var i = 5 + rnd.nextInt(12)
    while (i < n) { ws(i) += FullStop; i += 6 + rnd.nextInt(12) }
    ws(n - 1) += FullStop
    ws.mkString(" ")
  }

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  /** An embedded Type0 font: its CID for each glyph, and its program,
    * Flate-compressed, with its length before compression.
    */
  final case class Font(cids: Map[Int, Int], program: Array[Byte],
                        programLength: Int)

  /** A font whose CIDs number [[Glyphs]] in code point order from a seeded
    * first CID, as a subsetting writer keeps the font's own glyph order, with
    * a program of `programLength` seeded bytes. Where the glyphs' code points
    * run on, so do their CIDs, so the font's CMap has both `bfrange` and
    * `bfchar` entries. Each bit of a program byte is set with probability
    * 1/4, so the program compresses to about 80% as binary font tables do.
    * It never holds the byte `T`, so no decoded program can read as a
    * content stream (`BT`, `Tj`, `TJ`).
    */
  def font(rnd: scala.util.Random, programLength: Int): Font = {
    val first = 3 + rnd.nextInt(1000)
    val cids = Glyphs.zipWithIndex.map { case (g, i) => g -> (first + i) }.toMap
    val raw = new Array[Byte](programLength)
    var i = 0
    while (i < raw.length) {
      val b = (rnd.nextInt(256) & rnd.nextInt(256)).toByte
      raw(i) = if (b == 'T') 'U' else b
      i += 1
    }
    Font(cids, deflate(raw), programLength)
  }

  /** A `/ToUnicode` CMap: `bfrange` for runs of consecutive CIDs that map
    * to consecutive code points, `bfchar` for the rest, at most 100 entries
    * to a block as the CMap format requires.
    */
  def toUnicode(f: Font): String = {
    val byCid = f.cids.toSeq.map(_.swap).sortBy(_._1)
    val runs = byCid.foldLeft(List.empty[(Int, Int, Int)]) {
      case ((lo, hi, cp) :: rest, (cid, u)) if cid == hi + 1 && u == cp + hi + 1 - lo =>
        (lo, cid, cp) :: rest
      case (acc, (cid, u)) => (cid, cid, u) :: acc
    }.reverse
    def hex4(v: Int) = f"$v%04X"
    def utf16(cp: Int) = new String(Character.toChars(cp))
      .map(c => hex4(c.toInt)).mkString
    val (ranges, singles) = runs.partition { case (lo, hi, _) => hi > lo }
    val chars = singles.grouped(100).map { g =>
      g.map { case (cid, _, u) => s"<${hex4(cid)}> <${utf16(u)}>" }
        .mkString(s"${g.size} beginbfchar\n", "\n", "\nendbfchar\n")
    }.mkString
    val rangeBlocks = ranges.grouped(100).map { g =>
      g.map { case (lo, hi, u) => s"<${hex4(lo)}> <${hex4(hi)}> <${utf16(u)}>" }
        .mkString(s"${g.size} beginbfrange\n", "\n", "\nendbfrange\n")
    }.mkString
    "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def\n" +
      "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n" +
      "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
      chars + rangeBlocks +
      "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
  }

  /** One page's content stream: a heading line in the bold font `F2`, then
    * the body in `F1`, a `TJ` array per line with a kerning adjustment
    * between words. Every line ends in a space glyph, as the words of two
    * lines must not run together.
    */
  private def content(rnd: scala.util.Random, regular: Font, bold: Font,
                      heading: String, body: String): String = {
    def shown(f: Font, words: Seq[String]): String = words.map { w =>
      "<" + (w + " ").codePoints().toArray.map(cp => f"${f.cids(cp)}%04X")
        .mkString + ">"
    }.mkString("[", s" -${rnd.nextInt(40)} ", "] TJ")
    val lines = body.split(" ").toSeq.grouped(WordsPerLine).map(shown(regular, _))
    (Seq("q", "BT", "/F2 14 Tf", "72 770 Td", shown(bold, heading.split(" ").toSeq),
      "/F1 11 Tf", "0 -24 Td") ++ lines.flatMap(l => Seq(l, "0 -15 Td")) ++
      Seq("ET", "Q")).mkString("\n")
  }

  /** A PDF volume in the reference's shape: per page a Flate content
    * stream and a page object naming the two fonts, each font a Type0 font
    * over a CIDFontType2 descendant with an embedded, compressed font
    * program and a Flate-compressed `/ToUnicode` CMap. Returns the bytes
    * and the text each page shows.
    */
  def flatePdf(rnd: scala.util.Random, regular: Font, bold: Font,
               nPages: Int): (Array[Byte], Seq[String]) = {
    val texts = Seq.fill(nPages) {
      (pageText(rnd, 3 + rnd.nextInt(4)), pageText(rnd, WordsPerPage))
    }
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: String): Unit = { offsets += out.size; w(body) }
    def stream(n: Int, dict: String, data: Array[Byte]): Unit = {
      offsets += out.size
      w(s"$n 0 obj\n<< $dict/Length ${data.length} /Filter /FlateDecode >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    // objects: 1 catalog, 2 pages, 3-12 the two fonts, then per page its
    // page object and its content stream
    val firstPage = 13
    val pageRefs = (0 until nPages).map(i => s"${firstPage + 2 * i} 0 R")
    w("%PDF-1.5\n%âãÏÓ\n")
    obj("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    obj(s"2 0 obj\n<< /Type /Pages /Kids [${pageRefs.mkString(" ")}] /Count $nPages >>\nendobj\n")
    Seq((3, "F1", regular, "AbyssinicaSIL"), (8, "F2", bold, "AbyssinicaSIL-Bold"))
      .foreach { case (n, _, f, name) =>
        val base = s"/BaseFont /ABCDEF+$name"
        obj(s"$n 0 obj\n<< /Type /Font /Subtype /Type0 $base /Encoding /Identity-H " +
          s"/DescendantFonts [${n + 1} 0 R] /ToUnicode ${n + 2} 0 R >>\nendobj\n")
        obj(s"${n + 1} 0 obj\n<< /Type /Font /Subtype /CIDFontType2 $base " +
          "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
          s"/FontDescriptor ${n + 3} 0 R /DW 1000 >>\nendobj\n")
        stream(n + 2, "", deflate(toUnicode(f).getBytes(ISO_8859_1)))
        obj(s"${n + 3} 0 obj\n<< /Type /FontDescriptor /FontName /ABCDEF+$name " +
          "/Flags 4 /FontBBox [-200 -300 1200 900] /ItalicAngle 0 /Ascent 900 " +
          s"/Descent -300 /CapHeight 700 /StemV 80 /FontFile2 ${n + 4} 0 R >>\nendobj\n")
        stream(n + 4, s"/Length1 ${f.programLength} ", f.program)
      }
    texts.zipWithIndex.foreach { case ((heading, body), i) =>
      val p = firstPage + 2 * i
      obj(s"$p 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] " +
        s"/Resources << /Font << /F1 3 0 R /F2 8 0 R >> >> /Contents ${p + 1} 0 R >>\nendobj\n")
      stream(p + 1, "", deflate(
        content(rnd, regular, bold, heading, body).getBytes(ISO_8859_1)))
    }
    val xref = out.size
    w(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    (out.toByteArray, texts.map { case (h, b) => s"$h $b" })
  }

  /** A DOCX with one paragraph per page and explicit page breaks between.
    * `pad` adds a filler part so the package reaches the 4 KiB a CFB
    * container stores in regular sectors, as real encrypted packages do.
    */
  def docx(pages: Seq[String], pad: Boolean = false): Array[Byte] = {
    val brk = """<w:p><w:r><w:br w:type="page"/></w:r></w:p>"""
    val body = pages.map(p => s"<w:p><w:r><w:t>$p</w:t></w:r></w:p>")
      .mkString(brk)
    val xml = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
      s"<w:body>$body</w:body></w:document>"
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, bytes: Array[Byte]): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L) // zip stores mtimes; fixed so the bytes repeat
      z.putNextEntry(e); z.write(bytes); z.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>"""
        .getBytes(UTF_8))
    entry("word/document.xml", xml.getBytes(UTF_8))
    if (pad) {
      var x = 0x2545F491L
      entry("docProps/pad.bin", Array.fill(5000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        (x >>> 33).toByte
      })
    }
    z.close()
    bos.toByteArray
  }

  /** One batch: [[Mix]]'s documents in a seeded order. Flate PDFs have
    * [[VolumePages]] pages; Word documents 1 to 4 pages. Kinds and page
    * counts do not depend on the seed, so every seed asks the same work.
    */
  def generate(seed: Long, mix: Seq[(String, Int)] = Mix): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val kinds = rnd.shuffle(mix.flatMap { case (k, n) => Seq.tabulate(n)(i => (k, i)) })
    // one regular and one bold font for the whole batch, as one publisher's
    // volumes embed the same typeface. Compressed, the two programs fill
    // what six pages of text leave of a reference volume's bytes.
    val regular = font(rnd, VolumeBytes * 9 / 10)
    val bold = font(rnd, VolumeBytes * 5 / 18)
    def pages(n: Int) = Seq.fill(n)(pageText(rnd, WordsPerPage))
    def password() = s"pw-${rnd.nextInt(1000000)}"
    kinds.zipWithIndex.map { case ((kind, j), i) =>
      val url = f"https://fsc.gov.et/bench/$seed%d/doc$i%05d"
      val nPages = 1 + j % 4
      kind match {
        case k @ "flate_pdf" =>
          val (bytes, ps) = flatePdf(rnd, regular, bold, VolumePages)
          Doc(url + ".pdf", k, bytes, Good(ps.mkString("\n")))
        case k @ "docx" =>
          val ps = pages(nPages)
          Doc(url + ".docx", k, docx(ps), Good(ps.mkString("\n")))
        case k @ "doc" =>
          val ps = pages(nPages)
          Doc(url + ".doc", k, BenchFixtures.doc(ps), Good(ps.mkString("\n")))
        case k @ "pdf_encrypted" =>
          // the locked stream is never decoded, so its text is Latin-1
          Doc(url + ".pdf", k,
            BenchFixtures.encryptedPdf(password(), s"locked decision $i"),
            Quarantined("encrypted"))
        case k @ "ooxml_encrypted" =>
          Doc(url + ".docx", k,
            BenchFixtures.encryptedOoxml(password(), docx(pages(2), pad = true)),
            Quarantined("encrypted"))
        case k @ "doc_encrypted" =>
          Doc(url + ".doc", k,
            BenchFixtures.encryptedDoc(password(), pages(2)),
            Quarantined("encrypted"))
        case k @ "dct_only" =>
          Doc(url + ".pdf", k, BenchFixtures.dctOnlyPdf(rnd.nextInt(1000000)),
            Quarantined("unsupported-filter:DCTDecode"))
        case k =>
          val junk = new Array[Byte](2048)
          rnd.nextBytes(junk)
          junk(0) = 'J' // never a PDF, ZIP or CFB signature
          Doc(url + ".bin", k, junk, Quarantined("not-pdf-or-docx"))
      }
    }
  }

  /** Text reduced to its words: codecs differ in the whitespace they put
    * between paragraphs and pages, never in the words or their order.
    */
  def words(text: String): String = text.trim.split("\\s+").mkString(" ")

  /** SHA-256 over every (url, bytes) pair in corpus order. */
  def digest(docs: Seq[Doc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      md.update(d.url.getBytes(UTF_8)); md.update(0.toByte)
      md.update(d.bytes); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
