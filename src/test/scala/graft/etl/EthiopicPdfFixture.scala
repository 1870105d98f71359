package graft.etl

import java.nio.charset.StandardCharsets.ISO_8859_1

/** A cassation volume in miniature, in the shape of the reference's real
  * ones: each page's Amharic text is shown only as 2-byte CIDs of a Type0
  * (Identity-H) font over a CIDFontType2 descendant, so it is recoverable
  * only through the font's Flate-compressed `/ToUnicode` CMap. Content
  * streams are Flate-compressed too, so no text is visible without
  * decompressing them. The descendant font embeds a small Flate-compressed
  * `/FontFile2` program, as the reference volumes embed theirs (there they
  * are most of the file's bytes), which no page reads. Deterministic bytes.
  */
private[graft] object EthiopicPdfFixture {

  /** The default volume's pages (Ethiopic block U+1200–U+137F). */
  val Pages: Seq[String] = Seq(
    "የፌዴራል ጠቅላይ ፍርድ ቤት ሰበር ሰሚ ችሎት",
    "አመልካች ተጠሪ የሰበር መዝገብ ቁጥር",
    "ውሳኔ ፍትሕ ሕግ አንቀጽ")

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  /** `/ToUnicode` CMap for `cids` (code point → CID, both ascending):
    * runs of consecutive CIDs over consecutive code points become one
    * `bfrange` row, the rest `bfchar` rows, so both parse paths run.
    */
  private def toUnicode(cids: Seq[(Int, Int)]): String = {
    val runs = cids.foldLeft(List.empty[List[(Int, Int)]]) {
      case ((run @ ((cp, cid) :: _)) :: done, (p, c))
          if p == cp + 1 && c == cid + 1 => ((p, c) :: run) :: done
      case (acc, pc) => List(pc) :: acc
    }.reverse.map(_.reverse)
    val (ranges, singles) = runs.partition(_.size > 1)
    def hex(v: Int) = f"<$v%04X>"
    "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      s"${singles.size} beginbfchar\n" +
      singles.map(_.head).map { case (cp, c) => s"${hex(c)} ${hex(cp)}\n" }.mkString +
      s"endbfchar\n${ranges.size} beginbfrange\n" +
      ranges.map(r => s"${hex(r.head._2)} ${hex(r.last._2)} ${hex(r.head._1)}\n")
        .mkString +
      "endbfrange\nendcmap\nend\nend\n"
  }

  /** A seeded font program of `n` bytes. It never holds the byte `T`, so
    * it cannot read as a content stream (`BT`, `Tj`, `TJ`) were it decoded.
    */
  private def program(n: Int): Array[Byte] = {
    var x = 0x2545F491L
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val b = (x >>> 56).toByte
      if (b == 'T') 'U'.toByte else b
    }
  }

  /** A volume whose pages extract, whitespace-normalised, as `pages`. */
  def volume(pages: Seq[String] = Pages): Array[Byte] = {
    // CIDs number the used code points in ascending order, from 3 up, as
    // a subsetting writer keeps the font's own glyph order
    val cid = pages.flatMap(_.codePoints.toArray).distinct.sorted
      .zipWithIndex.map { case (cp, i) => cp -> (i + 3) }.toMap
    val out = new java.io.ByteArrayOutputStream
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: String): Unit = { offsets += out.size; w(body) }
    def stream(n: Int, data: Array[Byte], dict: String = ""): Unit = {
      val z = deflate(data)
      obj(s"$n 0 obj\n<< $dict/Length ${z.length} /Filter /FlateDecode >>\nstream\n")
      out.write(z)
      w("\nendstream\nendobj\n")
    }
    val pageObjs = pages.indices.map(i => 6 + 2 * i)
    val descriptor = 6 + 2 * pages.size
    w("%PDF-1.7\n")
    obj("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    obj(s"2 0 obj\n<< /Type /Pages /Kids [${pageObjs.map(n => s"$n 0 R").mkString(" ")}] " +
      s"/Count ${pages.size} >>\nendobj\n")
    obj("3 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+AbyssinicaSIL " +
      "/Encoding /Identity-H /DescendantFonts [4 0 R] /ToUnicode 5 0 R >>\nendobj\n")
    obj("4 0 obj\n<< /Type /Font /Subtype /CIDFontType2 /BaseFont /AAAAAA+AbyssinicaSIL " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
      s"/FontDescriptor $descriptor 0 R >>\nendobj\n")
    stream(5, toUnicode(cid.toSeq.sorted).getBytes(ISO_8859_1))
    pages.zip(pageObjs).foreach { case (text, n) =>
      obj(s"$n 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${n + 1} 0 R >>\nendobj\n")
      val shown = text.codePoints.toArray.map(cp => f"${cid(cp)}%04X").mkString
      stream(n + 1, s"BT /F1 11 Tf 72 770 Td [<$shown>] TJ ET".getBytes(ISO_8859_1))
    }
    val font = program(4096)
    obj(s"$descriptor 0 obj\n<< /Type /FontDescriptor /FontName /AAAAAA+AbyssinicaSIL " +
      "/Flags 4 /FontBBox [-200 -300 1200 900] /ItalicAngle 0 /Ascent 900 " +
      s"/Descent -300 /CapHeight 700 /StemV 80 /FontFile2 ${descriptor + 1} 0 R >>\nendobj\n")
    stream(descriptor + 1, font, s"/Length1 ${font.length} ")
    val xref = out.size
    w(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }
}
