package graft.etl

import java.nio.charset.StandardCharsets.ISO_8859_1
import org.scalatest.funsuite.AnyFunSuite

/** The content-stream lexer and the page tree of [[FlatePdfExtractor]]:
  * every show-text operator (ISO 32000-1 §9.4.3) with hex or literal
  * operands (§7.3.4), each read at its font's code width through the
  * font's `/ToUnicode` CMap, and pages in `/Kids` order (§7.7.3).
  *
  * The regex scan the lexer replaced lives on here as an oracle, on the
  * content it read right: hex TJ arrays under a Type0 font, and
  * unnested literals under a font without a CMap.
  */
class FlatePdfContentSpec extends AnyFunSuite {

  /** A document of `objs`, with a trailer naming catalog 1 when `tree`. */
  private def pdf(objs: Seq[String], tree: Boolean = true): Array[Byte] =
    ("%PDF-1.7\n" + objs.mkString +
      (if (tree) "trailer\n<< /Size 99 /Root 1 0 R >>\n" else "") + "%%EOF\n")
      .getBytes(ISO_8859_1)

  private def obj(num: Int, body: String): String =
    s"$num 0 obj\n$body\nendobj\n"

  private def stream(num: Int, dict: String, data: String): String =
    s"$num 0 obj\n<< /Length ${data.length} $dict >>\nstream\n$data\nendstream\nendobj\n"

  /** Catalog 1, page tree 2 and one page per entry of `contents` (its
    * `/Contents` value), each page naming the fonts F1–F3: F1 a Type0
    * font whose CMap maps the 2-byte codes of `Cids`, F2 a simple Type1
    * font whose CMap maps the 1-byte codes of `Codes`, F3 a font without
    * a CMap. Page objects are numbered from 20.
    */
  private def fontDoc(contents: Seq[String], streams: Seq[String]): Array[Byte] = {
    val pages = contents.indices.map(20 + _)
    val fonts = "/Resources << /Font << /F1 3 0 R /F2 5 0 R /F3 7 0 R >> >>"
    pdf(Seq(
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      obj(2, s"<< /Type /Pages /Kids [${pages.map(p => s"$p 0 R").mkString(" ")}] " +
        s"/Count ${pages.size} >>"),
      obj(3, "<< /Type /Font /Subtype /Type0 /BaseFont /F /Encoding /Identity-H " +
        "/DescendantFonts [8 0 R] /ToUnicode 4 0 R >>"),
      stream(4, "", cmap(Cids.map { case (c, u) => f"<$c%04X> <${u.toInt}%04X>" })),
      obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >>"),
      stream(6, "", cmap(Codes.map { case (c, u) => f"<$c%02X> <${u.toInt}%04X>" })),
      obj(7, "<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>"),
      obj(8, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /F >>")) ++
      pages.zip(contents).map { case (p, c) =>
        obj(p, s"<< /Type /Page /Parent 2 0 R $fonts /Contents $c >>")
      } ++ streams)
  }

  private def cmap(rows: Seq[String]): String =
    s"begincmap\n${rows.size} beginbfchar\n${rows.mkString("\n")}\nendbfchar\nendcmap"

  /** F1's 2-byte CIDs and F2's 1-byte codes, each → one Ethiopic char. */
  private val Cids = Seq(0x0041 -> 'ሀ', 0x0042 -> 'ሁ', 0x0040 -> 'ሄ', 0x1203 -> 'ሃ')
  private val Codes = Seq(0x41 -> 'መ', 0x42 -> 'ሙ')

  /** The pages of a one-page document whose content stream 9 is `ops`
    * inside one text block.
    */
  private def show(ops: String): Seq[String] =
    FlatePdfExtractor.extractPages(fontDoc(Seq("9 0 R"), Seq(stream(9, "", s"BT $ops ET"))))

  test("literals with nested parens and a backslash-EOL continuation show whole") {
    assert(show("(a(b)c) Tj") === Seq("a(b)c"))
    assert(show("(ab\\\ncd) Tj") === Seq("abcd"))
    assert(show("(ab\\\r\ncd) Tj") === Seq("abcd"))
    assert(show("[(a(b)c)] TJ") === Seq("a(b)c"))
    assert(show("[(x) -250 (a(b)c) 120 (y)] TJ") === Seq("xa(b)cy"))
  }

  test("' and \" show their string operand, in stream order with Tj and TJ") {
    assert(show("(one) '") === Seq("one"))
    assert(show("2 1 (two) \"") === Seq("two"))
    assert(show("(a) Tj [(b)] TJ (c) ' 0 0 (d) \" (e)Tj") === Seq("abcde"))
  }

  test("hex operands of Tj and TJ decode through a Type0 font's CMap at 2 bytes a code") {
    assert(show("/F1 11 Tf <00410042> Tj") === Seq("ሀሁ"))
    assert(show("/F1 11 Tf <0041 0042> Tj") === Seq("ሀሁ"))
    assert(show("/F1 11 Tf <00\n41\t00 42> Tj") === Seq("ሀሁ"))
    assert(show("/F1 11 Tf [<0041> -30 <1203>] TJ") === Seq("ሀሃ"))
    // an odd final digit is padded with 0: <004> is the code 0x0040
    assert(show("/F1 11 Tf <0041004> Tj") === Seq("ሀሄ"))
    // a literal's bytes are codes too: \000A is 0x0041
    assert(show("/F1 11 Tf (\\000A\\000B) Tj") === Seq("ሀሁ"))
  }

  test("a simple font's CMap reads 1-byte codes, from hex and literal operands alike") {
    assert(show("/F2 11 Tf <4142> Tj") === Seq("መሙ"))
    assert(show("/F2 11 Tf (AB) Tj") === Seq("መሙ"))
    // a literal byte the CMap lacks shows as Latin-1, as it did before
    // fonts were read; a hex code it lacks shows nothing
    assert(show("/F2 11 Tf (AC) Tj") === Seq("\u1218C"))
    assert(show("/F2 11 Tf <4143> Tj") === Seq("መ"))
    // the font change takes effect at its Tf, in stream order
    assert(show("/F2 11 Tf <41> Tj /F1 11 Tf <0041> Tj") === Seq("መሀ"))
  }

  test("a font with no CMap shows literal bytes as Latin-1 and hex strings as nothing") {
    assert(show("/F3 11 Tf (caf\\351) Tj <41> Tj") === Seq("café"))
    assert(show("/F9 11 Tf [(a) <0041> (b)] TJ") === Seq("ab"))
  }

  test("pages follow /Kids order, not content object numbers") {
    // the first page's content is object 12, the second's object 10
    val doc = fontDoc(Seq("12 0 R", "10 0 R"), Seq(
      stream(10, "", "BT (second) Tj ET"), stream(12, "", "BT (first) Tj ET")))
    assert(FlatePdfExtractor.extractPages(doc).mkString("|") === "first|second")
  }

  test("a /Contents array is one page, its streams joined at a token boundary") {
    val doc = fontDoc(Seq("[10 0 R 11 0 R]", "12 0 R"), Seq(
      stream(10, "", "BT (left) Tj"), stream(11, "", "(right) Tj ET"),
      stream(12, "", "BT (next) Tj ET")))
    assert(FlatePdfExtractor.extractPages(doc) === Seq("leftright", "next"))
    // an indirect array reads the same
    val indirect = fontDoc(Seq("13 0 R"), Seq(obj(13, "[10 0 R 11 0 R]"),
      stream(10, "", "BT (left) Tj"), stream(11, "", "(right) Tj ET")))
    assert(FlatePdfExtractor.extractPages(indirect) === Seq("leftright"))
  }

  test("a stream shows on the first page that names it only") {
    val doc = fontDoc(Seq("10 0 R", "[10 0 R 11 0 R]", "[11 0 R 11 0 R 12 0 R]"), Seq(
      stream(10, "", "BT (a) Tj ET"), stream(11, "", "BT (b) Tj ET"),
      stream(12, "", "BT (c) Tj ET")))
    assert(FlatePdfExtractor.extractPages(doc) === Seq("a", "b", "c"))
  }

  test("candidate streams no page names follow the tree pages, in object-number order") {
    // a Form XObject (5) and a bare stream (3) with text, numbered below
    // the page's content (9)
    val doc = pdf(Seq(
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      obj(2, "<< /Type /Pages /Kids [4 0 R] /Count 1 >>"),
      stream(3, "", "BT (bare) Tj ET"),
      obj(4, "<< /Type /Page /Parent 2 0 R /Contents 9 0 R >>"),
      stream(5, "/Type /XObject /Subtype /Form /BBox [0 0 9 9]", "BT (form) Tj ET"),
      stream(9, "", "BT (page) Tj ET")))
    assert(FlatePdfExtractor.extractPages(doc) === Seq("page", "bare", "form"))
    // without a trailer there is no tree: every candidate in number order
    val noTree = pdf(Seq(
      stream(3, "", "BT (bare) Tj ET"),
      obj(4, "<< /Type /Page /Contents 9 0 R >>"),
      stream(9, "", "BT (page) Tj ET")), tree = false)
    assert(FlatePdfExtractor.extractPages(noTree) === Seq("bare", "page"))
  }

  test("streams whose own dictionary marks them as no page text are never read") {
    val text = "BT (hidden) Tj ET"
    for (dict <- Seq("/Length1 17", "/Length2 5 /Length3 0", "/Subtype /Type1C",
                     "/Type /XObject /Subtype /Image /Width 1 /Height 1",
                     "/Type /Metadata /Subtype /XML", "/Type /XRef /W [1 2 1]",
                     "/Type /ObjStm /N 1 /First 4", "/Type /EmbeddedFile")) {
      val doc = pdf(Seq(stream(3, dict, text), stream(4, "", "BT (shown) Tj ET")),
        tree = false)
      assert(FlatePdfExtractor.extractPages(doc) === Seq("shown"), dict)
    }
    // keys of a nested dictionary are not the stream's own
    val nested = pdf(Seq(stream(3,
      "/Type /XObject /Subtype /Form /Group << /Type /Group /S /Transparency >> " +
        "/Resources << /XObject << /Im1 << /Subtype /Image >> >> >>", text)), tree = false)
    assert(FlatePdfExtractor.extractPages(nested) === Seq("hidden"))
  }

  test("inline image data and comments are stepped over") {
    assert(show("(a) Tj BI /W 2 /H 1 /BPC 8 /CS /G ID \n(((<<[ EI (b) Tj") === Seq("ab"))
    assert(show("(a) Tj % (not shown) Tj\n(b) Tj") === Seq("ab"))
  }

  test("textCandidate reads only the stream's own top-level keys") {
    assert(FlatePdfExtractor.textCandidate("<< /Length 9 /Filter /FlateDecode >>"))
    assert(FlatePdfExtractor.textCandidate("<< /Subtype /Form /Type /XObject >>"))
    assert(!FlatePdfExtractor.textCandidate("<< /Length1 9 /Length 3 >>"))
    assert(!FlatePdfExtractor.textCandidate("<< /Subtype/Image >>"))
    assert(!FlatePdfExtractor.textCandidate("<</Type/XRef>>"))
    assert(FlatePdfExtractor.textCandidate(
      "<< /DecodeParms << /Type /XRef /Length1 2 >> /X (/Subtype /Image) >>"))
    assert(PdfSyntax.dictEntries("<< /A 1 0 R /B [2 0 R] /C /N /D (x) >>") ===
      Map("A" -> "1 0 R", "B" -> "[2 0 R]", "C" -> "/N", "D" -> "(x)"))
    // a dictionary body (a trailer's), comments, and an array object
    assert(PdfSyntax.dictEntries(" /A 1 % /B 2\n/C <41> >> /D 4") ===
      Map("A" -> "1", "C" -> "<41>"))
    assert(PdfSyntax.dictEntries("\n[<< /A 1 >>]") === Map.empty)
  }

  // the retired scan: Tf, Tj and `[…] TJ` events merged by position, hex
  // read 4 digits at a time through the CMap, each literal decoded at
  // its own match as Latin-1
  private val TfRe = """/(\w+)\s+[\d.]+\s+Tf""".r
  private val TjRe = """\(((?:[^()\\]++|\\.)*+)\)\s*Tj""".r
  private val TJRe = """\[([^\]]*)\]\s*TJ""".r
  private val HexRe = """<([0-9A-Fa-f]+)>""".r
  private val LitRe = """\(((?:[^()\\]++|\\.)*+)\)""".r

  private def oracle(content: String): String = {
    val cmaps = Map("F1" -> Cids.toMap)
    val events = (TfRe.findAllMatchIn(content).map(m => (m.start, "Tf", m.group(1))) ++
      TjRe.findAllMatchIn(content).map(m => (m.start, "Tj", m.group(1))) ++
      TJRe.findAllMatchIn(content).map(m => (m.start, "TJ", m.group(1)))).toSeq.sortBy(_._1)
    var cmap = Map.empty[Int, Char]
    val sb = new StringBuilder
    def literal(body: String) = PdfSyntax.literal(s"($body)", 0)
      .map(new String(_, ISO_8859_1)).getOrElse("")
    events.foreach {
      case (_, "Tf", name) => cmap = cmaps.getOrElse(name, Map.empty)
      case (_, "Tj", lit) => sb.append(literal(lit))
      case (_, _, arr) =>
        (HexRe.findAllMatchIn(arr).map(m => (m.start, true, m.group(1))) ++
          LitRe.findAllMatchIn(arr).map(m => (m.start, false, m.group(1))))
          .toSeq.sortBy(_._1).foreach {
            case (_, true, h) => h.grouped(4).filter(_.length == 4)
              .foreach(g => cmap.get(Integer.parseInt(g, 16)).foreach(sb.append))
            case (_, _, lit) => sb.append(literal(lit))
          }
    }
    sb.toString.replaceAll("\\s+", " ").trim
  }

  test("the lexer == the retired regex scan where that scan was right (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val cid = Gen.oneOf(Cids.map(_._1) :+ 0x0999) // one unmapped code
    val hex = Gen.nonEmptyListOf(cid).map(_.map(c => f"$c%04X").mkString("<", "", ">"))
    val lit = Gen.listOf(Gen.oneOf("a", "b", "Z", " ", "7", "-", "\\\\", "\\)", "\\(", "\\t"))
      .map(_.mkString("(", "", ")"))
    val kern = Gen.choose(-300, 300).map(_.toString)
    // literals show only under F3, which has no CMap: there the old scan
    // showed their bytes as the lexer does
    val op = Gen.oneOf(
      Gen.listOf(Gen.oneOf(hex, kern)).map(es => s"/F1 11 Tf [${es.mkString(" ")}] TJ"),
      lit.map(l => s"/F3 9 Tf $l Tj"),
      Gen.listOf(Gen.oneOf(lit, kern)).map(es => s"/F3 9 Tf [${es.mkString(" ")}] TJ"),
      Gen.const("0 -15 Td"), Gen.const("q 1 0 0 1 72 700 cm Q"))
    val prop = Prop.forAll(Gen.listOf(op).map(_.mkString("BT\n", "\n", "\nET"))) { content =>
      val got = FlatePdfExtractor.extractPages(
        fontDoc(Seq("9 0 R"), Seq(stream(9, "", content)))).mkString
      got == oracle(content)
    }
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(2000)
      .withMaxSize(30)
      .withInitialSeed(org.scalacheck.rng.Seed(11L)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }
}
