package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** Parity of [[FlatePdfExtractor.objHeaders]], the linear object-header
  * scanner, with the `(\d+)\s+0\s+obj` regex sweep it replaced. The regex
  * lives on here only as the oracle: the scanner must return exactly its
  * `(number, start, end)` list, with the same `toIntOption` skips and the
  * same non-overlap. Also the parity of [[FlatePdfExtractor.hex4]], the
  * allocation-free 4-hex-digit reader, with the `parseInt(substring)`
  * formula it replaced.
  */
class FlatePdfScanSpec extends AnyFunSuite {

  private val ObjHeaderRe = """(\d+)\s+0\s+obj""".r

  private def oracle(raw: String): Vector[(Int, Int, Int)] =
    ObjHeaderRe.findAllMatchIn(raw)
      .flatMap(m => m.group(1).toIntOption.map(n => (n, m.start, m.end)))
      .toVector

  test("objHeaders == the retired regex sweep on random header soup (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    // every character class the regex distinguishes: digits, the six
    // `\s` characters, `0`, `obj`/`endobj` and fragments of them, the
    // \u0085 NEL that `\s` does NOT match, and 11-digit numbers that
    // overflow Int
    val token = Gen.frequency(
      4 -> Gen.numChar.map(_.toString),
      4 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"),
      3 -> Gen.const("0"),
      3 -> Gen.const("obj"),
      1 -> Gen.const("endobj"),
      1 -> Gen.oneOf("o", "ob", "bj", "j", "x"),
      1 -> Gen.const("\u0085"),
      1 -> Gen.listOfN(11, Gen.numChar).map(_.mkString))
    val genRaw = Gen.listOf(token).map(_.mkString)
    val prop = Prop.forAll(genRaw) { raw =>
      FlatePdfExtractor.objHeaders(raw) == oracle(raw)
    }
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(20000)
      .withMaxSize(60)
      .withInitialSeed(org.scalacheck.rng.Seed(7L)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("objHeaders == the regex on the CodecBombSpec header inputs") {
    // the 300k terminator-less header bomb and the overflowing object
    // number, as CodecBombSpec builds them (its pins stay as they are)
    val bomb = "%PDF-1.4\n" + ("1 0 obj " * 300000) +
      "2 0 obj\n<< /Length 3 >>\nstream\nabc\nendstream\nendobj\n%%EOF\n"
    val bombHeaders = FlatePdfExtractor.objHeaders(bomb)
    assert(bombHeaders.size === 300001)
    assert(bombHeaders === oracle(bomb))
    val overflow = "%PDF-1.4\n" +
      "99999999999 0 obj\n<< /Type /XObject >>\nendobj\n" +
      "2 0 obj\n<< /Length 3 >>\nstream\nabc\nendstream\nendobj\n%%EOF\n"
    val second = overflow.indexOf("2 0 obj")
    assert(FlatePdfExtractor.objHeaders(overflow) ===
      Vector((2, second, second + 7)))
    assert(FlatePdfExtractor.objHeaders(overflow) === oracle(overflow))
  }

  test("objHeaders == the regex on a reference-shaped CID-font volume") {
    val raw = new String(EthiopicPdfFixture.volume(),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val headers = FlatePdfExtractor.objHeaders(raw)
    assert(headers.nonEmpty && headers === oracle(raw))
  }

  test("hex4 == Integer.parseInt(substring) on mixed-case hex, FFFF and an odd trailing digit") {
    // its caller, the CMap destination decode, walks `i + 4 <= length`,
    // so a trailing digit past the last whole group is never read
    def units(hex: String)(read: (String, Int) => Int): Seq[Int] =
      (0 to hex.length - 4 by 4).map(read(hex, _))
    val formula = (hex: String, i: Int) => Integer.parseInt(hex.substring(i, i + 4), 16)
    for (hex <- Seq("0000", "FFFF", "ffff", "12aB", "aBcDeF09", "00410042F",
                    "1200fFfF7", "9", "")) {
      val got = units(hex)(FlatePdfExtractor.hex4)
      assert(got === units(hex)(formula), hex)
      assert(got.size === hex.length / 4, hex)
    }
    assert(FlatePdfExtractor.hex4("FFFF", 0) === 0xFFFF)
    assert(FlatePdfExtractor.hex4("x12aBy", 1) === 0x12AB)
    val rnd = new scala.util.Random(7)
    val digits = "0123456789abcdefABCDEF"
    val soup = Seq.fill(4001)(digits(rnd.nextInt(digits.length))).mkString
    assert(units(soup)(FlatePdfExtractor.hex4) === units(soup)(formula))
  }
}
