package graft.etl

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

/** Show-text literals (`(…) Tj` and the literal elements of `[…] TJ`)
  * decode with the ISO 32000-1 §7.3.4.2 escape rules, through the same
  * decoder as the encryption dict's string values
  * ([[PdfSyntax.literal]], whose `strVal` cases PdfDecryptSpec pins).
  * The page text then has its whitespace runs collapsed to one space, as
  * every extracted page does.
  */
class FlatePdfLiteralSpec extends AnyFunSuite {

  /** The text of a one-page, unfiltered PDF whose text block is `ops`. */
  private def page(ops: String): String = {
    val pdf = "%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nstream\n" +
      s"BT $ops ET\nendstream\nendobj\n%%EOF"
    FlatePdfExtractor.extractPages(pdf.getBytes(StandardCharsets.ISO_8859_1))
      .mkString("\f")
  }

  test("an escaped backslash stays a backslash: (a\\\\nb) is a\\nb") {
    assert(page("""(a\\nb) Tj""") === "a\\nb")
    assert(page("""(\(c\) 1\\2) Tj""") === "(c) 1\\2")
  }

  test("octal escapes of one to three digits are bytes") {
    assert(page("""(\101\102) Tj""") === "AB")
    assert(page("""(\53x\0053) Tj""") === "+x\u00053")
    assert(page("""(caf\351) Tj""") === "café")
  }

  test("\\t \\b \\f \\n \\r are their control bytes") {
    assert(page("""(x\ty) Tj""") === "x y")
    assert(page("""(x\fy\nz\rw) Tj""") === "x y z w")
    assert(page("""(x\by) Tj""") === "x\by")
  }

  test("TJ literal elements decode the same way, in order with hex elements") {
    assert(page("""[(\101) -120 (\102\\)] TJ""") === "AB\\")
    assert(page("""[(a) 40 <0041> (\t) (b)] TJ""") === "a b")
  }
}
