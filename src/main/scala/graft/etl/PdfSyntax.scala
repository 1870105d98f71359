package graft.etl

import scala.util.matching.Regex

/** The PDF token rules (ISO 32000-1 §7.2–§7.3) that both the page-text
  * extractor and the security handler read by: whitespace and delimiters,
  * literal strings, and one nesting-aware dictionary reader. One reader,
  * so the two agree on where a string ends and whose key a name is. All
  * text is the extractor's ISO_8859_1 view of the file, one char per
  * byte, so binary string values survive exactly.
  */
private[etl] object PdfSyntax {

  // `N G R` indirect references; possessive, so a digit run never
  // backtracks into a shorter number
  val RefRe: Regex = """(\d++)\s++\d++\s++R""".r

  /** PDF whitespace (§7.2.2): NUL, \t, \n, \f, \r, space — and \x0B. */
  def isPdfWs(c: Char): Boolean = c == '\u0000' || c == ' ' || (c >= '\t' && c <= '\r')

  /** A regular character (§7.2.2): neither whitespace nor a delimiter. */
  def regular(c: Char): Boolean = !isPdfWs(c) && (c match {
    case '(' | ')' | '<' | '>' | '[' | ']' | '{' | '}' | '/' | '%' => false
    case _ => true
  })

  /** The end of the run of regular characters from `s(from)`. */
  def tokenEnd(s: String, from: Int): Int = {
    var q = from
    while (q < s.length && regular(s.charAt(q))) q += 1
    q
  }

  /** The bytes of the literal string whose `(` is at `s(open)`, up to
    * its balanced `)` (§7.3.4.2): octal escapes of one to three digits,
    * `\n \r \t \b \f`, backslash-EOL line continuations (NO bytes — a
    * binary /O containing 0x5C 0x0A once parsed one byte long), an
    * escaped anything as itself (`\( \) \\`), and unescaped balanced
    * parens kept. None when the string never closes.
    */
  def literal(s: String, open: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    if (literalTo(s, open, out) < 0) None else Some(out.toByteArray)
  }

  /** [[literal]] writing its bytes to `out`, returning the index just past
    * the closing `)`, or −1 when the string never closes (then `out`
    * holds the bytes up to the end of `s`). A lexer resumes at the
    * returned index, so it reads each literal once.
    */
  def literalTo(s: String, open: Int, out: java.io.ByteArrayOutputStream): Int = {
    var q = open + 1
    var depth = 1
    while (q < s.length && depth > 0) {
      s.charAt(q) match {
        case '\\' if q + 1 < s.length =>
          s.charAt(q + 1) match {
            case 'n' => out.write('\n'); q += 2
            case 'r' => out.write('\r'); q += 2
            case 't' => out.write('\t'); q += 2
            case 'b' => out.write('\b'); q += 2
            case 'f' => out.write('\f'); q += 2
            case '\n' => q += 2 // line continuation: no bytes
            case '\r' =>
              q += (if (q + 2 < s.length && s.charAt(q + 2) == '\n') 3
                    else 2) // CR or CRLF continuation: no bytes
            case d if d >= '0' && d <= '7' =>
              var oct = 0; var n = 0; q += 1
              while (n < 3 && q < s.length &&
                     s.charAt(q) >= '0' && s.charAt(q) <= '7') {
                oct = oct * 8 + (s.charAt(q) - '0'); q += 1; n += 1
              }
              out.write(oct & 0xff)
            case c => out.write(c); q += 2 // \( \) \\ and any other
          }
        case '(' => depth += 1; out.write('('); q += 1
        case ')' =>
          depth -= 1
          if (depth > 0) out.write(')')
          q += 1
        case c => out.write(c); q += 1
      }
    }
    if (depth != 0) -1 else q
  }

  /** The end of the object whose first character is `s(from)`: a name,
    * number or keyword, a string, or a whole array or dictionary with all
    * that nests in it; −1 when it never closes. One linear walk: nesting
    * is a counter, strings are stepped over whole.
    */
  def objectEnd(s: String, from: Int): Int = {
    var q = from
    var depth = 0
    do {
      if (q >= s.length) return -1
      val c = s.charAt(q)
      if (c == '(') {
        q = literalTo(s, q, new java.io.ByteArrayOutputStream)
        if (q < 0) return -1
      } else if (s.startsWith("<<", q)) { depth += 1; q += 2 }
      else if (s.startsWith(">>", q)) { depth -= 1; q += 2 }
      else if (c == '<') {
        q = s.indexOf('>', q + 1)
        if (q < 0) return -1
        q += 1
      } else if (c == '[') { depth += 1; q += 1 }
      else if (c == ']') { depth -= 1; q += 1 }
      else if (c == '/') q = tokenEnd(s, q + 1)
      else if (regular(c)) q = tokenEnd(s, q)
      else q += 1 // whitespace or a stray delimiter inside a nesting
    } while (depth > 0)
    q
  }

  /** Past the whitespace and comments (§7.2.3) from `s(from)`. */
  private def skipBlank(s: String, from: Int): Int = {
    var p = from
    while (p < s.length && (isPdfWs(s.charAt(p)) || s.charAt(p) == '%')) {
      if (s.charAt(p) == '%')
        while (p < s.length && s.charAt(p) != '\n' && s.charAt(p) != '\r') p += 1
      else p += 1
    }
    p
  }

  /** The top-level entries of dictionary `s` (§7.3.7): key (without its
    * slash) → the value's source text. A name keeps its slash, an
    * indirect reference reads `N G R`, a string, array or dictionary keeps
    * its delimiters. Text that does not open with `<<` reads as a
    * dictionary's body (a trailer's, say). A value with no key before it
    * is stepped over, so an array object has no entries. Nested values
    * are stepped over whole: neither a key of an inner dictionary nor a
    * `/` inside a string is ever read as a key. A repeated key keeps its
    * last value. Linear.
    */
  def dictEntries(s: String): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    var p = skipBlank(s, 0)
    if (s.startsWith("<<", p)) p += 2
    var key: String = null
    p = skipBlank(s, p)
    while (p < s.length && !s.startsWith(">>", p)) {
      var e = objectEnd(s, p)
      if (e < 0) return b.result()
      if (key != null) {
        // `N G R`: an integer followed by an integer and R
        if (e > p && s.charAt(p) >= '0' && s.charAt(p) <= '9') {
          val m = RefRe.pattern.matcher(s).region(p, s.length)
          if (m.lookingAt() && (m.end == s.length || !regular(s.charAt(m.end))))
            e = m.end
        }
        b += key -> s.substring(p, e)
        key = null
      } else if (s.charAt(p) == '/') key = s.substring(p + 1, e)
      p = skipBlank(s, e)
    }
    b.result()
  }
}
