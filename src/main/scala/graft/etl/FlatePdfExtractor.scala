package graft.etl

import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex
import PdfSyntax.{RefRe, dictEntries, isPdfWs, regular, tokenEnd}

/** Best-effort pure-JVM PDF text extractor (no external deps — the
  * zero-egress answer to SURVEY §7.4). Handles the dominant
  * machine-generated-PDF shape:
  *   - stream filters applied as a declared CHAIN (`/Filter` name or
  *     array): FlateDecode (java.util.zip.Inflater), LZWDecode (9→12-bit
  *     MSB-first codes, clear=256/EOD=257, `/EarlyChange` honored),
  *     ASCIIHexDecode, ASCII85Decode, RunLengthDecode — plus PNG
  *     `/Predictor` 10–15 and TIFF 2 un-filtering from per-stage
  *     `/DecodeParms` after the decompressor (the xref-stream shape),
  *   - per-font /ToUnicode CMaps (bfchar + bfrange), read at the font's
  *     code width: 2-byte CIDs for `/Subtype /Type0` — which is how the
  *     reference corpus encodes Amharic — and 1-byte codes otherwise,
  *   - the show-text operators Tj, TJ, `'` and `"` (ISO 32000-1 §9.4.3),
  *     with hex or literal operands, the current font tracked via
  *     `/Fn … Tf`, all read by one linear content-stream lexer (§7.8.2).
  *
  * Stream bodies decode on demand, once each. Only two kinds ever do:
  * page-text candidates, and the `/ToUnicode` CMaps of the fonts a page
  * selects. A stream is a candidate unless its own dictionary marks it as
  * something else — `/Length1`–`/Length3` an embedded font program
  * (Table 127), a `/Subtype` other than `/Form` an image, FontFile3 or
  * XML metadata, a `/Type` of `/XRef`, `/ObjStm`, `/Metadata` or
  * `/EmbeddedFile` a structural stream — so the font programs that fill
  * most of a reference volume's bytes are never inflated.
  *
  * Pages follow the page tree (trailer `/Root` → `/Pages` → `/Kids`,
  * §7.7.3), one page per leaf, its `/Contents` array read as one stream;
  * a stream shows on the first page that names it only. Candidate
  * streams no tree page names come after them, each its own page in
  * object-number order: Form XObjects, bare-stream documents and
  * documents whose tree does not resolve. A page whose content holds no
  * text block (`BT`) or no text yields nothing. All pages of a document
  * show at most [[MaxDecodedStreamBytes]] chars. Never throws on garbage —
  * returns Nil. The real Ethiopic text of the reference's vol01.pdf is
  * asserted in MultimodalSpec (canceled when the reference snapshot is
  * absent); the in-repo `EthiopicPdfFixture` volume carries the same
  * shape. LZW and predictor paths are fixture-tested (MultimodalSpec,
  * FlatePdfLzwSpec — decoder pinned against the PDF spec's own LZWDecode
  * worked example).
  *
  * Encrypted documents (r13, [[PdfDecrypt]]): the Standard security
  * handler with an EMPTY user password — R2/R3/R4 RC4, R4 AESV2,
  * R5/R6 AESV3 — decrypts transparently before filter decoding (the
  * owner-locked shape every viewer opens silently; pdfminer under the
  * reference's pdfplumber opens it too). Password-protected documents
  * stay quarantined with the `encrypted` reason.
  *
  * Declared out of scope (environment-bound — no pdfbox/tika in the
  * container, SURVEY §7.4): DCTDecode/JPXDecode raster text (needs OCR),
  * JBIG2/CCITT fax images, and the /Crypt stream filter; streams
  * with those filters decode to None and are skipped.
  */
object FlatePdfExtractor extends PageExtractor {

  private val WhitespaceRe = java.util.regex.Pattern.compile("\\s+")
  private val HexPairRe: Regex = """<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>""".r
  private val RangeTripleRe: Regex =
    """<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>""".r
  private val FontNameRe: Regex = """/(\w+)\s+(\d+)\s+0\s+R""".r

  /** Decompression ceiling PER STREAM (r12 — the DOCX MaxDocumentXmlBytes
    * lesson applied to the network-admitted PDF path): Flate expands up
    * to ~1000×, LZW up to ~4000× via table-entry replay, RunLength 128×,
    * so a small crafted upload could otherwise materialize gigabytes.
    * Past the ceiling a stream decodes to None — the same per-stream
    * graceful degrade as an unsupported filter.
    */
  private[etl] val MaxDecodedStreamBytes: Int = 64 << 20

  /** Every `open(.*?)close` segment body in ONE linear pass — the
    * lazy-dot regex costs O(openings × tail) on crafted close-less input
    * (the DOCX `<w:t>` CPU-bomb class, r11/r12 reviews): each failing
    * attempt rescans to end-of-input. Pairing each `open` with the first
    * `close` after it and resuming past the pair reproduces the regex's
    * match set exactly, in O(n).
    */
  private[etl] def lazySegments(hay: String, open: String,
                                close: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = hay.indexOf(open)
    while (p >= 0) {
      val c = hay.indexOf(close, p + open.length)
      if (c < 0) p = -1
      else {
        out += hay.substring(p + open.length, c)
        p = hay.indexOf(open, c + close.length)
      }
    }
    out.toSeq
  }

  /** PDF whitespace as the old `\s` class read it: space, \t, \n, \x0B,
    * \f, \r — not \u0085 or NBSP.
    */
  private def isWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** (objNum, headerStart, headerEnd) per `(\d+)\s+0\s+obj` header —
    * exactly that regex's `findAllMatchIn` list, minus the numbers
    * `toIntOption` rejects — without stepping a regex through every
    * byte. Each `obj` is found with `indexOf` and its prefix is walked
    * backwards: maximal whitespace, `0`, maximal whitespace, maximal
    * digits. The forward regex can only match those same maximal runs,
    * and a match's prefix holds no `o`, `b` or `j`, so the candidates
    * neither overlap nor cross an earlier `obj`: the walk is linear and
    * the list is the regex's, in order.
    */
  private[etl] def objHeaders(raw: String): Vector[(Int, Int, Int)] = {
    val b = Vector.newBuilder[(Int, Int, Int)]
    var k = raw.indexOf("obj")
    while (k >= 0) {
      var p = k
      while (p > 0 && isWs(raw.charAt(p - 1))) p -= 1
      if (p < k && p > 0 && raw.charAt(p - 1) == '0') {
        val w1End = p - 1
        p = w1End
        while (p > 0 && isWs(raw.charAt(p - 1))) p -= 1
        if (p < w1End) {
          val numEnd = p
          while (p > 0 && raw.charAt(p - 1) >= '0' &&
                 raw.charAt(p - 1) <= '9') p -= 1
          if (p < numEnd)
            raw.substring(p, numEnd).toIntOption
              .foreach(n => b += ((n, p, k + 3)))
        }
      }
      k = raw.indexOf("obj", k + 3)
    }
    b.result()
  }

  /** (objNum, dictText, streamDataStart | −1) per `N 0 obj` header, in
    * one linear pass (r12 — replaces the lazy-dot ObjRe/StreamRe pair,
    * which was O(headers × tail) on terminator-less crafted input AND
    * copied the whole remaining document per stream object via
    * `substring(m.start)`). Each header's dict runs to its first
    * `stream`-EOL marker or `endobj`, clamped at the NEXT header: on
    * well-formed documents the terminator always comes first, so the
    * clamp only bounds adversarial input (a terminator-less object is
    * skipped instead of swallowing its successors). `streamDataStart`
    * points just past the marker EOL; −1 for dict-only objects.
    */
  private def objSlices(raw: String): Seq[(Int, String, Int)] = {
    // toIntOption, not toInt: the object number is attacker-controlled
    // and unbounded — one crafted `99999999999 0 obj` header must skip,
    // not throw NumberFormatException and abort the WHOLE document's
    // extraction to Nil with a misleading 'empty-text' diagnosis (r13
    // advice; the DOCX HeaderNameRe \d{1,6} fix for the same class)
    val hs = objHeaders(raw)
    if (hs.isEmpty) return Nil
    // ALL terminator positions up front (one linear sweep each), so the
    // per-header resolution is a binary search: a per-header indexOf
    // still scans to the first occurrence even when it lies far past the
    // clamp — with 300k crafted headers and one real `endobj` at EOF
    // that re-opened the O(headers × tail) hole the clamp exists to
    // close (caught by the CodecBombSpec pin).
    val endobjs = {
      val b = Vector.newBuilder[Int]
      var p = raw.indexOf("endobj")
      while (p >= 0) { b += p; p = raw.indexOf("endobj", p + 6) }
      b.result()
    }
    // `stream` + framing EOL only (bare `stream` tokens — e.g. inside
    // names or `endstream` — don't terminate a dict; the old regex
    // required the EOL too). (markerIdx, dataStart) pairs.
    val markers = {
      val b = Vector.newBuilder[(Int, Int)]
      var p = raw.indexOf("stream")
      while (p >= 0) {
        val a = p + 6
        if (a < raw.length && raw.charAt(a) == '\n') b += ((p, a + 1))
        else if (a + 1 < raw.length && raw.charAt(a) == '\r' &&
                 raw.charAt(a + 1) == '\n') b += ((p, a + 2))
        p = raw.indexOf("stream", p + 1)
      }
      b.result()
    }
    def lowerBound(size: Int, posAt: Int => Int, from: Int): Int = {
      var lo = 0; var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (posAt(mid) < from) lo = mid + 1 else hi = mid
      }
      lo
    }
    hs.indices.flatMap { i =>
      val (num, _, dictStart) = hs(i)
      val clamp = if (i + 1 < hs.size) hs(i + 1)._2 else raw.length
      val endobjIdx = {
        val j = lowerBound(endobjs.size, endobjs(_), dictStart)
        if (j < endobjs.size && endobjs(j) < clamp) endobjs(j) else -1
      }
      val (markerIdx, dataStart) = {
        val j = lowerBound(markers.size, markers(_)._1, dictStart)
        if (j < markers.size && markers(j)._1 < clamp) markers(j) else (-1, -1)
      }
      if (markerIdx < 0 && endobjIdx < 0) None
      else if (markerIdx >= 0 && (endobjIdx < 0 || markerIdx < endobjIdx))
        Some((num, raw.substring(dictStart, markerIdx), dataStart))
      else Some((num, raw.substring(dictStart, endobjIdx), -1))
    }
  }

  /** `trailer << … >>` dict bodies, linear (replaces the lazy-dot
    * TrailerDictRe — same CPU-bomb class as [[objSlices]]).
    */
  private def trailerDicts(raw: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = raw.indexOf("trailer")
    while (p >= 0) {
      var q = p + 7
      while (q < raw.length && Character.isWhitespace(raw.charAt(q))) q += 1
      if (q + 1 < raw.length && raw.charAt(q) == '<' && raw.charAt(q + 1) == '<') {
        val close = raw.indexOf(">>", q + 2)
        if (close < 0) p = -1
        else { out += raw.substring(q + 2, close)
               p = raw.indexOf("trailer", close + 2) }
      } else p = raw.indexOf("trailer", p + 7)
    }
    out.toSeq
  }

  def extractPages(bytes: Array[Byte]): Seq[String] = {
    try extract(bytes, "")
    catch { case _: Exception => Nil }
  }

  /** Password-supplied extraction (r15, VERDICT #1) — the pdfminer
    * `password=` parity surface. The password is offered to the
    * Standard security handler as user-then-owner ([[PdfDecrypt.open]]);
    * unencrypted documents ignore it entirely.
    */
  private[etl] def extractPages(bytes: Array[Byte],
                                password: String): Seq[String] = {
    try extract(bytes, password)
    catch { case _: Exception => Nil }
  }

  /** This codec with a caller-supplied document password. Empty string
    * returns `this` — the password-free singleton path stays allocation-
    * and behavior-identical.
    */
  override def withPassword(password: String): PageExtractor =
    if (password.isEmpty) this else PasswordedPdfExtractor(password)

  private val EncryptKeyRe: Regex = """/Encrypt\s*(?:\d+\s+\d+\s+R|<<)""".r
  private val EncryptRefRe: Regex = """/Encrypt\s+(\d+)\s+\d+\s+R""".r
  // direct form only: the lookahead rejects the indirect `/Length N 0 R`;
  // the quantifier is POSSESSIVE — a backtrackable \d+ would shrink the
  // capture to a digit-prefix of N ('/Length 20 0 R' matching '2') and
  // smuggle the indirect form past the lookahead (r13 review round 2)
  private val LengthRe: Regex = """/Length\s+(\d++)(?!\s+\d+\s+R)""".r

  /** The decryption context for an encrypted document the EMPTY user
    * password opens (r13 — the owner-locked shape every viewer opens
    * silently; pdfminer under the reference's pdfplumber opens it too,
    * so this is parity). None when the document is really
    * password-protected, uses a non-Standard handler, or spells the
    * Encrypt dict inline (rare; those keep the `encrypted` quarantine).
    * The /ID needed by key derivation lives in the SAME dict that
    * carries the /Encrypt ref (classic trailer or xref-stream dict), so
    * that dict leads the search text.
    */
  private def openEncryption(raw: String, slices: Seq[(Int, String, Int)],
      password: String): Option[PdfDecrypt.Ctx] = {
    // cheap gate first: virtually all corpus PDFs are unencrypted and
    // must not pay the trailer walk + per-dict regex probe (r13 review)
    if (!raw.contains("/Encrypt")) return None
    // LAST occurrences win throughout IN RAW BYTE ORDER: an
    // incrementally-updated PDF appends its live trailer and rewritten
    // objects at the end, and extract's objs map is last-wins — key
    // derivation must read the same revision. The last /Encrypt REF in
    // the raw text is the live one regardless of whether it sits in a
    // classic trailer or an xref-stream dict (r13 review round 2: a
    // carrier list built as trailers-then-slices let a stale rev-1
    // xref dict beat a newer appended classic trailer).
    val num = EncryptRefRe.findAllMatchIn(raw).toSeq.lastOption
      .flatMap(_.group(1).toIntOption)
    num.flatMap { n =>
      slices.filter(_._1 == n).lastOption.flatMap { case (_, encDict, _) =>
        // /ID's FIRST element — the one key derivation uses — is
        // revision-INVARIANT by spec (§14.4: only the second element
        // changes on update), so any carrier's /ID serves: the first
        // of the trailers, then of the xref-ish dicts.
        val idText = (trailerDicts(raw) ++
          slices.map(_._2).filter(_.contains("/ID")))
          .find(dictEntries(_).contains("ID")).getOrElse("")
        PdfDecrypt.open(encDict, idText, password)
      }
    }
  }

  /** Why a document yielded no text (VERDICT r11 item 3 — reason-coded
    * quarantine). Runs ONLY on already-quarantined rows (the S16 rare
    * path), so it re-parses structure but never re-decodes streams:
    *   - `encrypted` — an `/Encrypt` key in a trailer or object dict
    *     (classic-trailer and xref-stream-dict spellings both land in
    *     the [[objSlices]]/[[trailerDicts]] text),
    *   - `unsupported-filter:<A+B>` — every declared stream filter
    *     outside [[SupportedFilters]] (DCTDecode scans, JBIG2/CCITT fax,
    *     Crypt, JPX), sorted and `+`-joined so a mixed raster doc reads
    *     deterministically,
    *   - `not-a-pdf` — no `%PDF` magic,
    *   - `empty-text` — structurally decodable, just nothing to extract
    *     (whitespace-only show-text, or no text operators at all).
    */
  override def diagnose(bytes: Array[Byte]): String = diagnose(bytes, "")

  /** Password-aware diagnosis (r15): the same reason codes, with the
    * caller's password offered to the handler — a RIGHT password moves
    * the reason past `encrypted` to whatever actually blocked the text;
    * a wrong one keeps `encrypted`.
    */
  private[etl] def diagnose(bytes: Array[Byte], password: String): String = {
    try {
      if (!PageExtractor.looksLikePdf(bytes)) return "not-a-pdf"
      val raw = new String(bytes, StandardCharsets.ISO_8859_1)
      val slices = objSlices(raw)
      val dicts = trailerDicts(raw) ++ slices.map(_._2)
      // `encrypted` now means PASSWORD-PROTECTED: an /Encrypt key whose
      // empty-user-password open fails (r13 — empty-password documents
      // extract, so a quarantined one fell through for another reason
      // and gets that reason's code)
      if (dicts.exists(d => EncryptKeyRe.findFirstIn(d).isDefined) &&
          openEncryption(raw, slices, password).isEmpty) "encrypted"
      else {
        // only STREAM-BEARING dicts contribute filter names: a
        // dict-only /Filter is a different vocabulary — the Encrypt
        // dict's /Filter /Standard names the security handler, not a
        // codec (r13, surfaced by the empty-password diagnose path)
        val unsupported = slices.filter(_._3 >= 0).map(_._2)
          .flatMap(filterNames)
          .filterNot(SupportedFilters).distinct.sorted
        if (unsupported.nonEmpty)
          unsupported.mkString("unsupported-filter:", "+", "")
        else "empty-text"
      }
    } catch { case _: Exception => "empty-text" }
  }

  /** The raster-loss visibility count (VERDICT r13 item 4): how many
    * stream objects extraction SKIPPED per unsupported filter name —
    * DCTDecode/JBIG2Decode/CCITTFaxDecode scans (the no-OCR exclusion),
    * Crypt, JPX. Unlike [[diagnose]] (quarantine-only) this runs on
    * GOOD-channel documents too, because a half-scanned volume yields
    * its text pages and passes the S11 gate — the loss is silent without
    * this count. Same structure-only re-parse cost as diagnose (object
    * headers + dict slices, zero stream decoding); a stream declaring
    * several unsupported filters counts once per name.
    */
  override def skippedStreams(bytes: Array[Byte]): Map[String, Int] = {
    try {
      if (!PageExtractor.looksLikePdf(bytes)) return Map.empty
      val raw = new String(bytes, StandardCharsets.ISO_8859_1)
      objSlices(raw).filter(_._3 >= 0).map(_._2)
        .flatMap(d => filterNames(d).filterNot(SupportedFilters).distinct)
        .groupBy(identity).view.mapValues(_.size).toMap
    } catch { case _: Exception => Map.empty }
  }

  /** The EOL between stream data and `endstream` is FRAMING, not data
    * (ISO 32000 §7.3.8.1) — strip exactly one marker, at extraction time
    * only. Decoders must NOT strip EOLs themselves: chained stages see
    * exact decoded intermediates where a trailing 0x0A/0x0D is a real
    * payload byte (inflate stops at the zlib end marker and LZW at the
    * EOD code, so residual framing never corrupts them anyway).
    */
  private def stripFramingEol(data: Array[Byte]): Array[Byte] = {
    val n = data.length
    if (n >= 2 && data(n - 2) == '\r' && data(n - 1) == '\n')
      java.util.Arrays.copyOf(data, n - 2)
    else if (n >= 1 && (data(n - 1) == '\n' || data(n - 1) == '\r'))
      java.util.Arrays.copyOf(data, n - 1)
    else data
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(data, 0, data.length)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return Some(out.toByteArray) // stalled
        out.write(buf, 0, n)
        if (out.size > MaxDecodedStreamBytes) return None // deflate bomb
      }
      inf.end()
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  /** PDF/TIFF-variant LZW: MSB-first bit packing, 9→12-bit codes,
    * 256 = clear-table, 257 = EOD; `earlyChange` widens the code one
    * entry early (the PDF default, 1). Decoder behavior is pinned in
    * FlatePdfLzwSpec against the LZWDecode worked example in the PDF
    * spec (45×5 65 45×3 66 ⇄ codes 256,45,258,258,65,259,66,257).
    */
  private[etl] def lzwDecode(data: Array[Byte],
                             earlyChange: Int = 1): Option[Array[Byte]] = {
    try {
      val end = data.length // EOD (257) terminates; never strip trailing bytes
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val table = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      def reset(): Unit = {
        table.clear()
        var i = 0
        while (i < 258) { table += Array((i & 0xff).toByte); i += 1 } // 256/257 are control slots, never emitted
      }
      reset()
      var width = 9
      var prev: Array[Byte] = null
      var bitBuf = 0L; var nBits = 0; var i = 0; var done = false
      while (!done) {
        while (nBits < width && i < end) {
          bitBuf = (bitBuf << 8) | (data(i) & 0xffL); nBits += 8; i += 1
        }
        if (nBits < width) done = true // ran out of input before EOD — emit what we have
        else {
          val code = ((bitBuf >>> (nBits - width)) & ((1L << width) - 1)).toInt
          nBits -= width
          if (code == 256) { reset(); width = 9; prev = null }
          else if (code == 257) done = true
          else {
            val entry: Array[Byte] =
              if (code < table.length) table(code)
              else if (prev != null && code == table.length) prev :+ prev(0) // KwKwK
              else return None // corrupt stream
            out.write(entry)
            if (out.size > MaxDecodedStreamBytes) return None // LZW bomb
            if (prev != null) table += (prev :+ entry(0))
            prev = entry
            if (table.length >= (1 << width) - earlyChange && width < 12) width += 1
          }
        }
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  /** RunLengthDecode (ISO 32000 §7.4.5): length byte L — 0..127 copies
    * the next L+1 bytes literally, 129..255 repeats the next byte
    * 257−L times, 128 is EOD.
    */
  private def runLengthDecode(data: Array[Byte]): Option[Array[Byte]] = {
    try {
      val out = new java.io.ByteArrayOutputStream(data.length * 2)
      var i = 0; var done = false
      while (i < data.length && !done) {
        val l = data(i) & 0xff
        if (l == 128) done = true
        else if (l < 128) {
          if (i + 1 + l + 1 > data.length) return None // truncated literal run
          out.write(data, i + 1, l + 1); i += l + 1
        } else {
          if (i + 1 >= data.length) return None // truncated repeat run
          var n = 257 - l
          while (n > 0) { out.write(data(i + 1)); n -= 1 }
          i += 1
        }
        if (out.size > MaxDecodedStreamBytes) return None // 128× RL bomb
        i += 1
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  /** ASCII85Decode (ISO 32000 §7.4.3): 5 chars '!'..'u' → 4 bytes base-85
    * big-endian; 'z' is a 4-zero-byte shortcut (only between groups);
    * `~>` is EOD; a final partial group of n chars yields n−1 bytes
    * (pad with 'u', drop the padding bytes). Whitespace ignored.
    */
  private def ascii85Decode(data: Array[Byte]): Option[Array[Byte]] = {
    try {
      val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
      val grp = new Array[Int](5)
      var n = 0; var i = 0; var done = false
      // a leading <~ (non-PDF but common in the wild) is tolerated
      if (data.length >= 2 && data(0) == '<' && data(1) == '~') i = 2
      def flush(chars: Int): Boolean = {
        if (chars == 1) return false // 1 leftover char is malformed
        var v = 0L
        var k = 0
        while (k < 5) { v = v * 85 + (if (k < chars) grp(k) else 84); k += 1 }
        if (v > 0xffffffffL) return false // group decodes above 2^32
        var b = 3
        while (b >= 0) {
          if (3 - b < chars - 1) out.write(((v >>> (8 * b)) & 0xff).toInt)
          b -= 1
        }
        true
      }
      while (i < data.length && !done) {
        val c = data(i).toChar
        if (c == '~') done = true
        else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
        else if (c >= '!' && c <= 'u') {
          grp(n) = c - '!'; n += 1
          if (n == 5) { if (!flush(5)) return None; n = 0 }
        } else if (!c.isWhitespace) return None
        i += 1
      }
      if (n > 0 && !flush(n)) return None
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  private def asciiHexDecode(data: Array[Byte]): Option[Array[Byte]] = {
    try {
      val out = new java.io.ByteArrayOutputStream(data.length / 2)
      var hi = -1; var i = 0; var done = false
      while (i < data.length && !done) {
        val c = data(i).toChar
        if (c == '>') done = true
        else {
          val d = Character.digit(c, 16)
          if (d >= 0) { if (hi < 0) hi = d else { out.write(hi << 4 | d); hi = -1 } }
          else if (!c.isWhitespace) return None
        }
        i += 1
      }
      if (hi >= 0) out.write(hi << 4) // odd final digit: low nibble 0 (spec)
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  private val PredRe = """/Predictor\s+(\d+)""".r
  private val ColsRe = """/Columns\s+(\d+)""".r
  private val ColorsRe = """/Colors\s+(\d+)""".r
  private val BpcRe = """/BitsPerComponent\s+(\d+)""".r
  private val EarlyRe = """/EarlyChange\s+(\d+)""".r

  /** Un-apply the `/DecodeParms` predictor after decompression: PNG
    * row filters 10–15 (per-row filter byte: None/Sub/Up/Average/Paeth
    * — the xref-stream shape, usually Up=12) and TIFF predictor 2
    * (8-bit horizontal differencing). Predictor 1/absent = identity.
    */
  private[etl] def unpredict(dict: String, data: Array[Byte]): Array[Byte] = {
    def intOf(re: Regex, dflt: Int) =
      // toIntOption: attacker-controlled digits must skip, not abort the
      // whole document via NumberFormatException (r13 review — the
      // objSlices class)
      re.findFirstMatchIn(dict).flatMap(_.group(1).toIntOption)
        .getOrElse(dflt)
    val pred = intOf(PredRe, 1)
    if (pred <= 1) return data
    val cols = intOf(ColsRe, 1)
    val colors = intOf(ColorsRe, 1)
    val bpc = intOf(BpcRe, 8)
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (cols * colors * bpc + 7) / 8
    if (pred == 2) { // TIFF horizontal differencing (8-bit components)
      if (bpc != 8) return data
      val out = data.clone()
      var r = 0
      while ((r + 1) * rowLen <= out.length) {
        var j = bpp
        while (j < rowLen) {
          out(r * rowLen + j) =
            ((out(r * rowLen + j) + out(r * rowLen + j - bpp)) & 0xff).toByte
          j += 1
        }
        r += 1
      }
      out
    } else { // PNG predictors: filter byte prefixes each row
      val nRows = data.length / (rowLen + 1)
      val out = new Array[Byte](nRows * rowLen)
      var r = 0
      while (r < nRows) {
        val ft = data(r * (rowLen + 1)) & 0xff
        val src = r * (rowLen + 1) + 1
        val dst = r * rowLen
        var j = 0
        while (j < rowLen) {
          val raw = data(src + j) & 0xff
          val left = if (j >= bpp) out(dst + j - bpp) & 0xff else 0
          val up = if (r > 0) out(dst - rowLen + j) & 0xff else 0
          val ul = if (r > 0 && j >= bpp) out(dst - rowLen + j - bpp) & 0xff else 0
          val v = ft match {
            case 0 => raw
            case 1 => raw + left
            case 2 => raw + up
            case 3 => raw + ((left + up) >> 1)
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
            case _ => raw
          }
          out(dst + j) = (v & 0xff).toByte
          j += 1
        }
        r += 1
      }
      out
    }
  }

  private val NameRe = """/(\w+)""".r

  private def isDecompressor(f: String): Boolean =
    f == "FlateDecode" || f == "Fl" || f == "LZWDecode" || f == "LZW"

  /** Per-stage `/DecodeParms` (or `/DP`) entries aligned with the filter
    * chain. An ARRAY aligns by index (null entries → defaults). A SINGLE
    * dict aligns to the first decompression stage — per spec a lone dict
    * accompanies a lone filter, but writers that pair one dict with a
    * chain (e.g. [/ASCIIHexDecode /FlateDecode]) mean the decompressor's
    * parms, never the transport encoding's. Predictors and EarlyChange
    * then apply ONLY to their own stage: a predictor declared for the
    * final stage must not mangle an earlier stage's intermediate bytes.
    */
  /** The first `/DecodeParms` (or `/DP`) value in `dict` — `[ … ]` array,
    * `<< … >>` dict (to the FIRST `>>`, the old lazy-regex semantics) or
    * `null` — via a linear key scan instead of the lazy-dot DecodeParmsRe
    * (same CPU-bomb class as [[objSlices]]: a dict stuffed with
    * close-less `/DP <<` keys made findFirstMatchIn rescan the tail per
    * key). A key whose value doesn't parse falls through to the next
    * occurrence, matching the regex's keep-searching behavior.
    */
  private def decodeParmsValue(dict: String): Option[String] = {
    def at(key: String, from: Int): Int = dict.indexOf(key, from)
    var p = math.min(at("/DecodeParms", 0) & Int.MaxValue,
                     at("/DP", 0) & Int.MaxValue)
    while (p < Int.MaxValue) {
      val keyLen = if (dict.startsWith("/DecodeParms", p)) 12 else 3
      var q = p + keyLen
      while (q < dict.length && Character.isWhitespace(dict.charAt(q))) q += 1
      if (dict.startsWith("[", q)) {
        val e = dict.indexOf(']', q + 1)
        if (e >= 0) return Some(dict.substring(q, e + 1))
      } else if (dict.startsWith("<<", q)) {
        val e = dict.indexOf(">>", q + 2)
        if (e >= 0) return Some(dict.substring(q, e + 2))
      } else if (dict.startsWith("null", q)) return Some("null")
      val n = p + keyLen
      p = math.min(at("/DecodeParms", n) & Int.MaxValue,
                   at("/DP", n) & Int.MaxValue)
    }
    None
  }

  /** `<< … >>` / `null` elements of a parms ARRAY body, linear (replaces
    * ParmElemRe's lazy dot): earliest-starting element wins, a close-less
    * `<<` can only be followed by `null` elements.
    */
  private def parmElems(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = 0
    var stop = false
    while (!stop && p < s.length) {
      val d = s.indexOf("<<", p)
      val nl = s.indexOf("null", p)
      val e = if (d < 0) -1 else s.indexOf(">>", d + 2)
      if (d >= 0 && e >= 0 && (nl < 0 || d < nl)) {
        out += s.substring(d, e + 2); p = e + 2
      } else if (nl >= 0) { out += "null"; p = nl + 4 }
      else stop = true
    }
    out.toSeq
  }

  private[etl] def decodeParms(dict: String, filters: Seq[String]): Seq[String] = {
    val parsed: Seq[String] =
      decodeParmsValue(dict) match {
        case Some(s) if s.startsWith("[") =>
          parmElems(s.substring(1, s.length - 1))
        case Some(s) => Seq(s)
        case None => Nil
      }
    val byIndex = parsed.map(p => if (p == "null") "" else p)
    if (byIndex.size == 1 && filters.length > 1) {
      val at = filters.indexWhere(isDecompressor) max 0
      filters.indices.map(i => if (i == at) byIndex.head else "")
    } else byIndex.padTo(filters.length, "")
  }

  /** Apply the stream's declared filter CHAIN in order, each stage with
    * its OWN DecodeParms. Unknown filters (DCT, JBIG2, CCITT, Crypt —
    * see scaladoc) yield None so the stream is skipped rather than
    * mis-decoded; a stream with no /Filter passes through raw.
    */
  /** The declared filter chain of one stream dict — `/Filter` name or
    * array form. Shared by [[decodeStream]] and [[diagnose]] (the r12
    * reason-coded-quarantine thread: one parse, two consumers).
    */
  private[etl] def filterNames(dict: String): Seq[String] = {
    // linear key scan (r12 — the decodeParmsValue rationale: the old
    // FilterListRe's `[^\]]*` rescanned the dict tail per close-less
    // `/Filter [` occurrence); a key whose value doesn't parse falls
    // through to the next occurrence, matching findFirstMatchIn.
    def asciiWord(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'
    var p = dict.indexOf("/Filter")
    while (p >= 0) {
      var q = p + 7
      while (q < dict.length && Character.isWhitespace(dict.charAt(q))) q += 1
      if (q < dict.length && dict.charAt(q) == '[') {
        val e = dict.indexOf(']', q + 1)
        if (e >= 0)
          return NameRe.findAllMatchIn(dict.substring(q + 1, e))
            .map(_.group(1)).toSeq
      } else if (q < dict.length && dict.charAt(q) == '/') {
        var e = q + 1
        while (e < dict.length && asciiWord(dict.charAt(e))) e += 1
        if (e > q + 1) return Seq(dict.substring(q + 1, e))
      }
      p = dict.indexOf("/Filter", p + 7)
    }
    Nil
  }

  /** Filters [[decodeStream]] can actually decode (incl. abbreviations). */
  private val SupportedFilters: Set[String] = Set(
    "FlateDecode", "Fl", "LZWDecode", "LZW", "ASCIIHexDecode", "AHx",
    "ASCII85Decode", "A85", "RunLengthDecode", "RL")

  private[etl] def decodeStream(dict: String, data: Array[Byte]): Option[Array[Byte]] = {
    val filters: Seq[String] = filterNames(dict)
    filters.zip(decodeParms(dict, filters)).foldLeft(Option(data)) {
      case (acc, (f, parm)) =>
        acc.flatMap { d =>
          f match {
            case "FlateDecode" | "Fl" => inflate(d).map(unpredict(parm, _))
            case "LZWDecode" | "LZW" =>
              val early = EarlyRe.findFirstMatchIn(parm)
                .flatMap(_.group(1).toIntOption).getOrElse(1)
              lzwDecode(d, early).map(unpredict(parm, _))
            case "ASCIIHexDecode" | "AHx" => asciiHexDecode(d)
            case "ASCII85Decode" | "A85" => ascii85Decode(d)
            case "RunLengthDecode" | "RL" => runLengthDecode(d)
            case _ => None
          }
        }
    }
  }

  private def extract(bytes: Array[Byte], password: String): Seq[String] = {
    val raw = new String(bytes, StandardCharsets.ISO_8859_1)
    if (!raw.startsWith("%PDF")) return Nil

    val slices = objSlices(raw)
    // encrypted documents: streams decrypt BEFORE filter decoding (the
    // spec's layering — encryption wraps the filtered bytes). None here
    // for unencrypted docs; a doc the (possibly empty) password doesn't
    // open never reaches extract with ctx (openEncryption fails) — its
    // streams decode to garbage → Nil → the `encrypted` quarantine.
    val ctx = openEncryption(raw, slices, password)

    // object number → (header dict text, stream data start | −1); the
    // last definition wins, as an incremental update appends its own
    val objs: Map[Int, (String, Int)] =
      slices.map { case (num, dict, dataStart) => num -> ((dict, dataStart)) }.toMap
    val bodies = scala.collection.mutable.HashMap[Int, Option[String]]()
    def body(num: Int): Option[String] = bodies.getOrElseUpdate(num,
      objs.get(num) match {
        case Some((dict, dataStart)) if dataStart >= 0 =>
          decodeBody(raw, num, dict, dataStart, ctx)
        case _ => None
      })
    def candidate(num: Int): Boolean = objs.get(num).exists {
      case (dict, dataStart) => dataStart >= 0 && textCandidate(dict)
    }

    // font resource name (F1, F2, …) → the objects it names, in
    // object-number order, scraped from /Font <<…>> dicts; a font's
    // CMap decodes the first time a Tf selects it
    lazy val fontRefs: Map[String, Seq[Int]] =
      objs.keys.toSeq.sorted.flatMap { num =>
        val dict = objs(num)._1
        val fontIdx = dict.indexOf("/Font")
        if (fontIdx < 0) Nil
        else FontNameRe.findAllMatchIn(dict.substring(fontIdx)).flatMap { m =>
          m.group(2).toIntOption.map(m.group(1) -> _)
        }.toList
      }.groupMap(_._1)(_._2)
    // each font object and each CMap stream is read once, however many
    // names (or fonts) point at it
    val cmaps = scala.collection.mutable.HashMap[Int, Option[Map[Int, String]]]()
    val fonts = scala.collection.mutable.HashMap[Int, Option[Font]]()
    def font(num: Int): Option[Font] = fonts.getOrElseUpdate(num,
      objs.get(num).flatMap { case (dict, _) =>
        val e = dictEntries(dict)
        e.get("ToUnicode").flatMap(refNum)
          .flatMap(n => cmaps.getOrElseUpdate(n, body(n).map(parseCMap)))
          .map(new Font(_, if (e.get("Subtype").contains("/Type0")) 2 else 1))
      })
    val named = scala.collection.mutable.HashMap[String, Font]()
    // the last font so named that has a CMap, as the name scrape's
    // last-wins map read it
    def fontNamed(name: String): Font = named.getOrElseUpdate(name,
      fontRefs.getOrElse(name, Nil).reverseIterator.flatMap(font)
        .nextOption().getOrElse(NoCMap))

    val tree = treePages(raw, objs)
    val inTree = tree.iterator.flatten.toSet
    val loose = objs.keys.filter(n => !inTree(n) && candidate(n)).toSeq.sorted
    val contents = tree.iterator.map(_.filter(candidate).flatMap(body).mkString("\n")) ++
      loose.iterator.flatMap(body)
    // the text all pages may show, shared: a CMap can map one code to a
    // long string, so show-text can outgrow its content many times over
    var left = MaxDecodedStreamBytes
    val pages = Vector.newBuilder[String]
    while (left > 0 && contents.hasNext) {
      val c = contents.next()
      if (c.contains("BT")) {
        val lexer = new ContentLexer(c, fontNamed, left)
        val text = lexer.text()
        left -= lexer.shown
        if (text.nonEmpty) pages += text
      }
    }
    pages.result()
  }

  /** The decoded body of stream object `num`, whose data starts at
    * `dataStart` and runs to the first `endstream` (missing endstream ⇒
    * no body). Under encryption, streams the handler exempts (xref
    * streams, unencrypted metadata) decrypt to garbage and fail their
    * filter decode — the usual per-stream degrade; nothing this extractor
    * reads navigates through them.
    */
  private def decodeBody(raw: String, num: Int, dict: String, dataStart: Int,
                         ctx: Option[PdfDecrypt.Ctx]): Option[String] = {
    val endIdx = raw.indexOf("endstream", dataStart)
    if (endIdx < 0) return None
    // the DIRECT /Length is authoritative when plausible (r13 review):
    // stripFramingEol's \r\n branch eats a real trailing 0x0D payload
    // byte when the writer framed with a bare \n — harmless for
    // self-terminating codecs, but an AES ciphertext ending in 0x0D then
    // fails the %16 check and silently drops the page. Indirect
    // `/Length N 0 R` and implausible values (gap past framing) fall back
    // to the endstream scan.
    val declared = LengthRe.findFirstMatchIn(dict)
      .flatMap(_.group(1).toIntOption)
      .filter(l => l >= 0 && dataStart.toLong + l <= endIdx &&
        endIdx - (dataStart + l) <= 4)
    val data = declared match {
      case Some(l) => raw.substring(dataStart, dataStart + l)
        .getBytes(StandardCharsets.ISO_8859_1)
      case None => stripFramingEol(raw.substring(dataStart, endIdx)
        .getBytes(StandardCharsets.ISO_8859_1))
    }
    val plain = ctx match {
      case Some(c) => PdfDecrypt.decryptStream(c, num, data)
      case None => Some(data)
    }
    plain.flatMap(decodeStream(dict, _))
      .map(new String(_, StandardCharsets.ISO_8859_1))
  }

  /** `/Type` values of streams that hold no page text: cross-reference
    * and object streams (§7.5.8, §7.5.7), XMP metadata (§14.3.2) and
    * embedded files (§7.11.4).
    */
  private val StructuralTypes = Set("/XRef", "/ObjStm", "/Metadata", "/EmbeddedFile")

  /** Whether a stream may hold page text, read from its own dictionary
    * alone (ISO 32000-1): not when `/Length1`, `/Length2` or `/Length3`
    * marks an embedded font program (Table 127), a `/Subtype` other than
    * `/Form` an image, a FontFile3 program or XML metadata, or its
    * `/Type` a [[StructuralTypes]] stream. Content streams and Form
    * XObjects pass, and so does any stream that says nothing of itself.
    * Needs no page tree, so it holds when objects sit in object streams.
    */
  private[etl] def textCandidate(dict: String): Boolean = {
    val e = dictEntries(dict)
    !e.contains("Length1") && !e.contains("Length2") && !e.contains("Length3") &&
      e.get("Subtype").forall(_ == "/Form") &&
      !e.get("Type").exists(StructuralTypes)
  }

  /** The object number of the `N G R` reference `v` starts with. */
  private def refNum(v: String): Option[Int] =
    RefRe.findPrefixMatchOf(v).flatMap(_.group(1).toIntOption)

  /** The object numbers of every `N G R` reference in `v`, in order. */
  private def refs(v: String): Seq[Int] =
    RefRe.findAllMatchIn(v).flatMap(_.group(1).toIntOption).toSeq

  /** The catalog's object number: the last `/Root N G R` in the file (an
    * incremental update appends the live trailer), found from the end.
    */
  private def rootRef(raw: String): Option[Int] = {
    var p = raw.lastIndexOf("/Root")
    while (p >= 0) {
      var q = p + 5
      while (q < raw.length && isPdfWs(raw.charAt(q))) q += 1
      val m = RefRe.pattern.matcher(raw).region(q, raw.length)
      if (m.lookingAt()) return m.group(1).toIntOption
      p = raw.lastIndexOf("/Root", p - 1)
    }
    None
  }

  /** The `/Contents` streams of each page of the page tree (§7.7.3), in
    * tree order: trailer `/Root` → `/Pages` → `/Kids`, depth first. The
    * walk keeps its own stack and visits each node once, so a cyclic or
    * 100k-deep tree costs one pass. A leaf's `/Contents` is one stream or
    * an array of them, direct or indirect. Every object counts once: a
    * stream (or indirect array) shows on the first page that names it
    * and on no later one, so a tree that names one stream thousands of
    * times reads it once, and a document's pages hold no more content
    * than its distinct streams. Nil when the tree does not resolve (no
    * trailer, or a catalog inside an object stream).
    */
  private def treePages(raw: String, objs: Map[Int, (String, Int)]): Seq[Seq[Int]] = {
    val out = Vector.newBuilder[Seq[Int]]
    val seen = scala.collection.mutable.HashSet[Int]()
    val todo = scala.collection.mutable.Stack[Int]()
    rootRef(raw).flatMap(objs.get).flatMap(c => dictEntries(c._1).get("Pages"))
      .flatMap(refNum).foreach(todo.push)
    while (todo.nonEmpty) {
      val num = todo.pop()
      if (seen.add(num)) objs.get(num).foreach { case (dict, _) =>
        val e = dictEntries(dict)
        e.get("Kids") match {
          case Some(kids) => refs(kids).reverseIterator.foreach(todo.push)
          case None => e.get("Contents").foreach { c =>
            val named =
              if (c.startsWith("[")) refs(c)
              else refNum(c).toSeq.flatMap { n =>
                objs.get(n) match {
                  case Some((arr, -1)) => // an indirect array
                    if (seen.add(n)) refs(arr) else Nil
                  case _ => Seq(n)
                }
              }
            out += named.filter(seen.add)
          }
        }
      }
    }
    out.result()
  }

  /** A `/ToUnicode` CMap's code → Unicode map (bfchar + bfrange). */
  private def parseCMap(s: String): Map[Int, String] = {
    // hexInt: attacker-controlled hex must SKIP its entry on overflow,
    // never throw out of extract() to the whole-document Nil (r13
    // review round 2 — the toIntOption class; Integer.parseInt on a
    // <FFFFFFFF> CID aborted every page of the document)
    def hexInt(h: String): Option[Int] =
      if (h.isEmpty || h.length > 8) None
      else java.lang.Long.parseLong(h, 16) match {
        case v if v <= Int.MaxValue => Some(v.toInt)
        case _ => None
      }
    val out = scala.collection.mutable.Map[Int, String]()
    lazySegments(s, "beginbfchar", "endbfchar").foreach { seg =>
      HexPairRe.findAllMatchIn(seg).foreach { p =>
        hexInt(p.group(1)).foreach(cid => out(cid) = hexToUnicode(p.group(2)))
      }
    }
    lazySegments(s, "beginbfrange", "endbfrange").foreach { seg =>
      RangeTripleRe.findAllMatchIn(seg).foreach { t =>
        (hexInt(t.group(1)), hexInt(t.group(2)), hexInt(t.group(3))) match {
          case (Some(lo), Some(hi), Some(dst)) =>
            // codes are at most 2 bytes (a Type0 font's width) — a wider
            // range is meaningless at best and a memory/CPU bomb at worst
            // (a crafted <0> <7FFFFFFF> range would materialize 2^31 map
            // entries). Skip, don't clamp: a clamp would fabricate
            // mappings the document never uses. Per-entry code-point
            // validity guards toChars (a dst near Int.MaxValue is not a
            // throwable offense for other rows).
            if (lo >= 0 && hi <= 0xFFFF) {
              var c = lo
              while (c <= hi) {
                val cp = dst + (c - lo)
                if (Character.isValidCodePoint(cp))
                  out(c) = new String(Character.toChars(cp))
                c += 1
              }
            }
          case _ => // overflowed member: skip this range only
        }
      }
    }
    out.toMap
  }

  /** The 16-bit value of the 4 hex digits at `hex(i)`..`hex(i + 3)` —
    * `Integer.parseInt(hex.substring(i, i + 4), 16)` without the
    * substring. Every char in that span must be a hex digit.
    */
  private[etl] def hex4(hex: String, i: Int): Int = {
    var v = 0
    var k = i
    while (k < i + 4) { v = v << 4 | Character.digit(hex.charAt(k), 16); k += 1 }
    v
  }

  private def hexToUnicode(hex: String): String = {
    // UTF-16BE code units, 4 hex digits each
    val sb = new StringBuilder
    var i = 0
    while (i + 4 <= hex.length) {
      sb.append(hex4(hex, i).toChar)
      i += 4
    }
    sb.toString
  }

  /** A font as show-text reads it (§9.10.2): its `/ToUnicode` map, null
    * when it has none, and its code width in bytes — 2 for a Type0
    * font's CIDs, 1 for a simple font's codes.
    */
  private final class Font(val cmap: Map[Int, String], val width: Int)
  private val NoCMap = new Font(null, 1)

  /** A string operand: its bytes, and whether it was written in hex. */
  private final class Str(val bytes: Array[Byte], val hex: Boolean)
  /** A number operand; show-text reads none. */
  private object Num

  /** The text one page's content shows, read in one linear pass over its
    * tokens (ISO 32000-1 §7.8.2: operands, then their operator). Tf
    * selects the font; Tj, `'`, `"` and TJ show their string operands
    * through it (§9.4.3), in stream order. Literals decode with
    * [[PdfSyntax.literalTo]], hex strings by the ASCIIHexDecode rules
    * (§7.3.4.3: whitespace ignored, an odd final digit padded with 0). A
    * font with a CMap maps each code of its width; a simple font shows a
    * literal byte its CMap lacks as Latin-1. A font without a CMap shows
    * literal bytes as Latin-1 and hex strings as nothing. A string that
    * never closes ends the scan — it is read once, never retried at each
    * later opener — and any operator inside an open array drops the
    * array, so crafted openers cost one step each. Inline image data
    * (`ID` … `EI`) is stepped over unread. The scan stops once it has
    * shown `limit` chars. Whitespace runs collapse to one space.
    */
  private final class ContentLexer(content: String,
                                   fontNamed: String => Font, limit: Int) {
    private val sb = new java.lang.StringBuilder
    private val lit = new java.io.ByteArrayOutputStream
    private var font = NoCMap
    // the newest two operands: show-text reads the last, Tf the one before
    private var op0, op1: AnyRef = null
    private var arr: ArrayBuffer[Str] = null // the open array's strings
    private var depth = 0

    private def push(o: AnyRef): Unit =
      if (depth > 0) o match {
        case s: Str => arr += s
        case _ => // numbers are kerning adjustments; nested arrays flatten
      } else { op1 = op0; op0 = o }

    private def show(o: AnyRef): Unit = o match {
      case s: Str =>
        val b = s.bytes
        val cmap = font.cmap
        if (cmap == null) {
          if (!s.hex) {
            var i = 0
            while (i < b.length && sb.length < limit) {
              sb.append((b(i) & 0xff).toChar); i += 1
            }
          }
        } else {
          val w = font.width
          var i = 0
          while (i + w <= b.length && sb.length < limit) {
            val code = if (w == 2) (b(i) & 0xff) << 8 | (b(i + 1) & 0xff)
                       else b(i) & 0xff
            val u = cmap.getOrElse(code, null)
            if (u != null) sb.append(u)
            else if (w == 1 && !s.hex) sb.append(code.toChar)
            i += w
          }
        }
      case a: ArrayBuffer[_] => a.foreach(e => show(e.asInstanceOf[AnyRef]))
      case _ =>
    }

    /** Runs the operator in `content(from until to)`; returns where the
      * scan resumes.
      */
    private def operator(from: Int, to: Int): Int = {
      def is(op: String) = to - from == op.length && content.startsWith(op, from)
      var next = to
      if (is("Tf")) op1 match {
        case name: String => font = fontNamed(name)
        case _ =>
      } else if (is("Tj") || is("'") || is("\"")) op0 match {
        case s: Str => show(s)
        case _ =>
      } else if (is("TJ")) op0 match {
        case a: ArrayBuffer[_] => show(a)
        case _ =>
      } else if (is("ID")) next = inlineImageEnd(to)
      op0 = null; op1 = null; arr = null; depth = 0
      next
    }

    /** Past the `EI` that ends the inline image whose data follows `ID`
      * at `from` (§8.9.7): the first `EI` with whitespace before it and
      * no regular character after it.
      */
    private def inlineImageEnd(from: Int): Int = {
      var q = content.indexOf("EI", from + 1)
      while (q >= 0 && !(isPdfWs(content.charAt(q - 1)) &&
             (q + 2 == content.length || !regular(content.charAt(q + 2)))))
        q = content.indexOf("EI", q + 1)
      if (q < 0) content.length else q + 2
    }

    /** The chars shown before whitespace collapses. */
    def shown: Int = sb.length

    def text(): String = {
      val n = content.length
      var p = 0
      while (p < n && sb.length < limit) {
        val c = content.charAt(p)
        if (c == '(') {
          lit.reset()
          val e = PdfSyntax.literalTo(content, p, lit)
          if (e < 0) p = n
          else { push(new Str(lit.toByteArray, false)); p = e }
        } else if (c == '<') {
          if (p + 1 < n && content.charAt(p + 1) == '<') p += 2
          else {
            val e = content.indexOf('>', p + 1)
            if (e < 0) p = n
            else {
              val hex = asciiHexDecode(content.substring(p + 1, e)
                .getBytes(StandardCharsets.ISO_8859_1))
              push(new Str(hex.getOrElse(Array.emptyByteArray), true)); p = e + 1
            }
          }
        } else if (c == '[') {
          if (depth == 0) arr = new ArrayBuffer[Str]
          depth += 1; p += 1
        } else if (c == ']') {
          if (depth > 0) {
            depth -= 1
            if (depth == 0) { val a = arr; arr = null; push(a) }
          }
          p += 1
        } else if (c == '/') {
          val e = tokenEnd(content, p + 1)
          push(content.substring(p + 1, e)); p = e
        } else if (c == '%') {
          while (p < n && content.charAt(p) != '\n' && content.charAt(p) != '\r') p += 1
        } else if (regular(c)) {
          val e = tokenEnd(content, p)
          if ((c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.') {
            push(Num); p = e
          } else p = operator(p, e)
        } else p += 1 // whitespace, `>`, `)`, `{`, `}`
      }
      WhitespaceRe.matcher(sb).replaceAll(" ").trim
    }
  }
}

/** [[FlatePdfExtractor]] carrying a caller-supplied document password
  * (r15, VERDICT #1 — the reference toolchain's pdfminer takes exactly
  * this via `password=`). Same codec, same reason codes; the password
  * is offered to the Standard security handler user-side then
  * owner-side on every encrypted document, and ignored by unencrypted
  * ones. Stateless and Serializable — safe inside executor tasks like
  * every PageExtractor.
  */
final case class PasswordedPdfExtractor(password: String)
    extends PageExtractor {
  def extractPages(bytes: Array[Byte]): Seq[String] =
    FlatePdfExtractor.extractPages(bytes, password)
  override def diagnose(bytes: Array[Byte]): String =
    FlatePdfExtractor.diagnose(bytes, password)
  override def skippedStreams(bytes: Array[Byte]): Map[String, Int] =
    FlatePdfExtractor.skippedStreams(bytes)
  override def withPassword(p: String): PageExtractor =
    // empty = "no password offered" = NO-OP (the trait contract —
    // review r15: mapping "" to the password-free singleton silently
    // stripped a baked-in corpus password on every request without
    // ?password=, and disagreed with SniffingExtractor's handling)
    if (p.isEmpty || p == password) this
    else FlatePdfExtractor.withPassword(p)
}
