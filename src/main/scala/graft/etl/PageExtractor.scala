package graft.etl

import java.nio.charset.StandardCharsets

/** Pluggable page extraction (the reference's S9, pdfplumber's
  * `pdf.pages[*].extract_text()` — fetch_legal_docs.py:62-63).
  *
  * Zero-egress container ships no JVM PDF library (SURVEY §7.4), so the
  * extraction step is an interface: the *dataflow* (binary → ordered pages →
  * document) is fully real and tested; the PDF codec is pluggable.
  * Implementations must be Serializable — they run inside executor tasks.
  */
trait PageExtractor extends Serializable {
  /** Page texts in page order. Must never throw on garbage input — return
    * Nil instead (the reference's per-record error containment, S16, is
    * handled one level up, but decode noise should not be an exception).
    */
  def extractPages(bytes: Array[Byte]): Seq[String]

  /** Reason code for a document that yielded no text (VERDICT r11 item 3
    * — reason-coded quarantine): a short stable token like `encrypted`,
    * `unsupported-filter:DCTDecode`, `not-pdf-or-docx`. The pipeline
    * calls this ONLY for rows already headed to quarantine (the rare
    * path), so implementations may re-parse structure; like
    * `extractPages` it must never throw. Default: `empty-text` — the
    * bytes decoded but carried no extractable text.
    */
  def diagnose(bytes: Array[Byte]): String = "empty-text"

  /** Per-filter counts of stream objects this codec SKIPPED because
    * their declared filter chain is outside its decode set — raster page
    * images (DCTDecode/JBIG2/CCITT, the no-OCR exclusion), /Crypt, JPX.
    * The raster-loss visibility metric (VERDICT r13 item 4): a
    * half-scanned volume extracts its text pages and silently drops the
    * scanned ones, so a corpus owner needs this count to SEE what the
    * exclusion costs. Structure re-parse only (no decompression) on the
    * caller's chosen rows; like the other methods it must never throw.
    * Default: empty — codecs with a total decode set lose nothing
    * silently.
    */
  def skippedStreams(bytes: Array[Byte]): Map[String, Int] = Map.empty

  /** This codec opening documents with the given password (r15 — the
    * reference stack's pdfminer `password=` parity; threaded per
    * REQUEST through the ingest route). Default: `this` — codecs whose
    * format has no password concept ignore it, and their quarantine
    * behavior is unchanged. Implementations must stay Serializable and
    * must treat the empty string as "no password" (returning `this`).
    */
  def withPassword(password: String): PageExtractor = this
}

object PageExtractor {
  /** True iff the bytes start with the `%PDF` header — the ONE spelling
    * of the PDF magic the sniffing router keys on (review finding, r11:
    * keep the signature check in one place so a future tolerance change
    * — e.g. the spec-permitted junk before `%PDF` — edits one site).
    * The twin of [[DocxExtractor.looksLikeZip]].
    */
  def looksLikePdf(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 4 &&
      bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' && bytes(3) == 'F'
}

/** Content-sniffing extractor for MIXED corpora (r11): the reference's
  * auto-ingest sweep posts PDFs and DOCX files in ONE pass
  * (auto_ingest.yml:24-32), so the batch path routes per ROW by magic
  * bytes — `%PDF` → the PDF codec, the ZIP local-file-header (every OPC
  * .docx) → the DOCX codec, anything else → Nil (→ S16 quarantine one
  * level up). Content-based rather than URL-suffix-based: a mislabeled
  * extension still extracts, a lying one still quarantines. Runs inside
  * the same `process` UDF — per-row routing costs one 4-byte prefix
  * check, no second scan, no separate pipeline per format.
  */
final case class SniffingExtractor(
    pdf: PageExtractor = FlatePdfExtractor,
    docx: PageExtractor = DocxExtractor,
    doc: PageExtractor = DocExtractor) extends PageExtractor {
  def extractPages(bytes: Array[Byte]): Seq[String] = {
    if (PageExtractor.looksLikePdf(bytes)) pdf.extractPages(bytes)
    else if (DocxExtractor.looksLikeZip(bytes)) docx.extractPages(bytes)
    // CFB-wrapped encrypted OOXML routes to the DOCX codec (r15): the
    // password-free codec degrades to Nil → the `encrypted` quarantine,
    // a passworded one decrypts and extracts
    else if (DocxExtractor.looksLikeEncryptedOoxml(bytes))
      docx.extractPages(bytes)
    // legacy binary .doc (r17): CFB with a WordDocument entry — the
    // Word-97–2003 population that used to fall through to quarantine
    else if (DocExtractor.looksLikeDoc(bytes)) doc.extractPages(bytes)
    else Nil
  }

  /** Routes the diagnosis the same way extraction routed: a format the
    * sniffer recognizes defers to that codec's reason; anything else is
    * the router's own verdict, `not-pdf-or-docx` (the reason token
    * predates the r17 `.doc` codec and stays spelled as published —
    * `.doc` bytes now earn their own codec's reasons instead of it).
    */
  override def diagnose(bytes: Array[Byte]): String = {
    if (PageExtractor.looksLikePdf(bytes)) pdf.diagnose(bytes)
    else if (DocxExtractor.looksLikeZip(bytes)) docx.diagnose(bytes)
    // CFB-wrapped encrypted OOXML routes to the DOCX codec's reason
    // (r15): `encrypted` without the right password — the PDF handler's
    // vocabulary — or the post-decrypt reason with it
    else if (DocxExtractor.looksLikeEncryptedOoxml(bytes))
      docx.diagnose(bytes)
    else if (DocExtractor.looksLikeDoc(bytes)) doc.diagnose(bytes)
    else "not-pdf-or-docx"
  }

  override def skippedStreams(bytes: Array[Byte]): Map[String, Int] = {
    if (PageExtractor.looksLikePdf(bytes)) pdf.skippedStreams(bytes)
    else if (DocxExtractor.looksLikeZip(bytes)) docx.skippedStreams(bytes)
    else Map.empty
  }

  /** Delegates the password to every routed codec — the PDF side's
    * Standard security handler (r15), the DOCX side's encrypted-OOXML
    * package (r15/r16) and the `.doc` side's binary RC4 schemes (r17)
    * each honor it.
    */
  override def withPassword(password: String): PageExtractor =
    if (password.isEmpty) this
    else copy(pdf = pdf.withPassword(password),
              docx = docx.withPassword(password),
              doc = doc.withPassword(password))
}

/** Deterministic fake for unit tests: interprets the input bytes as UTF-8
  * and splits pages on form-feed. Lets every S9/S10/S11 dataflow path be
  * exercised without any PDF codec (SURVEY §5.5).
  */
object FormFeedExtractor extends PageExtractor {
  def extractPages(bytes: Array[Byte]): Seq[String] =
    new String(bytes, StandardCharsets.UTF_8).split('\f').toSeq
}
