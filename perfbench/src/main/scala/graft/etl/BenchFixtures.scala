package graft.etl

/** Public bridge from the benchmark to the program's test-scope codec
  * fixture writers, which are package-private to `graft.etl` / `graft`.
  * Nothing here encodes a format: each call forwards to the writer the
  * codec specs already use, so the benchmark's encrypted and `.doc`
  * documents are the same shapes the codecs are pinned against.
  */
object BenchFixtures {
  /** A plain Word-97 `.doc` whose pages, UTF-16 text, are separated by
    * page breaks.
    */
  def doc(pages: Seq[String]): Array[Byte] =
    DocFixtures.doc(Seq((pages.mkString("\r\f") + "\r", false)))

  /** An RC4-encrypted `.doc` (MS-OFFCRYPTO 2.3.6.1) locked by `password`. */
  def encryptedDoc(password: String, pages: Seq[String]): Array[Byte] =
    DocFixtures.rc4Doc(password, Seq((pages.mkString("\r\f") + "\r", false)))

  /** `pkg` agile-encrypted (ECMA-376) under `password`, in a CFB container. */
  def encryptedOoxml(password: String, pkg: Array[Byte]): Array[Byte] =
    OoxmlFixtures.agileDoc(password, pkg)

  /** A password-locked AESV3/R6 PDF with one text stream. */
  def encryptedPdf(password: String, text: String): Array[Byte] =
    EncryptedPdfFixture.r6UserLocked(password, text)

  /** A PDF whose only content stream is a DCTDecode raster. */
  def dctOnlyPdf(id: Long): Array[Byte] = graft.DevIngestScale.dctOnlyPdfBytes(id)
}
