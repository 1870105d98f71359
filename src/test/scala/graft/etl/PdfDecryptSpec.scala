package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Pins for the r13 encrypted-PDF support (Standard security handler,
  * empty user password). Fixtures are built ENCRYPT-SIDE here — the
  * writer algorithms (ISO 32000 Algorithms 2/3/5, AESV2/AESV3 stream
  * wrapping) transcribed independently from the spec rather than
  * calling the decoder's internals — so a transcription error in the
  * decoder's key schedule fails the round trip instead of cancelling
  * out. The RC4 primitive itself is pinned against the published
  * known-answer vector first.
  */
class PdfDecryptSpec extends AnyFunSuite {

  // ---- writer-side primitives (spec transcription, test-local) -------

  private val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def padPwd(pwd: Array[Byte]): Array[Byte] = (pwd ++ Pad).take(32)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(d.update); d.digest()
  }

  private def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] =
    PdfDecrypt.rc4(key, data)

  private def le(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >>> (8 * i)) & 0xff).toByte)

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private def deflate(s: String): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(s.getBytes(StandardCharsets.ISO_8859_1)); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  /** Writer-side R2–R4 password bytes, as realistic writers produce
    * them: Latin-1 when every character fits (PDFDocEncoding's Latin
    * block), else UTF-8 — the population the decoder's r16 fallback
    * guess targets (getBytes(ISO_8859_1) would silently flatten
    * non-Latin-1 characters to '?').
    */
  private def pwdBytes(s: String): Array[Byte] =
    if (s.forall(_ <= 'ÿ')) s.getBytes(StandardCharsets.ISO_8859_1)
    else s.getBytes(StandardCharsets.UTF_8)

  /** Algorithm 3: the /O value from the owner password (empty-user
    * documents still carry a real O — it feeds user-side key
    * derivation).
    */
  private def oValue(ownerPwd: String, userPwd: String, r: Int,
                     keyLen: Int): Array[Byte] = {
    var ok = md5(padPwd(pwdBytes(ownerPwd)))
    if (r >= 3) for (_ <- 0 until 50) ok = md5(ok.take(keyLen))
    val key = ok.take(keyLen)
    var o = rc4(key, padPwd(pwdBytes(userPwd)))
    if (r >= 3) for (i <- 1 to 19) o = rc4(key.map(b => (b ^ i).toByte), o)
    o
  }

  /** Algorithm 2 from the USER password side (the file key). */
  private def fileKey(userPwd: String, o: Array[Byte], p: Int,
                      id0: Array[Byte], r: Int, keyLen: Int): Array[Byte] = {
    var k = md5(padPwd(pwdBytes(userPwd)),
      o.take(32), le(p.toLong & 0xffffffffL, 4), id0)
    if (r >= 3) for (_ <- 0 until 50) k = md5(k.take(keyLen))
    k.take(keyLen)
  }

  /** Algorithm 5: the /U value for R ≥ 3 (16 check bytes + 16 pad). */
  private def uValue(key: Array[Byte], id0: Array[Byte]): Array[Byte] = {
    var x = rc4(key, md5(Pad, id0))
    for (i <- 1 to 19) x = rc4(key.map(b => (b ^ i).toByte), x)
    x.take(16) ++ new Array[Byte](16)
  }

  private def objKeyRc4(fk: Array[Byte], num: Int): Array[Byte] =
    md5(fk, le(num.toLong, 3), le(0L, 2))
      .take(math.min(fk.length + 5, 16))

  private def objKeyAes(fk: Array[Byte], num: Int): Array[Byte] =
    md5(fk, le(num.toLong, 3), le(0L, 2),
      Array(0x73, 0x41, 0x6C, 0x54).map(_.toByte))
      .take(math.min(fk.length + 5, 16))

  private def aesEnc(key: Array[Byte], iv: Array[Byte],
                     data: Array[Byte]): Array[Byte] = {
    // PKCS#5 pad then CBC — the spec's stream wrapping; IV leads the data
    val padLen = 16 - (data.length % 16)
    val padded = data ++ Array.fill(padLen)(padLen.toByte)
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"),
      new IvParameterSpec(iv))
    iv ++ c.doFinal(padded)
  }

  private val id0: Array[Byte] = (1 to 16).map(_.toByte).toArray
  private val P = -3904
  private val text = "Secret statute text"
  private def content = s"BT ($text) Tj ET"

  private def pdfWithId(encDict: String, streamBytes: Array[Byte],
                        id: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.6\n")
    w(s"1 0 obj\n$encDict\nendobj\n")
    w(s"2 0 obj\n<< /Length ${streamBytes.length} /Filter /FlateDecode >>\nstream\n")
    out.write(streamBytes)
    w("\nendstream\nendobj\n")
    w(s"trailer << /Root 3 0 R /Encrypt 1 0 R /ID [ <${hex(id)}> <${hex(id)}> ] >>\n%%EOF\n")
    out.toByteArray
  }

  private def pdf(encDict: String, streamBytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.6\n")
    w(s"1 0 obj\n$encDict\nendobj\n")
    w(s"2 0 obj\n<< /Length ${streamBytes.length} /Filter /FlateDecode >>\nstream\n")
    out.write(streamBytes)
    w("\nendstream\nendobj\n")
    w(s"trailer << /Root 3 0 R /Encrypt 1 0 R /ID [ <${hex(id0)}> <${hex(id0)}> ] >>\n%%EOF\n")
    out.toByteArray
  }

  /** Writer-side V5 (R5/R6 AESV3) fixture — the one shape seven tests
    * used to transcribe independently (review r16: collapse the copies;
    * the layout itself stays spec-transcribed here, not decoder-derived).
    * /U = hash2b(upwd, vSalt) ++ vSalt ++ kSalt; /UE wraps the random
    * file key under the key-salt hash; the OWNER pair absorbs the
    * 48-byte /U into every hash block; no owner password ⇒ zeroed
    * /O //OE (the decoder must not open through them).
    */
  private def aesV3Doc(upwd: Array[Byte],
                       opwd: Option[Array[Byte]] = None,
                       r: Int = 6): Array[Byte] = {
    val vSalt = (31 to 38).map(_.toByte).toArray
    val kSalt = (41 to 48).map(_.toByte).toArray
    val ovSalt = (51 to 58).map(_.toByte).toArray
    val okSalt = (61 to 68).map(_.toByte).toArray
    val fileKey32 = (201 to 232).map(_.toByte).toArray
    def wrap(ik: Array[Byte]): Array[Byte] = {
      val c = Cipher.getInstance("AES/CBC/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(ik, "AES"),
        new IvParameterSpec(new Array[Byte](16)))
      c.doFinal(fileKey32)
    }
    val u = PdfDecrypt.hash2b(upwd, vSalt, r) ++ vSalt ++ kSalt
    val ue = wrap(PdfDecrypt.hash2b(upwd, kSalt, r))
    val (o, oe) = opwd match {
      case Some(op) =>
        (PdfDecrypt.hash2b(op, ovSalt, r, u) ++ ovSalt ++ okSalt,
          wrap(PdfDecrypt.hash2b(op, okSalt, r, u)))
      case None => (new Array[Byte](48), new Array[Byte](32))
    }
    val iv = (61 to 76).map(_.toByte).toArray
    val enc = aesEnc(fileKey32, iv, deflate(content))
    pdf(s"<< /Filter /Standard /V 5 /R $r /Length 256 /P -3904 " +
      "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF " +
      s"/O <${hex(o)}> /OE <${hex(oe)}> " +
      s"/U <${hex(u)}> /UE <${hex(ue)}> >>", enc)
  }

  test("RC4 primitive matches the published known-answer vector") {
    // key "Key", plaintext "Plaintext" -> BB F3 16 E8 D9 40 AF 0A D3
    val got = rc4("Key".getBytes(StandardCharsets.US_ASCII),
      "Plaintext".getBytes(StandardCharsets.US_ASCII))
    assert(hex(got) === "bbf316e8d940af0ad3")
  }

  test("R3 RC4-128, empty user password: decrypts and extracts; owner password never needed") {
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 3, keyLen)
    val fk = fileKey("", o, P, id0, r = 3, keyLen)
    val u = uValue(fk, id0)
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.extractPages(doc) === Seq(text))
  }

  test("R4 AESV2 (AES-128-CBC crypt filter), empty user password: decrypts and extracts") {
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 4, keyLen)
    val fk = fileKey("", o, P, id0, r = 4, keyLen)
    val u = uValue(fk, id0)
    val iv = (101 to 116).map(_.toByte).toArray
    val enc = aesEnc(objKeyAes(fk, 2), iv, deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $P " +
        "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
        s"/StmF /StdCF /StrF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.extractPages(doc) === Seq(text))
  }

  test("random R2/R3/R4 documents round-trip encrypt→extract; non-empty user passwords stay quarantined (ScalaCheck)") {
    // the fixed fixtures pin known-answer shapes; this sweeps the
    // parameter space — revision, key length, crypt filter, /P,
    // EncryptMetadata, document ID, owner password — through the
    // spec-transcribed WRITER and asserts the decoder opens every
    // empty-user-password document and none of the passworded ones.
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val genCase = for {
      r <- Gen.oneOf(2, 3, 4)
      aes <- Gen.oneOf(true, false) // r4 only: /AESV2 vs /V2
      // AESV2 is AES-128 BY DEFINITION (its crypt-filter /Length is 16);
      // RC4 revisions sweep the legal 40..128-bit range
      keyLen <- if (r == 2) Gen.const(5)
                else if (r == 4 && aes) Gen.const(16)
                else Gen.choose(5, 16)
      encMeta <- Gen.oneOf(true, false) // r4 only: the +FFFFFFFF key salt
      p <- Gen.choose(-65536, -4)
      // owner NON-empty: with an empty owner password the r15 owner-side
      // open (Algorithm 7 — pdfminer parity) legitimately opens a
      // user-passworded document without any password, which would
      // invalidate the quarantine branch below. The r16 sweep adds
      // non-ASCII owners (writer hashes UTF-8 — the fallback-guess path)
      owner <- Gen.frequency(
        (3, Gen.alphaNumStr.map(s => "o" + s.take(11))),
        (1, Gen.oneOf("ባለቤት", "propriétaire", "ባለ-é")))
      // mostly empty; the non-ASCII entries sweep the UTF-8 fallback
      // (Amharic — no Latin-1 encoding exists) and the NFC/NFD split
      // (café composed vs decomposed)
      userPwd <- Gen.oneOf("", "", "", "secret", "ፍርድ", "የፍርድ ቤት",
        "café", "café")
      idBytes <- Gen.listOfN(16, Gen.choose(0, 255)).map(_.map(_.toByte).toArray)
      // single-space word joins: the page assembler normalizes whitespace
      // RUNS (measured), so multi-space text would fail on extractor
      // semantics, not decryption
      txt <- Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
        .map(_.mkString(" "))
    } yield (r, keyLen, aes, encMeta, p, owner, userPwd, idBytes, txt)
    val prop = Prop.forAll(genCase) {
      case (r, keyLen, aes, encMeta, p, owner, userPwd, idB, txt) =>
        val o = oValue(owner, userPwd, r, keyLen)
        val fk = {
          // writer-side Algorithm 2 incl. the r4 EncryptMetadata salt
          val extra =
            if (r >= 4 && !encMeta)
              Array(0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
            else Array.emptyByteArray
          var k = md5(padPwd(pwdBytes(userPwd)),
            o.take(32), le(p.toLong & 0xffffffffL, 4), idB, extra)
          if (r >= 3) for (_ <- 0 until 50) k = md5(k.take(keyLen))
          k.take(keyLen)
        }
        val u =
          if (r == 2) rc4(fk, Pad) // Algorithm 4
          else uValue(fk, idB)
        val content = s"BT ($txt) Tj ET"
        val enc =
          if (r == 4 && aes) {
            val iv = idB // any 16 bytes serve as the IV
            aesEnc(objKeyAes(fk, 2), iv, deflate(content))
          } else rc4(objKeyRc4(fk, 2), deflate(content))
        val dict =
          if (r == 2)
            s"<< /Filter /Standard /V 1 /R 2 /P $p /O <${hex(o)}> /U <${hex(u)}> >>"
          else if (r == 3)
            s"<< /Filter /Standard /V 2 /R 3 /Length ${keyLen * 8} /P $p " +
              s"/O <${hex(o)}> /U <${hex(u)}> >>"
          else {
            val cfm = if (aes) "AESV2" else "V2"
            val em = if (encMeta) "" else "/EncryptMetadata false "
            s"<< /Filter /Standard /V 4 /R 4 /P $p $em" +
              s"/CF << /StdCF << /CFM /$cfm /Length $keyLen >> >> " +
              s"/StmF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>"
          }
        val doc = pdfWithId(dict, enc, idB)
        val pages = FlatePdfExtractor.extractPages(doc)
        // r15: the caller-supplied password opens from BOTH sides
        // (user directly, owner via Algorithm 7) and a wrong guess
        // stays quarantined — swept across the same parameter space
        val ownerOpens = FlatePdfExtractor.withPassword(owner)
          .extractPages(doc) == Seq(txt)
        val wrongStays = {
          val w = FlatePdfExtractor.withPassword(owner + "x")
          w.extractPages(doc) == Nil && w.diagnose(doc) == "encrypted"
        }
        // r16: when the password's NFD spelling differs AND the writer
        // hashed the NFC form (userPwd as given — "café" is composed),
        // the decomposed spelling must also open via the NFC candidate
        val nfdOpens = {
          val nfd = java.text.Normalizer.normalize(userPwd,
            java.text.Normalizer.Form.NFD)
          nfd == userPwd ||
            java.text.Normalizer.normalize(userPwd,
              java.text.Normalizer.Form.NFC) != userPwd ||
            FlatePdfExtractor.withPassword(nfd).extractPages(doc) == Seq(txt)
        }
        if (userPwd.isEmpty)
          pages == Seq(txt) && ownerOpens && wrongStays
        else
          pages == Nil && FlatePdfExtractor.diagnose(doc) == "encrypted" &&
            FlatePdfExtractor.withPassword(userPwd)
              .extractPages(doc) == Seq(txt) &&
            ownerOpens && wrongStays && nfdOpens
    }
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(60)
      .withInitialSeed(org.scalacheck.rng.Seed(14L)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("40-bit V4 RC4 with /StmF BEFORE /CF: crypt-filter Length resolves inside /CF (r14 ADVICE medium)") {
    // dict key order is writer-arbitrary: with /StmF first, the old
    // unbounded filter-name search matched the '/StmF /StdCF' VALUE
    // token and read the top-level /Length 40 (bits) as a byte count →
    // keyLen 16 instead of 5 → checkU failed → a valid empty-password
    // document silently quarantined
    val keyLen = 5
    val o = oValue("owner-secret", "", r = 4, keyLen)
    val fk = fileKey("", o, P, id0, r = 4, keyLen)
    val u = uValue(fk, id0)
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 4 /R 4 /StmF /StdCF /Length 40 /P $P " +
        "/CF << /StdCF << /CFM /V2 /Length 5 >> >> " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.extractPages(doc) === Seq(text))
  }

  test("crypt-filter /Length written in BITS (spec letter) still resolves: >=40 divides by 8") {
    // the spec says the crypt-filter Length is in bits; Acrobat writes
    // bytes — both shapes must open (128 bits ≡ 16 bytes here)
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 4, keyLen)
    val fk = fileKey("", o, P, id0, r = 4, keyLen)
    val u = uValue(fk, id0)
    val iv = (101 to 116).map(_.toByte).toArray
    val enc = aesEnc(objKeyAes(fk, 2), iv, deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 4 /R 4 /P $P " +
        "/CF << /StdCF << /CFM /AESV2 /Length 128 >> >> " +
        s"/StmF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.extractPages(doc) === Seq(text))
  }

  test("caller-supplied USER password opens R3 (r15, VERDICT #1); wrong password keeps `encrypted`") {
    val keyLen = 16
    val o = oValue("owner-secret", "user-secret", r = 3, keyLen)
    val fk = fileKey("user-secret", o, P, id0, r = 3, keyLen)
    val u = uValue(fk, id0)
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", enc)
    val right = FlatePdfExtractor.withPassword("user-secret")
    val wrong = FlatePdfExtractor.withPassword("not-the-password")
    assert(right.extractPages(doc) === Seq(text))
    assert(wrong.extractPages(doc) === Nil)
    assert(wrong.diagnose(doc) === "encrypted")
    // the password-free singleton still quarantines it
    assert(FlatePdfExtractor.extractPages(doc) === Nil)
  }

  test("caller-supplied OWNER password opens R3 via Algorithm 7 (/O un-wrap)") {
    val keyLen = 16
    val o = oValue("owner-secret", "user-secret", r = 3, keyLen)
    val fk = fileKey("user-secret", o, P, id0, r = 3, keyLen)
    val u = uValue(fk, id0)
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.withPassword("owner-secret")
      .extractPages(doc) === Seq(text))
  }

  test("withPassword(\"\") is a NO-OP on a passworded extractor (review r15)") {
    // the ingest route calls extractor.withPassword(param or "") on
    // EVERY request: mapping "" to the password-free singleton would
    // silently strip a baked-in corpus password from a server
    // constructed with one
    val baked = FlatePdfExtractor.withPassword("corpus-pwd")
    assert(baked.withPassword("") eq baked)
    assert(baked.withPassword("corpus-pwd") eq baked)
    // and the singleton stays the singleton
    assert(FlatePdfExtractor.withPassword("") eq FlatePdfExtractor)
    // the sniffing router keeps its baked PDF password on "" too
    val sniff = SniffingExtractor(pdf = baked)
    assert(sniff.withPassword("") eq sniff)
  }

  test("R2 owner path: single RC4 un-wrap (no key^i ladder)") {
    val keyLen = 5
    val o = oValue("ow2", "u2", r = 2, keyLen)
    val fk = fileKey("u2", o, P, id0, r = 2, keyLen)
    val u = rc4(fk, Pad) // Algorithm 4
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 1 /R 2 /P $P " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.withPassword("u2").extractPages(doc) === Seq(text))
    assert(FlatePdfExtractor.withPassword("ow2").extractPages(doc) === Seq(text))
    assert(FlatePdfExtractor.extractPages(doc) === Nil)
  }

  test("R6 user and owner passwords open AESV3; wrong password quarantines (r15)") {
    // UTF-8 per §7.6.4.3.3; the owner pair absorbs /U into every block
    val doc = aesV3Doc("ፍርድ-ቤት".getBytes(StandardCharsets.UTF_8),
      Some("owner-secret-6".getBytes(StandardCharsets.UTF_8)))
    assert(FlatePdfExtractor.withPassword("ፍርድ-ቤት")
      .extractPages(doc) === Seq(text))
    assert(FlatePdfExtractor.withPassword("owner-secret-6")
      .extractPages(doc) === Seq(text))
    val wrong = FlatePdfExtractor.withPassword("wrong")
    assert(wrong.extractPages(doc) === Nil)
    assert(wrong.diagnose(doc) === "encrypted")
    assert(FlatePdfExtractor.extractPages(doc) === Nil)
    assert(FlatePdfExtractor.diagnose(doc) === "encrypted")
  }

  test("R5 (deprecated single-SHA-256 revision): empty, user and owner passwords all open") {
    // R5 is Adobe's pre-ISO AESV3 draft — hash2b degenerates to ONE
    // SHA-256 over pwd++salt(++U48 owner-side) with no 2.B loop; the
    // branch was previously untested (r15 insurance)
    def doc(upwd: Array[Byte], opwd: Array[Byte]): Array[Byte] =
      aesV3Doc(upwd, Some(opwd), r = 5)
    val open5 = doc(Array.emptyByteArray,
      "ow5".getBytes(StandardCharsets.UTF_8))
    assert(FlatePdfExtractor.extractPages(open5) === Seq(text))
    val locked5 = doc("u5".getBytes(StandardCharsets.UTF_8),
      "ow5".getBytes(StandardCharsets.UTF_8))
    assert(FlatePdfExtractor.extractPages(locked5) === Nil)
    assert(FlatePdfExtractor.withPassword("u5")
      .extractPages(locked5) === Seq(text))
    assert(FlatePdfExtractor.withPassword("ow5")
      .extractPages(locked5) === Seq(text))
    assert(FlatePdfExtractor.withPassword("nope")
      .diagnose(locked5) === "encrypted")
  }

  test("R4 /StmF /Identity (strings-only encryption): streams stay plaintext and extract") {
    // r14 ADVICE: a V4 document whose stream filter is Identity has
    // PLAINTEXT streams even though /Encrypt is present and checkU
    // passes — applying the V2/AESV2 transform garbled them.
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 4, keyLen)
    val fk = fileKey("", o, P, id0, r = 4, keyLen)
    val u = uValue(fk, id0)
    val doc = pdf(
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $P " +
        "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
        s"/StmF /Identity /StrF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>",
      deflate(content)) // NOT encrypted
    assert(FlatePdfExtractor.extractPages(doc) === Seq(text))
  }

  test("R4 /CFM /None on the stream filter: pass-through; absent /StmF defaults to Identity") {
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 4, keyLen)
    val fk = fileKey("", o, P, id0, r = 4, keyLen)
    val u = uValue(fk, id0)
    val none = pdf(
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $P " +
        "/CF << /NoCF << /CFM /None >> >> " +
        s"/StmF /NoCF /O <${hex(o)}> /U <${hex(u)}> >>",
      deflate(content))
    assert(FlatePdfExtractor.extractPages(none) === Seq(text))
    // ISO 32000-1 Table 20: /StmF default value is /Identity
    val absent = pdf(
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $P " +
        "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
        s"/StrF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>",
      deflate(content))
    assert(FlatePdfExtractor.extractPages(absent) === Seq(text))
  }

  test("R4 unknown /CFM quarantines (open returns None) instead of garbling") {
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 4, keyLen)
    val fk = fileKey("", o, P, id0, r = 4, keyLen)
    val u = uValue(fk, id0)
    val enc =
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $P " +
        "/CF << /StdCF << /CFM /FutureV9 >> >> " +
        s"/StmF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>"
    assert(PdfDecrypt.open(enc, s"/ID [ <${hex(id0)}> <${hex(id0)}> ]").isEmpty)
  }

  test("R6 AESV3 (AES-256), empty user password: decrypts and extracts") {
    // U layout: hash(32) ++ validationSalt(8) ++ keySalt(8); UE wraps
    // the random file key under the key-salt hash (aesV3Doc). The 2.B
    // hash is the decoder's own (no public vector available offline) —
    // this pins the V5 LAYOUT and wrapping, the R3/R4 tests pin
    // key-schedule transcription.
    val doc = aesV3Doc(Array.emptyByteArray)
    assert(FlatePdfExtractor.extractPages(doc) === Seq(text))
  }

  test("a REAL user password stays quarantined with the `encrypted` reason") {
    val keyLen = 16
    val o = oValue("owner-secret", "user-secret", r = 3, keyLen)
    val fk = fileKey("user-secret", o, P, id0, r = 3, keyLen)
    val u = uValue(fk, id0)
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.extractPages(doc) === Nil)
    assert(FlatePdfExtractor.diagnose(doc) === "encrypted")
  }

  test("empty-password documents diagnose past `encrypted` to the real reason") {
    // decryptable but carrying only an unsupported raster stream — the
    // reason code must name the filter, not claim password protection
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 3, keyLen)
    val fk = fileKey("", o, P, id0, r = 3, keyLen)
    val u = uValue(fk, id0)
    val enc = rc4(objKeyRc4(fk, 2), Array.fill(64)(7.toByte))
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.6\n")
    w(s"1 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
      s"/O <${hex(o)}> /U <${hex(u)}> >>\nendobj\n")
    w(s"2 0 obj\n<< /Length ${enc.length} /Filter /DCTDecode >>\nstream\n")
    out.write(enc)
    w("\nendstream\nendobj\n")
    w(s"trailer << /Encrypt 1 0 R /ID [ <${hex(id0)}> <${hex(id0)}> ] >>\n%%EOF\n")
    val doc = out.toByteArray
    assert(FlatePdfExtractor.extractPages(doc) === Nil)
    assert(FlatePdfExtractor.diagnose(doc) === "unsupported-filter:DCTDecode")
  }

  test("tampered /U fails the open and quarantines") {
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 3, keyLen)
    val fk = fileKey("", o, P, id0, r = 3, keyLen)
    val u = uValue(fk, id0)
    u(0) = (u(0) ^ 0x55).toByte
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.extractPages(doc) === Nil)
    assert(FlatePdfExtractor.diagnose(doc) === "encrypted")
  }

  test("dict key lookup is token-aware: /UE before /U, decoys inside string values (r13 review)") {
    // R6 dict with /UE FIRST — a raw indexOf("/U") would land on the
    // /UE prefix and fail the open on a valid document
    val vSalt = (31 to 38).map(_.toByte).toArray
    val kSalt = (41 to 48).map(_.toByte).toArray
    val fileKey32 = (201 to 232).map(_.toByte).toArray
    val empty = Array.emptyByteArray
    val u = PdfDecrypt.hash2b(empty, vSalt, 6) ++ vSalt ++ kSalt
    val ik = PdfDecrypt.hash2b(empty, kSalt, 6)
    val ue = {
      val c = Cipher.getInstance("AES/CBC/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(ik, "AES"),
        new IvParameterSpec(new Array[Byte](16)))
      c.doFinal(fileKey32)
    }
    val iv = (61 to 76).map(_.toByte).toArray
    val enc = aesEnc(fileKey32, iv, deflate(content))
    val doc = pdf(
      "<< /Filter /Standard /V 5 /R 6 /Length 256 /P -3904 " +
        s"/UE <${hex(ue)}> " + // BEFORE /U — key order is writer-arbitrary
        "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF " +
        s"/O <${hex(new Array[Byte](48))}> /OE <${hex(new Array[Byte](32))}> " +
        s"/U <${hex(u)}> >>", enc)
    assert(FlatePdfExtractor.extractPages(doc) === Seq(text))
    // a LITERAL-string decoy containing "/U <41>" bytes must not shadow
    // the real key — the scanner skips string values
    assert(PdfDecrypt.strVal("""<< /O (decoy /U <41> bytes) /U <42> >>""",
      "U").map(_.toSeq) === Some(Seq[Byte](0x42)))
    // nor may a key of a nested dictionary
    assert(PdfDecrypt.strVal("""<< /CF << /U <41> >> /U <42> >>""",
      "U").map(_.toSeq) === Some(Seq[Byte](0x42)))
  }

  test("incremental update: the LAST revision of the Encrypt object wins (r13 review)") {
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 3, keyLen)
    val fk = fileKey("", o, P, id0, r = 3, keyLen)
    val u = uValue(fk, id0)
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val goodDict = s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
      s"/O <${hex(o)}> /U <${hex(u)}> >>"
    val badDict = s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
      s"/O <${hex(o)}> /U <${hex(new Array[Byte](32))}> >>"
    def doc(first: String, second: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
      w("%PDF-1.6\n")
      w(s"1 0 obj\n$first\nendobj\n")
      w(s"2 0 obj\n<< /Length ${enc.length} /Filter /FlateDecode >>\nstream\n")
      out.write(enc)
      w("\nendstream\nendobj\n")
      w(s"trailer << /Encrypt 1 0 R /ID [ <${hex(id0)}> <${hex(id0)}> ] >>\n")
      // the appended revision rewrites object 1 — the LIVE copy
      w(s"1 0 obj\n$second\nendobj\n")
      w(s"trailer << /Encrypt 1 0 R /ID [ <${hex(id0)}> <${hex(id0)}> ] >>\n%%EOF\n")
      out.toByteArray
    }
    // stale-bad then live-good: opens (last wins)
    assert(FlatePdfExtractor.extractPages(doc(badDict, goodDict)) === Seq(text))
    // stale-good then live-bad: quarantines (proves last-wins, not try-all)
    assert(FlatePdfExtractor.extractPages(doc(goodDict, badDict)) === Nil)
  }

  test("AES ciphertext ending in 0x0D survives bare-\\n framing via the declared /Length (r13 review)") {
    // stripFramingEol's \r\n branch would eat the real trailing 0x0D
    // byte, making the data 15 mod 16 and silently dropping the page;
    // the declared /Length is authoritative. IV searched so the
    // ciphertext provably ends in 0x0D (deterministic scan).
    val keyLen = 16
    val o = oValue("owner-secret", "", r = 4, keyLen)
    val fk = fileKey("", o, P, id0, r = 4, keyLen)
    val u = uValue(fk, id0)
    val key2 = objKeyAes(fk, 2)
    val enc = (0 until 4096).iterator.map { t =>
      val iv = le(t.toLong, 8) ++ le(t.toLong, 8)
      aesEnc(key2, iv, deflate(content))
    }.find(e => e.last == 0x0D.toByte)
      .getOrElse(fail("no IV in 4096 yields a 0x0D-final ciphertext"))
    val doc = pdf(
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $P " +
        "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
        s"/StmF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>", enc)
    // pdf() frames with "\n" + "endstream" — the [0x0D, framing-\n] shape
    assert(FlatePdfExtractor.extractPages(doc) === Seq(text))
  }

  test("PDF literal-string parsing: escapes, octal, nesting, binary round trip") {
    def p(dict: String) = PdfDecrypt.strVal(dict, "X").map(_.toSeq)
    assert(p("""/X (abc)""") === Some("abc".getBytes.toSeq))
    assert(p("""/X (a\(b\)c)""") === Some("a(b)c".getBytes.toSeq))
    assert(p("""/X (a\\b)""") === Some("a\\b".getBytes.toSeq))
    assert(p("""/X (a\101b)""") === Some("aAb".getBytes.toSeq))
    assert(p("""/X (a(nested)b)""") === Some("a(nested)b".getBytes.toSeq))
    assert(p("/X <41 42>") === Some(Seq[Byte](0x41, 0x42)))
    assert(p("/X <414>") === Some(Seq[Byte](0x41, 0x40))) // odd pads with 0
    assert(p("/X (unclosed") === None)
    // backslash-EOL is a LINE CONTINUATION contributing no bytes
    // (§7.3.4.2, r13 review — a binary /O containing 0x5C 0x0A parsed
    // one byte long and broke key derivation)
    assert(p("/X (ab\\\ncd)") === Some("abcd".getBytes.toSeq))
    assert(p("/X (ab\\\rcd)") === Some("abcd".getBytes.toSeq))
    assert(p("/X (ab\\\r\ncd)") === Some("abcd".getBytes.toSeq))
  }

  test("R6 NFC normalization (r16 VERDICT #2): NFD-typed password opens an NFC-hashed document") {
    // Ethiopic has NO canonical decompositions (NFD == NFC for pure
    // Amharic), so the composed/decomposed split enters through the
    // accented Latin char: é (U+00E9) vs e + COMBINING ACUTE (U+0301)
    val nfc = "ፍርድ-ቤት-é"
    val nfd = java.text.Normalizer.normalize(nfc,
      java.text.Normalizer.Form.NFD)
    assert(nfc != nfd)
    def doc6(upwd: Array[Byte], opwd: Array[Byte]): Array[Byte] =
      aesV3Doc(upwd, Some(opwd))
    // the writer (Acrobat/Word behavior) hashes the NFC UTF-8 bytes:
    // "encrypted with NFD input" therefore stores NFC-derived values —
    // both spellings must open, user AND owner side
    val utf8Nfc = nfc.getBytes(StandardCharsets.UTF_8)
    val ownerNfc = ("ባለ-" + nfc).getBytes(StandardCharsets.UTF_8)
    val worded = doc6(utf8Nfc, ownerNfc)
    assert(FlatePdfExtractor.withPassword(nfc).extractPages(worded) === Seq(text))
    assert(FlatePdfExtractor.withPassword(nfd).extractPages(worded) === Seq(text))
    assert(FlatePdfExtractor.withPassword(
      java.text.Normalizer.normalize("ባለ-" + nfc,
        java.text.Normalizer.Form.NFD)).extractPages(worded) === Seq(text))
    assert(FlatePdfExtractor.withPassword("ፍርድ-ቤት-e")
      .extractPages(worded) === Nil)
    // back-compat: a document hashed from the RAW NFD bytes (a
    // non-normalizing writer — the r15 shape) keeps opening with the
    // exact NFD string, because the as-typed form is tried FIRST; the
    // NFC spelling cannot recover it (documented limit)
    val rawNfd = doc6(nfd.getBytes(StandardCharsets.UTF_8),
      "ow-x".getBytes(StandardCharsets.UTF_8))
    assert(FlatePdfExtractor.withPassword(nfd).extractPages(rawNfd) === Seq(text))
    assert(FlatePdfExtractor.withPassword(nfc).extractPages(rawNfd) === Nil)
    assert(FlatePdfExtractor.withPassword(nfc).diagnose(rawNfd) === "encrypted")
  }

  test("R6 SASLprep form (ISO 32000-2): ligature/fullwidth/ZWSP passwords open Acrobat-keyed documents (r16)") {
    // Acrobat applies SASLprep before hashing an AESV3 password:
    // "ﬁle" (U+FB01) NFKC-folds to "file", a zero-width space drops,
    // a no-break space becomes SPACE. A document IT wrote can only
    // open through that form — NFC alone keeps the ligature.
    val typed = "\ufb01le\u200b-\u1348\u122d\u12f5\u00a0\u1264\u1275" // ligature+ZWSP+NBSP
    val prepped = PdfDecrypt.saslprep(typed)
    assert(prepped === "file-\u1348\u122d\u12f5 \u1264\u1275")
    assert(java.text.Normalizer.normalize(typed,
      java.text.Normalizer.Form.NFC) !== prepped)
    // Acrobat's bytes: the PREPARED form keys the document
    val doc = aesV3Doc(prepped.getBytes(StandardCharsets.UTF_8))
    // the user types the raw form; the SASLprep candidate opens it
    assert(FlatePdfExtractor.withPassword(typed).extractPages(doc) === Seq(text))
    // and typing the prepped form directly works too (as-typed first)
    assert(FlatePdfExtractor.withPassword(prepped).extractPages(doc) === Seq(text))
    assert(FlatePdfExtractor.withPassword(prepped + "x").extractPages(doc) === Nil)
  }

  test("structural fuzzer: random PDF mutations extract correctly or quarantine — never throw (r16, the OOXML fuzzer's twin)") {
    // encrypted PDFs are network-admitted attacker input exactly like
    // the CFB containers: the same decrypt-correctly-or-quarantine
    // contract must survive arbitrary structural damage. Corpus: one
    // fixture per cipher family (R3/RC4, R4/AESV2, R6/AESV3), all
    // opened through a caller password so every mutant exercises the
    // full candidate loop, the object walk and the Encrypt-dict parse.
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val keyLen = 16
    def r3doc: Array[Byte] = {
      val o = oValue("fz-own", "fz-user", r = 3, keyLen)
      val fk = fileKey("fz-user", o, P, id0, r = 3, keyLen)
      val enc = rc4(objKeyRc4(fk, 2), deflate(content))
      pdf(s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
        s"/O <${hex(o)}> /U <${hex(uValue(fk, id0))}> >>", enc)
    }
    def r4doc: Array[Byte] = {
      val o = oValue("fz-own", "fz-user", r = 4, keyLen)
      val fk = fileKey("fz-user", o, P, id0, r = 4, keyLen)
      val iv = (101 to 116).map(_.toByte).toArray
      val enc = aesEnc(objKeyAes(fk, 2), iv, deflate(content))
      pdf(s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $P " +
        "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
        s"/StmF /StdCF /O <${hex(o)}> /U <${hex(uValue(fk, id0))}> >>", enc)
    }
    def r6doc: Array[Byte] =
      aesV3Doc("fz-user".getBytes(StandardCharsets.UTF_8))
    val corpus = Vector(r3doc, r4doc, r6doc)
    val keyed = FlatePdfExtractor.withPassword("fz-user")
    val genMutant: Gen[(String, Array[Byte])] = for {
      doc <- Gen.oneOf(corpus)
      mutant <- Gen.oneOf(
        // truncation anywhere (header, mid-dict, mid-stream, trailer)
        for (n <- Gen.choose(0, doc.length - 1))
          yield (s"trunc@$n", java.util.Arrays.copyOf(doc, n)),
        // byte pokes anywhere — Encrypt-dict tokens, hex strings,
        // stream bytes and framing all get hit across 200 cases
        for (off <- Gen.choose(0, doc.length - 1); b <- Gen.choose(0, 255))
          yield (s"poke@$off", { val m = doc.clone(); m(off) = b.toByte; m }),
        // token splices: overwrite a run with delimiter/keyword bytes
        // that attack the token-aware scanners specifically
        for {
          off <- Gen.choose(0, doc.length - 9)
          tok <- Gen.oneOf("<< /U (x", ")>>]<<((", "\\\\)\\\\(\\\\\\\\nn",
            "stream\n x", "/Length 0", "%PDF-1.6\n", "endobj\nn")
        } yield (s"splice@$off", {
          val m = doc.clone()
          val tb = tok.getBytes(StandardCharsets.ISO_8859_1)
          System.arraycopy(tb, 0, m, off, math.min(tb.length, m.length - off))
          m
        }))
    } yield mutant
    val want = Seq(text)
    // forAllNoShrink + mutant dump + rotating seeds (r17, VERDICT r16
    // #3) — see FuzzHarness; 3 × 67 ≈ the r16 single-seed 200-case
    // budget. The r16 alternate-seed sweep (seeds 21–25) already ran
    // this corpus clean — zlib's adler32 covers the bit-flip class the
    // DOCX side lacked — so rotation here is insurance, not debt.
    val prop = Prop.forAllNoShrink(genMutant) { case (label, mutant) =>
      try {
        val pages = keyed.extractPages(mutant)
        val ok = pages == want ||
          (pages.isEmpty && keyed.diagnose(mutant).nonEmpty)
        if (!ok) println(s"pdf-fuzzer: unexpected outcome for $label: $pages " +
          s"(mutant: ${FuzzHarness.dumpMutant("pdf", label, mutant)})")
        ok
      } catch { case e: Throwable =>
        println(s"pdf-fuzzer: THREW for $label: $e " +
          s"(mutant: ${FuzzHarness.dumpMutant("pdf", label, mutant)})")
        false
      }
    }
    FuzzHarness.checkRotating(166L, 67, prop)
  }

  test("R3 non-Latin-1 password: UTF-8 fallback opens what Latin-1 flattening never could (r15 ADVICE)") {
    val pwd = "የፍርድ-ቤት" // no Latin-1 encoding exists for Ethiopic
    val keyLen = 16
    // pwdBytes (the writer) hashes the UTF-8 bytes — the realistic
    // non-Latin-1 R≤4 writer population
    val o = oValue("owner-x", pwd, r = 3, keyLen)
    val fk = fileKey(pwd, o, P, id0, r = 3, keyLen)
    val u = uValue(fk, id0)
    val enc = rc4(objKeyRc4(fk, 2), deflate(content))
    val doc = pdf(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", enc)
    // getBytes(ISO_8859_1) flattens every Ethiopic char to '?' — only
    // the UTF-8 fallback candidate can open this document
    assert(FlatePdfExtractor.withPassword(pwd).extractPages(doc) === Seq(text))
    // and the '?'-flattened guess alone must NOT open it (proves the
    // fallback did the work, not a padding accident)
    assert(FlatePdfExtractor.withPassword("???????").extractPages(doc) === Nil)
    // back-compat: a writer that itself flattened to '?' (the
    // getBytes shape) still opens with the Amharic string, because the
    // Latin-1 candidate is tried FIRST
    val flattened = new String(pwd.getBytes(StandardCharsets.ISO_8859_1),
      StandardCharsets.ISO_8859_1)
    val o2 = oValue("owner-x", flattened, r = 3, keyLen)
    val fk2 = fileKey(flattened, o2, P, id0, r = 3, keyLen)
    val u2 = uValue(fk2, id0)
    val enc2 = rc4(objKeyRc4(fk2, 2), deflate(content))
    val doc2 = pdf(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $P " +
        s"/O <${hex(o2)}> /U <${hex(u2)}> >>", enc2)
    assert(FlatePdfExtractor.withPassword(pwd).extractPages(doc2) === Seq(text))
  }
}
