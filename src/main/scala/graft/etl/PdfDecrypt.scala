package graft.etl

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** PDF Standard security handler, DECRYPT side. Covers the dominant
  * real-world encrypted shape — an EMPTY user password (owner-locked
  * government/publisher PDFs that any viewer opens without a prompt) —
  * and, since r15, a CALLER-SUPPLIED password tried as the user
  * password first and the owner password second, which is exactly the
  * `password=` parameter the reference's pdfplumber/pdfminer stack
  * exposes (pdfminer PDFStandardSecurityHandler.authenticate tries
  * both sides with the one given string). Implements ISO 32000 §7.6:
  *   - R2 (40-bit RC4), R3 (RC4 ≤128), R4 (/CF crypt filters: /V2 RC4
  *     or /AESV2 AES-128-CBC), via Algorithm 2 key derivation +
  *     Algorithm 1 per-object keys, plus the Algorithm 7 owner-side
  *     open (owner key → un-RC4 /O → padded user password);
  *   - R5/R6 (/AESV3 AES-256-CBC) via the SHA-2 family hash
  *     (Algorithm 2.B for R6) + UE unwrap on the user side and the
  *     /O-validation-salt hash + OE unwrap on the owner side.
  * Documents the given (or empty) password does not open return None —
  * the caller quarantines with the `encrypted` reason exactly as
  * before. Everything is JDK crypto (MD5/SHA-2/AES; RC4 is implemented
  * inline — 20 lines, no provider dependence).
  *
  * Password encoding: R2–R4 try the password's ISO_8859_1 bytes
  * (PDFDocEncoding's Latin block) first and, for passwords carrying
  * non-Latin-1 characters — which getBytes would silently flatten to
  * '?' — the UTF-8 bytes as a fallback guess, the way real-world
  * openers do (r15 ADVICE); R5/R6 take UTF-8 truncated to 127 bytes
  * per §7.6.4.3.3. Each encoding is tried for the password AS TYPED
  * and NFC-normalized (r16): writers hash the keyboard's NFC form, so
  * a caller pasting the NFD spelling of the same Amharic password must
  * still open the document. R5/R6 additionally try the SASLprep form
  * (RFC 4013 subset — B.1/C.1.2 mappings + NFKC; see [[saslprep]])
  * because ISO 32000-2 mandates SASLprep for AESV3 and Acrobat keys
  * its documents from it; the prohibited-output/bidi CHECKS stay
  * omitted — they reject inputs rather than transform them.
  *
  * All parsing is over the extractor's ISO_8859_1 raw text, which is
  * byte-preserving, so binary /O //U string values survive exactly.
  */
private[etl] object PdfDecrypt {

  /** The spec's 32-byte password padding constant (ISO 32000-1
    * §7.6.3.3 Algorithm 2 step a) — with an empty user password the
    * padded password IS this constant.
    */
  private val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  /** A successfully-opened document's decryption context: `cfm` is the
    * stream crypt method ("V2" RC4, "AESV2", "AESV3"); `key` is the
    * FILE key (per-object keys derive from it for V≤4).
    */
  final case class Ctx(key: Array[Byte], r: Int, cfm: String)

  // ---- primitives ----------------------------------------------------

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  private def sha(bits: Int, parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance(s"SHA-$bits")
    parts.foreach(d.update)
    d.digest()
  }

  /** RC4, implemented directly (tiny, and avoids depending on the
    * optional ARCFOUR JCE transform).
    */
  private[etl] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    for (i <- 0 until 256) {
      j = (j + s(i) + key(i % key.length)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
    }
    val out = new Array[Byte](data.length)
    var i = 0; j = 0
    for (k <- data.indices) {
      i = (i + 1) & 0xff
      j = (j + s(i)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      out(k) = (data(k) ^ s((s(i) + s(j)) & 0xff)).toByte
    }
    out
  }

  private def aesCbc(mode: Int, key: Array[Byte], iv: Array[Byte],
                     data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    c.doFinal(data)
  }

  // ---- dict-value parsing over raw ISO_8859_1 text --------------------
  // Entries come from [[PdfSyntax.dictEntries]], which matches a key only
  // WHOLE and only at the dictionary's top level, stepping over string
  // values and nested dictionaries (r13/r14 review): a raw indexOf would
  // match the `/U` PREFIX of `/UE` (dict key order is writer-arbitrary),
  // `/`-sequences inside the BINARY /O /U strings, or a key of the nested
  // /CF dictionary — each deriving from the wrong bytes.

  /** The NAME value of `key` without its slash (`/StmF /StdCF` →
    * "StdCF"); None when absent or not a name.
    */
  private def nameVal(e: Map[String, String], key: String): Option[String] =
    e.get(key).filter(v => v.length > 1 && v.charAt(0) == '/').map(_.substring(1))

  private def intVal(e: Map[String, String], key: String): Option[Int] =
    e.get(key).flatMap(_.toIntOption)

  /** The bytes of the string value `v`: hex `<…>` (whitespace ignored,
    * an odd final digit padded with 0) or a [[PdfSyntax.literal]] `(…)`.
    */
  private def str(v: String): Option[Array[Byte]] =
    if (v.startsWith("(")) PdfSyntax.literal(v, 0)
    else if (v.startsWith("<") && !v.startsWith("<<")) {
      val e = v.indexOf('>')
      if (e < 0) None
      else {
        val hex = v.substring(1, e).filterNot(_.isWhitespace)
        val even = if (hex.length % 2 == 0) hex else hex + "0"
        try Some(even.grouped(2)
          .map(h => Integer.parseInt(h, 16).toByte).toArray)
        catch { case _: NumberFormatException => None }
      }
    } else None

  /** A PDF string value for /name (binary bytes survive the ISO_8859_1
    * round trip).
    */
  private[etl] def strVal(dict: String, name: String): Option[Array[Byte]] =
    PdfSyntax.dictEntries(dict).get(name).flatMap(str)

  // ---- opening the document -------------------------------------------

  private def le(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >>> (8 * i)) & 0xff).toByte)

  /** §7.6.3.3 Algorithm 2 step a: pad/truncate a password to 32 bytes. */
  private def padPwd(pwd: Array[Byte]): Array[Byte] = (pwd ++ Pad).take(32)

  /** Algorithm 2: the R≤4 file key from an already-PADDED user
    * password (the Pad constant itself for the empty password; the
    * Algorithm 7 owner path recovers the padded form directly from /O).
    */
  private def fileKeyR4(padded: Array[Byte], o: Array[Byte], p: Int,
                        id0: Array[Byte], r: Int, keyLen: Int,
                        encryptMetadata: Boolean): Array[Byte] = {
    val extra =
      if (r >= 4 && !encryptMetadata)
        Array(0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
      else Array.emptyByteArray
    var k = md5(padded, o.take(32), le(p.toLong & 0xffffffffL, 4), id0, extra)
    if (r >= 3) for (_ <- 0 until 50) k = md5(k.take(keyLen))
    k.take(keyLen)
  }

  /** Algorithm 7 (decrypt side of Algorithm 3): the owner password's
    * RC4 key un-wraps /O back to the PADDED user password — R2 one
    * application, R3/R4 the 19-round key^i ladder in reverse (i = 19
    * down to 0; key^0 undoes the writer's initial plain-key pass).
    */
  private def ownerToUserPadded(ownerPwd: Array[Byte], o: Array[Byte],
                                r: Int, keyLen: Int): Array[Byte] = {
    var k = md5(padPwd(ownerPwd))
    if (r >= 3) for (_ <- 0 until 50) k = md5(k.take(keyLen))
    val key = k.take(keyLen)
    if (r == 2) rc4(key, o.take(32))
    else {
      var x = o.take(32)
      for (i <- 19 to 0 by -1) x = rc4(key.map(b => (b ^ i).toByte), x)
      x
    }
  }

  /** Algorithms 4/5: does the derived key open the document (i.e. is
    * the user password really empty)?
    */
  private def checkU(key: Array[Byte], u: Array[Byte], id0: Array[Byte],
                     r: Int): Boolean = {
    if (u.length < 16) return false
    if (r == 2) java.util.Arrays.equals(rc4(key, Pad), u.take(32))
    else {
      var x = rc4(key, md5(Pad, id0))
      for (i <- 1 to 19) {
        val ki = key.map(b => (b ^ i).toByte)
        x = rc4(ki, x)
      }
      java.util.Arrays.equals(x.take(16), u.take(16))
    }
  }

  /** Algorithm 2.B (R6) / plain SHA-256 (R5): the password hash.
    * `udata` is empty on the user side; the OWNER side appends the
    * 48-byte /U value to every hashed block (§7.6.4.3.3/4).
    */
  private[etl] def hash2b(pwd: Array[Byte], salt: Array[Byte], r: Int,
                          udata: Array[Byte] = Array.emptyByteArray)
      : Array[Byte] = {
    var k = sha(256, pwd, salt, udata)
    if (r == 5) return k
    var e = Array.emptyByteArray
    var round = 0
    var done = false
    while (!done) {
      round += 1
      val block = pwd ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      for (i <- 0 until 64)
        System.arraycopy(block, 0, k1, i * block.length, block.length)
      e = aesCbc(Cipher.ENCRYPT_MODE, k.take(16), k.slice(16, 32), k1)
      val mod = e.take(16).foldLeft(0)((a, b) => (a + (b & 0xff)) % 3)
      k = sha(mod match { case 0 => 256; case 1 => 384; case _ => 512 }, e)
      done = round >= 64 && (e.last & 0xff) <= round - 32
    }
    k.take(32)
  }

  /** R5/R6 user side: validate the password against /U and unwrap the
    * 256-bit file key from /UE.
    */
  private def fileKeyR6(u: Array[Byte], ue: Array[Byte], r: Int,
                        pwd: Array[Byte]): Option[Array[Byte]] = {
    if (u.length < 48 || ue.length < 32) return None
    val validationSalt = u.slice(32, 40)
    val keySalt = u.slice(40, 48)
    if (!java.util.Arrays.equals(hash2b(pwd, validationSalt, r), u.take(32)))
      return None
    val ik = hash2b(pwd, keySalt, r)
    Some(aesCbc(Cipher.DECRYPT_MODE, ik, new Array[Byte](16), ue.take(32)))
  }

  /** R5/R6 owner side: /O carries hash(32) ++ validationSalt(8) ++
    * keySalt(8) like /U, but every hash block also absorbs the 48-byte
    * /U value; /OE wraps the same 256-bit file key.
    */
  private def ownerKeyR6(o: Array[Byte], oe: Array[Byte], u: Array[Byte],
                         r: Int, pwd: Array[Byte]): Option[Array[Byte]] = {
    if (o.length < 48 || oe.length < 32 || u.length < 48) return None
    val u48 = u.take(48)
    if (!java.util.Arrays.equals(hash2b(pwd, o.slice(32, 40), r, u48),
        o.take(32))) return None
    val ik = hash2b(pwd, o.slice(40, 48), r, u48)
    Some(aesCbc(Cipher.DECRYPT_MODE, ik, new Array[Byte](16), oe.take(32)))
  }

  /** The candidate string forms of a caller-supplied password: as
    * typed first (a document hashed from un-normalized bytes keeps
    * opening with the exact string), then NFC-normalized when that
    * differs. ASCII passwords collapse to one form at zero cost.
    * Shared with [[OoxmlDecrypt]] — the two decryptors must agree on
    * normalization or the REST `?password=` surface behaves
    * format-dependently.
    */
  private[etl] def pwdForms(password: String): Seq[String] = {
    val nfc = java.text.Normalizer.normalize(password,
      java.text.Normalizer.Form.NFC)
    if (nfc == password) Seq(password) else Seq(password, nfc)
  }

  /** SASLprep (RFC 4013) subset for the R5/R6 path (r16): ISO 32000-2
    * mandates SASLprep for AESV3 passwords, so Acrobat hashes e.g.
    * "ﬁle" (U+FB01 ligature) as "file" and strips zero-width chars —
    * a document it encrypts can ONLY open through this form. Covered:
    * the commonly-produced mappings (B.1 map-to-nothing: soft hyphen,
    * ZW(N)J/ZWSP, variation selectors, BOM; C.1.2 non-ASCII spaces →
    * space) followed by NFKC. Omitted: the prohibited-output and bidi
    * CHECKS — they reject passwords rather than transform them, and a
    * decryptor gains nothing by refusing to try.
    */
  private[etl] def saslprep(password: String): String = {
    // C.1.2 non-ASCII space characters -> SPACE
    def toSpace(c: Char): Boolean =
      c == '\u00A0' || c == '\u1680' ||
        (c >= '\u2000' && c <= '\u200A') ||
        c == '\u202F' || c == '\u205F' || c == '\u3000'
    // B.1 commonly-mapped-to-nothing: soft hyphen, CGJ, Mongolian soft
    // hyphen + free variation selectors, ZWSP/ZWNJ/ZWJ, word joiner,
    // variation selectors, BOM/ZWNBSP
    def toNothing(c: Char): Boolean =
      c == '\u00AD' || c == '\u034F' || c == '\u1806' ||
        (c >= '\u180B' && c <= '\u180D') ||
        (c >= '\u200B' && c <= '\u200D') || c == '\u2060' ||
        (c >= '\uFE00' && c <= '\uFE0F') || c == '\uFEFF'
    val mapped = password.map(c => if (toSpace(c)) ' ' else c)
      .filterNot(toNothing)
    java.text.Normalizer.normalize(mapped,
      java.text.Normalizer.Form.NFKC)
  }

  /** Empty-password open — the silent-viewer shape (r13 behavior). */
  private[etl] def open(encryptDict: String,
                        trailerText: String): Option[Ctx] =
    open(encryptDict, trailerText, "")

  /** Open the document: parse the Encrypt dict (plus the trailer text
    * holding /ID), then try the given password — empty for the silent
    * shape — as the USER password and, failing that, as the OWNER
    * password (pdfminer's authenticate order; trying owner with the
    * empty string also opens the legal empty-owner-password corner a
    * viewer opens). None ⇒ the password doesn't open the document (or
    * the handler is unsupported) — the caller keeps the `encrypted`
    * quarantine.
    */
  private[etl] def open(encryptDict: String, trailerText: String,
                        password: String): Option[Ctx] = {
    try {
      val e = PdfSyntax.dictEntries(encryptDict)
      if (!e.get("Filter").contains("/Standard")) return None
      val v = intVal(e, "V").getOrElse(0)
      val r = intVal(e, "R").getOrElse(if (v >= 2) 3 else 2)
      // /ID [ <…> <…> ]: key derivation reads the first element
      val id0 = PdfSyntax.dictEntries(trailerText).get("ID")
        .filter(_.startsWith("["))
        .flatMap(a => str(a.substring(1).dropWhile(PdfSyntax.isPdfWs)))
        .getOrElse(Array.emptyByteArray)
      val o = e.get("O").flatMap(str).getOrElse(return None)
      val u = e.get("U").flatMap(str).getOrElse(return None)
      // /StmF names the crypt filter applied to STREAMS (the only
      // content class the extractor decrypts). Spec default when absent
      // is /Identity (ISO 32000-1 §7.6.5, Table 20) — pdfminer does the
      // same — so a strings-only/metadata-only encrypted document keeps
      // its plaintext streams (r14 ADVICE: applying the V2/AESV2
      // transform here garbled streams that were never encrypted).
      val stmF: Option[String] =
        if (v >= 4) Some(nameVal(e, "StmF").getOrElse("Identity"))
        else None
      // the named crypt filter's own dict, read inside /CF << … >> only
      // (r14 ADVICE, medium: a search past /CF read top-level keys that
      // follow it — the /StmF VALUE token as the filter's name and the
      // top-level /Length in bits as its byte count, quarantining a valid
      // 40-bit document)
      val cf = e.get("CF").map(PdfSyntax.dictEntries).getOrElse(Map.empty)
      def filterDict(name: String): Option[Map[String, String]] =
        cf.get(name).map(PdfSyntax.dictEntries)
      def resolvedCfm(filterName: String): Option[String] =
        if (filterName == "Identity") Some("Identity")
        else filterDict(filterName).flatMap(nameVal(_, "CFM")) match {
          case Some("None") => Some("Identity")
          case other => other
        }
      if (v >= 5) {
        val ue = e.get("UE").flatMap(str).getOrElse(return None)
        // a RESOLVED foreign CFM quarantines (decrypting under a wrong
        // transform garbles rather than reason-codes); an UNRESOLVABLE
        // one (/CF stored as an indirect object the text scan can't
        // follow, or omitted by a sloppy writer) falls back to AESV3 —
        // the only legal V5 stream transform, and fileKeyR6 has already
        // validated the key against /U (r14 review round 2: V4 differs
        // legitimately — it has TWO real transforms, so an unresolvable
        // filter genuinely can't be guessed there)
        val cfm5 = stmF.flatMap(resolvedCfm) match {
          case Some(m @ ("Identity" | "AESV3")) => m
          case Some(_) => return None
          case None => "AESV3"
        }
        // §7.6.4.3.3: UTF-8, truncated to 127 bytes, per candidate
        // form — as typed, NFC, then the SASLprep form ISO 32000-2
        // mandates for AESV3 (Acrobat-written documents are keyed from
        // it; see saslprep). As-typed stays first for raw-bytes parity.
        val oeOpt = e.get("OE").flatMap(str)
        return (pwdForms(password) :+ saslprep(password))
          .distinct.iterator.map { form =>
            val pwd6 = form.getBytes(StandardCharsets.UTF_8).take(127)
            fileKeyR6(u, ue, r, pwd6)
              .orElse(oeOpt.flatMap(oe => ownerKeyR6(o, oe, u, r, pwd6)))
          }.collectFirst { case Some(k) => k }.map(Ctx(_, r, cfm5))
      }
      // clamped to the spec's 40..128-bit range: an attacker-controlled
      // /Length 0 would otherwise make the RC4 key empty (mod-zero) and
      // a huge one allocates nothing useful
      def clamp(n: Int): Int = math.max(5, math.min(16, n))
      val keyLen = clamp(
        if (v <= 1) 5
        else if (v == 4) {
          // /CF << /<StmF-name> << … /Length n >> >>, the filter's own
          // dict. Real writers disagree on the crypt-filter Length unit
          // (the spec says bits, Acrobat writes bytes): ≥40 can only be
          // bits.
          stmF.filter(_ != "Identity").flatMap(filterDict)
            .flatMap(intVal(_, "Length"))
            .map(n => if (n >= 40) n / 8 else n)
            .orElse(intVal(e, "Length").map(_ / 8))
            .getOrElse(16)
        }
        else intVal(e, "Length").map(_ / 8).getOrElse(5))
      val cfm =
        if (v < 4) "V2"
        else stmF.flatMap(resolvedCfm) match {
          case Some(m @ ("Identity" | "AESV2" | "V2")) => m
          case Some(_) => return None // unknown CFM: quarantine, don't garble
          case None => return None    // /StmF names a filter /CF lacks
        }
      val encryptMetadata = !e.get("EncryptMetadata").contains("false")
      val p = intVal(e, "P").getOrElse(-1)
      // R2–R4 byte candidates (see the object scaladoc): Latin-1 per
      // string form, plus the UTF-8 bytes when the form carries
      // non-Latin-1 characters — getBytes(ISO_8859_1) silently flattens
      // those to '?', so without the fallback a non-Latin-1 password
      // could NEVER open an R≤4 document that hashed its UTF-8 bytes
      // (r15 ADVICE). At most 4 candidates; ASCII passwords stay at 1.
      // the fallback triggers on any NON-ASCII char (review r16): a
      // Latin-1-representable accented password ("café") also has a
      // distinct UTF-8 spelling some writers hash — gating on
      // non-LATIN-1 only would cover Ethiopic but skip exactly the
      // accented-Latin population
      val pwdCands: Seq[Array[Byte]] = pwdForms(password).flatMap { form =>
        val latin1 = form.getBytes(StandardCharsets.ISO_8859_1)
        if (form.exists(_ > '\u007f'))
          Seq(latin1, form.getBytes(StandardCharsets.UTF_8))
        else Seq(latin1)
      }.map(_.toSeq).distinct.map(_.toArray)
      // per candidate: user side first, then Algorithm 7's owner side —
      // both validated through the same /U check (the owner path
      // recovers the padded user password, so a wrong owner guess fails
      // checkU, never opens)
      pwdCands.iterator.map { pwd4 =>
        val userKey = fileKeyR4(padPwd(pwd4), o, p, id0, r, keyLen,
          encryptMetadata)
        if (checkU(userKey, u, id0, r)) Some(Ctx(userKey, r, cfm))
        else {
          val recovered = ownerToUserPadded(pwd4, o, r, keyLen)
          val ownerKey = fileKeyR4(recovered, o, p, id0, r, keyLen,
            encryptMetadata)
          if (checkU(ownerKey, u, id0, r)) Some(Ctx(ownerKey, r, cfm))
          else None
        }
      }.collectFirst { case Some(c) => c }
    } catch { case _: Exception => None }
  }

  /** Algorithm 1: decrypt ONE stream's bytes (generation 0 — the only
    * form the extractor's object walk admits). AES-CBC data carries its
    * IV as the first 16 bytes; the PKCS#5-style pad is stripped
    * leniently (an invalid pad keeps the bytes — downstream filter
    * decode degrades per-stream as usual, never throws).
    */
  private[etl] def decryptStream(ctx: Ctx, objNum: Int,
                                 data: Array[Byte]): Option[Array[Byte]] = {
    try {
      ctx.cfm match {
        case "Identity" => // /StmF /Identity (or /CFM /None): streams
          Some(data)       // were never encrypted — pass through
        case "AESV3" =>
          if (data.length < 32 || data.length % 16 != 0) None
          else Some(stripPad(aesCbc(Cipher.DECRYPT_MODE, ctx.key,
            data.take(16), data.drop(16))))
        case "AESV2" =>
          val mk = md5(ctx.key, le(objNum.toLong, 3), le(0L, 2),
            Array(0x73, 0x41, 0x6C, 0x54).map(_.toByte))
          val ok = mk.take(math.min(ctx.key.length + 5, 16))
          if (data.length < 32 || data.length % 16 != 0) None
          else Some(stripPad(aesCbc(Cipher.DECRYPT_MODE, ok,
            data.take(16), data.drop(16))))
        case _ => // V2: RC4
          val mk = md5(ctx.key, le(objNum.toLong, 3), le(0L, 2))
          Some(rc4(mk.take(math.min(ctx.key.length + 5, 16)), data))
      }
    } catch { case _: Exception => None }
  }

  private def stripPad(b: Array[Byte]): Array[Byte] = {
    if (b.isEmpty) return b
    val n = b.last & 0xff
    if (n >= 1 && n <= 16 && n <= b.length &&
        b.takeRight(n).forall(x => (x & 0xff) == n)) b.dropRight(n)
    else b
  }
}
