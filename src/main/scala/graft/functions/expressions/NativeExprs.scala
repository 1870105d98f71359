// Hosted under org.apache.spark.sql so the expressions can use the
// private[sql] Catalyst surface (AbstractDataType, ExpressionUtils) — the
// standard packaging for out-of-tree Spark extensions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/hash hot paths. The built-in
  * higher-order functions (zip_with/aggregate/transform) evaluate their
  * lambda per element through interpreted NamedLambdaVariables — fine for
  * per-document work, ruinous inside an O(n²) similarity join. These
  * expressions produce identical VALUES to their higher-order formulations
  * (same double arithmetic order, same md5-derived bits — asserted in
  * NativeExprsSpec) so the DuckDB oracles are unchanged; only the evaluation
  * strategy differs.
  */
object NativeExprs {
  private def col(e: Expression): Column = ExpressionUtils.column(e)
  private def ex(c: Column): Expression = ExpressionUtils.expression(c)

  /** Codegen'd dot product over ARRAY<FLOAT> in double precision —
    * element-for-element identical to
    * aggregate(zip_with(a,b,(x,y)=>double(x)*double(y)),0.0,+).
    */
  def dotF32(a: Column, b: Column): Column = col(DotF32(ex(a), ex(b)))

  /** Best cosine anchor for an embedding over a row-resident codebook of
    * (anchor_id LONG, av ARRAY<FLOAT>, an DOUBLE norm) structs — returns
    * struct(score, anchor_id) with the highest score, ties to the lowest
    * anchor_id. Value-identical (NativeExprsSpec) to
    * array_max(transform(anchors, a -> struct(dot/(en*a.an), -a.anchor_id)))
    * including NaN-is-greatest double ordering; one compiled loop instead
    * of K interpreted lambda structs per row.
    */
  def bestAnchor(emb: Column, anchors: Column): Column =
    col(BestAnchor(ex(emb), ex(anchors)))

  /** Exact-integer nearest centroid by squared L2: v is a quantized LONG
    * vector, cents an array of struct(cid, cv) candidates; returns
    * struct(cid, d) for the minimum distance, ties to the lowest cid.
    * One compiled per-row loop — the integer twin of [[bestAnchor]]; the
    * K interpreted zip_with/aggregate lambdas it replaces cost ~0.5 µs
    * per element (measured on q77: 8.2 s → sub-second assignment).
    */
  def nearestCentroidL2(v: Column, cents: Column): Column =
    col(NearestCentroidL2(ex(v), ex(cents)))

  /** The k nearest centroids by the same (d ASC, cid ASC) total order as
    * [[nearestCentroidL2]], as an ASCENDING array<struct<cid, d>> — the
    * IVF ROUTING step (which nProbe cells a query fans out to), and at
    * k=2 the nearest distance plus the runner-up's (q80's assignment
    * margin) — one bounded-insertion per-row loop instead of a K-way
    * explode + per-query top-k aggregation. Fewer than k valid centroids
    * yield a shorter array; null/dimension-mismatch rules are
    * NearestCentroidL2's.
    */
  def nearestKCentroidsL2(v: Column, cents: Column, k: Int): Column =
    col(NearestKCentroidsL2(ex(v), ex(cents), k))

  /** Exact integer squared L2 between two ARRAY<LONG> vectors — the
    * codegen'd pair-distance twin of [[dotF32]] (null on null input,
    * length mismatch, or a null element; the same poison rules that make
    * HOF-form rewrites unconditionally safe).
    */
  def l2SqLong(a: Column, b: Column): Column = col(L2SqLong(ex(a), ex(b)))

  /** 32-bit md5 SimHash over a (distinct-ified by caller) token array —
    * value-identical to TextOps.simhash32 (one md5 per token instead of 8).
    */
  def simhash32(toks: Column): Column = col(Simhash32Expr(ex(toks)))

  /** MinHash signature: k minima of (a_i*h+b_i) mod P over a LONG hash
    * array, one pass — value-identical to MinHashLsh.signature.
    */
  def minhashSig(hashes: Column, k: Int, seed: Long = 42L): Column =
    col(MinHashSigExpr(ex(hashes), k, seed))

  /** First `hexDigits` hex chars of md5(input) as a non-negative LONG —
    * value-identical to conv(substring(md5(x),1,n),16,10).
    */
  def md5PrefixLong(c: Column, hexDigits: Int): Column =
    col(Md5PrefixLong(ex(c), hexDigits))

  /** A complex-typed literal column (`functions.lit` only covers atomic
    * types): embeds e.g. a driver-computed codebook directly in a
    * projection, so small reference data rides the plan instead of a
    * broadcast exchange (r17, the q77 literal-codebook path). Codegen
    * passes complex literals by REFERENCE, so the generated source is
    * identical across values of the same type — the codegen cache still
    * hits.
    */
  def complexLit(value: Any, dt: DataType): Column =
    col(org.apache.spark.sql.catalyst.expressions.Literal.create(value, dt))

  /** w-token shingles of a token array in one pass — value-identical to
    * TextOps.shinglesHof: transform(sequence(1, n-w+1),
    * i => concat_ws(" ", slice(toks, i, w))), empty when n < w.
    */
  def shingles(toks: Column, w: Int): Column = col(ShinglesExpr(ex(toks), w))

  /** First `hexDigits` hex chars of md5 of every element of ARRAY<STRING>
    * as ARRAY<LONG>, one pass — value-identical to
    * transform(arr, x => md5PrefixLong(x, hexDigits)).
    */
  def md5PrefixAll(arr: Column, hexDigits: Int): Column =
    col(Md5PrefixAll(ex(arr), hexDigits))

  /** Exact minor units of a DOUBLE money value: value-identical to
    * (cast(x AS DECIMAL(18,2)) * 100) CAST AS LONG for every in-range
    * value — the same shortest-representation HALF_UP rounding Spark's
    * double→decimal cast performs (BigDecimal.valueOf) — in ONE codegen'd
    * expression instead of a three-op decimal chain. Out-of-range/NaN
    * input yields NULL (the non-ANSI cast result; ANSI mode's cast throws
    * there — keeping this total makes it safe in aggregates over dirty
    * data, and no corpus money column is out of range).
    */
  def doubleCents(x: Column): Column = col(DoubleCentsExpr(ex(x), 2))

  /** [[doubleCents]] at an arbitrary decimal scale (minor units = x·10^scale,
    * HALF_UP at that scale) — value-identical to
    * (cast(x AS DECIMAL(18,scale)) * 10^scale) CAST AS LONG.
    */
  def doubleMinorUnits(x: Column, scale: Int): Column =
    col(DoubleCentsExpr(ex(x), scale))

  /** Fused shingle+md5 prefix pass: value-identical to
    * array_distinct(md5PrefixAll(shingles(toks, w), hexDigits)) without
    * ever materializing the shingle STRINGS — the digest is fed the token
    * bytes and separator directly, and token bytes are extracted once per
    * row instead of once per window. This is the hot path of the
    * Jaccard/MinHash family (millions of shingles per partition at scale).
    */
  def shingleMd5Prefixes(toks: Column, w: Int, hexDigits: Int): Column =
    col(ShingleMd5PrefixExpr(ex(toks), w, hexDigits))

  /** Fused shingle+md5 bottom-k: the k smallest DISTINCT md5 hex digests
    * of the w-token shingles, ascending — value-identical to
    * slice(array_sort(array_distinct(transform(shingles(toks, w),
    * s => md5(cast(s as binary))))), 1, k) — the q37 fingerprint in one
    * pass, no intermediate shingle strings, a bounded insertion buffer
    * over 16-byte digests (hex encoding is monotone in digest bytes, so
    * unsigned digest order IS hex-string order) instead of a full sort.
    */
  def shingleMd5BottomK(toks: Column, w: Int, k: Int): Column =
    col(ShingleMd5BottomKExpr(ex(toks), w, k))

  /** One-pass md5-minhash signature over a shingle-string array:
    * per permutation p, min md5 hex of `p || ':' || s` — the q83 LSH
    * signature kernel, value-identical to the nested-HOF form (see
    * [[LshMinSigExpr]]).
    */
  def lshMinSig(shs: Column, nPerms: Int): Column =
    col(LshMinSigExpr(ex(shs), nPerms))

  /** All anchor-tag href attribute values of an HTML document, in document
    * order — the S1/S2 listing parse (reference: scrape_pdf_links.py:12,
    * BeautifulSoup `a[href]` + the `.pdf` filter applied downstream) as a
    * distributed one-pass column function. Tokenizer-faithful: skips
    * comments and script/style CDATA, handles single/double/unquoted
    * attribute values and case-insensitive tag/attribute names, and
    * unescapes the common character references in values (semicolon-
    * terminated named amp/lt/gt/quot/apos/nbsp + numeric forms; exotic
    * named entities pass through verbatim — divergence documented and
    * irrelevant to URLs). Parity pinned against a stdlib-HTML-tokenizer
    * golden over the reference's own pages (TextOpsSpec).
    */
  def hrefs(html: Column): Column = col(HrefsExpr(ex(html)))

  /** Codegen'd `might_contain(filter, value)` over a LongType column using
    * Spark's own BloomFilterMightContain (the expression InjectRuntimeFilter
    * plants); `filterBytes` embeds as the constant-binary form it requires
    * outside a scalar subquery. Facade: graft.functions.BloomOps.
    */
  def bloomMightContainLong(filterBytes: Array[Byte], value: Column): Column =
    col(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(filterBytes, BinaryType),
      ex(value)))

  /** Occurrence count of tokens belonging to a fixed word set —
    * value-identical to size(filter(toks, t => t.isInCollection(words))).
    */
  def countInSet(toks: Column, words: Seq[String]): Column =
    col(CountInSetExpr(ex(toks), words))

  /** Single-pass language ID over fixed per-language stopword lists —
    * value-identical to the composed form (score each language with
    * countInSet, argmax with ties to the smallest code, 'und' when no list
    * scores > 0) but ONE token walk against a word→language-bitmask map
    * instead of |langs| countInSet evaluations plus the greatest/CASE
    * re-evaluations.
    */
  def langId(toks: Column, langs: Seq[(String, Seq[String])]): Column =
    col(LangIdExpr(ex(toks), langs))

  /** Bottom-k DISTINCT 60-bit md5 prefixes of every `w`-CHARACTER window
    * of the text, ascending — the oracle-able window fingerprint (each
    * window hash is exactly
    * `('0x' || substr(md5(substr(text, i, w)), 1, 15))::UBIGINT` in
    * DuckDB terms, so any engine with md5 can replay it). Windows advance
    * one character at a time; character boundaries are found in one byte
    * pre-scan, so multibyte text hashes the same windows SQL `substr`
    * selects. O(n·w) digest work per doc, but a bounded k-slot buffer:
    * output is k longs however long the document.
    */
  def md5WindowBottomK(text: Column, w: Int, k: Int): Column =
    col(Md5WindowBottomKExpr(ex(text), w, k))

  /** Random-hyperplane LSH bucket id: sign bits of the fixed projections
    * packed MSB-first into a LONG — value-identical to
    * VectorOps.hyperplaneBucketHof (same left-to-right double dot).
    */
  def hyperplaneBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    col(HyperplaneBucketExpr(ex(vec), planes.map(_.toSeq)))

  /** One-pass PII redaction: STRUCT(redacted, n_emails, n_nums) —
    * value-identical to the four-regex formulation
    *   regexp_replace(regexp_replace(text, EMAIL_RE, '<EMAIL>'), NUM_RE, '<NUM>'),
    *   regexp_count(text, EMAIL_RE), regexp_count(text, NUM_RE)
    * with EMAIL_RE = [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+ and NUM_RE = [0-9]{6,}
    * (asserted exhaustively in NativeExprsSpec), but in two branch-cheap
    * byte scans instead of four java.util.regex passes over every document.
    */
  def redact(text: Column): Column = col(RedactExpr(ex(text)))

  /** Count of maximal `[a-z0-9]+` runs — value-identical to
    * size(regexp_extract_all(text, '[a-z0-9]+', 0)): a greedy
    * single-class `+` match is exactly a maximal run, and the class is
    * ASCII so a UTF-8 byte scan is equivalent to a char scan. One pass,
    * no match-array materialization (the q36 BPE-ish token count).
    */
  def lowerAlnumRunCount(text: Column): Column =
    col(CharClassRunCountExpr(ex(text)))

  /** STRUCT(n_distinct, prefix): distinct-element count plus the k smallest
    * distinct elements ascending — value-identical to
    *   struct(size(array_distinct(arr)),
    *          slice(array_sort(array_distinct(arr)), 1, k))
    * including null handling (array_distinct keeps one null; array_sort
    * places it last, so it reaches the prefix only when fewer than k
    * distinct non-null elements exist). One hash+bounded-buffer pass
    * instead of distinct-ing twice and sorting the whole distinct set.
    */
  def distinctSortedPrefix(arr: Column, k: Int): Column =
    col(DistinctSortedPrefixExpr(ex(arr), k))

  /** Leftmost match of the reference's S12 year regex
    * \b(19[5-9]\d|20\d{2})\b (fetch_legal_docs.py:21-30), '' when absent —
    * value-identical to regexp_extract(text, ..., 1): the pattern is
    * fixed-width with ASCII word-boundaries, so a byte scan reproduces
    * java.util.regex and RE2 exactly (\w is ASCII [A-Za-z0-9_] in both
    * engines' default mode).
    */
  def yearExtract(text: Column): Column = col(YearExtractExpr(ex(text)))

  /** STRUCT(n_shingles, n_uniq): window count and DISTINCT count of the
    * w-token shingles, in one fused pass with no shingle strings ever
    * materialized — value-identical to
    *   struct(size(shingles(toks, w)),
    *          size(array_distinct(shingles(toks, w))))
    * up to md5-prefix collisions (~n²/2^61 per document — the same declared
    * tolerance as the q31 inverted index; the DuckDB oracle's string-keyed
    * distinct would surface any collision as a hash mismatch).
    */
  def shingleStats(toks: Column, w: Int): Column =
    col(ShingleStatsExpr(ex(toks), w))


  /** Top-level INT field of a JSON object string — value-identical to
    * from_json(s, STRUCT<key: INT>).key (PERMISSIVE mode) for every input
    * except objects whose KEY NAMES use \\u escapes (a "\\u006b" key is not
    * recognized as "k"; string VALUES with escapes, nested objects/arrays
    * and duplicate keys all behave identically — NativeExprsSpec pins the
    * parity set). Malformed JSON, a missing/null/float/string/overflowing
    * field all yield NULL exactly as the PERMISSIVE null-row does. One byte
    * scan, no Jackson tokenizer allocation per row.
    */
  def jsonIntField(s: Column, key: String): Column =
    col(JsonIntFieldExpr(ex(s), key))

  /** Count of q42-pattern email matches — value-identical to
    * regexp_count(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+') in one byte scan
    * with ZERO allocation (unlike [[redact]], which builds the redacted
    * string). The count-only form of the redaction kernel.
    */
  def piiEmailCount(s: Column): Column = col(PiiCountExpr(ex(s), 0))

  /** Count of maximal digit runs of length ≥ 6 — value-identical to
    * regexp_count(s, '[0-9]{6,}'), allocation-free.
    */
  def piiDigitRunCount(s: Column): Column = col(PiiCountExpr(ex(s), 1))

  /** Per-document token frequencies in ONE pass:
    * `array<struct<token string, tf int>>` with one entry per distinct
    * token of split(text, ' ') (Java-split semantics — empty tokens
    * included), tf = its occurrence count, entries in first-appearance
    * order. Value-identical (as a multiset) to
    * `explode(split(text,' ')) … groupBy(doc, token).count()` — but
    * computed inside the scan projection, so the raw token stream never
    * has to shuffle; only the already-reduced (token, tf) pairs do.
    */
  def tokenCounts(text: Column): Column = col(TokenCountsExpr(ex(text)))

  /** Prefix-doubling span-digest ladder: for every level k = 1..levels,
    * one digest per token span of length 2^k that fits in the document,
    * all levels flattened into a PRIMITIVE long array. Level-1 digests
    * are 60-bit md5 prefixes of the single tokens; level k+1 combines
    * each span's two half-span digests with a murmur3-style
    * non-commutative mix — so a length-64 span digests in log₂64 = 6
    * per-token operations instead of 64 (the suffix-array prefix-doubling
    * step, here row-local because spans never cross document bounds).
    * Each element PACKS the level (log₂ span_len, 3 bits) in bits 61..63
    * over the digest truncated to its low 61 bits; downstream recovers
    * `span_len = 1 << shiftrightunsigned(pk, 61)`. Equal spans ⇒ equal
    * digests by construction; distinct spans collide with ~2⁻⁶¹
    * probability per pair (the q31 digest-tolerance class — an actual
    * collision would surface as an oracle hash mismatch). Measured on
    * q73: a struct<span_len, digest> ladder's boxed InternalRow per span
    * plus the two-column group key were ~40 % of the query's wall — so
    * the explode carries 8 opaque bytes per span end to end.
    */
  def spanDigestLadderPacked(toks: Column, levels: Int): Column =
    col(SpanLadderPackedExpr(ex(toks), levels))

  /** Exact top-k (score DESC, tag ASC) aggregate — see [[TopKByScore]].
    * The scale path for "top k per group": bounded partial buffers with
    * map-side combine instead of a window's full shuffle-and-sort.
    */
  def topKByScore(score: Column, tag: Column, k: Int): Column =
    col(TopKByScore(ex(score), ex(tag), k).toAggregateExpression())
}

/** See [[NativeExprs.redact]]. Why a hand-rolled scanner can be exact: both
  * java.util.regex and DuckDB's RE2 resolve `L+@R+` (L = [A-Za-z0-9._%+-],
  * R = [A-Za-z0-9.-]) identically — '@' belongs to neither class, so at any
  * start position the only viable '@' is the one terminating the maximal
  * L-run, making the leftmost match "maximal L-run, '@', maximal R-run" with
  * the search resuming at the domain end; greedy `[0-9]{6,}` is simply every
  * maximal digit run of length ≥ 6. All classes are ASCII, so a UTF-8 byte
  * scan is equivalent to a char scan (multibyte sequences have the high bit
  * set and never match), and splices stay on UTF-8 boundaries.
  *
  * Replacement-order subtlety: the composed form counts BOTH patterns on
  * the ORIGINAL text but applies the digit replacement to the email-redacted
  * text. Digit runs can never straddle an email-match boundary (a digit
  * adjacent to the local part is IN the local part since [0-9] ⊂ L, and
  * likewise for the domain since [0-9] ⊂ R), so "digit runs of the
  * email-redacted text" = "digit runs of the original text lying outside
  * email matches" — which is what the segment-wise scan emits.
  */
case class RedactExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("redacted", StringType, nullable = false),
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_nums", IntegerType, nullable = false)))
  override def prettyName: String = "redact"

  private val EMAIL = "<EMAIL>".getBytes("US-ASCII")
  private val NUM = "<NUM>".getBytes("US-ASCII")

  import PiiScan.{inL, inR, digit}

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    var out = new Array[Byte](n + 16)
    var len = 0
    def ensure(extra: Int): Unit =
      if (len + extra > out.length)
        out = java.util.Arrays.copyOf(out, math.max(out.length * 2, len + extra))
    def emitRaw(from: Int, until: Int): Unit = {
      ensure(until - from)
      System.arraycopy(bytes, from, out, len, until - from)
      len += until - from
    }
    def emitLit(lit: Array[Byte]): Unit = {
      ensure(lit.length)
      System.arraycopy(lit, 0, out, len, lit.length)
      len += lit.length
    }
    // copy [from, until) replacing maximal digit runs >= 6 with <NUM>
    def emitSegment(from: Int, until: Int): Unit = {
      var i = from
      var flushed = from
      while (i < until) {
        if (digit(bytes(i))) {
          var j = i + 1
          while (j < until && digit(bytes(j))) j += 1
          if (j - i >= 6) { emitRaw(flushed, i); emitLit(NUM); flushed = j }
          i = j
        } else i += 1
      }
      emitRaw(flushed, until)
    }

    var nEmails = 0
    var segStart = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == '@' && i > segStart && inL(bytes(i - 1)) &&
          i + 1 < n && inR(bytes(i + 1))) {
        var ls = i - 1
        while (ls > segStart && inL(bytes(ls - 1))) ls -= 1
        emitSegment(segStart, ls)
        emitLit(EMAIL)
        nEmails += 1
        var de = i + 1
        while (de < n && inR(bytes(de))) de += 1
        i = de; segStart = de
      } else i += 1
    }
    emitSegment(segStart, n)

    // digit runs of the ORIGINAL text (email interiors included)
    val nNums = PiiScan.countDigitRuns(bytes)

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromBytes(java.util.Arrays.copyOf(out, len)),
                 nEmails, nNums))
  }

  override protected def withNewChildInternal(newChild: Expression): RedactExpr =
    copy(child = newChild)
}

/** Shared ASCII-class tables and the count-only scans of the redaction
  * kernel — same match semantics as [[RedactExpr]] (see its Scaladoc for
  * the exactness argument), without building any output.
  */
private[graft] object PiiScan {
  private def mkClass(extra: Seq[Char]): Array[Boolean] = {
    val t = new Array[Boolean](128)
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ extra).foreach(c => t(c) = true)
    t
  }
  // [A-Za-z0-9._%+-] / [A-Za-z0-9.-]
  private val isL = mkClass(Seq('.', '_', '%', '+', '-'))
  private val isR = mkClass(Seq('.', '-'))
  @inline def inL(b: Byte): Boolean = b >= 0 && isL(b)
  @inline def inR(b: Byte): Boolean = b >= 0 && isR(b)
  @inline def digit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** == regexp_count(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+') */
  def countEmails(input: UTF8String): Int = {
    val bytes = input.getBytes
    val n = bytes.length
    var c = 0
    var segStart = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == '@' && i > segStart && inL(bytes(i - 1)) &&
          i + 1 < n && inR(bytes(i + 1))) {
        c += 1
        var de = i + 1
        while (de < n && inR(bytes(de))) de += 1
        i = de; segStart = de
      } else i += 1
    }
    c
  }

  /** == regexp_count(s, '[0-9]{6,}') */
  def countDigitRuns(input: UTF8String): Int = countDigitRuns(input.getBytes)

  def countDigitRuns(bytes: Array[Byte]): Int = {
    var c = 0
    var run = 0
    var i = 0
    while (i < bytes.length) {
      if (digit(bytes(i))) run += 1
      else { if (run >= 6) c += 1; run = 0 }
      i += 1
    }
    if (run >= 6) c += 1
    c
  }
}

/** Count-only form of the redaction kernel (kind 0 = email matches,
  * kind 1 = ≥6-digit runs) — what the NativizeHofRule regexp_count
  * rewrites target, so a count-only query never pays for building the
  * redacted string.
  */
case class PiiCountExpr(child: Expression, kind: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(kind == 0 || kind == 1)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String =
    if (kind == 0) "pii_email_count" else "pii_digit_run_count"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (kind == 0) PiiScan.countEmails(s) else PiiScan.countDigitRuns(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = PiiScan.getClass.getName.stripSuffix("$") + "$.MODULE$"
      val m = if (kind == 0) "countEmails" else "countDigitRuns"
      s"${ev.value} = $helper.$m($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): PiiCountExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.jsonIntField]]. */
case class JsonIntFieldExpr(child: Expression, key: String)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "json_int_field"

  @transient private lazy val keyBytes = key.getBytes("UTF-8")

  override protected def nullSafeEval(input: Any): Any =
    scan(input.asInstanceOf[UTF8String])

  // generated code calls this directly (boxed Integer or null), keeping the
  // projection inside whole-stage codegen instead of a CodegenFallback row
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("jsonIntField", this)
      val r = ctx.freshName("r")
      s"""
        Object $r = $ref.scan($c);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((Integer) $r).intValue(); }
      """
    })

  def scan(input: UTF8String): Any = {
    val b = input.getBytes
    val n = b.length
    var i = 0
    @inline def ws(): Unit = {
      while (i < n && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1
    }
    // skip a string body (opening quote consumed); false on malformed
    def skipString(): Boolean = {
      while (i < n) {
        val c = b(i)
        if (c == '\\') i += 2
        else if (c == '"') { i += 1; return true }
        else i += 1
      }
      false
    }
    // skip any JSON value; false on malformed. Tracks the EXPECTED CLOSER
    // per container level (not a bare depth count — `{]` must be rejected,
    // as Jackson's tokenizer does), string-aware so braces inside strings
    // don't count.
    def skipValue(): Boolean = {
      if (i >= n) return false
      b(i) match {
        case '"' => i += 1; skipString()
        case '{' | '[' =>
          var closers = new Array[Byte](16) // expected closer per level
          var depth = 0
          while (i < n) {
            b(i) match {
              case c @ ('{' | '[') =>
                if (depth == closers.length)
                  closers = java.util.Arrays.copyOf(closers, depth * 2)
                closers(depth) = if (c == '{') '}' else ']'
                depth += 1; i += 1
              case c @ ('}' | ']') =>
                depth -= 1
                if (depth < 0 || closers(depth) != c) return false
                i += 1; if (depth == 0) return true
              case '"' => i += 1; if (!skipString()) return false
              case _ => i += 1
            }
          }
          false
        case 't' => if (n - i >= 4 && b(i+1)=='r' && b(i+2)=='u' && b(i+3)=='e') { i += 4; true } else false
        case 'f' => if (n - i >= 5 && b(i+1)=='a' && b(i+2)=='l' && b(i+3)=='s' && b(i+4)=='e') { i += 5; true } else false
        case 'n' => if (n - i >= 4 && b(i+1)=='u' && b(i+2)=='l' && b(i+3)=='l') { i += 4; true } else false
        case c if c == '-' || (c >= '0' && c <= '9') =>
          // STRICT JSON number grammar — a malformed number (e.g. leading
          // zeros) is a tokenizer error in Jackson and nulls the whole row
          if (b(i) == '-') i += 1
          if (i >= n || b(i) < '0' || b(i) > '9') return false
          if (b(i) == '0') i += 1
          else while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
          if (i < n && b(i) >= '0' && b(i) <= '9') return false // 0 then digit
          if (i < n && b(i) == '.') {
            i += 1
            if (i >= n || b(i) < '0' || b(i) > '9') return false
            while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
          }
          if (i < n && (b(i) == 'e' || b(i) == 'E')) {
            i += 1
            if (i < n && (b(i) == '+' || b(i) == '-')) i += 1
            if (i >= n || b(i) < '0' || b(i) > '9') return false
            while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
          }
          true
        case _ => false
      }
    }
    // parse an INT value at the cursor: Some(v) on a pure in-range integer,
    // None otherwise (caller yields NULL — the PERMISSIVE outcome for
    // null/float/string/overflow) — but the VALUE must still be skipped by
    // the caller via the returned new position having consumed it.
    def parseInt(): (Boolean, Int) = { // (isPureInt, value)
      val start = i
      var neg = false
      if (i < n && b(i) == '-') { neg = true; i += 1 }
      val dStart = i
      var v = 0L
      while (i < n && b(i) >= '0' && b(i) <= '9' && v <= Int.MaxValue.toLong + 1) {
        v = v * 10 + (b(i) - '0'); i += 1
      }
      val more = i < n && ((b(i) >= '0' && b(i) <= '9') || b(i) == '.' ||
        b(i) == 'e' || b(i) == 'E')
      val nd = i - dStart
      // leading zeros (invalid JSON) and empty digit runs fall to not-pure;
      // the caller then treats the document as malformed/unsupported → null
      val leadingZero = nd > 1 && b(dStart) == '0'
      val signed = if (neg) -v else v
      if (!more && nd > 0 && !leadingZero &&
          signed >= Int.MinValue.toLong && signed <= Int.MaxValue.toLong)
        (true, signed.toInt)
      else { i = start; (false, 0) }
    }

    // PERMISSIVE-parity error model (pinned empirically in NativeExprsSpec):
    // - STRUCTURAL malformedness inside the object (bad token, missing
    //   ':'/',', invalid number form like 007) nulls the WHOLE row.
    // - A field-level CONVERSION failure (string/float/bool/container/
    //   overflow where an int is expected) skips just that assignment —
    //   parsing continues and the previously-set value survives.
    // - A `null` literal sets the field null and parsing continues.
    // - Bytes after the root object's '}' are never read.
    ws()
    if (i >= n || b(i) != '{') return null
    i += 1
    var result: Any = null
    ws()
    if (i < n && b(i) == '}') return result
    var done = false
    while (!done) {
      ws()
      if (i >= n || b(i) != '"') return null
      i += 1
      val kStart = i
      var escaped = false
      while (i < n && b(i) != '"') {
        if (b(i) == '\\') { escaped = true; i += 2 } else i += 1
      }
      if (i >= n) return null
      val isKey = !escaped && i - kStart == keyBytes.length && {
        var j = 0; var eq = true
        while (eq && j < keyBytes.length) {
          if (b(kStart + j) != keyBytes(j)) eq = false; j += 1
        }
        eq
      }
      i += 1 // closing quote
      ws()
      if (i >= n || b(i) != ':') return null
      i += 1; ws()
      if (isKey) {
        val (pure, v) = parseInt()
        if (pure) result = v
        else if (i + 3 < n && b(i) == 'n' && b(i + 1) == 'u' &&
                 b(i + 2) == 'l' && b(i + 3) == 'l') {
          result = null; i += 4 // explicit null: field null, parse continues
        }
        // conversion failure: value must still be structurally valid JSON
        else if (!skipValue()) return null
      } else if (!skipValue()) return null
      ws()
      if (i < n && b(i) == ',') i += 1
      else if (i < n && b(i) == '}') done = true
      else return null
    }
    result
  }

  override protected def withNewChildInternal(newChild: Expression): JsonIntFieldExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.shingleStats]]. */
case class ShingleStatsExpr(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  require(w >= 1)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_shingles", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false)))
  override def prettyName: String = "shingle_stats"

  // shinglesHof parity: NULL token array -> empty shingle set -> (0, 0)
  override def nullable: Boolean = false
  private def zero =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](0, 0))
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) zero else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < w) return zero
    val seen = new java.util.HashSet[java.lang.Long](1 << 10)
    ShingleMd5.foreachDigest(arr, w)(d => seen.add(Md5.prefixLong(d, 15)))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n - w + 1, seen.size))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleStatsExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.distinctSortedPrefix]]. */
case class DistinctSortedPrefixExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  require(k >= 1)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("prefix", ArrayType(StringType))))
  override def prettyName: String = "distinct_sorted_prefix"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val seen = new java.util.HashSet[UTF8String](math.min(n * 2, 1 << 16))
    var sawNull = false
    // bounded ascending buffer of the k smallest DISTINCT non-null elements
    val buf = new Array[UTF8String](k)
    var size = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) sawNull = true
      else {
        val t = arr.getUTF8String(i)
        if (seen.add(t)) {
          if (size < k || t.compareTo(buf(size - 1)) < 0) {
            var lo = 0; var hi = size
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (buf(mid).compareTo(t) < 0) lo = mid + 1 else hi = mid
            }
            val end = math.min(size, k - 1)
            var j = end
            while (j > lo) { buf(j) = buf(j - 1); j -= 1 }
            buf(lo) = t
            if (size < k) size += 1
          }
        }
      }
      i += 1
    }
    // array_distinct keeps one null; array_sort places it LAST
    val extra = if (sawNull && size < k) 1 else 0
    val prefix = new Array[Any](size + extra)
    var j = 0
    while (j < size) { prefix(j) = buf(j); j += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](seen.size + (if (sawNull) 1 else 0),
                 new GenericArrayData(prefix)))
  }

  override protected def withNewChildInternal(newChild: Expression): DistinctSortedPrefixExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.yearExtract]]. Java's \b is Unicode-aware even without
  * UNICODE_CHARACTER_CLASS (a non-ASCII letter is a word char for boundary
  * purposes), so the ASCII byte scan is exact only while every candidate's
  * neighbours are ASCII; the first candidate that abuts a non-ASCII byte
  * delegates the whole row to java.util.regex — bit-for-bit parity with
  * regexp_extract at every input, fast path on ASCII-neighboured text.
  */
case class YearExtractExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with RowKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "year_extract"

  override protected def nullSafeEval(input: Any): Any =
    YearScan.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = YearScan.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.extract($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): YearExtractExpr =
    copy(child = newChild)
}

/** Static scan core of [[YearExtractExpr]] — called from generated code. */
object YearScan {
  @inline private def digit(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def word(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') || digit(b) || b == '_'
  private val EMPTY = UTF8String.EMPTY_UTF8
  private val pattern =
    java.util.regex.Pattern.compile("\\b(19[5-9]\\d|20\\d{2})\\b")

  def extract(input: UTF8String): UTF8String = {
    val bytes = input.getBytes
    val n = bytes.length
    var i = 0
    while (i + 4 <= n) {
      val hit =
        (bytes(i) == '1' && bytes(i + 1) == '9' &&
          bytes(i + 2) >= '5' && bytes(i + 2) <= '9' && digit(bytes(i + 3))) ||
        (bytes(i) == '2' && bytes(i + 1) == '0' &&
          digit(bytes(i + 2)) && digit(bytes(i + 3)))
      if (hit) {
        if ((i > 0 && bytes(i - 1) < 0) || (i + 4 < n && bytes(i + 4) < 0)) {
          // non-ASCII neighbour: only java regex knows its word-ness
          val m = pattern.matcher(input.toString)
          return if (m.find()) UTF8String.fromString(m.group(1)) else EMPTY
        }
        if ((i == 0 || !word(bytes(i - 1))) &&
            (i + 4 == n || !word(bytes(i + 4)))) {
          return UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(bytes, i, i + 4))
        }
      }
      i += 1
    }
    EMPTY
  }
}

/** See [[NativeExprs.lowerAlnumRunCount]]. */
case class CharClassRunCountExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with RowKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lower_alnum_run_count"

  override protected def nullSafeEval(input: Any): Any =
    CharClassRunCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = CharClassRunCount.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"${ev.value} = $helper.count($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): CharClassRunCountExpr =
    copy(child = newChild)
}

/** Static scan core of [[CharClassRunCountExpr]] — called from generated code. */
object CharClassRunCount {
  @inline private def in(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  def count(input: UTF8String): Int = {
    val bytes = input.getBytes
    var c = 0
    var prev = false
    var i = 0
    while (i < bytes.length) {
      val cur = in(bytes(i))
      if (cur && !prev) c += 1
      prev = cur
      i += 1
    }
    c
  }
}

/** Bounded distinct-bottom-k insertion buffer over LONGS, ascending — the
  * primitive twin of [[DigestBottomK]], the md5-window fingerprint's
  * k-slot buffer.
  */
private[graft] final class LongBottomK(k: Int) {
  private val buf = new Array[Long](k)
  private var size = 0

  def offer(h: Long): Unit = {
    if (size == k && h >= buf(size - 1)) return
    // binary search for insertion point; skip duplicates
    var lo = 0; var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (buf(mid) < h) lo = mid + 1 else hi = mid
    }
    if (lo < size && buf(lo) == h) return
    val end = math.min(size, k - 1)
    var i = end
    while (i > lo) { buf(i) = buf(i - 1); i -= 1 }
    buf(lo) = h
    if (size < k) size += 1
  }

  def toArrayData(): GenericArrayData =
    new GenericArrayData(java.util.Arrays.copyOf(buf, size))
}

/** See [[NativeExprs.md5WindowBottomK]]. The window is `w` CHARACTERS (so
  * the hashed bytes are exactly the UTF-8 encoding of SQL
  * `substr(text, i, w)` for every i) — boundaries come from one byte
  * pre-scan for non-continuation bytes; on ASCII text the index is the
  * identity. Each window digest feeds a reused MessageDigest; the 60-bit
  * prefix (15 hex digits, always non-negative) goes through a
  * [[LongBottomK]] bounded distinct-bottom-k insertion buffer.
  */
case class Md5WindowBottomKExpr(child: Expression, w: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  require(w >= 1 && k >= 1)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_window_bottom_k"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    // char-start byte offsets (a UTF-8 char start is any non-0b10xxxxxx
    // byte), plus a sentinel at n so window end offsets read uniformly
    var nChars = 0
    var b = 0
    while (b < n) { if ((bytes(b) & 0xc0) != 0x80) nChars += 1; b += 1 }
    if (nChars < w) return new GenericArrayData(Array.empty[Long])
    val starts = new Array[Int](nChars + 1)
    var ci = 0
    b = 0
    while (b < n) {
      if ((bytes(b) & 0xc0) != 0x80) { starts(ci) = b; ci += 1 }
      b += 1
    }
    starts(nChars) = n
    val bottom = new LongBottomK(k)
    val md = Md5.raw()
    var i = 0
    while (i + w <= nChars) {
      md.reset()
      md.update(bytes, starts(i), starts(i + w) - starts(i))
      bottom.offer(Md5.prefixLong(md.digest(), 15))
      i += 1
    }
    bottom.toArrayData()
  }

  override protected def withNewChildInternal(newChild: Expression): Md5WindowBottomKExpr =
    copy(child = newChild)
}

case class HyperplaneBucketExpr(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"

  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val nBits = planeArr.length
    // HOF parity (ADVICE r1): zip_with null-pads a length mismatch and a
    // null element null-poisons the whole fold, so the HOF projection is
    // NULL and `when(proj >= 0, bit)` emits bit 0. Match that exactly:
    // ragged or null-element vectors project to 0 for every plane.
    var poisoned = false
    var i = 0
    val vn = v.numElements()
    while (i < vn && !poisoned) { if (v.isNullAt(i)) poisoned = true; i += 1 }
    var bucket = 0L
    var p = 0
    while (p < nBits) {
      val plane = planeArr(p)
      if (!poisoned && vn == plane.length) {
        var s = 0.0
        var j = 0
        while (j < vn) { s += v.getFloat(j).toDouble * plane(j); j += 1 }
        if (s >= 0) bucket |= 1L << (nBits - 1 - p)
      }
      p += 1
    }
    bucket
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

case class CountInSetExpr(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in_set"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null && set.contains(t)) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSetExpr =
    copy(child = newChild)
}

case class LangIdExpr(child: Expression, langs: Seq[(String, Seq[String])])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  require(langs.nonEmpty && langs.size <= 30)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  // code order = tie-break order (smallest code wins), same as the CASE
  // chain in the composed formulation
  @transient private lazy val sortedLangs = langs.sortBy(_._1)
  @transient private lazy val names: Array[UTF8String] =
    sortedLangs.map(l => UTF8String.fromString(l._1)).toArray
  // word → bitmask of languages whose stopword list contains it (words can
  // be shared across languages, e.g. "de"/"la"/"un" in es+fr)
  @transient private lazy val mask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    sortedLangs.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        m.merge(k, Integer.valueOf(1 << i), (a, b) => Integer.valueOf(a | b))
      }
    }
    m
  }
  @transient private lazy val und = UTF8String.fromString("und")

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](names.length)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        val m = mask.get(t)
        if (m != null) {
          var bits = m.intValue()
          while (bits != 0) {
            val b = java.lang.Integer.numberOfTrailingZeros(bits)
            counts(b) += 1
            bits &= bits - 1
          }
        }
      }
      i += 1
    }
    var top = 0
    var j = 0
    while (j < counts.length) { if (counts(j) > top) top = counts(j); j += 1 }
    if (top == 0) und
    else {
      var k = 0
      while (counts(k) != top) k += 1
      names(k)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

case class ShinglesExpr(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  require(w >= 1)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  private val SPACE = UTF8String.fromString(" ")

  // HOF parity (ADVICE r1): shinglesHof's `when(size(null) >= w, …)` falls
  // through to the empty-array branch on a NULL token array — so does this.
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Any]) else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - w + 1)
    var i = 0
    while (i <= n - w) {
      // concat_ws semantics: null tokens are SKIPPED (not emitted as null)
      val parts = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      var j = 0
      while (j < w) {
        val t = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        if (t != null) {
          if (parts.nonEmpty) parts += SPACE
          parts += t
        }
        j += 1
      }
      out(i) = UTF8String.concat(parts.toSeq: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

case class Md5PrefixAll(child: Expression, hexDigits: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(hexDigits >= 1 && hexDigits <= 15, "long holds at most 15 hex digits")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "md5_prefix_all"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      // null element -> null element, matching transform(arr, md5PrefixLong)
      out(i) = if (arr.isNullAt(i)) null
      else Md5.prefixLong(Md5.digest(arr.getUTF8String(i).getBytes), hexDigits)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixAll =
    copy(child = newChild)
}

/** Static helper the generated code calls — keeps doGenCode a one-liner
  * and the semantics in exactly one place.
  */
object DoubleCents {
  private val MAX_UNSCALED = 999999999999999999L // 18 nines = DECIMAL(18,s) bound
  private val POW = Array.tabulate(9)(i => math.pow(10, i))

  /** @return minor units at `scale`, or Long.MinValue as the NULL sentinel */
  def cents(d: Double, scale: Int): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      return Long.MinValue
    // Fast path, Double.toString-free: when d IS exactly c·10^-scale for
    // some integer c, its shortest representation has ≤ `scale` decimals
    // and HALF_UP at that scale returns c. The reconstruction check
    // (c / pow == d, exact) proves we are in that case — every boundary
    // that could round differently (true .5 halves, shorter-repr
    // ambiguity) fails the check and falls through to the exact slow
    // path. Magnitude guard keeps pow·ulp(d) < 1 so the integer c is
    // unambiguous. Real money corpora are 100% fast-path.
    val pow = POW(scale)
    if (math.abs(d) < 4.0e15 / pow) {
      val c = Math.round(d * pow)
      if (c.toDouble / pow == d) return c
    }
    // BigDecimal.valueOf = new BigDecimal(Double.toString(d)) — the same
    // shortest-representation path Spark's Cast(double → decimal) takes
    val bd = java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
    val unscaled = bd.unscaledValue()
    if (unscaled.bitLength() > 62) return Long.MinValue // fast reject
    val v = unscaled.longValueExact()
    if (v > MAX_UNSCALED || v < -MAX_UNSCALED) Long.MinValue else v
  }
}

case class DoubleCentsExpr(child: Expression, scale: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(scale >= 0 && scale <= 8)
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "double_cents"

  override protected def nullSafeEval(input: Any): Any = {
    val v = DoubleCents.cents(input.asInstanceOf[Double], scale)
    if (v == Long.MinValue) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = DoubleCents.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""
        ${ev.value} = $helper.cents($c, $scale);
        if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; ${ev.value} = 0L; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): DoubleCentsExpr =
    copy(child = newChild)
}

case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f32"

  // Semantics are EXACTLY aggregate(zip_with(a,b,(x,y)=>dbl(x)*dbl(y)),0.0,+):
  // unequal lengths (zip_with null-pads) or a null element poison the sum to
  // NULL. This is what makes the NativizeHofRule rewrite unconditionally safe.
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val s = ctx.freshName("s")
    val ok = ctx.freshName("ok")
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${l.isNull} && !${r.isNull} &&
          ${l.value}.numElements() == ${r.value}.numElements()) {
        int $n = ${l.value}.numElements();
        double $s = 0.0;
        boolean $ok = true;
        for (int $i = 0; $i < $n; $i++) {
          if (${l.value}.isNullAt($i) || ${r.value}.isNullAt($i)) { $ok = false; break; }
          $s += (double) ${l.value}.getFloat($i) * (double) ${r.value}.getFloat($i);
        }
        if ($ok) { ${ev.isNull} = false; ${ev.value} = $s; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF32 =
    copy(left = newLeft, right = newRight)
}

/** Codebook argmax for q61: scan a row-resident anchor array once and keep
  * the highest-cosine anchor. The per-ELEMENT interpreted-lambda overhead
  * of the array_max(transform(...)) formulation (~0.7 µs × N·K evals —
  * measured 0.35 s of q61's wall at sf0.1) collapses into one compiled
  * loop; CodegenFallback is deliberate and harmless here because the
  * expression evaluates once per ROW (N calls, each doing the K·d work
  * internally), unlike the per-element lambdas it replaces.
  *
  * Semantics pinned by NativeExprsSpec against the HOF form: double
  * left-to-right dot over widened floats (DotF32 order), score =
  * dot / (sqrt(dot(e,e)) · a.an), java.lang.Double.compare ordering (NaN
  * greatest, matching Spark's struct max and DuckDB's DESC sort), ties →
  * lowest anchor_id, NULL for a null/empty input or when no anchor
  * matches the embedding's dimensionality (mismatched anchors are
  * skipped, as zip_with's null-pad would poison their score to NULL).
  */
case class BestAnchor(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(FloatType),
    ArrayType(StructType(Seq(
      StructField("anchor_id", LongType),
      StructField("av", ArrayType(FloatType)),
      StructField("an", DoubleType)))))
  override def dataType: DataType = StructType(Seq(
    StructField("score", DoubleType),
    StructField("anchor_id", LongType)))
  override def nullable: Boolean = true
  override def prettyName: String = "best_anchor"

  // Decoded-codebook cache (r14, DevQ61 dissection): the anchors argument
  // is a constant per query (broadcast 1-row subquery or literal), but
  // the per-row loop re-read it ELEMENT-WISE through ArrayData getters —
  // an isNullAt+getFloat virtual-dispatch pair per element per row,
  // ~2·K·d indirections that dominated q61's wall (scoring_only ≈ full
  // query in the decomposition). Decode ONCE into primitive arrays; rows
  // then run a pure float[]-dot inner loop the JIT auto-vectorizes.
  // HIT RULE (r14 review): these functions are on the extension's public
  // SQL surface, so "constant per query" cannot be assumed — a per-row
  // codebook column after a shuffle is deserialized into a REUSED buffer
  // whose (base, offset, length) recur with different contents. An
  // Unsafe-backed argument therefore hits only after a BYTE-EQUALITY
  // check against a kept copy of the backing region (one vectorized
  // memcmp per row — ~10× cheaper than the getter decode it replaces,
  // and a genuinely-varying codebook just decodes per row, never reads
  // stale data). Non-Unsafe arguments (a Literal's GenericArrayData —
  // the same immutable object every eval) hit on reference identity.
  // Expressions are deserialized per task (no cross-thread sharing), so
  // the mutable fields need no synchronization — the established
  // stateful-expression pattern.
  @transient private lazy val cacheKey = new CodebookCacheKey
  @transient private var cachedIds: Array[Long] = _
  @transient private var cachedVecs: Array[Array[Float]] = _ // null = skip
  @transient private var cachedNorms: Array[Double] = _

  private def decodeAnchors(arr: ArrayData): Unit = {
    val m = arr.numElements()
    val ids = new Array[Long](m)
    val vecs = new Array[Array[Float]](m)
    val norms = new Array[Double](m)
    var k = 0
    while (k < m) {
      if (!arr.isNullAt(k)) {
        val a = arr.getStruct(k, 3)
        if (!a.isNullAt(0) && !a.isNullAt(1) && !a.isNullAt(2)) {
          val av = a.getArray(1)
          val d = av.numElements()
          var ok = true
          val vec = new Array[Float](d)
          var j = 0
          while (j < d) {
            if (av.isNullAt(j)) { ok = false; j = d }
            else { vec(j) = av.getFloat(j); j += 1 }
          }
          if (ok) {
            ids(k) = a.getLong(0); vecs(k) = vec; norms(k) = a.getDouble(2)
          }
        }
      }
      k += 1
    }
    cachedIds = ids; cachedVecs = vecs; cachedNorms = norms
  }

  override def eval(input: InternalRow): Any = {
    val e = left.eval(input)
    if (e == null) return null
    val as = right.eval(input)
    if (as == null) return null
    val v = e.asInstanceOf[ArrayData]
    val arr = as.asInstanceOf[ArrayData]
    val n = v.numElements()
    // copy the query vector to primitives once: it is read 1 + K times
    val q = new Array[Float](n)
    var i = 0
    var ss = 0.0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = v.getFloat(i)
      q(i) = x
      ss += x.toDouble * x.toDouble
      i += 1
    }
    val en = math.sqrt(ss)
    if (!cacheKey.hit(arr)) {
      decodeAnchors(arr)
      cacheKey.remember(arr) // AFTER the decode: a throwing decode must
    }                        // not register the new key over stale arrays
    var found = false
    var bestScore = 0.0
    var bestId = 0L
    val m = cachedVecs.length
    var k = 0
    while (k < m) {
      val av = cachedVecs(k)
      if (av != null && av.length == n) {
        var d = 0.0
        var j = 0
        while (j < n) {
          d += q(j).toDouble * av(j).toDouble
          j += 1
        }
        val score = d / (en * cachedNorms(k))
        val id = cachedIds(k)
        val c = if (found) java.lang.Double.compare(score, bestScore) else 1
        if (c > 0 || (c == 0 && id < bestId)) {
          found = true; bestScore = score; bestId = id
        }
      }
      k += 1
    }
    if (!found) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestScore, bestId))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BestAnchor =
    copy(left = newLeft, right = newRight)
}

/** Content-verified cache key for a per-query-constant codebook argument
  * (r14 review — THE shared helper; BestAnchor and the integer-L2 family
  * had diverged on remember-ordering). The functions are on the
  * extension's public SQL surface, so constancy is VERIFIED per row, not
  * assumed: an Unsafe-backed argument hits only after a byte-equality
  * memcmp against a kept copy of the backing region (a per-row varying
  * codebook deserialized into a reused buffer recurs with identical
  * (base, offset, length) but different contents); a non-Unsafe argument
  * (a Literal's immutable GenericArrayData — the same object every eval)
  * hits on reference identity. Callers MUST decode first and call
  * [[remember]] after — a throwing decode then leaves the OLD key over
  * the old arrays instead of registering the new key over stale ones.
  * Expressions are deserialized per task — no cross-thread sharing.
  */
private[graft] final class CodebookCacheKey {
  private var ref: AnyRef = _
  private var bytes: Array[Byte] = _

  def hit(arr: ArrayData): Boolean = arr match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      bytes != null && bytes.length == u.getSizeInBytes &&
        org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
          u.getBaseObject, u.getBaseOffset,
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bytes.length.toLong)
    case other => other.asInstanceOf[AnyRef] eq ref
  }

  def remember(arr: ArrayData): Unit = arr match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      val copy = new Array[Byte](u.getSizeInBytes)
      org.apache.spark.unsafe.Platform.copyMemory(
        u.getBaseObject, u.getBaseOffset,
        copy, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        copy.length.toLong)
      bytes = copy; ref = null
    case other => ref = other.asInstanceOf[AnyRef]; bytes = null
  }
}

/** Decoded-codebook cache for the integer-L2 kernel family (r14 — the
  * [[BestAnchor]] pattern applied to struct(cid, cv) centroid arrays):
  * the centroids argument is constant per query, but reading it through
  * ArrayData getters costs an isNullAt+getLong dispatch pair per element
  * per row. Decode once into primitive arrays (`centVecs(k) = null`
  * marks a skipped candidate: null struct, null cid/cv, or a null
  * element — it can never win). Hit/miss semantics live in
  * [[CodebookCacheKey]]; a miss just re-decodes — correctness never
  * depends on the cache.
  */
trait CachedCentroidCodebook {
  @transient private lazy val key = new CodebookCacheKey
  @transient protected var centIds: Array[Int] = _
  @transient protected var centVecs: Array[Array[Long]] = _

  protected def ensureCentroids(arr: ArrayData): Unit = {
    if (key.hit(arr)) return
    val m = arr.numElements()
    val ids = new Array[Int](m)
    val vecs = new Array[Array[Long]](m)
    var k = 0
    while (k < m) {
      if (!arr.isNullAt(k)) {
        val c = arr.getStruct(k, 2)
        if (!c.isNullAt(0) && !c.isNullAt(1)) {
          val cv = c.getArray(1)
          val d = cv.numElements()
          val vec = new Array[Long](d)
          var ok = true
          var j = 0
          while (j < d) {
            if (cv.isNullAt(j)) { ok = false; j = d }
            else { vec(j) = cv.getLong(j); j += 1 }
          }
          if (ok) { ids(k) = c.getInt(0); vecs(k) = vec }
        }
      }
      k += 1
    }
    centIds = ids; centVecs = vecs
    key.remember(arr) // after the decode — CodebookCacheKey's contract
  }

  /** The query vector as primitives (read K times in the loops), or null
    * when any element is null (the family's poison rule).
    */
  protected def primVec(v: ArrayData): Array[Long] = {
    val n = v.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      q(i) = v.getLong(i)
      i += 1
    }
    q
  }

  /** Exact integer squared L2 of two same-length vectors — the family's
    * one distance loop.
    */
  protected final def sqL2(q: Array[Long], cv: Array[Long]): Long = {
    var d = 0L
    var j = 0
    while (j < q.length) {
      val diff = q(j) - cv(j)
      d += diff * diff
      j += 1
    }
    d
  }
}

/** See [[NativeExprs.nearestCentroidL2]]. Argmin by (d ASC, cid ASC) over
  * exact integer squared-L2 — no float enters, so the result is
  * bit-deterministic across engines/partitionings by construction. A
  * centroid with a null/length-mismatched vector is skipped (it cannot
  * win); null input vector or element → null result.
  */
case class NearestCentroidL2(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback
    with CachedCentroidCodebook with RowKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(LongType),
    ArrayType(StructType(Seq(
      StructField("cid", IntegerType),
      StructField("cv", ArrayType(LongType))))))
  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType),
    StructField("d", LongType)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_l2"

  override def eval(input: InternalRow): Any = {
    val e = left.eval(input)
    if (e == null) return null
    val cs = right.eval(input)
    if (cs == null) return null
    val q = primVec(e.asInstanceOf[ArrayData])
    if (q == null) return null
    val n = q.length
    ensureCentroids(cs.asInstanceOf[ArrayData])
    var found = false
    var bestD = 0L
    var bestId = 0
    val m = centVecs.length
    var k = 0
    while (k < m) {
      val cv = centVecs(k)
      if (cv != null && cv.length == n) {
        val d = sqL2(q, cv)
        val id = centIds(k)
        if (!found || d < bestD || (d == bestD && id < bestId)) {
          found = true; bestD = d; bestId = id
        }
      }
      k += 1
    }
    if (!found) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestId, bestD))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidL2 =
    copy(left = newLeft, right = newRight)
}

/** See [[NativeExprs.nearestKCentroidsL2]]. Bounded k-slot insertion under
  * the (d, cid) total order — the generalization of [[NearestCentroidL2]]
  * (k=1); output ascending so result(0) IS NearestCentroidL2's winner and,
  * at k=2, result(1).d is the runner-up distance (q80's margin; a tie on d
  * gives d2 = d). Same candidate skip/null rules.
  */
case class NearestKCentroidsL2(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback
    with CachedCentroidCodebook {
  require(k >= 1 && k <= 1024, "k out of range")
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(LongType),
    ArrayType(StructType(Seq(
      StructField("cid", IntegerType),
      StructField("cv", ArrayType(LongType))))))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cid", IntegerType),
      StructField("d", LongType))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_k_centroids_l2"

  override def eval(input: InternalRow): Any = {
    val e = left.eval(input)
    if (e == null) return null
    val cs = right.eval(input)
    if (cs == null) return null
    val q = primVec(e.asInstanceOf[ArrayData])
    if (q == null) return null
    val n = q.length
    ensureCentroids(cs.asInstanceOf[ArrayData])
    // sorted insertion buffers: (d, cid) ascending, at most k entries
    val bd = new Array[Long](k)
    val bc = new Array[Int](k)
    var size = 0
    val m = centVecs.length
    var kk = 0
    while (kk < m) {
      val cv = centVecs(kk)
      if (cv != null && cv.length == n) {
        val d = sqL2(q, cv)
        val id = centIds(kk)
        if (size < k || d < bd(size - 1) ||
            (d == bd(size - 1) && id < bc(size - 1))) {
          var lo = 0; var hi = size
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (bd(mid) < d || (bd(mid) == d && bc(mid) < id)) lo = mid + 1
            else hi = mid
          }
          val end = math.min(size, k - 1)
          var j2 = end
          while (j2 > lo) { bd(j2) = bd(j2 - 1); bc(j2) = bc(j2 - 1); j2 -= 1 }
          if (lo < k) { bd(lo) = d; bc(lo) = id }
          if (size < k) size += 1
        }
      }
      kk += 1
    }
    val out = new Array[Any](size)
    var p = 0
    while (p < size) {
      out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bc(p), bd(p)))
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestKCentroidsL2 =
    copy(left = newLeft, right = newRight)
}

/** See [[NativeExprs.l2SqLong]]. */
case class L2SqLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with RowKernel {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "l2sq_long"
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val diff = x.getLong(i) - y.getLong(i)
      s += diff * diff
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val s = ctx.freshName("s")
    val df = ctx.freshName("df")
    val ok = ctx.freshName("ok")
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = 0L;
      if (!${l.isNull} && !${r.isNull} &&
          ${l.value}.numElements() == ${r.value}.numElements()) {
        int $n = ${l.value}.numElements();
        long $s = 0L;
        boolean $ok = true;
        for (int $i = 0; $i < $n; $i++) {
          if (${l.value}.isNullAt($i) || ${r.value}.isNullAt($i)) { $ok = false; break; }
          long $df = ${l.value}.getLong($i) - ${r.value}.getLong($i);
          $s += $df * $df;
        }
        if ($ok) { ${ev.isNull} = false; ${ev.value} = $s; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqLong =
    copy(left = newLeft, right = newRight)
}

/** Shared md5 helper (thread-local digest — expressions evaluate on many
  * task threads concurrently).
  */
private[graft] object Md5 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def digest(bytes: Array[Byte]): Array[Byte] = {
    val d = md.get(); d.reset(); d.digest(bytes)
  }
  /** The raw thread-local digest, for incremental update() feeding. */
  def raw(): java.security.MessageDigest = md.get()

  private val HEX = "0123456789abcdef".toCharArray
  /** Lower-case hex encoding of a 16-byte digest. */
  def hex(d: Array[Byte]): UTF8String = {
    val cs = new Array[Char](32)
    var j = 0
    while (j < 16) {
      cs(2 * j) = HEX((d(j) >> 4) & 0xf)
      cs(2 * j + 1) = HEX(d(j) & 0xf)
      j += 1
    }
    UTF8String.fromString(new String(cs))
  }
  /** Unsigned lexicographic digest compare — identical ordering to the hex
    * string compare, since hex encoding is monotone in the digest bytes.
    */
  def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }
  /** First `hexDigits` hex chars of a digest as a non-negative long. */
  def prefixLong(d: Array[Byte], hexDigits: Int): Long = {
    var v = 0L
    var i = 0
    while (i < hexDigits) {
      val nibble =
        if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xf
        else d(i >> 1) & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }
}

/** Bounded ascending buffer of DISTINCT digests — the shared core of the
  * bottom-k fingerprint expressions (one insertion-sort buffer of ≤ k
  * entries instead of sorting every boxed hex string per document).
  */
private[graft] final class DigestBottomK(k: Int) {
  private val buf = new Array[Array[Byte]](k)
  private var size = 0

  def offer(d: Array[Byte]): Unit = {
    if (size == k && Md5.cmp(d, buf(size - 1)) >= 0) return
    var lo = 0; var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (Md5.cmp(buf(mid), d) < 0) lo = mid + 1 else hi = mid
    }
    if (lo < size && Md5.cmp(buf(lo), d) == 0) return
    val end = math.min(size, k - 1)
    var j = end
    while (j > lo) { buf(j) = buf(j - 1); j -= 1 }
    buf(lo) = d
    if (size < k) size += 1
  }

  /** Hex-encoded contents, ascending. */
  def toHexArray(): GenericArrayData = {
    val out = new Array[Any](size)
    var j = 0
    while (j < size) { out(j) = Md5.hex(buf(j)); j += 1 }
    new GenericArrayData(out)
  }
}

/** Fused shingle→md5 iteration shared by the ShingleMd5* expressions:
  * token bytes are extracted ONCE per row, then each w-token window is fed
  * straight into a reused MessageDigest with the `concat_ws(" ", …)`
  * separator semantics (null tokens skipped) — byte-for-byte the digest of
  * the shingle STRING, with no shingle string ever built.
  */
private[graft] object ShingleMd5 {
  private val SP = ' '.toByte
  def foreachDigest(arr: ArrayData, w: Int)(f: Array[Byte] => Unit): Unit = {
    val n = arr.numElements()
    if (n < w) return
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bytes(i) = if (arr.isNullAt(i)) null else {
        val t = arr.getUTF8String(i)
        if (t == null) null else t.getBytes
      }
      i += 1
    }
    val md = Md5.raw()
    i = 0
    while (i <= n - w) {
      md.reset()
      var first = true
      var j = 0
      while (j < w) {
        val b = bytes(i + j)
        if (b != null) {
          if (!first) md.update(SP)
          md.update(b)
          first = false
        }
        j += 1
      }
      f(md.digest())
      i += 1
    }
  }
}

case class ShingleMd5PrefixExpr(child: Expression, w: Int, hexDigits: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  require(w >= 1 && hexDigits >= 1 && hexDigits <= 15)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_md5_prefixes"

  // shinglesHof parity: a NULL token array yields an EMPTY shingle set
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Long]) else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    // first-seen-order dedup == array_distinct semantics
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    ShingleMd5.foreachDigest(arr, w) { d =>
      val v = Md5.prefixLong(d, hexDigits)
      if (seen.add(v)) out += v
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5PrefixExpr =
    copy(child = newChild)
}

/** q83's LSH signature in one compiled pass: for each permutation
  * p ∈ [0, nPerms), the minimum md5 hex of `p || ':' || s` over the
  * row's shingle array — value-identical to the nested-HOF form
  * `transform(sequence(0, n-1), p -> array_min(transform(shs, s ->
  * md5(concat(p, ':', s)))))` but without materializing nPerms
  * intermediate arrays per row or paying the interpreted-lambda +
  * UTF8String-concat tax on every one of the nPerms·|shs| digests
  * (measured 7.4 → ~2 s on the q83 sf0.1 window). Running mins compare
  * as raw digest bytes (hex encoding is monotone in the bytes —
  * [[Md5.cmp]]); only the nPerms winners are hex-encoded. Null shingles
  * are skipped (array_min ignores the null md5(concat(p,':',NULL))
  * produces); an empty or all-null array yields all-null mins, matching
  * array_min's empty/all-null → null.
  */
case class LshMinSigExpr(child: Expression, nPerms: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  require(nPerms >= 1 && nPerms <= 512)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "lsh_min_sig"

  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(nPerms)(p => s"$p:".getBytes("UTF-8"))

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill[Array[Byte]](nPerms)(null)
    val tmp = new Array[Byte](16)
    val md = Md5.raw()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val sBytes = s.getBytes
          var p = 0
          while (p < nPerms) {
            md.reset()
            md.update(prefixes(p))
            md.update(sBytes)
            md.digest(tmp, 0, 16)
            if (mins(p) == null) mins(p) = java.util.Arrays.copyOf(tmp, 16)
            else if (Md5.cmp(tmp, mins(p)) < 0) System.arraycopy(tmp, 0, mins(p), 0, 16)
            p += 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(
      mins.map(m => if (m == null) null else Md5.hex(m)): Array[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): LshMinSigExpr =
    copy(child = newChild)
}

case class ShingleMd5BottomKExpr(child: Expression, w: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  require(w >= 1 && k >= 1)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_md5_bottom_k"

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Any]) else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val bottom = new DigestBottomK(k)
    ShingleMd5.foreachDigest(arr, w)(bottom.offer)
    bottom.toHexArray()
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMd5BottomKExpr =
    copy(child = newChild)
}

case class Simhash32Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback with RowKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sums = new Array[Int](32)
    // distinct tokens, preserving the HOF's array_distinct first-seen order
    // (order is irrelevant to the sum, dedup is what matters)
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null && seen.add(t)) {
        val d = Md5.digest(t.getBytes)
        var b = 0
        while (b < 32) {
          val bit = (d(b >> 3) >> (7 - (b & 7))) & 1
          sums(b) += bit * 2 - 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (sums(b) >= 0) out |= 1L << (31 - b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash32Expr =
    copy(child = newChild)
}

case class MinHashSigExpr(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  private val P = 2147483647L
  // (a_i, b_i) pairs — same splitmix derivation as MinHashLsh.params
  private lazy val ab: Array[(Long, Long)] = {
    var state = seed
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(k)((Math.floorMod(next(), P - 1) + 1, Math.floorMod(next(), P)))
  }

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val hashes = input.asInstanceOf[ArrayData]
    val n = hashes.numElements()
    val minima = Array.fill(k)(Long.MaxValue)
    // HOF parity (ADVICE r1): array_min over an empty/all-null transform
    // yields NULL, so signatureHof emits null elements — match that instead
    // of leaking Long.MaxValue sentinels into band keys.
    var contributed = false
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        contributed = true
        val h = hashes.getLong(i)
        var j = 0
        while (j < k) {
          val (a, b) = ab(j)
          val v = Math.floorMod(h * a + b, P)
          if (v < minima(j)) minima(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!contributed) new GenericArrayData(Array.fill[Any](k)(null))
    else new GenericArrayData(minima)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

case class Md5PrefixLong(child: Expression, hexDigits: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  require(hexDigits >= 1 && hexDigits <= 15, "long holds at most 15 hex digits")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  override protected def nullSafeEval(input: Any): Any =
    Md5.prefixLong(
      Md5.digest(input.asInstanceOf[UTF8String].getBytes), hexDigits)

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

/** See [[NativeExprs.spanDigestLadderPacked]]. Doubling invariant:
  * entering round k, `d(i)` digests the length-2^(k-1) span at token
  * offset i; the round emits `mix(d(i), d(i + 2^(k-1)))` for every i with
  * the full 2^k span in bounds, which becomes the next round's `d`. Work
  * is O(n · levels) mixes after one md5 per token — independent of the
  * longest span length measured. The mix is non-commutative with a
  * murmur3-fmix64 avalanche: the two halves enter under different odd
  * multipliers, so mix(a,b) ≠ mix(b,a) and adjacent-level structure cannot
  * cancel. A NULL token array yields an empty ladder (shinglesHof parity).
  */
case class SpanLadderPackedExpr(child: Expression, levels: Int)
    extends UnaryExpression with ExpectsInputTypes with RowKernel {
  require(levels >= 1 && levels <= 7, "levels out of range (3 tag bits)")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "span_digest_ladder_packed"

  private val Mask61 = (1L << 61) - 1

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) emptyResult() else scan(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("spanLadderPacked", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${c.isNull} ? $ref.emptyResult() : $ref.scan(${c.value});
      """, isNull = FalseLiteral)
  }

  def emptyResult(): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  def scan(arrAny: Any): ArrayData = {
    val arr = arrAny.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var d = new Array[Long](n)
    var i = 0
    while (i < n) {
      val bytes =
        if (arr.isNullAt(i)) Array.emptyByteArray
        else {
          val u = arr.getUTF8String(i)
          if (u == null) Array.emptyByteArray else u.getBytes
        }
      d(i) = Md5.prefixLong(Md5.digest(bytes), 15)
      i += 1
    }
    var total = 0
    var k = 1
    while (k <= levels && (1 << k) <= n) { total += n - (1 << k) + 1; k += 1 }
    val out = new Array[Long](total)
    var p = 0
    k = 1
    while (k <= levels && (1 << k) <= n) {
      val len = 1 << k
      val half = len >> 1
      val m = n - len + 1
      val tag = k.toLong << 61
      val nd = new Array[Long](m)
      i = 0
      while (i < m) {
        val v = mix(d(i), d(i + half))
        nd(i) = v
        out(p) = tag | (v & Mask61)
        p += 1
        i += 1
      }
      d = nd
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def mix(a: Long, b: Long): Long = {
    var h = a * 0x87c37b91114253d5L
    h = java.lang.Long.rotateLeft(h, 31)
    h ^= b * 0x4cf5ad432745937fL
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  override protected def withNewChildInternal(newChild: Expression): SpanLadderPackedExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.tokenCounts]]. Split parity: Spark's split(text, ' ')
  * is Java regex split with limit -1 — empty tokens between adjacent
  * spaces AND at either end are all kept ("" splits to [""]), and 0x20
  * never occurs inside a UTF-8 multibyte sequence, so a byte scan splits
  * exactly like a char scan. Counting happens in a per-row LinkedHashMap
  * (first-appearance order, deterministic for a given input).
  */
case class TokenCountsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "token_counts"

  override protected def nullSafeEval(input: Any): Any =
    scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("tokenCounts", this)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.scan($c);"
    })

  def scan(input: UTF8String): ArrayData = {
    val b = input.getBytes
    val n = b.length
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Int]]()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        val tok = UTF8String.fromBytes(b, start, i - start)
        val slot = counts.get(tok)
        if (slot == null) counts.put(tok, Array(1)) else slot(0) += 1
        start = i + 1
      }
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(e.getKey, e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCountsExpr =
    copy(child = newChild)
}

/** See [[NativeExprs.hrefs]]. One pass over the document: anchor tags are
  * located with an HTML-tokenizer's skip rules (comments, script/style
  * CDATA, declarations), then the tag's FIRST href attribute value is
  * emitted (the reference's BeautifulSoup `a["href"]` reads the first too).
  * NULL html → empty array (a missing listing page yields no links, it
  * does not poison the scan).
  */
case class HrefsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "hrefs"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(Array.empty[Any]) else nullSafeEval(v)
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  // case-insensitive region match against a lowercase needle
  private def matchesLower(s: String, from: Int, needle: String): Boolean = {
    if (from + needle.length > s.length) return false
    var k = 0
    while (k < needle.length) {
      if (Character.toLowerCase(s.charAt(from + k)) != needle.charAt(k)) return false
      k += 1
    }
    true
  }

  // HTML5 numeric-charref remap for the C1 range 0x80-0x9F (windows-1252,
  // the same table html.unescape applies); holes (0x81/0x8D/0x8F/0x90/0x9D)
  // stay the raw control character
  private val Cp1252: Array[Int] = Array(
    0x20AC, 0x81, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x8D, 0x017D, 0x8F,
    0x90, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x9D, 0x017E, 0x0178)

  /** Unescape the semicolon-terminated references that occur in URLs:
    * amp/lt/gt/quot/apos/nbsp and numeric (dec/hex) with the HTML5
    * invalid-charref rules (0 and out-of-range -> U+FFFD, C1 range ->
    * windows-1252 remap, surrogates removed -- verified against
    * html.unescape). Unknown NAMED entities pass through verbatim
    * (documented divergence from the full 2000-entry HTML5 table;
    * noncharacter codepoints are kept rather than removed).
    */
  private def unescape(v: String): String = {
    val amp = v.indexOf('&')
    if (amp < 0) return v
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '&') {
        val semi = v.indexOf(';', i + 1)
        val handled =
          if (semi > i && semi - i <= 10) {
            val name = v.substring(i + 1, semi)
            name match {
              case "amp"  => sb.append('&'); true
              case "lt"   => sb.append('<'); true
              case "gt"   => sb.append('>'); true
              case "quot" => sb.append('"'); true
              case "apos" => sb.append('\''); true
              case "nbsp" => sb.append(' '); true
              case _ if name.length > 1 && name.charAt(0) == '#' =>
                appendCharref(sb, name)
              case _ => false
            }
          } else false
        if (handled) i = semi + 1
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** `name` is the `#...` between '&' and ';'. Returns false (passthrough
    * verbatim) for malformed digit runs -- html.unescape's charref regex
    * would not match those either, e.g. `&#-5;`.
    */
  private def appendCharref(sb: java.lang.StringBuilder, name: String): Boolean = {
    val hex = name.length > 2 && (name.charAt(1) == 'x' || name.charAt(1) == 'X')
    val digits = name.substring(if (hex) 2 else 1)
    if (digits.isEmpty ||
        !digits.forall(d => Character.digit(d, if (hex) 16 else 10) >= 0))
      return false
    val code =
      try Integer.parseInt(digits, if (hex) 16 else 10)
      catch { case _: NumberFormatException => 0x110000 } // overflow = out of range
    if (code == 0 || code > 0x10FFFF) sb.append('\uFFFD')
    else if (code >= 0x80 && code <= 0x9F) sb.appendCodePoint(Cp1252(code - 0x80))
    else if (code >= 0xD800 && code <= 0xDFFF) () // surrogate: removed
    else sb.appendCodePoint(code)
    true
  }

  /** Parse one anchor tag starting at `from` (index of '<'); returns
    * (hrefOrNull, index just past the tag's '>').
    */
  private def parseAnchor(s: String, from: Int): (String, Int) = {
    val n = s.length
    var j = from + 2 // past "<a"
    var href: String = null
    while (j < n && s.charAt(j) != '>') {
      // skip whitespace and the self-closing slash
      if (isWs(s.charAt(j)) || s.charAt(j) == '/') { j += 1 }
      else {
        // attribute name
        val nameStart = j
        while (j < n && !isWs(s.charAt(j)) && s.charAt(j) != '=' &&
               s.charAt(j) != '>' && s.charAt(j) != '/') j += 1
        val isHref = (j - nameStart == 4) && matchesLower(s, nameStart, "href")
        while (j < n && isWs(s.charAt(j))) j += 1
        var value: String = null
        if (j < n && s.charAt(j) == '=') {
          j += 1
          while (j < n && isWs(s.charAt(j))) j += 1
          if (j < n) {
            val q = s.charAt(j)
            if (q == '"' || q == '\'') {
              val end = s.indexOf(q, j + 1)
              val stop = if (end < 0) n else end
              value = s.substring(j + 1, stop)
              j = if (end < 0) n else end + 1
            } else {
              val start = j
              while (j < n && !isWs(s.charAt(j)) && s.charAt(j) != '>') j += 1
              value = s.substring(start, j)
            }
          }
        } // attribute without '=' keeps value null: a valueless `href`
          // carries no URL and is skipped (tokenizer-golden semantics)
        if (isHref && href == null && value != null) href = unescape(value)
      }
    }
    (href, if (j < n) j + 1 else n)
  }

  /** Consume a non-anchor tag from `from` (index of '<') to just past its
    * '>', treating quoted attribute values as opaque.
    */
  private def skipTag(s: String, from: Int): Int = {
    val n = s.length
    var j = from + 1
    while (j < n && s.charAt(j) != '>') {
      val c = s.charAt(j)
      if (c == '"' || c == '\'') {
        val end = s.indexOf(c, j + 1)
        j = if (end < 0) n else end + 1
      } else j += 1
    }
    if (j < n) j + 1 else n
  }

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
        // a tag NAME ends at whitespace, '/', or '>' — `<script-loader>` is
        // a custom element, not script CDATA (tokenizer semantics)
        def nameEndsAt(k: Int): Boolean =
          k >= n || isWs(s.charAt(k)) || s.charAt(k) == '>' || s.charAt(k) == '/'
        if (matchesLower(s, i, "<!--")) {
          val end = s.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (matchesLower(s, i, "<script") && nameEndsAt(i + 7)) {
          // CDATA content: everything until the close tag is NOT markup
          var end = i + 7
          while (end < n && !matchesLower(s, end, "</script")) end += 1
          val gt = s.indexOf('>', end)
          i = if (gt < 0) n else gt + 1
        } else if (matchesLower(s, i, "<style") && nameEndsAt(i + 6)) {
          var end = i + 6
          while (end < n && !matchesLower(s, end, "</style")) end += 1
          val gt = s.indexOf('>', end)
          i = if (gt < 0) n else gt + 1
        } else if (i + 1 < n && (s.charAt(i + 1) == 'a' || s.charAt(i + 1) == 'A') &&
                   nameEndsAt(i + 2)) {
          val (href, next) = parseAnchor(s, i)
          if (href != null) out += UTF8String.fromString(href)
          i = next
        } else if (matchesLower(s, i, "<!") || matchesLower(s, i, "<?")) {
          // declaration / processing instruction: skip to its '>'
          val gt = s.indexOf('>', i + 2)
          i = if (gt < 0) n else gt + 1
        } else if (i + 1 < n &&
                   (Character.isLetter(s.charAt(i + 1)) || s.charAt(i + 1) == '/')) {
          // any OTHER tag (open or close) is consumed as a tag, honoring
          // quoted attribute values — anchor-looking text inside an
          // attribute (e.g. <img data-html="<a href='x'>") is not markup
          i = skipTag(s, i)
        } else i += 1
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): HrefsExpr =
    copy(child = newChild)
}
