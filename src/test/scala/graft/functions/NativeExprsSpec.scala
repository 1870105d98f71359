package graft.functions

import graft.{SparkSpec, Tables}
import graft.functions.expressions.NativeExprs
import graft.operators.MinHashLsh
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native expressions must produce bit-identical values to their
  * higher-order-function twins — that equivalence is what keeps the DuckDB
  * oracles valid after the hot paths switched to codegen'd evaluation.
  */
class NativeExprsSpec extends SparkSpec {
  import spark.implicits._

  test("dotF32 == HOF dot, element-exact, on real embeddings") {
    val e = Tables.embeddings(spark, sf0001).limit(200)
    val pairs = e.select(col("vec_id").as("i"), col("embedding").as("a"))
      .crossJoin(broadcast(
        e.select(col("vec_id").as("j"), col("embedding").as("b")).limit(20)))
    val diff = pairs.select(
        VectorOps.dot(col("a"), col("b")).as("fast"),
        VectorOps.dotHof(col("a"), col("b")).as("hof"))
      .filter(col("fast") =!= col("hof")) // exact double equality required
    assert(diff.count() === 0)
  }

  test("dotF32 — nulls and length mismatch match the HOF exactly") {
    // contract: identical to aggregate(zip_with(...)) — unequal lengths
    // (zip_with null-pads) and null elements both yield NULL, which is what
    // makes the NativizeHofRule rewrite unconditionally safe
    val df = Seq(
      (Some(Seq(1f, 2f)), Some(Seq(3f, 4f))),
      (None, Some(Seq(1f))),
      (Some(Seq(1f, 2f, 3f)), Some(Seq(2f)))) // length mismatch → null
      .toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")).as("fast"),
              VectorOps.dotHof(col("a"), col("b")).as("hof"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) === 11.0 && rows(0).getDouble(1) === 11.0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("bestAnchor == array_max(transform(...)) on real embeddings") {
    // the q61 kernel: identical score arithmetic (left-to-right double dot
    // over widened floats, per-anchor norm from the struct), identical
    // argmax ordering (NaN-greatest, tie → lowest anchor_id via the
    // negated-id struct max)
    val emb = Tables.embeddings(spark, sf0001)
    val codebook = emb.orderBy("vec_id").limit(64)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("av"),
        sqrt(VectorOps.dot(col("embedding"), col("embedding"))).as("an"))
      .agg(sort_array(collect_list(
        struct(col("anchor_id"), col("av"), col("an")))).as("anchors"))
    val both = emb.crossJoin(broadcast(codebook))
      .select(col("vec_id"),
        NativeExprs.bestAnchor(col("embedding"), col("anchors")).as("fast"),
        array_max(transform(col("anchors"), a =>
          struct(
            (VectorOps.dot(col("embedding"), a.getField("av"))
              / (sqrt(VectorOps.dot(col("embedding"), col("embedding")))
                 * a.getField("an"))).as("score"),
            (-a.getField("anchor_id")).as("negid")))).as("hof"))
      .select(col("vec_id"), col("fast"),
        struct(col("hof.score").as("score"),
          (-col("hof.negid")).as("anchor_id")).as("hofn"))
    // exact double equality + identical winner required
    assert(both.filter(col("fast") =!= col("hofn")).count() === 0)
    assert(both.filter(col("fast").isNull).count() === 0)
  }

  test("bestAnchor — null/empty/mismatch edge semantics") {
    val anchors = Seq((1L, Seq(1f, 0f), 1.0), (2L, Seq(1f, 0f), 1.0))
    val df = Seq(
      (1L, Some(Seq(1f, 0f))),   // tie on both anchors → lowest id wins
      (2L, None),                // null embedding → null
      (3L, Some(Seq(1f, 0f, 0f))) // no same-dim anchor → null
    ).toDF("id", "e")
      .withColumn("anchors", typedlit(anchors))
      .select(col("id"), NativeExprs.bestAnchor(
        col("e"),
        expr("transform(anchors, a -> struct(a._1 as anchor_id, a._2 as av, a._3 as an))"))
        .as("b"))
      .orderBy("id").collect()
    assert(df(0).getStruct(1).getLong(1) === 1L) // tie → anchor 1
    assert(df(0).getStruct(1).getDouble(0) === 1.0)
    assert(df(1).isNullAt(1))
    assert(df(2).isNullAt(1))
  }

  test("bestAnchor/nearestCentroidL2 — a PER-ROW-VARYING codebook column never reads a stale cache (r14 review)") {
    // The decoded-codebook cache's failure scenario: rows with
    // DIFFERENT codebooks flowing through one expression instance
    // (these are public SQL functions — nothing guarantees a constant
    // argument). After a shuffle, consecutive rows deserialize into
    // reused buffers with recurring (base, offset, length) — the r14
    // byte-verify rule must re-decode rather than score row 2 against
    // row 1's codebook. Same-length codebooks per row make the collision
    // shape maximal; repartition forces the rows through an exchange.
    val rows = (0 until 64).map { i =>
      // row i's codebook holds ONE anchor, pointing along dimension i%2,
      // with id 100+i: the correct winner differs per row
      (i.toLong, Seq(1f, 2f),
        Seq((100L + i, Seq(Array(1f, 0f), Array(0f, 1f))(i % 2).toSeq, 1.0)))
    }
    // materialize the anchors struct array BEFORE the repartition: after
    // the shuffle the column arrives as UnsafeArrayData backed by the
    // reused row-deserialization buffer — the exact collision shape the
    // byte-verify rule exists for (a transform() inside the same select
    // would hand the kernel a fresh GenericArrayData per row and never
    // exercise the Unsafe path)
    val got = rows.toDF("id", "e", "cb")
      .select(col("id"), col("e"),
        expr("transform(cb, a -> struct(a._1 as anchor_id, a._2 as av, a._3 as an))")
          .as("anchors"))
      .repartition(2)
      .select(col("id"), NativeExprs.bestAnchor(col("e"), col("anchors"))
        .as("b"))
      .select(col("id"), col("b.anchor_id").as("aid"), col("b.score").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val n = math.sqrt(5.0)
    (0 until 64).foreach { i =>
      val (aid, s) = got(i.toLong)
      assert(aid === 100L + i, s"row $i scored against a stale codebook")
      assert(math.abs(s - (if (i % 2 == 0) 1.0 / n else 2.0 / n)) < 1e-12)
    }
    // and the integer-L2 family: per-row centroid sets, distinct winners
    val gotC = (0 until 64).map { i =>
      (i.toLong, Seq(3L, 7L),
        Seq((100 + i, Seq(Array(3L, 0L), Array(0L, 7L))(i % 2).toSeq)))
    }.toDF("id", "v", "cents")
      .select(col("id"), col("v"),
        expr("transform(cents, c -> struct(c._1 as cid, c._2 as cv))")
          .as("centroids"))
      .repartition(2)
      .select(col("id"), NativeExprs.nearestCentroidL2(col("v"), col("centroids"))
        .as("r"))
      .select(col("id"), col("r.cid").as("cid"), col("r.d").as("d"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    (0 until 64).foreach { i =>
      val (cid, d) = gotC(i.toLong)
      assert(cid === 100 + i, s"row $i matched a stale centroid set")
      assert(d === (if (i % 2 == 0) 49L else 9L)) // the unchosen dim's gap
    }
  }

  /** Quantized embeddings (vec_id, v) crossed with a 16-centroid
    * codebook column `cents` of struct(cid, cv) — the q77 input shape.
    */
  private def quantizedWithCents() = {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        transform(col("embedding"),
          e => round(e.cast("double") * lit(10000.0)).cast("long")).as("v"))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("cents"))
    emb.crossJoin(broadcast(cents))
  }

  /** The interpreted zip_with/aggregate squared-L2 of every centroid as
    * struct(d, cid), sorted — the (d ASC, cid ASC) order the kernels keep.
    */
  private def sortedHofDistances(v: org.apache.spark.sql.Column,
                                 cents: org.apache.spark.sql.Column) =
    array_sort(transform(cents, c =>
      struct(
        aggregate(zip_with(v, c.getField("cv"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
          .as("d"),
        c.getField("cid").as("cid"))))

  test("nearestCentroidL2 == HOF zip_with argmin on quantized embeddings") {
    // the q77 kernel: identical exact-integer squared-L2, identical
    // (d ASC, cid ASC) argmin — compare against the interpreted
    // zip_with/aggregate + min(struct) composition it replaced
    val both = quantizedWithCents()
      .select(col("vec_id"),
        NativeExprs.nearestCentroidL2(col("v"), col("cents")).as("fast"),
        array_min(transform(col("cents"), c =>
          struct(
            aggregate(zip_with(col("v"), c.getField("cv"),
              (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
              .as("d"),
            c.getField("cid").as("cid")))).as("hof"))
      .select(col("vec_id"), col("fast"),
        struct(col("hof.cid").as("cid"), col("hof.d").as("d")).as("hofn"))
    assert(both.filter(col("fast") =!= col("hofn")).count() === 0)
    assert(both.filter(col("fast").isNull).count() === 0)
  }

  test("nearestCentroidL2 — null/mismatch/tie edge semantics") {
    val cents = Seq((1, Seq(0L, 0L)), (2, Seq(0L, 0L)), (3, Seq(9L, 9L, 9L)))
    val rows = Seq(
      (1L, Some(Seq(1L, 1L))),   // d=2 on cids 1/2 (tie) → cid 1
      (2L, None),                // null vector → null
      (3L, Some(Seq(1L, 2L, 3L))) // only the 3-dim centroid matches → cid 3
    ).toDF("id", "v")
      .withColumn("cents", typedlit(cents))
      .select(col("id"), NativeExprs.nearestCentroidL2(
        col("v"),
        expr("transform(cents, c -> struct(c._1 as cid, c._2 as cv))"))
        .as("r"))
      .orderBy("id").collect()
    assert(rows(0).getStruct(1).getInt(0) === 1)   // tie → lowest cid
    assert(rows(0).getStruct(1).getLong(1) === 2L)
    assert(rows(1).isNullAt(1))
    assert(rows(2).getStruct(1).getInt(0) === 3)
    assert(rows(2).getStruct(1).getLong(1) === (64L + 49L + 36L))
  }

  test("nearestKCentroidsL2(k=2) == sorted HOF on quantized embeddings") {
    // q80's input: the nearest centroid and the runner-up, each
    // struct(cid, d) — the first two elements of the (d, cid)-sorted
    // interpreted distance structs
    val both = quantizedWithCents()
      .select(col("vec_id"),
        NativeExprs.nearestKCentroidsL2(col("v"), col("cents"), 2).as("fast"),
        transform(slice(sortedHofDistances(col("v"), col("cents")), 1, 2),
          x => struct(x.getField("cid").as("cid"), x.getField("d").as("d")))
          .as("hof"))
    assert(both.filter(col("fast") =!= col("hof")).count() === 0)
    assert(both.filter(size(col("fast")) =!= 2).count() === 0)
  }

  test("nearestKCentroidsL2(k=2) — tie and too-few-centroids edges") {
    val cents = Seq((1, Seq(0L, 0L)), (2, Seq(0L, 0L)), (3, Seq(4L, 0L)))
    val one = Seq((9, Seq(0L, 0L, 0L)))
    val rows = Seq((1L, Some(Seq(1L, 1L))), (2L, Some(Seq(1L, 1L, 1L))),
        (3L, None))
      .toDF("id", "v")
      .withColumn("cents", typedlit(cents))
      .withColumn("one", typedlit(one))
      .select(col("id"),
        NativeExprs.nearestKCentroidsL2(col("v"),
          expr("transform(cents, c -> struct(c._1 as cid, c._2 as cv))"), 2).as("r"),
        NativeExprs.nearestKCentroidsL2(col("v"),
          expr("transform(one, c -> struct(c._1 as cid, c._2 as cv))"), 2).as("r1"))
      .orderBy("id").collect()
    def pairs(i: Int, c: Int) = rows(i).getSeq[org.apache.spark.sql.Row](c)
      .map(r => (r.getInt(0), r.getLong(1)))
    // cids 1/2 tie at d=2 → winner 1, runner-up the tied 2 (d2 = d, not
    // centroid 3's 10)
    assert(pairs(0, 1) === Seq((1, 2L), (2, 2L)))
    // too few same-dimension centroids for a margin: a 2-dim vector vs the
    // single 3-dim centroid, a 3-dim vector vs the 2-dim codebook, and one
    // matching centroid — element 1 is absent, so q80's size guard yields
    // a null margin
    assert(pairs(0, 2).isEmpty)
    assert(pairs(1, 1).isEmpty)
    assert(pairs(1, 2) === Seq((9, 3L)))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2)) // null vector
  }

  test("nearestKCentroidsL2(k=1) element 0 == nearestCentroidL2") {
    val both = quantizedWithCents()
      .select(
        NativeExprs.nearestKCentroidsL2(col("v"), col("cents"), 1).as("k1"),
        NativeExprs.nearestCentroidL2(col("v"), col("cents")).as("n1"))
    assert(both.filter(size(col("k1")) =!= 1).count() === 0)
    assert(both.filter(element_at(col("k1"), 1) =!= col("n1")).count() === 0)
  }

  test("nearestKCentroidsL2 — k past the valid centroids: shorter array") {
    // 16 valid centroids plus two of the wrong dimension (skipped): k=20
    // returns all 16, in the sorted HOF (d, cid) order
    val both = quantizedWithCents()
      .withColumn("all", concat(col("cents"),
        typedlit(Seq((90, Seq(1L, 2L, 3L)), (91, Seq(0L))))
          .cast("array<struct<cid:int,cv:array<bigint>>>")))
      .select(
        NativeExprs.nearestKCentroidsL2(col("v"), col("all"), 20).as("fast"),
        transform(sortedHofDistances(col("v"), col("cents")),
          x => struct(x.getField("cid").as("cid"), x.getField("d").as("d")))
          .as("hof"))
    assert(both.filter(size(col("fast")) =!= 16).count() === 0)
    assert(both.filter(col("fast") =!= col("hof")).count() === 0)
  }

  test("simhash32 native == HOF on corpus text") {
    val docs = Tables.documents(spark, sf0001).limit(100)
    val diff = docs.select(
        TextOps.simhash32(TextOps.tokens(col("text"))).as("fast"),
        TextOps.simhash32Hof(TextOps.tokens(col("text"))).as("hof"))
      .filter(col("fast") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("minhashSig native == HOF on corpus shingle hashes") {
    val hashes = Tables.documents(spark, sf0001).limit(100)
      .select(array_distinct(transform(
        TextOps.shingles(TextOps.tokens(col("text")), 3),
        MinHashLsh.shingleHash28(_))).as("h"))
      .filter(size(col("h")) > 0)
    val diff = hashes.select(
        MinHashLsh.signature(col("h"), 48).as("fast"),
        MinHashLsh.signatureHof(col("h"), 48).as("hof"))
      .filter(to_json(col("fast")) =!= to_json(col("hof")))
    assert(diff.count() === 0)
  }

  test("shingles native == HOF on corpus text") {
    val docs = Tables.documents(spark, sf0001).limit(150)
    val diff = docs.select(
        TextOps.shingles(TextOps.tokens(col("text")), 3).as("fast"),
        TextOps.shinglesHof(TextOps.tokens(col("text")), 3).as("hof"))
      .filter(to_json(col("fast")) =!= to_json(col("hof")))
    assert(diff.count() === 0)
  }

  test("md5PrefixAll == per-element md5PrefixLong") {
    val docs = Tables.documents(spark, sf0001).limit(100)
      .select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val diff = docs.select(
        NativeExprs.md5PrefixAll(col("sh"), 7).as("fastp"),
        transform(col("sh"), s => NativeExprs.md5PrefixLong(s, 7)).as("hofp"))
      .filter(to_json(col("fastp")) =!= to_json(col("hofp")))
    assert(diff.count() === 0)
  }

  test("md5PrefixLong == conv(substring(md5(x),1,n),16,10) for n=7 and 15") {
    val docs = Tables.documents(spark, sf0001).limit(200)
      .select(substring(col("text"), 1, 40).as("s"))
    val diff = docs.select(
        NativeExprs.md5PrefixLong(col("s"), 7).as("f7"),
        conv(substring(md5(col("s").cast(BinaryType)), 1, 7), 16, 10)
          .cast(LongType).as("h7"),
        NativeExprs.md5PrefixLong(col("s"), 15).as("f15"),
        conv(substring(md5(col("s").cast(BinaryType)), 1, 15), 16, 10)
          .cast(LongType).as("h15"))
      .filter(col("f7") =!= col("h7") || col("f15") =!= col("h15"))
    assert(diff.count() === 0)
  }

  test("doubleCents == (cast to DECIMAL(18,s) * 10^s) cast long, incl. edges") {
    // real money columns at both scales
    val li = Tables.lineitem(spark, sf0001)
    val diff = li.select(
        NativeExprs.doubleCents(col("l_extendedprice")).as("fast"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("ref"),
        NativeExprs.doubleMinorUnits(col("l_discount"), 4).as("fast4"),
        (col("l_discount").cast(DecimalType(18, 4)) * 10000)
          .cast("long").as("ref4"))
      .filter(!(col("fast") <=> col("ref")) || !(col("fast4") <=> col("ref4")))
    assert(diff.count() === 0)
    // the classic shortest-repr HALF_UP cases and negatives
    val edge = Seq(2.675, -2.675, 0.005, -0.005, 0.0, 123.456, -99.994)
      .toDF("x")
      .select(NativeExprs.doubleCents(col("x")).as("fast"),
              (col("x").cast(DecimalType(18, 2)) * 100).cast("long").as("ref"))
      .filter(!(col("fast") <=> col("ref")))
    assert(edge.count() === 0)
    // out of DECIMAL(18,2) range → NULL (the non-ANSI cast result; the
    // ANSI-mode cast throws instead, and no oracled money column is ever
    // out of range — this pins the documented total-function behavior)
    val over = Seq(1e17, -1e17, Double.NaN,
        Double.PositiveInfinity).toDF("x")
      .select(NativeExprs.doubleCents(col("x")).as("fast"))
    assert(over.filter(col("fast").isNotNull).count() === 0)
    // seeded fuzz across magnitudes: the toString-free fast path must agree
    // with the BigDecimal reference everywhere the cast chain is defined
    val rnd = new scala.util.Random(42)
    val fuzz = (1 to 5000).map { _ =>
      rnd.nextInt(4) match {
        case 0 => rnd.nextLong(2000000000L).toDouble / 100.0 * (if (rnd.nextBoolean()) 1 else -1)
        case 1 => rnd.nextLong(1000000L).toDouble / 7.0
        case 2 => (rnd.nextDouble() - 0.5) * 2e15
        case _ => rnd.nextLong(1000L).toDouble / 1000.0 // 3-decimal halves
      }
    }.toDF("x")
      .select(NativeExprs.doubleCents(col("x")).as("fast"),
              (col("x").cast(DecimalType(18, 2)) * 100).cast("long").as("ref"))
      .filter(!(col("fast") <=> col("ref")))
    assert(fuzz.count() === 0)
  }

  test("fused shingle-md5 expressions == their composed forms") {
    // bottom-k reference: the k smallest distinct md5 hexes of the shingle
    // strings, sorted
    def bottomKRef(sh: org.apache.spark.sql.Column, k: Int) =
      slice(array_sort(array_distinct(
        transform(sh, s => md5(s.cast(BinaryType))))), 1, k)
    val toks = split(col("text"), " ")
    val sh = NativeExprs.shingles(toks, 3)
    val diff = Tables.documents(spark, sf0001)
      .select(
        NativeExprs.shingleMd5Prefixes(toks, 3, 15).as("fp"),
        array_distinct(NativeExprs.md5PrefixAll(sh, 15)).as("fp_ref"),
        NativeExprs.shingleMd5BottomK(toks, 3, 4).as("bk"),
        bottomKRef(sh, 4).as("bk_ref"))
      .filter(col("fp") =!= col("fp_ref") || col("bk") =!= col("bk_ref"))
    assert(diff.count() === 0)
    // null tokens are skipped with concat_ws semantics; short arrays empty;
    // repeated shingles count once, and fewer than k distinct → shorter
    val edge = Seq(
      (Seq("a", null, "b", "c"): Seq[String]),
      (Seq("x", "y"): Seq[String]),
      (Seq("a", "b", "a", "b", "a"): Seq[String]))
      .toDF("arr")
      .select(
        NativeExprs.shingleMd5Prefixes(col("arr"), 3, 15).as("fp"),
        array_distinct(NativeExprs.md5PrefixAll(
          NativeExprs.shingles(col("arr"), 3), 15)).as("fp_ref"),
        NativeExprs.shingleMd5BottomK(col("arr"), 3, 4).as("bk"),
        bottomKRef(NativeExprs.shingles(col("arr"), 3), 4).as("bk_ref"))
      .filter(col("fp") =!= col("fp_ref") || col("bk") =!= col("bk_ref"))
    assert(edge.count() === 0)
  }

  test("hyperplaneBucket native == HOF on real embeddings") {
    val planes = VectorOps.fixedPlanes(8, 64)
    val e = Tables.embeddings(spark, sf0001)
    val diff = e.select(
        VectorOps.hyperplaneBucket(col("embedding"), planes).as("fast"),
        VectorOps.hyperplaneBucketHof(col("embedding"), planes).as("hof"))
      .filter(col("fast") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("NativizeHofRule — idiomatic HOF shapes rewrite to native expressions") {
    val words = Seq("the", "a", "of")
    // users write the canonical HOF forms…
    val hofCount = Tables.documents(spark, sf0001)
      .select(size(filter(split(col("text"), " "),
        t => t.isInCollection(words))).as("c"))
    val hofDot = Tables.embeddings(spark, sf0001)
      .select(VectorOps.dotHof(col("embedding"), col("embedding")).as("d"))
    // …and the optimized plan runs the native kernels
    assert(hofCount.queryExecution.optimizedPlan.toString.contains("count_in_set"),
      hofCount.queryExecution.optimizedPlan.toString)
    assert(hofDot.queryExecution.optimizedPlan.toString.contains("dot_f32"),
      hofDot.queryExecution.optimizedPlan.toString)
    // values are the native ones (already asserted equal to HOF above) —
    // spot-check against a driver-side recompute
    val row = Tables.documents(spark, sf0001).select("text").as[String].head()
    val want = row.split(" ", -1).count(words.contains)
    assert(hofCount.as[Int].head() === want)
  }

  test("NativizeHofRule — regex shapes rewrite to the scanner kernels") {
    val yr = Tables.documents(spark, sf0001)
      .select(regexp_extract(col("text"),
        "\\b(19[5-9]\\d|20\\d{2})\\b", 1).as("yr"))
    assert(yr.queryExecution.optimizedPlan.toString.contains("year_extract"),
      yr.queryExecution.optimizedPlan.toString)
    val rc = Tables.documents(spark, sf0001)
      .select(size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("c"))
    assert(rc.queryExecution.optimizedPlan.toString.contains("lower_alnum_run_count"),
      rc.queryExecution.optimizedPlan.toString)
    // …and a DIFFERENT pattern or group index is left alone
    val other1 = Tables.documents(spark, sf0001)
      .select(regexp_extract(col("text"), "\\b(19[5-9]\\d|20\\d{2})\\b", 0))
      .queryExecution.optimizedPlan.toString
    assert(!other1.contains("year_extract"), other1)
    val other2 = Tables.documents(spark, sf0001)
      .select(size(expr("regexp_extract_all(text, '[a-z]+', 0)")))
      .queryExecution.optimizedPlan.toString
    assert(!other2.contains("lower_alnum_run_count"), other2)
  }

  test("NativizeHofRule — q42 redaction chain rewrites to scanner kernels") {
    val d = Tables.documents(spark, sf0001)
    val chain = d.select(
      regexp_replace(regexp_replace(col("text"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]{6,}", "<NUM>").as("red"),
      regexp_count(col("text"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")).as("ne"),
      regexp_count(col("text"), lit("[0-9]{6,}")).as("nn"))
    val p = chain.queryExecution.optimizedPlan.toString
    assert(p.contains("redact"), p)
    assert(!p.contains("regexp_replace"), p) // fully rewritten
    // the count-only forms use the allocation-free count kernel, NOT the
    // string-building redact struct
    assert(p.contains("pii_email_count") && p.contains("pii_digit_run_count"), p)
    // and the exclusion switch used by the equivalence tests really works
    withoutNativize {
      val p2 = d.select(regexp_count(col("text"), lit("[0-9]{6,}")))
        .queryExecution.optimizedPlan.toString
      assert(!p2.contains("pii_digit_run_count"), p2)
    }
  }

  test("pii count kernels == regexp_count (corpus + fuzz)") { withoutNativize {
    val rnd = new scala.util.Random(777)
    val alphabet = "ab1209@._%+- \t\nXY@@..--__" + "አ汉é"
    val cases = (1 to 2000).map { _ =>
      (1 to rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    val corpus = Tables.documents(spark, sf0001).select(col("text"))
    val all = corpus.union(cases.toDF("text"))
      .select(NativeExprs.piiEmailCount(col("text")).as("fe"),
        NativeExprs.piiDigitRunCount(col("text")).as("fn"),
        regexp_count(col("text"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")).as("re"),
        regexp_count(col("text"), lit("[0-9]{6,}")).as("rn"))
      .filter(col("fe") =!= col("re") || col("fn") =!= col("rn"))
    assert(all.count() === 0)
  } }

  test("NativizeHofRule — non-matching shapes are left alone") {
    // filter on a non-literal set and a non-zero seed must NOT rewrite
    val p1 = Tables.documents(spark, sf0001)
      .select(size(filter(split(col("text"), " "), t => t =!= "x")).as("c"))
      .queryExecution.optimizedPlan.toString
    assert(!p1.contains("count_in_set"), p1)
    val p2 = Tables.embeddings(spark, sf0001)
      .select(aggregate(
        zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(1.0), (acc, v) => acc + v).as("d"))
      .queryExecution.optimizedPlan.toString
    assert(!p2.contains("dot_f32"), p2)
  }

  test("dotF32 survives whole-stage codegen (plan sanity)") {
    val e = Tables.embeddings(spark, sf0001)
    val plan = e.select(VectorOps.dot(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"), plan)
  }

  test("scalar scanners survive whole-stage codegen (plan sanity)") {
    val d = Tables.documents(spark, sf0001)
    val q = d.select(
        NativeExprs.yearExtract(col("text")),
        NativeExprs.lowerAlnumRunCount(col("text")),
        NativeExprs.jsonIntField(col("text"), "k"))
    // the scan fanout puts an exchange below the scanners, so AQE assigns
    // the codegen stages when the query runs
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[year_extract""".r.findFirstIn(plan).isDefined, plan)
  }

  // ------------------------------------------------------------- redaction

  /** Run with NativizeHofRule excluded: the scanner-equivalence tests must
    * execute the REAL regex/Size reference forms — with the rule active the
    * optimizer would rewrite the reference side to the very kernel under
    * test, making the comparison tautological.
    */
  private def withoutNativize[T](f: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.graft.NativizeHofRule")
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** The q42 four-regex formulation the native scanner must be value-
    * identical to (same patterns the DuckDB oracle runs).
    */
  private def regexRedaction(text: org.apache.spark.sql.Column) = Seq(
    regexp_replace(regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]{6,}", "<NUM>").as("re_redacted"),
    regexp_count(text, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"))
      .as("re_emails"),
    regexp_count(text, lit("[0-9]{6,}")).as("re_nums"))

  test("redact == four-regex formulation on corpus text") { withoutNativize {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01") // all 500 docs
      .withColumn("r", NativeExprs.redact(col("text")))
    val diff = docs.select(Seq(col("r.redacted"), col("r.n_emails"),
        col("r.n_nums")) ++ regexRedaction(col("text")): _*)
      .filter(col("redacted") =!= col("re_redacted") ||
              col("n_emails") =!= col("re_emails") ||
              col("n_nums") =!= col("re_nums"))
    assert(diff.count() === 0)
  } }

  test("redact — boundary semantics match java regex exactly") { withoutNativize {
    val cases = Seq(
      "",                         // empty
      "no matches here",
      "a@b",                      // minimal email
      "a@@b",                     // no R after '@'
      "x@y@z",                    // greedy domain stops at second '@'
      "a@b.c@d",                  // '@' inside consumed domain — one match
      "a@b_c@d",                  // '_' ends domain, starts next local
      "@a@b",                     // leading '@' unmatched, then match
      "123456@abc.com",           // digit run IS the local part
      "999999888888@x.com tail 123456", // run in email + run outside
      "12345",                    // 5 digits: below threshold
      "123456",                   // exactly 6
      "1234567890123",            // one long run, one match
      "12345a123456b1234567",     // mixed runs
      "user@domain",              // email at end of string
      "%+-@.-",                   // class punctuation only
      "ends with at@",            // '@' at end, no domain
      "አማርኛ 123456 አማርኛ a@b አማርኛ", // multibyte UTF-8 around matches
      "x" * 10 + "@" + "y" * 10,  // longer runs
      "a@b c@d e@f",              // several matches
      "..@..",                    // dots are L and R members
      "a@-", "-@a", "a@b-", "-a@b-")
    val df = cases.toDF("text")
      .withColumn("r", NativeExprs.redact(col("text")))
      .select(Seq(col("text"), col("r.redacted"), col("r.n_emails"),
        col("r.n_nums")) ++ regexRedaction(col("text")): _*)
    df.collect().foreach { row =>
      assert(row.getString(1) === row.getString(4),
        s"redacted mismatch for ${row.getString(0)}")
      assert(row.getInt(2) === row.getInt(5),
        s"n_emails mismatch for ${row.getString(0)}")
      assert(row.getInt(3) === row.getInt(6),
        s"n_nums mismatch for ${row.getString(0)}")
    }
    // null text propagates
    val nr = Seq(Option.empty[String]).toDF("text")
      .select(NativeExprs.redact(col("text")).as("r")).collect()
    assert(nr(0).isNullAt(0))
  } }

  test("lowerAlnumRunCount == size(regexp_extract_all) on corpus + edges") { withoutNativize {
    val onCorpus = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(NativeExprs.lowerAlnumRunCount(col("text")).as("fast"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("re"))
      .filter(col("fast") =!= col("re"))
    assert(onCorpus.count() === 0)
    val edges = Seq("", "ABC", "abc", "a1b2", "A1a", "ab CD ef", "አማ a1 አማ",
        "1", "-a-", "a" * 100)
      .toDF("text")
      .select(NativeExprs.lowerAlnumRunCount(col("text")).as("fast"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("re"))
    edges.collect().foreach(r => assert(r.getInt(0) === r.getInt(1)))
  } }

  test("distinctSortedPrefix == composed distinct/sort/slice form") {
    def composed(c: org.apache.spark.sql.Column) = Seq(
      size(array_distinct(c)).as("c_n"),
      slice(array_sort(array_distinct(c)), 1, 3).as("c_p"))
    // corpus tokens
    val onCorpus = Tables.documents(spark, "/root/testdata/sf0.01")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("ds", NativeExprs.distinctSortedPrefix(col("toks"), 3))
      .select(Seq(col("ds.n_distinct").as("n"), col("ds.prefix").as("p"))
        ++ composed(col("toks")): _*)
      .filter(col("n") =!= col("c_n") || col("p") =!= col("c_p"))
    assert(onCorpus.count() === 0)
    // nulls, duplicates, short arrays
    val edges: Seq[Option[Seq[Option[String]]]] = Seq(
      Some(Seq(Some("b"), Some("a"), Some("b"), None, Some("c"), None)),
      Some(Seq(None)),             // null only: distinct keeps it, sorts last
      Some(Seq(Some("z"))),        // fewer than k
      Some(Seq()),                 // empty
      Some(Seq(Some("a"), Some("a"))),
      None)                        // null array -> null struct
    val df = edges.toDF("arr")
      .withColumn("ds", NativeExprs.distinctSortedPrefix(col("arr"), 3))
      .select(Seq(col("ds.n_distinct").as("n"), col("ds.prefix").as("p"))
        ++ composed(col("arr")): _*)
    df.collect().foreach { r =>
      if (r.isNullAt(2)) assert(r.isNullAt(0) && r.isNullAt(1))
      else {
        assert(r.getInt(0) === r.getInt(2), s"count mismatch: $r")
        assert(r.getSeq[String](1) === r.getSeq[String](3), s"prefix mismatch: $r")
      }
    }
  }

  test("shingleStats == size/array_distinct over native shingles") {
    val onCorpus = Tables.documents(spark, "/root/testdata/sf0.01")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", NativeExprs.shingles(col("toks"), 3))
      .withColumn("st", NativeExprs.shingleStats(col("toks"), 3))
      .select(col("st.n_shingles").as("n"), col("st.n_uniq").as("u"),
        size(col("sh")).as("c_n"), size(array_distinct(col("sh"))).as("c_u"))
      .filter(col("n") =!= col("c_n") || col("u") =!= col("c_u"))
    assert(onCorpus.count() === 0)
    // short/empty/null token arrays -> (0, 0); repeated shingles dedup
    val edges = Seq(
      Some(Seq("a", "b")),                        // n < w
      Some(Seq.empty[String]),
      None,
      Some(Seq("a", "b", "c", "a", "b", "c", "a", "b", "c"))) // repeats
      .toDF("toks")
      .select(NativeExprs.shingleStats(col("toks"), 3).as("st"))
      .select(col("st.n_shingles"), col("st.n_uniq")).collect()
    assert(edges(0).getInt(0) === 0 && edges(0).getInt(1) === 0)
    assert(edges(1).getInt(0) === 0 && edges(1).getInt(1) === 0)
    assert(edges(2).getInt(0) === 0 && edges(2).getInt(1) === 0)
    // 7 windows, distinct = {abc,bca,cab} = 3
    assert(edges(3).getInt(0) === 7 && edges(3).getInt(1) === 3)
  }

  test("jsonIntField == from_json on corpus events and the parity set") {
    def fj(c: org.apache.spark.sql.Column) =
      from_json(c, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))).getField("k")
    val onCorpus = Tables.events(spark, "/root/testdata/sf0.01")
      .select(NativeExprs.jsonIntField(col("props"), "k").as("fast"),
        fj(col("props")).as("slow"))
      .filter(not(col("fast") <=> col("slow")))
    assert(onCorpus.count() === 0)
    val edges = Seq(
      """{"k": 76}""", """{"k":-5}""", """{"k": 2147483647}""",
      """{"k": -2147483648}""", """{"k": 2147483648}""",   // overflow -> null
      """{"k": 1.5}""", """{"k": "7"}""", """{"k": null}""",
      """{"k": true}""", """{"x": 1}""", """{}""", """""",
      """{"a": {"k": 9}}""",          // nested k is NOT the top-level field
      """{"a": [1, {"b": 2}], "k": 3}""",
      """{"s": "brace { quote \" inside", "k": 4}""",
      """{"k": 1, "k": 2}""",         // duplicate: last wins
      """{"k": 1, "k": "x"}""",       // dup conversion error skipped: keep 1
      """{"k": "x", "k": 1}""",       // conversion error skipped: second wins (1)
      """{"k": null, "k": 2}""",      // null is not an error: continue (2)
      """{"k": true, "k": 1}""", """{"k": {"a": 1}}""",
      """{"k": 1, "x" y}""",          // later malformed field: keep k
      """{"k": 007}""", """{"k": +1}""", """{"k": 1} """, """{"k": 1}x""",
      """[1, 2]""", """5""", """garbage""", """{"k"1}""", """{"k": }""",
      // mismatched-bracket containers: a depth counter would accept these;
      // Jackson's tokenizer errors and nulls the whole row
      """{"k": 1, "x": {]}""", """{"k": 1, "x": [}]}""",
      """{"x": [{]], "k": 2}""", """{"x": {"a": [1}}, "k": 3}""",
      """{"k": 4, "x": [[{}]]}""")    // well-formed deep nesting still fine
    val df = edges.toDF("s")
      .select(col("s"), NativeExprs.jsonIntField(col("s"), "k").as("fast"),
        fj(col("s")).as("slow"))
      .filter(not(col("fast") <=> col("slow")))
    val bad = df.collect()
    assert(bad.isEmpty, bad.map(_.toString).mkString("\n"))
  }

  test("redact — seeded fuzz equivalence vs the four-regex form") { withoutNativize {
    // the corpus exercises only natural text; this drives the scanner with
    // adversarial random strings dense in class-boundary characters
    val rnd = new scala.util.Random(4242)
    val alphabet = "ab1209@._%+- \t\nXY@@..--__" + "አ汉é"
    val cases = (1 to 3000).map { _ =>
      val len = rnd.nextInt(40)
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    val df = cases.toDF("text")
      .withColumn("r", NativeExprs.redact(col("text")))
      .select(Seq(col("text"), col("r.redacted"), col("r.n_emails"),
        col("r.n_nums")) ++ regexRedaction(col("text")): _*)
      .filter(col("redacted") =!= col("re_redacted") ||
              col("n_emails") =!= col("re_emails") ||
              col("n_nums") =!= col("re_nums"))
    val bad = df.collect()
    assert(bad.isEmpty, bad.take(5).map(_.toString).mkString("\n"))
  } }

  test("jsonIntField — seeded fuzz equivalence vs from_json") {
    def fj(c: org.apache.spark.sql.Column) =
      from_json(c, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))).getField("k")
    val rnd = new scala.util.Random(2424)
    val frag = Seq("{", "}", "[", "]", "\"k\"", "\"x\"", ":", ",", " ",
      "1", "-2", "0", "007", "1.5", "2e3", "null", "true", "\"v\"",
      "\"a b\"", "2147483648", "{\"k\":9}")
    val cases = (1 to 3000).map { _ =>
      (1 to rnd.nextInt(8)).map(_ => frag(rnd.nextInt(frag.length))).mkString
    }.distinct
    val df = cases.toDF("s")
      .select(col("s"), NativeExprs.jsonIntField(col("s"), "k").as("fast"),
        fj(col("s")).as("slow"))
      .filter(not(col("fast") <=> col("slow")))
    val bad = df.collect()
    assert(bad.isEmpty, bad.take(10).map(_.toString).mkString("\n"))
  }

  test("yearExtract — seeded fuzz equivalence vs regexp_extract") { withoutNativize {
    val re = "\\b(19[5-9]\\d|20\\d{2})\\b"
    val rnd = new scala.util.Random(1717)
    val frag = Seq("19", "20", "1950", "2020", "1949", "2100", "9", "5",
      "x", "_", " ", "አ", "-", "a2020", "2020a", "19999")
    val cases = (1 to 3000).map { _ =>
      (1 to rnd.nextInt(6)).map(_ => frag(rnd.nextInt(frag.length))).mkString
    }.distinct
    val df = cases.toDF("text")
      .select(col("text"), NativeExprs.yearExtract(col("text")).as("fast"),
        regexp_extract(col("text"), re, 1).as("slow"))
      .filter(col("fast") =!= col("slow"))
    val bad = df.collect()
    assert(bad.isEmpty, bad.take(10).map(_.toString).mkString("\n"))
  } }

  test("yearExtract == regexp_extract on corpus and boundaries") { withoutNativize {
    val re = "\\b(19[5-9]\\d|20\\d{2})\\b"
    val onCorpus = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(NativeExprs.yearExtract(col("text")).as("fast"),
        regexp_extract(col("text"), re, 1).as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(onCorpus.count() === 0)
    val edges = Seq(
      "", "1999", "x1999", "1999x", " 1999 ", "1949 1950", "19495 2020",
      "12019", "a2020b 2021", "20 19 2019", "year_2020", "2020_",
      "አማ2020አማ",   // multibyte neighbours are non-word in both engines
      "1950", "2099", "19999", "x 1899 2100 1950")
      .toDF("text")
      .select(col("text"), NativeExprs.yearExtract(col("text")).as("fast"),
        regexp_extract(col("text"), re, 1).as("slow"))
    edges.collect().foreach(r =>
      assert(r.getString(1) === r.getString(2), s"mismatch on '${r.getString(0)}'"))
  } }

  test("tokenCounts == explode(split).groupBy.count on corpus and edges") {
    // multiset equality: exploded (doc, token, tf) triples must match the
    // composed per-doc token counts exactly (q45's narrow-tf contract)
    def viaExpr(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), explode(NativeExprs.tokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.token").as("token"),
              col("tc.tf").cast(LongType).as("tf"))
    def viaComposed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val corpus = Tables.documents(spark, sf0001)
    assert(viaExpr(corpus).exceptAll(viaComposed(corpus)).isEmpty &&
           viaComposed(corpus).exceptAll(viaExpr(corpus)).isEmpty)
    // split-parity edges: leading/trailing/adjacent spaces all keep their
    // empty tokens; "" is one empty token; multibyte text splits on 0x20
    val edges = Seq((1L, ""), (2L, " "), (3L, "a"), (4L, "a "), (5L, " a"),
      (6L, "a  b"), (7L, "a b a b b"), (8L, "ኢትዮጵያ ህግ ህግ"),
      (9L, "  "), (10L, "x " * 1000 + "x")).toDF("doc_id", "text")
    assert(viaExpr(edges).exceptAll(viaComposed(edges)).isEmpty &&
           viaComposed(edges).exceptAll(viaExpr(edges)).isEmpty)
    // null text behaves like split: null array, explode drops the row
    val nulls = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    assert(viaExpr(nulls).count() === 0)
  }

  test("spanDigestLadder — grouping parity vs string n-grams; injectivity") {
    // the ladder's packed (span_len, digest) partition of positions must
    // equal the string n-gram partition at every level: same group COUNT
    // multisets (digest injectivity on this data) and same totals —
    // over the corpus plus the split-parity edge shapes (empty, short and
    // repeated docs)
    import spark.implicits._
    val corpus = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .unionAll(Seq((9001L, ""), (9002L, "a"), (9003L, "a b"),
        (9004L, "a b a b a b a b"), (9005L, ("t " * 70).trim))
        .toDF("doc_id", "text"))
    def spans(docs: org.apache.spark.sql.DataFrame, levels: Int) = docs
      .select(explode(NativeExprs
        .spanDigestLadderPacked(split(col("text"), " "), levels)).as("pk"))
      .select(
        expr("cast(shiftleft(1, cast(shiftrightunsigned(pk, 61) as int)) as int)")
          .as("len"),
        col("pk"))
    val ladder = spans(corpus, 6)
      .groupBy("len", "pk").agg(count(lit(1)).as("c"))
      .collect()
      .groupBy(_.getAs[Int]("len"))
      .view.mapValues(_.map(_.getAs[Long]("c")).sorted.toSeq).toMap
    val strings = (1 to 6).map { k =>
      val w = 1 << k
      w -> corpus
        .select(explode(NativeExprs.shingles(split(col("text"), " "), w)).as("s"))
        .groupBy("s").agg(count(lit(1)).as("c"))
        .collect().map(_.getAs[Long]("c")).sorted.toSeq
    }.toMap
    // the ladder must have a level exactly where the corpus has spans of
    // that width (a missing level is a real failure, not a skip)
    assert(ladder.keySet === strings.filter(_._2.nonEmpty).keySet)
    strings.foreach { case (w, ref) =>
      assert(ladder.getOrElse(w, Seq.empty) === ref,
        s"span_len $w group-count multiset differs")
    }
    // doc-boundary rule: a 3-token doc contributes 2+0+... spans at
    // lengths 2/4; equal spans in different docs share a digest
    val tiny = Seq((1L, "a b c"), (2L, "a b"), (3L, "x a b c y z q r"))
      .toDF("doc_id", "text")
    val rows = spans(tiny, 3).collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.count(_._1 == 2) === 2 + 1 + 7)
    assert(rows.count(_._1 == 4) === 0 + 0 + 5)
    assert(rows.count(_._1 == 8) === 0 + 0 + 1)
    // "a b" digests identically in docs 1, 2 and 3 (position-independent)
    val ab = rows.filter(_._1 == 2).map(_._2)
    assert(ab.distinct.length < ab.length)
    // null text: empty ladder, explode drops the row
    val nulls = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    assert(spans(nulls, 6).count() === 0)
  }

  test("spanDigestLadderPacked — element-for-element parity with the struct ladder") {
    // reference: the struct<span_len, digest> ladder restated in plain
    // Scala — split(text, ' ') tokens, level-1 digest = first 15 hex digits
    // of md5(token), level k+1 = mix(d(i), d(i + half)) — so the packed
    // kernel is checked POSITIONALLY: same ladder, same emission order,
    // same digests modulo the declared 61-bit truncation
    def md5Prefix60(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def mix(a: Long, b: Long): Long = {
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
    def structLadder(text: String, levels: Int): Seq[(Int, Long)] =
      if (text == null) Seq.empty
      else {
        val toks = text.split(" ", -1)
        var d = toks.map(md5Prefix60)
        val out = Seq.newBuilder[(Int, Long)]
        var k = 1
        while (k <= levels && (1 << k) <= toks.length) {
          val len = 1 << k
          d = Array.tabulate(toks.length - len + 1)(i => mix(d(i), d(i + len / 2)))
          d.foreach(v => out += ((len, v)))
          k += 1
        }
        out.result()
      }
    val mask61 = (1L << 61) - 1
    // corpus + the split-parity edge shapes (empty/short/repeated docs)
    // + null text (empty ladder)
    val corpus = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .unionAll(Seq((9001L, Option("")), (9002L, Option("a")), (9003L, Option("a b")),
        (9004L, Option("a b a b a b a b")), (9005L, Option(("t " * 70).trim)),
        (9006L, Option.empty[String]))
        .toDF("doc_id", "text"))
    val got = corpus
      .select(col("doc_id"), col("text"), NativeExprs
        .spanDigestLadderPacked(split(col("text"), " "), 6).as("pk"))
      .collect()
    assert(got.length > 6)
    got.foreach { r =>
      val packed = r.getSeq[Long](2).map { pk =>
        (1 << (pk >>> 61).toInt, pk & mask61)
      }
      val ref = structLadder(r.getString(1), 6).map { case (l, d) => (l, d & mask61) }
      assert(packed === ref, s"doc ${r.getLong(0)} ladder differs")
    }
  }

  test("md5WindowBottomK — equals composed substring/md5/distinct/sort/slice; char windows") {
    import spark.implicits._
    // composed reference: per 1-based char position i, the 60-bit prefix of
    // md5(utf8(substring(text, i, w))); bottom-4 distinct ascending — built
    // with expr() so substring's pos can be the lambda variable (the DSL
    // substring takes literal ints only)
    def refExpr(w: Int, k: Int) =
      // NB: Spark's sequence(1, 0) is the DESCENDING [1, 0], not empty —
      // short texts need the explicit guard
      expr(s"slice(array_sort(array_distinct(transform(" +
        s"CASE WHEN length(text) >= $w THEN sequence(1, length(text) - ${w - 1}) " +
        s"ELSE cast(array() as array<int>) END, " +
        s"i -> cast(conv(substring(md5(cast(substring(text, i, $w) as binary)), 1, 15), 16, 10) as bigint)))), 1, $k)")
    val corpus = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
      .unionAll(Seq(
        (9001L, ""), (9002L, "short"), (9003L, "x" * 47), (9004L, "x" * 48),
        (9005L, "x" * 500),                       // every window identical → 1 hash
        (9006L, "ኢትዮጵያ ህግ መጽሔት " * 20),          // multibyte: char windows ≠ byte windows
        (9007L, ("abc " * 30).trim)).toDF("doc_id", "text"))
    val got = corpus.select(col("doc_id"),
      NativeExprs.md5WindowBottomK(col("text"), 48, 4).as("fp"))
    val want = corpus.select(col("doc_id"), refExpr(48, 4).as("fp"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // all-identical windows collapse to ONE distinct hash
    val one = got.filter(col("doc_id") === 9005L)
      .select(size(col("fp"))).head().getInt(0)
    assert(one === 1)
    // null text → null array (nullSafeEval), not a crash
    val nulls = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    assert(nulls.select(NativeExprs.md5WindowBottomK(col("text"), 48, 4))
      .head().isNullAt(0))
  }

  test("lshMinSig == nested-HOF minhash signature on corpus + edges") {
    // the q83 signature kernel vs the exact HOF formulation it replaces:
    // per permutation p, min md5 hex of 'p:shingle' over the row's array
    def refExpr(n: Int) =
      expr(s"transform(sequence(0, ${n - 1}), " +
        "p -> array_min(transform(shs, s -> md5(concat(cast(p as string), ':', s)))))")
    val corpus = Tables.documents(spark, sf0001)
      .select(expr(
        "array_distinct(transform(sequence(1, greatest(size(split(text, ' ')) - 2, 0)), " +
          "i -> concat(split(text, ' ')[i-1], ' ', split(text, ' ')[i], ' ', split(text, ' ')[i+1])))")
        .as("shs"))
      .unionAll(Seq(
        Seq("one"),                              // single shingle
        Seq("ኢትዮጵያ ህግ መጽሔት", "ascii a b"),       // multibyte preimage
        Seq.empty[String]                        // empty → all-null mins
      ).toDF("shs"))
    Seq(1, 16).foreach { n =>
      val got = corpus.select(NativeExprs.lshMinSig(col("shs"), n).as("sig"))
      val want = corpus.select(refExpr(n).as("sig"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"lshMinSig diverged at nPerms=$n")
    }
    // null element skipped like array_min skips the null md5(concat(p,':',NULL))
    val withNull = Seq(1).toDF("x")
      .select(expr("array('a b c', cast(NULL as string))").as("shs"))
    assert(withNull.select(NativeExprs.lshMinSig(col("shs"), 4).as("sig")).head()
      === withNull.select(refExpr(4).as("sig")).head())
    // null array → null result (nullSafeEval)
    assert(Seq(1).toDF("x")
      .select(NativeExprs.lshMinSig(expr("cast(NULL as array<string>)"), 4))
      .head().isNullAt(0))
  }
}
