package graft

import graft.functions.Aggs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SQL surface of the native expressions (registered via
  * GraftExtensions) and the typed Aggregator demo.
  */
class ExtensionsAndAggsSpec extends SparkSpec {
  import spark.implicits._

  test("native functions callable from SQL via spark.sql.extensions") {
    val r = spark.sql(
      """SELECT dot_f32(array(cast(1.0 as float), cast(2.0 as float)),
        |               array(cast(3.0 as float), cast(4.0 as float))) AS d,
        |       simhash32(array('a','b')) AS sh,
        |       md5_prefix_long('a', 7) AS p7,
        |       size(minhash_sig(array(1L, 2L, 3L), 8)) AS k,
        |       shingles(array('x','y','z'), 2) AS sg,
        |       md5_prefix_all(array('a'), 7) AS pa
      """.stripMargin).head()
    assert(r.getAs[Double]("d") === 11.0)
    assert(r.getAs[Long]("sh") >= 0L)
    // md5('a') = 0cc175b9... → first 7 hex digits
    assert(r.getAs[Long]("p7") === java.lang.Long.parseLong("0cc175b", 16))
    assert(r.getAs[Int]("k") === 8)
    assert(r.getAs[Seq[String]]("sg") === Seq("x y", "y z"))
    assert(r.getAs[Seq[Long]]("pa") === Seq(java.lang.Long.parseLong("0cc175b", 16)))
  }

  test("GraftExtensions registers exactly the pinned SQL functions") {
    // a function joins or leaves the SQL surface only by editing this list
    val registered = spark.catalog.listFunctions().collect()
      .filter(_.className == "graft").map(_.name).toSet
    assert(registered === Set(
      "dot_f32", "simhash32", "minhash_sig", "md5_prefix_long",
      "md5_prefix_all", "shingles", "shingle_md5_prefixes",
      "shingle_md5_bottom_k", "lsh_min_sig", "double_cents", "redact",
      "year_extract", "lower_alnum_run_count", "json_int_field",
      "shingle_stats", "distinct_sorted_prefix", "hrefs", "best_anchor"))
  }

  test("round-3 scanner kernels callable from SQL") {
    val r = spark.sql(
      """SELECT redact('mail a@b.com num 1234567').redacted AS red,
        |       redact('mail a@b.com num 1234567').n_emails AS ne,
        |       year_extract('signed in 1997 x') AS yr,
        |       lower_alnum_run_count('ab1 CD ef2') AS rc,
        |       json_int_field('{"k": 42}', 'k') AS jk,
        |       shingle_stats(array('a','b','c','a','b','c'), 3).n_uniq AS su,
        |       distinct_sorted_prefix(array('c','a','b','a'), 2).prefix AS dp
      """.stripMargin).head()
    assert(r.getAs[String]("red") === "mail <EMAIL> num <NUM>")
    assert(r.getAs[Int]("ne") === 1)
    assert(r.getAs[String]("yr") === "1997")
    assert(r.getAs[Int]("rc") === 2)
    assert(r.getAs[Int]("jk") === 42)
    assert(r.getAs[Int]("su") === 3)
    assert(r.getAs[Seq[String]]("dp") === Seq("a", "b"))
    val h = spark.sql(
      """SELECT hrefs('<a href="/x.pdf">x</a><p><a href=/y>y</a></p>') AS hs"""
    ).head()
    assert(h.getAs[Seq[String]]("hs") === Seq("/x.pdf", "/y"))
    val b = spark.sql(
      """SELECT best_anchor(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |  array(named_struct('anchor_id', 7L,
        |          'av', array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)), 'an', 1.0D),
        |        named_struct('anchor_id', 9L,
        |          'av', array(CAST(2.0 AS FLOAT), CAST(0.0 AS FLOAT)), 'an', 2.0D))) AS b
      """.stripMargin).head().getStruct(0)
    assert(b.getLong(1) === 9L && b.getDouble(0) === 1.0)
  }

  test("SQL function values match the Column API") {
    val docs = Tables.documents(spark, sf0001).limit(50)
    docs.createOrReplaceTempView("t_ext_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, simhash32(split(text, ' ')) AS h FROM t_ext_docs")
    val viaApi = docs.select($"doc_id",
      graft.functions.TextOps.simhash32(split($"text", " ")).as("h"))
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
  }

  test("WeightedAvg aggregator — decimal-safe, partition-independent") {
    val data = Tables.lineitem(spark, sf0001)
      .select($"l_extendedprice".as("value"), $"l_quantity".as("weight"))
      .as[Aggs.ValueWeight]
    val a = data.repartition(1).select(Aggs.WeightedAvg.toColumn).head()
    val b = data.repartition(13).select(Aggs.WeightedAvg.toColumn).head()
    assert(a === b) // merge-order independence, exact
    // cross-check vs the SQL decimal formula
    val sql = Tables.lineitem(spark, sf0001)
      .agg((sum(($"l_extendedprice".cast(DecimalType(28, 6)) *
                 $"l_quantity".cast(DecimalType(28, 6)))) /
            sum($"l_quantity".cast(DecimalType(28, 6))))
        .cast(DoubleType)).head().getDouble(0)
    assert(math.abs(a - sql) < 1e-3, s"$a vs $sql")
  }

  test("WeightedAvg — empty input yields NaN") {
    val empty = spark.emptyDataset[Aggs.ValueWeight]
    assert(empty.select(Aggs.WeightedAvg.toColumn).head().isNaN)
  }

  test("VecAvg aggregator — centroid equals posexplode mean, nulls ignored") {
    val vecAvg = udaf(Aggs.VecAvg)
    val emb = Tables.embeddings(spark, sf0001)
    val byAgg = emb.groupBy("label").agg(vecAvg($"embedding").as("c"))
      .collect()
      .map(r => r.getAs[Int]("label") ->
        r.getSeq[Double](r.fieldIndex("c")).toVector)
      .toMap
    // reference: the exploded-dimension formulation the scaladoc rejects
    // for scale — same values, worse shape
    val byExplode = emb
      .select($"label", posexplode($"embedding".cast(ArrayType(DoubleType))))
      .groupBy("label", "pos").agg(avg($"col").as("c"))
      .collect()
      .groupBy(_.getAs[Int]("label"))
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("c")).toVector
      }
    assert(byAgg.keySet === byExplode.keySet)
    byAgg.foreach { case (l, c) =>
      val ref = byExplode(l)
      assert(c.size === ref.size)
      c.zip(ref).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"label $l: $a vs $b")
      }
    }
    // partition-count invariance at double precision tolerance (sum
    // re-association only)
    val p1 = emb.repartition(1).agg(vecAvg($"embedding")).head().getSeq[Double](0)
    val p13 = emb.repartition(13).agg(vecAvg($"embedding")).head().getSeq[Double](0)
    p1.zip(p13).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    // null and empty vectors are ignored; an all-null group is empty
    val mixed = Seq(
      (0, Option(Array(1f, 3f))), (0, None), (0, Option(Array(3f, 5f))),
      (1, None)).toDF("g", "v")
    val m = mixed.groupBy("g").agg(vecAvg($"v").as("c")).collect()
      .map(r => r.getAs[Int]("g") ->
        r.getSeq[Double](r.fieldIndex("c")).toVector).toMap
    assert(m(0) === Vector(2.0, 4.0))
    assert(m(1) === Vector.empty[Double])
  }

  test("MisraGries — compressed regime still certifies an exact top-k") {
    import graft.operators.HeavyHitters
    // skewed corpus: three heavy tokens over a long all-unique tail, so a
    // capacity-8 summary MUST compress (delta > 0) yet the certificate
    // (k-th exact count > delta) still proves the top-3 exact
    val docs = (0 until 200).map { i =>
      (i.toLong, "alpha alpha alpha alpha alpha beta beta beta gamma gamma " +
        s"u${i}a u${i}b")
    }.toDF("doc_id", "text").repartition(4)
    val s = HeavyHitters.summarize(docs, "text", m = 8)
    assert(s.delta > 0L, "corpus chosen to force compression")
    assert(s.counts.size <= 8)
    // invariant: est(x) ∈ [f(x) − delta, f(x)] for the surviving counters
    val exact = Map("alpha" -> 1000L, "beta" -> 600L, "gamma" -> 400L)
    exact.foreach { case (t, f) =>
      val est = s.counts.getOrElse(t, 0L)
      assert(est <= f && est >= f - s.delta, s"$t: est $est vs f $f Δ ${s.delta}")
    }
    val top = HeavyHitters.exactTopK(docs, "text", k = 3, m = 8).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt"))
    assert(top.toSeq === Seq("alpha" -> 1000L, "beta" -> 600L, "gamma" -> 400L))
    // partition-count independence of what the bound PROVES: a 1-partition
    // summary certifies the same top-k (delta may differ, the answer not)
    val top1 = HeavyHitters.exactTopK(docs.repartition(1), "text", k = 3, m = 8)
      .collect().map(r => r.getAs[String]("token") -> r.getAs[Long]("cnt"))
    assert(top1.toSeq === top.toSeq)
  }

  test("MisraGries — certificate refuses uniform data at tiny capacity") {
    import graft.operators.HeavyHitters
    // all-unique tokens: no token's count can exceed the decrement bound,
    // so an exact top-k claim would be a lie — the operator must throw,
    // not return its best guess
    val docs = (0 until 100).map(i => (i.toLong, s"u$i v$i"))
      .toDF("doc_id", "text").repartition(4)
    val e = intercept[IllegalArgumentException] {
      HeavyHitters.exactTopK(docs, "text", k = 3, m = 4)
    }
    assert(e.getMessage.contains("certificate failed"))
  }
}
