package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The composed curation pipeline on the real documents corpus: stage
  * accounting adds up, survivors are unique, near-dup clusters keep exactly
  * their min-id representative, and annotations are present.
  */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("curate — stage accounting, uniqueness, representatives, annotations") {
    val docs = Tables.documents(spark, sf0001)
    val n0 = docs.count()
    val r = CorpusPipeline.curate(docs, "doc_id", "text",
      CorpusPipeline.Config(jaccardThreshold = 0.5, minTokens = 5,
        maxTokens = 100000, minQuality = 0.0))
    // accounting
    assert(r.corpus.count() ===
      n0 - r.droppedExact - r.droppedNearDup - r.droppedQuality)
    assert(r.droppedExact >= 0 && r.droppedNearDup > 0) // corpus has near-dups
    // survivors unique by id and by content hash
    assert(r.corpus.select("doc_id").distinct().count() === r.corpus.count())
    assert(r.corpus.select(md5($"text".cast("binary"))).distinct().count()
      === r.corpus.count())
    // no surviving pair is still a near-dup at the threshold
    val residualPairs = Dedup.jaccardPairs(r.corpus, "doc_id", "text", 0.5)
    assert(residualPairs.count() === 0)
    // every q31 near-dup pair (threshold 0.5) lost its larger member
    val q31 = graft.queries.Catalog.byName("q31_jaccard_pairs")
      .build(spark, sf0001)
    val survivingLosers = r.corpus.select($"doc_id".as("j"))
      .join(q31.select("j").distinct(), Seq("j"), "left_semi")
    assert(survivingLosers.count() === 0)
    // annotations present and sane
    val row = r.corpus.select("lang_pred", "n_tokens", "quality").head()
    assert(row.getString(0).nonEmpty)
    assert(row.getLong(1) >= 5)
    assert(row.getDouble(2) >= 0.0 && row.getDouble(2) <= 1.0)
  }

  test("curate — accounting holds under the bench config (AQE off) with scan fanout firing") {
    // the q55 shape at sf0.01 under the bench's AQE-off, width-8 config
    // (SparkBoot.session) on a one-file corpus, so ScanFanoutRule fans the
    // shingle scan curate() runs while its Observations are in flight (a
    // build-time gate that probed the frame with rdd.getNumPartitions fired
    // those observations with zeros — n_input 0, dropped_contaminated -333)
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      val input = docs.filter($"doc_id" >= 5)
      val (r, plans) = graft.SpecHelpers.executedPlans(spark) {
        CorpusPipeline.curate(input, "doc_id", "text",
          CorpusPipeline.Config(exactNearDup = true),
          Some(docs.filter($"doc_id" < 5)))
      }
      assert(plans.exists(graft.SpecHelpers.fanouts(_) > 0),
        s"fanout must fire on a one-file corpus:\n${plans.mkString("\n")}")
      val n0 = input.count()
      val kept = r.corpus.count()
      r.corpus.unpersist()
      // the DuckDB-oracled q55 row: n_input, n_kept, then the four drops
      assert((n0, kept, r.droppedExact, r.droppedNearDup,
          r.droppedContaminated, r.droppedQuality) ===
        ((495L, 104L, 0L, 24L, 138L, 229L)), r)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.catalog.clearCache()
  }

  test("curate — stage 2b drops benchmark-contaminated docs, accounting adds up") {
    // doc 20 shares a full 3-shingle run with the "benchmark" doc; docs 10
    // and 30 share nothing with it. maxBenchOverlap = 0 → only 20 drops.
    val contaminatedSpan = (1 to 12).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (10L, (1 to 15).map(i => s"x$i").mkString(" ")),
      (20L, s"prefix words here $contaminatedSpan trailing tail tokens"),
      (30L, (1 to 15).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((900L, contaminatedSpan)).toDF("doc_id", "text")
    val r = CorpusPipeline.curate(docs, "doc_id", "text",
      CorpusPipeline.Config(jaccardThreshold = 0.9, minTokens = 1,
        minQuality = 0.0),
      bench = Some(bench))
    assert(r.droppedContaminated === 1L, s"expected doc 20 dropped: $r")
    assert(r.corpus.select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(10L, 30L))
    assert(r.corpus.count() === 3L - r.droppedExact - r.droppedNearDup -
      r.droppedContaminated - r.droppedQuality)
    // and with a tolerance above the overlap count, nothing drops
    val r2 = CorpusPipeline.curate(docs, "doc_id", "text",
      CorpusPipeline.Config(jaccardThreshold = 0.9, minTokens = 1,
        minQuality = 0.0, maxBenchOverlap = 1000L),
      bench = Some(bench))
    assert(r2.droppedContaminated === 0L)
    assert(r2.corpus.count() === 3L)
  }

  test("curate — chain cluster A~B~C with A≁C keeps exactly min-id (transitive)") {
    // B shares half its shingles with A and half with C; A and C share none.
    // jaccard(A,B) = jaccard(B,C) ≈ 0.47, jaccard(A,C) = 0 — a 3-node chain
    // at threshold 0.4. Round-1's drop-max-per-pair would keep only A but by
    // accident of pair orientation; the connected-components pass must keep
    // exactly min-id per CLUSTER by construction.
    val xs = (1 to 20).map(i => s"x$i").mkString(" ")
    val ys = (1 to 20).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (10L, xs),              // A
      (20L, s"$xs $ys"),      // B — bridges A and C
      (30L, ys),              // C
      (99L, "entirely unrelated words zebra quark lattice"))
      .toDF("doc_id", "text")
    val r = CorpusPipeline.curate(docs, "doc_id", "text",
      CorpusPipeline.Config(jaccardThreshold = 0.4, minTokens = 1,
        minQuality = 0.0))
    assert(r.corpus.select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(10L, 99L))
    assert(r.droppedNearDup === 2) // B and C collapse into A's cluster
  }

  test("prepare — curated corpus samples to mix and packs within capacity") {
    val docs = Tables.documents(spark, sf0001)
    val r = CorpusPipeline.curate(docs, "doc_id", "text",
      CorpusPipeline.Config(jaccardThreshold = 0.5, minTokens = 5,
        maxTokens = 100000, minQuality = 0.0))
    val capacity = 512L
    val packed = CorpusPipeline.prepare(r.corpus, "doc_id", capacity,
      mix = Map("en" -> 0.5))
    // every surviving sampled doc is packed exactly once
    assert(packed.select("doc_id").distinct().count() === packed.count())
    // capacity bound (oversized singletons excepted)
    val over = packed.groupBy("pack_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .filter(col("tot") > capacity && col("n") > 1)
    assert(over.count() === 0)
    // 'en' was downsampled, other languages kept whole
    val before = r.corpus.groupBy("lang_pred").count()
      .as[(String, Long)].collect().toMap
    val after = packed.groupBy("lang_pred").count()
      .as[(String, Long)].collect().toMap
    assert(after("en") < before("en"))
    before.keys.filterNot(_ == "en").foreach { l =>
      assert(after.getOrElse(l, 0L) === before(l), s"$l should be kept whole")
    }
    r.corpus.unpersist()
  }

  test("curate — quality gate drops short docs") {
    val docs = Seq(
      (1L, "one two"),                                     // too short
      (2L, ("the quick brown fox " * 20).trim))            // fine
      .toDF("doc_id", "text")
    val r = CorpusPipeline.curate(docs, "doc_id", "text",
      CorpusPipeline.Config(minTokens = 10, minQuality = 0.0))
    assert(r.corpus.select("doc_id").as[Long].collect().toSeq === Seq(2L))
    assert(r.droppedQuality === 1)
  }
}
