package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{DocExtractor, DocxExtractor, FlatePdfExtractor, PageExtractor, SniffingExtractor}
import graft.functions.TextOps
import graft.functions.expressions.NativeExprs
import graft.operators.{Ann, CorpusPipeline, Decontaminate, Dedup, MinHashLsh}

/** Per-layer probes of the traced run. Each drives one public entry point
  * from outside, inside a span of the tracer, and reports its own unit.
  */
final class Layers(spark: SparkSession, tracer: Tracer, data: String) {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median wall ms of `reps` runs of `body`, each a span named `name`,
    * with `reset` run untimed after each.
    */
  private def timeMs(name: String, reps: Int, reset: () => Unit = () => ())(
      body: => Unit): Double = {
    median((1 to reps).map { _ =>
      val op = tracer.nextOp()
      tracer.begin(op)
      try {
        tracer.ms(tracer.timed(op, -1, name)(body)._2)
      } finally { tracer.end(); reset() }
    })
  }

  /** ns per row of each public kernel: the kernel projected over its
    * input column, minus the same scan projecting only that input. The
    * input is the documents (or embeddings) table replicated to a cached
    * frame large enough that per-row work outweighs per-job overhead.
    */
  def kernels(): Map[String, Double] = {
    val reps = 3
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .crossJoin(spark.range(10).withColumnRenamed("id", "r"))
      .select(TextOps.tokens(col("text")).as("toks"))
      .withColumn("hashes", NativeExprs.md5PrefixAll(
        NativeExprs.shingles(col("toks"), 3), 7))
      .cache()
    val nDocs = docs.count().toDouble
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .crossJoin(spark.range(10).withColumnRenamed("id", "r"))
      .select(transform(col("embedding"),
        x => (x * 1000000).cast("long")).as("v"))
      .cache()
    val nVecs = emb.count().toDouble
    val cents = emb.limit(8).collect().map(_.getSeq[Long](0)).zipWithIndex
    val centsCol = array(cents.map { case (v, i) =>
      struct(lit(i).as("cid"), array(v.map(lit): _*).as("cv"))
    }.toIndexedSeq: _*)
    def perRow(name: String, frame: DataFrame, rows: Double, input: String,
               kernel: org.apache.spark.sql.Column): (String, Double) = {
      val bare = timeMs(s"kernel.$name.bare", reps)(
        noop(frame.select(col(input))))
      val full = timeMs(s"kernel.$name", reps)(noop(frame.select(kernel)))
      s"kernel.$name.ns_per_row" -> (full - bare) * 1e6 / rows
    }
    val out = Map(
      perRow("shingle_md5_bottomk", docs, nDocs, "toks",
        NativeExprs.shingleMd5BottomK(col("toks"), 3, 16)),
      perRow("minhash_sig", docs, nDocs, "hashes",
        NativeExprs.minhashSig(col("hashes"), 16)),
      perRow("simhash32", docs, nDocs, "toks",
        NativeExprs.simhash32(array_distinct(col("toks")))),
      perRow("token_counts", docs, nDocs, "toks",
        NativeExprs.tokenCounts(array_join(col("toks"), " "))),
      perRow("nearest_centroid_l2", emb, nVecs, "v",
        NativeExprs.nearestCentroidL2(col("v"), centsCol)))
    docs.unpersist(); emb.unpersist()
    out
  }

  /** Wall ms of each public corpus operator through a noop sink. */
  def operators(): Map[String, Double] = {
    val reps = 2
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
    val pairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text", 0.8)
      .localCheckpoint(true)
    val benchDocs = docs.filter(col("doc_id") % 50 === 0)
    // operators may persist intermediates; each repetition starts without them
    def op(name: String)(df: => DataFrame) =
      s"op.$name.ms" -> timeMs(s"op.$name", reps,
        () => spark.catalog.clearCache())(noop(df))
    Map(
      op("minhash_near_dup_pairs")(
        MinHashLsh.nearDupPairs(docs, "doc_id", "text", 0.8)),
      op("exact_keep_min")(Dedup.exactKeepMin(docs, "doc_id", "text")),
      op("connected_components")(Dedup.connectedComponents(pairs, "i", "j")),
      op("ann_ivf_topk")(Ann.ivfTopK(emb, "vec_id", "embedding", 0L, 10)),
      op("decontaminate_overlap")(Decontaminate.overlap(
        Decontaminate.shingleSet(docs, "doc_id", "text"),
        Decontaminate.shingleSet(benchDocs, "doc_id", "text"),
        docs.select("doc_id"), "doc_id")),
      op("curate")(CorpusPipeline.curate(docs, "doc_id", "text").corpus))
  }

  /** µs per document of each codec, called directly on one thread over the
    * corpus documents of its kind; `sniff` is the routing extractor over
    * the whole mix and `diagnose` its reason codes over the quarantine kinds.
    */
  def codecs(corpus: Seq[IngestCorpus.Doc]): Map[String, Double] = {
    val sniff = SniffingExtractor()
    val quarantineKinds = Set("pdf_encrypted", "ooxml_encrypted",
      "doc_encrypted", "dct_only", "garbage")
    def usPerDoc(name: String, docs: Seq[Array[Byte]])(
        call: Array[Byte] => Any): (String, Double) = {
      val rounds = (1 to 3).map { _ =>
        val op = tracer.nextOp()
        val s = tracer.now()
        var n = 0
        while (n < docs.size || tracer.now() - s < 30) {
          call(docs(n % docs.size)); n += 1
        }
        val e = tracer.now()
        tracer.span(op, -1, s"codec.$name", s, e)
        (e - s) * 1000 / n
      }
      s"codec.$name.us_per_doc" -> median(rounds)
    }
    def of(kind: String) = corpus.filter(_.kind == kind).map(_.bytes)
    def codec(kind: String, c: PageExtractor) =
      usPerDoc(kind, of(kind))(c.extractPages)
    Map(
      codec("flate_pdf", FlatePdfExtractor),
      codec("docx", DocxExtractor),
      codec("doc", DocExtractor),
      codec("pdf_encrypted", FlatePdfExtractor),
      codec("ooxml_encrypted", DocxExtractor),
      codec("doc_encrypted", DocExtractor),
      usPerDoc("sniff", corpus.map(_.bytes))(sniff.extractPages),
      usPerDoc("diagnose",
        corpus.filter(d => quarantineKinds(d.kind)).map(_.bytes))(sniff.diagnose))
  }
}
