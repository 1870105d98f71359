package graft.etl

/** CLI twin of the reference's consolidated batch pipeline
  * (E1, `python "import requests.py"` — SURVEY §3): staged binaries in,
  * reference-shaped JSON documents + quarantine report out. Mixed
  * PDF+DOCX corpora are routed per row by magic bytes (r11,
  * SniffingExtractor) with the auto_ingest vol*-vs-statute category
  * rule — the one-sweep shape of the reference's CI ingest.
  *
  * Usage: runMain graft.etl.RunPipeline <binaryDir> <outDir> [processedDir]
  *   binaryDir    directory of PDF/DOCX blobs (binaryFile source)
  *   outDir       writes documents/ (JSON) and quarantine/ (JSON)
  *   processedDir optional existing documents dir — its base names are
  *                skipped (S5 incremental anti-join)
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(binaryDir, outDir) = args.take(2)
    val processedDir = args.lift(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // the shared base only: production runs keep Spark's default sizing
    // (DEPLOY.md), not the bench corpus's
    val spark = graft.SparkBoot.base(cpus)
    import org.apache.spark.sql.functions._

    val staged = spark.read.format("binaryFile").load(binaryDir)
      .select(col("path").as("url"), col("content"))
    val links = processedDir match {
      case Some(dir) =>
        // reconstruct base names from sourceURL with the SAME derivation
        // the anti-join uses — the old title-based inversion
        // (title.replace(' ','_')) broke for literal-space filenames
        // ('Vol 01.pdf' never matched → re-ingested every run) and
        // collided 'a b.pdf' with 'a_b.pdf' (review finding r11)
        val processed = Pipeline.readDocs(spark, dir)
          .select(DocOps.baseNameOf(col("sourceURL")).as("base_name"))
        Pipeline.incremental(staged.select("url"), processed)
          .join(staged, Seq("url"))
      case None => staged
    }
    val ingestDate = java.time.LocalDate.now().toString
    val out = Pipeline.process(links, SniffingExtractor(), ingestDate,
      category = DocOps.autoCategory(col("url")))
    Pipeline.writeDocs(out.docs, s"$outDir/documents")
    out.quarantine.write.mode("overwrite").json(s"$outDir/quarantine")
    val nDocs = Pipeline.readDocs(spark, s"$outDir/documents").count()
    // count what was written, read back with a fixed schema: a
    // schema-inferring read of an empty quarantine dir (the all-parsed
    // success path) has no schema to infer and crashes
    val nQuar = spark.read.schema("url STRING, reason STRING")
      .json(s"$outDir/quarantine").count()
    println(s"""{"documents":$nDocs,"quarantined":$nQuar}""")
    spark.stop()
  }
}
