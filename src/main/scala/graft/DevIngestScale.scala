package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: 1× vs N× scale smoke for the BINARY INGEST path (VERDICT r11
  * item 5) — the round-11 surface that DevScale's query sweep doesn't
  * touch: `SniffingExtractor` routing a mixed PDF/DOCX corpus through
  * `Pipeline.process` (one narrow pass: indexed pages plus, for rows
  * without text, the reason-coded diagnosis → one url-keyed reassembly →
  * S11 gate).
  *
  * The corpus is SYNTHESIZED deterministically per doc id (no wall-clock,
  * no RNG — same bytes every run) and STAGED to parquet before timing, so
  * the measurement is read → extract → reassemble → sink, not generation:
  *  - id % 4 ∈ {0,1} → a 3-page DOCX (JDK-zip, the DocxExtractorSpec
  *    fixture shape, zero entry timestamps);
  *  - id % 4 == 2    → a 3-stream Flate PDF (the PipelineSpec shape);
  *  - id % 4 == 3    → alternating DCT-only PDFs and garbage bytes — the
  *    two quarantine classes, so the diagnosis re-parse (which only runs
  *    on rows without text) is part of what's measured.
  *
  * Expected shape: extraction is per-row mapPartitions work and the
  * reassembly exchange is url-keyed and carries page text and reason
  * strings only, never the binaries, so N× docs should cost ~N× wall on
  * fixed cores (linear, embarrassingly parallel —
  * the property a 1000-executor cluster relies on). A superlinear ratio
  * here would mean the pipeline holds per-partition state that grows with
  * the corpus.
  */
object DevIngestScale {
  private val PageBreak = """<w:p><w:r><w:br w:type="page"/></w:r></w:p>"""

  private[graft] def docxBytes(id: Long): Array[Byte] = {
    val pages = (0 until 3).map { p =>
      s"Statute $id page $p " +
        (0 until 60).map(t => "w" + ((id * 7 + p * 13 + t) % 997)).mkString(" ")
    }
    val body = pages
      .map(pg => s"<w:p><w:r><w:t>$pg</w:t></w:r></w:p>")
      .mkString(PageBreak)
    val xml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
        "<w:body>" + body + "</w:body></w:document>"
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, bytes: Array[Byte]): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L) // deterministic bytes: zip stores mtimes
      z.putNextEntry(e); z.write(bytes); z.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    entry("word/document.xml",
      xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    z.close()
    bos.toByteArray
  }

  private def deflate(s: String): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    d.finish()
    val buf = new Array[Byte](65536)
    val n = d.deflate(buf); d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  private def pdfDoc(objs: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    def w(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n"); objs.foreach(w); w("%%EOF\n")
    out.toByteArray
  }

  private def streamObj(num: Int, dict: String, data: Array[Byte]): String =
    s"$num 0 obj\n<< /Length ${data.length} $dict >>\nstream\n" +
      new String(data, java.nio.charset.StandardCharsets.ISO_8859_1) +
      "\nendstream\nendobj\n"

  private[graft] def flatePdfBytes(id: Long): Array[Byte] = {
    val streams = (0 until 3).map { p =>
      val text = s"Decision $id page $p " +
        (0 until 60).map(t => "v" + ((id * 11 + p * 17 + t) % 997)).mkString(" ")
      streamObj(p + 1, "/Filter /FlateDecode", deflate(s"BT ($text) Tj ET"))
    }
    pdfDoc(streams :+ "9 0 obj\n<< /Type /Page /Contents 1 0 R >>\nendobj\n")
  }

  private[graft] def dctOnlyPdfBytes(id: Long): Array[Byte] = {
    val fakeJpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte,
      0xE0.toByte) ++ s"raster scan $id".getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1)
    pdfDoc(Seq(streamObj(1, "/Filter /DCTDecode", fakeJpeg),
      "2 0 obj\n<< /Type /Page /Contents 1 0 R >>\nendobj\n"))
  }

  private[graft] def binaryFor(id: Long): Array[Byte] = (id % 4) match {
    case 0 | 1 => docxBytes(id)
    case 2 => flatePdfBytes(id)
    case _ =>
      if (id % 8 == 3) dctOnlyPdfBytes(id)
      else s"garbage bytes $id".getBytes(
        java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkBoot.session("4")
    spark.sparkContext.setLogLevel("ERROR")

    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    val base = sys.env.getOrElse("SPARK_GRAFT_INGEST_BASE", "2000").toLong
    val mkBin = udf((id: Long) => binaryFor(id))

    def stage(n: Long, dir: String): Unit =
      spark.range(n)
        .select(concat(lit("https://fsc.gov.et/sim/doc"), col("id"),
            lit(".bin")).as("url"),
          mkBin(col("id")).as("content"))
        .repartition(8)
        .write.mode("overwrite").parquet(dir)

    val dir1 = "/tmp/graft_ingest_1x"
    val dirN = s"/tmp/graft_ingest_${replicas}x"
    println(s"[ingest-scale] staging $base docs at $dir1, " +
      s"${base * replicas} at $dirN")
    stage(base, dir1)
    stage(base * replicas, dirN)

    def runOnce(dir: String): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val out = etl.Pipeline.process(spark.read.parquet(dir),
        etl.SniffingExtractor(), "2026-08-15")
      // both channels consumed, like a real run (docs sink + quarantine
      // compensating action); counts double as the correctness check
      val nd = out.docs.count()
      val nq = out.quarantine.count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (sec, nd, nq)
    }

    def time(dir: String, expectDocs: Long, expectQuar: Long): Double = {
      val runs = (1 to 3).map(_ => runOnce(dir))
      runs.foreach { case (_, nd, nq) =>
        require(nd == expectDocs && nq == expectQuar,
          s"ingest counts off at $dir: docs=$nd (want $expectDocs) " +
            s"quarantine=$nq (want $expectQuar)")
      }
      runs.map(_._1).sorted.apply(1)
    }

    // ids 0..n: % 4 ∈ {0,1,2} extract (3n/4 docs), % 4 == 3 quarantines
    def docsOf(n: Long) = n - n / 4
    def quarOf(n: Long) = n / 4
    val t1 = time(dir1, docsOf(base), quarOf(base))
    val tN = time(dirN, docsOf(base * replicas), quarOf(base * replicas))
    println(f"[ingest-scale] mixed sniffing ingest  1x=${t1}%7.3f s  " +
      f"${replicas}%dx=${tN}%7.3f s  ratio=${tN / t1}%5.2f")
    spark.stop()
  }
}
