package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** The reference's batch ingestion pipeline (E1/E2, SURVEY §3) re-expressed
  * as composable DataFrame stages. Shape at scale: the per-document section
  * (S9, S11 reason) is one narrow projection over however many executors
  * hold the binary partitions; the wide operations are the S10 url-keyed
  * reassembly (page text and reason strings only — never the binaries),
  * the S5 incremental anti-join (shuffle on base_name) and any
  * file-per-doc sink repartition.
  *
  * Error containment (S16, fetch_legal_docs.py:93-96): extraction failures
  * become quarantine rows, never task failures — `process` returns both
  * channels and the caller picks sinks for each.
  */
object Pipeline {

  /** S1–S3: hrefs scraped from a listing page → absolute PDF URLs.
    * (The HTTP fetch itself is driver-side / pre-staged — SURVEY §2.1 S1.)
    */
  def linksFromHrefs(hrefs: DataFrame, base: String = DocOps.DefaultBase): DataFrame =
    hrefs
      .filter(DocOps.isPdfLink(col("href")))
      .select(DocOps.absolutize(col("href"), base).as("url"))

  /** S1 parse + S2/S3, fully distributed: staged listing PAGES (any frame
    * with an HTML string column — e.g. `spark.read.text`/`binaryFile` over
    * fetched listings) → absolute PDF URLs. Only the network GET remains
    * driver-side (zero-egress); the HTML→href tokenization runs inside the
    * scan via the one-pass hrefs kernel, so a million listing pages parse
    * with executor parallelism (reference: scrape_pdf_links.py:12-14 does
    * this single-threaded per page).
    */
  def linksFromListingHtml(pages: DataFrame, htmlCol: String = "html",
                           base: String = DocOps.DefaultBase): DataFrame =
    linksFromHrefs(
      pages.select(explode(graft.functions.expressions.NativeExprs
        .hrefs(col(htmlCol))).as("href")),
      base)

  /** S5 — incremental anti-join: keep only URLs whose base_name has no
    * already-processed output (reference: fetch_legal_docs.py:41-43, the
    * file-exists check — generalized to a distributed anti-join so the
    * "processed set" can be 10^10 rows without a driver-side lookup).
    */
  def incremental(links: DataFrame, processedBaseNames: DataFrame): DataFrame = {
    val withBase = links.withColumn("base_name", DocOps.baseNameOf(col("url")))
    withBase.join(processedBaseNames.select(col("base_name")),
                  Seq("base_name"), "left_anti")
  }

  /** Result channels of the per-document stage (S16 quarantine pattern). */
  final case class Processed(docs: DataFrame, quarantine: DataFrame)

  /** Raster-loss visibility (VERDICT r13 item 4): per-(url, filter)
    * counts of stream objects the codec skipped for unsupported filters
    * — the text a no-OCR corpus silently loses to scanned pages. Runs on
    * ALL binaries (good-channel documents included: a half-scanned
    * volume extracts its text pages and never reaches quarantine, which
    * is exactly why the loss needs its own channel). Lazy frame, same
    * narrow-scan shape as the S9 projection — callers aggregate it into
    * the metrics feed ([[MetricsExport]]) / hub status; at 100 TB only
    * (url, filter, count) rows ever leave the scan.
    */
  def rasterLoss(binaries: DataFrame, extractor: PageExtractor): DataFrame = {
    val skipUdf = udf((bytes: Array[Byte]) =>
      if (bytes == null) Map.empty[String, Int]
      else try extractor.skippedStreams(bytes)
      catch { case _: Exception => Map.empty[String, Int] })
    binaries.select(col("url"),
      explode(skipUdf(col("content"))).as(Seq("filter", "n_streams")))
  }

  /** S9–S14 over staged binaries: (url, content: BINARY) → document records
    * + quarantine channel, in one narrow pass and one url-keyed shuffle.
    * `extractor` runs inside a deserializing map — the page *dataflow*
    * (indexed pages → order-preserving reassembly) is plain Spark.
    *
    * Per binary row, one projection keeps the row's `(pos, txt)` pages
    * and, only when those pages hold no text or the url is null, runs
    * the codec's structural diagnosis on the bytes already at hand — the
    * happy path pays nothing for it. Then one `groupBy(url)` carries
    * only page text and reason strings: the binary column is never
    * shuffled and nothing joins back onto the binaries. Both channels
    * filter that one aggregate, so each row lands in exactly one of
    * them; a url staged twice stays one row (its pages merged by
    * `(pos, txt)`, its reason the minimum over its copies).
    *
    * The per-row projection — `(url, pages, reason)`, text only — is
    * persisted lazily and shared: `process` runs no job, the first
    * channel action extracts and diagnoses each row once, and the other
    * channel reassembles from the cached rows (a lost block recomputes
    * from the lineage). The cache lives exactly as long as the channel
    * frames: once neither is reachable, a [[java.lang.ref.Cleaner]]
    * unpersists it, so no caller releases anything. Nothing is shared
    * across `process` calls — each call's UDFs are new instances, so a
    * re-staged path is always extracted afresh. The rows are cached, not
    * the url-keyed aggregate: under AQE, Spark plans a cached query with
    * its final shuffle left uncoalesced, so a cached aggregate runs at
    * the static `spark.sql.shuffle.partitions` width (200 in a default
    * session, as `RunPipeline` runs) however small the batch. The rows
    * have no shuffle, and each channel's aggregate coalesces as before.
    *
    * @param keepEmptyPages mcp_server.py:27-28 keeps empty pages as "";
    *                       the CLI pipeline drops them (fetch_legal_docs.py:63).
    * @param ingestDate     injected run date (reference uses today();
    *                       injection keeps runs reproducible).
    */
  def process(binaries: DataFrame, extractor: PageExtractor,
              ingestDate: String, keepEmptyPages: Boolean = false,
              category: Column = lit("CassationDecision")): Processed = {
    val extractUdf = udf((bytes: Array[Byte]) =>
      if (bytes == null) Seq.empty[String]
      else try Option(extractor.extractPages(bytes)).getOrElse(Nil)
      catch { case _: Exception => Seq.empty[String] })
    val diagnoseUdf = udf((bytes: Array[Byte]) =>
      if (bytes == null) "no-content"
      else try extractor.diagnose(bytes)
      catch { case _: Exception => "empty-text" })

    // S9: binary → kept pages, each with its index in the codec's output
    // so page order survives the shuffle (§7.3)
    val keep = (txt: Column) =>
      if (keepEmptyPages) txt.isNotNull else DocOps.nonEmptyPage(txt)
    val pages = binaries.select(col("url"), col("content"),
      filter(transform(extractUdf(col("content")),
          (page, pos) => struct(pos.as("pos"), page.as("txt"))),
        p => keep(p.getField("txt"))).as("pages"))

    // S11 per row, S16 reason: diagnose only a row that cannot make a
    // document on its own. `pages` is read twice below, so the optimizer
    // keeps it a separate projection instead of inlining the extraction
    // into the reason as well.
    val hasText = exists(col("pages"), p => DocOps.nonEmptyPage(p.getField("txt")))
    val rows = pages.select(col("url"), col("pages"),
      when(col("url").isNull || !hasText, diagnoseUdf(col("content")))
        .as("reason"))
      .persist()

    // S10: ordered reassembly — the url's pages sorted by (pos, txt) and
    // joined (DocOps.joinPages). S11 gate: whitespace-only text means a
    // failed/garbage parse — the reference logs and skips
    // (fetch_legal_docs.py:66-68) and the consolidated variant deletes the
    // bad PDF (import requests.py:84); here the row lands in `quarantine`
    // for the caller's compensating action, as does a null url, which no
    // document record can carry.
    val reassembled = rows.groupBy("url").agg(
      DocOps.joinPages(flatten(collect_list(col("pages")))).as("content"),
      min(col("reason")).as("reason"))
    val isDoc = col("url").isNotNull && DocOps.nonEmptyDoc(col("content"))
    val good = reassembled
      .filter(isDoc)
      .select(DocOps.docRecord(col("url"), col("content"), lit(ingestDate),
          category)
        .as("doc"))
      .select("doc.*")
    val quarantine = reassembled.filter(!isDoc).select("url", "reason")
    unpersistWhenUnreachable(rows, good, quarantine)
    Processed(good, quarantine)
  }

  /** One daemon thread for every `process` call's cache release. Lazy:
    * an executor that deserializes a UDF closure never starts it.
    */
  private lazy val cleaner = java.lang.ref.Cleaner.create()

  /** Unpersists `cached` once none of `readers` is reachable — the rule
    * Spark's ContextCleaner applies to RDDs and shuffles. The release
    * action holds `cached` and a countdown, never a reader.
    */
  private def unpersistWhenUnreachable(cached: DataFrame,
                                       readers: DataFrame*): Unit = {
    val live = new java.util.concurrent.atomic.AtomicInteger(readers.size)
    val release: Runnable = () =>
      if (live.decrementAndGet() == 0) cached.unpersist(blocking = false)
    readers.foreach(cleaner.register(_, release))
  }

  /** S15 — document sink: UTF-8 JSON, non-ASCII preserved (Spark writes
    * unescaped UTF-8 by default, matching ensure_ascii=False at
    * fetch_legal_docs.py:89). `filePerDoc` repartitions by title so each
    * document lands in its own file, preserving the reference's
    * one-file-per-doc contract when required; the analytic default is plain
    * part-files (no extra shuffle).
    */
  def writeDocs(docs: DataFrame, path: String, filePerDoc: Boolean = false): Unit =
    if (filePerDoc) {
      // maxRecordsPerFile=1 is what actually guarantees one document per
      // file — repartition(col) alone hash-collides titles into shared
      // part-files once docs outnumber shuffle partitions
      docs.repartition(col("title"))
        .write.mode("overwrite").option("maxRecordsPerFile", "1").json(path)
    } else docs.write.mode("overwrite").json(path)

  /** Read back reference-shaped documents with the fixed contract schema —
    * explicit, never inferred (SURVEY §1.2).
    */
  def readDocs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Tables.legalDocSchema).json(path)

  /** S16 compensating action (reference: import requests.py:84 — the
    * consolidated pipeline DELETES the PDF it could not extract). Takes the
    * quarantine channel with a `pathCol` column naming each staged binary
    * and removes those files, executor-side, partition-parallel.
    *
    * foreachBatch-shaped via [[compensatingDeleteBatch]] and IDEMPOTENT:
    * `deleteIfExists` is a no-op on absent files, so when streaming
    * recovery replays a micro-batch the second pass converges to the same
    * state instead of failing — the property PipelineSpec pins. (Local/NFS
    * staging; an object-store staging area would swap its client in here.)
    */
  def compensatingDelete(quarantine: DataFrame, pathCol: String = "path"): Unit =
    quarantine.select(pathCol).distinct()
      .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
        while (rows.hasNext) {
          val p = rows.next().getString(0)
          // per-record containment (S16): a malformed path must not fail
          // the task — binaryFile paths like 'file:/x/Vol 01.pdf' (spaces,
          // the reference's natural naming) are not valid URIs, so URI
          // parsing is best-effort with the raw string as fallback
          if (p != null) try {
            val fsPath =
              try Option(new java.net.URI(p).getPath).getOrElse(p)
              catch { case _: java.net.URISyntaxException =>
                if (p.startsWith("file:")) p.stripPrefix("file:") else p }
            java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(fsPath))
          } catch { case _: Exception => () }
        }
      }

  /** [[compensatingDelete]] curried for `writeStream.foreachBatch`. */
  def compensatingDeleteBatch(pathCol: String = "path")(
      quarantine: DataFrame, batchId: Long): Unit =
    compensatingDelete(quarantine, pathCol)
}
