package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property-style tests (SURVEY §5.3) over seeded generated corpora:
  * shingle counts, simhash determinism and bit semantics, language-ID
  * tie-breaks. (Plain seeded generation — the scalatest/scalacheck bridge
  * artifact is not in the offline cache.)
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles — count is max(0, n-w+1), order preserved (100 seeded cases)") {
    val rnd = new scala.util.Random(42)
    val corpora = (0 until 100).map { _ =>
      val n = rnd.nextInt(13)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(3)))
        .mkString(" ")
    }
    val df = corpora.toDF("text")
      .select($"text", TextOps.shingles(TextOps.tokens($"text"), 3).as("sh"))
    df.as[(String, Seq[String])].collect().foreach { case (text, got) =>
      val toks = text.split(" ", -1).toSeq // Spark split keeps empty tokens
      val want = if (toks.size >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
                 else Seq.empty[String]
      assert(got === want, s"text='$text'")
    }
  }

  test("simhash32 — deterministic, 32-bit range, token-order independent") {
    val df = Seq("b a c a", "a b c a", "zzz").toDF("text")
      .select($"text", TextOps.simhash32(TextOps.tokens($"text")).as("h"))
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // distinct-token sets {a,b,c} in any order hash identically
    assert(rows("b a c a") === rows("a b c a"))
    assert(rows.values.forall(h => h >= 0 && h <= 0xffffffffL))
  }

  test("hamming — bit_count(xor) semantics") {
    val df = Seq((0L, 0L, 0), (0xffL, 0x0fL, 4), (1L, 0L, 1))
      .toDF("a", "b", "want")
      .withColumn("got", TextOps.hamming($"a", $"b"))
    assert(df.filter($"got" =!= $"want").count() === 0)
  }

  test("langId — argmax with smallest-code tie-break, 'und' when no hits") {
    val cases = Seq(
      "the cat sat of a mat" -> "en",
      "der hund und die katze" -> "de",
      "xyzzy plugh" -> "und",
      // 'la de' hits es {la,de} and fr {la,de} equally → tie → 'es' < 'fr'
      "la de" -> "es")
    val df = cases.toDF("text", "want")
      .withColumn("got", TextOps.langId(TextOps.tokens($"text")))
    assert(df.filter($"got" =!= $"want").count() === 0)
  }

  test("langId native == composed CASE-chain formulation on the corpus") {
    val docs = graft.Tables.documents(spark, sf0001)
    val diff = docs.select(
        TextOps.langId(TextOps.tokens($"text")).as("fast"),
        TextOps.langIdComposed(TextOps.tokens($"text")).as("ref"))
      .filter($"fast" =!= $"ref")
    assert(diff.count() === 0)
  }

  test("md5Prefix60 — stable and non-negative") {
    val df = Seq("a", "b", "a").toDF("s")
      .select($"s", TextOps.md5Prefix60($"s").as("h"))
    val rows = df.collect()
    assert(rows(0).getLong(1) === rows(2).getLong(1))
    assert(rows.forall(_.getLong(1) >= 0))
  }

  test("hrefs kernel — tokenizer-golden parity on the reference's own pages") {
    // golden generated by a stdlib HTML tokenizer (python html.parser,
    // handle_starttag anchor hrefs, entity-unescaped) over four real pages
    // shipped inside the reference repo — src/test/resources/
    // reference_hrefs_golden.json maps file path -> expected href list.
    // The fixture pages live OUTSIDE the repo (read-only reference mount);
    // ReferenceSnapshot cancels (not fails) on a checkout without it.
    val refBase = graft.ReferenceSnapshot.path(".")
    val goldenJson = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/reference_hrefs_golden.json"), "UTF-8").mkString
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(goldenJson)
    import scala.jdk.CollectionConverters._
    val entries = root.fields().asScala.map { e =>
      e.getKey -> (0 until e.getValue.size())
        .map(i => e.getValue.get(i).asText()).toSeq
    }.toSeq
    assert(entries.nonEmpty)
    entries.foreach { case (golden, want) =>
      // golden keys are recorded relative to the canonical mount point
      val path = refBase
        .resolve(golden.stripPrefix("/root/reference/")).toString
      val html = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      val got = Seq(html).toDF("html")
        .select(explode(graft.functions.expressions.NativeExprs.hrefs($"html")).as("href"))
        .as[String].collect().toSeq
      assert(got === want, s"href mismatch for $path")
    }
  }

  test("hrefs kernel — adversarial HTML edge set") {
    val html =
      """<!DOCTYPE html><html><head>
        |<style>a.fake { content: '<a href="/style.pdf">'; }</style>
        |<script>var s = '<a href="/script.pdf">';</script>
        |</head><body>
        |<!-- <a href="/comment.pdf"> -->
        |<a href="/double.pdf">d</a>
        |<A HREF='/single.pdf'>s</A>
        |<a
        |  class="x"
        |  href=/unquoted.pdf>u</a>
        |<a href="/first.pdf" href="/second.pdf">dup</a>
        |<a name="no-href">n</a>
        |<img href="/not-anchor.pdf"/>
        |<a title="a > b" href="/gt-in-attr.pdf">g</a>
        |<a href="/q?x=1&amp;y=2&#47;z">e</a>
        |<abbr href="/not-a-tag.pdf">abbr</abbr>
        |<a href>valueless</a>
        |<a href class="y" href="/after-valueless.pdf">v</a>
        |<img data-html="<a href='/phantom.pdf'>x</a>" src="i.png"/>
        |<script-loader><a href="/custom-element.pdf">real</a></script-loader>
        |<a href="/bad-entity&#1234567;x&#-5;y&#145;z">n</a>
        |</body></html>""".stripMargin
    val got = Seq(html).toDF("html")
      .select(explode(graft.functions.expressions.NativeExprs.hrefs($"html")).as("href"))
      .as[String].collect().toSeq
    assert(got === Seq("/double.pdf", "/single.pdf", "/unquoted.pdf",
      "/first.pdf", "/gt-in-attr.pdf", "/q?x=1&y=2/z",
      "/after-valueless.pdf", "/custom-element.pdf",
      // html.unescape parity: out-of-range → U+FFFD, malformed `&#-5;`
      // passes through verbatim, C1 &#145; remaps via windows-1252
      "/bad-entity�x&#-5;y‘z"))
    // null html → empty array, not null (S1: a missing page yields no links)
    val nullRow = Seq[Option[String]](None).toDF("html")
      .select(size(graft.functions.expressions.NativeExprs.hrefs($"html")).as("n"))
      .as[Int].head()
    assert(nullRow === 0)
  }

  test("year regex — reference semantics on seeded strings (S12)") {
    val rnd = new scala.util.Random(7)
    val pieces = Seq("decided", "in", "appeal", "1890", "1942", "1955", "1999",
                     "2023", "2150", "word1998x", "x2001")
    val texts = (0 until 80).map { _ =>
      (0 until rnd.nextInt(8)).map(_ => pieces(rnd.nextInt(pieces.size))).mkString(" ")
    }
    val re = """\b(19[5-9]\d|20\d{2})\b""".r
    val df = texts.toDF("content")
      .withColumn("got", graft.etl.DocOps.yearOf($"content"))
    df.as[(String, String)].collect().foreach { case (content, got) =>
      val want = re.findFirstMatchIn(content.take(1000)).map(_.group(1)).getOrElse("")
      assert(got === want, s"content='$content'")
    }
  }
}
