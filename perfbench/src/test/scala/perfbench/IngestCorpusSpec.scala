package perfbench

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{FlatePdfExtractor, SniffingExtractor}

class IngestCorpusSpec extends AnyFunSuite {
  /** Two of each kind: the batch's shapes at a fraction of its size. */
  private val small = IngestCorpus.Mix.map { case (k, _) => k -> 2 }
  private def corpus(seed: Long) = IngestCorpus.generate(seed, small)

  test("the same seed gives a byte-identical corpus, another seed another") {
    val d = IngestCorpus.digest(corpus(3))
    assert(IngestCorpus.digest(corpus(3)) == d)
    assert(IngestCorpus.digest(corpus(4)) != d)
  }

  test("a batch holds the mix's counts, whatever the seed") {
    def kinds(seed: Long) = IngestCorpus.generate(seed)
      .groupBy(_.kind).view.mapValues(_.size).toMap
    assert(kinds(11) == IngestCorpus.Mix.toMap)
    assert(kinds(12) == IngestCorpus.Mix.toMap)
  }

  test("a Flate PDF has the reference volume's pages and size, and shows text only as CIDs") {
    corpus(7).filter(_.kind == "flate_pdf").foreach { d =>
      val size = d.bytes.length.toDouble
      assert(math.abs(size / IngestCorpus.VolumeBytes - 1) < 0.03, size)
      val raw = new String(d.bytes, ISO_8859_1)
      assert(raw.contains("/Subtype /Type0") && raw.contains("/ToUnicode"))
      val pages = FlatePdfExtractor.extractPages(d.bytes)
      assert(pages.size == IngestCorpus.VolumePages)
      // Ethiopic syllables, U+1200..U+137F, reach the text only through
      // the fonts' CMaps: the content streams hold hex CIDs, no literal
      assert(pages.forall(_.exists(c => c >= 'ሀ' && c <= '፿')))
      assert(!raw.contains(") Tj"))
    }
  }

  test("a font's CMap maps its glyphs through both bfrange and bfchar") {
    val cmap = IngestCorpus.toUnicode(IngestCorpus.font(new scala.util.Random(1), 16))
    assert(cmap.contains("beginbfrange") && cmap.contains("beginbfchar"))
  }

  test("each document's expected outcome is what the codecs produce") {
    val ex = SniffingExtractor()
    corpus(5).foreach { d =>
      val text = ex.extractPages(d.bytes).mkString("\n")
      d.expect match {
        case IngestCorpus.Good(want) =>
          assert(IngestCorpus.words(text) == IngestCorpus.words(want), d.url)
        case IngestCorpus.Quarantined(reason) =>
          assert(text.trim.isEmpty, d.url)
          assert(ex.diagnose(d.bytes) == reason, d.url)
      }
    }
  }
}
