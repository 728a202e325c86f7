package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.embed.Embedder
import graft.text.{Chunker, SentenceSplitter, SimpleTokenizer}

/** Golden-fixture parity tests on the reference's ONLY real test corpus:
  * `tests/test_data/sample_opinion.txt` (1,148-char Brown v. Board
  * excerpt), loaded by every reference chunker test
  * (tests/test_embedding_service.py:55-59) and driven through the chunking
  * invariants at :265-476. Mirrors those tests on real legal prose —
  * the abbreviation-dense shape ("v." citations) that synthetic generated
  * sentences never exercise.
  *
  * Tokenizer budgets are adapted where the reference's constants encode
  * ITS BPE token counts (SimpleTokenizer re-specifies the cost model,
  * SURVEY.md §7.4.2): the truncation test derives the budget from the
  * fixture so the invariant tested — "exactly the one sentence that fits
  * survives untruncated, everything else is cut, nothing is lost" — is
  * the reference's, not its magic number.
  */
class GoldenFixtureSpec extends AnyFunSuite {

  private val text: String = {
    val in = getClass.getResourceAsStream("/sample_opinion.txt")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private val leadLen =
    SimpleTokenizer.countTokens(Chunker.LeadText, addSpecialTokens = true)

  private val Terminators = Set('.', '?', '!', '"')

  /** punkt's segmentation of the fixture (8 sentences): the two "v."
    * citations are single-letter initials punkt never breaks after.
    * Raw BreakIterator yields 10 (both "v." boundaries spurious —
    * precision 7/9); the suppression pass must close exactly that gap.
    */
  private val expectedStarts = Vector(
    "In the case of Brown v. Board",
    "The Court's unanimous decision overturned Plessy v. Ferguson",
    "Chief Justice Earl Warren",
    "The Court found that segregation",
    "The Court concluded that",
    "Separate educational facilities are inherently unequal.",
    "Therefore, segregation of public schools",
    "This landmark decision")

  test("O4 divergence quantified: splitter matches punkt 8/8 on the fixture (v. citations suppressed)") {
    val sents = SentenceSplitter.split(text)
    assert(sents.length == 8,
      s"punkt yields 8 sentences; got ${sents.length}:\n" +
        sents.map(_.take(60)).mkString("\n"))
    sents.zip(expectedStarts).zipWithIndex.foreach {
      case ((got, want), i) =>
        assert(got.startsWith(want), s"sentence $i: '${got.take(70)}'")
    }
    // boundary precision == recall == 1.0 vs punkt on this corpus
    assert(sents.head.contains("public schools."),
      "first boundary must span the 'v. Board' citation")
    assert(sents(1).endsWith("doctrine."),
      "second boundary must span the 'v. Ferguson' citation")
    // losslessness of the split itself (only whitespace may be lost)
    assert(sents.mkString(" ").replaceAll("\\s", "") ==
      text.replaceAll("\\s", ""))
  }

  test("fixture chunking, default config (ref :265-327): budget, lead, boundaries, losslessness") {
    // reference defaults: max_tokens=512, overlap = int(512*0.004) = 2
    val chunks = Chunker.split(text, 512, 2)
    assert(chunks.nonEmpty)
    chunks.zipWithIndex.foreach { case (c, i) =>
      assert(
        SimpleTokenizer.countTokens(c, addSpecialTokens = true) <= 512,
        s"chunk $i over budget")
      assert(c.startsWith(Chunker.LeadText), s"chunk $i missing lead")
      val body = c.stripPrefix(Chunker.LeadText).trim
      assert(Terminators.contains(body.last),
        s"chunk $i ends '${body.takeRight(10)}'")
      assert(body.head.isUpper, s"chunk $i starts '${body.take(10)}'")
    }
    // content preservation (ref :309-315): whitespace-stripped concat
    val rebuilt = chunks.map(_.stripPrefix(Chunker.LeadText))
      .mkString(" ").replaceAll("\\s", "")
    assert(rebuilt == text.replaceAll("\\s", ""),
      "content lost or altered during chunking")
  }

  test("fixture truncation mode (ref :330-401): one sentence per chunk, only the short one survives whole") {
    val sents = SentenceSplitter.split(text)
    val shortIdx = sents.indexWhere(s =>
      s.startsWith("Separate educational facilities"))
    assert(shortIdx == 5) // the reference asserts chunk 5 specifically
    // budget: exactly the short sentence fits (the reference's
    // max_tokens=15 encodes the same relationship for ITS tokenizer)
    val maxTokens = leadLen + SimpleTokenizer.encode(sents(shortIdx)).length
    assert(sents.zipWithIndex.forall { case (s, i) =>
      (SimpleTokenizer.encode(s).length + leadLen <= maxTokens) ==
        (i == shortIdx)
    }, "budget must admit exactly the short sentence")
    val fullChunks = Chunker.split(text, maxTokens, 0)
    // every emitted chunk (lead included) respects the budget (ref :359-362)
    fullChunks.foreach { c =>
      assert(SimpleTokenizer.countTokens(c, addSpecialTokens = true)
        <= maxTokens, s"over budget: '${c.take(40)}'")
    }
    val chunks = fullChunks.map(_.stripPrefix(Chunker.LeadText))
    // one chunk per sentence, none lost (ref :383-386)
    assert(chunks.length == sents.length)
    chunks.zipWithIndex.foreach { case (c, i) =>
      // ref :369-381: only the fitting sentence ends with punctuation
      if (i == shortIdx)
        assert(c.trim.last == '.',
          s"full short sentence must survive: '${c.takeRight(12)}'")
      else
        assert(!Terminators.contains(c.trim.last),
          s"chunk $i should be truncated: '${c.takeRight(12)}'")
      // ref :389-391: prefix preserved per sentence
      assert(sents(i).take(10).trim == c.take(10).trim,
        s"chunk $i prefix altered")
    }
  }

  /** 64-bit FNV-1a over every chunk string and the raw bits of its
    * vector, for the `Chunker.split` + `Embedder.embed` path. */
  private def outputDigest(maxTokens: Int, overlap: Int): Long = {
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = h = (h ^ x) * 0x100000001b3L
    Chunker.split(text, maxTokens, overlap).foreach { c =>
      c.foreach(ch => mix(ch.toLong))
      mix(-1L) // chunk separator
      Embedder.embed(c).foreach(f =>
        mix(java.lang.Float.floatToIntBits(f).toLong & 0xffffffffL))
    }
    h
  }

  test("fixture chunks and vectors are pinned bit for bit") {
    // any drift in the token rule, the packing or the kernel moves these
    val pinned = Seq(
      (512, 2) -> 0xe4a92da33474a07dL,
      (200, 1) -> 0xed89447a816027cbL,
      (64, 0) -> 0x76ef4bf34f8e3321L)
    pinned.foreach { case ((mt, ov), want) =>
      val got = outputDigest(mt, ov)
      assert(got == want, f"($mt, $ov): digest 0x$got%016x")
    }
  }

  test("fixture sentence overlap (ref :404-476): chunk i's last sentence == chunk i+1's first") {
    // reference: max_tokens=200, overlap int(200*0.005)=1; our token
    // counts for the fixture (~330) give 2+ chunks at 200 as well
    val chunks = Chunker.split(text, 200, 1)
      .map(_.stripPrefix(Chunker.LeadText))
    assert(chunks.length > 1, "fixture must span multiple chunks at 200")
    chunks.zipWithIndex.foreach { case (c, i) =>
      assert(Terminators.contains(c.trim.last), s"chunk $i boundary")
      assert(c.trim.head.isUpper, s"chunk $i start")
    }
    val sents = SentenceSplitter.split(text)
    // ref :455-462: ends anchored
    assert(sents.head.take(10).trim == chunks.head.take(10).trim)
    assert(sents.last.takeRight(10).trim == chunks.last.takeRight(10).trim)
    // ref :465-476: one-sentence overlap at every transition
    chunks.sliding(2).foreach {
      case Seq(a, b) =>
        val aLast = SentenceSplitter.split(a).last.trim
        val bFirst = SentenceSplitter.split(b).head.trim
        assert(aLast == bFirst,
          s"overlap broken: '...${aLast.takeRight(40)}' vs " +
            s"'${bFirst.take(40)}...'")
      case _ => ()
    }
  }
}
