package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Trie, Vocab}
import graft.ops.Encode

class EncodeSpec extends AnyFunSuite {
  private val charVocab = Vocab(
    Seq("[CLS]", "[SEP]") ++ "abcdef".map(_.toString), isWord = true)
  private val wordVocab = Vocab(Seq("ab", "bc", "cd"), isWord = true, unkNum = 2)

  test("truncate + frame (le_loader.py:146-154)") {
    val framed = Encode.truncateAndFrame("abcdef".map(_.toString), maxSeqLength = 5)
    assert(framed == Seq("[CLS]", "a", "b", "c", "[SEP]"))
  }

  test("encode/decode round trip stops at pad (cn_data_manager.py:46-66)") {
    val ids = Encode.encode(Seq("a", "b"), charVocab)
    val padded = Encode.pad(ids, 5, padId = charVocab.id("<pad>"))
    assert(padded.length == 5)
    assert(Encode.decode(padded.toIndexedSeq, charVocab) == Seq("a", "b"))
  }

  test("attention mask and token types (le_loader.py:163-173)") {
    val ids = Array(3, 4, 5, 0, 0)
    assert(Encode.attentionMask(ids).toSeq == Seq(1, 1, 1, 0, 0))
    val tt = Encode.tokenTypeIds(Seq("[CLS]", "a", "[SEP]", "b", "[SEP]"))
    assert(tt.toSeq == Seq(0, 0, 0, 1, 1))
  }

  test("matched-word scatter fills [L][W] ids+mask (le_loader.py:174-181)") {
    val matched = Array(List("ab"), List("ab", "bc"), List.empty[String])
    val (ids, mask) = Encode.matchedWordIds(matched, wordVocab, maxWordNum = 2)
    assert(ids(0)(0) == wordVocab.id("ab") && mask(0).toSeq == Seq(1, 0))
    assert(mask(1).toSeq == Seq(1, 1))
    assert(mask(2).toSeq == Seq(0, 0))
  }

  test("full convert produces reference tensor layout (le_loader convert_embedding)") {
    val trie = Trie(Seq("ab", "bc"))
    val row = Encode.convert("abc", charVocab, wordVocab, trie,
      maxSeqLength = 6, maxWordNum = 2)
    assert(row.inputIds.length == 6)
    assert(row.attentionMask.toSeq == Seq(1, 1, 1, 1, 1, 0))
    // matched words shifted by [CLS]: position 1 holds matches for char 0
    assert(row.matchedWordMask(1).toSeq == Seq(1, 0)) // "ab" at char 0
    assert(row.matchedWordMask(2).toSeq == Seq(1, 1)) // covered by ab + bc starts
    assert(row.matchedWordIds(1)(0) == wordVocab.id("ab"))
  }
}

/** ONNX-seam end-to-end: a stub TENSOR scorer stands where the ONNX session
  * would sit. It consumes ONLY the assembled D8 micro-batch tensors
  * (input_ids/attention_mask/token_type_ids [N,L], matched_word_ids/mask
  * [N,L,W] — `CC/loaders/le_loader.py:183-193`), asserts their shapes, and
  * reconstructs tags purely from the tensor content. Driving `Detect.run`
  * with it proves the swap-in-ONNX claim: the Spark seam delivers exactly
  * the reference's batch contract, and mentions decoded from those tensors
  * round-trip through the distributed stage.
  */
/** Top-level (NOT a suite inner class): it is broadcast to executors and
  * must not capture the test suite in its closure.
  */
final class StubTensorTagger(charVocab: graft.core.Vocab,
                             wordVocab: graft.core.Vocab,
                             trie: graft.core.Trie,
                             dict: Map[String, String],
                             MaxLen: Int, MaxWords: Int)
    extends graft.stages.MentionTagger {
    def tagBatch(texts: Seq[String]): Seq[Array[String]] = {
      val n = texts.length
      val rows = texts.map(t =>
        Encode.convert(t, charVocab, wordVocab, trie, MaxLen, MaxWords))
      // ---- D8 batch-contract assertions (le_loader.py:183-193) ----------
      // [N, L] tensors, rectangular
      assert(rows.length == n)
      assert(rows.forall(_.inputIds.length == MaxLen), "input_ids not [N,L]")
      assert(rows.forall(_.attentionMask.length == MaxLen), "attention_mask not [N,L]")
      assert(rows.forall(_.tokenTypeIds.length == MaxLen), "token_type_ids not [N,L]")
      // [N, L, W] tensors, rectangular
      assert(rows.forall(r => r.matchedWordIds.length == MaxLen &&
        r.matchedWordIds.forall(_.length == MaxWords)), "matched_word_ids not [N,L,W]")
      assert(rows.forall(r => r.matchedWordMask.length == MaxLen &&
        r.matchedWordMask.forall(_.length == MaxWords)), "matched_word_mask not [N,L,W]")
      // mask ⊆ attention positions; ids zero where mask is zero
      assert(rows.forall(r => (0 until MaxLen).forall(i =>
        (0 until MaxWords).forall(w =>
          r.matchedWordMask(i)(w) == 1 || r.matchedWordIds(i)(w) == 0))))

      // ---- stub "model": decode tags from the TENSORS alone -------------
      rows.zip(texts).map { case (r, text) =>
        val tags = Array.fill(text.length)("O")
        for (pos <- 1 until MaxLen; w <- 0 until MaxWords
             if r.matchedWordMask(pos)(w) == 1) {
          val word = wordVocab.token(r.matchedWordIds(pos)(w))
          val c = pos - 1 // un-shift the [CLS] offset
          // a covered word STARTS here iff the previous position's list
          // doesn't carry it (fixture surfaces don't self-overlap)
          val startsHere = pos == 1 ||
            !(0 until MaxWords).exists(v => r.matchedWordMask(pos - 1)(v) == 1 &&
              wordVocab.token(r.matchedWordIds(pos - 1)(v)) == word)
          if (startsHere && c + word.length <= text.length) {
            val label = dict(word)
            if (word.length == 1) tags(c) = s"S-$label"
            else {
              tags(c) = s"B-$label"
              for (k <- 1 until word.length - 1) tags(c + k) = s"I-$label"
              tags(c + word.length - 1) = s"E-$label"
            }
          }
        }
        tags
      }
    }
}

class OnnxSeamSpec extends SparkSpecBase {
  import graft.core.{Trie, Turn, Vocab}
  import graft.stages.{Detect, MentionTagger}
  import graft.synth.Transcripts

  test("stub tensor scorer drives Detect.run end-to-end (swap-in-ONNX contract)") {
    import spark.implicits._
    val aliases = Transcripts.aliasRows
    val chars = ("abcdefghijklmnopqrstuvwxyz" + "ABCDEFGHIJKLMNOPQRSTUVWXYZ ")
      .map(_.toString)
    val charVocab = Vocab(Seq(Encode.Cls, Encode.Sep) ++ chars, isWord = true)
    val wordVocab = Vocab(aliases.map(_.surface), isWord = true)
    val trie = Trie(aliases.map(_.surface))
    val dict = aliases.map(r => r.surface -> r.label).toMap
    val tagger = spark.sparkContext.broadcast[MentionTagger](
      new StubTensorTagger(charVocab, wordVocab, trie, dict, 64, 5))

    val turns = Seq(
      Turn("c1", 0, "user", "Alice Varga joined Acme Corp", null,
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      Turn("c1", 1, "user", "Globex opened an office in Berlin", null,
        java.sql.Timestamp.valueOf("2024-01-01 10:01:00")),
      Turn("c2", 0, "user", "no entities at all here", null,
        java.sql.Timestamp.valueOf("2024-01-01 10:02:00"))).toDS()

    val got = Detect.run(turns, tagger).collect()
      .map(m => (m.conv_id, m.turn_idx, m.surface, m.label)).toSet
    assert(got == Set(
      ("c1", 0, "Alice Varga", "PER"), ("c1", 0, "Acme Corp", "ORG"),
      ("c1", 1, "Globex", "ORG"), ("c1", 1, "Berlin", "LOC")))
  }
}

/** The detect hot loop's span fast path must be bit-equivalent to the
  * string-tag reference path on every input shape the corpus produces.
  */
class DetectFastPathSpec extends SparkSpecBase {
  import graft.core.{Tags, Trie}
  import graft.stages.LexiconCrfTagger
  import graft.synth.Transcripts

  test("spanOne ≡ getEntities(tagOne) on the corpus and edge cases") {
    val aliases = Transcripts.aliasRows
    val tagger = new LexiconCrfTagger(Trie(aliases.map(_.surface)),
      aliases.map(r => r.surface -> r.label).toMap, Transcripts.tagSet)
    val texts = Transcripts.turns(spark, 80).collect().map(_.text) ++ Seq(
      "", "x", aliases.head.surface, // exact single alias, single char
      aliases.map(_.surface).mkString(" "), // every alias back to back
      aliases.head.surface + aliases.head.surface) // adjacent same-entity
    assert(texts.length > 100)
    texts.foreach { t =>
      val viaTags = Tags.getEntities(tagger.tagOne(t).toIndexedSeq, t)
      assert(tagger.spanOne(t) == viaTags, s"fast path diverged on: '$t'")
    }
  }

  test("zero-vote fast path: no-match text decodes all-O without Viterbi, matching the full decode") {
    val aliases = Transcripts.aliasRows
    val tagger = new LexiconCrfTagger(Trie(aliases.map(_.surface)),
      aliases.map(r => r.surface -> r.label).toMap, Transcripts.tagSet)
    // a second tagger whose dictionary labels NOTHING in this text either,
    // but whose trie contains a word so matches occur WITHOUT votes
    // (dict-miss matches must not count as votes)
    val noLabel = new LexiconCrfTagger(Trie(Seq("chatter")),
      Map.empty[String, String], Transcripts.tagSet)
    for (t <- Seq("no entities here, just chatter about shuffle partitions",
                  "plain text", "a")) {
      assert(tagger.spanOne(t) == Nil)
      assert(tagger.tagOne(t).toSeq == Seq.fill(t.length)("O"), s"on '$t'")
      assert(noLabel.spanOne(t) == Nil)
      assert(noLabel.tagOne(t).toSeq == Seq.fill(t.length)("O"), s"nolabel on '$t'")
    }
  }

  test("M- middle-tag naming (reference BMES) decodes identically to I-; partial tag sets fail loudly") {
    val aliases = Transcripts.aliasRows
    val dict = aliases.map(r => r.surface -> r.label).toMap
    val trie = Trie(aliases.map(_.surface))
    val iTags = Transcripts.tagSet // O, B-X, I-X, E-X, S-X
    val mTags = iTags.map(t => if (t.startsWith("I-")) "M-" + t.drop(2) else t)
    val a = new LexiconCrfTagger(trie, dict, iTags)
    val b = new LexiconCrfTagger(trie, dict, mTags)
    for (t <- Seq("Alice Varga joined Acme Corp in Berlin", "",
                  aliases.map(_.surface).mkString(" "))) {
      assert(a.spanOne(t) == b.spanOne(t), s"I-/M- decode diverged on '$t'")
      assert(a.tagOne(t).map(x => if (x.startsWith("I-")) "M-" + x.drop(2) else x)
        .sameElements(b.tagOne(t)), s"on '$t'")
    }
    // a tag set missing the middle row must fail at CONSTRUCTION, not write
    // emissions through index -1 at decode time
    val broken = iTags.filterNot(_.startsWith("I-"))
    val e = intercept[IllegalArgumentException] {
      new LexiconCrfTagger(trie, dict, broken).spanOne("Alice Varga")
    }
    assert(e.getMessage.contains("lacks a full B/I|M/E/S row"))
  }

  test("conflict-free direct path ≡ forced Viterbi decode, overlaps and demotion included") {
    // A dictionary ENGINEERED for overlap structure:
    //   "Acme" ⊂ "Acme Corp" (shared prefix → two matches at one position),
    //   "me Co" (starts INSIDE "Acme Corp" — overlap without shared start),
    //   "x" (single-char demotion: votes only as the sole match at its
    //   position — "xy" in the trie demotes it), mixed labels.
    val aliases = Seq(
      graft.core.AliasRow("Acme", "E1", "ORG"),
      graft.core.AliasRow("Acme Corp", "E2", "ORG"),
      graft.core.AliasRow("me Co", "E3", "LOC"),
      graft.core.AliasRow("x", "E4", "PER"),
      graft.core.AliasRow("xy", "E5", "LOC"),
      graft.core.AliasRow("Berlin", "E6", "LOC"))
    val trie = Trie(aliases.map(_.surface))
    val dict = aliases.map(r => r.surface -> r.label).toMap
    val fast = new LexiconCrfTagger(trie, dict, Transcripts.tagSet)
    val slow = new LexiconCrfTagger(trie, dict, Transcripts.tagSet)
    slow.disableDirect = true // every turn takes the full Viterbi decode
    val words = aliases.map(_.surface).toIndexedSeq
    val rnd = new scala.util.Random(777)
    val texts = Seq("", "x", "xy", "x y x", "Acme", "Acme Corp", "AcmeAcme Corp",
      "Berlin x Berlin", "Acme Corp Berlin", "me Co") ++
      (1 to 300).map { _ =>
        val sb = new StringBuilder
        (0 until 1 + rnd.nextInt(8)).foreach { _ =>
          rnd.nextInt(4) match {
            case 0 | 1 => sb.append(words(rnd.nextInt(words.length)))
            case 2 => sb.append((0 until rnd.nextInt(5)).map(_ =>
              ('a' + rnd.nextInt(26)).toChar).mkString)
            case _ => sb.append(' ')
          }
        }
        sb.result()
      }
    texts.foreach { t =>
      assert(fast.spanOne(t) == slow.spanOne(t), s"spans diverged on: '$t'")
      assert(fast.tagOne(t).sameElements(slow.tagOne(t)), s"tags diverged on: '$t'")
    }
    // positive controls: the direct path must actually FIRE on clean text
    // and must NOT fire on overlapping matches
    val before = fast.directTurns.sum()
    assert(fast.spanOne("Berlin") == List(graft.core.Span(0, 6, "LOC", "Berlin")))
    assert(fast.directTurns.sum() == before + 1, "direct path must serve clean text")
    fast.spanOne("Acme Corp") // "Acme" ⊂ "Acme Corp" → conflict → Viterbi
    assert(fast.directTurns.sum() == before + 1, "overlap must take the Viterbi path")
    assert(slow.directTurns.sum() == 0, "disableDirect must force Viterbi always")
  }

  test("property: direct and window paths ≡ forced Viterbi on tie-prone small-alphabet lexicons") {
    // Random lexicons over 1–5 letters make words overlap and touch almost
    // everywhere, and equal-mass alternative paths (exact score ties) are
    // common — the case where a window decoded from a 0f START instead of
    // the whole decode's running score breaks ties differently.
    val labels = Vector("PER", "ORG", "LOC")
    val rnd = new scala.util.Random(20261019L)
    var windowed = 0L
    (1 to 4000).foreach { lex =>
      val alphabet = 1 + rnd.nextInt(5)
      def str(len: Int) = (0 until len).map(_ => ('a' + rnd.nextInt(alphabet)).toChar).mkString
      val dict = (0 until 1 + rnd.nextInt(8))
        .map(_ => str(1 + rnd.nextInt(7)) -> labels(rnd.nextInt(labels.length))).toMap
      val trie = Trie(dict.keys.toSeq)
      val fast = new LexiconCrfTagger(trie, dict, Transcripts.tagSet)
      val slow = new LexiconCrfTagger(trie, dict, Transcripts.tagSet)
      slow.disableDirect = true
      (1 to 5).foreach { _ =>
        val t = str(rnd.nextInt(91))
        assert(fast.spanOne(t) == slow.spanOne(t), s"spans diverged on '$t' with $dict")
        assert(fast.tagOne(t).sameElements(slow.tagOne(t)), s"tags diverged on '$t' with $dict")
      }
      windowed += fast.decodedPositions.sum()
    }
    assert(windowed > 0, "the window path must be exercised")
  }

  test("window path decodes only the overlap: 'Acme Corp' ⊂ 'Acme Corporation' in a long turn") {
    val aliases = Transcripts.aliasRows
    val trie = Trie(aliases.map(_.surface))
    val dict = aliases.map(r => r.surface -> r.label).toMap
    val fast = new LexiconCrfTagger(trie, dict, Transcripts.tagSet)
    val slow = new LexiconCrfTagger(trie, dict, Transcripts.tagSet)
    slow.disableDirect = true
    val t = "Alice Varga said the board of Acme Corporation met in Berlin on a long rainy day"
    val spans = fast.spanOne(t)
    assert(spans == slow.spanOne(t))
    assert(spans.exists(_.surface == "Acme Corporation"), s"got $spans")
    val decoded = fast.decodedPositions.sum()
    assert(decoded >= 2 && decoded <= 16,
      s"window path decoded $decoded positions of a ${t.length}-char turn")
    assert(fast.directTurns.sum() == 0, "an overlap turn is not a direct turn")
    assert(slow.decodedPositions.sum() == t.length, "the reference decodes the whole turn")
  }

  test("property: spanOne ≡ getEntities(tagOne) on random alias/noise mixtures") {
    val aliases = Transcripts.aliasRows
    val tagger = new LexiconCrfTagger(Trie(aliases.map(_.surface)),
      aliases.map(r => r.surface -> r.label).toMap, Transcripts.tagSet)
    val surfaces = aliases.map(_.surface).toIndexedSeq
    val rnd = new scala.util.Random(4242)
    (1 to 300).foreach { trial =>
      val sb = new StringBuilder
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => sb.append(surfaces(rnd.nextInt(surfaces.length)))
          case 1 => sb.append((0 until rnd.nextInt(6)).map(_ =>
            ('a' + rnd.nextInt(26)).toChar).mkString)
          case _ => sb.append(' ')
        }
      }
      val t = sb.result()
      val viaTags = Tags.getEntities(tagger.tagOne(t).toIndexedSeq, t)
      assert(tagger.spanOne(t) == viaTags, s"trial $trial diverged on: '$t'")
    }
  }
}
