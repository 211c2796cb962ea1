package graft.stages

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, TimestampType}
import scala.collection.mutable.ListBuffer
import graft.core._

/** Mention tagger seam — the pipeline's equivalent of the reference predict
  * contract `Seq[text] → Seq[tags]` (`CC/predicter.py:130-171`).
  *
  * Implementations receive a *micro-batch* of texts (already length-sorted,
  * the packing trick of `CC/birnncrf.py:18-30`) and return one tag sequence
  * per text, aligned char-by-char. The production implementation would hold
  * one ONNX session per executor (lazy val) and run LEBERT fused inference;
  * the sandbox implementation below is the deterministic lexicon+CRF scorer:
  * trie matches (`lexicon_tree.py:114-129`) vote dictionary-derived BMES
  * emissions (`vocab_tag.py:24-37` tag lookup), Viterbi decodes
  * (`crf.py:89-134` semantics). Same seam, swap-in model.
  */
trait MentionTagger extends Serializable {
  def tagBatch(texts: Seq[String]): Seq[Array[String]]

  /** Span-level fast path: one span list per text. The default derives
    * spans from `tagBatch` (any seam implementation — e.g. an ONNX tag
    * emitter — gets correct behavior for free); implementations that decode
    * internally should override to skip the per-char tag-string
    * materialization entirely (see `LexiconCrfTagger`).
    */
  def spanBatch(texts: Seq[String]): Seq[List[Span]] =
    texts.lazyZip(tagBatch(texts)).map { (text, tags) =>
      Tags.getEntities(tags.toIndexedSeq, text)
    }
}

/** Deterministic lexicon-emission + CRF tagger.
  *
  * Allocation-discipline matters more than cleverness here: this body runs
  * once per turn (10^12 times at target scale), so the match loop walks the
  * trie in place (no span lists, no substrings — terminals carry their
  * word) and Viterbi decodes into a per-thread scratch. In local mode the
  * broadcast tagger instance is shared by all task threads → ThreadLocal.
  */
final class LexiconCrfTagger(trie: Trie, dict: Map[String, String],
                             tagSet: IndexedSeq[String]) extends MentionTagger {
  private val C = tagSet.length
  @transient private lazy val transitions = Viterbi.bmesTransitions(tagSet)
  /** Sparse predecessor view of `transitions` (null when not 0/Impossible-
    * shaped). Bit-exact vs the dense decode only under the emission-mass
    * bound checked per turn in `decodeInto` — see [[Viterbi.SparseBmes]].
    */
  @transient private lazy val sparseTrans: Viterbi.SparseBmes =
    Viterbi.SparseBmes.build(transitions).orNull
  /** Overlap windows may be decoded alone (proof in `decodeInto`) only
    * over a sparse matrix whose START column is 0/`Impossible` too.
    */
  @transient private lazy val windowed: Boolean = sparseTrans != null &&
    sparseTrans.startScore.forall(v => v == 0f || v == Viterbi.Impossible)
  private val oIdx = tagSet.indexOf("O")
  // per-label precomputed BMES tag-index rows: bIdx(label), i/mIdx, eIdx,
  // sIdx. Middle tags may be named I- (this corpus) or M- (the reference's
  // BMES naming, which spanOne/bmesTransitions already accept); a tag set
  // missing any of the four rows fails HERE, at construction — an
  // unvalidated indexOf would return -1 and vote() would silently write
  // emissions into the previous position's last tag slot.
  private val labelIdx: Map[String, (Int, Int, Int, Int)] =
    tagSet.collect { case t if t.startsWith("B-") => Tags.typeOf(t) }
      .map { lbl =>
        def idx(p: String): Int = tagSet.indexOf(s"$p-$lbl")
        val im = if (idx("I") >= 0) idx("I") else idx("M")
        val (b, e, sg) = (idx("B"), idx("E"), idx("S"))
        require(b >= 0 && im >= 0 && e >= 0 && sg >= 0,
          s"tagSet lacks a full B/I|M/E/S row for label '$lbl': $tagSet")
        lbl -> ((b, im, e, sg))
      }.toMap
  // word → its label's (B, I|M, E, S) tag rows as one flat int array: the
  // vote hot path makes ONE java.util.HashMap probe per trie match instead
  // of a Scala-Map dict get PLUS a labelIdx get. Built eagerly so a dict
  // label missing from the tag set fails at CONSTRUCTION (the r4 validation
  // contract), not at first match.
  private val voteRows: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]](dict.size * 2)
    dict.foreach { case (w, label) =>
      val t = labelIdx.getOrElse(label, throw new IllegalArgumentException(
        s"dictionary label '$label' (word '$w') has no B/I|M/E/S row in tagSet $tagSet"))
      m.put(w, Array(t._1, t._2, t._3, t._4))
    }
    m
  }
  // per-tag-index decompositions for the span fast path: head char and type
  // string, so span extraction never materializes or parses tag strings
  private val headOf: Array[Char] =
    tagSet.map(t => if (t.isEmpty) 'O' else t.charAt(0)).toArray
  private val typeArr: Array[String] = tagSet.map(Tags.typeOf).toArray
  @transient private lazy val scratch =
    ThreadLocal.withInitial[DetectScratch](() => new DetectScratch(256, C))
  /** Test hook: force the full-turn Viterbi decode for every voted turn,
    * so equivalence tests can compare the direct and window paths against
    * the decode they claim to equal. Never set in production.
    */
  @transient private[graft] var disableDirect = false
  /** Turns served by the conflict-free direct path, with no decode at all
    * (live telemetry + positive control for tests — proves the fast path
    * actually fires).
    */
  @transient private[graft] lazy val directTurns = new java.util.concurrent.atomic.LongAdder
  /** Positions Viterbi-decoded: the overlap windows, or whole turns where
    * the full decode runs (live telemetry + positive control for the
    * window path).
    */
  @transient private[graft] lazy val decodedPositions = new java.util.concurrent.atomic.LongAdder

  def tagBatch(texts: Seq[String]): Seq[Array[String]] = texts.map(tagOne)

  /** Decode straight to spans from the Viterbi int path — skips the
    * per-char tag-string array AND the string-parsing state machine of
    * `Tags.getEntities` (the two dominant allocations of the detect hot
    * loop at 10^12 turns). STRUCTURALLY exactly `getEntities(tagOne(text))`
    * for any decode path (equivalence-tested): the state machine below
    * mirrors label.py's close/open/append rules verbatim — including the
    * virtual trailing-B sentinel AND the ungrammatical-sequence quirk where
    * a dangling E/I char appends to the word buffer before a later M opens
    * a span — so equivalence does not depend on the CRF transition matrix
    * keeping decode paths BMES-grammatical.
    */
  override def spanBatch(texts: Seq[String]): Seq[List[Span]] = texts.map(spanOne)

  def spanOne(text: String): List[Span] = {
    val s = scratch.get() // one ThreadLocal probe per turn, shared with decode
    val n = decodeInto(text, s)
    if (n <= 0) return Nil // empty text, or the zero-vote all-O fast path
    if (s.full) return pathSpans(text, s.vit.path, 0, n, ListBuffer.empty).toList
    if (s.nWin == 0) {
      // conflict-free turns: the spans ARE the collected words (proof in
      // decodeInto). Surfaces reuse the dictionary-owned word string — by
      // trie-match construction it equals text.substring(start, end).
      // Built by reverse prepend: the words are collected in ascending
      // start order, so prepending from the back yields the same list as
      // the old ListBuffer append — without the buffer or the toList copy.
      var out: List[Span] = Nil
      var w = s.nWords - 1
      while (w >= 0) { out = directSpan(s, w) :: out; w -= 1 }
      return out
    }
    // windowed turns: words outside the windows are direct spans, each
    // window's spans come from its decoded tags, in ascending start order
    val out = ListBuffer.empty[Span]
    var w = 0
    var k = 0
    while (w < s.nWords) {
      if (k < s.nWin && s.starts(w) >= s.winStart(k)) {
        val end = s.winEnd(k)
        pathSpans(text, s.path, s.winStart(k), end, out)
        while (w < s.nWords && s.starts(w) < end) w += 1
        k += 1
      } else {
        out += directSpan(s, w)
        w += 1
      }
    }
    out.toList
  }

  private def directSpan(s: DetectScratch, w: Int): Span = {
    val st = s.starts(w); val word = s.words(w)
    Span(st, st + word.length, typeArr(s.rows(w)(0)), word)
  }

  /** label.py's span machine over decoded tags `path[from, to)`, appending
    * to `out`; `to` acts as the virtual trailing "B-" sentinel. Exact for a
    * window as for a whole turn: a window is bounded by O tags (or the text
    * ends), which close and clear the machine just as the sentinel does.
    */
  private def pathSpans(text: String, path: Array[Int], from: Int, to: Int,
                        out: ListBuffer[Span]): ListBuffer[Span] = {
    // The reference machine's word buffer is ALWAYS a contiguous text
    // slice: it clears at every B/O/S and appends every other char, so its
    // content is text[wordStart, close) where wordStart is the first
    // append since the last clear — including the dangling-E/I-before-open
    // quirk (wordStart then precedes the span's own start). Tracking the
    // offset reproduces label.py verbatim with no buffer allocation.
    var curLabel: String = null
    var start = -1
    var wordStart = -1
    var i = from
    while (i <= to) { // i == to is the virtual trailing "B-" sentinel
      val head = if (i < to) headOf(path(i)) else 'B'
      if (head == 'B' || head == 'O' || head == 'S') {
        if (curLabel != null) out += Span(start, i, curLabel, text.substring(wordStart, i))
        wordStart = -1; curLabel = null; start = -1 // the unconditional word.clear()
      }
      if (i < to) {
        if (head == 'B' || head == 'S' ||
            ((head == 'M' || head == 'I') && curLabel == null)) {
          curLabel = typeArr(path(i)); start = i
        }
        // reference machine appends EVERY non-O char (label.py:33-43)
        if (head != 'O' && wordStart < 0) wordStart = i
      }
      i += 1
    }
    out
  }

  def tagOne(text: String): Array[String] = {
    val s = scratch.get()
    val n = decodeInto(text, s)
    if (n == 0) return Array.empty
    if (n < 0) { // zero-vote fast path: the decode is all-O by construction
      val out = new Array[String](-n)
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], tagSet(oIdx))
      return out
    }
    val out = new Array[String](n)
    if (s.full) {
      var i = 0
      while (i < n) { out(i) = tagSet(s.vit.path(i)); i += 1 }
      return out
    }
    // O everywhere, the collected words' BMES tags, then each window's
    // decoded tags over the words it holds
    java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], tagSet(oIdx))
    var w = 0
    while (w < s.nWords) {
      val st = s.starts(w); val len = s.words(w).length; val r = s.rows(w)
      if (len == 1) out(st) = tagSet(r(3))
      else {
        out(st) = tagSet(r(0))
        var k = 1
        while (k < len - 1) { out(st + k) = tagSet(r(1)); k += 1 }
        out(st + len - 1) = tagSet(r(2))
      }
      w += 1
    }
    var k = 0
    while (k < s.nWin) {
      var i = s.winStart(k)
      while (i < s.winEnd(k)) { out(i) = tagSet(s.path(i)); i += 1 }
      k += 1
    }
    out
  }

  /** Shared hot core: trie walk collecting the dictionary-hit words, then
    * the cheapest correct decode. Returns the text length n with the
    * outcome in scratch — NEGATED for the zero-vote all-O case:
    *
    *   1. **No dict-hit word voted** → return −n, touch nothing: with
    *      emissions of O = 0.1 per position and everything else 0, and all
    *      allowed transitions scoring 0 (`Viterbi.bmesTransitions`), the
    *      all-O path is the UNIQUE argmax (any non-O position strictly
    *      loses that position's 0.1).
    *   2. **Voted words pairwise NON-overlapping** (`nWin == 0`) → the
    *      emission fill AND the Viterbi decode AND the span walk are all
    *      skipped; consumers emit straight from the collected word list.
    *      Proof the decode could not differ: each covered position has
    *      exactly ONE voted cell (two words voting one position must
    *      overlap) at exactly 1.0 (> O's 0.1, > 0 elsewhere), so the
    *      per-position max is unique everywhere; the voted-tags/O path
    *      attains every per-position max with all transitions valid (word
    *      internals B→I/M→E, boundaries E|S→B|S|O, START→B|S|O, E|S|O→STOP
    *      — all score 0), hence it is the unique global argmax: any other
    *      assignment drops ≥ 0.9 at some position or pays a finite
    *      `Impossible` it cannot recover (emissions sum to the argmax
    *      score, < 1e4 apart). No tie-break dependence — DP backtracking
    *      must return exactly this path.
    *   3. **Overlapping votes** → only the overlap windows are decoded
    *      (`nWin > 0`, tags in `scratch.path`). A window is the extent of
    *      a maximal run of overlapping or touching words that holds an
    *      overlap, so an uncovered position (or a text end) borders it on
    *      each side. Words of runs without overlap emit directly as in 2.
    *      Each window is sparse-decoded alone, seeded with the whole
    *      decode's running score R at the position u before it: R starts
    *      at 0f and changes position by position, +0.1f per uncovered
    *      position, +1f per directly emitted covered position (case 2's
    *      argument: the voted cell is the strict max), and it becomes the
    *      STOP max of each decoded window. Proof that the whole decode's
    *      path equals the direct tags, O elsewhere and each window's tags:
    *        a. O is the strict max at an uncovered u. O(u) = R(u−1) + 0.1.
    *           B/S at u score R(u−1). At u−1 only E/S cells can hold a vote
    *           (a word covering u−1 ends there), so every B/I/M/E cell at
    *           u−1 is ≤ an E/S/O cell there ≤ R(u−1), and I/M/E at u,
    *           which take a max over those, are ≤ R(u−1) too.
    *        b. So every B/S/O tag at the window start u+1 has the same
    *           predecessor max, O(u) = R(u), with argmax O. Its cells hold
    *           R + em exactly, as the seeded START column computes them.
    *        c. The I/M/E entries at u+1 are dominated by ≈ 0.1: they are
    *           ≤ R(u−1) + 0 (no word covering u+1 starts before it, so
    *           they hold no vote) while B-X ≥ R there. Whole decode (a
    *           finite value) and window (seed + `Impossible`) differ only
    *           in those cells, which win no max from u+2 on; every later
    *           cell and back-pointer is bit-identical.
    *        d. The tie-break at the window edge equals the STOP tie-break:
    *           the uncovered position after the window (or STOP) takes
    *           its max over the same E/S/O cells in the same ascending
    *           order with strict `>`, so the backtrack enters the window
    *           at the window's own STOP argmax and, by a–c, leaves it
    *           through O at u.
    *      Float rounding follows the same operands in the same order, so
    *      exact score ties break alike; with a 0f START instead of R they
    *      do not (the tie property in EncodeSpec catches that). Mass bound:
    *      seed + window mass ≤ the turn-wide bound below, so the sparse
    *      decode stays exact ([[Viterbi.SparseBmes]]).
    *   4. **Full decode** (`full`, path in `scratch.vit.path`) → only under
    *      `disableDirect` (the test reference) or when the turn-wide
    *      emission-mass guard sends the turn to the dense decode.
    *
    * All four are property-tested against the forced full decode
    * (`disableDirect`), engineered overlaps, demotion and small-alphabet
    * exact ties included.
    *
    * Walk semantics unchanged (single-char demotion per
    * lexicon_tree.py:94-95: a length-1 match votes only when it is the sole
    * TRIE match at its position; the first-level probe uses the trie's
    * char-indexed root array).
    */
  private def decodeInto(text: String, s: DetectScratch): Int = {
    val n = text.length
    if (n == 0) return 0
    s.vit.ensure(n)
    s.reset()
    // hoisted per turn: the root view (bitset-gated probe — the dominant
    // per-char op) and the trie bounds, so the position loop re-enters no
    // lazy-val accessor and loads no trie field per char
    val rv = trie.rootView
    val minLen = trie.minLen
    val maxDepth = trie.maxDepth
    var i = 0
    while (i < n) {
      var ptr = rv.child(text.charAt(i))
      var k = 0 // depth: ptr is the node after consuming text[i .. i+k]
      var nMatches = 0
      var soloSingle: String = null
      while (ptr != null) {
        if (k >= minLen && ptr.isWord) {
          nMatches += 1
          if (k == 0) soloSingle = ptr.word // defer: demoted unless solo
          else {
            val rows = voteRows.get(ptr.word)
            if (rows != null) s.addWord(i, ptr.word, rows) // dict miss: no vote
          }
        }
        k += 1
        // same cut order as the reference walk: depth limit checked before
        // the child lookup at depth k
        ptr = if (k < n - i && k <= maxDepth) ptr.child(text.charAt(i + k))
              else null
      }
      if (soloSingle != null && nMatches == 1) {
        val rows = voteRows.get(soloSingle)
        if (rows != null) s.addWord(i, soloSingle, rows)
      }
      i += 1
    }
    if (s.nWords == 0) return -n
    s.closeRun()
    // Sparse decode ≡ dense iff total emission mass stays far below
    // |Impossible| (Viterbi.SparseBmes doc): mass ≤ 0.1·n + voteMass. The
    // dense fallback only triggers on ~50k-char turns saturated with votes.
    val sparseOk = sparseTrans != null && 0.1f * n + s.voteMass < 5000f
    if (!disableDirect) {
      if (s.nWin == 0) {
        directTurns.increment()
        return n
      }
      if (windowed && sparseOk) {
        decodeWindows(s, n)
        return n
      }
    }
    // full decode: fill emissions, cast every buffered vote, decode
    s.full = true
    val em = s.vit.emissions
    java.util.Arrays.fill(em, 0, n * C, 0f)
    var p = 0
    while (p < n) { em(p * C + oIdx) = 0.1f; p += 1 }
    var w = 0
    while (w < s.nWords) { vote(em, s.starts(w), s.words(w), s.rows(w)); w += 1 }
    if (sparseOk) Viterbi.decodeScratchSparse(s.vit, n, sparseTrans)
    else Viterbi.decodeScratch(s.vit, n, transitions)
    decodedPositions.add(n)
    n
  }

  /** Case 3 of `decodeInto`: decode each overlap window alone, seeded with
    * the whole decode's running score, tags into `s.path` at their turn
    * offsets.
    */
  private def decodeWindows(s: DetectScratch, n: Int): Unit = {
    s.ensurePath(n)
    val em = s.vit.emissions
    var running = 0f
    var pos = 0 // positions [0, pos) are folded into `running`
    var w = 0
    var k = 0
    while (k < s.nWin) {
      val ws = s.winStart(k); val we = s.winEnd(k)
      while (w < s.nWords && s.starts(w) < ws) { // a direct word before ws
        val st = s.starts(w); val end = st + s.words(w).length
        while (pos < st) { running += 0.1f; pos += 1 }
        while (pos < end) { running += 1f; pos += 1 }
        w += 1
      }
      while (pos < ws) { running += 0.1f; pos += 1 }
      val len = we - ws
      java.util.Arrays.fill(em, 0, len * C, 0f)
      var p = 0
      while (p < len) { em(p * C + oIdx) = 0.1f; p += 1 }
      while (w < s.nWords && s.starts(w) < we) {
        vote(em, s.starts(w) - ws, s.words(w), s.rows(w))
        w += 1
      }
      running = Viterbi.decodeScratchSparse(s.vit, len, sparseTrans, running)
      System.arraycopy(s.vit.path, 0, s.path, ws, len)
      decodedPositions.add(len)
      pos = we
      k += 1
    }
  }

  /** Cast one buffered word's BMES votes at `start` into `em`. */
  private def vote(em: Array[Float], start: Int, word: String,
                   rows: Array[Int]): Unit = {
    val len = word.length
    if (len == 1) { em(start * C + rows(3)) += 1f; return }
    em(start * C + rows(0)) += 1f
    var k = 1
    while (k < len - 1) { em((start + k) * C + rows(1)) += 1f; k += 1 }
    em((start + len - 1) * C + rows(2)) += 1f
  }
}

/** Per-thread detect scratch: the Viterbi buffers, the walk's collected
  * dict-hit words (start, dictionary-owned word string, BMES tag rows), the
  * overlap windows those words form and the windows' decoded tags (`path`,
  * at turn offsets). Buffers grow on demand and are reset per turn.
  */
private[stages] final class DetectScratch(cap0: Int, C: Int) {
  val vit = new Viterbi.Scratch(cap0, C)
  var starts: Array[Int] = new Array(16)
  var words: Array[String] = new Array(16)
  var rows: Array[Array[Int]] = new Array(16)
  var nWords = 0
  var voteMass = 0L // Σ word lengths: the +1f emission increments. Long:
  // an Int could wrap on a ~7M-char match-saturated turn and silently
  // satisfy the sparse guard with its precondition violated
  var winStart: Array[Int] = new Array(4)
  var winEnd: Array[Int] = new Array(4)
  var nWin = 0
  var path: Array[Int] = new Array(cap0)
  var full = false // the whole turn was decoded into vit.path
  // the open run of overlapping or touching words: first start, exclusive
  // end of its rightmost word, whether two of its words overlap
  private var runStart = 0
  private var runEnd = 0
  private var runOverlaps = false

  def reset(): Unit = {
    nWords = 0; voteMass = 0L; nWin = 0; full = false; runOverlaps = false
  }

  /** Buffer a word; words arrive in ascending start order. */
  def addWord(start: Int, word: String, r: Array[Int]): Unit = {
    if (nWords == starts.length) {
      starts = java.util.Arrays.copyOf(starts, nWords * 2)
      words = java.util.Arrays.copyOf(words, nWords * 2)
      rows = java.util.Arrays.copyOf(rows, nWords * 2)
    }
    val end = start + word.length
    if (nWords == 0 || start > runEnd) { // a gap: the open run is complete
      closeRun()
      runStart = start; runEnd = end; runOverlaps = false
    } else {
      if (start < runEnd) runOverlaps = true
      if (end > runEnd) runEnd = end
    }
    starts(nWords) = start; words(nWords) = word; rows(nWords) = r
    nWords += 1
    voteMass += word.length
  }

  /** Record the open run as a window if two of its words overlap. */
  def closeRun(): Unit = if (runOverlaps) {
    if (nWin == winStart.length) {
      winStart = java.util.Arrays.copyOf(winStart, nWin * 2)
      winEnd = java.util.Arrays.copyOf(winEnd, nWin * 2)
    }
    winStart(nWin) = runStart; winEnd(nWin) = runEnd
    nWin += 1
    runOverlaps = false
  }

  def ensurePath(n: Int): Unit =
    if (n > path.length) path = new Array(math.max(n, path.length * 2))
}

/** Mention-detection stage: `Dataset[Turn] → Dataset[Mention]`.
  *
  * mapPartitions with broadcast (trie, dictionary, tagger); inside each
  * partition, rows are grouped into micro-batches of `batchSize` and sorted
  * by descending length before the tagger call (padding-waste trick of
  * birnncrf.py:20-28) — order is restored per row because mentions carry
  * their own (conv_id, turn_idx) keys; no global order is assumed.
  */
object Detect {
  val BatchSize = 64

  /** Per-partition detect core — the ONE place the micro-batch + length-sort
    * + span-fast-path trick lives (padding-waste packing of
    * birnncrf.py:20-28): shared by the batch stage below and the streaming
    * windowed counts (`StreamingDetect`), so streaming runs the same detect
    * core as the batch pipeline. Emission order within a chunk is the SORTED order —
    * callers must not assume input order (rows carry their own keys).
    */
  private val lengthDesc: java.util.Comparator[Turn] =
    (a: Turn, b: Turn) => Integer.compare(b.text.length, a.text.length)

  def spanPartition(it: Iterator[Turn],
                    tg: MentionTagger): Iterator[(Turn, List[Span])] =
    new Iterator[(Turn, List[Span])] {
      // reused micro-batch buffer: the old grouped/sortBy/map pipeline
      // allocated ~5 intermediate collections (plus boxed sort keys) per
      // 64-turn chunk — at 10^12 turns that's measurable allocator traffic.
      // Output tuples reference the Turn objects, never the buffer, so
      // reuse is safe. TimSort on the range is stable like sortBy, so the
      // per-chunk emission order is IDENTICAL to the old implementation.
      private val buf = new Array[Turn](BatchSize)
      private var spans: Seq[List[Span]] = null
      private var n = 0
      private var i = 0
      private def fill(): Unit = {
        n = 0
        while (n < BatchSize && it.hasNext) {
          val t = it.next()
          if (t.text == null) throw new IllegalArgumentException(
            s"Detect: null text at conv_id=${t.conv_id} turn_idx=${t.turn_idx}")
          buf(n) = t; n += 1
        }
        if (n > 0) {
          java.util.Arrays.sort(buf, 0, n, lengthDesc) // length packing
          val texts = new Array[String](n)
          var j = 0
          while (j < n) { texts(j) = buf(j).text; j += 1 }
          spans = tg.spanBatch(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(texts)).toIndexedSeq
        }
        i = 0
      }
      def hasNext: Boolean = { if (i >= n) fill(); i < n }
      def next(): (Turn, List[Span]) = {
        if (!hasNext) throw new NoSuchElementException("spanPartition")
        val r = (buf(i), spans(i)); i += 1; r
      }
    }

  def run(turns: Dataset[Turn], tagger: Broadcast[MentionTagger]): Dataset[Mention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    mapSpans(turns, tagger) { () =>
      // iterator, not map: don't build a second List per turn just to flatten it
      (turn: Turn, spans: List[Span]) => spans.iterator.map(sp =>
        Mention(turn.conv_id, turn.turn_idx, sp.start, sp.end, sp.label, sp.surface))
    }
  }

  /** The Dataset entry of the tagger path, shared by `run`,
    * `Link.runFusedDetect` and `Triples.runFusedDetect`: reads only
    * `conv_id`, `turn_idx` and `text` (`role`, `tool` and `ts` become
    * typed nulls, so a columnar scan skips them), and maps every
    * (turn, spans) pair through the function `perTask` builds once per
    * task — where a task's memo lives (`Link.Memo`).
    */
  private[graft] def mapSpans[U: Encoder](turns: Dataset[Turn],
      tagger: Broadcast[MentionTagger])(
      perTask: () => (Turn, List[Span]) => Iterator[U]): Dataset[U] =
    turns.select(col("conv_id"), col("turn_idx"),
        lit(null).cast(StringType).as("role"), col("text"),
        lit(null).cast(StringType).as("tool"),
        lit(null).cast(TimestampType).as("ts"))
      .as(Encoders.product[Turn])
      .mapPartitions { it =>
        val emit = perTask()
        spanPartition(it, tagger.value).flatMap { case (turn, spans) => emit(turn, spans) }
      }

  /** Convenience: build the broadcastable sandbox tagger from alias rows. */
  def lexiconTagger(spark: SparkSession, alias: Seq[AliasRow],
                    tagSet: IndexedSeq[String]): Broadcast[MentionTagger] = {
    val trie = Trie(alias.map(_.surface))
    val dict = alias.map(r => r.surface -> r.label).toMap
    spark.sparkContext.broadcast[MentionTagger](new LexiconCrfTagger(trie, dict, tagSet))
  }
}
