package graft.core

/** Max-product CRF decoding over per-position tag scores, semantics per the
  * reference Viterbi (`CC/crf.py:89-134`): virtual START/STOP states with
  * transition rows in `transitions`, accumulate
  * `score[t][c] = max_p(score[t-1][p] + trans(c, p)) + emit[t][c]`,
  * close with the STOP transition, walk back-pointers.
  *
  * Pure, single-sequence, driver/executor agnostic — in the pipeline it runs
  * per turn inside the mention-detection `mapPartitions` micro-batch.
  */
object Viterbi {
  val Impossible: Float = -1e4f // crf.py IMPOSSIBLE

  /** Reusable per-thread decode buffers — the inference hot loop runs once
    * per turn, so per-call `[L][C]` allocations dominate GC at 10^6+ turns
    * per executor. Grow-on-demand, never shrink.
    */
  final class Scratch(var cap: Int, val C: Int) {
    var emissions: Array[Float] = new Array(cap * C) // row-major [L][C]
    var bps: Array[Int] = new Array(cap * C)
    val score: Array[Float] = new Array(C)
    val next: Array[Float] = new Array(C)
    // per-distinct-predecessor-row maxima for the sparse decode (R ≤ C)
    val rowBest: Array[Float] = new Array(C)
    var path: Array[Int] = new Array(cap)
    def ensure(l: Int): Unit = if (l > cap) {
      cap = math.max(l, cap * 2)
      emissions = new Array(cap * C)
      bps = new Array(cap * C)
      path = new Array(cap)
    }
  }

  /** @param emissions   [L][C] unary scores
    * @param transitions [C+2][C+2] trans(to, from) log-scores; row/col C is
    *                    START, C+1 is STOP (crf.py layout: transitions[stop_idx, tag])
    * @return best tag path of length L
    */
  def decode(emissions: Array[Array[Float]], transitions: Array[Array[Float]]): Array[Int] = {
    val L = emissions.length
    if (L == 0) return Array.empty
    val C = emissions(0).length
    val s = new Scratch(L, C)
    var t = 0
    while (t < L) {
      System.arraycopy(emissions(t), 0, s.emissions, t * C, C)
      t += 1
    }
    decodeScratch(s, L, transitions)
    java.util.Arrays.copyOf(s.path, L)
  }

  /** Scratch-based decode: emissions already filled row-major in
    * `s.emissions[0 until L*C]`; result path in `s.path[0 until L]`.
    */
  def decodeScratch(s: Scratch, L: Int, transitions: Array[Array[Float]]): Unit = {
    if (L == 0) return
    val C = s.C
    val startIdx = C
    val stopIdx = C + 1
    val em = s.emissions
    val bps = s.bps
    var maxScore = s.score
    var next = s.next
    // t = 0: from START
    var c = 0
    while (c < C) {
      maxScore(c) = transitions(c)(startIdx) + em(c)
      bps(c) = startIdx
      c += 1
    }
    var t = 1
    while (t < L) {
      val base = t * C
      c = 0
      while (c < C) {
        val trC = transitions(c)
        var best = Float.NegativeInfinity
        var bestP = 0
        var p = 0
        while (p < C) {
          val sc = maxScore(p) + trC(p)
          if (sc > best) { best = sc; bestP = p }
          p += 1
        }
        next(c) = best + em(base + c)
        bps(base + c) = bestP
        c += 1
      }
      val tmp = maxScore; maxScore = next; next = tmp
      t += 1
    }
    // transition to STOP
    var best = Float.NegativeInfinity
    var bestTag = 0
    c = 0
    while (c < C) {
      val sc = maxScore(c) + transitions(stopIdx)(c)
      if (sc > best) { best = sc; bestTag = c }
      c += 1
    }
    // back-pointer walk (crf.py:120-132)
    var cur = bestTag
    t = L - 1
    while (t >= 0) {
      s.path(t) = cur
      cur = bps(t * C + cur)
      t -= 1
    }
  }

  /** Sparse predecessor view of a 0/`Impossible` transition matrix (the
    * shape [[bmesTransitions]] produces): per target tag, the ascending list
    * of predecessors whose transition score is exactly 0. BMES matrices are
    * ~2/3 `Impossible` (M/E tags admit only 2 of C predecessors), so the
    * max-over-predecessors inner loop shrinks ~3× — and because every kept
    * transition scores 0, the loop is a pure running max with no adds.
    *
    * Bit-exactness precondition for [[decodeScratchSparse]] ≡
    * [[decodeScratch]] (argmax ties included): all emissions ≥ 0 and the
    * total emission mass `Σ_t max_c em(t,c)` < |Impossible| (with margin —
    * callers use 5000 < 1e4). Proof: every tag has ≥1 predecessor reachable
    * from START (O for B/S/O targets, B-X for M-X/E-X targets), so by
    * induction every cell score lies in [0, Σmass]; a pruned candidate is
    * ≤ Σmass − 1e4 < 0 ≤ best kept candidate, so it can never win or tie,
    * and within kept candidates both loops scan the same ascending order
    * with strict `>`. `Impossible` is finite (crf.py semantics), so WITHOUT
    * the mass bound a pruned transition could legitimately win — callers
    * must fall back to the dense decode when the bound fails.
    */
  final class SparseBmes private[Viterbi] (
      val startScore: Array[Float], // transitions(c)(START), dense init row
      val rowOf: Array[Int],        // tag → distinct-predecessor-row id
      val rowStart: Array[Int],     // length R+1, CSR offsets into rowPred
      val rowPred: Array[Int],      // kept predecessors, ascending per row
      val stopPreds: Array[Int]     // tags with a kept STOP transition, asc
  ) extends Serializable {
    def nRows: Int = rowStart.length - 1
  }

  object SparseBmes {
    /** Build iff every interior/STOP entry is exactly 0f or [[Impossible]]
      * (START column may hold any finite score — it is used densely).
      * Tags with identical predecessor sets share one row, so the per-
      * position work is one max per DISTINCT row: BMES matrices collapse to
      * 1 + #types rows (all B/S/O targets share {E-*, S-*, O}; M-X and E-X
      * share {B-X, M-X}) — 4 rows for 13 tags here.
      */
    def build(transitions: Array[Array[Float]]): Option[SparseBmes] = {
      val C = transitions.length - 2
      if (C <= 0 || transitions.exists(_.length != C + 2)) return None
      val rowOf = new Array[Int](C)
      val rowKey = scala.collection.mutable.LinkedHashMap.empty[List[Int], Int]
      for (to <- 0 until C) {
        val preds = List.newBuilder[Int]
        for (from <- 0 until C) transitions(to)(from) match {
          case 0f => preds += from
          case Impossible => ()
          case _ => return None
        }
        val key = preds.result()
        // a tag with NO kept predecessor would leave the sparse max at -inf
        // where dense computes a finite (pruned) max — the equivalence proof
        // needs ≥1 kept entry per row, which BMES guarantees
        if (key.isEmpty) return None
        rowOf(to) = rowKey.getOrElseUpdate(key, rowKey.size)
      }
      val rows = rowKey.keysIterator.toArray // insertion order == row id
      val rowStart = rows.scanLeft(0)(_ + _.length)
      val rowPred: Array[Int] = rows.flatten
      val stop = Array.newBuilder[Int]
      var nStop = 0
      for (from <- 0 until C) transitions(C + 1)(from) match {
        case 0f => stop += from; nStop += 1
        case Impossible => ()
        case _ => return None
      }
      if (nStop == 0) return None
      val startScore = Array.tabulate(C)(c => transitions(c)(C))
      Some(new SparseBmes(startScore, rowOf, rowStart, rowPred, stop.result()))
    }
  }

  /** [[decodeScratch]] specialized to a [[SparseBmes]] matrix — identical
    * output (see the equivalence precondition on [[SparseBmes]]; callers
    * enforce the emission-mass bound, `seed` included). `s.C` must equal the
    * matrix's C.
    *
    * @param seed score added to the START column: 0f decodes a whole
    *             sequence; a window of a longer decode passes that decode's
    *             running score at the position before the window, so float
    *             rounding, and with it every exact tie, matches the whole
    *             decode (`LexiconCrfTagger.decodeInto` has the proof)
    * @return the STOP max, the best path's score
    */
  def decodeScratchSparse(s: Scratch, L: Int, sp: SparseBmes,
                          seed: Float = 0f): Float = {
    if (L == 0) return seed
    val C = s.C
    val em = s.emissions
    val bps = s.bps
    val rowOf = sp.rowOf
    val rowStart = sp.rowStart
    val rowPred = sp.rowPred
    val R = sp.nRows
    val rowBest = s.rowBest
    var maxScore = s.score
    var next = s.next
    var c = 0
    while (c < C) { // t = 0: dense START init, same values as decodeScratch
      maxScore(c) = seed + sp.startScore(c) + em(c)
      c += 1
    }
    // back-pointers at stride R, not C: every tag in a predecessor row
    // shares one argmax, so only R values exist per position — backtrack
    // reads bps(t*R + rowOf(cur)). Cuts the dominant per-position memory
    // write from C ints to R (13 → 4 for BMES). Row 0 (t = 0) is never
    // written or read: the backtrack loop stops at t = 1 (position 0's
    // predecessor is START).
    var t = 1
    while (t < L) {
      val base = t * C
      val bbase = t * R
      var r = 0
      while (r < R) { // one max per DISTINCT predecessor row, not per tag
        var k = rowStart(r)
        val end = rowStart(r + 1)
        var best = Float.NegativeInfinity
        var bestP = 0
        while (k < end) {
          val p = rowPred(k)
          val sc = maxScore(p) // kept transition score is exactly 0
          if (sc > best) { best = sc; bestP = p }
          k += 1
        }
        rowBest(r) = best
        bps(bbase + r) = bestP
        r += 1
      }
      c = 0
      while (c < C) {
        next(c) = rowBest(rowOf(c)) + em(base + c)
        c += 1
      }
      val tmp = maxScore; maxScore = next; next = tmp
      t += 1
    }
    var best = Float.NegativeInfinity
    var bestTag = 0
    var k = 0
    while (k < sp.stopPreds.length) {
      val p = sp.stopPreds(k)
      val sc = maxScore(p)
      if (sc > best) { best = sc; bestTag = p }
      k += 1
    }
    var cur = bestTag
    t = L - 1
    while (t >= 1) {
      s.path(t) = cur
      cur = bps(t * R + rowOf(cur))
      t -= 1
    }
    s.path(0) = cur
    best
  }

  /** Score of a given path under (emissions, transitions) incl. START/STOP —
    * used by tests to assert decode optimality against brute force
    * (crf.py:66-87 `__score` semantics, batch-free).
    */
  def score(path: Array[Int], emissions: Array[Array[Float]],
            transitions: Array[Array[Float]]): Float = {
    val L = path.length
    if (L == 0) return 0f
    val C = emissions(0).length
    var s = transitions(path(0))(C) + emissions(0)(path(0))
    var t = 1
    while (t < L) {
      s += transitions(path(t))(path(t - 1)) + emissions(t)(path(t))
      t += 1
    }
    s + transitions(C + 1)(path(L - 1))
  }

  /** A BMES-consistent transition matrix over a tag vocabulary: valid
    * transitions score 0, invalid `Impossible`. Tag order is caller-fixed;
    * START/STOP appended. Validity rules follow the BMES grammar the
    * reference's CRF learns implicitly (B→I/E same type, I→I/E same type,
    * E/S/O→B/S/O, START→B/S/O, B/I must not end the sequence).
    */
  def bmesTransitions(tags: IndexedSeq[String]): Array[Array[Float]] = {
    val C = tags.length
    val m = Array.fill(C + 2, C + 2)(Impossible)
    def head(t: String) = if (t.isEmpty) 'O' else t.charAt(0)
    def tp(t: String) = Tags.typeOf(t)
    for (to <- 0 until C; from <- 0 until C) {
      val (hf, ht) = (head(tags(from)), head(tags(to)))
      val ok = (hf, ht) match {
        case ('B', 'I') | ('B', 'M') | ('B', 'E') => tp(tags(from)) == tp(tags(to))
        case ('I', 'I') | ('M', 'M') | ('I', 'E') | ('M', 'E') => tp(tags(from)) == tp(tags(to))
        case ('E', 'B') | ('E', 'S') | ('E', 'O') => true
        case ('S', 'B') | ('S', 'S') | ('S', 'O') => true
        case ('O', 'B') | ('O', 'S') | ('O', 'O') => true
        case _ => false
      }
      if (ok) m(to)(from) = 0f
    }
    for (to <- 0 until C) { // START -> B/S/O
      val h = head(tags(to))
      if (h == 'B' || h == 'S' || h == 'O') m(to)(C) = 0f
    }
    for (from <- 0 until C) { // E/S/O -> STOP
      val h = head(tags(from))
      if (h == 'E' || h == 'S' || h == 'O') m(C + 1)(from) = 0f
    }
    m
  }
}
