package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core._
import graft.stages.{TripleDict, Triples}

/** Incremental triple assembly over a mention stream with
  * `flatMapGroupsWithState` — per-conversation custom state (the
  * `KeyValueGroupedDataset` stateful path of the north star). The one
  * operator is [[StreamingTriples.assembleWithEvictionEncoded]].
  *
  * State per conv_id: the link frontier, i.e. the turns whose `follows_up`
  * partner has not arrived yet, with their PER canonical ids as dictionary
  * ranks. The cross-turn rule (k=1) emits as soon as the second side of an
  * adjacent-turn pair arrives; within-turn rules are stateless and emitted
  * in the same pass.
  *
  * State eviction: event-time timeout keyed to the transcript watermark —
  * a conversation idle past the watermark has its per-conv state dropped,
  * so state is bounded by the number of LIVE conversations, not all
  * conversations ever seen.
  *
  * Late turns: Spark filters rows behind the PREVIOUS micro-batch's
  * watermark before the handler runs, so rows between that and the current
  * watermark still reach it. The handler drops every row with
  * `ts ≤ getCurrentWatermarkMs()` before it emits anything or buffers it,
  * so a late turn emits nothing (within-turn triples included) and no
  * timer is ever armed below the watermark.
  *
  * Ordering contract: turns need not arrive in order — a turn arriving in
  * any order within the watermark window still links, and a `follows_up`
  * pair emits exactly once, when the later-ARRIVING side of the
  * adjacent-turn pair lands. The only per-turn atomicity assumption is that
  * one turn's mentions share a micro-batch (true for the upstream detect
  * stage, which emits whole turns). A turn stays linkable while
  * `ts + idleGap` is above the watermark — the same horizon as
  * conversation-idleness eviction, now per turn. Only the link frontier is
  * kept (see [[StreamingTriples.LinkFrontier]]), so an in-order
  * conversation holds one buffered turn.
  */
object StreamingTriples {

  /** CanonMention + the turn's event time (the watermark column). */
  final case class TimedCanonMention(
      conv_id: String, turn_idx: Int, start: Int, end: Int, label: String,
      surface: String, entity_id: String, canonical_id: String,
      ts: java.sql.Timestamp)

  /** Delay string → milliseconds via Spark's OWN interval parser, so every
    * form `withWatermark`/`setTimeoutTimestamp` accept ("90 seconds",
    * "1 hour 30 minutes", "2 weeks") parses identically here. Month-based
    * intervals are rejected — they have no fixed millisecond length.
    */
  private def parseDelayMs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"month-based delay '$s' has no fixed ms length")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Per-conversation state of [[assembleWithEvictionEncoded]]: the link
    * frontier, i.e. the buffered turns that can still emit a `follows_up`.
    * A turn stays while one of its neighbours (t−1 for t > 0, or t+1) has
    * not arrived and `ts + idleGap` is above the watermark; a turn without
    * PER mentions keeps only that arrival marker.
    *
    * Layout, ascending by turn index: `meta` holds two longs per turn,
    * `turn << 32 | flags << 30 | nPers` and then the event time in ms,
    * where flag bit 0 means t−1 has arrived and bit 1 that t+1 has; `pers`
    * concatenates each turn's `nPers` PER entity ranks (TripleDict ranks)
    * in mention order.
    */
  final case class LinkFrontier(meta: Array[Long], pers: Array[Int]) {
    def turns: Int = meta.length / 2
    def maxTs: Long = {
      var m = Long.MinValue
      var i = 1
      while (i < meta.length) { m = math.max(m, meta(i)); i += 2 }
      m
    }
  }

  object LinkFrontier {
    val Empty: LinkFrontier = LinkFrontier(Array.emptyLongArray, Array.emptyIntArray)

    private final val PrevIn = 1
    private final val NextIn = 2
    private final val Linked = PrevIn | NextIn

    /** One arriving turn: its index, event time in ms, and its mentions
      * packed as `start << 40 | labelRank << 32 | entityRank` (the batch
      * encoded layout), sorted ascending.
      */
    final case class Arrival(turn: Int, ts: Long, ms: Array[Long])

    private final class Buffered(val ts: Long, val pers: Array[Int], var flags: Int)

    /** One handler call for one conversation: prune `st` to the turns with
      * `ts + idleGapMs` above `wmMs`, then take `arrivals` (ascending,
      * distinct turns, all above the watermark) in order — emit each turn's
      * within-turn triples, link it to a buffered neighbour that is still
      * waiting for it, and drop every turn whose two neighbours have now
      * arrived. Returns the new frontier and the triples.
      *
      * On any input without a repeated turn, the triples are exactly those
      * of a full buffer that keeps every turn inside the horizon and applies
      * the reference model's string rule bodies (`TripleModel` in the tests;
      * property-tested in LinkFrontierSpec). A turn delivered
      * again in a later call re-emits its within-turn triples, replaces its
      * buffered PER set and links only to neighbours still waiting for it,
      * so redelivering one turn never repeats a `follows_up`.
      */
    def step(dict: TripleDict, idleGapMs: Long, convId: String,
             st: LinkFrontier, arrivals: Seq[Arrival],
             wmMs: Long): (LinkFrontier, scala.collection.Seq[Triple]) = {
      val ents = scala.collection.immutable.ArraySeq.unsafeWrapArray(dict.entities)
      val perB = dict.rankOfLabel("PER")
      val orgB = dict.rankOfLabel("ORG")
      val locB = dict.rankOfLabel("LOC")
      val buf = new java.util.TreeMap[Integer, Buffered]()
      var i = 0
      var off = 0
      while (i < st.meta.length) {
        val h = st.meta(i)
        val n = (h & 0x3fffffffL).toInt
        if (st.meta(i + 1) + idleGapMs > wmMs)
          buf.put((h >>> 32).toInt, new Buffered(st.meta(i + 1),
            java.util.Arrays.copyOfRange(st.pers, off, off + n), ((h >>> 30) & 3L).toInt))
        off += n
        i += 2
      }
      val out = new scala.collection.mutable.ArrayBuffer[Triple]()
      val dedup = new Triples.PairDedup
      // `TripleModel.followUps(...).distinct` on ranks: p outer / q inner in
      // mention order, deduped on the batch walker's (predId=3, subj, obj) key
      def link(turnIdx: Int, cur: Array[Int], prev: Array[Int]): Unit = {
        dedup.clear()
        cur.foreach { p =>
          prev.foreach { q =>
            if (p != q && dedup.add((3L << 62) | (p.toLong << 31) | q.toLong))
              out += Triple(ents(p), "follows_up", ents(q), convId, turnIdx)
          }
        }
      }
      def arrived(turn: Int, b: Buffered, bit: Int): Unit = {
        b.flags |= bit
        if (b.flags == Linked) buf.remove(turn)
      }
      arrivals.foreach { a =>
        if (a.turn < 0) throw new IllegalStateException(
          s"StreamingTriples encoded: negative turn_idx ${a.turn} in $convId")
        // within-turn rules via the ONE batch rule body (prev empty —
        // cross-turn links go through the frontier lookups below)
        Triples.emitTurnRules(a.ms, a.ms.length, Triples.EmptyLongs, 0,
          convId, a.turn, ents, perB, orgB, locB, dedup, out)
        val pers = a.ms.collect {
          case v if ((v >>> 32) & 0xff).toInt == perB => (v & 0xffffffffL).toInt
        }
        var flags = if (a.turn == 0) PrevIn else 0
        val prev = if (a.turn > 0) buf.get(a.turn - 1) else null
        if (prev != null && (prev.flags & NextIn) == 0) {
          link(a.turn, pers, prev.pers)
          arrived(a.turn - 1, prev, NextIn)
          flags |= PrevIn
        }
        val next = buf.get(a.turn + 1)
        if (next != null && (next.flags & PrevIn) == 0) {
          link(a.turn + 1, next.pers, pers)
          arrived(a.turn + 1, next, PrevIn)
          flags |= NextIn
        }
        val again = buf.get(a.turn)
        if (again != null) flags |= again.flags
        if (flags == Linked) buf.remove(a.turn)
        else buf.put(a.turn, new Buffered(a.ts, pers, flags))
      }
      if (buf.isEmpty) return (Empty, out)
      val meta = new Array[Long](buf.size * 2)
      var nPers = 0
      buf.values.forEach(b => nPers += b.pers.length)
      val pers = new Array[Int](nPers)
      i = 0
      off = 0
      buf.forEach { (turn, b) =>
        meta(i) = (turn.toLong << 32) | (b.flags.toLong << 30) | b.pers.length
        meta(i + 1) = b.ts
        System.arraycopy(b.pers, 0, pers, off, b.pers.length)
        off += b.pers.length
        i += 2
      }
      (LinkFrontier(meta, pers), out)
    }
  }

  /** Event-time state eviction + out-of-order turn arrival (see object
    * doc). Rows at or behind the current watermark are dropped in the
    * handler before they emit or are buffered; turns above it may arrive in
    * ANY order — within-turn triples emit on arrival, and each adjacent-turn
    * `follows_up` pair emits when its later-arriving side lands. Buffered
    * turns are pruned once the watermark passes `ts + idleGap`; a cross-turn
    * link whose earlier side idled past that horizon is dropped, exactly
    * like the conversation-idle eviction it generalizes.
    *
    * The per-conversation state is the packed [[LinkFrontier]] — two
    * primitive arrays holding only the turns that can still link, with PER
    * canonical ids as TripleDict entity ranks — and the per-turn rules run
    * on the batch path's packed mention longs (`Triples.emitTurnRules`), so
    * subj / obj strings are shared references into the dictionary's entity
    * array. The frontier's timer is armed at max(kept ts) + idleGap, and the
    * state row is removed as soon as the frontier is empty. The
    * per-conversation step is the pure [[LinkFrontier.step]].
    *
    * When nothing is evicted and no `(conv_id, turn_idx)` repeats across
    * micro-batches, the output equals the reference model's (`TripleModel`
    * in the tests) over the rows that are not late (StreamingTriplesSpec;
    * the redelivery contract is on `LinkFrontier.step`). Requires the same
    * dictionary premise as the batch encoded paths: every label and
    * canonical id packable via `dict`, mention starts inside the packed
    * layout's 23-bit bound and non-negative turn indices — each violation
    * fails the query loudly, never a silent drop. Only `dict` is broadcast;
    * its rank lookups are built once per executor.
    *
    * @param idleGap how long past its event time a turn stays linkable /
    *        a conversation may stay silent before its state is evicted.
    */
  def assembleWithEvictionEncoded(mentions: Dataset[TimedCanonMention],
                                  dict: TripleDict,
                                  watermark: String = "1 hour",
                                  idleGap: String = "30 minutes"): Dataset[Triple] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val idleGapMs = parseDelayMs(idleGap)
    val bcDict = spark.sparkContext.broadcast(dict)

    mentions.withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (convId: String, rows: Iterator[TimedCanonMention], state: GroupState[LinkFrontier]) =>
          if (state.hasTimedOut) {
            // armed at max(kept ts) + idleGap: every kept turn is past its
            // horizon when it fires
            state.remove()
            Iterator.empty
          } else {
            val d = bcDict.value
            val wm = state.getCurrentWatermarkMs()
            val arrivals = rows.filter(_.ts.getTime > wm).toSeq
              .groupBy(_.turn_idx).toSeq.sortBy(_._1).map { case (turnIdx, ms0) =>
                val ms = ms0.iterator.map { m =>
                  // same loud-failure contract as the batch encoded paths: an
                  // unpackable mention aborts, never silently drops
                  val lb = d.rankOfLabel(m.label)
                  if (lb < 0) throw new IllegalStateException(
                    s"StreamingTriples encoded: label not in dict: ${m.label}")
                  val eid = d.rankOfEntity(m.canonical_id)
                  if (eid < 0) throw new IllegalStateException(
                    s"StreamingTriples encoded: canonical_id not in dict: ${m.canonical_id}")
                  if (m.start < 0 || m.start >= Triples.MaxPackedStart)
                    throw new IllegalStateException(
                      s"StreamingTriples encoded: start outside [0, ${Triples.MaxPackedStart}) in $convId")
                  (m.start.toLong << 40) | (lb.toLong << 32) | eid.toLong
                }.toArray
                // ascending packed sort == the batch sort_array order (rank
                // packing preserves UTF-8 order; bit 63 always 0)
                java.util.Arrays.sort(ms)
                LinkFrontier.Arrival(turnIdx, ms0.iterator.map(_.ts.getTime).max, ms)
              }
            val (next, out) = LinkFrontier.step(d, idleGapMs, convId,
              state.getOption.getOrElse(LinkFrontier.Empty), arrivals, wm)
            if (next.turns == 0) state.remove()
            else {
              state.update(next)
              state.setTimeoutTimestamp(next.maxTs + idleGapMs)
            }
            out.iterator
          }
      }
  }
}
