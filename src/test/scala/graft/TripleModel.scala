package graft

import graft.core._
import graft.stages.TripleDict

/** Spark-free reference model of triple assembly: the specification every
  * batch assembler (`Triples.runEncodedSorted`, `runEncodedSortedHashed`,
  * `runFusedDetect`) and the streaming operator
  * (`StreamingTriples.assembleWithEvictionEncoded`, `LinkFrontier.step`) is
  * tested against. It shares no rule code with `src/main`: the production
  * rules live only in `Triples.emitTurnRules`, over packed longs, while the
  * model applies string rule bodies to plain Scala collections.
  * `Transcripts.goldTriples` stays an independent third witness.
  *
  * Semantics, one conversation at a time:
  *   - NIL rows (null `canonical_id`) are skipped;
  *   - rows sharing `(conv_id, turn_idx)` are pooled into one turn;
  *   - a turn's mentions are ordered by (start, label, canonical_id), ints
  *     ascending and strings in UTF-8 binary order;
  *   - within a turn: PER×ORG → affiliated_with, PER×PER (i<j, distinct ids)
  *     → mentions_with, ORG×LOC → located_in;
  *   - across turns: PER(t)×PER(t−1), distinct ids → follows_up, only when
  *     turn t−1 exists (sparse indexes link nothing across a gap);
  *   - duplicates are removed within each turn.
  */
object TripleModel {

  /** Within-turn mention order: Int ascending, then UTF-8 binary collation
    * on the strings (a Java-String sort would diverge on supplementary-plane
    * ids). Start-ties must not keep arrival order, or `mentions_with` would
    * flip its subject and object between runs.
    */
  val mentionKeyOrder: Ordering[(Int, String, String)] =
    new Ordering[(Int, String, String)] {
      def compare(a: (Int, String, String), b: (Int, String, String)): Int = {
        val c0 = java.lang.Integer.compare(a._1, b._1)
        if (c0 != 0) return c0
        val c1 = TripleDict.utf8Order.compare(a._2, b._2)
        if (c1 != 0) return c1
        TripleDict.utf8Order.compare(a._3, b._3)
      }
    }

  /** Within-turn rules over one turn's (start, label, canonical_id) list,
    * sorted by `mentionKeyOrder`.
    */
  def withinTurnTriples(convId: String, turnIdx: Int,
      ms: Seq[(Int, String, String)]): Seq[Triple] = {
    val pers = ms.filter(_._2 == "PER")
    val orgs = ms.filter(_._2 == "ORG")
    val locs = ms.filter(_._2 == "LOC")
    (for (p <- pers; o <- orgs) yield Triple(p._3, "affiliated_with", o._3, convId, turnIdx)) ++
    (for (i <- ms.indices; j <- ms.indices; if i < j;
          if ms(i)._2 == "PER" && ms(j)._2 == "PER" && ms(i)._3 != ms(j)._3)
      yield Triple(ms(i)._3, "mentions_with", ms(j)._3, convId, turnIdx)) ++
    (for (o <- orgs; l <- locs) yield Triple(o._3, "located_in", l._3, convId, turnIdx))
  }

  /** Cross-turn (k=1) rule: turn `turnIdx`'s PER ids against its previous
    * turn's.
    */
  def followUps(convId: String, turnIdx: Int,
      pers: Seq[String], prevPers: Seq[String]): Seq[Triple] =
    for (p <- pers; q <- prevPers; if p != q)
      yield Triple(p, "follows_up", q, convId, turnIdx)

  /** Every triple of `canon`, in `sorted` order. */
  def triples(canon: Seq[CanonMention]): Seq[Triple] =
    sorted(canon.filter(_.canonical_id != null).groupBy(_.conv_id).toSeq.flatMap {
      case (convId, rows) =>
        val turns: Map[Int, Seq[(Int, String, String)]] = rows.groupBy(_.turn_idx)
          .map { case (t, ms) =>
            t -> ms.map(m => (m.start, m.label, m.canonical_id)).sorted(mentionKeyOrder)
          }
        def pers(ms: Seq[(Int, String, String)]) = ms.filter(_._2 == "PER").map(_._3)
        turns.toSeq.flatMap { case (t, ms) =>
          val prev = turns.get(t - 1).map(pers).getOrElse(Nil)
          (withinTurnTriples(convId, t, ms) ++ followUps(convId, t, pers(ms), prev)).distinct
        }
    })

  /** The order the tests compare triple lists in (duplicates kept, so a
    * repeated triple shows up as a difference).
    */
  def sorted(ts: Iterable[Triple]): Seq[Triple] =
    ts.toSeq.sortBy(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj))
}
