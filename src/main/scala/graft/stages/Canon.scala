package graft.stages

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core._

/** Canonicalization: same-as evidence edges → connected components →
  * deterministic canonical-ID election (`canonical_id = min(entity_id)` over
  * the component).
  *
  * GraphFrames is not on the classpath (verified, SURVEY.md §7.1), so
  * components are computed with the **alternating large-star / small-star**
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) as a loop of pure DataFrame ops — shuffle-friendly,
  * O(log n) rounds, each round two `groupBy(min)` + joins that AQE can
  * re-plan. Per-round `localCheckpoint` cuts lineage so plans stay bounded.
  */
object Canon {

  /** Edge-count ceiling for the driver union-find fast path: below it the
    * deduped edge list is collected and solved locally in one pass (same-as
    * evidence graphs are typically dictionary-sized, and the star loop's
    * ~4 rounds × several jobs are pure scheduler overhead there); above it
    * the distributed alternating-star loop runs. 512k edges ≈ low tens of
    * MB of collected Rows plus the union-find's string maps — safely inside
    * any sane driver heap (ADVICE r4: the previous 4M default was multiple
    * GB of transient driver allocation once Row/tuple/HashMap overheads are
    * counted — a silent OOM risk; the scheduler-overhead win of the fast
    * path is already fully captured at this size).
    */
  val DefaultMaxLocalEdges: Long = 512L << 10

  /** edges: DataFrame(src string, dst string), undirected semantics.
    * @return DataFrame(id string, canonical_id string) covering every vertex
    *         incident to an edge.
    */
  def connectedComponents(edges0: DataFrame, maxIter: Int = 40,
                          maxLocalEdges: Long = DefaultMaxLocalEdges): DataFrame =
    connectedComponentsWithStats(edges0, maxIter, maxLocalEdges)._1

  /** As `connectedComponents`, additionally reporting (rounds, converged) —
    * the evidence surface for the O(log n) claim: a chain (path graph) is
    * the round-count worst case for alternating large/small-star, and
    * `graft.CCBench` drives a ≥10M-edge long-chain graph through this to
    * publish rounds/wall (BENCH.md §CC). The fast path reports rounds = 0.
    *
    * The size gate costs NO extra job: the loop's carried checksum already
    * counts the deduped edge relation before round 1.
    */
  def connectedComponentsWithStats(edges0: DataFrame, maxIter: Int = 40,
      maxLocalEdges: Long = DefaultMaxLocalEdges): (DataFrame, Int, Boolean) = {
    val spark = edges0.sparkSession

    // canonical direction + dedup; drop self loops
    var edges = edges0.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      val m = sym.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u")) // strictly larger neighbors re-point to min
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
      // NO intermediate distinct: min-based relinking is duplicate-tolerant
      // (groupBy-min and the join read a multiset exactly as a set), the
      // duplicate volume is bounded by the input edge count, and smallStar's
      // trailing distinct re-canonicalizes each ROUND's output — dropping
      // this dedup removes one of the four per-round shuffles (measured in
      // graft.CCBench; round counts and outputs unchanged, CanonSpec)
    }

    def smallStar(e: DataFrame): DataFrame = {
      // direct edges large→small: u > v
      val dir = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      val relink = dir.join(m, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .unionAll(m.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .distinct()
      relink
    }

    var it = 0
    var converged = false
    // convergence: identical edge multiset (order-insensitive checksum +
    // count); the previous iteration's checksum is carried forward so each
    // round costs ONE action beyond the eager checkpoint
    var prev = checksum(edges)
    if (prev.count <= maxLocalEdges) {
      // dictionary-sized graph: one collect + driver union-find replaces
      // ~log(n) rounds of distributed self-joins (each several jobs) —
      // min-id canonical election under the SAME UTF-8 binary ordering the
      // distributed path's min() aggregate uses (equivalence-tested)
      val pairs = edges.collect().map(r => (r.getString(0), r.getString(1)))
      edges.unpersist(false)
      import spark.implicits._
      return (localCanonicalMap(pairs.toSeq).toSeq.toDF("id", "canonical_id"), 0, true)
    }
    while (!converged && it < maxIter) {
      // lazy local checkpoint: materialized by the checksum action below, so
      // each round costs exactly ONE job
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val cur = checksum(next)
      converged = prev.same(cur)
      prev = cur
      edges.unpersist(false)
      edges = next
      it += 1
    }
    if (!converged)
      // surfaced, not silent: canonical ids may be wrong if the star loop
      // ran out of rounds. Rounds ≈ ceil(log2(longest path)) + 2 — measured
      // by CCBench: a 1M-vertex chain needs 22 (so the old default of 20
      // silently truncated it); 40 covers chains to ~10^11 vertices, and
      // converged loops stop early so the ceiling costs nothing.
      System.err.println(
        s"[canon] WARNING: connectedComponents exhausted maxIter=$maxIter without " +
          "checksum convergence — canonical ids may be incomplete")

    // after convergence every edge points (child, root); root's own row:
    val asChild = edges.select(col("dst").as("id"), col("src").as("canonical_id"))
    val roots = edges.select(col("src").as("id"), col("src").as("canonical_id"))
    val comp = asChild.unionAll(roots)
      .groupBy("id").agg(min("canonical_id").as("canonical_id"))
    (comp, it, converged)
  }

  /** Driver union-find with path halving over a dictionary-sized same-as
    * pair list; canonical id = UTF-8-binary minimum over the component (the
    * same election as the distributed path's min() aggregate — equivalence-
    * tested). Backs the CC fast path above, `runFusedLinked` and the fused
    * detect→packed pipeline, whose premise is exactly that the dictionary
    * tier (alias dict + component map) is broadcast-sized. Returns
    * vertex → canonical for every vertex incident to a pair.
    */
  private[graft] def localCanonicalMap(pairs: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x0: String): String = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent(x) = gp // path halving
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    val lt = TripleDict.utf8Order.lt _
    pairs.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { // union by UTF-8 min keeps the root the canonical id
        if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      } else {
        parent.getOrElseUpdate(ra, ra); ()
      }
    }
    pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet.iterator
      .map((v: String) => v -> find(v)).toMap
  }

  /** Order-insensitive edge-multiset fingerprint. A false "equal" here ends
    * the star loop with `converged = true` and SILENTLY wrong canonical ids,
    * so the fingerprint is built to make that a non-event: TWO independent
    * 31-bit hash-sum streams (distinct xxhash64 seeds via a salt column)
    * take the per-round collision odds from ~2^-31 (one stream — a real
    * hazard over many rounds × many runs) to ~2^-62, and the sums accumulate
    * as decimal(38,0), which cannot overflow below ~10^28 edges — a Long sum
    * of 2^31-bounded terms wraps (or throws under ANSI) from ~4×10^9 edges,
    * well inside this stage's documented scale.
    */
  private final case class EdgeChecksum(count: Long, h1: java.math.BigDecimal,
                                        h2: java.math.BigDecimal) {
    def same(o: EdgeChecksum): Boolean =
      count == o.count && h1.compareTo(o.h1) == 0 && h2.compareTo(o.h2) == 0
  }

  private def checksum(df: DataFrame): EdgeChecksum = {
    def stream(salted: Column*): Column =
      coalesce(sum(pmod(xxhash64(salted: _*), lit(2147483647L))
        .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))
    val r = df.agg(count(lit(1)),
        stream(col("src"), col("dst")),
        stream(lit(0x5eed5eedL), col("src"), col("dst")))
      .head()
    EdgeChecksum(r.getLong(0), r.getDecimal(1), r.getDecimal(2))
  }

  /** Resolve linked mentions to canonical ids: one typed map over the
    * linked relation probing the union-find's canonical map
    * (`localCanonicalMap`, which backs the CC fast path too) — no CC jobs,
    * no join. Vertices outside the same-as graph canonicalize to
    * themselves; NIL mentions stay null. The same-as pair list must fit on
    * the driver, as it must anyway: `TripleDict` holds every entity there.
    */
  def runFusedLinked(linked: Dataset[LinkedMention],
                     sameAsPairs: Seq[(String, String)]): Dataset[CanonMention] = {
    val spark = linked.sparkSession
    import spark.implicits._
    val bcMap = spark.sparkContext.broadcast(localCanonicalMap(sameAsPairs))
    linked.mapPartitions { it =>
      val cm = bcMap.value
      it.map { m =>
        val canon =
          if (m.entity_id == null) null
          else cm.getOrElse(m.entity_id, m.entity_id)
        CanonMention(m.conv_id, m.turn_idx, m.start, m.end, m.label,
          m.surface, m.entity_id, canon)
      }
    }
  }
}
