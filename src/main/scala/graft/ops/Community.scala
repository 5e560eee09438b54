package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Newman modularity, the deterministic synchronous local-move sweep,
  * and graph COARSENING — the full Louvain loop (Blondel et al. 2008)
  * over the co-attribute fraud-ring graph ([[Graph.coAttributeEdges]]):
  * modularity SCORES a partition (components, label-spread output, any
  * membership); the sweep is one local-move round made deterministic
  * (every node inspects its neighbor communities simultaneously, moves
  * to the largest positive modularity gain, smallest community id on
  * ties, all moves at once — no sequential visit order to diverge on,
  * so a SQL engine replays the sweep exactly); and [[coarsen]] is
  * Louvain's phase 2 — communities become super-nodes, intra-community
  * edges become SELF-LOOPS, inter-community edges aggregate into
  * weights — so the sweep can run again one level up.
  *
  * All arithmetic is INTEGER, on the WEIGHTED graph (the unweighted
  * entry points lift w = 1). With W = Σ edge weights (self-loops
  * counted once), e_c = intra-community weight (self-loops included),
  * d_c = Σ weighted degree over members (a self-loop adds 2w to its
  * node's degree — the convention that makes coarsening EXACT:
  * the coarse graph's singleton-partition modularity equals the fine
  * graph's partition modularity, numerator for numerator):
  *
  *   Q·4W²           = Σ_c (4W·e_c − d_c²)
  *   ΔQ(i: a→b)·4W²  = 4W·(k_{i,b} − k_{i,a}) − 2·k_i·(d_b − d_a + k_i)
  *
  * (k_{i,c} = edge weight from i into c, self-loops EXCLUDED — they
  * move with the node and cancel in the delta; both d's excluding i's
  * own k_i contribution cancelled into the +k_i term). Emitting the
  * 4W²-scaled numerators keeps every comparison and every output
  * exact — no float division for an oracle to round differently.
  *
  * Scale shape: degree/link frames are groupBys on node and
  * (node, comm) — shuffles on the natural keys; W rides as a plan
  * literal (its one-row aggregation is also the overflow-guard
  * action, so the scalar is already on the driver — no broadcast
  * subtree); coarsening is two membership joins + one grouped sum
  * (output bounded by community-pair count); nothing quadratic,
  * nothing driver-side. Overflow is guarded loudly at the true
  * bounds — (2W)² < 2⁶³ for the q_num squares and 8W·k_max + 2k_max²
  * ≤ Int64 for the gain numerator — with one cheap aggregation (the
  * a51/HITS guard pattern; see [[Community.guardBounds]]).
  *
  * Reference capability: ring detection over shared-attribute links —
  * the "which accounts move together" question behind the dashboard's
  * fraud-pattern panel (`FD/evaluation.py:154-178`), asked of the
  * graph instead of single attributes.
  */
object Community {

  private val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Unweighted edges (u < v, unique) lifted to the weighted shape. */
  private def lift(edges: DataFrame): DataFrame =
    edges.select(col("u"), col("v"), lit(1L).as("w"))

  /** (comm, n_nodes, e_in, d_sum, q_num) per community of `membership`
    * over undirected unweighted `edges` (u < v, unique),
    * q_num = 4m·e_in − d_sum². Σ q_num / 4m² is the partition's
    * modularity.
    */
  def modularityStats(edges: DataFrame, membership: DataFrame): DataFrame =
    modularityStatsW(lift(edges), membership)

  /** One synchronous greedy sweep over unweighted edges (class doc):
    * returns the new membership `(node, comm, moved)`. Nodes with no
    * positive-gain neighbor community keep their community.
    */
  def greedyMovePass(edges: DataFrame, membership: DataFrame): DataFrame =
    greedyMovePassW(lift(edges), membership)

  /** [[greedyMovePass]] specialized to the SINGLETON start (comm =
    * node) — unweighted entry point of [[greedyMoveFromSingletonsW]].
    */
  def greedyMoveFromSingletons(edges: DataFrame,
                               downOnly: Boolean = false): DataFrame =
    greedyMoveFromSingletonsW(lift(edges), downOnly)

  /** Louvain phase 2: collapse `membership`'s communities into
    * super-nodes. Input edges may carry a `w` weight column (w = 1
    * assumed otherwise) and may already contain self-loops; output is
    * the canonical weighted list `(u, v, w)` with u ≤ v, u = v the
    * self-loops (intra-community weight), total weight preserved —
    * so [[modularityStatsW]]/[[greedyMovePassW]] run one level up
    * with the SAME W and the same 4W² scale.
    */
  def coarsen(edges: DataFrame, membership: DataFrame): DataFrame = {
    val w =
      if (edges.columns.contains("w")) col("w").cast("long")
      else lit(1L)
    val memb = membership.select(col("node"), col("comm"))
    edges.select(col("u"), col("v"), w.as("w"))
      .join(memb.select(col("node").as("u"), col("comm").as("__ca")),
        Seq("u"))
      .join(memb.select(col("node").as("v"), col("comm").as("__cb")),
        Seq("v"))
      .select(least(col("__ca"), col("__cb")).as("u"),
        greatest(col("__ca"), col("__cb")).as("v"), col("w"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
  }

  /** Weighted [[modularityStats]] over `(u, v, w)` edges, u ≤ v,
    * self-loops (u = v) allowed — the coarse-graph form. A self-loop
    * contributes w to its community's e_in and 2w to its node's
    * degree (class doc).
    */
  def modularityStatsW(wedges: DataFrame,
                       membership: DataFrame): DataFrame = {
    val e = wedges.select(col("u"), col("v"), col("w").cast("long").as("w"))
    // memb feeds three subtrees (d_sum + both ends of the intra-edge
    // join) — node-scale persist, or its upstream re-runs per consumer
    val memb = membership.select(col("node"), col("comm")).persist(disk)
    val deg = weightedDegrees(e).persist(disk)
    // ONE guard action yields m = Σk/2 (every endpoint contributes its
    // incident weight once, self-loops twice-by-convention ÷ the 2 —
    // exactly Σw) — the old separate Σw aggregation + broadcast
    // crossJoin collapse to a plan literal (r13 optimization: two
    // driver actions and one BroadcastExchange per stats call removed)
    val m = guardScale(deg)
    val dSum = deg.join(memb, Seq("node"))
      .groupBy(col("comm"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("k")).as("d_sum"))
    // self-loops join u = v to the SAME membership row, so ca = cb
    // holds and their weight lands in e_in with no special case
    val eIn = e
      .join(memb.select(col("node").as("u"), col("comm").as("ca")), Seq("u"))
      .join(memb.select(col("node").as("v"), col("comm").as("cb")), Seq("v"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(sum(col("w")).as("e_in"))
    dSum.join(eIn, Seq("comm"), "left")
      .select(col("comm"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        (lit(4L) * lit(m) * coalesce(col("e_in"), lit(0L)) -
          col("d_sum") * col("d_sum")).as("q_num"))
  }

  /** Weighted [[greedyMovePass]] over `(u, v, w)` edges, u ≤ v,
    * self-loops allowed — the coarse-graph form. Self-loops shape the
    * degrees but are EXCLUDED from the neighbor-link frame: a node's
    * self-loop moves with it, so it cancels out of every gain.
    *
    * `downOnly = true` restricts moves to communities with a SMALLER
    * id — the deterministic breaker for the synchronous sweep's
    * pairwise-swap pathology: from a singleton start the gain
    * formula is SYMMETRIC across any pair (gain(a→b) = gain(b→a) =
    * 4W·k_ab − 2k_a·k_b), so two mutually-best super-nodes would
    * swap labels forever instead of merging; allowing only the
    * higher id to move turns every such swap into a true merge.
    * The level-2 sweep (g17) runs with it on.
    */
  def greedyMovePassW(wedges: DataFrame,
                      membership: DataFrame,
                      downOnly: Boolean = false): DataFrame = {
    val e = wedges.select(col("u"), col("v"), col("w").cast("long").as("w"))
    // four consumers (dSum, links, self, the final left join)
    val memb = membership.select(col("node"), col("comm")).persist(disk)
    val nonSelf = e.filter(col("u") =!= col("v"))
    val sym = nonSelf.unionByName(nonSelf.select(col("v").as("u"),
      col("u").as("v"), col("w")))
    // deg/dSum/links are each read by TWO downstream subtrees (self +
    // gains) — persist all three or the sweep recomputes its own
    // shuffles per consumer (bench-measured 2x on g15 before the pin)
    val deg = weightedDegrees(e).persist(disk)
    val m = guardScale(deg) // one action; W rides as a literal below
    val dSum = deg.join(memb, Seq("node"))
      .groupBy(col("comm")).agg(sum(col("k")).as("d")).persist(disk)
    // k_{i,c}: node i's edge weight into community c (self-loops out)
    val links = sym
      .join(memb.select(col("node").as("v"), col("comm").as("c")), Seq("v"))
      .groupBy(col("u").as("node"), col("c")).agg(sum(col("w")).as("kic"))
      .persist(disk)
    val self = memb.withColumnRenamed("comm", "a")
      .join(deg, Seq("node"))
      .join(dSum.select(col("comm").as("a"), col("d").as("d_a")), Seq("a"))
      .join(links.select(col("node"), col("c").as("a"),
        col("kic").as("k_ia")), Seq("node", "a"), "left")
      .select(col("node"), col("a"), col("k"), col("d_a"),
        coalesce(col("k_ia"), lit(0L)).as("k_ia"))
    val gains = self
      .join(links.select(col("node"), col("c").as("b"),
        col("kic").as("k_ib")), Seq("node"))
      .filter(col("b") =!= col("a"))
      .join(dSum.select(col("comm").as("b"), col("d").as("d_b")), Seq("b"))
      .withColumn("gain",
        lit(4L) * lit(m) * (col("k_ib") - col("k_ia")) -
          lit(2L) * col("k") * (col("d_b") - col("d_a") + col("k")))
      .filter(col("gain") > 0L)
      .filter(if (downOnly) col("b") < col("a") else lit(true))
    // deterministic argmax: max gain, then smallest target community
    val best = gains.groupBy(col("node"), col("a"))
      .agg(max(struct(col("gain"), (-col("b")).as("nb"))).as("best"))
      .select(col("node"), col("a"), (-col("best.nb")).as("b"))
    memb.join(best.select(col("node"), col("b")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("b"), col("comm")).as("comm"),
        col("b").isNotNull.as("moved"))
  }

  /** [[greedyMovePassW]] ALGEBRAICALLY SPECIALIZED to the singleton
    * start (comm = node for every node) — the case every caller but
    * g16's second sweep actually runs (each Louvain level restarts
    * from singletons on its coarse graph). With community a = {i} the
    * general gain collapses term by term:
    *
    *   k_ia = 0           (only i's self-loop points into {i}; excluded)
    *   d_a  = k_i         (the singleton's mass is i's own degree)
    *   d_b  = k_b, k_ib = w(i,b)   (b is the singleton {neighbor})
    *
    *   gain(i→{b}) = 4W·w(i,b) − 2·k_i·k_b
    *
    * — so the membership joins, the dSum frame, and the `self`
    * left-join of the general path all cancel: the sweep is ONE pass
    * over the symmetrized edge list joined to the degree frame at both
    * endpoints (the level-1 `gains` CTE of the g15–g18 oracles,
    * verbatim). Candidate set, positive-gain filter, `downOnly` and
    * the (gain desc, smallest id) tie-break are exactly the general
    * path's — CommunitySpec pins output equality on fixtures and
    * GraphQueries' oracles pin it end-to-end. Requires unique (u, v)
    * rows (every producer groupBys; k_i{b} of a singleton is the edge
    * weight itself, so duplicates would double-count it).
    *
    * Plan shape vs the general path: 8 shuffles + 4 persisted frames
    * → 3 shuffles + 1 persisted frame (deg), no broadcast subtrees
    * (W is a literal — its aggregation is the guard action).
    */
  def greedyMoveFromSingletonsW(wedges: DataFrame,
                                downOnly: Boolean = false): DataFrame = {
    val e = wedges.select(col("u"), col("v"), col("w").cast("long").as("w"))
    // deg feeds the guard action + both gain endpoints: persist
    val deg = weightedDegrees(e).persist(disk)
    val m = guardScale(deg)
    moveFromDeg(e, deg, m, downOnly)
  }

  /** The gains/argmax half of [[greedyMoveFromSingletonsW]] given an
    * already-persisted degree frame and guarded W — shared with
    * [[louvain]], whose single level-1 degree pass also yields q0.
    */
  private def moveFromDeg(e: DataFrame, deg: DataFrame, m: Long,
                          downOnly: Boolean): DataFrame = {
    val nonSelf = e.filter(col("u") =!= col("v"))
    val sym = nonSelf.unionByName(nonSelf.select(col("v").as("u"),
      col("u").as("v"), col("w")))
    val gains = sym
      .join(deg.select(col("node").as("u"), col("k").as("__ku")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("k").as("__kv")), Seq("v"))
      .withColumn("gain",
        lit(4L) * lit(m) * col("w") -
          lit(2L) * col("__ku") * col("__kv"))
      .filter(col("gain") > 0L)
      .filter(if (downOnly) col("v") < col("u") else lit(true))
    val best = gains.groupBy(col("u").as("node"))
      .agg(max(struct(col("gain"), (-col("v")).as("nb"))).as("best"))
      .select(col("node"), (-col("best.nb")).as("b"))
    // node set = every endpoint (deg covers self-loop-only nodes too)
    deg.select(col("node")).join(best, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("b"), col("node")).as("comm"),
        col("b").isNotNull.as("moved"))
  }

  /** Σ q_num of the SINGLETON partition of a weighted graph in one
    * degree pass: q = Σ_nodes (4W·selfw_i − k_i²) — each singleton
    * community's e_in is the node's own self-loop weight and d_sum its
    * degree. By coarsening exactness (class doc; CommunitySpec pins
    * it) this equals `modularityStatsW(fine, memb).agg(sum(q_num))`
    * whenever the graph is `coarsen(fine, memb)` — the identity
    * [[louvain]] and g17 use to price each level's modularity at one
    * aggregation over the COARSE graph instead of three joins over the
    * fine edge list.
    */
  def singletonQNum(wedges: DataFrame,
                    noSelfLoops: Boolean = false): Long = {
    val e = wedges.select(col("u"), col("v"), col("w").cast("long").as("w"))
    // one fused action: Σk (= 2W), k_max (the guard pair) and Σk² (the
    // d_sum² total — safe under the same guard: singleton d_sum = k,
    // so Σk² ≤ (Σk)² = 4W² < 2⁶³ exactly when the (2W)² bound holds;
    // ANSI mode turns the pre-guard partial sums loud, never silent)
    val r = weightedDegrees(e).agg(
      coalesce(sum(col("k")), lit(0L)),
      coalesce(max(col("k")), lit(0L)),
      coalesce(sum(col("k") * col("k")), lit(0L))).head()
    val m = r.getLong(0) / 2
    guardBounds(m, r.getLong(1))
    val selfW =
      if (noSelfLoops) 0L
      else e.filter(col("u") === col("v"))
        .agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
    4L * m * selfW - r.getLong(2)
  }

  /** Driver-local EXACT replicas of the sweep / coarsen / score
    * algebra over a COLLECTED coarse edge list — the r13 engine for
    * Louvain levels ≥ 2: once a coarse graph passed the bounded
    * collect (it is community-pair-bounded and was ALREADY a driver
    * LocalRelation via the cut), replaying integer algebra through
    * Spark jobs is pure scheduling/codegen overhead (~2 s per tiny
    * level, probe-measured). Everything here is Long arithmetic under
    * [[guardBounds]] — no rounding surface exists to diverge on — so
    * local ≡ distributed value for value; CommunitySpec pins each op
    * against its frame twin and the g17/g18 oracles pin end-to-end.
    * The distributed path remains the >bound fallback (and the level-1
    * fine-graph path, which is never collected).
    */
  private[graft] object Local {
    import scala.collection.mutable

    type E = (Long, Long, Long) // u <= v, weight

    def fromRows(rows: Array[org.apache.spark.sql.Row]): Array[E] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    /** Weighted degrees (self-loop = 2w — the class-doc convention)
      * plus the guarded total weight m. */
    def degrees(es: Array[E]): (mutable.LongMap[Long], Long) = {
      val deg = mutable.LongMap.empty[Long]
      var i = 0
      while (i < es.length) {
        val (u, v, w) = es(i)
        if (u == v) deg(u) = deg.getOrElse(u, 0L) + 2L * w
        else {
          deg(u) = deg.getOrElse(u, 0L) + w
          deg(v) = deg.getOrElse(v, 0L) + w
        }
        i += 1
      }
      var sumK = 0L; var kMax = 0L
      deg.foreachValue { k => sumK += k; if (k > kMax) kMax = k }
      val m = sumK / 2
      guardBounds(m, kMax)
      (deg, m)
    }

    /** [[greedyMoveFromSingletonsW]] verbatim: gain(u→{v}) =
      * 4m·w − 2·k_u·k_v, positive-gain filter, optional downOnly,
      * (gain desc, smallest id) tie-break. Both gain terms are under
      * the [[guardBounds]] envelope, so plain Long ops cannot wrap.
      * Returns (node, comm, moved) sorted by node.
      */
    def sweep(es: Array[E], downOnly: Boolean)
        : Array[(Long, Long, Boolean)] = {
      val (deg, m) = degrees(es)
      // best candidate per node: max gain, then smallest target id
      val bg = mutable.LongMap.empty[Long] // best gain
      val bb = mutable.LongMap.empty[Long] // best target
      def offer(n: Long, b: Long, g: Long): Unit =
        if (g > 0L) {
          val old = bg.getOrElse(n, Long.MinValue)
          if (g > old || (g == old && b < bb(n))) { bg(n) = g; bb(n) = b }
        }
      var i = 0
      while (i < es.length) {
        val (u, v, w) = es(i)
        if (u != v) {
          val g = 4L * m * w - 2L * deg(u) * deg(v)
          if (!downOnly || v < u) offer(u, v, g)
          if (!downOnly || u < v) offer(v, u, g)
        }
        i += 1
      }
      deg.keys.toArray.sorted.map { n =>
        bb.get(n) match {
          case Some(b) => (n, b, true)
          case None => (n, n, false)
        }
      }
    }

    /** [[greedyMovePassW]] verbatim — the GENERAL (non-singleton)
      * sweep, needed by g16's second round: gain(i: a→b) =
      * 4W·(k_ib − k_ia) − 2·k_i·(d_b − d_a + k_i) over i's neighbor
      * communities (self-loops excluded from the link frame, the
      * class-doc cancellation), positive-gain filter, optional
      * downOnly, (gain desc, smallest id) tie-break. Node universe =
      * `memb`'s keys (the frame's final left join); members without
      * edges keep their community. Returns (node, comm, moved) sorted
      * by node.
      */
    def movePass(es: Array[E], memb: collection.Map[Long, Long],
                 downOnly: Boolean): Array[(Long, Long, Boolean)] = {
      val (deg, m) = degrees(es)
      val dS = mutable.LongMap.empty[Long]
      deg.foreach { case (n, k) =>
        memb.get(n).foreach(c => dS(c) = dS.getOrElse(c, 0L) + k)
      }
      // k_{i,c}: i's non-self edge weight into community c
      val links = mutable.LongMap.empty[mutable.LongMap[Long]]
      def link(n: Long, c: Long, w: Long): Unit = {
        val ln = links.getOrElseUpdate(n, mutable.LongMap.empty[Long])
        ln(c) = ln.getOrElse(c, 0L) + w
      }
      var i = 0
      while (i < es.length) {
        val (u, v, w) = es(i)
        if (u != v) {
          memb.get(v).foreach(c => link(u, c, w))
          memb.get(u).foreach(c => link(v, c, w))
        }
        i += 1
      }
      memb.keysIterator.toArray.sorted.map { n =>
        val a = memb(n)
        var best: Long = -1L; var bg = Long.MinValue
        // gains exist only for nodes with a degree (the frame's inner
        // join to deg) and with neighbor links
        if (deg.contains(n)) links.get(n) match {
          case Some(ln) =>
            val k = deg(n)
            val kIa = ln.getOrElse(a, 0L)
            val dA = dS(a)
            ln.foreach { case (b, kIb) =>
              if (b != a && (!downOnly || b < a)) {
                val g = 4L * m * (kIb - kIa) -
                  2L * k * (dS(b) - dA + k)
                if (g > 0L &&
                    (g > bg || (g == bg && b < best))) {
                  bg = g; best = b
                }
              }
            }
          case None => ()
        }
        if (bg > Long.MinValue) (n, best, true) else (n, a, false)
      }
    }

    /** [[Community.coarsen]] verbatim: communities → super-nodes,
      * canonical u ≤ v, weights summed; output sorted by (u, v). */
    def coarsen(es: Array[E], memb: collection.Map[Long, Long])
        : Array[E] = {
      val agg = mutable.HashMap.empty[(Long, Long), Long]
      var i = 0
      while (i < es.length) {
        val (u, v, w) = es(i)
        val (cu, cv) = (memb(u), memb(v))
        val key = (math.min(cu, cv), math.max(cu, cv))
        agg(key) = agg.getOrElse(key, 0L) + w
        i += 1
      }
      agg.iterator.map { case ((u, v), w) => (u, v, w) }.toArray.sorted
    }

    /** [[singletonQNum]] verbatim: 4m·selfW − Σk² (all terms ≤ 4m²
      * under the guard, so the Long accumulation is safe). */
    def qNum(es: Array[E]): Long = {
      val (deg, m) = degrees(es)
      var selfW = 0L
      var i = 0
      while (i < es.length) {
        if (es(i)._1 == es(i)._2) selfW += es(i)._3
        i += 1
      }
      var sumK2 = 0L
      deg.foreachValue { k => sumK2 += k * k }
      4L * m * selfW - sumK2
    }

    /** [[modularityStatsW]] verbatim: per community (n_nodes, e_in,
      * d_sum, q_num = 4m·e_in − d_sum²); sorted by comm. */
    def stats(es: Array[E], memb: collection.Map[Long, Long])
        : Array[(Long, Long, Long, Long, Long)] = {
      val (deg, m) = degrees(es)
      val nN = mutable.LongMap.empty[Long]
      val dS = mutable.LongMap.empty[Long]
      deg.foreach { case (n, k) =>
        val c = memb(n)
        nN(c) = nN.getOrElse(c, 0L) + 1L
        dS(c) = dS.getOrElse(c, 0L) + k
      }
      val eIn = mutable.LongMap.empty[Long]
      var i = 0
      while (i < es.length) {
        val (u, v, w) = es(i)
        val cu = memb(u)
        if (cu == memb(v)) eIn(cu) = eIn.getOrElse(cu, 0L) + w
        i += 1
      }
      nN.keys.toArray.sorted.map { c =>
        val e = eIn.getOrElse(c, 0L)
        val d = dS(c)
        (c, nN(c), e, d, 4L * m * e - d * d)
      }
    }
  }

  case class LouvainResult(membership: DataFrame, trace: DataFrame)

  /** FULL Louvain to convergence (r12 verdict mandate #4): the
    * [[greedyMoveFromSingletonsW]] → [[coarsen]] pair iterated until a
    * level's sweep makes ZERO moves or `maxLevels` is reached — level
    * 1 on the fine graph, every deeper level on the coarse graph with
    * `downOnly` (the synchronous-swap breaker; g17's stance). The new
    * surface over g17 is the TERMINATION RULE and the membership
    * COMPOSITION across levels, both chosen to be replayable by a
    * static SQL unroll: a converged level is a fixed point (zero
    * moves ⇒ singleton membership ⇒ coarsen is the identity ⇒ every
    * deeper sweep also moves nothing), so the early stop below and an
    * oracle that computes all `maxLevels` levels unconditionally
    * produce IDENTICAL outputs — the stopped levels just repeat.
    *
    * Returns `membership` — one row per FINE node with its community
    * at every level (`node`, `c1`, …, `c<maxLevels>`; post-
    * convergence columns repeat the converged label) — and `trace` —
    * one row per EXECUTED level (`level`, `n_comms`, `moves`,
    * `q_total` at the 4m² scale; level 0 is the singleton baseline,
    * level k > 1 executed iff level k−1 moved; coarsening exactness
    * makes each coarse q_total THE fine-partition modularity).
    *
    * Scale shape: every per-level frame is node/community-bounded and
    * eagerly cut ([[graft.ops.Layout.materializeBounded]] — the g17
    * lesson: persist-only boundaries re-expanded the level-1 subtree
    * ~50× into the analyzer); per-level cost SHRINKS with the
    * community count because every level-k shuffle runs on the
    * level-(k−1) coarse graph. The driver holds only the per-level
    * scalar counts (moves, q) — membership stays distributed.
    *
    * r13 optimization (probe-measured on g18 at sf0.1): LEVEL 1 runs
    * one fused degree pass (guard + q0 = −Σk² + the sweep's degree
    * frame — the fine graph has no self-loops, so the singleton
    * baseline needs nothing else) and the singleton fast-path sweep;
    * its coarse graph goes through the BOUNDED COLLECT, and every
    * deeper level — sweep, coarsen, modularity — then runs as exact
    * Long algebra on the driver ([[Local]]): the coarse graphs were
    * already driver-LocalRelations via the cut, and replaying
    * community-bounded integer arithmetic through Spark jobs cost
    * ~2 s of scheduling/codegen per tiny level. q_k is priced on the
    * coarse graph — coarsening exactness (the spec'd invariant) makes
    * `qNum(coarsen(G, memb)) = Σ q_num(G, memb)`. If a coarse graph
    * ever exceeds the 10M-row bound, the distributed per-level loop
    * below takes over unchanged — the 100-TB fallback.
    */
  /** Post-convergence composition shared by every louvain path: levels
    * past the executed depth repeat the converged label; one row per
    * fine node with its community at every level.
    */
  private def louvainAssemble(spark: org.apache.spark.sql.SparkSession,
                              nodesArr: Array[Long],
                              lv: Vector[Array[Long]],
                              trace: Vector[(Long, Long, Long, Long)],
                              maxLevels: Int): LouvainResult = {
    import spark.implicits._
    val all = (0 until maxLevels).map(i => lv(math.min(i, lv.size - 1)))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType) +:
      (1 to maxLevels).map(l => org.apache.spark.sql.types.StructField(
        s"c$l", org.apache.spark.sql.types.LongType)))
    val outRows = nodesArr.indices.map(i =>
      org.apache.spark.sql.Row.fromSeq(
        nodesArr(i) +: all.map(_(i))))
    LouvainResult(
      spark.createDataFrame(
        java.util.Arrays.asList(outRows: _*), schema),
      trace.toDF("level", "n_comms", "moves", "q_total"))
  }

  /** [[louvain]] run ENTIRELY as driver Long algebra once the FINE
    * edge list passed the bounded collect (r14; the r13 engine only
    * went local from level 2): level-1 singleton sweep, per-level
    * coarsen/sweep/score, and the membership composition are
    * [[Local]] ops verbatim — value-identical to the distributed
    * branches (CommunitySpec pins end to end; the g18/g18b oracles pin
    * against DuckDB). q0 is the fine singleton baseline −Σk²
    * (matching the distributed r0 pass, which prices no self-loops on
    * the fine graph).
    */
  private def louvainLocal(spark: org.apache.spark.sql.SparkSession,
                           es0: Array[Local.E], maxLevels: Int)
      : LouvainResult = {
    val (deg, _) = Local.degrees(es0)
    var sumK2 = 0L
    deg.foreachValue(k => sumK2 += k * k)
    val q0 = -sumK2
    val trace = Vector.newBuilder[(Long, Long, Long, Long)]
    val sw1 = Local.sweep(es0, downOnly = false)
    val nodesArr = sw1.map(_._1) // sorted by node
    var cPrev = sw1.map(_._2)
    val moves1 = sw1.count(_._3).toLong
    val nComms1 = cPrev.toSet.size.toLong
    trace += ((0L, nodesArr.length.toLong, 0L, q0))
    val levels = Vector.newBuilder[Array[Long]]
    levels += cPrev
    var level = 2
    if (moves1 == 0L) {
      trace += ((1L, nComms1, 0L, q0))
    } else {
      val memb1 = sw1.iterator.map(t => (t._1, t._2)).toMap
      var es = Local.coarsen(es0, memb1)
      trace += ((1L, nComms1, moves1, Local.qNum(es)))
      var converged = false
      while (level <= maxLevels && !converged) {
        val sw = Local.sweep(es, downOnly = true)
        val moves = sw.count(_._3).toLong
        val nComms = sw.iterator.map(_._2).toSet.size.toLong
        val membMap = sw.iterator.map(t => (t._1, t._2)).toMap
        val ces = Local.coarsen(es, membMap)
        trace += ((level.toLong, nComms, moves, Local.qNum(ces)))
        cPrev = cPrev.map(membMap)
        levels += cPrev
        if (moves == 0L) converged = true
        else es = ces
        level += 1
      }
    }
    louvainAssemble(spark, nodesArr, levels.result(), trace.result(),
      maxLevels)
  }

  def louvain(edges: DataFrame, maxLevels: Int = 3): LouvainResult = {
    require(maxLevels >= 1 && maxLevels <= 8,
      s"maxLevels in [1, 8], got $maxLevels")
    // r14 driver gate (the Graph.Local stance): a bounded BIGINT fine
    // edge list runs every level locally; past the bound (or non-long
    // or null-carrying node ids) the distributed branches below are
    // untouched
    Layout.gate(lift(edges))(rows => Some(louvainLocal(edges.sparkSession,
      Local.fromRows(rows), maxLevels)))(louvainDistributed(_, maxLevels))
  }

  private def louvainDistributed(e0: DataFrame, maxLevels: Int)
      : LouvainResult = {
    val cut = (df: DataFrame) => Layout.materializeBounded(df, Layout.GateRows)
    val trace = Vector.newBuilder[(Long, Long, Long, Long)]
    // level 1, distributed (the fine graph is never collected): one
    // degree pass feeds guard, q0 and the sweep
    val deg0 = weightedDegrees(e0).persist(disk)
    val r0 = deg0.agg(
      coalesce(sum(col("k")), lit(0L)),
      coalesce(max(col("k")), lit(0L)),
      coalesce(sum(col("k") * col("k")), lit(0L))).head()
    val m = r0.getLong(0) / 2
    guardBounds(m, r0.getLong(1))
    val q0 = -r0.getLong(2)
    val spark = e0.sparkSession
    import spark.implicits._
    // the level-1 membership is node-bounded: when it fits the bound
    // (the normal case) the fine COMPOSITION is driver maps too and
    // the whole remainder of the loop touches no Spark job except the
    // one distributed coarsen of the fine graph
    Layout.collectBounded(
        moveFromDeg(e0, deg0, m, downOnly = false), Layout.GateRows) match {
      case Right(rows1) =>
        deg0.unpersist(blocking = false)
        val nodesArr = rows1.map(_.getLong(0))
        var cPrev = rows1.map(_.getLong(1)) // c1 per node index
        val moves1 = rows1.count(_.getBoolean(2)).toLong
        val nComms1 = cPrev.toSet.size.toLong
        trace += ((0L, nodesArr.length.toLong, 0L, q0))
        val levels = Vector.newBuilder[Array[Long]]
        levels += cPrev
        var level = 2
        if (moves1 == 0L) {
          // level-1 fixed point: identity coarsen, q1 = the singleton
          // baseline — no coarse graph needed
          trace += ((1L, nComms1, 0L, q0))
        } else {
          val mb1 = spark.createDataFrame(
            nodesArr.zip(cPrev).toSeq).toDF("node", "comm")
          Layout.collectBounded(coarsen(e0, mb1), Layout.GateRows) match {
            case Right(ceRows) =>
              // driver continuation: deeper levels are Long algebra
              var es = Local.fromRows(ceRows)
              trace += ((1L, nComms1, moves1, Local.qNum(es)))
              var converged = false
              while (level <= maxLevels && !converged) {
                val sw = Local.sweep(es, downOnly = true)
                val moves = sw.count(_._3).toLong
                val nComms = sw.iterator.map(_._2).toSet.size.toLong
                val membMap = sw.iterator.map(t => (t._1, t._2)).toMap
                val ces = Local.coarsen(es, membMap)
                trace += ((level.toLong, nComms, moves, Local.qNum(ces)))
                cPrev = cPrev.map(membMap)
                levels += cPrev
                if (moves == 0L) converged = true
                else es = ces
                level += 1
              }
            case Left(ceBig) =>
              // bounded membership over an unbounded community-pair
              // graph: score level 1 distributed, then the pre-r13
              // per-level loop — with driver map composition (the
              // level-k membership is ≤ the level-1 community count,
              // already inside the bound)
              trace += ((1L, nComms1, moves1, singletonQNum(ceBig)))
              var wedges: DataFrame = ceBig
              var converged = false
              while (level <= maxLevels && !converged) {
                val membRows = Layout.collectBounded(
                  greedyMoveFromSingletonsW(wedges, downOnly = true),
                  Layout.GateRows) match {
                  case Right(r) => r
                  case Left(p) =>
                    // a coarse membership larger than the fine one is
                    // impossible (communities only merge); loud guard
                    throw new IllegalStateException(
                      "louvain: coarse membership exceeded the bound")
                }
                val moves = membRows.count(_.getBoolean(2)).toLong
                val membMap = membRows.iterator
                  .map(r => (r.getLong(0), r.getLong(1))).toMap
                val nComms = membMap.valuesIterator.toSet.size.toLong
                val mb = spark.createDataFrame(membMap.toSeq)
                  .toDF("node", "comm")
                val ce = cut(coarsen(wedges, mb))
                trace += ((level.toLong, nComms, moves,
                  singletonQNum(ce)))
                cPrev = cPrev.map(membMap)
                levels += cPrev
                if (moves == 0L) converged = true
                else wedges = ce
                level += 1
              }
          }
        }
        louvainAssemble(spark, nodesArr, levels.result(),
          trace.result(), maxLevels)
      case Left(memb1) =>
        // node set past the bound: the fully distributed pre-r13 loop
        // (fast-path sweeps, coarse-graph scoring, frame composition)
        val mc1 = memb1.agg(
          sum(when(col("moved"), 1L).otherwise(0L)).as("__mv"),
          count_distinct(col("comm")).as("__nc"),
          count(lit(1)).as("__n")).head()
        val (moves1, nComms1, nNodes) =
          (mc1.getLong(0), mc1.getLong(1), mc1.getLong(2))
        deg0.unpersist(blocking = false)
        trace += ((0L, nNodes, 0L, q0))
        var fine = memb1.select(col("node"), col("comm").as("c1"))
        var level = 2
        if (moves1 == 0L) {
          trace += ((1L, nComms1, 0L, q0))
        } else {
          val mb1 = memb1.select(col("node"), col("comm"))
          val ce1 = cut(coarsen(e0, mb1))
          trace += ((1L, nComms1, moves1, singletonQNum(ce1)))
          var wedges: DataFrame = ce1
          var converged = false
          while (level <= maxLevels && !converged) {
            val memb = cut(greedyMoveFromSingletonsW(wedges,
              downOnly = true))
            val mc = memb.agg(
              sum(when(col("moved"), 1L).otherwise(0L)).as("__mv"),
              count_distinct(col("comm")).as("__nc")).head()
            val (moves, nComms) = (mc.getLong(0), mc.getLong(1))
            val mb = memb.select(col("node"), col("comm"))
            val ce = cut(coarsen(wedges, mb))
            trace += ((level.toLong, nComms, moves, singletonQNum(ce)))
            fine = cut(fine.join(
              mb.select(col("node").as("__prev"),
                col("comm").as(s"c$level")),
              fine(s"c${level - 1}") === col("__prev")).drop("__prev"))
            if (moves == 0L) converged = true
            else wedges = ce
            level += 1
          }
        }
        var k = level
        while (k <= maxLevels) {
          fine = fine.withColumn(s"c$k", col(s"c${k - 1}"))
          k += 1
        }
        LouvainResult(
          fine,
          trace.result().toDF("level", "n_comms", "moves", "q_total"))
    }
  }

  /** Weighted degree per node: Σ incident non-self weight + 2 × own
    * self-loop weight (class doc — the convention that preserves
    * modularity under coarsening).
    */
  private def weightedDegrees(e: DataFrame): DataFrame = {
    val nonSelf = e.filter(col("u") =!= col("v"))
    nonSelf.select(col("u").as("node"), col("w"))
      .unionByName(nonSelf.select(col("v").as("node"), col("w")))
      .unionByName(e.filter(col("u") === col("v"))
        .select(col("u").as("node"), (col("w") * 2L).as("w")))
      .groupBy(col("node")).agg(sum(col("w")).as("k"))
  }

  /** Loud integer-overflow guard (the ADVICE r10 pattern) and the W
    * extraction, fused into ONE tiny aggregation over the degree
    * frame: Σk = 2W exactly (each non-self edge contributes w at both
    * endpoints; a self-loop contributes 2w at its node — the class-doc
    * convention), so the total weight needs no second pass over the
    * edge list, and the scalar returned here rides every downstream
    * gain/q_num expression as a plan LITERAL instead of a broadcast
    * crossJoin. Fails identically on both engines' behalf rather than
    * wrapping.
    */
  private def guardScale(deg: DataFrame): Long = {
    val r = deg.agg(
      coalesce(sum(col("k")), lit(0L)),
      coalesce(max(col("k")), lit(0L))).head()
    val m = r.getLong(0) / 2
    val kMax = r.getLong(1)
    guardBounds(m, kMax)
    m
  }

  /** The pure bound check (ADVICE r11: the guard must precede EVERY
    * overflow, at its true bound). Two numerators to protect:
    *
    *   - q_num = 4m·e_in − d_sum²: e_in ≤ m and d_sum ≤ 2m, so both
    *     terms fit Int64 iff (2m)² < 2⁶³ ⇔ m ≤ 1518500249
    *     (the old m < 2³¹ under-guarded by ~√2: m ∈ [1.52e9, 2.15e9)
    *     wrapped d_sum² silently);
    *   - gain = 4m·(k_ib − k_ia) − 2k·(d_b − d_a + k): with
    *     k_i{a,b} ∈ [0, k] and |d_b − d_a| ≤ 2m, the first term is
    *     ≤ 4m·k and the second ≤ 2k·(2m + k), so |gain| ≤
    *     8m·k + 2k² — checked in BigInt so the guard arithmetic
    *     itself cannot wrap (the old 4m·k_max check admitted gains
    *     at 2× the guarded bound).
    *
    * The Σk = 2W sum behind [[guardScale]] is itself safe: it is
    * bounded by 4W ≤ 4·1518500249 < 2⁶³ whenever the m bound holds,
    * and a graph past the m bound still sums without wrapping until
    * W ~ 2⁶¹ (Σk = 2W) — far beyond where the require fires.
    *
    * On a weighted graph m is the total WEIGHT and k the weighted
    * degree — the same derivation verbatim. Package-private:
    * CommunitySpec exercises the bounds directly — constructing 1.5e9
    * edges to trip them through the frame API is not a test.
    */
  private[graft] def guardBounds(m: Long, kMax: Long): Unit = {
    require(m <= 1518500249L,
      s"modularity numerators need (2m)^2 < 2^63: m=$m too large")
    require(kMax <= 0L ||
      BigInt(8) * m * kMax + BigInt(2) * kMax * kMax <= Long.MaxValue,
      s"gain numerator 8m*k_max + 2k_max^2 overflows Int64: " +
        s"m=$m, k_max=$kMax — coarsen or split the graph")
  }
}
