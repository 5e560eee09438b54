package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Community, Layout}

/** Fraud-ring graph analytics over the events stream (ops/Graph.scala):
  * project a user↔attribute bipartite graph (users sharing the same
  * `props.k` repeatedly) onto user–user edges, then ask the standard
  * ring questions — who's connected (g01), who's central (g02
  * PageRank), where are the near-cliques (g03 triangles), and how far
  * does a seed set's neighborhood reach (g04 k-hop BFS).
  *
  * Every oracle is exact: PageRank runs in integer fixed-point
  * arithmetic precisely so a SQL engine can replay it bit-identically
  * (the 3 iterations unroll as chained CTEs); triangles verify against
  * the naive u<v<w triple join; BFS unrolls its 2 levels.
  */
object GraphQueries extends QuerySet {

  /** User–user co-attribute edges: the shared attribute is the `k`
    * field of the props JSON (the device/location analogue — see
    * ops/Graph.scala's reference note), qualified at >= 3 events per
    * (user, attr). The maxAttrUsers super-node cap never binds on this
    * corpus (<= 1500 users total), so the oracle can omit it.
    */
  private def edges(s: SparkSession, d: String): DataFrame =
    graft.ops.Graph.coAttributeEdges(
      Tables.events(s, d).select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("attr")),
      "user_id", "attr", minEvents = 3)

  private def seeds(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("user_id") % 37 === 0)
      .select(col("user_id").as("node")).distinct()

  private val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** The Louvain family's fine-level driver gate (g14–g17): `local`
    * runs on the co-attribute edge list collected and lifted to w = 1;
    * `distributed` gets the (u, v) frame, pinned when the collect
    * refused ([[Layout.gate]]).
    */
  private def fineGate(s: SparkSession, d: String)(
      local: Array[Community.Local.E] => DataFrame)(
      distributed: DataFrame => DataFrame): DataFrame =
    Layout.gate(edges(s, d).select(col("u"), col("v")))(rows =>
      Some(local(rows.map(r => (r.getLong(0), r.getLong(1), 1L)))))(
      distributed)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_coattr_edges" -> ((s, d) =>
      edges(s, d).orderBy(col("u"), col("v"))),

    // HITS hubs/authorities on the DIRECTED user→attribute bipartite
    // membership (3 rounds, integer fixed-point, max-rescale per
    // half-round) — "which shared device is the ring's hub", the
    // directed question the symmetric co-attribute projection can't
    // answer, with no users-per-attr² pairing term anywhere.
    "g13_hits" -> ((s, d) =>
      graft.ops.Graph.hitsBipartiteCached(
        Tables.events(s, d)
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("int").as("attr"))
          .filter(col("user_id").isNotNull && col("attr").isNotNull)
          .groupBy(col("user_id"), col("attr"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 3)
          .select(col("user_id"), col("attr")),
        "user_id", "attr", iters = 3).df),

    "g02_pagerank" -> ((s, d) =>
      graft.ops.Graph.pageRank(edges(s, d), iters = 3)
        .orderBy(col("node"))),

    // Newman modularity of g15's post-sweep partition: per-community
    // intra-edge and degree mass with the 4m²-scaled integer
    // modularity term — "how ring-like is each detected cluster",
    // scored without a single float division. (The components
    // partition would collapse to one zero-term community on this
    // corpus; the swept partition exercises the stats per-community.)
    "g14_modularity" -> ((s, d) =>
      // r14: the fine edge list is bounded on this corpus, so sweep +
      // stats run as driver Long algebra (Community.Local — the g17
      // engine pushed down to level 1); the distributed r13 path is
      // the past-bound fallback
      fineGate(s, d) { es =>
        val sw = Community.Local.sweep(es, downOnly = false)
        val membMap = sw.iterator.map(t => (t._1, t._2)).toMap
        val stats = Community.Local.stats(es, membMap)
        s.createDataFrame(stats.toSeq)
          .toDF("comm", "n_nodes", "e_in", "d_sum", "q_num")
          .orderBy(col("comm"))
      } { src =>
        val e = src.persist(disk)
        // r13: the singleton start runs the algebraically-specialized
        // fast path (no membership joins to an identity map, no
        // symmetrize/distinct scaffold — Community doc). The sweep
        // output feeds THREE stats subtrees (d_sum + both ends of the
        // intra-edge join) — node-bounded LOCAL pin (persist alone kept
        // the whole sweep subtree in each consumer's logical plan, the
        // g13 "blocks, not plans" lesson)
        val memb = Layout.materializeBounded(
          Community.greedyMoveFromSingletons(e)
            .select(col("node"), col("comm")), maxRows = Layout.GateRows)
        val out = Community.modularityStats(e, memb).orderBy(col("comm"))
        val pinned = Layout.materializeBounded(out, maxRows = 1000000L)
        e.unpersist(blocking = false)
        pinned
      }),

    // One synchronous Louvain-style sweep from singletons (the
    // deterministic first local-move round of Blondel et al. 2008):
    // every node moves to the neighbor community with the largest
    // positive integer ΔQ·4m² (smallest id on ties), all moves at
    // once — community detection's inner loop, replayed exactly by
    // the oracle's window-argmax.
    "g15_community_move" -> ((s, d) =>
      // r14: driver-algebra sweep on the bounded fine edge list
      // (CommunitySpec pins Local.sweep ≡ the frame sweep)
      fineGate(s, d) { es =>
        val sw = Community.Local.sweep(es, downOnly = false)
        s.createDataFrame(sw.toSeq).toDF("node", "comm", "moved")
          .orderBy(col("node"))
      } { src =>
        val e = src.persist(disk)
        // r13: singleton fast path — same (node, comm, moved) frame from
        // a third of the plan (Community doc; CommunitySpec pins equality)
        val out = Community.greedyMoveFromSingletons(e).orderBy(col("node"))
        val pinned = Layout.materializeBounded(out, maxRows = 1000000L)
        e.unpersist(blocking = false)
        pinned
      }),

    // Two chained local-move sweeps (the Louvain inner loop iterated):
    // round 2 starts from g15's partition, so the GENERAL gain formula
    // — nonzero k_ia (edges into the CURRENT community) and the
    // d_a − k_i correction — is on the oracle, not just the spec;
    // emits each node's round-1 and round-2 communities and whether
    // round 2 still moved it (convergence signal).
    "g16_community_converge" -> ((s, d) =>
      // r14: both rounds as driver Long algebra — round 1 the
      // singleton sweep, round 2 the GENERAL move pass
      // (Community.Local.movePass, CommunitySpec-pinned against the
      // frame general sweep)
      fineGate(s, d) { es =>
        val sw1 = Community.Local.sweep(es, downOnly = false)
        val memb1 = sw1.iterator.map(t => (t._1, t._2)).toMap
        val m2 = Community.Local.movePass(es, memb1, downOnly = false)
        val rows = sw1.indices.map { i =>
          val (n, c1, _) = sw1(i)
          val (n2, c2, mv) = m2(i)
          require(n == n2, "sweep/movePass universe mismatch")
          (n, c1, c2, mv)
        }
        s.createDataFrame(rows)
          .toDF("node", "comm1", "comm2", "moved2")
          .orderBy(col("node"))
      } { src =>
        val e = src.persist(disk)
        // r13: round 1 on the singleton fast path; memb1 pins as a
        // node-bounded LOCAL relation — the general round-2 sweep reads
        // its membership FOUR times, and the old persist left four
        // copies of the whole round-1 subtree in the logical plan (the
        // g13 "blocks, not plans" lesson — this was most of g16's cost)
        val memb1 = Layout.materializeBounded(
          Community.greedyMoveFromSingletons(e)
            .select(col("node"), col("comm")), maxRows = Layout.GateRows)
        val m2 = Community.greedyMovePass(e, memb1)
        val out = memb1.withColumnRenamed("comm", "comm1")
          .join(m2.select(col("node"), col("comm").as("comm2"),
            col("moved").as("moved2")), Seq("node"))
          .orderBy(col("node"))
        val pinned = Layout.materializeBounded(out, maxRows = 1000000L)
        e.unpersist(blocking = false)
        pinned
      }),

    // Full Louvain step: level-1 local-move sweep, then COARSEN
    // (communities → super-nodes, intra edges → self-loops — the
    // phase the oracle's algebra hadn't seen: weighted degrees with
    // the 2×-self-loop convention preserve the 4m² numerators
    // exactly), then the level-2 weighted sweep on the coarse graph
    // (downOnly — the synchronous-swap breaker). Emits the level-2
    // community stats plus both levels' modularity numerators and the
    // improved flag, all integer, all hash-exact.
    "g17_louvain_coarsen" -> ((s, d) => {
      // level 2 on a collected coarse graph: exact Long algebra
      // (Community.Local — the louvain r13 engine); values identical to
      // the frame ops, oracle-pinned
      def level2(ce: Array[Community.Local.E]): DataFrame = {
        val q1v = Community.Local.qNum(ce)
        val sw = Community.Local.sweep(ce, downOnly = true)
        val membMap = sw.iterator.map(t => (t._1, t._2)).toMap
        val stats = Community.Local.stats(ce, membMap)
        val q2v = stats.iterator.map(x => BigInt(x._5)).sum
        require(q2v.isValidLong, s"q2 total overflows Int64: $q2v")
        s.createDataFrame(stats.toSeq)
          .toDF("comm", "n_nodes", "e_in", "d_sum", "q_num")
          .withColumn("q1_total", lit(q1v))
          .withColumn("q2_total", lit(q2v.toLong))
          .withColumn("improved", col("q2_total") >= col("q1_total"))
          .orderBy(col("comm"))
      }
      // r14: whole step as driver Long algebra when the FINE list is
      // bounded (level 1 included — the r13 gate only went local from
      // the coarse graph); the fallback is the r13 distributed/driver
      // hybrid
      fineGate(s, d) { esf =>
        val sw1 = Community.Local.sweep(esf, downOnly = false)
        level2(Community.Local.coarsen(esf,
          sw1.iterator.map(t => (t._1, t._2)).toMap))
      } { src =>
        // the r13 distributed/driver-hybrid path, unchanged — every
        // stage boundary CUTS lineage (materializeBounded, all
        // node/community-bounded frames): each level-2 operator reads
        // its inputs many times, so persisted-but-unpruned plans here
        // multiply the level-1 sweep subtree ~50x into the analyzer —
        // measured as a driver OOM before the cuts (the g13 lesson).
        // Both sweeps run the singleton fast path, and q1 is priced
        // on the COARSE graph — singletonQNum(ce) equals the fine
        // stats total by coarsening exactness (the spec'd invariant) —
        // one degree pass over ce instead of three joins over e.
        val e = src.persist(disk)
        val memb1 = Layout.materializeBounded(
          Community.greedyMoveFromSingletons(e)
            .select(col("node"), col("comm")), maxRows = Layout.GateRows)
        val out = Layout.collectBounded(Community.coarsen(e, memb1),
            maxRows = Layout.GateRows) match {
          case Right(rows) => level2(Community.Local.fromRows(rows))
          case Left(ce) =>
            // distributed fallback (coarse graph past the bound)
            val q1v = Community.singletonQNum(ce)
            val memb2 = Layout.materializeBounded(
              Community.greedyMoveFromSingletonsW(ce, downOnly = true)
                .select(col("node"), col("comm")), maxRows = Layout.GateRows)
            // stats2 feeds the q2 total AND the output rows — eager pin
            val stats2 = Layout.materializeBounded(
              Community.modularityStatsW(ce, memb2), maxRows = 1000000L)
            val q2 = stats2.agg(sum(col("q_num")).as("q2_total"))
            stats2
              .withColumn("q1_total", lit(q1v))
              .crossJoin(broadcast(q2))
              .withColumn("improved", col("q2_total") >= col("q1_total"))
              .orderBy(col("comm"))
        }
        val pinned = Layout.materializeBounded(out, maxRows = 1000000L)
        e.unpersist(blocking = false)
        pinned
      }
    }),

    // FULL Louvain to convergence (r12 mandate #4): sweep -> coarsen
    // looped until a level moves nothing (fixed point: zero moves =>
    // identity coarsen => every deeper level repeats), depth-capped
    // at 3 — the composed per-level membership for every FINE node.
    // Level 3 genuinely fires on this corpus; the oracle unrolls all
    // three levels unconditionally (the fixed-point argument makes
    // that equal to the early-stopped loop).
    "g18_louvain_full" -> ((s, d) => {
      val e = edges(s, d).persist(disk)
      val out = Community.louvain(e, maxLevels = 3)
        .membership.orderBy(col("node"))
      val pinned = Layout.materializeBounded(out, maxRows = Layout.GateRows)
      e.unpersist(blocking = false)
      pinned
    }),

    // The per-level modularity trace of g18's run: level 0 is the
    // singleton baseline, each executed level reports its community
    // count, move count, and 4m²-scaled modularity numerator total
    // (coarsening exactness makes every coarse total THE fine-
    // partition modularity). Unexecuted post-convergence levels are
    // absent — the termination rule is on the oracle.
    "g18b_louvain_trace" -> ((s, d) => {
      val e = edges(s, d).persist(disk)
      val out = Community.louvain(e, maxLevels = 3)
        .trace.orderBy(col("level"))
      val pinned = Layout.materializeBounded(out, maxRows = 1000L)
      e.unpersist(blocking = false)
      pinned
    }),

    // Semi-supervised label spreading: three fraud-typology seed
    // classes (user_id % 3 on the % 37 seed set) diffuse two integer
    // fixed-point rounds through the co-attribute graph in ONE edge
    // pass per round (class masses ride as parallel columns); label =
    // argmax mass, ties to the smallest class, null where no mass
    // arrives.
    "g10_label_spread" -> ((s, d) =>
      graft.ops.Graph.labelSpread(edges(s, d),
        Tables.events(s, d).filter(col("user_id") % 37 === 0)
          .select(col("user_id").as("node"),
            (col("user_id") % 3).cast("int").as("cls")).distinct(),
        numClasses = 3, iters = 2)
        .orderBy(col("node"))),

    // Connected components: 3 rounds of min-label propagation +
    // pointer jumping (each round = one edge join + one label
    // self-join; jumping doubles reached distance per round, the
    // log-diameter trick plain propagation lacks). All-integer min
    // arithmetic; the oracle unrolls the rounds as chained CTEs, and
    // the round count is part of the contract (the g02 stance).
    "g11_components" -> ((s, d) =>
      graft.ops.Graph.connectedComponents(edges(s, d), rounds = 3)
        .orderBy(col("node"))),

    // Weighted shortest paths from the fraud-seed set: 3 unrolled
    // Bellman-Ford rounds over edge cost 1000 div shared (stronger
    // co-attribute association = cheaper link), so dist = min cost
    // over association chains of <= 3 links — all-integer min-plus,
    // unreached nodes absent (the g05 zero-mass stance).
    "g12_shortest_paths" -> ((s, d) =>
      graft.ops.Graph.shortestPaths(edges(s, d), seeds(s, d),
        expr("1000 div shared"), rounds = 3)
        .orderBy(col("node"))),

    // k-core ring extraction: 3 synchronous peels of degree-<3 nodes
    // over the co-attribute graph — the dense-ring pre-filter before
    // per-ring analytics. Integer degrees only; the oracle unrolls
    // each peel as a CTE stage exactly like g02's iterations.
    "g09_kcore" -> ((s, d) =>
      graft.ops.Graph.kCore(edges(s, d), k = 3, iters = 3)
        .orderBy(col("node"))),

    // Local clustering coefficient per node: 2·triangles/(d(d−1)) —
    // triangles from g03's machinery joined to symmetrized degrees;
    // how ring-like each account's neighborhood is. Degree-1 nodes
    // have no closable wedge → null coefficient. Body hoisted to
    // Graph.clusteringCoeff in r14 so the driver gate covers the
    // whole composition (see the op's doc).
    "g08_clustering_coeff" -> ((s, d) =>
      graft.ops.Graph.clusteringCoeff(edges(s, d))
        .orderBy(col("node"))),

    // Newman degree assortativity of the co-attribute graph: Pearson
    // over endpoint degrees of every directed edge — integer moment
    // sums, one fixed-order double chain, hash-exact.
    "g07_assortativity" -> ((s, d) =>
      graft.ops.Graph.assortativityCached(edges(s, d)).df),

    "g03_triangles" -> ((s, d) =>
      graft.ops.Graph.triangleCounts(edges(s, d))
        .orderBy(col("node"))),

    // Personalized PageRank from the fraud-seed set: restart mass
    // returns only to seeds, so rank = proximity to known fraud, and
    // nodes unreachable from every seed sit at exactly 0. Integer
    // fixed-point like g02 — the oracle unrolls the 3 iterations with
    // the seed-conditional restart term.
    "g05_ppr" -> ((s, d) =>
      graft.ops.Graph.personalizedPageRank(edges(s, d), seeds(s, d),
        iters = 3)
        .orderBy(col("node"))),

    // Common-neighbor link prediction: top-20 non-adjacent distance-2
    // pairs by shared neighbors + neighbor-set Jaccard — integer
    // counts, one exact division, deterministic (cn desc, a, b) order.
    // Middles capped at degree 60 (wedge volume is Σ deg², and a
    // shared hub is weak linkage signal — the Adamic-Adar discount
    // taken to exclusion); Jaccard denominators keep TRUE degrees.
    "g06_link_prediction" -> ((s, d) =>
      graft.ops.Graph.linkPrediction(edges(s, d), k = 20,
        maxMiddleDegree = 60)),

    // g04 runs with the RELIABLE checkpoint mode on, so the
    // file-checkpoint path (the 1000-executor fault-tolerance choice —
    // see Checkpoints) executes under the DuckDB oracle, not just in
    // GraphSpec: the BFS's per-hop cuts write and re-read real
    // checkpoint files, and the result must be identical to the
    // local-block mode (the toggle changes fault tolerance, never
    // semantics). The cuts run eagerly inside khopReach, on a child
    // session that carries the checkpoint key; the files stay
    // readable for the verifier's later parquet dump.
    "g04_khop_reach" -> ((s, d) =>
      Tables.isolated(s, graft.ops.Checkpoints.ConfKey ->
          Tables.stageDir(s, "g04_ckpt")) { c =>
        graft.ops.Graph.khopReach(edges(c, d), seeds(c, d), maxHops = 2)
          .orderBy(col("hops"), col("node"))
      })
  )

  // shared oracle prelude: qualified (user, attr) pairs and the
  // canonical u<v edge list — mirrors coAttributeEdges exactly
  private val prelude =
    """WITH src AS (SELECT user_id AS u,
                           CAST(json_extract(props, '$.k') AS INT) AS attr
                    FROM events
                    WHERE user_id IS NOT NULL
                      AND json_extract(props, '$.k') IS NOT NULL),
         pa AS (SELECT u, attr FROM src
                GROUP BY u, attr HAVING COUNT(*) >= 3),
         e AS (SELECT a.u AS u, b.u AS v, COUNT(*) AS shared
               FROM pa a JOIN pa b ON a.attr = b.attr AND a.u < b.u
               GROUP BY 1, 2)"""

  /** The shared g18/g18b replay chain: the g17 oracle's level-1 sweep
    * + coarsen + downOnly level-2 sweep, extended one more coarsen +
    * downOnly sweep to level 3, with per-level modularity totals.
    * Multi-referenced CTEs materialize (the n19 lesson). Static
    * unrolling equals the op's early-stopped loop because a converged
    * level is a fixed point (zero moves ⇒ identity coarsen ⇒ the
    * deeper sweeps repeat it).
    */
  private lazy val louvainChainSql: String =
    s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                 FROM e),
         deg AS MATERIALIZED (SELECT u AS node, COUNT(*) AS k
                FROM sym GROUP BY 1),
         mm AS (SELECT COUNT(*) AS m FROM e),
         links AS (SELECT u AS node, v AS b, COUNT(*) AS kic FROM sym
                   GROUP BY 1, 2),
         gains AS (SELECT l.node, l.b,
                     4 * mm.m * l.kic
                       - 2 * dn.k * (db.k - dn.k + dn.k) AS gain
                   FROM links l
                   JOIN deg dn ON l.node = dn.node
                   JOIN deg db ON l.b = db.node
                   CROSS JOIN mm),
         best AS (SELECT node, b FROM (
                    SELECT node, b, ROW_NUMBER() OVER (
                      PARTITION BY node ORDER BY gain DESC, b ASC) AS rn
                    FROM gains WHERE gain > 0) t
                  WHERE rn = 1),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         mb1 AS MATERIALIZED (SELECT n.node, COALESCE(be.b, n.node) AS lbl
                FROM nodes n LEFT JOIN best be ON n.node = be.node),
         ds1 AS (SELECT mb1.lbl AS comm, SUM(deg.k) AS d_sum
                 FROM mb1 JOIN deg ON mb1.node = deg.node GROUP BY 1),
         ein1 AS (SELECT a.lbl AS comm, COUNT(*) AS e_in
                  FROM e JOIN mb1 a ON e.u = a.node
                         JOIN mb1 b ON e.v = b.node
                  WHERE a.lbl = b.lbl GROUP BY 1),
         q1 AS (SELECT SUM(4 * mm.m * COALESCE(ein1.e_in, 0)
                  - ds1.d_sum * ds1.d_sum) AS q1_total
                FROM ds1 LEFT JOIN ein1 ON ds1.comm = ein1.comm
                CROSS JOIN mm),
         ce AS MATERIALIZED (SELECT LEAST(a.lbl, b.lbl) AS u,
                  GREATEST(a.lbl, b.lbl) AS v, COUNT(*) AS w
                FROM e JOIN mb1 a ON e.u = a.node
                       JOIN mb1 b ON e.v = b.node
                GROUP BY 1, 2),
         cns AS (SELECT u, v, w FROM ce WHERE u <> v),
         csym AS (SELECT u, v, w FROM cns
                  UNION ALL SELECT v AS u, u AS v, w FROM cns),
         cdeg AS MATERIALIZED (SELECT node, SUM(w) AS k FROM (
                  SELECT u AS node, w FROM csym
                  UNION ALL
                  SELECT u AS node, 2 * w AS w FROM ce WHERE u = v) q
                GROUP BY 1),
         clinks AS (SELECT u AS node, v AS c, SUM(w) AS kic FROM csym
                    GROUP BY 1, 2),
         cgains AS (SELECT l.node, l.c AS b,
                      4 * mm.m * l.kic
                        - 2 * dn.k * (db.k - dn.k + dn.k) AS gain
                    FROM clinks l
                    JOIN cdeg dn ON l.node = dn.node
                    JOIN cdeg db ON l.c = db.node
                    CROSS JOIN mm
                    WHERE l.c < l.node),
         cbest AS (SELECT node, b FROM (
                     SELECT node, b, ROW_NUMBER() OVER (
                       PARTITION BY node ORDER BY gain DESC, b ASC) AS rn
                     FROM cgains WHERE gain > 0) t
                   WHERE rn = 1),
         cnodes AS (SELECT DISTINCT node FROM (
                      SELECT u AS node FROM ce
                      UNION ALL SELECT v AS node FROM ce) q),
         mb2 AS MATERIALIZED (SELECT n.node, COALESCE(cb.b, n.node) AS lbl
                FROM cnodes n LEFT JOIN cbest cb ON n.node = cb.node),
         ds2 AS (SELECT mb2.lbl AS comm, SUM(cdeg.k) AS d_sum
                 FROM mb2 JOIN cdeg ON mb2.node = cdeg.node GROUP BY 1),
         ein2 AS (SELECT a.lbl AS comm, SUM(ce.w) AS e_in
                  FROM ce JOIN mb2 a ON ce.u = a.node
                          JOIN mb2 b ON ce.v = b.node
                  WHERE a.lbl = b.lbl GROUP BY 1),
         q2 AS (SELECT SUM(4 * mm.m * COALESCE(ein2.e_in, 0)
                  - ds2.d_sum * ds2.d_sum) AS q2_total
                FROM ds2 LEFT JOIN ein2 ON ds2.comm = ein2.comm
                CROSS JOIN mm),
         ce2 AS MATERIALIZED (SELECT LEAST(a.lbl, b.lbl) AS u,
                  GREATEST(a.lbl, b.lbl) AS v, SUM(ce.w) AS w
                FROM ce JOIN mb2 a ON ce.u = a.node
                        JOIN mb2 b ON ce.v = b.node
                GROUP BY 1, 2),
         cns2 AS (SELECT u, v, w FROM ce2 WHERE u <> v),
         csym2 AS (SELECT u, v, w FROM cns2
                   UNION ALL SELECT v AS u, u AS v, w FROM cns2),
         cdeg2 AS MATERIALIZED (SELECT node, SUM(w) AS k FROM (
                   SELECT u AS node, w FROM csym2
                   UNION ALL
                   SELECT u AS node, 2 * w AS w FROM ce2 WHERE u = v) q
                 GROUP BY 1),
         clinks2 AS (SELECT u AS node, v AS c, SUM(w) AS kic FROM csym2
                     GROUP BY 1, 2),
         cgains2 AS (SELECT l.node, l.c AS b,
                       4 * mm.m * l.kic
                         - 2 * dn.k * (db.k - dn.k + dn.k) AS gain
                     FROM clinks2 l
                     JOIN cdeg2 dn ON l.node = dn.node
                     JOIN cdeg2 db ON l.c = db.node
                     CROSS JOIN mm
                     WHERE l.c < l.node),
         cbest2 AS (SELECT node, b FROM (
                      SELECT node, b, ROW_NUMBER() OVER (
                        PARTITION BY node ORDER BY gain DESC, b ASC)
                        AS rn
                      FROM cgains2 WHERE gain > 0) t
                    WHERE rn = 1),
         cnodes2 AS (SELECT DISTINCT node FROM (
                       SELECT u AS node FROM ce2
                       UNION ALL SELECT v AS node FROM ce2) q),
         mb3 AS MATERIALIZED (SELECT n.node,
                  COALESCE(cb.b, n.node) AS lbl
                FROM cnodes2 n LEFT JOIN cbest2 cb ON n.node = cb.node),
         ds3 AS (SELECT mb3.lbl AS comm, SUM(cdeg2.k) AS d_sum
                 FROM mb3 JOIN cdeg2 ON mb3.node = cdeg2.node
                 GROUP BY 1),
         ein3 AS (SELECT a.lbl AS comm, SUM(ce2.w) AS e_in
                  FROM ce2 JOIN mb3 a ON ce2.u = a.node
                           JOIN mb3 b ON ce2.v = b.node
                  WHERE a.lbl = b.lbl GROUP BY 1),
         q3 AS (SELECT SUM(4 * mm.m * COALESCE(ein3.e_in, 0)
                  - ds3.d_sum * ds3.d_sum) AS q3_total
                FROM ds3 LEFT JOIN ein3 ON ds3.comm = ein3.comm
                CROSS JOIN mm)"""

  /** g13's oracle: the shared qualified (user, attr) prelude, then
    * `iters` unrolled half-round pairs — HUGEINT sums, max-rescale via
    * `//` on positives (≡ Spark `div`). MATERIALIZED throughout: each
    * half-round frame is read by its own MAX subquery AND the next
    * half-round, and DuckDB inlines plain CTEs per reference.
    */
  private def hitsSql(iters: Int, scale: Long): String = {
    val rounds = (1 to iters).map { i =>
      s""",
         ar$i AS MATERIALIZED (SELECT m.ma AS node, SUM(h.score) AS s
                FROM mq m JOIN h${i - 1} h ON m.mu = h.node GROUP BY 1),
         a$i AS MATERIALIZED (SELECT node,
                  (s * CAST($scale AS HUGEINT)) //
                    (SELECT MAX(s) FROM ar$i) AS score
                FROM ar$i),
         hr$i AS MATERIALIZED (SELECT m.mu AS node, SUM(a.score) AS s
                FROM mq m JOIN a$i a ON m.ma = a.node GROUP BY 1),
         h$i AS MATERIALIZED (SELECT node,
                  (s * CAST($scale AS HUGEINT)) //
                    (SELECT MAX(s) FROM hr$i) AS score
                FROM hr$i)"""
    }.mkString
    s"""$prelude,
         mq AS MATERIALIZED (SELECT CAST(u AS BIGINT) AS mu,
                CAST(attr AS BIGINT) AS ma FROM pa),
         h0 AS (SELECT DISTINCT mu AS node,
                  CAST($scale AS BIGINT) AS score FROM mq)$rounds
         SELECT kind, node, CAST(score AS BIGINT) AS score FROM (
           SELECT 'auth' AS kind, node, score FROM a$iters
           UNION ALL
           SELECT 'hub' AS kind, node, score FROM h$iters)
         ORDER BY kind, node"""
  }

  def oracle: Map[String, String] = Map(
    "g13_hits" -> hitsSql(3, 1000000L),
    "g01_coattr_edges" ->
      s"""$prelude
         SELECT u, v, shared FROM e ORDER BY u, v""",

    "g07_assortativity" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                 FROM e),
         deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
         pr AS (SELECT da.d AS x, db.d AS y
                FROM sym JOIN deg da ON sym.u = da.u
                         JOIN deg db ON sym.v = db.u),
         st AS (SELECT COUNT(*) AS n,
                  SUM(CAST(x AS HUGEINT)) AS sx,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                  SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                  SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
                FROM pr),
         mo AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
                  CAST(sxx AS DOUBLE) AS sxxd,
                  CAST(syy AS DOUBLE) AS syyd,
                  CAST(sxy AS DOUBLE) AS sxyd
                FROM st),
         cv AS (SELECT n,
                  sxxd / nd - mx * mx AS vx,
                  syyd / nd - my * my AS vy,
                  sxyd / nd - mx * my AS cxy
                FROM mo)
         SELECT n AS n_endpoints,
                CASE WHEN vx > 0 AND vy > 0
                     THEN round(cxy / sqrt(vx * vy), 7)
                END AS assortativity
         FROM cv""",

    // 3 unrolled iterations of the integer fixed-point PageRank:
    // scale 10^6, damping 85%, base = 150000, every division a floor
    // division on positive integers — bit-identical to the Spark run
    "g02_pagerank" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
         c1 AS (SELECT s.v AS node, SUM(r.r // d.deg) AS m
                FROM sym s JOIN r0 r ON s.u = r.node
                           JOIN deg d ON s.u = d.node GROUP BY 1),
         r1 AS (SELECT d.node,
                       CAST(150000 + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
                FROM deg d LEFT JOIN c1 c ON d.node = c.node),
         c2 AS (SELECT s.v AS node, SUM(r.r // d.deg) AS m
                FROM sym s JOIN r1 r ON s.u = r.node
                           JOIN deg d ON s.u = d.node GROUP BY 1),
         r2 AS (SELECT d.node,
                       CAST(150000 + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
                FROM deg d LEFT JOIN c2 c ON d.node = c.node),
         c3 AS (SELECT s.v AS node, SUM(r.r // d.deg) AS m
                FROM sym s JOIN r2 r ON s.u = r.node
                           JOIN deg d ON s.u = d.node GROUP BY 1),
         r3 AS (SELECT d.node,
                       CAST(150000 + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
                FROM deg d LEFT JOIN c3 c ON d.node = c.node)
         SELECT node, r AS "rank" FROM r3 ORDER BY node""",

    // personalized variant: identical fixed-point arithmetic, but the
    // restart term is seed-conditional and r0 starts all mass on seeds
    "g05_ppr" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
         seeds AS (SELECT DISTINCT user_id AS node FROM events
                   WHERE user_id % 37 = 0),
         sn AS (SELECT d.node, d.deg,
                       CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
                FROM deg d LEFT JOIN seeds s ON d.node = s.node),
         r0 AS (SELECT node, CAST(is_seed * 1000000 AS BIGINT) AS r FROM sn),
         c1 AS (SELECT s.v AS node, SUM(r.r // d.deg) AS m
                FROM sym s JOIN r0 r ON s.u = r.node
                           JOIN sn d ON s.u = d.node GROUP BY 1),
         r1 AS (SELECT n.node,
                       CAST(n.is_seed * 150000
                            + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
                FROM sn n LEFT JOIN c1 c ON n.node = c.node),
         c2 AS (SELECT s.v AS node, SUM(r.r // d.deg) AS m
                FROM sym s JOIN r1 r ON s.u = r.node
                           JOIN sn d ON s.u = d.node GROUP BY 1),
         r2 AS (SELECT n.node,
                       CAST(n.is_seed * 150000
                            + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
                FROM sn n LEFT JOIN c2 c ON n.node = c.node),
         c3 AS (SELECT s.v AS node, SUM(r.r // d.deg) AS m
                FROM sym s JOIN r2 r ON s.u = r.node
                           JOIN sn d ON s.u = d.node GROUP BY 1),
         r3 AS (SELECT n.node,
                       CAST(n.is_seed * 150000
                            + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT) AS r
                FROM sn n LEFT JOIN c3 c ON n.node = c.node)
         SELECT node, r AS "rank" FROM r3 ORDER BY node""",

    // wedge join minus existing edges; ORDER BY + LIMIT mirror the
    // TakeOrdered (cn desc, a, b) rule exactly — all-integer ranking
    "g06_link_prediction" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
         sym2 AS (SELECT s.u, s.v FROM sym s
                  JOIN deg d ON s.u = d.node WHERE d.deg <= 60),
         cand AS (SELECT s1.v AS a, s2.v AS b, COUNT(*) AS cn
                  FROM sym2 s1 JOIN sym2 s2
                    ON s1.u = s2.u AND s1.v < s2.v
                  GROUP BY 1, 2),
         nonadj AS (SELECT c.a, c.b, c.cn
                    FROM cand c LEFT JOIN e
                      ON c.a = e.u AND c.b = e.v
                    WHERE e.u IS NULL)
         SELECT n.a, n.b, n.cn,
                CAST(n.cn AS DOUBLE)
                  / CAST(da.deg + db.deg - n.cn AS DOUBLE) AS jaccard
         FROM nonadj n
         JOIN deg da ON n.a = da.node
         JOIN deg db ON n.b = db.node
         ORDER BY n.cn DESC, n.a, n.b LIMIT 20""",

    "g10_label_spread" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                 FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
         sd AS (SELECT node, MIN(cls) AS cls FROM (
                  SELECT DISTINCT user_id AS node,
                         CAST(user_id % 3 AS INT) AS cls
                  FROM events
                  WHERE user_id IS NOT NULL AND user_id % 37 = 0)
                GROUP BY node),
         nd AS (SELECT d.node, d.deg, s.cls
                FROM deg d LEFT JOIN sd s ON d.node = s.node),
         r0 AS (SELECT node, cls,
              CAST(CASE WHEN cls = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS m0,
              CAST(CASE WHEN cls = 1 THEN 1000000 ELSE 0 END AS BIGINT) AS m1,
              CAST(CASE WHEN cls = 2 THEN 1000000 ELSE 0 END AS BIGINT) AS m2
                FROM nd),
         c1 AS (SELECT s.v AS node, SUM(r.m0 // d.deg) AS s0, SUM(r.m1 // d.deg) AS s1, SUM(r.m2 // d.deg) AS s2
                FROM sym s JOIN r0 r ON s.u = r.node
                           JOIN deg d ON s.u = d.node GROUP BY 1),
         r1 AS (SELECT n.node, n.cls,
              CAST(CASE WHEN n.cls = 0 THEN 150000 ELSE 0 END
                   + (85 * COALESCE(c.s0, 0)) // 100 AS BIGINT) AS m0,
              CAST(CASE WHEN n.cls = 1 THEN 150000 ELSE 0 END
                   + (85 * COALESCE(c.s1, 0)) // 100 AS BIGINT) AS m1,
              CAST(CASE WHEN n.cls = 2 THEN 150000 ELSE 0 END
                   + (85 * COALESCE(c.s2, 0)) // 100 AS BIGINT) AS m2
                FROM nd n LEFT JOIN c1 c ON n.node = c.node),
         c2 AS (SELECT s.v AS node, SUM(r.m0 // d.deg) AS s0, SUM(r.m1 // d.deg) AS s1, SUM(r.m2 // d.deg) AS s2
                FROM sym s JOIN r1 r ON s.u = r.node
                           JOIN deg d ON s.u = d.node GROUP BY 1),
         r2 AS (SELECT n.node, n.cls,
              CAST(CASE WHEN n.cls = 0 THEN 150000 ELSE 0 END
                   + (85 * COALESCE(c.s0, 0)) // 100 AS BIGINT) AS m0,
              CAST(CASE WHEN n.cls = 1 THEN 150000 ELSE 0 END
                   + (85 * COALESCE(c.s1, 0)) // 100 AS BIGINT) AS m1,
              CAST(CASE WHEN n.cls = 2 THEN 150000 ELSE 0 END
                   + (85 * COALESCE(c.s2, 0)) // 100 AS BIGINT) AS m2
                FROM nd n LEFT JOIN c2 c ON n.node = c.node)
         SELECT node, m0, m1, m2,
                CAST(CASE WHEN m0 = 0 AND m1 = 0 AND m2 = 0 THEN NULL
                     WHEN m0 >= m1 AND m0 >= m2 THEN 0
                     WHEN m1 >= m2 THEN 1 ELSE 2 END AS INT) AS label
         FROM r2 ORDER BY node""",

    // 3 unrolled rounds of min-label propagation, each followed by a
    // pointer jump (label := label's label) — bit-identical integer
    // min arithmetic
    "g11_components" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                 FROM e),
         r0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
         m1 AS (SELECT s.v AS node, MIN(r.lbl) AS nl
                FROM sym s JOIN r0 r ON s.u = r.node GROUP BY 1),
         p1 AS (SELECT r.node, LEAST(r.lbl, COALESCE(m.nl, r.lbl)) AS lbl
                FROM r0 r LEFT JOIN m1 m ON r.node = m.node),
         j1 AS (SELECT a.node, b.lbl FROM p1 a JOIN p1 b ON a.lbl = b.node),
         m2 AS (SELECT s.v AS node, MIN(r.lbl) AS nl
                FROM sym s JOIN j1 r ON s.u = r.node GROUP BY 1),
         p2 AS (SELECT r.node, LEAST(r.lbl, COALESCE(m.nl, r.lbl)) AS lbl
                FROM j1 r LEFT JOIN m2 m ON r.node = m.node),
         j2 AS (SELECT a.node, b.lbl FROM p2 a JOIN p2 b ON a.lbl = b.node),
         m3 AS (SELECT s.v AS node, MIN(r.lbl) AS nl
                FROM sym s JOIN j2 r ON s.u = r.node GROUP BY 1),
         p3 AS (SELECT r.node, LEAST(r.lbl, COALESCE(m.nl, r.lbl)) AS lbl
                FROM j2 r LEFT JOIN m3 m ON r.node = m.node),
         j3 AS (SELECT a.node, b.lbl FROM p3 a JOIN p3 b ON a.lbl = b.node)
         SELECT node, lbl AS component FROM j3 ORDER BY node""",

    // g15's sweep chain first (same CTEs), then integer modularity
    // terms of the swept partition: q_num = 4m·e_in − d²
    "g14_modularity" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                 FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS k FROM sym GROUP BY 1),
         mm AS (SELECT COUNT(*) AS m FROM e),
         links AS (SELECT u AS node, v AS b, COUNT(*) AS kic FROM sym
                   GROUP BY 1, 2),
         gains AS (SELECT l.node, l.b,
                     4 * mm.m * l.kic
                       - 2 * dn.k * (db.k - dn.k + dn.k) AS gain
                   FROM links l
                   JOIN deg dn ON l.node = dn.node
                   JOIN deg db ON l.b = db.node
                   CROSS JOIN mm),
         best AS (SELECT node, b FROM (
                    SELECT node, b, ROW_NUMBER() OVER (
                      PARTITION BY node ORDER BY gain DESC, b ASC) AS rn
                    FROM gains WHERE gain > 0) t
                  WHERE rn = 1),
         allnodes AS (SELECT DISTINCT u AS node FROM sym),
         mb AS (SELECT n.node, COALESCE(be.b, n.node) AS lbl
                FROM allnodes n LEFT JOIN best be ON n.node = be.node),
         ds AS (SELECT mb.lbl AS comm, COUNT(*) AS n_nodes,
                       SUM(deg.k) AS d_sum
                FROM mb JOIN deg ON mb.node = deg.node GROUP BY 1),
         ein AS (SELECT a.lbl AS comm, COUNT(*) AS e_in
                 FROM e JOIN mb a ON e.u = a.node
                        JOIN mb b ON e.v = b.node
                 WHERE a.lbl = b.lbl GROUP BY 1)
         SELECT ds.comm, CAST(ds.n_nodes AS BIGINT) AS n_nodes,
                CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
                CAST(ds.d_sum AS BIGINT) AS d_sum,
                CAST(4 * mm.m * COALESCE(ein.e_in, 0)
                     - ds.d_sum * ds.d_sum AS BIGINT) AS q_num
         FROM ds LEFT JOIN ein ON ds.comm = ein.comm CROSS JOIN mm
         ORDER BY ds.comm""",

    // the g15 chain, then round 2 with the GENERAL gain: nonzero
    // k_ia from links into the node's own round-1 community, d_a over
    // the round-1 partition — 4m(k_ib − k_ia) − 2k(d_b − d_a + k)
    "g16_community_converge" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                 FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS k FROM sym GROUP BY 1),
         mm AS (SELECT COUNT(*) AS m FROM e),
         links AS (SELECT u AS node, v AS b, COUNT(*) AS kic FROM sym
                   GROUP BY 1, 2),
         gains AS (SELECT l.node, l.b,
                     4 * mm.m * l.kic
                       - 2 * dn.k * (db.k - dn.k + dn.k) AS gain
                   FROM links l
                   JOIN deg dn ON l.node = dn.node
                   JOIN deg db ON l.b = db.node
                   CROSS JOIN mm),
         best AS (SELECT node, b FROM (
                    SELECT node, b, ROW_NUMBER() OVER (
                      PARTITION BY node ORDER BY gain DESC, b ASC) AS rn
                    FROM gains WHERE gain > 0) t
                  WHERE rn = 1),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         mb1 AS (SELECT n.node, COALESCE(be.b, n.node) AS lbl
                 FROM nodes n LEFT JOIN best be ON n.node = be.node),
         d1 AS (SELECT mb1.lbl AS c, SUM(deg.k) AS d
                FROM mb1 JOIN deg ON mb1.node = deg.node GROUP BY 1),
         links1 AS (SELECT s.u AS node, m.lbl AS c, COUNT(*) AS kic
                    FROM sym s JOIN mb1 m ON s.v = m.node GROUP BY 1, 2),
         self1 AS (SELECT m.node, m.lbl AS a, dn.k, da.d AS d_a,
                          COALESCE(l.kic, 0) AS k_ia
                   FROM mb1 m
                   JOIN deg dn ON m.node = dn.node
                   JOIN d1 da ON m.lbl = da.c
                   LEFT JOIN links1 l
                     ON l.node = m.node AND l.c = m.lbl),
         gains2 AS (SELECT s.node, l.c AS b,
                      4 * mm.m * (l.kic - s.k_ia)
                        - 2 * s.k * (db.d - s.d_a + s.k) AS gain
                    FROM self1 s
                    JOIN links1 l ON s.node = l.node AND l.c <> s.a
                    JOIN d1 db ON l.c = db.c
                    CROSS JOIN mm),
         best2 AS (SELECT node, b FROM (
                     SELECT node, b, ROW_NUMBER() OVER (
                       PARTITION BY node ORDER BY gain DESC, b ASC) AS rn
                     FROM gains2 WHERE gain > 0) t
                   WHERE rn = 1)
         SELECT s.node, s.a AS comm1,
                COALESCE(b2.b, s.a) AS comm2,
                b2.b IS NOT NULL AS moved2
         FROM self1 s LEFT JOIN best2 b2 ON s.node = b2.node
         ORDER BY s.node""",

    // the g15 chain, then the FULL Louvain step: level-1 modularity,
    // coarsen (LEAST/GREATEST community pair + COUNT(*) weight,
    // u = v the self-loops), weighted degrees with the 2×-self-loop
    // convention, the downOnly (c < node) weighted sweep on the
    // coarse singletons, and the level-2 weighted stats — every
    // number integer at the same 4m² scale. Multi-referenced CTEs
    // materialize (the n19 exponential-replay lesson).
    "g17_louvain_coarsen" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                 FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS k FROM sym GROUP BY 1),
         mm AS (SELECT COUNT(*) AS m FROM e),
         links AS (SELECT u AS node, v AS b, COUNT(*) AS kic FROM sym
                   GROUP BY 1, 2),
         gains AS (SELECT l.node, l.b,
                     4 * mm.m * l.kic
                       - 2 * dn.k * (db.k - dn.k + dn.k) AS gain
                   FROM links l
                   JOIN deg dn ON l.node = dn.node
                   JOIN deg db ON l.b = db.node
                   CROSS JOIN mm),
         best AS (SELECT node, b FROM (
                    SELECT node, b, ROW_NUMBER() OVER (
                      PARTITION BY node ORDER BY gain DESC, b ASC) AS rn
                    FROM gains WHERE gain > 0) t
                  WHERE rn = 1),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         mb1 AS MATERIALIZED (SELECT n.node, COALESCE(be.b, n.node) AS lbl
                FROM nodes n LEFT JOIN best be ON n.node = be.node),
         ds1 AS (SELECT mb1.lbl AS comm, SUM(deg.k) AS d_sum
                 FROM mb1 JOIN deg ON mb1.node = deg.node GROUP BY 1),
         ein1 AS (SELECT a.lbl AS comm, COUNT(*) AS e_in
                  FROM e JOIN mb1 a ON e.u = a.node
                         JOIN mb1 b ON e.v = b.node
                  WHERE a.lbl = b.lbl GROUP BY 1),
         q1 AS (SELECT SUM(4 * mm.m * COALESCE(ein1.e_in, 0)
                  - ds1.d_sum * ds1.d_sum) AS q1_total
                FROM ds1 LEFT JOIN ein1 ON ds1.comm = ein1.comm
                CROSS JOIN mm),
         ce AS MATERIALIZED (SELECT LEAST(a.lbl, b.lbl) AS u,
                  GREATEST(a.lbl, b.lbl) AS v, COUNT(*) AS w
                FROM e JOIN mb1 a ON e.u = a.node
                       JOIN mb1 b ON e.v = b.node
                GROUP BY 1, 2),
         cns AS (SELECT u, v, w FROM ce WHERE u <> v),
         csym AS (SELECT u, v, w FROM cns
                  UNION ALL SELECT v AS u, u AS v, w FROM cns),
         cdeg AS MATERIALIZED (SELECT node, SUM(w) AS k FROM (
                  SELECT u AS node, w FROM csym
                  UNION ALL
                  SELECT u AS node, 2 * w AS w FROM ce WHERE u = v) q
                GROUP BY 1),
         clinks AS (SELECT u AS node, v AS c, SUM(w) AS kic FROM csym
                    GROUP BY 1, 2),
         cgains AS (SELECT l.node, l.c AS b,
                      4 * mm.m * l.kic
                        - 2 * dn.k * (db.k - dn.k + dn.k) AS gain
                    FROM clinks l
                    JOIN cdeg dn ON l.node = dn.node
                    JOIN cdeg db ON l.c = db.node
                    CROSS JOIN mm
                    WHERE l.c < l.node),
         cbest AS (SELECT node, b FROM (
                     SELECT node, b, ROW_NUMBER() OVER (
                       PARTITION BY node ORDER BY gain DESC, b ASC) AS rn
                     FROM cgains WHERE gain > 0) t
                   WHERE rn = 1),
         cnodes AS (SELECT DISTINCT node FROM (
                      SELECT u AS node FROM ce
                      UNION ALL SELECT v AS node FROM ce) q),
         mb2 AS MATERIALIZED (SELECT n.node, COALESCE(cb.b, n.node) AS lbl
                FROM cnodes n LEFT JOIN cbest cb ON n.node = cb.node),
         ds2 AS (SELECT mb2.lbl AS comm, COUNT(*) AS n_nodes,
                   SUM(cdeg.k) AS d_sum
                 FROM mb2 JOIN cdeg ON mb2.node = cdeg.node GROUP BY 1),
         ein2 AS (SELECT a.lbl AS comm, SUM(ce.w) AS e_in
                  FROM ce JOIN mb2 a ON ce.u = a.node
                          JOIN mb2 b ON ce.v = b.node
                  WHERE a.lbl = b.lbl GROUP BY 1),
         rows2 AS MATERIALIZED (SELECT ds2.comm, ds2.n_nodes,
                    COALESCE(ein2.e_in, 0) AS e_in, ds2.d_sum,
                    4 * mm.m * COALESCE(ein2.e_in, 0)
                      - ds2.d_sum * ds2.d_sum AS q_num
                  FROM ds2 LEFT JOIN ein2 ON ds2.comm = ein2.comm
                  CROSS JOIN mm),
         q2 AS (SELECT SUM(q_num) AS q2_total FROM rows2)
         SELECT rows2.comm, CAST(rows2.n_nodes AS BIGINT) AS n_nodes,
                CAST(rows2.e_in AS BIGINT) AS e_in,
                CAST(rows2.d_sum AS BIGINT) AS d_sum,
                CAST(rows2.q_num AS BIGINT) AS q_num,
                CAST(q1.q1_total AS BIGINT) AS q1_total,
                CAST(q2.q2_total AS BIGINT) AS q2_total,
                q2.q2_total >= q1.q1_total AS improved
         FROM rows2 CROSS JOIN q1 CROSS JOIN q2
         ORDER BY rows2.comm""",

    // the g17 chain extended to THREE levels (g18's loop replayed as
    // a static unroll — valid because a converged level is a fixed
    // point) plus the membership COMPOSITION: c1 = level-1 label,
    // c2 = level-2 label of c1, c3 = level-3 label of c2
    "g18_louvain_full" ->
      s"""$louvainChainSql
         SELECT CAST(f.node AS BIGINT) AS node,
                CAST(f.lbl AS BIGINT) AS c1,
                CAST(m2.lbl AS BIGINT) AS c2,
                CAST(m3.lbl AS BIGINT) AS c3
         FROM mb1 f JOIN mb2 m2 ON f.lbl = m2.node
                    JOIN mb3 m3 ON m2.lbl = m3.node
         ORDER BY f.node""",

    // g18's trace: level 0 = singleton baseline (q0 = −Σk² — e_in is
    // 0 everywhere), level k > 1 present ONLY if level k−1 moved (the
    // termination rule itself is on the oracle)
    "g18b_louvain_trace" ->
      s"""$louvainChainSql
         SELECT * FROM (
           SELECT CAST(0 AS BIGINT) AS level,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes)
                    AS n_comms,
                  CAST(0 AS BIGINT) AS moves,
                  (SELECT CAST(-SUM(k * k) AS BIGINT) FROM deg)
                    AS q_total
           UNION ALL
           SELECT CAST(1 AS BIGINT),
                  (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM mb1),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM mb1
                   WHERE lbl <> node),
                  (SELECT CAST(q1_total AS BIGINT) FROM q1)
           UNION ALL
           SELECT CAST(2 AS BIGINT),
                  (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM mb2),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM mb2
                   WHERE lbl <> node),
                  (SELECT CAST(q2_total AS BIGINT) FROM q2)
           FROM (SELECT 1) one
           WHERE (SELECT COUNT(*) FROM mb1 WHERE lbl <> node) > 0
           UNION ALL
           SELECT CAST(3 AS BIGINT),
                  (SELECT CAST(COUNT(DISTINCT lbl) AS BIGINT) FROM mb3),
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM mb3
                   WHERE lbl <> node),
                  (SELECT CAST(q3_total AS BIGINT) FROM q3)
           FROM (SELECT 1) one
           WHERE (SELECT COUNT(*) FROM mb1 WHERE lbl <> node) > 0
             AND (SELECT COUNT(*) FROM mb2 WHERE lbl <> node) > 0
         ) t ORDER BY level""",

    // one deterministic local-move sweep from singletons: gain·4m² =
    // 4m·k_ib − 2·k_i·(d_b − d_a + k_i) with k_ia = 0 and d_a = k_i
    // at singleton start; window-argmax replays max-gain/min-id
    "g15_community_move" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                 FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS k FROM sym GROUP BY 1),
         mm AS (SELECT COUNT(*) AS m FROM e),
         links AS (SELECT u AS node, v AS b, COUNT(*) AS kic FROM sym
                   GROUP BY 1, 2),
         gains AS (SELECT l.node, l.b,
                     4 * mm.m * l.kic
                       - 2 * dn.k * (db.k - dn.k + dn.k) AS gain
                   FROM links l
                   JOIN deg dn ON l.node = dn.node
                   JOIN deg db ON l.b = db.node
                   CROSS JOIN mm),
         best AS (SELECT node, b FROM (
                    SELECT node, b, ROW_NUMBER() OVER (
                      PARTITION BY node ORDER BY gain DESC, b ASC) AS rn
                    FROM gains WHERE gain > 0) t
                  WHERE rn = 1),
         nodes AS (SELECT DISTINCT u AS node FROM sym)
         SELECT n.node, COALESCE(be.b, n.node) AS comm,
                be.b IS NOT NULL AS moved
         FROM nodes n LEFT JOIN best be ON n.node = be.node
         ORDER BY n.node""",

    // 3 unrolled Bellman-Ford rounds, integer min-plus over cost
    // 1000 // shared; NULL dist = unreached, filtered at the end
    "g12_shortest_paths" ->
      s"""$prelude,
         sym AS (SELECT u, v, 1000 // shared AS w FROM e
                 UNION ALL SELECT v AS u, u AS v, 1000 // shared FROM e),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         seeds AS (SELECT DISTINCT user_id AS node FROM events
                   WHERE user_id % 37 = 0),
         d0 AS (SELECT n.node,
                       CASE WHEN s.node IS NOT NULL
                            THEN CAST(0 AS BIGINT) END AS dist
                FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
         u1 AS (SELECT s.v AS node, MIN(d.dist + s.w) AS cand
                FROM sym s JOIN d0 d ON s.u = d.node
                WHERE d.dist IS NOT NULL GROUP BY 1),
         d1 AS (SELECT d.node,
                       CASE WHEN d.dist IS NULL THEN u.cand
                            WHEN u.cand IS NULL THEN d.dist
                            ELSE LEAST(d.dist, u.cand) END AS dist
                FROM d0 d LEFT JOIN u1 u ON d.node = u.node),
         u2 AS (SELECT s.v AS node, MIN(d.dist + s.w) AS cand
                FROM sym s JOIN d1 d ON s.u = d.node
                WHERE d.dist IS NOT NULL GROUP BY 1),
         d2 AS (SELECT d.node,
                       CASE WHEN d.dist IS NULL THEN u.cand
                            WHEN u.cand IS NULL THEN d.dist
                            ELSE LEAST(d.dist, u.cand) END AS dist
                FROM d1 d LEFT JOIN u2 u ON d.node = u.node),
         u3 AS (SELECT s.v AS node, MIN(d.dist + s.w) AS cand
                FROM sym s JOIN d2 d ON s.u = d.node
                WHERE d.dist IS NOT NULL GROUP BY 1),
         d3 AS (SELECT d.node,
                       CASE WHEN d.dist IS NULL THEN u.cand
                            WHEN u.cand IS NULL THEN d.dist
                            ELSE LEAST(d.dist, u.cand) END AS dist
                FROM d2 d LEFT JOIN u3 u ON d.node = u.node)
         SELECT node, dist FROM d3 WHERE dist IS NOT NULL
         ORDER BY node""",

    "g09_kcore" ->
      s"""$prelude,
         sym0 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v
                  FROM e),
         d1 AS (SELECT u AS node, COUNT(*) AS deg FROM sym0 GROUP BY 1),
         k1 AS (SELECT node FROM d1 WHERE deg >= 3),
         s1 AS (SELECT s.u, s.v FROM sym0 s
                JOIN k1 a ON s.u = a.node JOIN k1 b ON s.v = b.node),
         d2 AS (SELECT u AS node, COUNT(*) AS deg FROM s1 GROUP BY 1),
         k2 AS (SELECT node FROM d2 WHERE deg >= 3),
         s2 AS (SELECT s.u, s.v FROM s1 s
                JOIN k2 a ON s.u = a.node JOIN k2 b ON s.v = b.node),
         d3 AS (SELECT u AS node, COUNT(*) AS deg FROM s2 GROUP BY 1),
         k3 AS (SELECT node FROM d3 WHERE deg >= 3),
         s3 AS (SELECT s.u, s.v FROM s2 s
                JOIN k3 a ON s.u = a.node JOIN k3 b ON s.v = b.node),
         d4 AS (SELECT u AS node, COUNT(*) AS deg FROM s3 GROUP BY 1)
         SELECT node, deg FROM d4 ORDER BY node""",

    // naive triple join: e is canonical (u < v) so each triangle
    // x<y<z appears exactly once; orientation-invariant counts
    "g08_clustering_coeff" ->
      s"""$prelude,
         tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                 FROM e a JOIN e b ON a.v = b.u
                          JOIN e c ON c.u = a.u AND c.v = b.v),
         tn AS (SELECT node, COUNT(*) AS triangles
                FROM (SELECT unnest([x, y, z]) AS node FROM tri)
                GROUP BY node),
         sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         deg AS (SELECT u AS node, COUNT(*) AS degree
                 FROM sym GROUP BY u)
         SELECT d.node, d.degree,
                CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
                CASE WHEN d.degree >= 2 THEN
                  round(2.0 * CAST(COALESCE(t.triangles, 0) AS DOUBLE)
                    / (CAST(d.degree AS DOUBLE)
                       * CAST(d.degree - 1 AS DOUBLE)), 7)
                END AS coeff
         FROM deg d LEFT JOIN tn t ON d.node = t.node
         ORDER BY d.node""",

    "g03_triangles" ->
      s"""$prelude,
         tri AS (SELECT a.u AS x, a.v AS y, b.v AS z
                 FROM e a JOIN e b ON a.v = b.u
                          JOIN e c ON c.u = a.u AND c.v = b.v),
         n AS (SELECT unnest([x, y, z]) AS node FROM tri)
         SELECT node, COUNT(*) AS triangles FROM n
         GROUP BY node ORDER BY node""",

    // BFS unrolled to 2 levels over the symmetrized edges; seeds
    // appear at hops 0 even when isolated
    "g04_khop_reach" ->
      s"""$prelude,
         sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         seeds AS (SELECT DISTINCT user_id AS node FROM events
                   WHERE user_id % 37 = 0),
         h1 AS (SELECT DISTINCT s.v AS node
                FROM sym s JOIN seeds sd ON s.u = sd.node
                WHERE s.v NOT IN (SELECT node FROM seeds)),
         h2 AS (SELECT DISTINCT s.v AS node
                FROM sym s JOIN h1 ON s.u = h1.node
                WHERE s.v NOT IN (SELECT node FROM seeds)
                  AND s.v NOT IN (SELECT node FROM h1))
         SELECT node, 0 AS hops FROM seeds
         UNION ALL SELECT node, 1 AS hops FROM h1
         UNION ALL SELECT node, 2 AS hops FROM h2
         ORDER BY hops, node"""
  )
}
