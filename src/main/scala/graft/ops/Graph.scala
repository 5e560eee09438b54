package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.storage.StorageLevel

/** Entity-graph analytics over the transaction stream: the reference's
  * fraud-pattern lens (`FD/evaluation.py:150-179` surfaces top fraud
  * locations/devices; `FD/producer.py:72` makes device/location the
  * shared attributes fraudulent users collide on) generalized to the
  * standard fraud-ring toolkit — project a user↔attribute bipartite
  * graph onto user–user edges, then ask reachability (how far does a
  * known-bad seed's neighborhood extend), centrality (PageRank), and
  * local density (triangles) questions on it.
  *
  * Scale stance: every step is an equi-join/aggregate on node or edge
  * keys — no windows, no cartesian products. The two quadratic traps
  * of graph building (super-node attributes) and triangle listing
  * (high-degree wedge centers) get the same treatment the LSH layer
  * gives giant buckets: an explicit degree cap and degree-ordered
  * orientation respectively.
  */
object Graph {

  /** User–user edges via shared attributes (bipartite projection).
    *
    * An attribute links two users when BOTH have at least `minEvents`
    * events carrying it — the association-strength threshold that
    * separates "same device ring" from "once passed through the same
    * ATM". Output is one row per unordered pair `(u < v)` with
    * `shared` = number of distinct linking attributes.
    *
    * Scale shape: events collapse to distinct qualified (user, attr)
    * pairs first (one hash agg keyed on the pair — map-side partials
    * absorb per-user event volume), so the projection self-join runs
    * on the collapsed pair list, shuffled by attr. A super-node
    * attribute shared by n users would emit n²/2 pairs inside one join
    * group — the key-group blowup AQE cannot split — so attributes
    * above `maxAttrUsers` are dropped outright (broadcast anti-join;
    * the hot list is ≤ pairs/maxAttrUsers keys by construction, and
    * production fraud graphs treat universal attributes — a default
    * device id, a null location — as noise, not signal).
    */
  def coAttributeEdges(df: DataFrame, userCol: String, attrCol: String,
                       minEvents: Int = 3,
                       maxAttrUsers: Int = 10000): DataFrame = {
    require(minEvents >= 1, s"minEvents must be >= 1, got $minEvents")
    require(maxAttrUsers >= 2, s"maxAttrUsers must be >= 2, got $maxAttrUsers")
    val pa = df
      .filter(col(userCol).isNotNull && col(attrCol).isNotNull)
      .groupBy(col(userCol).as("__u"), col(attrCol).as("__attr"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minEvents)
      .select(col("__u"), col("__attr"))
    val hot = pa.groupBy(col("__attr"))
      .agg(count(lit(1)).as("__nu"))
      .filter(col("__nu") > maxAttrUsers)
      .select(col("__attr"))
    val kept = pa.join(broadcast(hot), Seq("__attr"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.__attr") === col("b.__attr") && col("a.__u") < col("b.__u"))
      .groupBy(col("a.__u").as("u"), col("b.__u").as("v"))
      .agg(count(lit(1)).as("shared"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) on the BIPARTITE
    * user→attribute membership graph — the directed structure the
    * symmetric co-attribute projection throws away. Authorities are
    * the attributes (devices, locations — the props `k` analogue)
    * accumulating mass from strong hubs; hubs are the users spanning
    * strong attributes. On a fraud graph this is the "which shared
    * device is the ring's hub" question [[pageRank]]'s popularity
    * score does not answer, and unlike the co-attribute pairing it
    * never materializes a users-per-attr² term.
    *
    * Integer fixed-point, the g02 discipline: scores are BIGINTs
    * scaled by `scale`; each half-round is one join + hash agg, then a
    * MAX-rescale (`s·scale div max`) — floor divisions on nonnegative
    * integers, bit-identical across engines and partitionings, the
    * oracle unrolls every round. Max-rescale (not the L2 norm of the
    * textbook) keeps the iteration integer-exact; the fixed point is
    * the same dominant eigenvector direction, reported with max =
    * `scale`. Overflow: per-node sums ≤ deg·scale, rescale multiplies
    * by `scale` → deg·scale² must stay under 2⁶³ — deg ≤ 9·10⁶ at the
    * default scale, checked nowhere cheaper than the documented bound.
    *
    * `membership` rows are distinct (user, attr) memberships
    * (deduplicated defensively here — duplicate rows would double
    * edges).
    *
    * Output: `(kind, node, score)` — kind `auth` rows carry attribute
    * ids, kind `hub` rows user ids; both sides' max is `scale`.
    */
  def hitsBipartiteCached(membership: DataFrame, userCol: String,
                          attrCol: String, iters: Int = 3,
                          scale: Long = 1000000L): Cached = {
    require(iters >= 1 && iters <= 20, s"iters in [1,20], got $iters")
    require(scale >= 100L, s"scale must be >= 100, got $scale")
    val mDf = membership
      .filter(col(userCol).isNotNull && col(attrCol).isNotNull)
      .select(col(userCol).cast("long").as("__mu"),
        col(attrCol).cast("long").as("__ma"))
      .distinct()
    // r13: the iteration is pure Long algebra (sums, max, floor div —
    // no rounding surface), so inside the bounded collect it runs on
    // the driver: the distributed loop cost 6 half-rounds × (persist +
    // count + max broadcast + localCheckpoint) of pure job overhead on
    // an edge list that fits in memory. Past the bound the pre-r13
    // loop below is the 100-TB path. HitsSpec fixtures + the g13
    // oracle pin value equality.
    Layout.gateCached(mDf)(rows =>
        Some(hitsLocal(membership.sparkSession, rows, iters, scale))) { src =>
      val m = src.persist(StorageLevel.MEMORY_AND_DISK)
      m.count() // eager: every half-round joins it
      // Overflow guard (documented bound, now CHECKED): a half-round sum
      // is ≤ deg·scale and the rescale multiplies by scale, so
      // deg·scale² must stay under 2⁶³. The oracle computes in HUGEINT
      // and would silently succeed past the bound — fail loudly and
      // identically on both sides instead. One cheap aggregation on the
      // already-persisted membership frame.
      val maxDeg = m.groupBy(col("__mu")).agg(count(lit(1)).as("__d"))
        .select(col("__d"))
        .unionAll(m.groupBy(col("__ma")).agg(count(lit(1)).as("__d"))
          .select(col("__d")))
        .agg(max(col("__d")).as("__mx"))
        .first() match {
          case r if r.isNullAt(0) => 0L // empty graph: nothing to overflow
          case r => r.getLong(0)
        }
      val degBound = Long.MaxValue / scale / scale
      require(maxDeg <= degBound,
        s"hitsBipartite: max degree $maxDeg exceeds overflow bound " +
          s"$degBound for scale=$scale (deg*scale^2 must stay < 2^63); " +
          "lower `scale` or pre-aggregate the membership frame")
      val backing: List[DataFrame] = List(m)
      def rescale(df: DataFrame, keyCol: String, sCol: String): DataFrame = {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count() // eager: the max subtree broadcasts CONCURRENTLY with
                  // the rescale scan — lazy persist would race and
                  // rematerialize the half-round (the g09 lesson)
        val mx = p.agg(max(col(sCol)).as("__mx"))
        // Checkpoints.cut, NOT just persist: the crossJoin reads p twice
        // (max subtree + rescale scan), so without truncating the
        // LOGICAL plan each half-round doubles the analysis tree —
        // 2^(2·iters) copies of the qualification subtree by the final
        // action (measured: 17 s of planning at sf0.1). The cut is
        // eager, so p's blocks free immediately after.
        val out = Checkpoints.cut(p.crossJoin(broadcast(mx))
          .selectExpr(keyCol,
            s"($sCol * CAST($scale AS BIGINT)) div __mx AS score"))
        p.unpersist(blocking = false)
        out
      }
      var hubs = m.select(col("__mu").as("node")).distinct()
        .withColumn("score", lit(scale))
      var auths: DataFrame = null
      for (_ <- 1 to iters) {
        val aRaw = m.join(hubs.withColumnRenamed("node", "__mu"), Seq("__mu"))
          .groupBy(col("__ma").as("node")).agg(sum(col("score")).as("__s"))
        auths = rescale(aRaw, "node", "__s")
        val hRaw = m.join(auths.withColumnRenamed("node", "__ma"), Seq("__ma"))
          .groupBy(col("__mu").as("node")).agg(sum(col("score")).as("__s"))
        hubs = rescale(hRaw, "node", "__s")
      }
      val out = auths.select(lit("auth").as("kind"), col("node"),
          col("score"))
        .unionByName(hubs.select(lit("hub").as("kind"), col("node"),
          col("score")))
        .orderBy(col("kind"), col("node"))
      Cached(out, backing)
    }
  }

  def hitsBipartite(membership: DataFrame, userCol: String,
                    attrCol: String, iters: Int = 3,
                    scale: Long = 1000000L): DataFrame =
    hitsBipartiteCached(membership, userCol, attrCol, iters, scale).df

  /** The HITS loop over collected (user, attr) membership rows —
    * value-for-value the distributed half-rounds (Σ neighbor score,
    * then `s·scale div max`, all nonnegative Long ops under the same
    * deg·scale² < 2⁶³ guard). Output ordered (kind, node) like the
    * frame path.
    */
  private def hitsLocal(spark: org.apache.spark.sql.SparkSession,
                        rows: Array[org.apache.spark.sql.Row],
                        iters: Int, scale: Long): DataFrame = {
    import scala.collection.mutable
    val edges = rows.map(r => (r.getLong(0), r.getLong(1)))
    // overflow guard at the documented bound (deg·scale² < 2⁶³)
    val degU = mutable.LongMap.empty[Long]
    val degA = mutable.LongMap.empty[Long]
    edges.foreach { case (u, a) =>
      degU(u) = degU.getOrElse(u, 0L) + 1L
      degA(a) = degA.getOrElse(a, 0L) + 1L
    }
    var maxDeg = 0L
    degU.foreachValue(d => if (d > maxDeg) maxDeg = d)
    degA.foreachValue(d => if (d > maxDeg) maxDeg = d)
    val degBound = Long.MaxValue / scale / scale
    require(maxDeg <= degBound,
      s"hitsBipartite: max degree $maxDeg exceeds overflow bound " +
        s"$degBound for scale=$scale (deg*scale^2 must stay < 2^63); " +
        "lower `scale` or pre-aggregate the membership frame")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("kind", StringType),
      StructField("node", LongType), StructField("score", LongType)))
    if (edges.isEmpty) // empty graph: zero rows, like the frame path
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema)
    def rescale(s: mutable.LongMap[Long]): Unit = {
      var mx = 0L
      s.foreachValue(v => if (v > mx) mx = v)
      s.mapValuesInPlace((_, v) => v * scale / mx)
    }
    var hubs = mutable.LongMap.empty[Long]
    degU.foreachKey(u => hubs(u) = scale)
    var auths = mutable.LongMap.empty[Long]
    var it = 0
    while (it < iters) {
      val aRaw = mutable.LongMap.empty[Long]
      edges.foreach { case (u, a) =>
        hubs.get(u).foreach(s => aRaw(a) = aRaw.getOrElse(a, 0L) + s)
      }
      rescale(aRaw); auths = aRaw
      val hRaw = mutable.LongMap.empty[Long]
      edges.foreach { case (u, a) =>
        auths.get(a).foreach(s => hRaw(u) = hRaw.getOrElse(u, 0L) + s)
      }
      rescale(hRaw); hubs = hRaw
      it += 1
    }
    val out =
      auths.toArray.sortBy(_._1).map { case (n, s) =>
        org.apache.spark.sql.Row("auth", n, s) } ++
      hubs.toArray.sortBy(_._1).map { case (n, s) =>
        org.apache.spark.sql.Row("hub", n, s) }
    spark.createDataFrame(java.util.Arrays.asList(out.toIndexedSeq: _*),
      schema)
  }

  /** Both directions of a canonical `(u, v)` edge list. Input rows are
    * distinct unordered pairs, so the union is already duplicate-free.
    */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))

  /** Degree ASSORTATIVITY (Newman, "Assortative mixing in networks",
    * PRL 2002): the Pearson correlation of endpoint degrees over every
    * directed edge of the symmetrized graph — positive when hubs link
    * hubs (social graphs), negative when hubs link leaves (fraud
    * rings' star shapes, router topologies). The one-number structure
    * screen that decides whether degree-capped blocking
    * ([[coAttributeEdges]]' maxAttrUsers) will bite.
    *
    * Exactness: degrees are integer counts, the five moment sums
    * accumulate as DECIMAL(38,0) (the [[Anomaly]] discipline), and the
    * final correlation is one fixed-order double chain, 7dp-rounded —
    * hash-exact under the oracle. Degenerate graphs (constant degree,
    * e.g. a perfect ring) have zero variance and yield null.
    *
    * Scale shape: one grouped degree count + two shuffle joins of the
    * edge list against the (node, degree) table, then a single global
    * 6-sum aggregate — map-side combined, no windows, no driver math.
    *
    * Output (one row): `n_endpoints` (= 2·|edges|), `assortativity`.
    */
  def assortativity(edges: DataFrame): DataFrame =
    assortativityImpl(edges, persist = false).df

  /** [[assortativity]] with the symmetrized edge list and degree table
    * persisted (sym feeds the degree count AND the pair join; deg joins
    * twice) and handed back for release — the form the bench queries
    * run. The plain form is unhinted: leak-free, at the cost of
    * re-deriving the edge list per consumer subtree.
    */
  def assortativityCached(edges: DataFrame): Cached =
    assortativityImpl(edges, persist = true)

  private def assortativityImpl(edges: DataFrame,
                                persist: Boolean): Cached = {
    // r14 driver gate — [[Local.assortativity]]; the moment-sum
    // pipeline below is the past-bound fallback on the pinned collect
    Layout.gateCached(edges.select(col("u"), col("v")))(rows =>
        Some(Local.assortativity(edges.sparkSession, rows))) { src =>
      def pin(d: DataFrame): DataFrame =
        if (persist) d.persist(StorageLevel.MEMORY_AND_DISK) else d
      val sym = pin(symmetrize(src))
      val deg = pin(sym.groupBy(col("u")).agg(count(lit(1)).as("__d")))
      val pairs = sym
        .join(deg.select(col("u"), col("__d").as("__dx")), Seq("u"))
        .join(deg.select(col("u").as("v"), col("__d").as("__dy")), Seq("v"))
        .select(lit(1).as("__all"), col("__dx"), col("__dy"))
      // one canonical spelling of the moment→covariance chain
      // (Anomaly.stats2) — the oracle mirrors it term for term
      val out = Anomaly.stats2(pairs, "__all", "__dx", "__dy")
        .select(col("__n").as("n_endpoints"),
          when(col("__vx") > 0.0 && col("__vy") > 0.0,
            round(col("__cxy") / sqrt(col("__vx") * col("__vy")), 7))
            .as("assortativity"))
      Cached(out, if (persist) Seq(sym, deg) else Seq.empty)
    }
  }

  /** Minimum-hop distance from a seed set, bounded at `maxHops` —
    * "every account within k hops of a confirmed-fraud account", the
    * blocklist-expansion query.
    *
    * Pregel-shaped BFS: per level, the frontier (nodes first reached
    * last level) joins the edge list once, and discovered neighbors
    * anti-join the visited set. Work per level is O(frontier-adjacent
    * edges), not O(graph); each level's frontier is cut from lineage
    * via [[Checkpoints.cut]], and the convergence probe is a head(1) scan
    * of that already-materialized checkpoint (the connectedComponents
    * discipline — no extra count job per level). The visited set is a
    * union of ≤ maxHops checkpointed levels, so the anti-join's build
    * side never re-derives upstream plan.
    *
    * `seeds` needs a `node` column; output is (node, hops) with hops 0
    * for seeds. Seeds missing from the edge list still appear (hops 0,
    * isolated).
    */
  def khopReach(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // r14 driver gate — [[Local]] doc; frontier BFS over the collected
    // adjacency (the levels are checkpoint-cut, so the gate may release
    // its pin on return)
    Layout.gate(edges.select(col("u"), col("v")))(rows =>
      collectSeeds(seeds).map(Local.khop(edges.sparkSession, rows, _,
        maxHops))) { src =>
      val sym = symmetrize(src).persist(StorageLevel.MEMORY_AND_DISK)
      var visited = Checkpoints.cut(
        seeds.select(col("node")).distinct()
          .withColumn("hops", lit(0)))
      var frontier = visited
      var h = 0
      var done = maxHops == 0
      while (!done) {
        h += 1
        val next = Checkpoints.cut(
          frontier.select(col("node").as("u"))
            .join(sym, Seq("u"))
            .select(col("v").as("node"))
            .distinct()
            .join(visited, Seq("node"), "left_anti")
            .withColumn("hops", lit(h)))
        if (next.head(1).isEmpty) done = true
        else {
          visited = visited.union(next)
          frontier = next
          done = h >= maxHops
        }
      }
      sym.unpersist(blocking = false)
      visited
    }
  }

  /** Fixed-iteration PageRank in integer fixed-point arithmetic.
    *
    * Ranks are BIGINTs scaled by `scale` (default 10⁶: rank 1.0 =
    * 1 000 000); each iteration is the textbook update
    * r'(v) = (1-d)/1 + d·Σ_{u~v} r(u)/deg(u) with every division a
    * floor division on positive integers — bit-identical across
    * engines and partitionings, unlike a floating-point PageRank whose
    * sum order drifts. Mass lost to flooring (< deg per node per
    * iteration) biases all ranks identically and is the price of
    * determinism. Overflow headroom: per-node incoming sums are
    * bounded by total mass = N·scale, so BIGINT holds to N ≈ 9·10¹²
    * nodes at the default scale.
    *
    * Plan shape per iteration: one node-keyed join (rank ÷ degree),
    * one edge-keyed join + hash agg (incoming mass), one left join
    * (re-attach isolated-in-degree nodes) — all equi-joins on the
    * same key spaces, no windows. Degrees and the symmetrized edge
    * list persist once across iterations; lineage is cut every
    * `checkpointEvery` iterations so deep runs don't tower the plan.
    * Undirected interpretation (edges symmetrized), so every node has
    * outdegree ≥ 1 and there is no dangling-mass term.
    */
  def pageRankCached(edges: DataFrame, iters: Int = 3,
                     scale: Long = 1000000L, dampPct: Int = 85,
                     checkpointEvery: Int = 5): Cached = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct in [0,100], got $dampPct")
    require(scale >= 100L, s"scale must be >= 100, got $scale")
    // r14 driver gate (the g13/HITS engine, [[Local]] doc): bounded
    // edge list → the integer rounds run as driver algebra; past the
    // bound the loop below is unchanged, reading the already-pinned
    // collect fallback. The op is key-generic (t24 runs it on string
    // tokens), so string keys go through a driver dictionary — the
    // algebra itself is key-blind.
    val eSel = edges.select(col("u"), col("v"))
    val uvStr = eSel.schema.forall(_.dataType == StringType)
    Layout.gateCached(eSel, ts => Layout.allBigint(ts) || uvStr)(rows =>
      Some(
        if (uvStr) Local.pageRankStr(edges.sparkSession, rows, iters,
          scale, dampPct)
        else Local.pageRank(edges.sparkSession, rows, None, iters, scale,
          dampPct))) { src =>
      val sym = symmetrize(src).persist(StorageLevel.MEMORY_AND_DISK)
      val deg = sym.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val base = scale * (100 - dampPct) / 100
      var ranks = deg.select(col("node")).withColumn("rank", lit(scale))
      for (i <- 1 to iters) {
        val contribs = ranks.join(deg, Seq("node"))
          .selectExpr("node AS u", "rank div deg AS c")
        val incoming = sym.join(contribs, Seq("u"))
          .groupBy(col("v").as("node"))
          .agg(sum(col("c")).as("s"))
        ranks = deg.select(col("node"))
          .join(incoming, Seq("node"), "left")
          .selectExpr("node",
            s"CAST($base AS BIGINT) + " +
              s"($dampPct * coalesce(s, CAST(0 AS BIGINT))) div 100 AS rank")
        if (i % checkpointEvery == 0 && i < iters)
          ranks = Checkpoints.cut(ranks)
      }
      Cached(ranks, Seq(sym, deg))
    }
  }

  def pageRank(edges: DataFrame, iters: Int = 3, scale: Long = 1000000L,
               dampPct: Int = 85): DataFrame =
    pageRankCached(edges, iters, scale, dampPct).df

  /** The seeds' own driver gate: Some(values) iff the distinct `node`
    * column is BIGINT, null-free (a null node row has frame semantics
    * of its own) and inside the bound. A refused collect's pin is
    * released on the spot; seed frames are node-bounded, so that path
    * is theoretical.
    */
  private def collectSeeds(seeds: DataFrame): Option[Array[Long]] =
    Layout.gateRows(seeds.select(col("node")).distinct())
      .map(_.map(_.getLong(0)))

  /** PERSONALIZED PageRank: restart mass returns only to the `seeds`
    * set (known-fraud accounts), so rank measures proximity to the
    * seeds through the co-attribute graph — the "guilt by
    * association" score ring investigations actually want, where
    * global [[pageRank]] measures popularity. Same integer
    * fixed-point contract (BIGINT ranks scaled by `scale`, floor
    * divisions on non-negative values, bit-identical across engines
    * and partitionings — the g05 oracle unrolls the iterations as
    * chained CTEs exactly like g02):
    *
    *   r₀(v)   = scale·[v ∈ S]
    *   rᵢ₊₁(v) = [v ∈ S]·base + d·Σ_{u~v} rᵢ(u) div deg(u)
    *
    * Nodes unreachable from any seed stay at exactly 0 — no
    * smoothing floor, absence of association is itself signal. Seeds
    * outside the edge set are ignored (they have no edges to carry
    * mass; the node universe is the graph's, matching [[pageRank]]).
    * `seeds` must expose a `node` column. Plan shape per iteration is
    * identical to [[pageRankCached]]; the seed flag rides the
    * persisted node frame, adding no join.
    */
  def personalizedPageRankCached(edges: DataFrame, seeds: DataFrame,
                                 iters: Int = 3, scale: Long = 1000000L,
                                 dampPct: Int = 85,
                                 checkpointEvery: Int = 5): Cached = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct in [0,100], got $dampPct")
    require(scale >= 100L, s"scale must be >= 100, got $scale")
    // r14 driver gate — [[Local]] doc; identical update with the seed
    // indicator deciding the restart term
    Layout.gateCached(edges.select(col("u"), col("v")))(rows =>
      collectSeeds(seeds).map(ss => Local.pageRank(edges.sparkSession,
        rows, Some(ss), iters, scale, dampPct))) { src =>
      val sym = symmetrize(src).persist(StorageLevel.MEMORY_AND_DISK)
      val deg = sym.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
      val nodes = deg
        .join(seeds.select(col("node")).distinct()
          .withColumn("is_seed", lit(1L)), Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("is_seed"), lit(0L)).as("is_seed"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val base = scale * (100 - dampPct) / 100
      var ranks = nodes.select(col("node"),
        (col("is_seed") * scale).as("rank"))
      for (i <- 1 to iters) {
        val contribs = ranks.join(nodes.select(col("node"), col("deg")),
            Seq("node"))
          .selectExpr("node AS u", "rank div deg AS c")
        val incoming = sym.join(contribs, Seq("u"))
          .groupBy(col("v").as("node"))
          .agg(sum(col("c")).as("s"))
        ranks = nodes.select(col("node"), col("is_seed"))
          .join(incoming, Seq("node"), "left")
          .selectExpr("node",
            s"is_seed * CAST($base AS BIGINT) + " +
              s"($dampPct * coalesce(s, CAST(0 AS BIGINT))) div 100 AS rank")
        if (i % checkpointEvery == 0 && i < iters)
          ranks = Checkpoints.cut(ranks)
      }
      Cached(ranks, Seq(sym, nodes))
    }
  }

  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 3, scale: Long = 1000000L,
                           dampPct: Int = 85): DataFrame =
    personalizedPageRankCached(edges, seeds, iters, scale, dampPct).df

  /** Common-neighbor link prediction — "which accounts will the ring
    * connect next": every NON-adjacent pair at distance 2 scored by
    * shared-neighbor count and neighbor-set Jaccard
    * (cn / (deg(a) + deg(b) − cn)), top-k by (cn desc, a, b).
    *
    * Wedge generation is one middle-node equi-join of the symmetrized
    * edge list; wedge volume is Σ_m deg(m)², so MIDDLE nodes above
    * `maxMiddleDegree` are excluded — the hub-discount of
    * Adamic-Adar taken to its scale conclusion: a shared celebrity
    * hub carries almost no linkage signal (everyone shares it) while
    * contributing deg² wedges, so past the cap it is dropped rather
    * than down-weighted (the [[coAttributeEdges]] `maxAttrUsers`
    * stance, one level up). Existing edges leave via an anti-join on
    * the canonical u<v list, degrees attach by two node-keyed joins,
    * and the top-k is TakeOrdered (per-partition heaps). `edges` must
    * be canonical (u < v) as [[coAttributeEdges]] emits. All integers
    * plus one exact division — the g06 oracle replays every stage
    * including the cap.
    */
  def linkPrediction(edges: DataFrame, k: Int = 20,
                     maxMiddleDegree: Int = Int.MaxValue): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxMiddleDegree >= 1, "maxMiddleDegree must be >= 1")
    // r14 driver gate — [[Local.linkPrediction]]; the join pipeline
    // below is the past-bound fallback, reading the pinned collect
    // lazily — so the pin rides a Cached handle that is never released
    // here and lives until the session's clearCache (the [[kCore]]
    // convention)
    Layout.gateCached(edges.select(col("u"), col("v")))(rows =>
        Some(Local.linkPrediction(edges.sparkSession, rows, k,
          maxMiddleDegree))) { src =>
      val symAll = symmetrize(src)
      val degAll = symAll.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
      val okMiddles = degAll.filter(col("deg") <= maxMiddleDegree)
        .select(col("node").as("m0"))
      val sym = symAll.join(okMiddles, col("u") === col("m0"), "left_semi")
      val s1 = sym.select(col("u").as("m"), col("v").as("a"))
      val s2 = sym.select(col("u").as("m2"), col("v").as("b"))
      val cand = s1.join(s2, col("m") === col("m2") && col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
      val nonAdj = cand.join(
        src.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      // Jaccard denominators use TRUE degrees (hub neighbors still count
      // toward |N(a) ∪ N(b)|; only the WEDGE role of hubs is capped)
      Cached(nonAdj
        .join(degAll.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(degAll.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(col("a"), col("b"), col("cn"),
          (col("cn").cast("double")
            / (col("da") + col("db") - col("cn")).cast("double"))
            .as("jaccard"))
        .orderBy(col("cn").desc, col("a"), col("b")).limit(k), Seq.empty)
    }.df
  }

  /** Per-node triangle membership counts — the local-density signal
    * (collusion rings are near-cliques; a bridge account that merely
    * connects rings sits in few triangles).
    *
    * Degree-ordered orientation: each undirected edge points from its
    * lower (degree, id) endpoint to the higher, so every triangle
    * {x, y, z} survives as exactly one directed wedge x→y→z closed by
    * x→z, and wedge fan-out per node is bounded by its ORIENTED
    * out-degree — O(√m) on any graph — instead of its raw degree.
    * That is the difference between a celebrity hub exploding into
    * deg²/2 wedge candidates on one reducer and the same hub
    * contributing almost nothing (high-degree nodes sink edges, they
    * don't source them). Counts are orientation-invariant, so an
    * oracle can verify with the naive u<v<w triple join.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsCached(edges).df

  def triangleCountsCached(edges: DataFrame): Cached = {
    // r14 driver gate — [[Local.triangles]]; the frame pipeline below
    // is the past-bound fallback, reading the pinned collect
    Layout.gateCached(edges.select(col("u"), col("v")))(rows =>
        Some(Local.triangles(edges.sparkSession, rows))) { src =>
      val deg = symmetrize(src).groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
      val withDeg = src
        .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      val oriented = withDeg.select(
          when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("a"), col("v").as("b")))
            .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val wedges = oriented.as("x")
        .join(oriented.select(col("a").as("b"), col("b").as("c")).as("y"),
          Seq("b"))
      val tris = wedges.join(oriented.select(col("a"), col("b").as("c")),
          Seq("a", "c"), "left_semi")
        .select(col("a"), col("b"), col("c"))
      val counts = tris
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("triangles"))
      // the oriented list backs both wedge sides of the self-join;
      // release after the consuming action (recompute-safe if early)
      Cached(counts, Seq(oriented))
    }
  }

  /** Local clustering coefficient per node: 2·triangles/(d(d−1)) over
    * the symmetrized degree, null below degree 2 — the g08 body,
    * hoisted from the query layer in r14 so the ONE driver gate covers
    * the whole composition (gating only [[triangleCountsCached]]
    * regressed g08: the LocalRelation triangle table still left the
    * degree aggregate and the right join as separate distributed jobs,
    * and the extra collect actions cost more than the wedge join they
    * replaced — measured 6.2 → 8.8 canary-normalized at sf0.1).
    */
  def clusteringCoeff(edges: DataFrame): DataFrame =
    clusteringCoeffCached(edges).df

  def clusteringCoeffCached(edges: DataFrame): Cached = {
    // r14 driver gate — [[Local.clusteringCoeff]]; past the bound the
    // original query-layer composition runs unchanged on the pinned
    // collect
    Layout.gateCached(edges.select(col("u"), col("v")))(rows =>
        Some(Local.clusteringCoeff(edges.sparkSession, rows))) { src =>
      val e = src.persist(StorageLevel.MEMORY_AND_DISK)
      val deg = symmetrize(e)
        .groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
      val tc = triangleCountsCached(e)
      val out = tc.df
        .join(deg, Seq("node"), "right")
        .select(col("node"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("triangles"),
          when(col("degree") >= 2,
            round(lit(2.0) * coalesce(col("triangles"), lit(0L))
              .cast("double") /
              (col("degree").cast("double") *
                (col("degree") - 1).cast("double")), 7)).as("coeff"))
      Cached(out, Seq(e) ++ tc.backing)
    }
  }

  /** k-CORE decomposition, fixed-iteration form: `iters` synchronous
    * peels of every node whose current degree is below `k` — the
    * standard "dense ring extraction" pass a fraud or community
    * pipeline runs before expensive per-ring analytics (a fraud ring
    * is a dense near-clique; the periphery of incidental co-attribute
    * collisions peels away). After enough iterations this converges to
    * the classic k-core; the iteration count is part of the contract
    * (like [[pageRank]]'s) so the oracle can unroll the peels as
    * chained CTEs and match bit-for-bit — integer degrees only, no
    * floating point anywhere.
    *
    * Returns (node, deg): every node still carrying an edge after the
    * last peel, with its degree in the surviving subgraph. Per
    * iteration the plan is one degree aggregate plus two semi-joins of
    * the edge list against the (shrinking, usually broadcast-able
    * under AQE) kept-node frame — no all-pairs anything; lineage is
    * cut every `checkpointEvery` rounds ([[Checkpoints.cut]]) so
    * iteration i does not re-derive 1..i−1.
    */
  def kCoreCached(edges: DataFrame, k: Int, iters: Int,
                  checkpointEvery: Int = 5): Cached = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // r14 driver gate — [[Local]] doc; synchronous peels over the
    // collected edge array
    Layout.gateCached(edges.select(col("u"), col("v")))(rows =>
        Some(Local.kCore(edges.sparkSession, rows, k, iters))) { src =>
      val sym0 = symmetrize(src).persist(StorageLevel.MEMORY_AND_DISK)
      var sym = sym0
      // every level fans out (keep feeds TWO semi-joins; sym feeds the
      // degree agg AND the filtered edge set), so an unpersisted loop
      // recomputes level i−1 three times per level — ~3^iters total
      // (measured: g09 11.3 s at sf0.1). Lazy persists are NOT enough:
      // the two semi-joins plan as broadcast subtrees whose exchanges
      // execute as concurrent jobs that RACE to materialize a lazily
      // cached keep (the e01 lesson) — measured 5.4 s. Each level's keep
      // therefore goes through materializeBounded (eager count → the
      // node list lands in a LocalRelation both joins read for free, and
      // the count itself populates the previous sym's cache before any
      // concurrent consumer sees it); the surviving edge set persists
      // for the next level.
      val backing = scala.collection.mutable.ArrayBuffer[DataFrame](sym0)
      for (i <- 1 to iters) {
        val keep = Layout.materializeBounded(
          sym.groupBy(col("u").as("node"))
            .agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k)
            .select(col("node")))
        // materializeBounded's >maxRows fallback returns the PERSISTED
        // frame (not a LocalRelation); track it so release() can unpin
        // it — otherwise one node-cardinality cache entry leaks per peel
        // exactly at the large-graph scale this op targets
        if (keep.storageLevel != StorageLevel.NONE) backing += keep
        sym = sym
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .persist(StorageLevel.MEMORY_AND_DISK)
        backing += sym
        if (i % checkpointEvery == 0 && i < iters) sym = Checkpoints.cut(sym)
      }
      val out = sym.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
      Cached(out, backing.toSeq)
    }
  }

  /** One-shot-session convenience over [[kCoreCached]] (the
    * [[minhashNearDups]] convention): the per-level persisted frames
    * live until `clearCache()`/session end — long-lived callers use
    * [[kCoreCached]] and `.release()`.
    */
  def kCore(edges: DataFrame, k: Int, iters: Int): DataFrame =
    kCoreCached(edges, k, iters).df

  /** Multi-class LABEL SPREADING, integer fixed-point — the
    * semi-supervised step after the structural ops: known account
    * labels (fraud typologies, risk tiers) diffuse through the
    * co-attribute graph and every reached node takes the argmax-mass
    * label. Mechanically this is [[personalizedPageRank]] run once per
    * class, but the class masses ride as PARALLEL COLUMNS of one rank
    * frame, so k classes cost exactly one edge join per iteration, not
    * k. Same integer fixed-point contract (BIGINT masses scaled by
    * `scale`, floor divisions on non-negatives, bit-identical across
    * engines; the oracle unrolls iterations as chained CTEs with one
    * sum per class):
    *
    *   m⁰_c(v)   = scale·[seed(v) = c]
    *   mⁱ⁺¹_c(v) = [seed(v)=c]·base + d·Σ_{u~v} mⁱ_c(u) div deg(u)
    *
    * `seeds` must expose (node, cls) with cls in [0, numClasses);
    * conflicting seed rows resolve to the smallest class. Seeds
    * outside the edge set are ignored (the [[personalizedPageRank]]
    * stance). Output: (node, m0..m{k−1}, label) — label = smallest
    * class index attaining the max mass, null when no mass reached
    * the node.
    */
  def labelSpreadCached(edges: DataFrame, seeds: DataFrame,
                        numClasses: Int, iters: Int = 2,
                        scale: Long = 1000000L, dampPct: Int = 85,
                        checkpointEvery: Int = 5): Cached = {
    require(numClasses >= 2 && numClasses <= 16,
      s"numClasses in [2,16], got $numClasses")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // r14 driver gate — [[Local]] doc; the k class masses ride as
    // per-node Long arrays. The seeds pass their own gate inside it
    // (BIGINT node, INT cls).
    Layout.gateCached(edges.select(col("u"), col("v")))(rows =>
      Layout.gateRows(seeds.select(col("node"), col("cls")),
          _ == Seq(LongType, IntegerType)).map(sr =>
        Local.labelSpread(edges.sparkSession, rows, sr, numClasses, iters,
          scale, dampPct))) { src =>
      val sym = symmetrize(src).persist(StorageLevel.MEMORY_AND_DISK)
      val deg = sym.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("deg"))
      val nodes = deg
        .join(seeds.groupBy(col("node"))
          .agg(min(col("cls")).as("cls")), Seq("node"), "left")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val base = scale * (100 - dampPct) / 100
      val ks = 0 until numClasses
      var ranks = nodes.select(
        (col("node") +: ks.map(c =>
          when(col("cls") === c, scale).otherwise(0L).as(s"m$c"))): _*)
      for (i <- 1 to iters) {
        val contribs = ranks
          .join(nodes.select(col("node"), col("deg")), Seq("node"))
          .selectExpr(("node AS u" +:
            ks.map(c => s"m$c div deg AS c$c")): _*)
        val incoming = sym.join(contribs, Seq("u"))
          .groupBy(col("v").as("node"))
          .agg(sum(col("c0")).as("s0"),
            ks.tail.map(c => sum(col(s"c$c")).as(s"s$c")): _*)
        ranks = nodes.select(col("node"), col("cls"))
          .join(incoming, Seq("node"), "left")
          .selectExpr(("node" +: ks.map(c =>
            s"CASE WHEN cls = $c THEN CAST($base AS BIGINT) " +
              s"ELSE CAST(0 AS BIGINT) END + " +
              s"($dampPct * coalesce(s$c, CAST(0 AS BIGINT))) div 100 " +
              s"AS m$c")): _*)
        if (i % checkpointEvery == 0 && i < iters)
          ranks = Checkpoints.cut(ranks)
      }
      // argmax with smallest-index ties: fold ascending, replace only on
      // a STRICTLY greater mass
      val (lblCol, _) = ks.tail.foldLeft((lit(0), col("m0"))) {
        case ((bi, bm), c) =>
          (when(col(s"m$c") > bm, lit(c)).otherwise(bi),
            greatest(bm, col(s"m$c")))
      }
      val allZero = ks.map(c => col(s"m$c") === 0L).reduce(_ && _)
      val out = ranks.withColumn("label",
        when(allZero, lit(null)).otherwise(lblCol).cast("int"))
      Cached(out, Seq(sym, nodes))
    }
  }

  def labelSpread(edges: DataFrame, seeds: DataFrame, numClasses: Int,
                  iters: Int = 2, scale: Long = 1000000L,
                  dampPct: Int = 85): DataFrame =
    labelSpreadCached(edges, seeds, numClasses, iters, scale, dampPct).df

  /** CONNECTED COMPONENTS, fixed-round min-label propagation with
    * pointer jumping — the partitioner every dedup/entity pipeline
    * needs ("which records belong to the same ring/cluster") and the
    * one structural query the family still lacked: [[kCoreCached]]
    * finds the dense part, this names the parts.
    *
    * Each round is (a) a PROPAGATE step — every node takes the min of
    * its own label and its neighbors' labels (one edge join + min
    * aggregate + left join, the [[pageRankCached]] plan shape) — then
    * (b) a POINTER-JUMP step — every node replaces its label by its
    * label's label (one node-keyed self-join of the label frame).
    * Plain propagation needs diameter rounds to converge — a 100-TB
    * chain-shaped component would take thousands of passes — while
    * jumping doubles the reached distance per round (the
    * Shiloach-Vishkin / Kiveris-et-al "star contraction" idea in its
    * simplest form), so `rounds` ≥ log₂(diameter) suffices. Labels are
    * node ids and every step is integer min — bit-identical on any
    * engine, so the oracle unrolls the rounds as chained CTEs and the
    * round count is part of the contract (the [[pageRank]] stance).
    * The jump join is total: a label is always the id of some node in
    * the same component, and the label frame covers every node.
    *
    * Node universe = nodes carrying at least one edge (the [[pageRank]]
    * stance). Output (node, component); `component` = the component's
    * min node id once converged.
    */
  def connectedComponentsCached(edges: DataFrame, rounds: Int,
                                checkpointEvery: Int = 3): Cached = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // r14 driver gate — [[Local]] doc; min-label propagation + pointer
    // jump over the collected edge array
    Layout.gateCached(edges.select(col("u"), col("v")))(rows =>
        Some(Local.components(edges.sparkSession, rows, rounds))) { src =>
      val sym = symmetrize(src).persist(StorageLevel.MEMORY_AND_DISK)
      val nodes = sym.select(col("u").as("node")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the per-round label frames each feed TWO consumers (prop: the
      // edge join and the left join; the jump: both sides of the label
      // self-join), so an unmaterialized loop re-derives round i−1
      // several times per round — the kCore lesson (measured here:
      // 12.9 s → eager per-round materialization). materializeBounded's
      // >maxRows fallback returns a persisted frame; track it in
      // `backing` so release() unpins it (the r8 advice rule).
      val backing = scala.collection.mutable.ArrayBuffer[DataFrame](sym, nodes)
      var lbl = nodes.withColumn("lbl", col("node"))
      for (i <- 1 to rounds) {
        val nbrMin = sym
          .join(lbl.select(col("node").as("u"), col("lbl")), Seq("u"))
          .groupBy(col("v").as("node"))
          .agg(min(col("lbl")).as("nl"))
        val prop = Layout.materializeBounded(
          lbl.join(nbrMin, Seq("node"), "left")
            .select(col("node"),
              least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl")))
        if (prop.storageLevel != StorageLevel.NONE) backing += prop
        lbl = Layout.materializeBounded(
          prop.as("a")
            .join(prop.select(col("node").as("lbl"), col("lbl").as("l2"))
              .as("b"), Seq("lbl"))
            .select(col("node"), col("l2").as("lbl")))
        if (lbl.storageLevel != StorageLevel.NONE) backing += lbl
        if (i % checkpointEvery == 0 && i < rounds) lbl = Checkpoints.cut(lbl)
      }
      Cached(lbl.select(col("node"), col("lbl").as("component")),
        backing.toSeq)
    }
  }

  def connectedComponents(edges: DataFrame, rounds: Int): DataFrame =
    connectedComponentsCached(edges, rounds).df

  /** Weighted single-source(-set) shortest paths, fixed-round
    * Bellman-Ford — the cost-aware counterpart of [[khopReach]]: hops
    * treat a 3-events-shared device link and a 500-events-shared one
    * alike, while an investigation wants "cheapest association chain
    * to a known-bad account". Edge weight = `weightExpr` of the edge
    * row (integer; stronger association should map to LOWER cost).
    *
    * Per round, EVERY settled node relaxes its out-edges (one edge
    * join + min aggregate + left join — dense Bellman-Ford, the
    * [[pageRankCached]] plan shape; a frontier-delta form would touch
    * fewer edges late in convergence but makes the round semantics
    * state-dependent, and the full-relaxation round is what the oracle
    * can unroll as one CTE). `rounds` bounds path LENGTH (edges), so
    * after r rounds dist(v) = min cost over paths of ≤ r edges — a
    * meaningful quantity in itself ("cheapest association within 3
    * links"), converging to true shortest-path cost once r reaches the
    * weighted-path diameter. All-integer min-plus arithmetic:
    * bit-identical on any engine.
    *
    * Seeds outside the edge set are ignored ([[personalizedPageRank]]
    * stance). Output (node, dist): reached nodes only, dist 0 for
    * seeds.
    */
  def shortestPathsCached(edges: DataFrame, seeds: DataFrame,
                          weightExpr: org.apache.spark.sql.Column,
                          rounds: Int,
                          checkpointEvery: Int = 3): Cached = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val wEdges0 = edges.select(col("u"), col("v"),
      weightExpr.cast("bigint").as("w"))
    // r14 driver gate — [[Local]] doc; min-plus relaxations over the
    // collected weighted edge array (weights evaluated by the collect
    // job, so weightExpr still runs in Spark)
    Layout.gateCached(wEdges0)(rows => collectSeeds(seeds).map(
        Local.shortestPaths(edges.sparkSession, rows, _, rounds))) { wEdges =>
      val sym = wEdges.select(col("u"), col("v"), col("w"))
        .union(wEdges.select(col("v").as("u"), col("u").as("v"), col("w")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nodes = sym.select(col("u").as("node")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // each round's dist frame feeds BOTH the relaxation join and the
      // re-attach left join — eager per-round materialization, the
      // connectedComponents/kCore discipline
      val backing = scala.collection.mutable.ArrayBuffer[DataFrame](sym, nodes)
      var dist = nodes
        .join(seeds.select(col("node")).distinct().withColumn("__s", lit(1)),
          Seq("node"), "left")
        .select(col("node"),
          when(col("__s") === 1, lit(0L)).otherwise(lit(null)).cast("bigint")
            .as("dist"))
      for (i <- 1 to rounds) {
        val relaxed = sym
          .join(dist.filter(col("dist").isNotNull)
            .select(col("node").as("u"), col("dist")), Seq("u"))
          .groupBy(col("v").as("node"))
          .agg(min(col("dist") + col("w")).as("cand"))
        dist = Layout.materializeBounded(
          dist.join(relaxed, Seq("node"), "left")
            .select(col("node"),
              when(col("dist").isNull, col("cand"))
                .when(col("cand").isNull, col("dist"))
                .otherwise(least(col("dist"), col("cand"))).as("dist")))
        if (dist.storageLevel != StorageLevel.NONE) backing += dist
        if (i % checkpointEvery == 0 && i < rounds) dist = Checkpoints.cut(dist)
      }
      Cached(dist.filter(col("dist").isNotNull), backing.toSeq)
    }
  }

  def shortestPaths(edges: DataFrame, seeds: DataFrame,
                    weightExpr: org.apache.spark.sql.Column,
                    rounds: Int): DataFrame =
    shortestPathsCached(edges, seeds, weightExpr, rounds).df

  /** Driver-local EXACT replicas of the fixed-round iterative ops over
    * a COLLECTED edge list — the r13 HITS/Louvain engine (see
    * [[hitsBipartiteCached]], [[Community.Local]]) extended in r14 to
    * the rest of the g family: every op here is pure Long/Int algebra
    * (integer min/plus/floor-div — no rounding surface), so once the
    * canonical edge list passes the driver gate ([[Layout.gate]]: the
    * count+byte-budget guard), replaying the rounds through Spark jobs
    * is pure scheduling overhead (measured 3–6 s per query at sf0.1 on
    * a ≤10k-edge graph). Arithmetic that Spark would run under ANSI
    * overflow checks (sums, products) uses add/multiplyExact so local
    * and distributed fail identically at the same inputs. Each frame
    * twin remains the past-bound fallback — the 100-TB path.
    * GraphLocalSpec pins every op against its frame twin bit-for-bit
    * (the fallback forced via the collect byte-budget conf).
    */
  private[graft] object Local {
    import scala.collection.mutable
    import org.apache.spark.sql.{Row, SparkSession}
    import org.apache.spark.sql.types._

    private def pairs(rows: Array[Row]): Array[(Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1)))

    /** Unweighted symmetrized degrees: a canonical (u,v) edge adds 1 to
      * each endpoint, a self-loop 2 to its node (symmetrize unions both
      * directions, so `groupBy(u).count` over sym sees it twice).
      */
    private def symDegrees(es: Array[(Long, Long)])
        : mutable.LongMap[Long] = {
      val deg = mutable.LongMap.empty[Long]
      var i = 0
      while (i < es.length) {
        val (u, v) = es(i)
        deg(u) = deg.getOrElse(u, 0L) + 1L
        deg(v) = deg.getOrElse(v, 0L) + 1L
        i += 1
      }
      deg
    }

    private def frame(spark: SparkSession, rows: Seq[Row],
                      fields: (String, DataType)*): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(fields.map { case (n, t) => StructField(n, t) }))

    /** [[pageRankCached]] / [[personalizedPageRankCached]] verbatim
      * (global form when `seeds` is None): rank₀ = scale (global) or
      * scale·[v ∈ S] (personalized); per iteration c(u) = r(u) div
      * deg(u), s(v) = Σ_{u~v} c(u), r'(v) = base·[global ∨ v ∈ S] +
      * d·s(v) div 100 — all floor divisions on nonnegative Longs
      * (JVM `/` ≡ Spark `div`), sums/products overflow-exact like the
      * distributed BIGINT ops under ANSI.
      */
    private def pageRankCore(es: Array[(Long, Long)],
                             isSeed: Long => Boolean, iters: Int,
                             scale: Long, dampPct: Int)
        : mutable.LongMap[Long] = {
      val deg = symDegrees(es)
      val base = scale * (100 - dampPct) / 100
      var rank = mutable.LongMap.empty[Long]
      deg.foreachKey(n => rank(n) = if (isSeed(n)) scale else 0L)
      var it = 0
      while (it < iters) {
        val c = mutable.LongMap.empty[Long]
        deg.foreach { case (n, d) => c(n) = rank(n) / d }
        val s = mutable.LongMap.empty[Long]
        es.foreach { case (u, v) =>
          s(v) = Math.addExact(s.getOrElse(v, 0L), c(u))
          s(u) = Math.addExact(s.getOrElse(u, 0L), c(v))
        }
        val nr = mutable.LongMap.empty[Long]
        deg.foreachKey { n =>
          nr(n) = (if (isSeed(n)) base else 0L) +
            Math.multiplyExact(dampPct.toLong, s.getOrElse(n, 0L)) / 100
        }
        rank = nr
        it += 1
      }
      rank
    }

    def pageRank(spark: SparkSession, rows: Array[Row],
                 seeds: Option[Array[Long]], iters: Int, scale: Long,
                 dampPct: Int): DataFrame = {
      val es = pairs(rows)
      val isSeed: Long => Boolean = seeds match {
        case Some(ss) =>
          val set = new java.util.HashSet[java.lang.Long](ss.length * 2)
          ss.foreach(set.add(_)); n => set.contains(n)
        case None => _ => true
      }
      val rank = pageRankCore(es, isSeed, iters, scale, dampPct)
      frame(spark,
        rank.keys.toArray.sorted.map(n => Row(n, rank(n))).toIndexedSeq,
        "node" -> LongType, "rank" -> LongType)
    }

    /** [[pageRank]] over STRING node ids (t24's token graph): keys map
      * through a driver dictionary — the fixed-point algebra is
      * key-blind, so values equal the frame path's exactly (catalyst
      * groups strings by UTF-8 bytes ≡ Java String equality on valid
      * UTF-8).
      */
    def pageRankStr(spark: SparkSession, rows: Array[Row], iters: Int,
                    scale: Long, dampPct: Int): DataFrame = {
      val dict = mutable.HashMap.empty[String, Long]
      val names = mutable.ArrayBuffer.empty[String]
      def id(t: String): Long =
        dict.getOrElseUpdate(t, { names += t; names.length - 1L })
      val es = rows.map(r => (id(r.getString(0)), id(r.getString(1))))
      val rank = pageRankCore(es, _ => true, iters, scale, dampPct)
      frame(spark,
        rank.keys.toArray.sorted
          .map(n => Row(names(n.toInt), rank(n))).toIndexedSeq,
        "node" -> StringType, "rank" -> LongType)
    }

    /** [[labelSpreadCached]] verbatim: k class masses ride as parallel
      * per-node Long arrays; conflicting seed rows resolve to the
      * smallest class (min), label = smallest index attaining the max
      * mass, null when every mass is zero.
      */
    def labelSpread(spark: SparkSession, rows: Array[Row],
                    seedRows: Array[Row], numClasses: Int, iters: Int,
                    scale: Long, dampPct: Int): DataFrame = {
      val es = pairs(rows)
      val deg = symDegrees(es)
      val cls = mutable.LongMap.empty[Int]
      seedRows.foreach { r =>
        val n = r.getLong(0); val c = r.getInt(1)
        cls.get(n) match {
          case Some(old) if old <= c => ()
          case _ => cls(n) = c
        }
      }
      val base = scale * (100 - dampPct) / 100
      val k = numClasses
      var m = mutable.LongMap.empty[Array[Long]]
      deg.foreachKey { n =>
        val a = new Array[Long](k)
        cls.get(n).foreach(c => a(c) = scale)
        m(n) = a
      }
      var it = 0
      while (it < iters) {
        val s = mutable.LongMap.empty[Array[Long]]
        def acc(n: Long): Array[Long] =
          s.getOrElseUpdate(n, new Array[Long](k))
        es.foreach { case (u, v) =>
          val cu = m(u); val cv = m(v)
          val du = deg(u); val dv = deg(v)
          val av = acc(v); val au = acc(u)
          var c = 0
          while (c < k) {
            av(c) = Math.addExact(av(c), cu(c) / du)
            au(c) = Math.addExact(au(c), cv(c) / dv)
            c += 1
          }
        }
        val nm = mutable.LongMap.empty[Array[Long]]
        deg.foreachKey { n =>
          val a = new Array[Long](k)
          val sn = s.getOrElse(n, null)
          val cn = cls.getOrElse(n, -1)
          var c = 0
          while (c < k) {
            val sv = if (sn == null) 0L else sn(c)
            a(c) = (if (cn == c) base else 0L) +
              Math.multiplyExact(dampPct.toLong, sv) / 100
            c += 1
          }
          nm(n) = a
        }
        m = nm
        it += 1
      }
      val out = deg.keys.toArray.sorted.map { n =>
        val a = m(n)
        var bi = 0; var bm = a(0); var c = 1
        while (c < k) {
          if (a(c) > bm) { bi = c; bm = a(c) }
          c += 1
        }
        var allZero = true; c = 0
        while (c < k) { if (a(c) != 0L) allZero = false; c += 1 }
        val label: Any = if (allZero) null else bi
        Row.fromSeq(n +: a.toIndexedSeq :+ label)
      }
      frame(spark, out.toIndexedSeq,
        (("node" -> (LongType: DataType)) +:
          (0 until k).map(c => s"m$c" -> (LongType: DataType)) :+
          ("label" -> (IntegerType: DataType))): _*)
    }

    /** [[khopReach]] verbatim: frontier BFS with the visited anti-join;
      * seeds outside the edge set still appear (hops 0, isolated);
      * early stop on an empty frontier.
      */
    def khop(spark: SparkSession, rows: Array[Row], seeds: Array[Long],
             maxHops: Int): DataFrame = {
      val es = pairs(rows)
      val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
      es.foreach { case (u, v) =>
        adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
        adj.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
      }
      val hops = mutable.LongMap.empty[Int]
      seeds.foreach(n => hops(n) = 0)
      var frontier: Array[Long] = hops.keys.toArray
      var h = 0
      var done = maxHops == 0
      while (!done) {
        h += 1
        val next = mutable.SortedSet.empty[Long]
        frontier.foreach { u =>
          adj.get(u).foreach(_.foreach { v =>
            if (!hops.contains(v)) next += v
          })
        }
        if (next.isEmpty) done = true
        else {
          next.foreach(n => hops(n) = h)
          frontier = next.toArray
          done = h >= maxHops
        }
      }
      frame(spark,
        hops.toArray.sortBy(_._1).map { case (n, hh) => Row(n, hh) }
          .toIndexedSeq,
        "node" -> LongType, "hops" -> IntegerType)
    }

    /** [[kCoreCached]] verbatim: `iters` synchronous peels — degree
      * count over the surviving symmetrized edges, keep = deg ≥ k,
      * drop edges touching a dropped endpoint — then the final degree
      * frame.
      */
    def kCore(spark: SparkSession, rows: Array[Row], k: Int,
              iters: Int): DataFrame = {
      var es = pairs(rows)
      var i = 0
      while (i < iters) {
        val deg = symDegrees(es)
        es = es.filter { case (u, v) =>
          deg(u) >= k && deg(v) >= k
        }
        i += 1
      }
      val deg = symDegrees(es)
      frame(spark,
        deg.toArray.sortBy(_._1).map { case (n, d) => Row(n, d) }
          .toIndexedSeq,
        "node" -> LongType, "deg" -> LongType)
    }

    /** [[connectedComponentsCached]] verbatim: per round one min-label
      * propagation (each node takes the min of its own and its
      * neighbors' labels) then one pointer jump (label := label's
      * label; total by construction — a label is always a node id of
      * the same component).
      */
    def components(spark: SparkSession, rows: Array[Row],
                   rounds: Int): DataFrame = {
      val es = pairs(rows)
      var lbl = mutable.LongMap.empty[Long]
      es.foreach { case (u, v) => lbl(u) = u; lbl(v) = v }
      var r = 0
      while (r < rounds) {
        val nl = mutable.LongMap.empty[Long]
        def off(n: Long, l: Long): Unit =
          if (l < nl.getOrElse(n, Long.MaxValue)) nl(n) = l
        es.foreach { case (u, v) =>
          off(v, lbl(u)); off(u, lbl(v))
        }
        val prop = mutable.LongMap.empty[Long]
        lbl.foreach { case (n, l) =>
          prop(n) = math.min(l, nl.getOrElse(n, l))
        }
        val jumped = mutable.LongMap.empty[Long]
        prop.foreachKey { n => jumped(n) = prop(prop(n)) }
        lbl = jumped
        r += 1
      }
      frame(spark,
        lbl.toArray.sortBy(_._1).map { case (n, c) => Row(n, c) }
          .toIndexedSeq,
        "node" -> LongType, "component" -> LongType)
    }

    /** [[shortestPathsCached]] verbatim: `rounds` dense Bellman-Ford
      * relaxations in min-plus Long arithmetic (additions exact like
      * the distributed BIGINT sums under ANSI); unreached nodes are
      * absent, seeds outside the edge set ignored.
      */
    def shortestPaths(spark: SparkSession, rows: Array[Row],
                      seeds: Array[Long], rounds: Int): DataFrame = {
      val es = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nodes = mutable.LongMap.empty[Unit]
      es.foreach { case (u, v, _) => nodes(u) = (); nodes(v) = () }
      val dist = mutable.LongMap.empty[Long]
      seeds.foreach(n => if (nodes.contains(n)) dist(n) = 0L)
      var r = 0
      while (r < rounds) {
        val cand = mutable.LongMap.empty[Long]
        def off(n: Long, d: Long): Unit =
          if (d < cand.getOrElse(n, Long.MaxValue)) cand(n) = d
        es.foreach { case (u, v, w) =>
          dist.get(u).foreach(d => off(v, Math.addExact(d, w)))
          dist.get(v).foreach(d => off(u, Math.addExact(d, w)))
        }
        cand.foreach { case (n, c) =>
          dist(n) = math.min(dist.getOrElse(n, c), c)
        }
        r += 1
      }
      frame(spark,
        dist.toArray.sortBy(_._1).map { case (n, d) => Row(n, d) }
          .toIndexedSeq,
        "node" -> LongType, "dist" -> LongType)
    }

    import java.math.{BigDecimal => JBD, RoundingMode => RM}

    /** Spark's Round(_, 7) on a double, replayed exactly (the Boost
      * r7 discipline): valueOf/HALF_UP with NaN/Inf passthrough.
      */
    private def r7(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else JBD.valueOf(x).setScale(7, RM.HALF_UP).doubleValue()

    /** [[triangleCountsCached]] verbatim, MULTISET semantics included:
      * each input edge orients by (degree, id); wedges are every
      * ordered pair of oriented-edge INSTANCES (a,b)·(b,c) — duplicate
      * edges multiply wedge counts exactly like the frame self-join —
      * and a wedge closed by any oriented (a,c) instance contributes
      * one count to each of a, b, c (the explode; a self-loop wedge
      * credits its node twice, as the frame's array explode does).
      * Integer counts only — no rounding surface.
      */
    private def triangleCore(es: Array[(Long, Long)])
        : mutable.LongMap[Long] = {
      val deg = symDegrees(es)
      val oriented = es.map { case (u, v) =>
        val du = deg(u); val dv = deg(v)
        if (du < dv || (du == dv && u < v)) (u, v) else (v, u)
      }
      val out = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
      val eset = mutable.HashSet.empty[(Long, Long)]
      oriented.foreach { e =>
        out.getOrElseUpdate(e._1, mutable.ArrayBuffer.empty[Long]) += e._2
        eset += e
      }
      val counts = mutable.LongMap.empty[Long]
      def add(n: Long): Unit =
        counts(n) = Math.addExact(counts.getOrElse(n, 0L), 1L)
      oriented.foreach { case (a, b) =>
        out.get(b).foreach(_.foreach { c =>
          if (eset.contains((a, c))) { add(a); add(b); add(c) }
        })
      }
      counts
    }

    def triangles(spark: SparkSession, rows: Array[Row]): DataFrame = {
      val counts = triangleCore(pairs(rows))
      frame(spark,
        counts.toArray.sortBy(_._1).map { case (n, t) => Row(n, t) }
          .toIndexedSeq,
        "node" -> LongType, "triangles" -> LongType)
    }

    /** [[linkPrediction]] verbatim: wedge middles are capped at
      * `maxMiddleDegree` TRUE degree, candidate (a,b) pairs (a < b)
      * count common capped middles with full multiset multiplicity
      * (the s1×s2 self-join), pairs adjacent in the ORIGINAL
      * direction-sensitive edge list drop (the anti-join), Jaccard
      * divides by true degrees, and the top-k sorts by
      * (cn desc, a, b) — one exact IEEE division per survivor.
      */
    def linkPrediction(spark: SparkSession, rows: Array[Row], k: Int,
                       maxMiddleDegree: Int): DataFrame = {
      val es = pairs(rows)
      val degAll = symDegrees(es)
      // neighbor lists of each CAPPED middle over the symmetrized
      // multiset (sym row (m, a) exists per direction of each edge)
      val byM = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
      def nb(m: Long, a: Long): Unit =
        if (degAll(m) <= maxMiddleDegree)
          byM.getOrElseUpdate(m, mutable.ArrayBuffer.empty[Long]) += a
      es.foreach { case (u, v) => nb(u, v); nb(v, u) }
      val cn = mutable.HashMap.empty[(Long, Long), Long]
      byM.foreach { case (_, ns) =>
        var i = 0
        while (i < ns.length) {
          var j = 0
          while (j < ns.length) {
            val a = ns(i); val b = ns(j)
            if (a < b) {
              val key = (a, b)
              cn(key) = Math.addExact(cn.getOrElse(key, 0L), 1L)
            }
            j += 1
          }
          i += 1
        }
      }
      val adj = mutable.HashSet.empty[(Long, Long)]
      es.foreach(adj += _)
      val survivors = cn.iterator
        .filterNot { case (ab, _) => adj.contains(ab) }
        .map { case ((a, b), c) =>
          val da = degAll(a); val db = degAll(b)
          (a, b, c, c.toDouble / (da + db - c).toDouble)
        }
        .toArray
        .sortBy { case (a, b, c, _) => (-c, a, b) }
        .take(k)
      frame(spark,
        survivors.map { case (a, b, c, j) => Row(a, b, c, j) }
          .toIndexedSeq,
        "a" -> LongType, "b" -> LongType, "cn" -> LongType,
        "jaccard" -> DoubleType)
    }

    /** [[clusteringCoeffCached]] verbatim: node universe = every
      * symmetrized-degree key (the right join), triangles default 0,
      * coeff = (2.0·tri)/(d·(d−1)) in the written association with
      * Long d−1, 7dp valueOf/HALF_UP like Spark's Round, null below
      * degree 2.
      */
    def clusteringCoeff(spark: SparkSession, rows: Array[Row])
        : DataFrame = {
      val es = pairs(rows)
      val deg = symDegrees(es)
      val tri = triangleCore(es)
      frame(spark,
        deg.keys.toArray.sorted.map { n =>
          val d = deg(n); val t = tri.getOrElse(n, 0L)
          val coeff: Any =
            if (d >= 2)
              r7(2.0 * t.toDouble / (d.toDouble * (d - 1L).toDouble))
            else null
          Row(n, d, t, coeff)
        }.toIndexedSeq,
        "node" -> LongType, "degree" -> LongType,
        "triangles" -> LongType, "coeff" -> DoubleType)
    }

    /** [[assortativityImpl]] verbatim: endpoint-degree pairs over every
      * directed edge of the symmetrized multiset, the five moment sums
      * exact in BigInt (≡ the frame's DECIMAL(38,0) sums — degrees are
      * integers), then the [[Anomaly.stats2]] double chain replayed in
      * its written order (decimal→double casts via BigDecimal
      * .doubleValue, left-associative products, java.lang.Math.sqrt)
      * and the same 7dp valueOf/HALF_UP rounding Spark's Round
      * performs. Zero-variance graphs yield null; an empty edge list
      * yields zero rows (the empty groupBy).
      */
    def assortativity(spark: SparkSession, rows: Array[Row]): DataFrame = {
      val es = pairs(rows)
      val schema = Seq("n_endpoints" -> LongType,
        "assortativity" -> DoubleType)
      if (es.isEmpty) return frame(spark, Nil, schema: _*)
      val deg = symDegrees(es)
      var n = 0L
      var sx, sy, sxx, syy, sxy = BigInt(0)
      es.foreach { case (u, v) =>
        val du = BigInt(deg(u)); val dv = BigInt(deg(v))
        // sym carries both directions: (du,dv) and (dv,du)
        n += 2L
        sx += du + dv; sy += du + dv
        sxx += du * du + dv * dv; syy += du * du + dv * dv
        sxy += 2 * du * dv
      }
      def d(b: BigInt): Double = new JBD(b.bigInteger).doubleValue()
      val nd = n.toDouble
      val mx = d(sx) / nd
      val my = d(sy) / nd
      val vx = d(sxx) / nd - mx * mx
      val vy = d(syy) / nd - my * my
      val cxy = d(sxy) / nd - mx * my
      val assort: Any =
        if (vx > 0.0 && vy > 0.0) r7(cxy / Math.sqrt(vx * vy)) else null
      frame(spark, Seq(Row(n, assort)), schema: _*)
    }
  }
}
