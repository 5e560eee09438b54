package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Similarity-search coverage over the embeddings table. The cosine
  * arithmetic is a sequential double fold on both sides (verified:
  * DuckDB's list_dot_product ≡ left fold), so brute-force results are
  * exactly oracle-checkable, ordering included. The IVF path involves
  * KMeans → rows-only + SimilaritySpec recall assertions.
  */
object SimilarityQueries extends QuerySet {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-label centroid profile, hash-exact: the order-forced variant
    // fold-sums each (label, dimension) cell in vec_id order, the same
    // sequential-double-fold parity n01/n03 use (DuckDB mirrors it with
    // list(val ORDER BY vec_id) ⋅ ones). groupCentroids — the order-free
    // partial-sum operator for scale — is certified against this in
    // PipelineOpsSpec.
    "n05_group_centroids" -> ((s, d) =>
      Similarity.groupCentroidsOrdered(Tables.embeddings(s, d),
        "label", "vec_id", "embedding")
        .select(col("grp").as("label"), col("pos"), col("mean"))
        .orderBy(col("label"), col("pos"))),

    // Brute-force cosine top-10 for 5 query vectors (broadcast NL join).
    "n01_brute_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Reciprocal-rank fusion of two retrieval runs over the SAME five
    // queries — cosine top-10 (the n01 run) ⊕ L2-nearest top-10 — the
    // hybrid-retrieval merge a RAG stack runs when lexical and dense
    // rankings disagree. Rank-only inputs make the fusion integer-
    // derived: contributions are round(1/(60+rank),9)→DECIMAL, so the
    // oracle replays both runs' ROW_NUMBER ranks and the fused sum
    // exactly.
    "n15_rrf_fusion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      val qs = emb.filter(col("vec_id") < 5)
      val runA = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
        k = 10).select("query_id", "vec_id", "rank")
      val runB = Similarity.bruteForceTopKL2(emb, qs, "vec_id", "embedding",
        k = 10).select("query_id", "vec_id", "rank")
      Similarity.rrfFuse(runA.unionByName(runB), "query_id", "vec_id",
          "rank", k0 = 60, topK = 10)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("rrf"), 9).as("rrf"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Local Outlier Factor over a bounded embedding slice: exact kNN
    // (the n01 broadcast-NL parity axis), reach-distances 7dp→DECIMAL,
    // lrd/LOF density ratios fixed-order — the locally-adaptive
    // anomaly score, fully replayed by DuckDB. The 100-TB path is
    // n16b: the same reach/lrd algebra fed from the IVF candidate
    // frame via lofFromKnn.
    "n16_lof" -> ((s, d) =>
      Similarity.lofOutliers(
        // CAP: probe cover=lof
        Tables.embeddings(s, d).filter(col("vec_id") < 300),
        "vec_id", "embedding", k = 5)
        .orderBy(col("vec_id"))),

    // ANN-fed LOF — the 100-TB composition as an API, not prose: the
    // kNN stage is the portable IVF-L2 index (sign-cone cells, nprobe
    // Hamming-nearest probing — the n02b machinery with exact −‖v−q‖²
    // scoring), lofFromKnn consumes its (p, o, d2) frame unchanged.
    // Approximate-LOF semantics (k-distances are the index's); every
    // stage — cells, probe ranks, L2 scores, reach/lrd/ratio — replays
    // in DuckDB, so the SCALE path itself is hash-checked. LofSpec
    // gates ANN-fed ≡ exact at nprobe = 2^nPlanes (recall 1.0).
    "n16b_lof_ann" -> ((s, d) => {
      // CAP: probe cover=lof
      val pts = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      val knn = Similarity.ivfTopKL2Portable(pts, pts,
          "vec_id", "embedding", k = 5)
        .select(col("query_id").as("p"), col("vec_id").as("o"),
          (-col("negl2")).as("d2"))
      Similarity.lofFromKnn(knn, k = 5).orderBy(col("vec_id"))
    }),

    // kNN majority-vote classification of the first 20 vectors from
    // their 5 nearest labeled neighbors (L2, the n01-proven negl2
    // desc / id asc ordering) — the zero-training embedding-quality
    // audit. Vote = integer count argmax, ties to the smallest label.
    "n17_knn_vote" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      Similarity.knnVote(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"))
    }),

    // ANN-fed kNN vote (the n16b composition applied to n17): the
    // IVF-L2 candidate frame feeds knnVoteFromKnn's vote algebra —
    // label transfer whose kNN stage prunes to nprobe/2^nPlanes of
    // the corpus. Hash-checked end to end like n16b.
    "n17b_knn_vote_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      val qs = emb.filter(col("vec_id") < 20)
      val knn = Similarity.ivfTopKL2Portable(emb, qs,
        "vec_id", "embedding", k = 5)
      Similarity.knnVoteFromKnn(knn, emb, qs, "vec_id", "label")
        .orderBy(col("query_id"))
    }),

    // DBSCAN density clustering over the n16 slice: eps-neighbor
    // pairs from the raw-double d2 ≤ 1.3 threshold (no sqrt, no
    // rounding boundary), core rule n_nb ≥ minPts−1, clusters = 3
    // pointer-jumping rounds over the core-core graph (the g11
    // machinery), borders take the min core-neighbor label, noise is
    // null — every stage replayed by DuckDB including the unrolled
    // rounds. The scale path swaps the pair stage for the banded
    // frames (n04b/n02b cells), exactly n16b's composition.
    "n18_dbscan" -> ((s, d) =>
      Similarity.dbscanCached(
        // CAP: probe cover=lof
        Tables.embeddings(s, d).filter(col("vec_id") < 300),
        "vec_id", "embedding", eps2 = 1.3, minPts = 3)
        .df.orderBy(col("vec_id"))),

    // Top principal component of the n10 covariance by 8 rounds of
    // power iteration — the PCA pre-rotation an embedding pipeline
    // runs before SQ8/PQ compression. Factored like n16b: the
    // iteration algebra takes ANY (i,j,cov) frame; the hash-exact twin
    // feeds it from covarianceMatrixOrdered, the 100-TB path from the
    // one-scan covarianceMatrix. Every round is a matvec CTE pair the
    // oracle unrolls; all cross-dimension sums are exact decimals.
    "n19_pca_power" -> ((s, d) =>
      Similarity.pcaPowerFromCov(
        Similarity.covarianceMatrixOrdered(
          // CAP: probe cover=pca
          Tables.embeddings(s, d).filter(col("vec_id") < 200),
          "vec_id", "embedding"),
        rounds = 8)),

    // PCA reconstruction-error outlier screen composing the factored
    // pieces (n16b pattern): n19's top component + ordered-fold means
    // feed resid = ‖x−μ‖² − (v·(x−μ))², the subspace-anomaly score —
    // top-20 embeddings farthest from the corpus' dominant direction.
    // One scan-local pass, two broadcast dim-row joins, no pair term.
    "n20_pca_outliers" -> ((s, d) => {
      // CAP: probe cover=pca
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      val load = Similarity.pcaPowerFromCov(
        Similarity.covarianceMatrixOrdered(emb, "vec_id", "embedding"),
        rounds = 8)
      Similarity.pcaResidualOutliers(emb, "vec_id", "embedding", load,
        Similarity.dimMeansOrdered(emb, "vec_id", "embedding"), topK = 20)
    }),

    // Rank-biased overlap (Webber et al. 2010, truncated RBO_min at
    // k=10, p=0.9) between the exact and IVF rankings — the
    // TOP-WEIGHTED agreement metric n12's recall can't express (right
    // items in the wrong order score lower). Collapses per matched
    // item to a suffix-constant lookup: one equi-join + k literal
    // weights + exact decimal sums, no per-depth explode.
    "n21_rbo" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      val qs = emb.filter(col("vec_id") < 5)
      Similarity.rboTruncated(
        Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 10),
        Similarity.ivfTopKPortable(emb, qs, "vec_id", "embedding", k = 10),
        k = 10, p = 0.9)
    }),

    // MMR diversified rerank of query-0's top-20 shortlist: five
    // greedy λ=0.7 picks, every step's argmax replayed by the
    // unrolled oracle on the same raw-double cosines as n01.
    "n14_mmr_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", shortlistK = 20, k = 5, lam = 0.7)
        .orderBy(col("pick"))
    }),

    // Int8 scalar-quantized ANN (SQ8): corpus-bounds quantization +
    // integer dot-product scoring. Every stage — per-dim bounds, codes,
    // scores, ranks — is exact integer or correctly-rounded double
    // math, so the whole compressed-index path is hash-checked.
    "n07_quantized_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Embedding-cosine near-duplicate pairs above 0.35 (bounded subset;
    // the corpus max pairwise cosine is ~0.44, so this band is populated).
    "n03_cosine_neardups" -> ((s, d) =>
      Similarity.cosineNearDups(
        // CAP: probe cover=lsh
        Tables.embeddings(s, d).filter(col("vec_id") < 200),
        "vec_id", "embedding", threshold = 0.35)
        .orderBy(col("id_a"), col("id_b"))),

    // Hyperplane-LSH cosine near-dup (the banded scale path) over a
    // corpus with planted jittered copies. Spark-rand jitter → rows-only;
    // recall asserted in PipelineOpsSpec.
    "n04_cosine_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val jittered = emb.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          x => x + (rand(7) - 0.5) * 0.01f).as("embedding"))
      Similarity.cosineNearDupsLSH(
        emb.select("vec_id", "embedding").union(jittered),
        "vec_id", "embedding", threshold = 0.9)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("id_b") - col("id_a") === 1000000, 1L).otherwise(0L))
            .as("n_planted_found"))
    }),

    // Portable hyperplane-LSH (the d02b/d04b pattern for n04): planted
    // copies carry a DETERMINISTIC ±0.004 per-dimension jitter whose
    // sign comes from md5 of a positional key, and the hyperplanes are
    // the md5-derived ±1 matrix — so DuckDB rebuilds the jitter, the
    // planes, the 16-bit signatures, the band buckets, the candidate
    // join, and the exact-cosine verify, putting the WHOLE embedding
    // LSH pipeline on a hash-checked oracle.
    "n04b_cosine_lsh_portable" -> ((s, d) => {
      // CAP: probe cover=lsh
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("embedding"))
      // jitter BEFORE re-aliasing the id: with both in one select, the
      // output alias `vec_id` (= id + 1000000) wins name resolution
      // inside the lambda and the md5 key silently shifts
      val jittered = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + when(substring(md5(concat(lit("jit42_"),
              col("vec_id").cast("string"), lit("_"),
              i.cast("string")).cast("binary")), 1, 1)
              .isin("0", "2", "4", "6", "8", "a", "c", "e"),
            lit(0.004)).otherwise(lit(-0.004))).as("embedding"))
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.cosineNearDupsLSHPortable(emb.union(jittered),
        "vec_id", "embedding", threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup (cluster-then-prune semantic dedup): plant an exact copy
    // of every 5th embedding; each copy pair must collapse to one
    // survivor — and to the ORIGINAL (equal cent_cos ties break to the
    // smaller id). KMeans quantizer → rows-only; keep-rule semantics
    // asserted in PipelineOpsSpec.
    "n06_semdedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val copies = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semDeDup(emb.union(copies),
        "vec_id", "embedding", nlist = 8, threshold = 0.95)
        .agg(count(lit(1)).as("n_survivors"),
          sum(when(col("vec_id") >= 1000000, 1L).otherwise(0L))
            .as("n_copies_survived"))
    }),

    // Portable SemDeDup (the n04b trick for n06): md5-Rademacher sign
    // bucketing replaces the KMeans quantizer and a fixed md5 prototype
    // direction per cluster replaces the learned centroid, so DuckDB
    // replays cluster assignment, prototype cosines, within-cluster
    // pairs, connected components, and the keep-least-prototypical
    // rule row-for-row. Exact copies of every 5th vector must collapse
    // to the ORIGINAL (tie on cent_cos breaks to the smaller id).
    "n06b_semdedup_portable" -> ((s, d) => {
      // CAP: baseline cover=n06_semdedup
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 200)
        .select("vec_id", "embedding")
      val copies = emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Similarity.semDeDupPortable(emb.union(copies),
        "vec_id", "embedding", threshold = 0.95)
        .orderBy(col("vec_id"))
    }),

    // IVF (KMeans coarse quantizer, nprobe=3 of nlist=8): rows-only;
    // recall vs brute force asserted in SimilaritySpec.
    "n02_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (model, indexed) = Similarity.ivfIndex(emb, "vec_id", "embedding",
        nlist = 8)
      // CAP: queryset
      Similarity.ivfTopK(indexed, model, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, nprobe = 3)
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"), max(col("cos")).as("best_cos"))
        .orderBy(col("query_id"))
    }),

    // Recall@10 audit: the portable IVF shortlist against exact brute
    // force, per query — the acceptance metric every ANN index ships
    // with. Both arms are the existing hash-green pipelines; the join
    // and ratio are the only new algebra.
    "n12_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      val qs = emb.filter(col("vec_id") < 5)
      val exact = graft.ops.Similarity.bruteForceTopK(emb, qs,
        "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id"))
      val approx = graft.ops.Similarity.ivfTopKPortable(emb, qs,
        "vec_id", "embedding", k = 10)
        .select(col("query_id").as("qa"), col("vec_id").as("va"))
      exact.join(approx,
          col("query_id") === col("qa") && col("vec_id") === col("va"),
          "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(when(col("va").isNotNull, 1L).otherwise(0L)).as("hits"))
        .withColumn("recall",
          round(col("hits").cast("double") / col("k").cast("double"), 6))
        .orderBy(col("query_id"))
    }),

    // Ranking-quality metrics for the ANN shortlist (the other half of
    // the n12 audit): MRR and nDCG@10 of the portable IVF ranking,
    // graded against the exact brute-force top-10 as the relevance
    // set. Discounts are 9dp-rounded 1/log2(rank+1) summed in exact
    // DECIMAL (the t09 transcendental stance), so both engines land on
    // identical DCGs.
    "n13_retrieval_metrics" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      val qs = emb.filter(col("vec_id") < 5)
      val exact = graft.ops.Similarity.bruteForceTopK(emb, qs,
        "vec_id", "embedding", k = 10)
        .select(col("query_id").as("qe"), col("vec_id").as("ve"))
      val approx = graft.ops.Similarity.ivfTopKPortable(emb, qs,
        "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("vec_id"), col("rank"))
      val disc = round(lit(1.0) / log2(col("rank").cast("double") + 1.0), 9)
      val idcg = (1 to 10).map(i =>
        round(lit(1.0) / log2(lit(i + 1.0)), 9).cast(DecimalType(20, 9)))
        .reduce(_ + _).cast("double")
      approx.join(exact,
          col("query_id") === col("qe") && col("vec_id") === col("ve"),
          "left")
        .withColumn("rel", col("ve").isNotNull)
        .groupBy(col("query_id"))
        .agg(min(when(col("rel"), col("rank"))).as("first_hit_rank"),
          sum(when(col("rel"), disc).otherwise(lit(0.0))
            .cast(DecimalType(20, 9))).as("dcg_d"))
        .select(col("query_id"), col("first_hit_rank"),
          round(when(col("first_hit_rank").isNotNull,
            lit(1.0) / col("first_hit_rank").cast("double"))
            .otherwise(0.0), 6).as("rr"),
          col("dcg_d").cast("double").as("dcg"),
          round(col("dcg_d").cast("double") / idcg, 6).as("ndcg"))
        .orderBy(col("query_id"))
    }),

    // Portable IVF-style ANN (the n06b cone trick for n02): sign-cone
    // cells replace the KMeans quantizer, Hamming-to-query-bits probe
    // ranking replaces centroid distance, exact cosine re-ranks —
    // every stage DuckDB-replayable, so the IVF candidate-pruning
    // pipeline itself sits on a hash-checked oracle (recall of the
    // KMeans form stays spec-gated on n02).
    "n02b_ivf_portable" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      Similarity.ivfTopKPortable(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Random projection (Johnson–Lindenstrauss) 64 → 16 dims with the
    // md5-derived ±1 matrix: every projected value is a sequential
    // double fold over literal signs, so the whole reduction is
    // hash-exact — DuckDB rebuilds the identical matrix from the md5
    // recipe and replays the same dot products.
    "n09_random_project" -> ((s, d) =>
      Similarity.randomProject(
        // CAP: probe cover=proj
        Tables.embeddings(s, d).filter(col("vec_id") < 100),
        "vec_id", "embedding", outDim = 16, seed = 42L)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "val")))
        .orderBy(col("vec_id"), col("pos"))),

    // Hard-negative mining (contrastive training data): per query, the
    // top-10 most-similar vectors with a DIFFERENT label. Same exact
    // arithmetic as n01 (hash-checked incl. ordering) with the label
    // exclusion inside the scan.
    "n11_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // CAP: queryset
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "label", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Embedding covariance matrix (whitening/PCA precursor) — the
    // order-forced variant: every cell's product sum and every mean
    // folds in vec_id order, so all 2080 upper-triangle covariances
    // are engine-exact with no rounding. covarianceMatrix (the
    // order-free partial-sum scale operator) is certified against this
    // in PipelineOpsSpec.
    "n10_embedding_cov" -> ((s, d) =>
      Similarity.covarianceMatrixOrdered(
        // CAP: probe cover=pca
        Tables.embeddings(s, d).filter(col("vec_id") < 200),
        "vec_id", "embedding")
        .orderBy(col("i"), col("j"))),

    // PQ-ADC + exact re-rank (the compressed-index ANN path): 8×16
    // codebooks, ADC shortlist of 100, exact-cosine re-rank to top-10.
    // k-means codebooks → rows-only; recall gate vs the n01 exact
    // oracle lives in PipelineOpsSpec.
    "n08_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = Similarity.pqTrain(emb, "embedding", m = 8, ksub = 16)
      // CAP: queryset
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", model, k = 10, shortlist = 100)
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"), max(col("cos")).as("best_cos"))
        .orderBy(col("query_id"))
    }),

    // Portable PQ-ADC (the n02b trick for n08): md5-derived ±1/√dim
    // codebooks replace the KMeans fit, so DuckDB replays encode
    // (argmin with first-code ties), asymmetric-distance scoring (a
    // left-fold over subspace terms), the 100-deep shortlist, and the
    // exact-cosine re-rank — the full compressed-index search
    // topology, hash-checked incl. ordering. Recall of the trained
    // form stays spec-gated on n08.
    "n08b_pq_portable" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val dim = emb.select(size(col("embedding"))).first().getInt(0)
      val model = Similarity.pqBooksPortable(dim, m = 8, ksub = 16)
      // CAP: queryset
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", model, k = 10, shortlist = 100)
        .orderBy(col("query_id"), col("rank"))
    })
  )

  private val cosSql =
    """list_dot_product(a.v, b.v) /
       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"""

  // MMR: 4 mechanically-unrolled greedy steps after the seed pick;
  // selected sets accumulate as UNION ALL of the prior step CTEs
  private val n15Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
         sca AS (
           SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
                  CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                            sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                       ELSE $cosSql END AS cos
           FROM e a, e b
           WHERE b.vec_id < 5 AND a.vec_id <> b.vec_id),
         rka AS (
           SELECT query_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id ASC) AS rank
           FROM sca),
         scb AS (
           SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
                  -(list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
                    - 2.0 * list_dot_product(a.v, b.v)) AS negl2
           FROM e a, e b
           WHERE b.vec_id < 5 AND a.vec_id <> b.vec_id),
         rkb AS (
           SELECT query_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY negl2 DESC, vec_id ASC) AS rank
           FROM scb),
         runs AS (SELECT query_id, vec_id, rank FROM rka WHERE rank <= 10
                  UNION ALL
                  SELECT query_id, vec_id, rank FROM rkb WHERE rank <= 10),
         fused AS (
           SELECT query_id, vec_id,
                  CAST(SUM(CAST(round(1.0 / (60 + rank), 9)
                    AS DECIMAL(18,9))) AS DOUBLE) AS rrf
           FROM runs GROUP BY query_id, vec_id),
         rk AS (
           SELECT query_id, vec_id, rrf,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, vec_id ASC) AS rank
           FROM fused)
        SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
               round(rrf, 9) AS rrf
        FROM rk WHERE rank <= 10 ORDER BY query_id, rank"""

  private val n14Sql: String = {
    def selSet(i: Int): String =
      (1 until i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
    val steps = (2 to 5).map { i =>
      s""",
         m$i AS (SELECT s.ia AS vec_id, MAX(s.cos) AS ms
                 FROM sims s WHERE s.ib IN (${selSet(i)})
                 GROUP BY s.ia),
         s$i AS (SELECT r.vec_id, r.rel, m.ms,
                   round(0.7 * r.rel - (1 - 0.7) * m.ms, 7) AS mmr
                 FROM rel r JOIN m$i m ON r.vec_id = m.vec_id
                 WHERE r.vec_id NOT IN (${selSet(i)})
                 ORDER BY mmr DESC, r.vec_id LIMIT 1)"""
    }.mkString
    val outs = (2 to 5).map(i =>
      s"UNION ALL SELECT $i, vec_id, rel, ms, mmr FROM s$i").mkString("\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        q AS (SELECT v FROM e WHERE vec_id = 0),
        rel AS (SELECT a.vec_id,
                  CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                            sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                       ELSE $cosSql END AS rel
                FROM e a, q b WHERE a.vec_id <> 0
                ORDER BY rel DESC, a.vec_id LIMIT 20),
        se AS (SELECT e.vec_id, e.v FROM e
               JOIN rel ON e.vec_id = rel.vec_id),
        sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                   CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                             sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                        ELSE $cosSql END AS cos
                 FROM se a, se b WHERE a.vec_id <> b.vec_id),
        s1 AS (SELECT vec_id, rel FROM rel
               ORDER BY rel DESC, vec_id LIMIT 1)$steps
        SELECT 1 AS pick, vec_id, rel, CAST(NULL AS DOUBLE) AS max_sim,
               round(rel, 7) AS mmr
        FROM s1
        $outs
        ORDER BY pick"""
  }

  private val n01Sql =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
           scored AS (
             SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
                    CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                              sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                         ELSE $cosSql END AS cos
             FROM e a, e b
             WHERE b.vec_id < 5 AND a.vec_id <> b.vec_id),
           ranked AS (
             SELECT query_id, vec_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id ASC) AS rank
             FROM scored)
          SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  private val n02bSql =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         d AS (SELECT len(v) AS dim FROM e LIMIT 1),
         pl AS (SELECT j, list(CASE WHEN substr(
                        md5('rp42_' || i || '_' || j), 1, 1)
                        IN ('0','2','4','6','8','a','c','e')
                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
               FROM (SELECT unnest(range(0, (SELECT dim FROM d))) AS i),
                    (SELECT unnest(range(0, 3)) AS j)
               GROUP BY j),
         cells AS (SELECT e.vec_id, e.v,
                  sqrt(list_dot_product(e.v, e.v)) AS nv,
                  CAST(SUM(CASE WHEN list_dot_product(e.v, pl.sv) >= 0
                        THEN (1 << pl.j) ELSE 0 END) AS INT) AS cell
                FROM e, pl GROUP BY e.vec_id, e.v),
         q AS (SELECT vec_id AS query_id, v AS qv, nv AS nq,
                      cell AS qcell
               FROM cells WHERE vec_id < 5),
         probe AS (SELECT query_id, qv, nq, cell FROM (
                  SELECT q.query_id, q.qv, q.nq,
                    CAST(r.range AS INT) AS cell,
                    ROW_NUMBER() OVER (PARTITION BY q.query_id
                      ORDER BY bit_count(xor(q.qcell,
                        CAST(r.range AS INT))), r.range) AS pr
                  FROM q CROSS JOIN range(0, 8) r)
                WHERE pr <= 3),
         scored AS (SELECT p.query_id, c.vec_id,
                  CASE WHEN c.nv * p.nq = 0 THEN 0.0
                       ELSE list_dot_product(c.v, p.qv) / (c.nv * p.nq)
                  END AS cos
                FROM probe p JOIN cells c ON c.cell = p.cell
                WHERE c.vec_id <> p.query_id),
         ranked AS (SELECT query_id, vec_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, vec_id ASC) AS rank
                FROM scored)
         SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Shared CTE prefix replaying [[Similarity.ivfTopKL2Portable]]
    * (nPlanes=3, nprobe=3, seed=42, k=5): the n02b sign-cone cell
    * machinery with exact −‖v−q‖² scoring. Ends at a `knn` CTE of
    * (query_id, vec_id, negl2) — callers append their consumer CTEs
    * to the same WITH list (LOF algebra for n16b, the vote for n17b),
    * so the index replay can never drift between the two oracles.
    */
  private def ivfL2KnnSql(corpusWhere: String, queryWhere: String): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings $corpusWhere),
       d AS (SELECT len(v) AS dim FROM e LIMIT 1),
       pl AS (SELECT j, list(CASE WHEN substr(
                      md5('rp42_' || i || '_' || j), 1, 1)
                      IN ('0','2','4','6','8','a','c','e')
                    THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
             FROM (SELECT unnest(range(0, (SELECT dim FROM d))) AS i),
                  (SELECT unnest(range(0, 3)) AS j)
             GROUP BY j),
       cl AS (SELECT e.vec_id, e.v,
                list_dot_product(e.v, e.v) AS nv2,
                CAST(SUM(CASE WHEN list_dot_product(e.v, pl.sv) >= 0
                      THEN (1 << pl.j) ELSE 0 END) AS INT) AS cell
              FROM e, pl GROUP BY e.vec_id, e.v),
       q AS (SELECT vec_id AS query_id, v AS qv, nv2 AS nq2,
                    cell AS qcell
             FROM cl $queryWhere),
       probe AS (SELECT query_id, qv, nq2, cell FROM (
                SELECT q.query_id, q.qv, q.nq2,
                  CAST(r.range AS INT) AS cell,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY bit_count(xor(q.qcell,
                      CAST(r.range AS INT))), r.range) AS pr
                FROM q CROSS JOIN range(0, 8) r)
              WHERE pr <= 3),
       sc AS (SELECT p.query_id, c.vec_id,
                -(c.nv2 + p.nq2
                  - 2.0 * list_dot_product(c.v, p.qv)) AS negl2
              FROM probe p JOIN cl c ON c.cell = p.cell
              WHERE c.vec_id <> p.query_id),
       rk AS (SELECT query_id, vec_id, negl2,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY negl2 DESC, vec_id ASC) AS rank
              FROM sc),
       knn AS (SELECT query_id, vec_id, negl2 FROM rk WHERE rank <= 5)"""

  /** n18's oracle: pair threshold + degree + core rule + the SAME
    * unrolled pointer-jumping rounds as the g11 oracle (m/p/j CTEs per
    * round) + border min-label join. Generated from the same (eps2,
    * minPts, rounds) literals the engine query passes.
    */
  private def dbscanSql(eps2: Double, minPts: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      val prev = if (i == 1) "r0" else s"j${i - 1}"
      s""",
         m$i AS (SELECT s.v AS node, MIN(r.lbl) AS nl
                FROM sym s JOIN $prev r ON s.u = r.node GROUP BY 1),
         p$i AS (SELECT r.node, LEAST(r.lbl, COALESCE(m.nl, r.lbl)) AS lbl
                FROM $prev r LEFT JOIN m$i m ON r.node = m.node),
         j$i AS (SELECT a.node, b.lbl FROM p$i a JOIN p$i b
                 ON a.lbl = b.node)"""
    }.mkString
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 300),
       en AS (SELECT vec_id, v, list_dot_product(v, v) AS nv2 FROM e),
       pr AS (SELECT b.vec_id AS p, a.vec_id AS o
              FROM en a, en b
              WHERE a.vec_id <> b.vec_id
                AND a.nv2 + b.nv2
                    - 2.0 * list_dot_product(a.v, b.v) <= $eps2),
       deg AS (SELECT p, COUNT(*) AS n_nb FROM pr GROUP BY 1),
       core AS (SELECT p AS node FROM deg WHERE n_nb >= ${minPts - 1}),
       ce AS (SELECT pr.p AS u, pr.o AS v FROM pr
              JOIN core c1 ON pr.p = c1.node
              JOIN core c2 ON pr.o = c2.node),
       sym AS (SELECT u, v FROM ce
               UNION ALL SELECT v AS u, u AS v FROM ce),
       r0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym)$roundCtes,
       cl AS (SELECT c.node, COALESCE(j$rounds.lbl, c.node) AS lbl
              FROM core c LEFT JOIN j$rounds ON j$rounds.node = c.node),
       bd AS (SELECT pr.p, MIN(cl.lbl) AS blbl
              FROM pr JOIN cl ON pr.o = cl.node GROUP BY 1)
       SELECT en.vec_id,
              COALESCE(deg.n_nb, 0) AS n_nb,
              cl.node IS NOT NULL AS is_core,
              COALESCE(cl.lbl, bd.blbl) AS cluster
       FROM en LEFT JOIN deg ON en.vec_id = deg.p
               LEFT JOIN cl ON en.vec_id = cl.node
               LEFT JOIN bd ON en.vec_id = bd.p
       ORDER BY vec_id"""
  }

  /** n19's oracle: the n10 ordered-covariance CTE, 7dp cell rounding,
    * then `rounds` unrolled matvec/normalize CTE pairs mirroring
    * [[graft.ops.Similarity.pcaPowerFromCov]] term-for-term — exact
    * DECIMAL cross-dimension sums, one sqrt and one division per
    * round. Generated from the same (dim, rounds, cap) literals the
    * engine query passes.
    */
  private def pcaSql(dim: Int, rounds: Int, cap: Int): String =
    s"""WITH ${pcaBody(dim, rounds, cap)}
          SELECT v.vi AS i, v.vl AS loading, l1.l1 AS l1,
                 round(l1.l1 / tr.tr, 7) AS evr
          FROM v$rounds v, l1, tr ORDER BY i"""

  /** n20's oracle: the shared PCA CTE body (unreferenced l1/tr CTEs
    * prune away), ordered-fold per-dimension means, then the per-vector
    * residual `‖x−μ‖² − (v·(x−μ))²` with 7dp-rounded DECIMAL sums —
    * mirroring [[graft.ops.Similarity.pcaResidualOutliers]].
    */
  private def pcaOutlierSql(dim: Int, rounds: Int, cap: Int,
                            topK: Int): String =
    s"""WITH ${pcaBody(dim, rounds, cap)},
          nn AS (SELECT COUNT(*) AS n FROM e),
          mu AS (SELECT pos, s / CAST((SELECT n FROM nn) AS DOUBLE) AS m
                 FROM mx),
          ex AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos,
                        unnest(v) AS x
                 FROM e),
          sc AS (SELECT ex.vec_id,
                   SUM(CAST(round((ex.x - mu.m) * (ex.x - mu.m), 7)
                     AS DECIMAL(20,7))) AS d2,
                   SUM(CAST(round(vv.vl * (ex.x - mu.m), 7)
                     AS DECIMAL(20,7))) AS pj
                 FROM ex JOIN mu ON ex.pos = mu.pos
                         JOIN v$rounds vv ON vv.vi = ex.pos
                 GROUP BY ex.vec_id)
          SELECT vec_id,
                 round(CAST(d2 AS DOUBLE) -
                       CAST(pj AS DOUBLE) * CAST(pj AS DOUBLE), 7)
                   AS resid
          FROM sc
          ORDER BY resid DESC, vec_id ASC LIMIT $topK"""

  private def pcaBody(dim: Int, rounds: Int, cap: Int): String = {
    val v00 = Similarity.PcaSeed
    // AS MATERIALIZED everywhere a CTE is read twice: DuckDB inlines
    // plain CTEs per REFERENCE, and each round reads w$i twice (matvec
    // + norm subquery) — inlined, the cov chain re-executes 2^rounds
    // times and the oracle runs for minutes instead of milliseconds
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"v${i - 1}"
      s""",
          w$i AS MATERIALIZED (SELECT c.i AS i,
                   SUM(CAST(round(c.c * v.vl, 7) AS DECIMAL(27,7))) AS w
                 FROM fc c JOIN $prev v ON c.j = v.vi GROUP BY c.i),
          v$i AS MATERIALIZED (SELECT w.i AS vi,
                   round(CAST(w.w AS DOUBLE) / n.nrm, 7) AS vl
                 FROM w$i w,
                   (SELECT sqrt(CAST(SUM(CAST(w AS DECIMAL(18,7)) *
                      CAST(w AS DECIMAL(18,7))) AS DOUBLE)) AS nrm
                    FROM w$i) n)"""
    }.mkString
    s"""e AS MATERIALIZED (SELECT vec_id,
                     CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < $cap),
          idx AS (SELECT unnest(range(0, $dim)) AS i),
          cell AS (SELECT a.i AS i, b.i AS j, e.vec_id,
                          e.v[a.i + 1] * e.v[b.i + 1] AS p
                   FROM e, idx a, idx b WHERE b.i >= a.i),
          g AS (SELECT i, j, COUNT(*) AS n,
                       list_dot_product(list(p ORDER BY vec_id),
                         list_transform(list(p ORDER BY vec_id),
                           y -> CAST(1 AS DOUBLE))) AS sxy
                FROM cell GROUP BY i, j),
          mx AS MATERIALIZED (SELECT pos,
                        list_dot_product(list(x ORDER BY vec_id),
                          list_transform(list(x ORDER BY vec_id),
                            y -> CAST(1 AS DOUBLE))) AS s
                 FROM (SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos,
                              unnest(v) AS x FROM e)
                 GROUP BY pos),
          cv AS MATERIALIZED (SELECT CAST(g.i AS INT) AS i,
                   CAST(g.j AS INT) AS j,
                   round(g.sxy / g.n - (mi.s / g.n) * (mj.s / g.n), 7) AS c
                 FROM g JOIN mx mi ON mi.pos = g.i
                        JOIN mx mj ON mj.pos = g.j),
          fc AS MATERIALIZED (SELECT i, j, c FROM cv
                 UNION ALL
                 SELECT j AS i, i AS j, c FROM cv WHERE i <> j),
          v0 AS (SELECT CAST(unnest(range(0, $dim)) AS INT) AS vi,
                   CAST($v00 AS DOUBLE) AS vl)$roundCtes,
          wf AS (SELECT c.i AS i,
                   SUM(CAST(round(c.c * v.vl, 7) AS DECIMAL(27,7))) AS w
                 FROM fc c JOIN v$rounds v ON c.j = v.vi GROUP BY c.i),
          l1 AS (SELECT CAST(SUM(CAST(round(v.vl * CAST(w.w AS DOUBLE), 7)
                   AS DECIMAL(18,7))) AS DOUBLE) AS l1
                 FROM v$rounds v JOIN wf w ON v.vi = w.i),
          tr AS (SELECT CAST(SUM(CAST(c AS DECIMAL(18,7))) AS DOUBLE) AS tr
                 FROM fc WHERE i = j)"""
  }

  /** n21's oracle: both ranking arms verbatim (n01/n02b recipes), the
    * matched-item join, and the SAME 7dp suffix constants the engine
    * generates — `Similarity.rboConstants` is the single source, so
    * the two sides cannot diverge on pow's last ulp.
    */
  private def rboSql(k: Int, p: Double): String = {
    val c = Similarity.rboConstants(k, p).mkString(", ")
    s"""WITH ex AS (SELECT query_id, vec_id, rank FROM ($n01Sql) t),
         ap AS (SELECT query_id AS qb, vec_id AS vb, rank AS rb
                FROM ($n02bSql) t),
         mt AS (SELECT ex.query_id AS query_id,
                  CAST(([$c])[GREATEST(ex.rank, ap.rb)]
                    AS DECIMAL(18,7)) AS c
                FROM ex JOIN ap
                  ON ex.query_id = ap.qb AND ex.vec_id = ap.vb),
         ag AS (SELECT query_id, COUNT(*) AS n_overlap,
                  CAST(SUM(c) AS DOUBLE) AS rbo
                FROM mt GROUP BY 1),
         qs AS (SELECT DISTINCT query_id FROM ex)
         SELECT qs.query_id AS query_id,
                CAST(COALESCE(ag.n_overlap, 0) AS BIGINT) AS n_overlap,
                COALESCE(ag.rbo, 0.0) AS rbo
         FROM qs LEFT JOIN ag ON qs.query_id = ag.query_id
         ORDER BY qs.query_id"""
  }

  def oracle: Map[String, String] = Map(
    "n18_dbscan" -> dbscanSql(1.3, 3, 3),
    "n19_pca_power" -> pcaSql(64, 8, 200),
    "n20_pca_outliers" -> pcaOutlierSql(64, 8, 200, 20),
    "n21_rbo" -> rboSql(10, 0.9),
    // recall@10 of the portable IVF pipeline against the exact
    // brute-force oracle — the audit every ANN deployment runs; both
    // arms reuse the n01/n02b recipes verbatim so this oracle can
    // never drift from theirs.
    "n12_ann_recall" ->
      s"""WITH ex AS (SELECT query_id, vec_id FROM ($n01Sql) t),
         ap AS (SELECT query_id AS qa, vec_id AS va FROM ($n02bSql) t)
         SELECT ex.query_id, COUNT(*) AS k,
                CAST(SUM(CASE WHEN ap.va IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS hits,
                round(CAST(SUM(CASE WHEN ap.va IS NOT NULL
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE), 6) AS recall
         FROM ex LEFT JOIN ap
           ON ap.qa = ex.query_id AND ap.va = ex.vec_id
         GROUP BY ex.query_id ORDER BY ex.query_id""",
    "n05_group_centroids" ->
      """WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
          x AS (SELECT label, vec_id,
                       CAST(generate_subscripts(v, 1) - 1 AS INT) AS pos,
                       unnest(v) AS val
                FROM e),
          g AS (SELECT label, pos, list(val ORDER BY vec_id) AS l,
                       COUNT(*) AS n
                FROM x GROUP BY label, pos)
          SELECT label, pos,
                 list_dot_product(l,
                   list_transform(l, y -> CAST(1 AS DOUBLE))) / n AS mean
          FROM g ORDER BY label, pos""",
    "n01_brute_topk" -> n01Sql,

    // n17: kNN replay on the same negl2 ordering, then the vote as a
    // per-query ROW_NUMBER over (votes DESC, label ASC)
    "n17_knn_vote" ->
      """WITH e AS (SELECT vec_id, label,
                      CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 20),
         sc AS (SELECT q.vec_id AS query_id, c.vec_id, c.label AS nl,
                  -(list_dot_product(c.v, c.v)
                    + list_dot_product(q.v, q.v)
                    - 2.0 * list_dot_product(c.v, q.v)) AS negl2
                FROM e c, q WHERE c.vec_id <> q.vec_id),
         rk AS (SELECT query_id, nl,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY negl2 DESC, vec_id ASC)
                    AS rank
                FROM sc),
         vt AS (SELECT query_id, nl, COUNT(*) AS votes
                FROM rk WHERE rank <= 5 GROUP BY 1, 2),
         wn AS (SELECT query_id, nl, votes,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY votes DESC, nl ASC) AS r
                FROM vt)
         SELECT w.query_id, q.label AS true_label,
                w.nl AS pred_label, w.votes
         FROM wn w JOIN q ON w.query_id = q.vec_id
         WHERE w.r = 1 ORDER BY w.query_id""",

    // n16: the kNN stage replays bruteForceTopKL2's literal negl2
    // ordering (desc, id asc), then reach/lrd/LOF in the same
    // 7dp→DECIMAL→double chain as the engine
    "n16_lof" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id < 300),
         sc AS (SELECT b.vec_id AS p, a.vec_id AS o,
                  -(list_dot_product(a.v, a.v)
                    + list_dot_product(b.v, b.v)
                    - 2.0 * list_dot_product(a.v, b.v)) AS negl2
                FROM e a, e b WHERE a.vec_id <> b.vec_id),
         rk AS (SELECT p, o, negl2,
                  ROW_NUMBER() OVER (PARTITION BY p
                                     ORDER BY negl2 DESC, o ASC) AS rank
                FROM sc),
         knn AS (SELECT p, o, -(negl2) AS d2 FROM rk WHERE rank <= 5),
         kd AS (SELECT p AS kp, MAX(d2) AS kd2 FROM knn GROUP BY 1),
         rch AS (SELECT knn.p,
                   CAST(round(sqrt(greatest(kd.kd2, knn.d2)), 7)
                        AS DECIMAL(27,7)) AS reach
                 FROM knn JOIN kd ON knn.o = kd.kp),
         sm AS (SELECT p, SUM(reach) AS rsum FROM rch GROUP BY 1),
         rt AS (SELECT k.p,
                  CASE WHEN CAST(so.rsum AS DOUBLE) > 0
                       THEN CAST(round(CAST(sp.rsum AS DOUBLE)
                                       / CAST(so.rsum AS DOUBLE), 7)
                                 AS DECIMAL(27,7)) END AS r
                FROM knn k JOIN sm sp ON k.p = sp.p
                           JOIN sm so ON k.o = so.p),
         lf AS (SELECT p, SUM(r) AS sum_r FROM rt GROUP BY 1)
         SELECT lf.p AS vec_id,
                round(sqrt(kd.kd2), 7) AS kdist,
                CASE WHEN CAST(sm.rsum AS DOUBLE) > 0
                     THEN round(5.0 / CAST(sm.rsum AS DOUBLE), 7)
                END AS lrd,
                round(CAST(lf.sum_r AS DOUBLE) / 5.0, 7) AS lof
         FROM lf JOIN kd ON lf.p = kd.kp JOIN sm ON lf.p = sm.p
         ORDER BY vec_id""",
    // n16b: the IVF-L2 index replay (shared prefix) feeding the SAME
    // reach/lrd/LOF tail as n16 — the hash check covers the whole
    // scale path, index included
    "n16b_lof_ann" ->
      s"""${ivfL2KnnSql("WHERE vec_id < 300", "")},
         nn AS (SELECT query_id AS p, vec_id AS o, -(negl2) AS d2
                FROM knn),
         kd AS (SELECT p AS kp, MAX(d2) AS kd2 FROM nn GROUP BY 1),
         rch AS (SELECT nn.p,
                   CAST(round(sqrt(greatest(kd.kd2, nn.d2)), 7)
                        AS DECIMAL(27,7)) AS reach
                 FROM nn JOIN kd ON nn.o = kd.kp),
         sm AS (SELECT p, SUM(reach) AS rsum FROM rch GROUP BY 1),
         rt AS (SELECT k.p,
                  CASE WHEN CAST(so.rsum AS DOUBLE) > 0
                       THEN CAST(round(CAST(sp.rsum AS DOUBLE)
                                       / CAST(so.rsum AS DOUBLE), 7)
                                 AS DECIMAL(27,7)) END AS r
                FROM nn k JOIN sm sp ON k.p = sp.p
                           JOIN sm so ON k.o = so.p),
         lf AS (SELECT p, SUM(r) AS sum_r FROM rt GROUP BY 1)
         SELECT lf.p AS vec_id,
                round(sqrt(kd.kd2), 7) AS kdist,
                CASE WHEN CAST(sm.rsum AS DOUBLE) > 0
                     THEN round(5.0 / CAST(sm.rsum AS DOUBLE), 7)
                END AS lrd,
                round(CAST(lf.sum_r AS DOUBLE) / 5.0, 7) AS lof
         FROM lf JOIN kd ON lf.p = kd.kp JOIN sm ON lf.p = sm.p
         ORDER BY vec_id""",

    // n17b: the same index replay feeding the n17 vote tail
    "n17b_knn_vote_ann" ->
      s"""${ivfL2KnnSql("", "WHERE vec_id < 20")},
         vt AS (SELECT k.query_id, e.label AS nl, COUNT(*) AS votes
                FROM knn k JOIN e ON k.vec_id = e.vec_id
                GROUP BY 1, 2),
         wn AS (SELECT query_id, nl, votes,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY votes DESC, nl ASC) AS r
                FROM vt)
         SELECT w.query_id, e.label AS true_label,
                w.nl AS pred_label, w.votes
         FROM wn w JOIN e ON w.query_id = e.vec_id
         WHERE w.r = 1 ORDER BY w.query_id""",

    "n14_mmr_rerank" -> n14Sql,
    "n15_rrf_fusion" -> n15Sql,
    "n13_retrieval_metrics" ->
      s"""WITH ex AS (SELECT query_id, vec_id FROM ($n01Sql) t),
         ap AS (SELECT query_id, vec_id, rank FROM ($n02bSql) t),
         j AS (SELECT ap.query_id, ap.rank,
                 CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
               FROM ap LEFT JOIN ex
                 ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id),
         g AS (SELECT query_id,
                 MIN(CASE WHEN rel = 1 THEN rank END) AS first_hit_rank,
                 SUM(CASE WHEN rel = 1
                          THEN CAST(round(1.0 / log2(CAST(rank AS DOUBLE)
                                                     + 1.0), 9)
                               AS DECIMAL(20,9))
                          ELSE CAST(0.0 AS DECIMAL(20,9)) END) AS dcg_d
               FROM j GROUP BY query_id),
         i AS (SELECT CAST(SUM(CAST(round(1.0 / log2(CAST(i AS DOUBLE)
                                                     + 1.0), 9)
                                    AS DECIMAL(20,9))) AS DOUBLE) AS idcg
               FROM (SELECT unnest(range(1, 11)) AS i))
         SELECT query_id, first_hit_rank,
                round(CASE WHEN first_hit_rank IS NOT NULL
                           THEN 1.0 / CAST(first_hit_rank AS DOUBLE)
                           ELSE 0.0 END, 6) AS rr,
                CAST(dcg_d AS DOUBLE) AS dcg,
                round(CAST(dcg_d AS DOUBLE) / idcg, 6) AS ndcg
         FROM g CROSS JOIN i ORDER BY query_id""",
    "n07_quantized_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
          b AS (SELECT i, MIN(v[i]) AS lo, MAX(v[i]) AS hi
                FROM e, (SELECT unnest(range(1, 1 + len(
                       (SELECT v FROM e LIMIT 1)))) AS i)
                GROUP BY i),
          bl AS (SELECT list(lo ORDER BY i) AS lo,
                        list(hi ORDER BY i) AS hi FROM b),
          q AS (SELECT vec_id, list_transform(range(1, len(v) + 1), i ->
                  CASE WHEN bl.hi[i] = bl.lo[i] THEN 0
                       ELSE CAST(floor(
                              (greatest(least(v[i], bl.hi[i]), bl.lo[i])
                                - bl.lo[i]) /
                              (bl.hi[i] - bl.lo[i]) * 254 + 0.5) AS INT)
                            - 127
                  END) AS codes
                FROM e, bl),
          scored AS (SELECT y.vec_id AS query_id, x.vec_id AS vec_id,
                       CAST(list_sum(list_transform(
                         range(1, len(x.codes) + 1), i ->
                           CAST(x.codes[i] AS BIGINT) * y.codes[i]))
                         AS BIGINT) AS score
                     FROM q x, q y
                     WHERE y.vec_id < 5 AND x.vec_id <> y.vec_id),
          ranked AS (SELECT query_id, vec_id, score,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY score DESC, vec_id ASC) AS rank
                     FROM scored)
          SELECT query_id, vec_id, score, CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    "n09_random_project" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id < 100),
          d AS (SELECT len(v) AS dim FROM e LIMIT 1),
          m AS (SELECT j, list(CASE WHEN substr(
                         md5('rp42_' || i || '_' || j), 1, 1)
                         IN ('0','2','4','6','8','a','c','e')
                       THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
                FROM (SELECT unnest(range(0, (SELECT dim FROM d))) AS i),
                     (SELECT unnest(range(0, 16)) AS j)
                GROUP BY j)
          SELECT e.vec_id, CAST(m.j AS INT) AS pos,
                 list_dot_product(e.v, m.sv) / 4 AS val
          FROM e, m ORDER BY vec_id, pos""",
    "n11_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
           scored AS (
             SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
                    CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                              sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                         ELSE $cosSql END AS cos
             FROM e a, e b
             WHERE b.vec_id < 5 AND a.vec_id <> b.vec_id
               AND a.label IS DISTINCT FROM b.label),
           ranked AS (
             SELECT query_id, vec_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id ASC) AS rank
             FROM scored)
          SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    "n10_embedding_cov" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id < 200),
          d AS (SELECT len(v) AS dim FROM e LIMIT 1),
          idx AS (SELECT unnest(range(0, (SELECT dim FROM d))) AS i),
          cell AS (SELECT a.i AS i, b.i AS j, e.vec_id,
                          e.v[a.i + 1] * e.v[b.i + 1] AS p
                   FROM e, idx a, idx b WHERE b.i >= a.i),
          g AS (SELECT i, j, COUNT(*) AS n,
                       list_dot_product(list(p ORDER BY vec_id),
                         list_transform(list(p ORDER BY vec_id),
                           y -> CAST(1 AS DOUBLE))) AS sxy
                FROM cell GROUP BY i, j),
          mx AS (SELECT pos,
                        list_dot_product(list(x ORDER BY vec_id),
                          list_transform(list(x ORDER BY vec_id),
                            y -> CAST(1 AS DOUBLE))) AS s
                 FROM (SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos,
                              unnest(v) AS x FROM e)
                 GROUP BY pos)
          SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
                 g.sxy / g.n - (mi.s / g.n) * (mj.s / g.n) AS cov
          FROM g JOIN mx mi ON mi.pos = g.i
                 JOIN mx mj ON mj.pos = g.j
          ORDER BY i, j""",
    "n04b_cosine_lsh_portable" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 200),
          jit AS (SELECT vec_id,
                    list(val + CASE WHEN substr(md5(
                             'jit42_' || vec_id || '_' || (i - 1)), 1, 1)
                           IN ('0','2','4','6','8','a','c','e')
                         THEN 0.004 ELSE -0.004 END ORDER BY i) AS v
                  FROM (SELECT vec_id, unnest(v) AS val,
                               generate_subscripts(v, 1) AS i FROM base)
                  GROUP BY vec_id),
          e AS (SELECT * FROM base
                UNION ALL
                SELECT vec_id + 1000000 AS vec_id, v FROM jit),
          d AS (SELECT len(v) AS dim FROM base LIMIT 1),
          m AS (SELECT j, list(CASE WHEN substr(
                         md5('rp42_' || i || '_' || j), 1, 1)
                         IN ('0','2','4','6','8','a','c','e')
                       THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
                FROM (SELECT unnest(range(0, (SELECT dim FROM d))) AS i),
                     (SELECT unnest(range(0, 16)) AS j)
                GROUP BY j),
          bits AS (SELECT e.vec_id, m.j,
                     CASE WHEN list_dot_product(e.v, m.sv) >= 0
                          THEN 1 ELSE 0 END AS bit
                   FROM e, m),
          bk AS (SELECT vec_id, j // 4 AS band,
                        CAST(SUM(bit * (1 << (j % 4))) AS BIGINT) AS bucket
                 FROM bits GROUP BY vec_id, j // 4),
          cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                   FROM bk a JOIN bk b
                     ON a.band = b.band AND a.bucket = b.bucket
                       AND a.vec_id < b.vec_id),
          pairs AS (SELECT id_a, id_b,
                      CASE WHEN sqrt(list_dot_product(x.v, x.v)) *
                                sqrt(list_dot_product(y.v, y.v)) = 0 THEN 0.0
                           ELSE list_dot_product(x.v, y.v) /
                                (sqrt(list_dot_product(x.v, x.v)) *
                                 sqrt(list_dot_product(y.v, y.v))) END AS cos
                    FROM cand
                    JOIN e x ON x.vec_id = cand.id_a
                    JOIN e y ON y.vec_id = cand.id_b)
          SELECT id_a, id_b, cos FROM pairs
          WHERE cos >= 0.9 ORDER BY id_a, id_b""",
    "n02b_ivf_portable" -> n02bSql,
    "n08b_pq_portable" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         d AS (SELECT len(v) AS dim FROM e LIMIT 1),
         ds AS (SELECT dim // 8 AS dsub FROM d),
         en AS (SELECT vec_id, v,
                  sqrt(list_dot_product(v, v)) AS nv,
                  CASE WHEN sqrt(list_dot_product(v, v)) > 0
                       THEN list_transform(v,
                         x -> x / sqrt(list_dot_product(v, v)))
                       ELSE v END AS vn
                FROM e),
         bk AS (SELECT s.s, c.c,
                  list(CASE WHEN substr(md5(
                         'pq42_' || s.s || '_' || c.c || '_' || t.t), 1, 1)
                         IN ('0','2','4','6','8','a','c','e')
                       THEN 1.0 / sqrt((SELECT dim FROM d))
                       ELSE -1.0 / sqrt((SELECT dim FROM d))
                       END ORDER BY t.t) AS cw
                FROM (SELECT unnest(range(0, 8)) AS s) s,
                     (SELECT unnest(range(0, 16)) AS c) c,
                     (SELECT unnest(range(0, (SELECT dsub FROM ds))) AS t) t
                GROUP BY s.s, c.c),
         bk2 AS (SELECT s, c, cw, list_dot_product(cw, cw) AS cn2 FROM bk),
         dist AS (SELECT en.vec_id, b.s, b.c,
                  b.cn2 - 2 * list_dot_product(
                    list_slice(en.vn, b.s * (SELECT dsub FROM ds) + 1,
                      (b.s + 1) * (SELECT dsub FROM ds)), b.cw) AS dd
                FROM en, bk2 b),
         code AS (SELECT vec_id, s,
                  list_position(dl, list_min(dl)) - 1 AS code
                FROM (SELECT vec_id, s, list(dd ORDER BY c) AS dl
                      FROM dist GROUP BY vec_id, s)),
         q AS (SELECT vec_id AS query_id, v AS qv, nv AS nq, vn AS qn
               FROM en WHERE vec_id < 5),
         terms AS (SELECT code.vec_id, q.query_id, code.s,
                  b.cn2 - 2 * list_dot_product(
                    list_slice(q.qn, code.s * (SELECT dsub FROM ds) + 1,
                      (code.s + 1) * (SELECT dsub FROM ds)), b.cw) AS tv
                FROM code, q, bk2 b
                WHERE b.s = code.s AND b.c = code.code
                  AND code.vec_id <> q.query_id),
         adc AS (SELECT vec_id, query_id,
                  list_reduce(list(tv ORDER BY s), (a, b) -> a + b) AS adc
                FROM terms GROUP BY vec_id, query_id),
         short AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY adc, vec_id) AS rn
                  FROM adc) WHERE rn <= 100),
         rer AS (SELECT sh.query_id, sh.vec_id,
                  CASE WHEN c.nv * q.nq = 0 THEN 0.0
                       ELSE list_dot_product(c.v, q.qv) / (c.nv * q.nq)
                  END AS cos
                FROM short sh
                JOIN en c ON c.vec_id = sh.vec_id
                JOIN q ON q.query_id = sh.query_id),
         ranked AS (SELECT query_id, vec_id, cos,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, vec_id ASC) AS rank
                FROM rer)
         SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",
    "n06b_semdedup_portable" ->
      """WITH RECURSIVE
         base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id < 200),
         e AS (SELECT * FROM base
               UNION ALL
               SELECT vec_id + 1000000 AS vec_id, v FROM base
               WHERE vec_id % 5 = 0),
         d AS (SELECT len(v) AS dim FROM base LIMIT 1),
         pl AS (SELECT j, list(CASE WHEN substr(
                        md5('rp42_' || i || '_' || j), 1, 1)
                        IN ('0','2','4','6','8','a','c','e')
                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
               FROM (SELECT unnest(range(0, (SELECT dim FROM d))) AS i),
                    (SELECT unnest(range(0, 3)) AS j)
               GROUP BY j),
         pr AS (SELECT c, list(CASE WHEN substr(
                        md5('rp5042_' || i || '_' || c), 1, 1)
                        IN ('0','2','4','6','8','a','c','e')
                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
               FROM (SELECT unnest(range(0, (SELECT dim FROM d))) AS i),
                    (SELECT unnest(range(0, 8)) AS c)
               GROUP BY c),
         cl AS (SELECT e.vec_id, e.v,
                  sqrt(list_dot_product(e.v, e.v)) AS nv,
                  SUM(CASE WHEN list_dot_product(e.v, pl.sv) >= 0
                        THEN (1 << pl.j) ELSE 0 END) AS cluster
                FROM e, pl GROUP BY e.vec_id, e.v),
         wc AS (SELECT cl.vec_id, cl.v, cl.nv, cl.cluster,
                  CASE WHEN cl.nv = 0 THEN 0.0
                       ELSE list_dot_product(cl.v, pr.sv) /
                            (cl.nv * sqrt((SELECT dim FROM d)))
                  END AS cent_cos
                FROM cl JOIN pr ON pr.c = cl.cluster),
         edges0 AS (SELECT a.vec_id AS a, b.vec_id AS b
                    FROM wc a JOIN wc b
                      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                    WHERE (CASE WHEN a.nv * b.nv = 0 THEN 0.0
                                ELSE list_dot_product(a.v, b.v) /
                                     (a.nv * b.nv) END) >= 0.95),
         edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
         reach(id, r) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT e2.b, reach.r FROM reach JOIN edges e2
             ON e2.a = reach.id),
         comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         keep AS (SELECT vec_id FROM (
                    SELECT wc.vec_id,
                      ROW_NUMBER() OVER (PARTITION BY comp.component
                        ORDER BY wc.cent_cos, wc.vec_id) AS rn
                    FROM wc JOIN comp ON comp.id = wc.vec_id)
                  WHERE rn = 1)
         SELECT wc.vec_id, CAST(wc.cluster AS INT) AS cluster, wc.cent_cos
         FROM wc LEFT JOIN comp ON comp.id = wc.vec_id
         WHERE comp.id IS NULL
            OR wc.vec_id IN (SELECT vec_id FROM keep)
         ORDER BY vec_id""",
    "n03_cosine_neardups" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE vec_id < 200)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                           sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                      ELSE $cosSql END AS cos
          FROM e a, e b
          WHERE a.vec_id < b.vec_id
            AND CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0.0
                     ELSE $cosSql END >= 0.35
          ORDER BY id_a, id_b"""
  )
}
