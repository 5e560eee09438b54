package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Sampling

/** Deterministic sampling coverage (portable md5 mode — the DuckDB
  * oracle draws the identical sample; XXH64 mode is spec-gated in
  * SamplingSpec).
  */
object SamplingQueries extends QuerySet {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Temporal 80/20 split with a 1-hour embargo band: train strictly
    // before, test strictly after, the leakage-adjacent hour discarded.
    // The boundary is an exact integer first-rank rule (no percentile
    // interpolation), so DuckDB restates the same timestamp.
    "sm10_temporal_split" -> ((s, d) =>
      Sampling.temporalSplit(
        // null-ts rows would form a null split group the oracle's
        // `ts IS NOT NULL` excludes — drop them on BOTH sides so a
        // testdata drift to nullable clocks can't silently diverge
        Tables.eventsMicros(s, d).select(col("user_id"), col("ts_us"))
          .filter(col("ts_us").isNotNull),
        "ts_us", pctNum = 4, pctDen = 5, embargoMicros = 3600000000L)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          min(col("ts_us")).as("min_ts"),
          max(col("ts_us")).as("max_ts"),
          sum(col("user_id")).as("uid_checksum"))
        .orderBy(col("split"))),

    // A-ES weighted sample without replacement: the 300 docs with the
    // largest ln(u)/n_chars priority — char-weighted inclusion, drawn
    // deterministically from the id's md5. The oracle rebuilds u from
    // the same 13 hex chars (integer bit-fold, exact double) and must
    // select the IDENTICAL kept set.
    "sm11_weighted_sample" -> ((s, d) =>
      Sampling.weightedSample(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", k = 300, portable = true)
        .orderBy(col("doc_id"))),

    // Greedy k-center coreset (farthest-point traversal) over the
    // first 200 embeddings: seed at the lowest id, then 4 picks of the
    // point farthest (squared L2) from its nearest chosen center —
    // diverse-subset selection under a budget. The oracle unrolls each
    // greedy step as a CTE (the n14 discipline) on the same raw-double
    // distance tree.
    "sm13_kcenter_coreset" -> ((s, d) =>
      graft.ops.Similarity.kCenterCoreset(
        // CAP: probe cover=coreset
        Tables.embeddings(s, d).filter(col("vec_id") < 200),
        "vec_id", "embedding", k = 5)
        .orderBy(col("pick"))),

    // Per-language weighted quota: the 15 heaviest-priority docs of
    // EACH language under the A-ES char weighting — selection on the
    // bounded TopKAgg heap (no per-stratum window), the oracle's
    // ROW_NUMBER over the identically-rebuilt priorities must pick
    // the same rows in the same order.
    "sm12_weighted_stratified" -> ((s, d) =>
      Sampling.weightedSamplePerGroup(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        "lang", "doc_id", "n_chars", n = 15, portable = true)
        .orderBy(col("grp"), col("rank"))),

    // ~20% deterministic corpus sample, per-lang survivor stats.
    "sm01_hash_sample" -> ((s, d) =>
      Sampling.hashSample(
        Tables.documents(s, d).select("doc_id", "lang"),
        "doc_id", fraction = 0.2, portable = true)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))),

    // exactly 20 docs per language, chosen in id-hash order.
    "sm02_stratified_take" -> ((s, d) =>
      Sampling.stratifiedTake(
        Tables.documents(s, d).select("doc_id", "lang"),
        "lang", "doc_id", n = 20, portable = true)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))),

    // per-domain cap (at most 15 docs per source) via the window-free
    // TopKAgg path — element-level: the full kept (source, doc_id) set
    // must hash-match DuckDB's ROW_NUMBER statement of the same rule.
    "sm09_cap_per_group" -> ((s, d) =>
      Sampling.capPerGroup(
        Tables.documents(s, d).select("doc_id", "source"),
        "source", "doc_id", n = 15, portable = true)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))),

    // 80/10/10 train/val/test assignment as a pure id-hash function —
    // rerun-/append-/engine-stable (the property randomSplit lacks).
    "sm03_split_assign" -> ((s, d) =>
      Sampling.assignSplit(
        Tables.documents(s, d).select("doc_id", "lang"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), portable = true)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"))),

    // Deterministic data mixture: sample langs down to 50/20/20/10
    // proportions at the largest feasible total (binding source keeps
    // all rows); 'es' has no weight and drops.
    "sm04_mix_corpus" -> ((s, d) =>
      Sampling.mixCorpus(Tables.documents(s, d).select("doc_id", "lang"),
        "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.2, "fr" -> 0.1),
        portable = true)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))),

    // Temperature-smoothed mixture (XLM-R α=0.5): target proportions
    // ∝ √n_s — the dominant source (en) downsamples, the tail keeps
    // everything (binding sources at fraction 1.0). sqrt is
    // correctly-rounded IEEE → thresholds engine-exact in portable
    // mode, same contract as sm04.
    "sm06_mix_temperature" -> ((s, d) =>
      Sampling.mixCorpusTemperature(
        Tables.documents(s, d).select("doc_id", "lang"),
        "lang", "doc_id", alpha = 0.5, portable = true)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))),

    // Deterministic training shuffle, sharded: 16 md5-prefix shards,
    // per-shard hash order. Reading (shard, pos) ascending replays one
    // global pseudorandom permutation with NO global sort — the
    // epoch-assembly layout. The full (shard, pos, doc) map is the
    // oracle row set, so the permutation itself is hash-checked.
    "sm07_shuffle_shards" -> ((s, d) =>
      Sampling.shuffleShards(
        Tables.documents(s, d).select("doc_id", "lang"),
        "doc_id", shardChars = 1, portable = true)
        .select(col("shard"), col("pos"), col("doc_id"), col("lang"))
        .orderBy(col("shard"), col("pos"))),

    // Deterministic budget fill: pseudorandom docs in id-hash order
    // until 8000 cumulative tokens — the epoch-assembly / ablation
    // subset op. Running totals come from the windowless bucketed
    // prefix sums, so no global sort ever runs.
    "sm08_budget_fill" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        graft.ops.TextAnalysis.tokenCount(col("text")).as("n_tok"))
      Sampling.sampleToBudget(docs, "doc_id", "n_tok", budget = 8000L,
        portable = true)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok_sum"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    }),

    // DSIR importance weights: English docs play the curated target
    // distribution; every doc scores Σ log[p_target/p_raw] over its
    // hashed (md5-bucket) unigram+bigram features. The bucket
    // histograms and gram streams are engine-exact; only ln() is
    // transcendental, absorbed by integer weight bands (t12
    // precedent). English docs should land in positive bands, other
    // langs negative — the per-(lang, band) counts pin both the model
    // and the scoring join.
    "sm05_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      val target = docs.filter(col("lang") === "en")
      graft.ops.Dsir.importanceWeights(docs, target, "text", "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(col("lang"), floor(col("weight")).cast("long").as("band"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("band"))
    })
  )

  def oracle: Map[String, String] = Map(
    "sm10_temporal_split" ->
      """WITH v AS (SELECT user_id, epoch_us(ts) AS t FROM events
                    WHERE ts IS NOT NULL),
         c AS (SELECT t, COUNT(*) AS cnt FROM v GROUP BY 1),
         cum AS (SELECT t, cnt,
                   SUM(cnt) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                     AS cum,
                   SUM(cnt) OVER () AS n FROM c),
         thr AS (SELECT MIN(t) AS thr FROM cum
                 WHERE cum >= (n * 4 + 4) // 5)
         SELECT CASE WHEN t <= thr - 3600000000 THEN 'train'
                     WHEN t > thr THEN 'test'
                     ELSE 'embargo' END AS split,
                COUNT(*) AS n, MIN(t) AS min_ts, MAX(t) AS max_ts,
                CAST(SUM(user_id) AS BIGINT) AS uid_checksum
         FROM v CROSS JOIN thr GROUP BY 1 ORDER BY 1""",
    "sm13_kcenter_coreset" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id < 200),
         p1 AS (SELECT vec_id, v FROM e
                WHERE vec_id = (SELECT min(vec_id) FROM e)),
         d2 AS (SELECT a.vec_id,
                  MIN(list_dot_product(a.v, a.v)
                      + list_dot_product(c.v, c.v)
                      - 2.0 * list_dot_product(a.v, c.v)) AS md
                FROM e a, (SELECT v FROM p1) c
                WHERE a.vec_id NOT IN (SELECT vec_id FROM p1)
                GROUP BY a.vec_id),
         p2 AS (SELECT d.vec_id, e.v, d.md
                FROM d2 d JOIN e ON e.vec_id = d.vec_id
                ORDER BY d.md DESC, d.vec_id LIMIT 1),
         d3 AS (SELECT a.vec_id,
                  MIN(list_dot_product(a.v, a.v)
                      + list_dot_product(c.v, c.v)
                      - 2.0 * list_dot_product(a.v, c.v)) AS md
                FROM e a, (SELECT v FROM p1 UNION ALL SELECT v FROM p2) c
                WHERE a.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2)
                GROUP BY a.vec_id),
         p3 AS (SELECT d.vec_id, e.v, d.md
                FROM d3 d JOIN e ON e.vec_id = d.vec_id
                ORDER BY d.md DESC, d.vec_id LIMIT 1),
         d4 AS (SELECT a.vec_id,
                  MIN(list_dot_product(a.v, a.v)
                      + list_dot_product(c.v, c.v)
                      - 2.0 * list_dot_product(a.v, c.v)) AS md
                FROM e a, (SELECT v FROM p1 UNION ALL SELECT v FROM p2 UNION ALL SELECT v FROM p3) c
                WHERE a.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3)
                GROUP BY a.vec_id),
         p4 AS (SELECT d.vec_id, e.v, d.md
                FROM d4 d JOIN e ON e.vec_id = d.vec_id
                ORDER BY d.md DESC, d.vec_id LIMIT 1),
         d5 AS (SELECT a.vec_id,
                  MIN(list_dot_product(a.v, a.v)
                      + list_dot_product(c.v, c.v)
                      - 2.0 * list_dot_product(a.v, c.v)) AS md
                FROM e a, (SELECT v FROM p1 UNION ALL SELECT v FROM p2 UNION ALL SELECT v FROM p3 UNION ALL SELECT v FROM p4) c
                WHERE a.vec_id NOT IN (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3 UNION ALL SELECT vec_id FROM p4)
                GROUP BY a.vec_id),
         p5 AS (SELECT d.vec_id, e.v, d.md
                FROM d5 d JOIN e ON e.vec_id = d.vec_id
                ORDER BY d.md DESC, d.vec_id LIMIT 1)
         SELECT CAST(1 AS INT) AS pick, vec_id,
                CAST(NULL AS DOUBLE) AS d2 FROM p1
         UNION ALL SELECT CAST(2 AS INT), vec_id, round(md, 9) FROM p2
         UNION ALL SELECT CAST(3 AS INT), vec_id, round(md, 9) FROM p3
         UNION ALL SELECT CAST(4 AS INT), vec_id, round(md, 9) FROM p4
         UNION ALL SELECT CAST(5 AS INT), vec_id, round(md, 9) FROM p5
         ORDER BY pick""",

    "sm12_weighted_stratified" ->
      """WITH h AS (
           SELECT doc_id, lang,
                  substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 13) AS hx,
                  n_chars
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         v AS (
           SELECT doc_id, lang, n_chars,
                  list_sum(list_transform(range(0, 13), i ->
                    CAST(strpos('0123456789abcdef',
                         substr(hx, CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
                      * (CAST(1 AS BIGINT)
                         << CAST(4 * (12 - i) AS INT)))) AS vv
           FROM h),
         p AS (
           SELECT doc_id, lang,
                  ln((CAST(vv AS DOUBLE) + 0.5) / 4503599627370496.0)
                    / CAST(n_chars AS DOUBLE) AS pri
           FROM v),
         r AS (
           SELECT lang AS grp, doc_id AS id,
                  ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY pri DESC, doc_id) AS rank
           FROM p)
         SELECT grp, id, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 15
         ORDER BY grp, rank""",
    "sm11_weighted_sample" ->
      """WITH h AS (
           SELECT doc_id, lang, n_chars,
                  substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 13) AS hx
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         v AS (
           SELECT doc_id, lang, n_chars,
                  list_sum(list_transform(range(0, 13), i ->
                    CAST(strpos('0123456789abcdef',
                         substr(hx, CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
                      * (CAST(1 AS BIGINT)
                         << CAST(4 * (12 - i) AS INT)))) AS vv
           FROM h),
         p AS (
           SELECT doc_id, lang, n_chars,
                  ln((CAST(vv AS DOUBLE) + 0.5) / 4503599627370496.0)
                    / CAST(n_chars AS DOUBLE) AS pri
           FROM v),
         k AS (SELECT doc_id, lang, n_chars
               FROM p ORDER BY pri DESC, doc_id LIMIT 300)
         SELECT doc_id, lang, n_chars FROM k ORDER BY doc_id""",
    "sm01_hash_sample" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM documents
         WHERE substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
         GROUP BY lang ORDER BY lang""",
    "sm02_stratified_take" ->
      """WITH r AS (
           SELECT lang, doc_id,
                  ROW_NUMBER() OVER (
                    PARTITION BY lang
                    ORDER BY substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8),
                             doc_id) AS rn
           FROM documents)
         SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM r WHERE rn <= 20
         GROUP BY lang ORDER BY lang""",
    "sm09_cap_per_group" ->
      """WITH r AS (
           SELECT source, doc_id,
                  ROW_NUMBER() OVER (
                    PARTITION BY source
                    ORDER BY substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8),
                             doc_id) AS rn
           FROM documents)
         SELECT source, doc_id FROM r WHERE rn <= 15
         ORDER BY source, doc_id""",
    "sm03_split_assign" ->
      """SELECT split, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM (SELECT doc_id,
                 CASE WHEN substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                        < 'cccccccc' THEN 'train'
                      WHEN substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                        < 'e6666666' THEN 'val'
                      ELSE 'test' END AS split
               FROM documents)
         GROUP BY split ORDER BY split""",
    "sm04_mix_corpus" ->
      """WITH w(src, wt) AS (VALUES ('en', 0.5), ('zh', 0.2),
                                    ('de', 0.2), ('fr', 0.1)),
         c AS (SELECT lang AS src, COUNT(*) AS n
               FROM documents JOIN w ON lang = w.src GROUP BY lang),
         k AS (SELECT MIN(n / wt) AS k FROM c JOIN w USING (src)),
         fr AS (SELECT src, k * wt / n AS f
                FROM c JOIN w USING (src) CROSS JOIN k),
         sel AS (
           SELECT d.doc_id, d.lang
           FROM documents d JOIN fr ON d.lang = fr.src
           WHERE f >= 1.0 OR substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) <
                 printf('%08x', CAST(floor(f * 4294967296.0) AS BIGINT)))
         SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM sel GROUP BY lang ORDER BY lang""",
    "sm06_mix_temperature" ->
      """WITH c AS (SELECT lang AS src, COUNT(*) AS n
                    FROM documents GROUP BY lang),
         w AS (SELECT src, n, sqrt(CAST(n AS DOUBLE)) AS wt FROM c),
         k AS (SELECT MIN(n / wt) AS k FROM w),
         fr AS (SELECT src, k.k * wt / n AS f FROM w CROSS JOIN k),
         sel AS (
           SELECT d.doc_id, d.lang
           FROM documents d JOIN fr ON d.lang = fr.src
           WHERE f >= 1.0 OR substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8) <
                 printf('%08x', CAST(floor(f * 4294967296.0) AS BIGINT)))
         SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM sel GROUP BY lang ORDER BY lang""",
    "sm08_budget_fill" ->
      """WITH t AS (SELECT doc_id, lang,
                      len(string_split_regex(trim(text), '\s+')) AS n_tok,
                      substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12) AS k
                    FROM documents),
         c AS (SELECT *, SUM(n_tok) OVER (ORDER BY k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM t)
         SELECT lang, COUNT(*) AS n,
                CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM c WHERE cum <= 8000
         GROUP BY lang ORDER BY lang""",
    "sm07_shuffle_shards" ->
      """SELECT substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                CAST(ROW_NUMBER() OVER (
                  PARTITION BY substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 1)
                  ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
                  AS BIGINT) AS pos,
                doc_id, lang
         FROM documents
         ORDER BY shard, pos""",
    "sm05_dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang,
                      string_split_regex(trim(lower(text)), '\s+') AS toks
                    FROM documents),
         g AS (SELECT doc_id, lang,
                 CASE WHEN len(toks) < 2 THEN toks
                      ELSE list_concat(toks,
                        list_transform(range(0, len(toks) - 1),
                          i -> toks[i+1] || ' ' || toks[i+2]))
                 END AS grams
               FROM t),
         f AS (SELECT doc_id, lang, substr(md5(gram), 1, 3) AS bucket
               FROM (SELECT doc_id, lang, unnest(grams) AS gram FROM g)),
         ab AS (SELECT printf('%03x', i) AS bucket
                FROM (SELECT unnest(range(0, 4096)) AS i)),
         tc AS (SELECT bucket, COUNT(*) AS n FROM f WHERE lang = 'en'
                GROUP BY bucket),
         rc AS (SELECT bucket, COUNT(*) AS n FROM f GROUP BY bucket),
         tt AS (SELECT COUNT(*) AS total FROM f WHERE lang = 'en'),
         rt AS (SELECT COUNT(*) AS total FROM f),
         model AS (SELECT ab.bucket,
                     ln((COALESCE(tc.n, 0) + 1.0) / (tt.total + 4096.0)) -
                     ln((COALESCE(rc.n, 0) + 1.0) / (rt.total + 4096.0))
                       AS lr
                   FROM ab
                   LEFT JOIN tc USING (bucket)
                   LEFT JOIN rc USING (bucket)
                   CROSS JOIN tt CROSS JOIN rt),
         w AS (SELECT f.doc_id, f.lang, SUM(m.lr) AS weight
               FROM f JOIN model m USING (bucket)
               GROUP BY f.doc_id, f.lang)
         SELECT lang, CAST(floor(weight) AS BIGINT) AS band,
                COUNT(*) AS n_docs
         FROM w GROUP BY lang, band ORDER BY lang, band"""
  )
}
