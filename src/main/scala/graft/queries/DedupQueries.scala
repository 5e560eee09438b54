package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Sampling}

/** Deduplication coverage over the documents table: exact groups,
  * exact n-gram Jaccard (oracle-checked), MinHash-LSH and SimHash
  * (banded paths — not DuckDB-expressible, rows-only + DedupSpec).
  */
object DedupQueries extends QuerySet {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup over a corpus with planted duplicates (the table
    // unioned with itself under shifted ids).
    "d01_exact_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val withDups = docs.union(
        docs.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exactGroups(withDups, "text", "doc_id")
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_copies")).as("n_rows"),
          sum(when(col("n_copies") >= 2, 1L).otherwise(0L)).as("n_dup_groups"),
          min(col("rep_id")).as("min_rep"))
    }),

    // Benchmark decontamination: every 17th doc plays the "benchmark"
    // blocklist; docs sharing ≥ half their distinct 3-gram shingles with
    // any blocklist doc (the planted members themselves + near-copies)
    // are dropped. Survivor counts + id sums per lang.
    "d06_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      val bench = docs.filter(col("doc_id") % 17 === 0)
      Dedup.decontaminate(docs, bench, "text", "doc_id",
        n = 3, threshold = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_survivors"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    }),

    // Bloom-pruned decontamination (the huge-blocklist scale path):
    // every 13th doc is the blocklist; candidate shingles are pruned by
    // a BloomFilterAggregate-built filter, then exactly verified — the
    // oracle is the same EXACT semantics (bloom affects cost, not rows).
    "d09_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      val bench = docs.filter(col("doc_id") % 13 === 0)
      val cached = Dedup.decontaminateBloomCached(docs, bench, "text",
        "doc_id", n = 3, threshold = 0.4, fpp = 0.01)
      cached.df
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_survivors"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    }),

    // Blocklist-overlap REPORT (the audit form of decontamination):
    // per-doc overlapping-shingle counts against the every-19th-doc
    // blocklist — blocklist members score total overlap; near-copies
    // partial. Spark joins 8-byte xxhash64 shingle keys; the oracle
    // joins the shingle STRINGS (identical membership semantics, the
    // d06 contract).
    "d10_overlap_score" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 19 === 0)
      Dedup.overlapScores(docs, bench, "text", "doc_id", n = 3)
        .orderBy(col("doc_id"))
    }),

    // EXACT Jaccard set-similarity join via prefix filtering (AllPairs/
    // PPJoin): recall-1.0 scale path — global df order, rarest-first
    // prefixes index the corpus, candidate equi-join + integer-exact
    // verify. Planted first-word-dropped copies must all pair with
    // their originals; the oracle replays df → order → prefix →
    // candidates → verify stage-for-stage in DuckDB.
    // Asymmetric containment: planted 20-token excerpts (quote-like
    // re-posts, doc_id + 3000000) are >= 4/5-contained in their source
    // docs while their JACCARD stays far below any near-dup threshold
    // — the rule d02/d14 structurally cannot fire on. Prefix-filtered
    // R-S join (only the contained side prunes), integer-exact verify,
    // brute theta-join oracle.
    "d20_containment" -> ((s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "text")
        // CAP: probe cover=prefix
        .filter(col("doc_id") < 150)
      val excerpts = base
        .withColumn("doc_id", col("doc_id") + 3000000)
        .withColumn("text",
          array_join(slice(split(trim(lower(col("text"))), "\\s+"),
            1, 20), " "))
      Dedup.containmentJoin(base.unionByName(excerpts), "text", "doc_id",
        n = 3, tauNum = 4, tauDen = 5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Multi-pass sorted-neighborhood blocking (Hernández–Stolfo):
    // d15's corpus (3-token names + first-char-dropped twins) through
    // the OTHER classic candidate generator — sort by packed key,
    // pair within a w=12 window, union a forward and a REVERSED-key
    // pass (the reversal is what catches leading-char edits, the 1995
    // paper's argument for multi-pass), levenshtein-verify. Rank comes
    // from the bucketed prefix-sum (no global window); pairing is an
    // equi-join on pos-div-w blocks, volume ≤ n·(w−1) by construction.
    "d21_sorted_neighborhood" -> ((s, d) => {
      val base = Tables.documents(s, d)
        // CAP: probe cover=sn
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          array_join(slice(split(trim(lower(col("text"))), "\\s+"),
            1, 3), " ").as("name"))
      val noisy = base.select((col("doc_id") + 1000000).as("doc_id"),
        expr("substring(name, 2)").as("name"))
      // r13: EAGER pin — `all` feeds SIX subtrees (two passes' packed
      // keys, each pass's uniqueness-check action, and both name-join
      // branches), and each one re-ran the documents scan + tokenize
      // chain (the e01/g09 lazy-persist race). Node-bounded here
      // (bench cap 600 rows); past the bound materializeBounded falls
      // back to the eagerly materialized persisted frame.
      val all = graft.ops.Layout.materializeBounded(
        base.unionByName(noisy), maxRows = 10000000L)
      // reversed pass pre-folds to ASCII (ADVICE r11): Spark reverses
      // codepoints, DuckDB grapheme clusters — dropping non-ASCII
      // codepoints first makes the two reversals provably identical
      // (no-op on this corpus; the packing already folds mod 128)
      val cand = graft.ops.SortedNeighborhood.multiPass(
        all.filter(col("name").isNotNull), "doc_id",
        Seq("fwd" -> col("name"),
          "rev" -> reverse(regexp_replace(col("name"),
            "[^\\x00-\\x7F]", ""))), w = 12)
      val named = all.select(col("doc_id"), col("name"))
      cand
        .join(named.select(col("doc_id").as("id_a"),
          col("name").as("name_a")), Seq("id_a"))
        .join(named.select(col("doc_id").as("id_b"),
          col("name").as("name_b")), Seq("id_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 2)
        .select(col("id_a"), col("id_b"), col("found_fwd"),
          col("found_rev"), col("dist").cast("long").as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "d14_setjoin_prefix" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        // CAP: probe cover=vocab
        .filter(col("doc_id") < 400)
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text",
          expr("substring(text, instr(text, ' ') + 1)"))
      Dedup.setSimilarityJoin(docs.union(mutated), "text", "doc_id",
        n = 3, tauNum = 3, tauDen = 5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Entity resolution: 3-token "entity names" plus first-char-dropped
    // noisy twins resolve to canonical entities via suffix blocking +
    // levenshtein verify + transitive closure — every noisy twin must
    // land in its original's entity, and the whole pipeline (blocking,
    // edit distance, min-label closure, total mapping) replays in
    // DuckDB. Output = per-entity size and member checksum.
    "d15_entity_resolution" -> ((s, d) => {
      // CAP: probe cover=entity
      val base = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"),
          array_join(slice(split(trim(lower(col("text"))), "\\s+"),
            1, 3), " ").as("name"))
      val noisy = base.select((col("doc_id") + 1000000).as("doc_id"),
        expr("substring(name, 2)").as("name"))
      graft.ops.FuzzyJoin.resolveEntities(base.union(noisy),
        "doc_id", "name", blockChars = 8, maxDist = 2)
        .groupBy(col("entity_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("id")).as("id_checksum"))
        .orderBy(col("entity_id"))
    }),

    // MinHash estimator calibration: per signature-agreement level,
    // candidate-pair counts and EXACT overlap integer sums — the
    // "does matches/k actually track Jaccard on THIS corpus" audit,
    // fully replayed by DuckDB in portable mode.
    "d16_minhash_calibration" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        // CAP: baseline cover=d02_minhash_lsh
        .filter(col("doc_id") < 300)
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text",
          expr("substring(text, instr(text, ' ') + 1)"))
      Dedup.minhashCalibration(docs.union(mutated), "text", "doc_id",
        shingleSize = 3, numHashes = 8, bands = 4)
        .orderBy(col("matches"))
    }),

    // Typo-tolerant decontamination: probes are 40-char doc prefixes
    // with one character deleted (a light crawl mutation); the Ed-Join
    // q-gram prefix filter (rarest-corpus-gram order, occurrence-
    // tagged) blocks candidates, exact levenshtein verifies. The
    // oracle states the plain θ-join — the filter chain only prunes —
    // and replays the operator's length >= q(τ+1) = 9 exclusion
    // contract (latent here: doc texts are all >= 48 chars).
    "d17_fuzzy_decontaminate" -> ((s, d) => {
      val corpus = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("str"))
      val probes = corpus.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("probe_id"),
          concat(substring(col("str"), 1, 7),
            expr("substring(str, 9)")).as("pstr"))
      graft.ops.FuzzyJoin.editDistanceLookupCached(corpus, "doc_id", "str",
          probes, "probe_id", "pstr", maxDist = 2, q = 3)
        .df.orderBy(col("probe_id"), col("corpus_id"))
    }),

    // Content-defined chunking dedup: every doc re-enters with a
    // 3-token noise prefix; CDC boundaries re-synchronize right after
    // the edit, so most of each copy's chunks dedupe against the
    // original — the property fixed blocks and line dedup lack.
    "d19_cdc_chunks" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        // CAP: probe cover=cdc
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 300)
      val noisy = docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("zq noise prefix "), col("text")).as("text"))
      Dedup.cdcChunkCoverage(docs.union(noisy), "doc_id", "text", g = 3)
        .orderBy(col("doc_id"))
    }),

    // Exact word-3-gram Jaccard pairs over a bounded subset — the
    // un-banded correctness baseline for the LSH paths.
    "d03_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        // CAP: baseline cover=d02_minhash_lsh
        Tables.documents(s, d).filter(col("doc_id") < 100),
        "text", "doc_id", n = 3, threshold = 0.015)
        .orderBy(col("id_a"), col("id_b"))),

    // MinHash+LSH near-dups: banded candidate generation + exact-Jaccard
    // verify. xxhash64 signatures are not DuckDB-expressible → rows-only
    // here; recall/precision asserted in DedupSpec on planted near-dups.
    "d02_minhash_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // plant near-duplicates: copies with the first word dropped
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text",
          expr("substring(text, instr(text, ' ') + 1)"))
      Dedup.minhashNearDups(docs.union(mutated), "text", "doc_id",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("id_b") - col("id_a") === 1000000, 1L).otherwise(0L))
            .as("n_planted_found"))
    }),

    // MinHash+LSH in engine-portable md5 mode: signatures, band
    // buckets, candidate pairs AND the exact-Jaccard verify are all
    // recomputed verbatim by the DuckDB oracle — the full banded
    // pipeline on the hash-exact signal (d02 keeps the XXH64 perf
    // path, gated rows-only + DedupSpec).
    "d02b_minhash_portable" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        // CAP: baseline cover=d02_minhash_lsh
        .filter(col("doc_id") < 300)
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text",
          expr("substring(text, instr(text, ' ') + 1)"))
      Dedup.minhashNearDupsPortable(docs.union(mutated), "text", "doc_id",
        shingleSize = 3, numHashes = 8, bands = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Cluster-safe split (leakage-safe train/test assignment): near-dup
    // CLUSTERS — not documents — are the split unit, so a test example
    // can never have a near-copy in train (the contamination the d06
    // decontamination pass exists to catch, prevented structurally at
    // split time). Composition of three oracle-proven pieces: portable
    // MinHash-LSH pairs → connected components (min-label fixpoint) →
    // md5 hash-range split on the COMPONENT id; singletons split by
    // their own id. The whole chain — signatures, buckets, Jaccard
    // verify, the recursive fixpoint, the split thresholds — is
    // restated by the DuckDB oracle.
    "c02_cluster_safe_split" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        // CAP: slice cover=d05_dedup_clustered
        .filter(col("doc_id") < 300)
      val corpus = docs.union(docs
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", expr("substring(text, instr(text, ' ') + 1)")))
      val pairs = Dedup.minhashNearDupsPortable(corpus, "text", "doc_id",
        shingleSize = 3, numHashes = 8, bands = 4, threshold = 0.5)
      val labels = Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")))
      val grouped = corpus.select("doc_id")
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
          "left")
        .withColumn("grp", coalesce(col("component"), col("doc_id")))
      Sampling.assignSplit(grouped, "grp",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), portable = true)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_groups"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy(col("split"))
    }),

    // Incremental near-dup: a crawl-increment batch (first-word-dropped
    // copies of every 5th doc) checked against the standing corpus —
    // every planted copy must flag, most against their exact source.
    // xxhash64 signatures → rows-only; invariants in PipelineOpsSpec.
    "d07_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", expr("substring(text, instr(text, ' ') + 1)"))
      Dedup.minhashNearDupsAgainst(batch, docs, "text", "doc_id",
        threshold = 0.5)
        .agg(count(lit(1)).as("n_flagged"),
          sum(when(col("batch_id") - 2000000 === col("corpus_id"), 1L)
            .otherwise(0L)).as("n_exact_source"))
    }),

    // Clustered dedup: pairs → connected components → one representative
    // per cluster. The edge list is DETERMINISTIC and SQL-expressible —
    // copy edges (doc ↔ its planted duplicate) plus id-chains linking
    // runs of 5 consecutive originals — so the min-label clustering
    // itself is oracle-checked against a DuckDB recursive-CTE fixpoint,
    // including multi-hop merges (~6 propagation iterations). LSH pair
    // GENERATION is separately gated by d02/d04 (xxhash64 signatures
    // aren't DuckDB-expressible) and the minhash→components integration
    // by ComponentsSpec's end-to-end test.
    "d05_dedup_clustered" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val doubled = docs.union(
        docs.withColumn("doc_id", col("doc_id") + 1000000))
      val copyEdges = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + 1000000).as("id_b"))
      val chainEdges = docs.as("x")
        .join(docs.as("y"), col("y.doc_id") === col("x.doc_id") + 1)
        .filter(col("x.doc_id") % 5 =!= 4)
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      val deduped = Dedup.dedupByComponents(doubled, "doc_id",
        copyEdges.union(chainEdges))
      deduped.agg(count(lit(1)).as("n_kept"),
        sum(when(col("doc_id") >= 1000000, 1L).otherwise(0L))
          .as("n_copy_survivors"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
    }),

    // Repeated-span REMOVAL (Lee et al. 2022 scrub): plant a shared
    // 10-token footer on every 6th doc; each shared 5-token span keeps
    // its first (min-id) occurrence and is scrubbed everywhere else.
    // The word-soup corpus also shares ~1k NATURAL 5-gram spans, so
    // the oracle exercises both planted and organic repeats — per-doc
    // token counts and the md5 of every rebuilt text hash-exact
    // (fully-covered docs drop; DuckDB replays the whole scrub).
    "d13_passage_scrub" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .withColumn("text",
          when(col("doc_id") % 6 === 0,
            concat(col("text"),
              lit(" exactly repeated footer tokens appear verbatim " +
                "across many crawled pages")))
            .otherwise(col("text")))
      Dedup.removeSharedPassages(docs, "text", "doc_id", n = 5,
        minDocs = 2)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_after"),
          md5(col("text").cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Passage-level overlap: every 10th doc gains an identical
    // boilerplate tail — its 5-token passages must surface as shared
    // across ≥2 docs. Passages travel as engine-portable md5 digests,
    // so the whole report is oracle-checked.
    "d08_passage_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
        .withColumn("text",
          when(col("doc_id") % 10 === 0,
            concat(col("text"),
              lit(" shared boilerplate footer appears verbatim on many pages")))
            .otherwise(col("text")))
      Dedup.passageOverlap(docs, "text", "doc_id", n = 5, minDocs = 2)
        .agg(count(lit(1)).as("n_shared_passages"),
          sum(col("n_occurrences")).as("total_occurrences"),
          max(col("n_docs")).as("max_docs"),
          min(col("first_doc")).as("min_first_doc"))
    }),

    // Incremental near-dup in engine-portable md5 mode: the SAME
    // crawl-increment shape as d07 — batch sigs, corpus sigs, band
    // buckets, bipartite candidates, Jaccard verify, best-match
    // election all recomputed verbatim by the DuckDB oracle (d07
    // keeps the XXH64 + bucket-cap production path, rows-only).
    "d07b_incremental_portable" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", expr("substring(text, instr(text, ' ') + 1)"))
      Dedup.minhashNearDupsAgainstPortable(batch, docs, "text", "doc_id",
        shingleSize = 3, numHashes = 8, bands = 4, threshold = 0.5)
        .orderBy(col("batch_id"))
    }),

    // SimHash in engine-portable md5 mode: 32-bit signatures, 4×8-bit
    // band chunks, candidate pairs and the Hamming verify all
    // recomputed verbatim by the DuckDB oracle (d04 keeps the XXH64
    // 64-bit production path, rows-only).
    "d04b_simhash_portable" -> ((s, d) => {
      // bounded subset (the d02b precedent): a coarse 32-bit signature
      // over similar synthetic docs collides heavily, so the UNCAPPED
      // parity pipeline's candidate set grows quadratically with the
      // corpus — the production path (d04) caps buckets instead
      val docs = Tables.documents(s, d).select("doc_id", "text")
        // CAP: baseline cover=d04_simhash
        .filter(col("doc_id") < 1000)
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text",
          expr("substring(text, instr(text, ' ') + 1)"))
      Dedup.simhashNearDupsPortable(docs.union(mutated), "text", "doc_id",
        maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Corpus-level exact line dedup (the CCNet/RefinedWeb boilerplate
    // rule): docs become two lines (first-5-tokens / rest) and every
    // 7th doc gains a shared cookie-banner line; lines appearing in
    // ≥5 distinct docs vanish from ALL docs, survivors keep order.
    // Lines travel as md5 digests → the whole pipeline including
    // reassembly is oracle-checked per doc.
    "d11_line_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val toks = graft.ops.TextAnalysis.tokens(col("text"))
      val multiline = docs.select(col("doc_id"),
        concat_ws("\n",
          array_join(slice(toks, 1, 5), " "),
          array_join(slice(toks, 6, 100000), " ")).as("text"))
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"),
              lit("\nthis site uses cookies accept to continue")))
            .otherwise(col("text")))
      Dedup.lineDedup(multiline, "text", "doc_id", minDocs = 5)
        .select(col("doc_id"),
          size(split(col("text"), "\n")).as("n_lines"),
          length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Cross-source shingle-overlap matrix — the corpus-composition
    // audit: per source pair, shared distinct 3-gram count, each
    // side's vocabulary size, and containment. Spark joins 8-byte
    // xxhash64 shingle keys; the oracle joins shingle strings (the
    // d06/d10 membership-equivalence contract).
    "d12_source_overlap" -> ((s, d) =>
      Dedup.groupOverlapMatrix(
        Tables.documents(s, d).select("source", "text"),
        "text", "source", n = 3)
        .orderBy(col("group_a"), col("group_b"))),

    // SimHash near-dups over the same planted corpus (rows-only).
    "d04_simhash" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val mutated = docs
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text",
          expr("substring(text, instr(text, ' ') + 1)"))
      Dedup.simhashNearDups(docs.union(mutated), "text", "doc_id",
        maxHamming = 3)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("id_b") - col("id_a") === 1000000, 1L).otherwise(0L))
            .as("n_planted_found"))
    })
  )

  private val sh3 =
    """list_distinct(CASE WHEN len(toks) < 3
         THEN [list_aggregate(toks, 'string_agg', ' ')]
         ELSE list_transform(range(0, len(toks) - 2),
                i -> list_aggregate(toks[i+1:i+3], 'string_agg', ' '))
       END)"""

  def oracle: Map[String, String] = Map(
    "d13_passage_scrub" ->
      """WITH base AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 6 = 0
                       THEN text || ' exactly repeated footer tokens ' ||
                            'appear verbatim across many crawled pages'
                       ELSE text END AS text
           FROM documents),
         tk AS (SELECT doc_id,
                       string_split_regex(trim(text), '\s+') AS rt,
                       string_split_regex(trim(lower(text)), '\s+') AS lt
                FROM base),
         sp0 AS (SELECT doc_id, lt,
                        unnest(range(0, len(lt) - 4)) AS pos
                 FROM tk WHERE len(lt) >= 5),
         sp AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                       md5(list_aggregate(lt[pos+1:pos+5],
                                          'string_agg', ' ')) AS key
                FROM sp0),
         shared AS (SELECT key, MIN(doc_id) AS first
                    FROM sp GROUP BY key
                    HAVING COUNT(DISTINCT doc_id) >= 2),
         rm AS (SELECT sp.doc_id, sp.pos
                FROM sp JOIN shared USING (key)
                WHERE sp.doc_id <> shared.first),
         starts AS (SELECT doc_id, list(DISTINCT pos) AS ss
                    FROM rm GROUP BY doc_id),
         rebuilt AS (
           SELECT tk.doc_id,
                  CASE WHEN ss IS NULL THEN tk.rt
                       ELSE list_filter(tk.rt, (x, i) ->
                              len(list_filter(ss, s ->
                                i - 1 >= s AND i - 1 < s + 5)) = 0)
                  END AS kt
           FROM tk LEFT JOIN starts ON tk.doc_id = starts.doc_id)
         SELECT doc_id, CAST(len(kt) AS INT) AS n_after,
                md5(list_aggregate(kt, 'string_agg', ' ')) AS clean_md5
         FROM rebuilt WHERE len(kt) > 0
         ORDER BY doc_id""",
    "d08_passage_overlap" ->
      """WITH docs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 = 0
                       THEN text ||
                         ' shared boilerplate footer appears verbatim on many pages'
                       ELSE text END AS text
           FROM documents),
         t AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\s+') AS toks
               FROM docs),
         p AS (SELECT doc_id,
                      unnest(CASE WHEN len(toks) < 5
                        THEN [list_aggregate(toks, 'string_agg', ' ')]
                        ELSE list_transform(range(0, len(toks) - 4),
                          i -> list_aggregate(toks[i+1:i+5],
                                              'string_agg', ' '))
                      END) AS passage
               FROM t),
         g AS (SELECT md5(passage) AS ph,
                      COUNT(DISTINCT doc_id) AS n_docs,
                      COUNT(*) AS n_occurrences,
                      MIN(doc_id) AS first_doc
               FROM p GROUP BY md5(passage))
         SELECT COUNT(*) AS n_shared_passages,
                CAST(SUM(n_occurrences) AS BIGINT) AS total_occurrences,
                MAX(n_docs) AS max_docs,
                MIN(first_doc) AS min_first_doc
         FROM g WHERE n_docs >= 2""",
    // Min-label connected components as a reachability fixpoint: reach
    // holds (id, reachable id) pairs, UNION-distinct terminates at the
    // transitive closure (components are ~10 nodes, so the closure is
    // tiny); component = min reachable id, dedup keeps each component's
    // rep plus never-paired rows.
    "d05_dedup_clustered" ->
      """WITH RECURSIVE
         u AS (SELECT doc_id FROM documents
               UNION ALL SELECT doc_id + 1000000 FROM documents),
         edges0 AS (
           SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
           UNION ALL
           SELECT x.doc_id AS a, y.doc_id AS b
           FROM documents x JOIN documents y ON y.doc_id = x.doc_id + 1
           WHERE x.doc_id % 5 <> 4),
         edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
         reach(id, r) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         reps AS (SELECT component, MIN(id) AS rep FROM comp
                  GROUP BY component),
         members AS (SELECT comp.id, reps.rep FROM comp
                     JOIN reps USING (component)),
         kept AS (
           SELECT u.doc_id FROM u LEFT JOIN members ON u.doc_id = members.id
           WHERE members.rep IS NULL OR members.rep = u.doc_id)
         SELECT COUNT(*) AS n_kept,
                CAST(SUM(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_copy_survivors,
                CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         FROM kept""",
    "d09_bloom_decontaminate" ->
      s"""WITH t AS (
            SELECT doc_id, lang,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents),
          s AS (SELECT doc_id, lang, $sh3 AS sh FROM t),
          b AS (SELECT DISTINCT unnest(sh) AS bsh FROM s
                WHERE doc_id % 13 = 0),
          e AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
          hits AS (
            SELECT e.doc_id, COUNT(*) AS h
            FROM e JOIN b ON e.sh1 = b.bsh GROUP BY e.doc_id),
          tot AS (SELECT doc_id, len(sh) AS total FROM s),
          contaminated AS (
            SELECT tot.doc_id FROM tot JOIN hits USING (doc_id)
            WHERE CAST(h AS DOUBLE) / total >= 0.4)
          SELECT lang, COUNT(*) AS n_survivors,
                 CAST(SUM(doc_id) AS BIGINT) AS id_sum
          FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
          GROUP BY lang ORDER BY lang""",
    "d10_overlap_score" ->
      s"""WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents),
          s AS (SELECT doc_id, $sh3 AS sh FROM t),
          b AS (SELECT DISTINCT unnest(sh) AS bsh FROM s
                WHERE doc_id % 19 = 0),
          e AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
          hits AS (
            SELECT e.doc_id, COUNT(*) AS n_overlap
            FROM e JOIN b ON e.sh1 = b.bsh GROUP BY e.doc_id)
          SELECT s.doc_id, CAST(len(s.sh) AS INT) AS n_shingles,
                 CAST(hits.n_overlap AS BIGINT) AS n_overlap
          FROM s JOIN hits USING (doc_id)
          ORDER BY s.doc_id""",
    "d06_decontaminate" ->
      s"""WITH t AS (
            SELECT doc_id, lang,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents),
          s AS (SELECT doc_id, lang, $sh3 AS sh FROM t),
          b AS (SELECT DISTINCT unnest(sh) AS bsh FROM s
                WHERE doc_id % 17 = 0),
          e AS (SELECT doc_id, unnest(sh) AS sh1 FROM s),
          hits AS (
            SELECT e.doc_id, COUNT(*) AS h
            FROM e JOIN b ON e.sh1 = b.bsh GROUP BY e.doc_id),
          tot AS (SELECT doc_id, len(sh) AS total FROM s),
          contaminated AS (
            SELECT tot.doc_id FROM tot JOIN hits USING (doc_id)
            WHERE CAST(h AS DOUBLE) / total >= 0.5)
          SELECT lang, COUNT(*) AS n_survivors,
                 CAST(SUM(doc_id) AS BIGINT) AS id_sum
          FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
          GROUP BY lang ORDER BY lang""",
    "d01_exact_dedup" ->
      """WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents),
         g AS (
           SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
           FROM u GROUP BY text)
         SELECT COUNT(*) AS n_groups,
                CAST(SUM(n_copies) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_groups,
                MIN(rep_id) AS min_rep
         FROM g""",
    "d02b_minhash_portable" ->
      s"""WITH base AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 300
            UNION ALL
            SELECT doc_id + 1000000, substr(text, instr(text, ' ') + 1)
            FROM documents WHERE doc_id < 300),
          t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                FROM base),
          s AS (SELECT doc_id, $sh3 AS sh FROM t),
          sig AS (SELECT doc_id, sh,
                    list_transform(range(0, 8), i ->
                      list_aggregate(list_transform(sh,
                        x -> md5(i::VARCHAR || ':' || x)), 'min')) AS sig
                  FROM s),
          bands AS (SELECT doc_id, b,
                      md5(list_aggregate(sig[b*2+1:b*2+2],
                                         'string_agg', ',')) AS bucket
                    FROM sig, (SELECT unnest(range(0, 4)) AS b)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands a JOIN bands b
                     ON a.b = b.b AND a.bucket = b.bucket
                       AND a.doc_id < b.doc_id),
          j AS (SELECT id_a, id_b,
                  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
                    AS jaccard
                FROM cand
                JOIN s x ON x.doc_id = cand.id_a
                JOIN s y ON y.doc_id = cand.id_b)
          SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
          ORDER BY id_a, id_b""",
    "c02_cluster_safe_split" ->
      s"""WITH RECURSIVE base AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 300
            UNION ALL
            SELECT doc_id + 1000000, substr(text, instr(text, ' ') + 1)
            FROM documents WHERE doc_id < 300),
          t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                FROM base),
          s AS (SELECT doc_id, $sh3 AS sh FROM t),
          sig AS (SELECT doc_id, sh,
                    list_transform(range(0, 8), i ->
                      list_aggregate(list_transform(sh,
                        x -> md5(i::VARCHAR || ':' || x)), 'min')) AS sig
                  FROM s),
          bands AS (SELECT doc_id, b,
                      md5(list_aggregate(sig[b*2+1:b*2+2],
                                         'string_agg', ',')) AS bucket
                    FROM sig, (SELECT unnest(range(0, 4)) AS b)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands a JOIN bands b
                     ON a.b = b.b AND a.bucket = b.bucket
                       AND a.doc_id < b.doc_id),
          jp AS (SELECT id_a, id_b,
                   CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                     (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
                     AS jaccard
                 FROM cand
                 JOIN s x ON x.doc_id = cand.id_a
                 JOIN s y ON y.doc_id = cand.id_b),
          p AS (SELECT id_a, id_b FROM jp WHERE jaccard >= 0.5),
          edges AS (SELECT id_a AS a, id_b AS b FROM p
                    UNION SELECT id_b, id_a FROM p),
          reach(id, r) AS (
            SELECT DISTINCT a, a FROM edges
            UNION
            SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
          comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
          grouped AS (SELECT base.doc_id,
                             COALESCE(comp.component, base.doc_id) AS grp
                      FROM base LEFT JOIN comp ON comp.id = base.doc_id),
          assigned AS (SELECT doc_id, grp,
                         CASE WHEN substr(md5('42:' || CAST(grp AS VARCHAR)), 1, 8)
                                < 'cccccccc' THEN 'train'
                              WHEN substr(md5('42:' || CAST(grp AS VARCHAR)), 1, 8)
                                < 'e6666666' THEN 'val'
                              ELSE 'test' END AS split
                       FROM grouped)
          SELECT split, COUNT(*) AS n_docs,
                 COUNT(DISTINCT grp) AS n_groups,
                 CAST(SUM(doc_id) AS BIGINT) AS id_sum
          FROM assigned GROUP BY split ORDER BY split""",
    "d12_source_overlap" ->
      s"""WITH t AS (
            SELECT source,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents),
          s AS (SELECT source, $sh3 AS sh FROM t),
          gs AS (SELECT DISTINCT g, h FROM
                   (SELECT source AS g, unnest(sh) AS h FROM s)),
          totals AS (SELECT g, COUNT(*) AS total FROM gs GROUP BY g),
          shared AS (SELECT a.g AS group_a, b.g AS group_b,
                            COUNT(*) AS n_shared
                     FROM gs a JOIN gs b ON a.h = b.h AND a.g < b.g
                     GROUP BY a.g, b.g)
          SELECT group_a, group_b, n_shared,
                 ta.total AS total_a, tb.total AS total_b,
                 CAST(n_shared AS DOUBLE) / least(ta.total, tb.total)
                   AS containment
          FROM shared JOIN totals ta ON ta.g = group_a
                      JOIN totals tb ON tb.g = group_b
          ORDER BY group_a, group_b""",
    "d11_line_dedup" ->
      """WITH base AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         ml AS (SELECT doc_id,
                  list_aggregate(toks[1:5], 'string_agg', ' ') || chr(10) ||
                  list_aggregate(toks[6:], 'string_agg', ' ') AS text
                FROM base),
         planted AS (SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0
                       THEN text || chr(10) ||
                         'this site uses cookies accept to continue'
                       ELSE text END AS text
                FROM ml),
         lsx AS (SELECT doc_id, string_split(text, chr(10)) AS ls
                 FROM planted),
         lines AS (SELECT doc_id, unnest(ls) AS line,
                          unnest(range(1, len(ls) + 1)) AS pos
                   FROM lsx),
         blocked AS (SELECT md5(line) AS lh FROM lines
                     GROUP BY md5(line)
                     HAVING COUNT(DISTINCT doc_id) >= 5),
         kept AS (SELECT * FROM lines
                  WHERE md5(line) NOT IN (SELECT lh FROM blocked)),
         rebuilt AS (SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text
                     FROM kept GROUP BY doc_id)
         SELECT doc_id,
                CAST(len(string_split(text, chr(10))) AS INT) AS n_lines,
                CAST(length(text) AS INT) AS n_chars
         FROM rebuilt ORDER BY doc_id""",
    "d04b_simhash_portable" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 1000
           UNION ALL
           SELECT doc_id + 1000000, substr(text, instr(text, ' ') + 1)
           FROM documents WHERE doc_id < 1000),
         t AS (SELECT doc_id,
                      string_split_regex(trim(text), '\s+') AS toks
               FROM base),
         h AS (SELECT doc_id, list_transform(toks, x -> md5(x)) AS hs
               FROM t),
         sig AS (SELECT doc_id,
                   list_aggregate(list_transform(range(0, 32), j ->
                     CASE WHEN list_sum(list_transform(hs, x ->
                            CASE WHEN substr(x, CAST(j+1 AS INT), 1) >= '8'
                                 THEN 1 ELSE -1 END)) > 0
                          THEN '1' ELSE '0' END), 'string_agg', '') AS sig
                 FROM h),
         bands AS (SELECT doc_id, sig, b,
                          substr(sig, CAST(b*8+1 AS INT), 8) AS chunk
                   FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                         a.sig AS sa, b.sig AS sb
                  FROM bands a JOIN bands b
                    ON a.b = b.b AND a.chunk = b.chunk
                      AND a.doc_id < b.doc_id),
         ham AS (SELECT id_a, id_b,
                   CAST(len(list_filter(range(0, 32), j ->
                     substr(sa, CAST(j+1 AS INT), 1) <>
                       substr(sb, CAST(j+1 AS INT), 1))) AS INT) AS hamming
                 FROM cand)
         SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
         ORDER BY id_a, id_b""",
    "d07b_incremental_portable" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
          batch AS (SELECT doc_id + 2000000 AS doc_id,
                           substr(text, instr(text, ' ') + 1) AS text
                    FROM documents WHERE doc_id % 5 = 0),
          tc AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                 FROM corpus),
          tb AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                 FROM batch),
          sc AS (SELECT doc_id, $sh3 AS sh FROM tc),
          sb AS (SELECT doc_id, $sh3 AS sh FROM tb),
          sigc AS (SELECT doc_id, sh,
                     list_transform(range(0, 8), i ->
                       list_aggregate(list_transform(sh,
                         x -> md5(i::VARCHAR || ':' || x)), 'min')) AS sig
                   FROM sc),
          sigb AS (SELECT doc_id, sh,
                     list_transform(range(0, 8), i ->
                       list_aggregate(list_transform(sh,
                         x -> md5(i::VARCHAR || ':' || x)), 'min')) AS sig
                   FROM sb),
          bc AS (SELECT doc_id, b,
                   md5(list_aggregate(sig[b*2+1:b*2+2],
                                      'string_agg', ',')) AS bucket
                 FROM sigc, (SELECT unnest(range(0, 4)) AS b)),
          bb AS (SELECT doc_id, b,
                   md5(list_aggregate(sig[b*2+1:b*2+2],
                                      'string_agg', ',')) AS bucket
                 FROM sigb, (SELECT unnest(range(0, 4)) AS b)),
          cand AS (SELECT DISTINCT bb.doc_id AS batch_id,
                          bc.doc_id AS corpus_id
                   FROM bb JOIN bc ON bb.b = bc.b AND bb.bucket = bc.bucket),
          j AS (SELECT batch_id, corpus_id,
                  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                    (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
                    AS jaccard
                FROM cand
                JOIN sb x ON x.doc_id = cand.batch_id
                JOIN sc y ON y.doc_id = cand.corpus_id),
          best AS (SELECT batch_id, corpus_id, jaccard,
                     row_number() OVER (PARTITION BY batch_id
                       ORDER BY jaccard DESC, corpus_id) AS rn
                   FROM j WHERE jaccard >= 0.5)
          SELECT batch_id, corpus_id, jaccard FROM best WHERE rn = 1
          ORDER BY batch_id""",
    "d16_minhash_calibration" ->
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 300
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id,
                   substr(text, instr(text, ' ') + 1) AS text
            FROM documents WHERE doc_id < 300),
          t AS (SELECT doc_id,
                  string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM corpus),
          s AS (SELECT doc_id, $sh3 AS sh FROM t),
          sg AS (SELECT doc_id, sh,
                   list_transform(range(0, 8), i ->
                     list_aggregate(list_transform(sh,
                       x -> md5(i::VARCHAR || ':' || x)), 'min')) AS sig
                 FROM s),
          b AS (SELECT doc_id, bb,
                  md5(list_aggregate(sig[bb*2+1:bb*2+2],
                                     'string_agg', ',')) AS bucket
                FROM sg, (SELECT unnest(range(0, 4)) AS bb)),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
                   FROM b a JOIN b b2
                     ON a.bb = b2.bb AND a.bucket = b2.bucket
                       AND a.doc_id < b2.doc_id),
          m AS (SELECT
                  len(list_filter(range(1, 9),
                    i -> x.sig[i] = y.sig[i])) AS matches,
                  len(list_intersect(x.sh, y.sh)) AS inter,
                  len(x.sh) + len(y.sh)
                    - len(list_intersect(x.sh, y.sh)) AS uni
                FROM cand
                JOIN sg x ON x.doc_id = cand.id_a
                JOIN sg y ON y.doc_id = cand.id_b)
          SELECT CAST(matches AS INT) AS matches, COUNT(*) AS n_pairs,
                 CAST(SUM(inter) AS BIGINT) AS sum_inter,
                 CAST(SUM(uni) AS BIGINT) AS sum_union
          FROM m GROUP BY 1 ORDER BY matches""",
    "d15_entity_resolution" ->
      """WITH RECURSIVE
         base AS (SELECT doc_id,
                    list_aggregate(
                      string_split_regex(trim(lower(text)), '\s+')[1:3],
                      'string_agg', ' ') AS name
                  FROM documents WHERE doc_id < 300),
         ar AS (SELECT doc_id AS id, name FROM base
                UNION ALL
                SELECT doc_id + 1000000, substr(name, 2) FROM base),
         k AS (SELECT id, name, right(name, 8) AS bk FROM ar),
         pairs AS (SELECT a.id AS pa, b.id AS pb
                   FROM k a JOIN k b ON a.bk = b.bk AND a.id < b.id
                     AND abs(len(a.name) - len(b.name)) <= 2
                     AND levenshtein(a.name, b.name) <= 2),
         edges AS (SELECT pa AS a, pb AS b FROM pairs
                   UNION SELECT pb, pa FROM pairs),
         reach(id, r) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         mapped AS (SELECT ar.id,
                      COALESCE(comp.component, ar.id) AS entity_id
                    FROM ar LEFT JOIN comp ON ar.id = comp.id)
         SELECT entity_id, COUNT(*) AS n_members,
                CAST(SUM(id) AS BIGINT) AS id_checksum
         FROM mapped GROUP BY entity_id ORDER BY entity_id""",
    "d19_cdc_chunks" ->
      """WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 300
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id,
                   'zq noise prefix ' || text AS text
            FROM documents WHERE doc_id < 300),
         tk0 AS (SELECT doc, toks, generate_subscripts(toks, 1) AS i
                 FROM (SELECT doc_id AS doc,
                         string_split_regex(trim(lower(text)), '\s+')
                           AS toks
                       FROM corpus)),
         tk AS (SELECT doc, toks[i] AS token, i AS pos
                FROM tk0 WHERE toks[i] <> ''),
         wn AS (SELECT doc, pos, token,
                  concat_ws(' ',
                    lag(token, 2, '') OVER w,
                    lag(token, 1, '') OVER w,
                    token) AS win
                FROM tk WINDOW w AS (PARTITION BY doc ORDER BY pos)),
         bd AS (SELECT doc, pos, token,
                  CASE WHEN substr(md5(win), 1, 1) = '0'
                       THEN 1 ELSE 0 END AS b
                FROM wn),
         ch AS (SELECT doc, pos, token,
                  COALESCE(SUM(b) OVER (PARTITION BY doc ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS chunk
                FROM bd),
         cs AS (SELECT doc, chunk, COUNT(*) AS n_toks,
                  md5(string_agg(token, ' ' ORDER BY pos)) AS chash
                FROM ch GROUP BY doc, chunk),
         sh AS (SELECT chash, COUNT(DISTINCT doc) AS docs
                FROM cs GROUP BY chash)
         SELECT cs.doc AS doc_id,
                CAST(SUM(cs.n_toks) AS BIGINT) AS n_toks,
                COUNT(*) AS n_chunks,
                CAST(SUM(CASE WHEN sh.docs >= 2 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_shared_chunks,
                CAST(SUM(CASE WHEN sh.docs >= 2 THEN cs.n_toks
                              ELSE 0 END) AS BIGINT) AS shared_toks
         FROM cs JOIN sh ON cs.chash = sh.chash
         GROUP BY cs.doc ORDER BY doc_id""",
    "d17_fuzzy_decontaminate" ->
      """WITH c0 AS (SELECT doc_id, substr(text, 1, 40) AS str
                     FROM documents),
          c AS (SELECT doc_id, str FROM c0 WHERE length(str) >= 9),
          p AS (SELECT doc_id AS probe_id,
                       substr(str, 1, 7) || substr(str, 9) AS pstr
                FROM c0 WHERE doc_id % 97 = 0
                  AND length(substr(str, 1, 7) || substr(str, 9)) >= 9)
         SELECT p.probe_id, c.doc_id AS corpus_id,
                CAST(levenshtein(p.pstr, c.str) AS BIGINT) AS dist
         FROM p JOIN c
           ON abs(length(p.pstr) - length(c.str)) <= 2
          AND levenshtein(p.pstr, c.str) <= 2
         ORDER BY probe_id, corpus_id""",
    // replays the packed-BIGINT sort keys (7-bit codepoints over 21
    // id bits), both pass orders, the <12-position window pairing,
    // the pass-union flags, and the levenshtein verify
    "d21_sorted_neighborhood" ->
      """WITH base AS (SELECT doc_id,
             list_aggregate(
               string_split_regex(trim(lower(text)), '\s+')[1:3],
               'string_agg', ' ') AS name
           FROM documents WHERE doc_id < 300),
         ar AS (SELECT doc_id AS id, name FROM base
                UNION ALL
                SELECT doc_id + 1000000 AS id, substring(name, 2) AS name
                FROM base),
         kk AS (SELECT id, name, rpad(name, 5, ' ') AS pf,
                       rpad(reverse(regexp_replace(name,
                         '[^\x00-\x7F]', '', 'g')), 5, ' ') AS pr
                FROM ar WHERE name IS NOT NULL),
         pk AS (SELECT id, name,
                  (((((CAST(ascii(substr(pf,1,1)) AS BIGINT)%128)*128
                     + ascii(substr(pf,2,1))%128)*128
                     + ascii(substr(pf,3,1))%128)*128
                     + ascii(substr(pf,4,1))%128)*128
                     + ascii(substr(pf,5,1))%128) * 2097152 + id AS kf,
                  (((((CAST(ascii(substr(pr,1,1)) AS BIGINT)%128)*128
                     + ascii(substr(pr,2,1))%128)*128
                     + ascii(substr(pr,3,1))%128)*128
                     + ascii(substr(pr,4,1))%128)*128
                     + ascii(substr(pr,5,1))%128) * 2097152 + id AS kr
                FROM kk),
         posf AS (SELECT id, ROW_NUMBER() OVER (ORDER BY kf) AS pos
                  FROM pk),
         posr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY kr) AS pos
                  FROM pk),
         cf AS (SELECT LEAST(a.id, b.id) AS id_a,
                       GREATEST(a.id, b.id) AS id_b
                FROM posf a JOIN posf b
                  ON b.pos > a.pos AND b.pos - a.pos < 12),
         cr AS (SELECT LEAST(a.id, b.id) AS id_a,
                       GREATEST(a.id, b.id) AS id_b
                FROM posr a JOIN posr b
                  ON b.pos > a.pos AND b.pos - a.pos < 12),
         u AS (SELECT id_a, id_b, MAX(f) AS found_fwd, MAX(r) AS found_rev
               FROM (SELECT id_a, id_b, TRUE AS f, FALSE AS r FROM cf
                     UNION ALL
                     SELECT id_a, id_b, FALSE AS f, TRUE AS r FROM cr) q
               GROUP BY 1, 2)
         SELECT u.id_a, u.id_b, found_fwd, found_rev,
                CAST(levenshtein(na.name, nb.name) AS BIGINT) AS dist
         FROM u JOIN ar na ON na.id = u.id_a
                JOIN ar nb ON nb.id = u.id_b
         WHERE levenshtein(na.name, nb.name) <= 2
         ORDER BY id_a, id_b""",
    "d20_containment" ->
      s"""WITH t AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 150),
          x AS (SELECT doc_id + 3000000 AS doc_id,
                  list_aggregate(string_split_regex(trim(lower(text)),
                    '\\s+')[1:20], 'string_agg', ' ') AS text
                FROM t),
          u AS (SELECT doc_id, text FROM t
                UNION ALL SELECT doc_id, text FROM x),
          tk AS (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
                 FROM u),
          s AS (SELECT doc_id, $sh3 AS sh FROM tk)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
                 CAST(len(a.sh) AS BIGINT) AS n_a,
                 round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(a.sh) AS DOUBLE), 7) AS containment
          FROM s a, s b
          WHERE a.doc_id <> b.doc_id
            AND len(list_intersect(a.sh, b.sh)) * 5 >= len(a.sh) * 4
          ORDER BY id_a, id_b""",

    "d14_setjoin_prefix" ->
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 400
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id,
                   substr(text, instr(text, ' ') + 1) AS text
            FROM documents WHERE doc_id < 400),
          tk AS (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
                 FROM corpus),
          t AS (SELECT doc_id, $sh3 AS toks FROM tk),
          e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
          dfreq AS (SELECT tok, count(*) AS df FROM e GROUP BY tok),
          ord AS (SELECT e.doc_id,
                    list(e.tok ORDER BY d.df, e.tok) AS otoks
                  FROM e JOIN dfreq d ON e.tok = d.tok
                  GROUP BY e.doc_id),
          pre AS (SELECT doc_id, len(otoks) AS n,
                    otoks[1 : len(otoks)
                          - ((3 * len(otoks) + 4) // 5) + 1] AS prefix
                  FROM ord),
          pe AS (SELECT doc_id, n, unnest(prefix) AS tok FROM pre),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM pe a JOIN pe b ON a.tok = b.tok
                     AND a.doc_id < b.doc_id
                     AND 3 * a.n <= 5 * b.n AND 3 * b.n <= 5 * a.n),
          v AS (SELECT id_a, id_b,
                  len(list_intersect(x.toks, y.toks)) AS inter,
                  len(x.toks) + len(y.toks)
                    - len(list_intersect(x.toks, y.toks)) AS uni
                FROM cand
                JOIN t x ON x.doc_id = cand.id_a
                JOIN t y ON y.doc_id = cand.id_b)
          SELECT id_a, id_b, inter, uni,
                 CAST(inter AS DOUBLE) / uni AS jaccard
          FROM v WHERE 5 * inter >= 3 * uni
          ORDER BY id_a, id_b""",
    "d03_ngram_jaccard" ->
      s"""WITH t AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents WHERE doc_id < 100),
          s AS (SELECT doc_id, $sh3 AS sh FROM t)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                   AS jaccard
          FROM s a, s b
          WHERE a.doc_id < b.doc_id
            AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                  >= 0.015
          ORDER BY id_a, id_b"""
  )
}
