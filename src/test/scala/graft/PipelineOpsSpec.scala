package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** LLM-data-pipeline operators: dedup recall on planted duplicates,
  * similarity-search correctness, text analysis, multimodal plumbing.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet").cache()
  lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("native shingle kernel matches the composable spelling exactly") {
    // real corpus text + adversarial shapes: empty, single token,
    // exactly n tokens, repeated windows (dedup order)
    val texts = docs.select($"text").as[String].take(50).toSeq ++ Seq(
      "", "one", "a b", "a b c", "a b c d", "x x x x x", "a b c a b c a b c")
    val df = texts.toDF("text")
    val toks = split(trim(lower($"text")), "\\s+")
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = df.select(
        Dedup.shingles(toks, n).as("native"),
        Dedup.shinglesComposable(toks, n).as("composable"))
        .filter($"native" =!= $"composable")
      assert(diff.count() == 0, s"n=$n mismatch")
    }
  }

  test("minhash LSH finds all planted near-duplicates") {
    val mutated = docs.select($"doc_id" + 100000 as "doc_id",
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val pairs = Dedup.minhashNearDups(
      docs.select("doc_id", "text").union(mutated), "text", "doc_id",
      threshold = 0.5)
    val planted = pairs.filter($"id_b" - $"id_a" === 100000).count()
    // recall bound, not equality: a short doc minus its first word can
    // legitimately fall under the 0.5 jaccard verify threshold, and LSH
    // banding is probabilistic by construction
    assert(planted >= (docs.count() * 0.95).toLong,
      s"planted recall $planted/${docs.count()}")
    // jaccard values are genuine (no pair above 1.0, none below threshold)
    assert(pairs.filter($"jaccard" > 1.0 || $"jaccard" < 0.5).count() == 0)
  }

  test("incremental dedup flags batch copies against the standing corpus") {
    val corpus = docs.select("doc_id", "text")
    val copies = corpus.filter($"doc_id" % 3 === 0)
      .select($"doc_id" + 500000 as "doc_id",
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    // fresh rows: shuffled ids whose text is a synthetic token soup no
    // corpus doc shares 3-grams with
    val fresh = (1 to 25).map(i =>
      (900000L + i, s"zzq$i qqz$i zqz$i qzz$i zzz$i qqq$i")).toDF("doc_id", "text")
    val flagged = Dedup.minhashNearDupsAgainst(
      copies.unionByName(fresh), corpus, "text", "doc_id", threshold = 0.5)
    val got = flagged.select("batch_id").as[Long].collect().toSet
    // no fresh row flags; nearly all planted copies flag against a source
    assert(got.forall(_ < 900000L), s"fresh rows flagged: ${got.filter(_ >= 900000L)}")
    val nCopies = copies.count()
    assert(got.size >= (nCopies * 0.95).toLong, s"recall ${got.size}/$nCopies")
    // best match is genuine: jaccard within (0.5, 1.0]
    assert(flagged.filter($"jaccard" > 1.0 || $"jaccard" < 0.5).count() == 0)
  }

  test("incremental dedup ties break to the smallest corpus id (string ids)") {
    // two identical corpus docs tie at jaccard 1.0 against the batch
    // doc; the documented tie-break must hold for STRING ids too (a
    // numeric negation of the id would go null under non-ANSI casts
    // and make the winner arbitrary)
    val corpus = Seq(
      ("doc-b", "alpha beta gamma delta epsilon"),
      ("doc-a", "alpha beta gamma delta epsilon"),
      ("doc-z", "totally different words here now")).toDF("doc_id", "text")
    val batch = Seq(("batch-1", "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashNearDupsAgainst(batch, corpus, "text", "doc_id",
      threshold = 0.5).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("corpus_id") == "doc-a")
    assert(out(0).getAs[Double]("jaccard") == 1.0)
  }

  test("simhash distance 0 for identical docs, banding finds exact copies") {
    val copies = docs.select($"doc_id" + 100000 as "doc_id", $"text")
    val pairs = Dedup.simhashNearDups(
      docs.select("doc_id", "text").union(copies), "text", "doc_id",
      maxHamming = 0)
    assert(pairs.filter($"id_b" - $"id_a" === 100000).count() == docs.count())
    assert(pairs.filter($"hamming" =!= 0).count() == 0)
  }

  test("portable simhash finds exact copies at hamming 0, bands keep pigeonhole") {
    val copies = docs.select($"doc_id" + 100000 as "doc_id", $"text")
    val pairs = Dedup.simhashNearDupsPortable(
      docs.select("doc_id", "text").union(copies), "text", "doc_id",
      maxHamming = 3)
    // identical docs: identical 32-bit signature → hamming 0, and every
    // planted copy pair must surface (4 bands of 8 shared chunks)
    val planted = pairs.filter($"id_b" - $"id_a" === 100000)
    assert(planted.count() == docs.count())
    assert(planted.filter($"hamming" =!= 0).count() == 0)
    // hamming is a genuine distance: within [0, maxHamming] after filter
    assert(pairs.filter($"hamming" < 0 || $"hamming" > 3).count() == 0)
  }

  test("portable incremental dedup matches the production path's flags") {
    val corpus = docs.select("doc_id", "text")
    val batch = corpus.filter($"doc_id" % 3 === 0)
      .select($"doc_id" + 500000 as "doc_id",
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val out = Dedup.minhashNearDupsAgainstPortable(batch, corpus,
      "text", "doc_id", threshold = 0.5)
    val got = out.select("batch_id").as[Long].collect().toSet
    val nCopies = batch.count()
    assert(got.size >= (nCopies * 0.95).toLong, s"recall ${got.size}/$nCopies")
    assert(out.filter($"jaccard" > 1.0 || $"jaccard" < 0.5).count() == 0)
    // tie-break contract matches minhashNearDupsAgainst: identical
    // corpus docs tie at 1.0 → smallest corpus id wins
    val tieCorpus = Seq(
      ("doc-b", "alpha beta gamma delta epsilon"),
      ("doc-a", "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val tieBatch = Seq(("batch-1", "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val tie = Dedup.minhashNearDupsAgainstPortable(tieBatch, tieCorpus,
      "text", "doc_id", threshold = 0.5).collect()
    assert(tie.length == 1 && tie(0).getAs[String]("corpus_id") == "doc-a")
  }

  test("lineDedup removes cross-doc boilerplate lines, keeps order, drops empty docs") {
    val docs = Seq(
      (1L, "alpha one\nshared footer\nalpha two"),
      (2L, "beta one\nshared footer"),
      (3L, "gamma one\nshared footer\ngamma two"),
      (4L, "delta only original content"),
      (5L, "shared footer")) // nothing but boilerplate → doc drops
      .toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "text", "doc_id", minDocs = 3)
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "alpha one\nalpha two",
      2L -> "beta one",
      3L -> "gamma one\ngamma two",
      4L -> "delta only original content"), out.toString)
    // below the threshold nothing is removed (2 docs < minDocs=3 share)
    val loose = Dedup.lineDedup(
      docs.filter($"doc_id".isin(1L, 2L, 4L)), "text", "doc_id", minDocs = 3)
      .as[(Long, String)].collect().toMap
    assert(loose(1L) == "alpha one\nshared footer\nalpha two")
  }

  test("groupOverlapMatrix: hand-computed shared counts and containment") {
    // A: shingles {a b c, b c d}  B: {a b c, b c d, c d e}  C: {x y z}
    // A⊂B → containment(A,B) = 1.0; C shares nothing
    val df = Seq(
      ("A", "a b c d"),
      ("B", "a b c d e"),
      ("C", "x y z")).toDF("src", "text")
    val m = Dedup.groupOverlapMatrix(df, "text", "src", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(m.keySet == Set(("A", "B")))
    assert(m(("A", "B")) == ((2L, 2L, 3L, 1.0)))
    // duplicate docs inside a group must not inflate its vocabulary
    val dup = df.union(Seq(("A", "a b c d")).toDF("src", "text"))
    val m2 = Dedup.groupOverlapMatrix(dup, "text", "src", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m2(("A", "B")) == 2L)
  }

  test("shuffleShards is a partition-parallel deterministic permutation") {
    val df = (1L to 5000L).toDF("id")
    val out = Sampling.shuffleShards(df, "id", shardChars = 1,
      portable = true)
    val rows = out.select("shard", "pos", "id")
      .as[(String, Long, Long)].collect()
    // every row exactly once
    assert(rows.map(_._3).toSet == (1L to 5000L).toSet)
    // per-shard positions are contiguous from 1 (a permutation, no
    // gaps), and shards are single hex chars
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      assert(shard.length == 1 && "0123456789abcdef".contains(shard))
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"shard $shard positions not contiguous")
    }
    // layout-invariant: same permutation after a repartition
    val again = Sampling.shuffleShards(df.repartition(13), "id",
      shardChars = 1, portable = true)
      .select("shard", "pos", "id").as[(String, Long, Long)].collect()
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
    // fast mode: also a permutation with contiguous per-shard positions
    val fast = Sampling.shuffleShards(df, "id", shardChars = 1)
      .select("shard", "pos", "id").as[(String, Long, Long)].collect()
    assert(fast.map(_._3).toSet == (1L to 5000L).toSet)
    fast.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("giant-bucket guard bounds candidate pairs on a degenerate bucket") {
    // 10k identical docs land in ONE (band,bucket) per band — the
    // boilerplate shape that goes quadratic inside a single join group
    // at corpus scale. Uncapped the self-join emits C(10k,2) ≈ 50M
    // candidate pairs; capped at 200 each salt group holds ~200 rows,
    // so the pair count collapses to Σ C(|salt|,2) ≈ 1M — linear in the
    // bucket population.
    val degen = (1 to 10000).map(i =>
      (i.toLong, "same boilerplate navigation text repeated on every page"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(degen, "text", "doc_id",
      threshold = 0.5, maxBucket = 200)
    val n = pairs.count()
    assert(n > 0, "cap must not kill within-salt-group pairs")
    assert(n < 3000000L, s"pair explosion not capped: $n pairs")
    // every surviving pair is genuine (identical docs → jaccard 1.0)
    assert(pairs.filter($"jaccard" =!= 1.0).count() == 0)

    // same guard on the simhash path (identical docs share every chunk)
    val simPairs = Dedup.simhashNearDups(degen, "text", "doc_id",
      maxHamming = 0, maxBucket = 200)
    val nSim = simPairs.count()
    assert(nSim > 0 && nSim < 3000000L, s"simhash pairs: $nSim")
  }

  test("bucket cap leaves healthy corpora untouched (recall unchanged)") {
    // planted near-dups with a cap far above any real bucket: identical
    // recall to the uncapped run (salt is 0 everywhere → same joins)
    val mutated = docs.select($"doc_id" + 100000 as "doc_id",
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val capped = Dedup.minhashNearDups(
      docs.select("doc_id", "text").union(mutated), "text", "doc_id",
      threshold = 0.5, maxBucket = 100)
    val planted = capped.filter($"id_b" - $"id_a" === 100000).count()
    assert(planted >= (docs.count() * 0.95).toLong,
      s"planted recall $planted/${docs.count()} under tight cap")
  }

  test("cached pipelines release their persisted backing frames") {
    val sc = spark.sparkContext
    docs.count(); emb.count() // materialize the suite-level caches first
    val before = sc.getPersistentRDDs.keySet
    // every input carries a distinct marker filter: CacheManager dedups
    // identical analyzed plans, so an unmarked input could silently
    // REUSE a frame an earlier test persisted (and then release() would
    // un-cache that shared entry instead of our own)
    val r1 = Dedup.minhashNearDupsCached(
      docs.filter($"doc_id" > -1).select("doc_id", "text"),
      "text", "doc_id", threshold = 0.9)
    r1.df.count()
    assert(sc.getPersistentRDDs.size > before.size,
      "pipeline should persist its signature frame")
    r1.release()
    assert(sc.getPersistentRDDs.keySet == before,
      "release() must drop every backing frame")
    val r2 = Dedup.simhashNearDupsCached(
      docs.filter($"doc_id" > -2).select("doc_id", "text"),
      "text", "doc_id")
    r2.df.count(); r2.release()
    val r3 = Similarity.cosineNearDupsLSHCached(
      emb.filter($"vec_id" > -1).select("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.9)
    r3.df.count(); r3.release()
    // the corpus side is filtered to keep its analyzed plan DISTINCT
    // from frames persisted (and never released) by earlier tests —
    // CacheManager dedups identical plans, and releasing a shared entry
    // would un-cache someone else's frame
    val r4 = Dedup.minhashNearDupsAgainstCached(
      docs.filter($"doc_id" % 5 === 0).select("doc_id", "text"),
      docs.filter($"doc_id" >= 0).select("doc_id", "text"), "text", "doc_id")
    r4.df.count(); r4.release()
    assert(sc.getPersistentRDDs.keySet == before,
      "all four cached pipelines must release cleanly")
  }

  test("bloom decontamination is row-identical to the exact path") {
    val corpus = docs.select("doc_id", "text")
    val bench = corpus.filter($"doc_id" % 11 === 0)
    val exact = Dedup.decontaminate(corpus, bench, "text", "doc_id",
      n = 3, threshold = 0.3)
    // deliberately sloppy fpp: the exact verify join must absorb a
    // large false-positive stream without changing a single row
    val cached = Dedup.decontaminateBloomCached(corpus, bench, "text",
      "doc_id", n = 3, threshold = 0.3, fpp = 0.25)
    val bloomIds = cached.df.select("doc_id")
    val exactIds = exact.select("doc_id")
    assert(exact.count() < corpus.count(), "fixture must actually drop docs")
    assert(bloomIds.exceptAll(exactIds).isEmpty &&
      exactIds.exceptAll(bloomIds).isEmpty)
    cached.release()
  }

  test("bloom decontamination: empty blocklist keeps the corpus intact") {
    val corpus = docs.select("doc_id", "text")
    val cached = Dedup.decontaminateBloomCached(corpus,
      corpus.filter($"doc_id" < 0), "text", "doc_id")
    assert(cached.df.count() == corpus.count())
    cached.release()
  }

  test("removeSharedPassages scrubs repeats, keeps first occurrence") {
    // docs 2 and 3 share a 6-token tail; with n=5 the two pure-tail
    // windows cover all 6 tail positions. Straddling windows are
    // unique per doc, so body tokens survive untouched.
    val corpus = Seq(
      (1L, "apple banana cherry date elder fig grape"),
      (2L, "red orange yellow green blue COMMON tail tokens shared here now"),
      (3L, "One Two Three Four Five COMMON tail tokens shared here now"),
      (4L, "z1 z2 z3 z4 z5"),
      (5L, "z1 z2 z3 z4 z5"),
      (6L, "x y")).toDF("doc_id", "text")
    val out = Dedup.removeSharedPassages(corpus, "text", "doc_id",
      n = 5, minDocs = 2)
    val m = out.as[(Long, String)].collect().toMap
    assert(m(1L) == "apple banana cherry date elder fig grape")
    // first occurrence (min id) keeps every token
    assert(m(2L) == "red orange yellow green blue COMMON tail tokens shared here now")
    // later occurrence loses exactly the shared tail, case preserved
    assert(m(3L) == "One Two Three Four Five")
    // identical whole-doc spans: first kept, second scrubbed empty →
    // dropped
    assert(m(4L) == "z1 z2 z3 z4 z5" && !m.contains(5L))
    // under-length doc passes through untouched
    assert(m(6L) == "x y")

    // threshold respected: minDocs=3 leaves the 2-doc tail alone
    val loose = Dedup.removeSharedPassages(corpus, "text", "doc_id",
      n = 5, minDocs = 3).as[(Long, String)].collect().toMap
    assert(loose(3L) == "One Two Three Four Five COMMON tail tokens shared here now")
  }

  test("exact dedup keeps lowest-id representative") {
    val dup = docs.select("doc_id", "text")
      .union(docs.select($"doc_id" + 100000 as "doc_id", $"text"))
    val kept = Dedup.exactDedup(dup, "text", "doc_id")
    assert(kept.count() == docs.count())
    assert(kept.filter($"doc_id" >= 100000).count() == 0)
  }

  test("brute-force top-k: self-similarity excluded, scores ordered") {
    val top = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 5).cache()
    assert(top.count() == 15)
    assert(top.filter($"vec_id" === $"query_id").count() == 0)
    // rank 1 has the max cosine per query
    val r1 = top.filter($"rank" === 1).select($"query_id", $"cos".as("c1"))
    val bad = top.join(r1, "query_id").filter($"cos" > $"c1")
    assert(bad.count() == 0)
  }

  test("IVF top-k recall vs brute force ≥ 60% at nprobe=3/8") {
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 10)
      .select("query_id", "vec_id")
    val (model, indexed) = Similarity.ivfIndex(emb, "vec_id", "embedding",
      nlist = 8)
    val ivf = Similarity.ivfTopK(indexed, model, queries,
      "vec_id", "embedding", k = 10, nprobe = 3)
      .select("query_id", "vec_id")
    val hits = ivf.intersect(brute).count()
    assert(hits >= 30, s"IVF recall $hits/50")
  }

  test("PQ-ADC shortlist + exact re-rank: recall ≥ 80% vs brute force") {
    // 8×16 codebooks on 64-dim near-random unit vectors is a 32×
    // compression — the ADC shortlist of 100 (of 500) must still carry
    // ≥80% of the true top-10 through to the exact re-rank. Re-ranked
    // cosines are exact, so every hit also carries the right score.
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 10)
      .select("query_id", "vec_id").cache()
    val model = Similarity.pqTrain(emb, "embedding", m = 8, ksub = 16)
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      model, k = 10, shortlist = 100)
    val hits = pq.select("query_id", "vec_id").intersect(brute).count()
    assert(hits >= 40, s"PQ recall $hits/50")
    // exactness of the re-ranked scores: every (query, vec) pair PQ
    // returns must score identically to the brute-force cosine
    val bruteScores = Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 500)
      .select($"query_id", $"vec_id", $"cos".as("bcos"))
    val drift = pq.join(bruteScores, Seq("query_id", "vec_id"))
      .filter(abs($"cos" - $"bcos") > 1e-12).count()
    assert(drift == 0, "re-ranked cosine drifted from exact")
    brute.unpersist()
  }

  test("IVF recall ≥ 90% at nprobe=8 (kmeans++ spherical quantizer)") {
    // the trustworthy-ANN gate. Context for the bound: this corpus is
    // near-random on the unit sphere (max pairwise cosine ~0.44), the
    // hardest geometry for IVF — neighbors barely correlate with any
    // clustering, so recall tracks scan fraction. The kmeans++ +
    // spherical-update quantizer holds ≥90% probing 8 of 10 lists
    // (uniform seeding and raw-L2 assignment both fail this); the
    // sharper curve shows at 16 lists: 12 probes ≈ 98%.
    val queries = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 10)
      .select("query_id", "vec_id").cache()
    val (model, indexed) = Similarity.ivfIndex(emb, "vec_id", "embedding",
      nlist = 10)
    val ivf = Similarity.ivfTopK(indexed, model, queries,
      "vec_id", "embedding", k = 10, nprobe = 8)
      .select("query_id", "vec_id")
    val hits = ivf.intersect(brute).count()
    assert(hits >= 45, s"IVF recall $hits/50 — need ≥ 90%")
    val (m16, idx16) = Similarity.ivfIndex(emb, "vec_id", "embedding",
      nlist = 16)
    val hits16 = Similarity.ivfTopK(idx16, m16, queries,
      "vec_id", "embedding", k = 10, nprobe = 12)
      .select("query_id", "vec_id").intersect(brute).count()
    assert(hits16 >= 45, s"IVF recall $hits16/50 at 12/16 — need ≥ 90%")
  }

  test("random projection: md5 signs match in-engine, JL distances hold") {
    // the sign recipe is the portability contract: the driver-side
    // matrix must equal what any engine computes from md5 of the same
    // positional key (the oracle recomputes it in DuckDB; here Spark's
    // own md5() re-derives it)
    val signs = Similarity.projectionSigns(dim = 8, outDim = 4, seed = 42L)
    val fromSql = spark.range(4).selectExpr("id AS j")
      .crossJoin(broadcast(spark.range(8).selectExpr("id AS i")))
      .withColumn("s",
        when(substring(md5(concat(lit("rp42_"), $"i", lit("_"), $"j")), 1, 1)
          .isin("0", "2", "4", "6", "8", "a", "c", "e"), 1.0).otherwise(-1.0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    fromSql.foreach { case (j, i, s) =>
      assert(signs(j.toInt)(i.toInt) == s, s"sign mismatch at ($i,$j)")
    }

    // JL distance preservation: E[‖Pa−Pb‖²] = ‖a−b‖² (the ±1 matrix is
    // unbiased), and at k=16 the per-pair distortion concentrates
    // within a few √(2/k) ≈ 0.35 of 1. On this corpus (near-random
    // unit vectors, every distance ≈ √2) a CORRELATION test is
    // meaningless — there is no distance variance to track — so the
    // JL contract is checked directly: the red/orig ratio is centered
    // on 1 and no pair collapses or explodes. Deterministic data +
    // deterministic matrix → fixed corpus statistics, not flaky draws.
    val sub = emb.filter($"vec_id" < 60).select($"vec_id",
      transform($"embedding", _.cast("double")).as("v"))
    val proj = Similarity.randomProject(sub, "vec_id", "v", outDim = 16)
    val d2 = udf((a: Seq[Double], b: Seq[Double]) =>
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val stats = sub.as("a").join(sub.as("b"), $"a.vec_id" < $"b.vec_id")
      .select(d2($"a.v", $"b.v").as("orig"),
        $"a.vec_id".as("ia"), $"b.vec_id".as("ib"))
      .join(proj.select($"vec_id".as("ia"), $"proj".as("pa")), "ia")
      .join(proj.select($"vec_id".as("ib"), $"proj".as("pb")), "ib")
      .select((d2($"pa", $"pb") / $"orig").as("ratio"))
      .agg(avg($"ratio").as("mean"), min($"ratio").as("lo"),
        max($"ratio").as("hi")).first()
    info(s"JL ratio stats: $stats")
    assert(math.abs(stats.getDouble(0) - 1.0) < 0.1,
      s"distance ratio mean ${stats.getDouble(0)} — projection biased")
    assert(stats.getDouble(1) > 0.2 && stats.getDouble(2) < 3.0,
      s"distance ratio range [${stats.getDouble(1)}, ${stats.getDouble(2)}]")

    // layout invariance: the projection is row-local column math
    val a = proj.orderBy("vec_id").collect().map(_.getSeq[Double](1))
    val b = Similarity.randomProject(sub.repartition(7), "vec_id", "v",
      outDim = 16).orderBy("vec_id").collect().map(_.getSeq[Double](1))
    assert(a.toSeq == b.toSeq, "projection not layout-invariant")
  }

  test("hyperplane-LSH cosine near-dup recalls planted jittered copies") {
    // plant near-duplicates: each vector + tiny elementwise jitter
    val jittered = emb.select(($"vec_id" + 100000).as("vec_id"),
      transform($"embedding",
        x => x + (rand(7) - 0.5) * 0.01f).as("embedding"))
    val corpus = emb.select($"vec_id", $"embedding").union(jittered)
    val pairs = graft.ops.Similarity.cosineNearDupsLSH(
      corpus, "vec_id", "embedding", threshold = 0.9)
    val planted = pairs.filter($"id_b" - $"id_a" === 100000).count()
    val total = emb.count()
    assert(planted >= (total * 0.9).toLong, s"recall $planted/$total")
    // verified cosines are genuine
    assert(pairs.filter($"cos" < 0.9).count() == 0)
  }

  test("portable hyperplane-LSH: exact copies always found, layout-stable") {
    // an exact copy has an identical signature, so every band collides
    // — recall on copies is guaranteed, not probabilistic
    val copies = emb.filter($"vec_id" < 100)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val corpus = emb.select($"vec_id", $"embedding").union(copies)
    val pairs = graft.ops.Similarity.cosineNearDupsLSHPortable(
      corpus, "vec_id", "embedding", threshold = 0.999)
    val planted = pairs.filter($"id_b" - $"id_a" === 100000)
      .filter($"id_a" < 100)
    assert(planted.count() == 100, "every exact-copy pair must collide")
    assert(pairs.filter($"cos" < 0.999).count() == 0, "verify gate leaked")
    // signatures are row-local column math: partitioning can't change
    // the emitted pair set
    val re = graft.ops.Similarity.cosineNearDupsLSHPortable(
      corpus.repartition(7), "vec_id", "embedding", threshold = 0.999)
    assert(re.orderBy("id_a", "id_b").collect().toSeq ==
      pairs.orderBy("id_a", "id_b").collect().toSeq)
  }

  test("covariance matrix: hand-computed cells, scale op certified") {
    // x = (1,3), y = (2,4): var(x) = var(y) = 1, cov(x,y) = 1
    val tiny = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)).toDF("v")
    val got = Similarity.covarianceMatrix(tiny, "v")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map((0, 0) -> 1.0, (0, 1) -> 1.0, (1, 1) -> 1.0))

    // the order-free partial-sum operator agrees with the order-forced
    // (oracle-parity) spelling to float-accumulation tolerance on real
    // embeddings — what lets n10's hash-exact oracle certify the scale
    // path
    val sub = emb.filter($"vec_id" < 200)
    val ordered = Similarity.covarianceMatrixOrdered(sub, "vec_id",
        "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val free = Similarity.covarianceMatrix(sub, "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(free.keySet == ordered.keySet)
    val maxErr = free.map { case (k, v) => math.abs(v - ordered(k)) }.max
    assert(maxErr < 1e-9, s"scale vs ordered covariance drift $maxErr")

    // partial sums are layout-invariant within the same tolerance
    val re = Similarity.covarianceMatrix(sub.repartition(7), "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(re.keySet == free.keySet)
    assert(re.map { case (k, v) => math.abs(v - ordered(k)) }.max < 1e-9)
  }

  test("group centroids: exact means, order- and layout-invariant") {
    val vecs = Seq(
      ("a", Seq(1.0f, 2.0f)), ("a", Seq(3.0f, 6.0f)),
      ("b", Seq(10.0f, 0.0f)), ("b", Seq(0.0f, 10.0f)), ("b", Seq(2.0f, 2.0f))
    ).toDF("grp", "vec")
    val got = Similarity.groupCentroids(vecs, "grp", "vec")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got("a") == Seq(2.0, 4.0))
    assert(got("b") == Seq(4.0, 4.0))
    // layout invariance: the (group, pos) partial sums are exact here,
    // so a different partitioning yields identical centroids
    val re = Similarity.groupCentroids(vecs.repartition(7), "grp", "vec")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(re == got)
  }

  test("ordered centroid variant certifies the partial-sum operator") {
    // the order-forced (oracle-parity) spelling and the order-free
    // partial-sum operator must agree to float-accumulation tolerance
    // on real embeddings — this is what lets n05's hash-exact oracle
    // stand in for the scale operator
    val scale = Similarity.groupCentroids(emb, "label", "embedding")
      .select($"grp", posexplode($"centroid").as(Seq("pos", "m")))
    val ordered = Similarity.groupCentroidsOrdered(emb, "label", "vec_id",
      "embedding")
    val joined = ordered.join(scale,
      ordered("grp") === scale("grp") && ordered("pos") === scale("pos"))
    assert(joined.count() == ordered.count())
    assert(joined.filter(abs($"mean" - $"m") > 1e-9).count() == 0)
    // determinism: identical results under a different layout
    val re = Similarity.groupCentroidsOrdered(emb.repartition(7), "label",
      "vec_id", "embedding")
    assert(re.exceptAll(ordered).count() == 0)
  }

  test("sequence packing matches a sequential driver fold") {
    val budget = 128
    val packed = TextAnalysis.packSequences(docs.select("doc_id", "text"),
      "doc_id", "text", budget).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset"),
          r.getAs[Long]("n_tokens"))).toMap
    // the ground truth is the literal definition: concatenate in id
    // order, track the running start
    val counts = docs.select($"doc_id",
        TextAnalysis.tokenCount($"text").cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    counts.foreach { case (id, n) =>
      val (seqId, off, nt) = packed(id)
      assert(nt == n)
      assert(seqId == cum / budget, s"doc $id seq")
      assert(off == cum % budget, s"doc $id offset")
      assert(off >= 0 && off < budget)
      cum += n
    }
  }

  test("passage overlap finds shared spans, not unique text") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "intro words alpha beta gamma delta epsilon zeta trailer"),
      (3L, "completely different text with no common spans at all")
    ).toDF("doc_id", "text")
    val shared = Dedup.passageOverlap(df, "text", "doc_id", n = 5)
      .collect()
    // docs 1+2 share the 6-token run → two 5-token windows appear in both
    assert(shared.length == 2, shared.mkString(";"))
    assert(shared.forall(_.getAs[Long]("n_docs") == 2))
    assert(shared.forall(_.getAs[Long]("first_doc") == 1L))
    // a doc repeating its own passage is NOT cross-document overlap
    val selfRep = Seq((1L, "x y z w v x y z w v")).toDF("doc_id", "text")
    assert(Dedup.passageOverlap(selfRep, "text", "doc_id", n = 5)
      .count() == 0)
  }

  test("winnowing guarantees shared fingerprints for long shared runs") {
    import graft.ops.TextAnalysis.winnowFingerprints
    // two docs share a run of 8 tokens ≥ w+k−1 = 6 → MUST share ≥1
    // fingerprint; disjoint texts share none
    val df = Seq(
      (1L, "p q one two three four five six seven eight r s"),
      (2L, "x y z one two three four five six seven eight w"),
      (3L, "totally different words everywhere in this entry here")
    ).toDF("doc_id", "text")
      .select($"doc_id", winnowFingerprints($"text", k = 3, w = 4).as("fp"))
    val fps = df.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared run must fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint docs must not")
    // identical text → identical fingerprint set regardless of position
    val same = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
      .select(winnowFingerprints($"text", k = 3, w = 4).as("fp"))
      .distinct()
    assert(same.count() == 1)
  }

  test("winnowing sparse-table window-min equals the naive per-window " +
      "min for every w, power-of-2 or not (r13 rewrite pin)") {
    import graft.ops.TextAnalysis
    val rnd = new scala.util.Random(17)
    val words = Vector("ka", "zu", "mo", "re", "ta", "li", "vo", "ne")
    val texts = (1L to 12L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(30))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }
    // plain-Scala naive reference over the same md5 gram stream
    def naive(text: String, k: Int, w: Int): Seq[String] = {
      val toks = text.trim.split("\\s+").toSeq
      val grams = (0 to toks.size - k)
        .map(j => toks.slice(j, j + k).mkString(" "))
        .map { g =>
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(g.getBytes("UTF-8"))
          d.map("%02x".format(_)).mkString
        }
      val mins =
        if (grams.size <= w) Seq(grams.min)
        else (0 to grams.size - w).map(j => grams.slice(j, j + w).min)
      mins.distinct.sorted
    }
    for (w <- Seq(1, 2, 3, 4, 5, 7, 8)) {
      val got = texts.toDF("doc_id", "text")
        .select($"doc_id",
          TextAnalysis.winnowFingerprints($"text", k = 2, w = w).as("fp"))
        .as[(Long, Seq[String])].collect().toMap
      texts.foreach { case (id, t) =>
        assert(got(id) == naive(t, 2, w),
          s"w=$w doc=$id: ${got(id)} != ${naive(t, 2, w)}")
      }
    }
  }

  test("gopher rules: each rule fires on its targeted degenerate doc") {
    import graft.ops.TextAnalysis
    val good = ("the quick brown fox jumps over a lazy dog near the " +
      "riverbank while the sun sets and the wind blows softly through " +
      "tall trees in the quiet evening air tonight again and again") // 33 words
    val docs = Seq(
      (0L, good),                                    // passes everything
      (1L, "the a of short"),                        // words_ok fails (<30)
      (2L, good + " " + Seq.fill(10)("x").mkString(" ") +
        " supercalifragilisticexpialidocious" * 1),  // still mean-len ok
      (3L, good + " " + Seq.fill(8)("# ...").mkString(" ")), // symbol fail
      (4L, ("11 22 33 44 55 66 77 88 99 00 " * 4) + "the a is"), // alpha fail
      (5L, good.replaceAll("\\bthe\\b|\\ba\\b|\\band\\b", "zz")) // stopword fail
    ).toDF("doc_id", "text")
    val r = docs.select($"doc_id",
      TextAnalysis.gopherRules($"text", TextAnalysis.langStopwords("en"),
        minWords = 30).as("g"))
      .select($"doc_id", $"g.*").collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getAs[Boolean]("pass"), "clean doc must pass")
    assert(!r(1L).getAs[Boolean]("words_ok"))
    assert(!r(3L).getAs[Boolean]("symbol_ok"))
    assert(!r(4L).getAs[Boolean]("alpha_ok"))
    assert(!r(5L).getAs[Boolean]("stopword_ok"))
    // mean-word-length: a doc of 1-char tokens fails low, one of
    // 12-char tokens fails high — integer-comparison band, no floats
    val bands = Seq((1L, Seq.fill(40)("x").mkString(" ")),
      (2L, Seq.fill(40)("exceedinglyy").mkString(" ")))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.gopherRules($"text",
        TextAnalysis.langStopwords("en")).as("g"))
      .collect().map(x => x.getLong(0) ->
        x.getStruct(1).getAs[Boolean]("mean_len_ok")).toMap
    assert(!bands(1L) && !bands(2L))
  }

  test("semdedup collapses duplicate groups, keep-rule picks tail member") {
    import graft.ops.Similarity
    // one cluster (nlist=1): ids 1,2 identical; 3 near them but
    // off-axis; 9 orthogonal (ungrouped). threshold .9 groups {1,2,3};
    // 9 survives alone. The k=1 centroid is the normalized mean of ALL
    // four vectors ≈ (0.966, 0.26): 9 pulls it +y, 3 sits at −y, so 3
    // (cos ≈ 0.89) is strictly least prototypical while 1,2 (cos ≈
    // 0.97) tie — the survivor must be 3, the HIGHEST id, proving the
    // keep rule is lowest-cent-cos, not min-id.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.98f, -0.199f)),
      (9L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cached = Similarity.semDeDupCached(emb, "vec_id", "embedding",
      nlist = 1, threshold = 0.9)
    val kept = cached.df.select("vec_id").as[Long].collect().toSet
    cached.release()
    assert(kept == Set(3L, 9L), s"got $kept")
    // exact duplicates with equal cent_cos tie-break to the smallest id
    val ties = Seq((5L, Array(0.0f, 1.0f)), (7L, Array(0.0f, 1.0f)),
      (8L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val kept2 = Similarity.semDeDup(ties, "vec_id", "embedding",
      nlist = 1, threshold = 0.99).select("vec_id").as[Long].collect().toSet
    assert(kept2 == Set(5L, 8L), s"got $kept2")
  }

  test("bigram surprisal: hand-computed smoothing, gibberish ranks high") {
    import graft.ops.LanguageModel
    val corpus = Seq((1L, "a b a b")).toDF("doc_id", "text")
    // corpus model: c(a,b)=2, c(b,a)=1, contexts c(a·)=2, c(b·)=1, V=2
    val cands = Seq((10L, "a b"), (11L, "z z"), (12L, "solo"))
      .toDF("doc_id", "text")
    val out = LanguageModel.bigramSurprisal(corpus, cands, "text", "doc_id")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("surprisal"), r.getAs[Long]("n_bigrams"))).toMap
    // in-domain: P(b|a) = (2+1)/(2+2) = 3/4
    assert(math.abs(out(10L)._1 - (-math.log(0.75))) < 1e-12)
    // unseen everything: P = (0+1)/(0+2) = 1/2
    assert(math.abs(out(11L)._1 - math.log(2.0)) < 1e-12)
    assert(out(11L)._1 > out(10L)._1, "gibberish must score higher")
    assert(out(10L)._2 == 1 && out(11L)._2 == 1)
    assert(!out.contains(12L), "single-token docs have no bigrams")
  }

  test("new operators degrade cleanly on empty/degenerate input") {
    import graft.ops.{LanguageModel, Relevance}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Relevance.tfidf(empty, "text", "doc_id").count() == 0)
    assert(TextAnalysis.packSequences(empty, "doc_id", "text", 128)
      .count() == 0)
    assert(Dedup.passageOverlap(empty, "text", "doc_id", n = 5).count() == 0)
    // scoring against an EMPTY corpus: no model → null surprisal, not +∞
    val cands = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = LanguageModel.bigramSurprisal(empty, cands, "text", "doc_id")
      .collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("surprisal")))
    // round-3 additions
    assert(TextAnalysis.bpeTrainMerges(empty, "text", 5).isEmpty)
    assert(TextAnalysis.bpePairCounts(empty, "text").count() == 0)
    assert(Dedup.minhashNearDupsPortable(empty, "text", "doc_id")
      .count() == 0)
    assert(graft.ops.Dsir.importanceWeights(empty, empty, "text", "doc_id")
      .count() == 0)
    val emptyVec = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.quantizedTopK(emptyVec, emptyVec, "vec_id", "embedding", 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(emptyVec, "embedding")
    }
  }

  test("normalizeText strips junk and restores canonical text") {
    val cases = Seq(
      ("  a\u0007b   c\t ", "ab c"),          // control + runs + trim
      ("​﻿hello‌‍", "hello"), // zero-width + BOM
      ("plain text", "plain text"),
      ("a\r\nb", "a b"),                       // CRLF → collapsed space
      ("", ""))
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.normalizeText($"t")).as[String].collect()
    assert(got.toSeq == cases.map(_._2))
  }

  test("language ID picks the seeded language, und on no hits") {
    val df = Seq(
      ("the cat and the dog of a house", "en"),
      ("der hund und die katze ist nicht da", "de"),
      ("el perro y la casa de que", "es"),
      ("le chien et les maisons des un", "fr"),
      ("zzz qqq xxx", "und")).toDF("text", "want")
    val got = df.select(TextAnalysis.langId($"text").as("pred"), $"want")
      .filter($"pred" =!= $"want")
    assert(got.count() == 0)
  }

  test("fingerprint is token-order-insensitive but content-sensitive") {
    val df = Seq("a b c", "c b a", "a b d").toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("fp"))
    val fps = df.collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("multimodal decode stub: deterministic, unit-sum histogram") {
    val f1 = Multimodal.decodeBytes("hello world".getBytes, 16)
    val f2 = Multimodal.decodeBytes("hello world".getBytes, 16)
    assert(f1.toSeq == f2.toSeq)
    assert(math.abs(f1.sum - 1.0f) < 1e-3)
    assert(Multimodal.decodeBytes(null, 16).sum == 0.0f)

    val media = Multimodal.fromDocuments(docs)
    val feats = Multimodal.decodeFeatures(media, dim = 32)
    assert(feats.count() == docs.count())
    assert(feats.filter(f => f.features.length != 32).count() == 0)
  }

  test("real PPM codec: exact round trip, header forms, total on junk") {
    import graft.ops.Codecs
    // 2×1 image: red then mid-gray — decode must return the exact bytes
    val rgb = Array[Byte](255.toByte, 0, 0, 128.toByte, 128.toByte,
      128.toByte)
    val enc = Codecs.encodePpm(2, 1, rgb)
    val dec = Codecs.decodePpm(enc).get
    assert(dec.width == 2 && dec.height == 1 && dec.maxVal == 255)
    assert(dec.rgb.toSeq == rgb.toSeq)
    // comments and flexible whitespace are legal netpbm headers
    val commented = ("P6 # a comment\n2 1 # dims\n255\n").getBytes(
      "US-ASCII") ++ rgb
    assert(Codecs.decodePpm(commented).map(_.rgb.toSeq)
      .contains(rgb.toSeq))
    // truncated raster, wrong magic, junk → None, never a throw
    assert(Codecs.decodePpm(enc.dropRight(1)).isEmpty)
    assert(Codecs.decodePpm("P5\n2 1\n255\nxx".getBytes).isEmpty)
    assert(Codecs.decodePpm("hello world".getBytes).isEmpty)
    assert(Codecs.decodePpm(null).isEmpty)
    // a non-whitespace separator after maxval is a malformed header —
    // decoding a shifted raster would silently corrupt every pixel
    val badSep = "P6\n2 1\n255X".getBytes("US-ASCII") ++ rgb
    assert(Codecs.decodePpm(badSep).isEmpty)
    // the dispatch routes a real image to imageFeatures: dims 0-2 are
    // the channel means over 255
    val f = Multimodal.decodeBytes(enc, 8)
    assert(math.abs(f(0) - (255 + 128) / (255.0f * 2)) < 1e-6)
    assert(math.abs(f(1) - 128 / (255.0f * 2)) < 1e-6)
  }

  test("poolPpm: exact floor averages, ragged edge truncates") {
    import graft.ops.Codecs
    // 2×2 grayscale-ish blocks: channel 0 values 10,20,30,41 →
    // floor((10+20+30+41)/4) = 25
    val rgb = new Array[Byte](2 * 2 * 3)
    val r0 = Seq(10, 20, 30, 41)
    for (i <- 0 until 4) {
      rgb(i * 3) = r0(i).toByte; rgb(i * 3 + 1) = (2 * r0(i)).toByte
      rgb(i * 3 + 2) = 7.toByte
    }
    val pooled = Codecs.poolPpm(Codecs.Ppm(2, 2, 255, rgb), 2)
    assert(pooled.width == 1 && pooled.height == 1)
    assert((pooled.rgb(0) & 0xFF) == 25)       // floor(101/4)
    assert((pooled.rgb(1) & 0xFF) == 50)       // floor(202/4)
    assert((pooled.rgb(2) & 0xFF) == 7)
    // 3×3 pooled by 2 truncates the ragged edge to 1×1 over the
    // top-left 2×2 block
    val nine = Array.tabulate(27)(i => (i * 5).toByte)
    val t = Codecs.poolPpm(Codecs.Ppm(3, 3, 255, nine), 2)
    assert(t.width == 1 && t.height == 1)
    // top-left block pixel indices 0,1,3,4 → channel 0 bytes 0,15,45,60
    assert((t.rgb(0) & 0xFF) == (0 + 15 + 45 + 60) / 4)
  }

  test("real WAV codec: round trip, chunk walking, non-PCM rejected") {
    import graft.ops.Codecs
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 5)
    val enc = Codecs.encodeWavPcm16(16000, 1, samples)
    val dec = Codecs.decodeWavPcm16(enc).get
    assert(dec.sampleRate == 16000 && dec.channels == 1)
    assert(dec.samples.toSeq == samples.toSeq)
    // a LIST chunk between fmt and data must be skipped, not fatal
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val withList = enc.take(36) ++ list ++ enc.drop(36)
    // patch the RIFF size for the inserted chunk
    val riffLen = enc.length - 8 + list.length
    withList(4) = (riffLen & 0xFF).toByte
    withList(5) = ((riffLen >> 8) & 0xFF).toByte
    assert(Codecs.decodeWavPcm16(withList).map(_.samples.toSeq)
      .contains(samples.toSeq))
    // IEEE-float format (3) is not PCM-16 → None
    val floatFmt = enc.clone(); floatFmt(20) = 3
    assert(Codecs.decodeWavPcm16(floatFmt).isEmpty)
    assert(Codecs.decodeWavPcm16("RIFFjunk".getBytes).isEmpty)
    assert(Codecs.decodeWavPcm16(null).isEmpty)
    // a crafted chunk size near Int.MaxValue must hit the bounds check
    // (Long arithmetic), not overflow past it and throw
    val overflow = enc.clone()
    overflow(16) = 0xF0.toByte; overflow(17) = 0xFF.toByte
    overflow(18) = 0xFF.toByte; overflow(19) = 0x7F.toByte
    assert(Codecs.decodeWavPcm16(overflow).isEmpty)
    // resizePixels degrades a too-small-to-pool image to null bytes
    val tiny = Codecs.encodePpm(1, 1, Array[Byte](1, 2, 3))
    val stats = Multimodal.decodeImageStats(
      Multimodal.resizePixels(
        Seq((1L, tiny)).toDF("media_id", "bytes"), 2))
      .collect()
    assert(stats.length == 1 && stats(0).getInt(1) == -1)
    // dispatch: real audio lands in audioFeatures (dim 1 = ZCR)
    val f = Multimodal.decodeBytes(enc, 4)
    assert(f(1) > 0.0f && f(1) <= 1.0f)
  }

  test("real PNG codec: RGB/RGBA round trip, container preserved") {
    import graft.ops.Codecs
    val rgb = Array.tabulate(3 * 2 * 3)(i => ((i * 53 + 7) % 256).toByte)
    val enc = Codecs.encodePng(3, 2, 3, rgb)
    assert(Codecs.isPng(enc))
    val dec = Codecs.decodePng(enc).get
    assert(dec.width == 3 && dec.height == 2 && dec.channels == 3)
    assert(dec.pixels.toSeq == rgb.toSeq)
    // RGBA round trip; toRgb strips the alpha plane
    val rgba = Array.tabulate(2 * 2 * 4)(i => ((i * 31 + 3) % 256).toByte)
    val dec4 = Codecs.decodePng(Codecs.encodePng(2, 2, 4, rgba)).get
    assert(dec4.channels == 4 && dec4.pixels.toSeq == rgba.toSeq)
    assert(dec4.toRgb.toSeq ==
      (0 until 4).flatMap(p => rgba.slice(p * 4, p * 4 + 3)).toSeq)
    // decodeRaster sniffs the container; dispatch lands in imageFeatures
    assert(Codecs.decodeRaster(enc).map(_.rgb.toSeq).contains(rgb.toSeq))
    val means = Multimodal.decodeBytes(enc, 3)
    assert(math.abs(means(0) -
      (0 until 6).map(p => rgb(p * 3) & 0xFF).sum / (255.0f * 6)) < 1e-6)
    // resizePixels keeps the PNG container on the way out
    val big = Codecs.encodePng(2, 2, 3,
      Array.tabulate(12)(i => (i * 11).toByte))
    val out = Multimodal.resizePixels(
      Seq((1L, big)).toDF("media_id", "bytes"), 2).collect()
    assert(Codecs.isPng(out(0).getAs[Array[Byte]]("bytes")))
  }

  test("real GIF codec: LZW round trips, width growth, dict reset") {
    import graft.ops.Codecs
    // small raster, distinct colors
    val rgb = Array.tabulate(3 * 4 * 2)(i => ((i * 53 + 7) % 256).toByte)
    val enc = Codecs.encodeGif(4, 2, rgb)
    assert(Codecs.isGif(enc))
    val dec = Codecs.decodeGif(enc).get
    assert(dec.width == 4 && dec.height == 2 && dec.rgb.toSeq == rgb.toSeq)
    // single-color run: decoder must take the KwKwK path (code==next)
    val flat = Array.fill(10 * 3)(42.toByte)
    assert(Codecs.decodeGif(Codecs.encodeGif(10, 1, flat)).get
      .rgb.toSeq == flat.toSeq)
    // 128x128 noisy 256-color raster: multiple width escalations AND a
    // 4096-entry dictionary reset mid-stream; must still be lossless
    val big = Array.tabulate(128 * 128 * 3) { i =>
      val p = i / 3
      val idx = ((p * 2654435761L) >>> 13) & 0xFF // noisy palette index
      ((idx * (31 + (i % 3) * 6) + (i % 3)) & 0xFF).toByte
    }
    val bigEnc = Codecs.encodeGif(128, 128, big)
    assert(Codecs.decodeGif(bigEnc).get.rgb.toSeq == big.toSeq)
    // 4-color long-run raster: compression must actually compress
    val runs = Array.tabulate(200 * 100 * 3)(i =>
      (((i / 3) / 97 % 4) * 80).toByte)
    val runsEnc = Codecs.encodeGif(200, 100, runs)
    assert(runsEnc.length < runs.length / 10,
      s"no real compression: ${runsEnc.length} vs ${runs.length}")
    assert(Codecs.decodeGif(runsEnc).get.rgb.toSeq == runs.toSeq)
    // malformed never throws
    assert(Codecs.decodeGif("not a gif".getBytes).isEmpty)
    assert(Codecs.decodeGif(enc.dropRight(8)).isEmpty) // truncated data
    assert(Codecs.decodeGif(enc.take(10)).isEmpty)
    // >256 distinct colors is the format's hard limit
    // 400 distinct (r,g) pairs — over the 256-color limit
    val wide = Array.tabulate(20 * 20 * 3) { i =>
      val p = i / 3
      (i % 3 match { case 0 => p & 0xFF; case 1 => p >> 8; case _ => 7 }).toByte
    }
    intercept[IllegalArgumentException](Codecs.encodeGif(20, 20, wide))
    // dispatch: raster sniff + resize keeps the GIF container
    assert(Codecs.decodeRaster(enc).map(_.rgb.toSeq).contains(rgb.toSeq))
    val pool = Codecs.encodeGif(2, 2, Array.tabulate(12)(i => (i * 11).toByte))
    val out = Multimodal.resizePixels(
      Seq((1L, pool)).toDF("media_id", "bytes"), 2).collect()
    assert(Codecs.isGif(out(0).getAs[Array[Byte]]("bytes")))
  }

  test("GIF decoder: interlaced images reconstruct in display order") {
    import graft.ops.Codecs
    // display raster: 5 rows, 2 px wide, 3 colors; row y = color y % 3
    val w = 2; val h = 5
    def rowColor(y: Int): Byte = ((y % 3) * 50).toByte
    val display = Array.tabulate(w * h * 3)(i => rowColor(i / (w * 3)))
    // GIF interlace pass order for h=5: rows 0, 4, 2, 1, 3
    val order = Seq(0, 4, 2, 1, 3)
    val stored = order.toArray.flatMap(y =>
      display.slice(y * w * 3, (y + 1) * w * 3))
    val enc = Codecs.encodeGif(w, h, stored)
    // 3 colors -> 4-entry GCT -> image-descriptor packed byte at
    // 6 (header) + 7 (LSD) + 12 (GCT) + 9 = byte 34; set interlace bit
    assert(enc(25) == 0x2C.toByte, "image descriptor offset drifted")
    val inter = enc.clone()
    inter(34) = (inter(34) | 0x40).toByte
    assert(Codecs.decodeGif(inter).get.rgb.toSeq == display.toSeq)
  }

  test("PNG decoder: all five filter types reconstruct exactly") {
    import graft.ops.Codecs
    val w = 3; val h = 5; val bpp = 3; val stride = w * bpp
    // known recon pixels; scanline y carries filter type y (0..4)
    val px = Array.tabulate(stride * h)(i => ((i * 97 + 13) % 256).toByte)
    def reconAt(y: Int, x: Int): Int =
      if (y < 0 || x < 0) 0 else px(y * stride + x) & 0xFF
    val raw = new Array[Byte]((stride + 1) * h)
    for (y <- 0 until h) {
      raw(y * (stride + 1)) = y.toByte // filter type = y
      for (x <- 0 until stride) {
        val r = reconAt(y, x)
        val left = if (x >= bpp) reconAt(y, x - bpp) else 0
        val up = reconAt(y - 1, x)
        val ul = if (x >= bpp) reconAt(y - 1, x - bpp) else 0
        val pred = y match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) >> 1
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        raw(y * (stride + 1) + 1 + x) = (r - pred).toByte
      }
    }
    // wrap the hand-filtered stream in real chunks
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def p32(v: Long): Unit = for (s <- Seq(24, 16, 8, 0))
        out.write(((v >> s) & 0xFF).toInt)
      p32(data.length.toLong)
      out.write(typ.getBytes("US-ASCII")); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      p32(crc.getValue)
      out.toByteArray
    }
    val defl = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
      d.end(); buf.toByteArray
    }
    val ihdr = new Array[Byte](13)
    for ((v, i) <- Seq(w, h).zipWithIndex; s <- 0 until 4)
      ihdr(i * 4 + s) = ((v >> (24 - 8 * s)) & 0xFF).toByte
    ihdr(8) = 8; ihdr(9) = 2 // 8-bit RGB
    val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n')
      .map(_.toByte)
    val png = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", defl) ++
      chunk("IEND", Array.emptyByteArray)
    assert(Codecs.decodePng(png).map(_.pixels.toSeq).contains(px.toSeq))

    // malformed inputs: every one must be None, never a throw
    assert(Codecs.decodePng(png.dropRight(20)).isEmpty) // truncated IEND
    assert(Codecs.decodePng(null).isEmpty)
    assert(Codecs.decodePng("not a png at all".getBytes).isEmpty)
    // CRC garbage: flip a byte inside IDAT data
    val badCrc = png.clone()
    badCrc(8 + 25 + 8 + 2) = (badCrc(8 + 25 + 8 + 2) ^ 0x55).toByte
    assert(Codecs.decodePng(badCrc).isEmpty)
    // truncated IDAT stream: deflate of HALF the scanlines, real CRC
    val shortDefl = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw.take(raw.length / 2)); d.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
      d.end(); buf.toByteArray
    }
    val shortPng = sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", shortDefl) ++ chunk("IEND", Array.emptyByteArray)
    assert(Codecs.decodePng(shortPng).isEmpty)
    // bad filter byte (9): legal zlib, illegal PNG
    val badFilter = raw.clone(); badFilter(0) = 9
    val badDefl = {
      val d = new java.util.zip.Deflater()
      d.setInput(badFilter); d.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
      d.end(); buf.toByteArray
    }
    assert(Codecs.decodePng(sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", badDefl) ++
      chunk("IEND", Array.emptyByteArray)).isEmpty)
    // unsupported shapes: grayscale color type, 16-bit depth, Adam7
    def ihdrVariant(f: Array[Byte] => Unit): Array[Byte] = {
      val v = ihdr.clone(); f(v)
      sig ++ chunk("IHDR", v) ++ chunk("IDAT", defl) ++
        chunk("IEND", Array.emptyByteArray)
    }
    assert(Codecs.decodePng(ihdrVariant(v => v(9) = 0)).isEmpty)  // gray
    assert(Codecs.decodePng(ihdrVariant(v => v(8) = 16)).isEmpty) // 16-bit
    assert(Codecs.decodePng(ihdrVariant(v => v(12) = 1)).isEmpty) // Adam7
  }

  test("real FLAC codec: lossless round trips, real compression") {
    import graft.ops.Codecs
    def roundTrip(rate: Int, ch: Int, s: Array[Short]): Int = {
      val enc = Codecs.encodeFlac(rate, ch, s)
      assert(Codecs.isFlac(enc))
      val dec = Codecs.decodeFlac(enc)
      assert(dec.exists(w => w.sampleRate == rate && w.channels == ch &&
        w.samples.toSeq == s.toSeq),
        s"round trip failed: rate=$rate ch=$ch n=${s.length}")
      enc.length
    }
    roundTrip(16000, 1, Array[Short](1, 2, 3, 4, 5))
    roundTrip(8000, 1, Array.fill(500)(123.toShort)) // constant subframe
    roundTrip(44100, 1, Array.tabulate(10000)(i => // multi-frame
      ((i * 37) % 65536 - 32768).toShort))
    roundTrip(44100, 2, Array.tabulate(2000)(i =>   // stereo interleave
      ((i * 7919 + 13) % 65536 - 32768).toShort))
    roundTrip(16000, 1, Array[Short](32767, -32768, 32767, -32768, 0, 1, -1))
    // the fixed-predictor stage must actually COMPRESS a smooth signal
    val smooth = Array.tabulate(4096)(i => (math.sin(i * 0.02) * 20000).toShort)
    val encLen = roundTrip(16000, 1, smooth)
    assert(encLen < smooth.length * 2 / 2,
      s"smooth signal should compress >2x, got $encLen of ${smooth.length * 2}")
    // malformed: truncation, CRC damage, junk, null → None, never throw
    val enc = Codecs.encodeFlac(16000, 1,
      Array.tabulate(64)(i => (i * 100).toShort))
    assert(Codecs.decodeFlac(enc.dropRight(3)).isEmpty)
    val bad = enc.clone()
    bad(enc.length - 5) = (bad(enc.length - 5) ^ 0x1).toByte
    assert(Codecs.decodeFlac(bad).isEmpty)
    assert(Codecs.decodeFlac("not flac at all".getBytes).isEmpty)
    assert(Codecs.decodeFlac(null).isEmpty)
    // dispatch: FLAC lands in audioFeatures through decodeAudio
    val f = Multimodal.decodeBytes(enc, 4)
    assert(f(1) >= 0.0f && f(1) <= 1.0f)
  }

  test("FLAC decoder: LPC subframes and 5-bit Rice reconstruct exactly") {
    import graft.ops.Codecs
    // hand-build a frame the encoder never emits: LPC order 1
    // (coef=2, shift=1 → predictor = x[i-1], an identity-ish filter)
    // with residual method 1 (5-bit Rice params). Expected samples are
    // computed here independently; the decoder must match.
    class W {
      val buf = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nb = 0
      def w(v: Long, bits: Int): Unit = {
        var b = bits
        while (b > 0) {
          val t = math.min(8 - nb, b)
          acc = (acc << t) | ((v >>> (b - t)) & ((1L << t) - 1))
          nb += t; b -= t
          if (nb == 8) { buf.write(acc.toInt & 0xFF); acc = 0; nb = 0 }
        }
      }
      def unary(q: Int): Unit = { (0 until q).foreach(_ => w(0, 1)); w(1, 1) }
      def bytes: Array[Byte] = { if (nb > 0) w(0, 8 - nb); buf.toByteArray }
    }
    def crc8(b: Array[Byte]): Int = {
      var c = 0
      b.foreach { x =>
        c ^= x & 0xFF
        (0 until 8).foreach { _ =>
          c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xFF else (c << 1) & 0xFF }
      }
      c
    }
    def crc16(b: Array[Byte]): Int = {
      var c = 0
      b.foreach { x =>
        c ^= (x & 0xFF) << 8
        (0 until 8).foreach { _ =>
          c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xFFFF
              else (c << 1) & 0xFFFF }
      }
      c
    }
    val n = 4
    val warmup = 100
    val residuals = Seq(3, -2, 5) // for samples 1..3
    // expected: x[i] = ((2 * x[i-1]) >> 1) + res = x[i-1] + res
    val expected = residuals.scanLeft(warmup)(_ + _)
    // STREAMINFO
    val si = new W
    si.w(1, 1); si.w(0, 7); si.w(34, 24)
    si.w(n, 16); si.w(n, 16); si.w(0, 24); si.w(0, 24)
    si.w(16000, 20); si.w(0, 3); si.w(15, 5); si.w(n, 36)
    si.w(0, 64); si.w(0, 64)
    // frame header (byte-aligned): sync..reserved + frame 0 + bs-1
    val fh = new W
    fh.w(0x3FFE, 14); fh.w(0, 1); fh.w(0, 1)
    fh.w(7, 4); fh.w(0, 4); fh.w(0, 4); fh.w(4, 3); fh.w(0, 1)
    fh.w(0, 8) // frame number 0
    fh.w(n - 1, 16)
    val header = fh.bytes
    val fr = new W
    header.foreach(b => fr.w(b & 0xFFL, 8))
    fr.w(crc8(header), 8)
    // subframe: LPC order 1 (type 100000 = 32), no wasted bits
    fr.w(0, 1); fr.w(32, 6); fr.w(0, 1)
    fr.w(warmup, 16)        // warmup sample
    fr.w(3, 4)              // precision-1 = 3 → 4-bit coefs
    fr.w(1, 5)              // shift = 1
    fr.w(2, 4)              // coef = 2
    fr.w(1, 2)              // residual method 1: 5-bit Rice
    fr.w(0, 4)              // partition order 0
    fr.w(1, 5)              // rice param k=1
    residuals.foreach { r =>
      val u = if (r >= 0) r.toLong << 1 else ((-r.toLong) << 1) - 1
      fr.unary((u >>> 1).toInt); fr.w(u & 1, 1)
    }
    val frameBytes = fr.bytes
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(si.bytes)
    out.write(frameBytes)
    val c = crc16(frameBytes)
    out.write((c >> 8) & 0xFF); out.write(c & 0xFF)
    val dec = Codecs.decodeFlac(out.toByteArray)
    assert(dec.exists(_.samples.toSeq == expected.map(_.toShort)),
      s"LPC decode got ${dec.map(_.samples.toSeq)}, want $expected")
  }

  test("stageDir: conf-derived base + per-application nonce") {
    val p = graft.queries.Tables.stageDir(spark, "x")
    // the app id is the run nonce — two concurrent Verify JVMs get
    // disjoint staging trees; same session → same stable dir
    assert(p.contains(spark.sparkContext.applicationId))
    assert(p.endsWith("/x"))
    assert(p == graft.queries.Tables.stageDir(spark, "x"))
    spark.conf.set("spark.graft.stageDir", "/tmp/graft-altbase")
    try assert(graft.queries.Tables.stageDir(spark, "y")
      .startsWith("/tmp/graft-altbase/"))
    finally spark.conf.unset("spark.graft.stageDir")
  }

  test("resize preserves aspect ratio within the bounding box") {
    val media = Multimodal.fromDocuments(docs)
    val resized = Multimodal.withResizedDims(media, 100, 100)
    val bad = resized.filter($"out_width" > 100 || $"out_height" > 100 ||
      ($"width" <= 100 && $"height" <= 100 &&
        ($"out_width" =!= $"width" || $"out_height" =!= $"height")))
    assert(bad.count() == 0)
  }

  test("portable minhash: signature matches a hand-computed md5 fold") {
    // one doc, shingle set {"a b c"}: every permutation slot must be
    // md5("<i>:a b c") — the exact spelling the DuckDB oracle recomputes
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sig = Seq((1L, "a b c")).toDF("doc_id", "text")
      .select(Dedup.minhashSignaturePortable(
        Dedup.shingles(TextAnalysis.tokens($"text"), 3), 4).as("sig"))
      .head().getSeq[String](0)
    assert(sig == (0 until 4).map(i => md5hex(s"$i:a b c")))
  }

  test("portable minhash finds planted near-duplicates like the XXH64 path") {
    val corpus = docs.select("doc_id", "text").filter($"doc_id" < 100)
    val mutated = corpus.select($"doc_id" + 100000 as "doc_id",
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val pairs = Dedup.minhashNearDupsPortable(corpus.union(mutated),
      "text", "doc_id", shingleSize = 3, numHashes = 8, bands = 4,
      threshold = 0.5)
    val n = corpus.count()
    val planted = pairs.filter($"id_b" - $"id_a" === 100000).count()
    assert(planted >= (n * 0.9).toLong, s"planted recall $planted/$n")
    assert(pairs.filter($"jaccard" > 1.0 || $"jaccard" < 0.5).count() == 0)
  }

  test("equalizePixels: hand CDF mapping, constant channel, full-range") {
    import graft.ops.{Codecs, Multimodal}
    // 2×2 gray-ish raster, channel r = [10, 10, 20, 30]: cdf_min = 2,
    // map: 10→0, 20→(3−2)·255/(4−2)=127, 30→255; g constant → all 0;
    // b already full-range [0, 85, 170, 255] maps to [0, 85, 170, 255]
    val rgb = new Array[Byte](4 * 3)
    val rs = Array(10, 10, 20, 30); val bs = Array(0, 85, 170, 255)
    for (i <- 0 until 4) {
      rgb(i * 3) = rs(i).toByte
      rgb(i * 3 + 1) = 7.toByte
      rgb(i * 3 + 2) = bs(i).toByte
    }
    val media = Seq((1L, Codecs.encodePpm(2, 2, rgb)))
      .toDF("media_id", "bytes")
    val out = Multimodal.equalizePixels(media).collect()(0)
      .getAs[Array[Byte]]("bytes")
    val p = Codecs.decodePpm(out).get
    def ch(c: Int) = (0 until 4).map(i => p.rgb(i * 3 + c) & 0xFF)
    assert(ch(0) == Seq(0, 0, 127, 255), s"r got ${ch(0)}")
    assert(ch(1) == Seq(0, 0, 0, 0), "constant channel maps to 0")
    // b: cdf = [1,2,3,4], cdf_min = 1 → (cdf−1)·255/3 = [0, 85, 170, 255]
    assert(ch(2) == Seq(0, 85, 170, 255), s"b got ${ch(2)}")
  }

  test("resampleAudio: truncating pooling on negatives, stereo, short clip") {
    import graft.ops.{Codecs, Multimodal}
    // mono [-7, -4, 4, 10] pooled 2:1: trunc(-11/2) = -5 (a floor
    // would give -6 — DuckDB's integer // truncates toward zero, and
    // the JVM matches), trunc(14/2) = 7
    val mono = Codecs.encodeWavPcm16(8000, 1,
      Array[Short](-7, -4, 4, 10))
    // stereo interleaved L/R: L=[-7,-4] → -5, R=[100,101] → 100
    val stereo = Codecs.encodeWavPcm16(8000, 2,
      Array[Short](-7, 100, -4, 101))
    val tiny = Codecs.encodeWavPcm16(8000, 1, Array[Short](3))
    val media = Seq((1L, mono), (2L, stereo), (3L, tiny))
      .toDF("media_id", "bytes")
    val out = Multimodal.resampleAudio(media, 2)
      .collect().map(r => r.getLong(0) ->
        Option(r.getAs[Array[Byte]]("bytes"))).toMap
    val w1 = Codecs.decodeWavPcm16(out(1L).get).get
    assert(w1.sampleRate == 4000 && w1.samples.toSeq == Seq(-5, 7))
    val w2 = Codecs.decodeWavPcm16(out(2L).get).get
    assert(w2.channels == 2 && w2.samples.toSeq == Seq(-5, 100))
    assert(out(3L).isEmpty, "clip shorter than one window degrades null")
  }

  test("gif frames: multi-frame round trip is pixel-exact, cap bounds") {
    import graft.ops.Codecs
    val w = 6; val h = 4
    val frames = (0 until 5).map(f =>
      Array.tabulate(w * h * 3)(i => ((i * 3 + f * 50) % 200).toByte))
    val enc = Codecs.encodeGifFrames(w, h, frames)
    val dec = Codecs.decodeGifFrames(enc).get
    assert(dec.size == 5)
    dec.zip(frames).foreach { case (p, src) =>
      assert(p.width == w && p.height == h)
      assert(p.rgb.toSeq == src.toSeq, "frame must round-trip exactly")
    }
    // maxFrames stops the decode early with exactly that many frames
    assert(Codecs.decodeGifFrames(enc, maxFrames = 2).get.size == 2)
    // single-frame compat: decodeGif of an animation is frame 0
    assert(Codecs.decodeGif(enc).get.rgb.toSeq == frames.head.toSeq)
    // truncated mid-stream: None, never a partial frame set lie
    assert(Codecs.decodeGifFrames(java.util.Arrays.copyOf(enc,
      enc.length - 2), maxFrames = 10).isEmpty)
  }

  test("decodeFrameStats: stride sampling on decoded frames") {
    import graft.ops.{Codecs, Multimodal}
    val w = 4; val h = 4
    val frames = (0 until 6).map(f =>
      Array.fill[Byte](w * h * 3)((f * 10).toByte))
    val media = Seq((7L, Codecs.encodeGifFrames(w, h, frames)))
      .toDF("media_id", "bytes")
    val got = Multimodal.decodeFrameStats(media, stride = 2, maxFrames = 2)
      .collect().map(r => (r.getAs[Int]("frame_idx"),
        r.getAs[Long]("r_sum"))).toMap
    // frames 0 and 2 sampled (stride 2, cap 2); frame 4 cut by the cap
    assert(got == Map(0 -> 0L, 2 -> (20L * w * h)))
    // corrupt payload → one counted (-1) row
    val bad = Multimodal.decodeFrameStats(
      Seq((9L, Array.fill[Byte](30)(3))).toDF("media_id", "bytes"),
      stride = 1, maxFrames = 4).collect()
    assert(bad.length == 1 && bad(0).getAs[Int]("width") == -1)
  }

  test("jpeg: DC-exact round trip on block-constant gray, even values") {
    import graft.ops.Codecs
    // constant 8×8 tiles, even values, quality 50 (qDC = 16): every
    // block is DC-only and 8·(v−128) ≡ 0 (mod 16), so the lossy codec
    // is EXACT here — the mm11 oracle's premise
    val w = 16; val h = 16
    val blockVals = Array(40, 128, 200, 254)
    val gray = Array.tabulate(w * h) { p =>
      blockVals(((p / w) / 8) * 2 + (p % w) / 8).toByte
    }
    val enc = Codecs.encodeJpegGray(w, h, gray, quality = 50)
    assert(Codecs.isJpeg(enc))
    val dec = Codecs.decodeJpeg(enc).get
    assert(dec.width == w && dec.height == h)
    val maxErr = (0 until w * h)
      .map(i => math.abs((dec.rgb(i * 3) & 0xFF) - (gray(i) & 0xFF))).max
    assert(maxErr == 0, s"DC-exact premise violated: maxErr=$maxErr")
    // gray replicates into all three channels
    assert((0 until w * h).forall(i =>
      dec.rgb(i * 3) == dec.rgb(i * 3 + 1) &&
        dec.rgb(i * 3) == dec.rgb(i * 3 + 2)))
  }

  test("jpeg: bounded error on arbitrary color rasters, quality ordering") {
    import graft.ops.Codecs
    val w = 24; val h = 16
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 31 + 7) % 256).toByte)
    def err(q: Int): (Int, Int) = {
      val enc = Codecs.encodeJpeg(w, h, rgb, quality = q)
      val dec = Codecs.decodeJpeg(enc).get
      assert(dec.width == w && dec.height == h)
      val errs = (0 until w * h * 3)
        .map(i => math.abs((dec.rgb(i) & 0xFF) - (rgb(i) & 0xFF)))
      (errs.max, enc.length)
    }
    val (e95, s95) = err(95)
    val (e50, s50) = err(50)
    assert(e95 <= 40, s"q=95 max channel err $e95")
    assert(s95 > s50, "higher quality must spend more bytes")
    assert(e50 < 256 && e95 <= e50 + 40)
    // odd (non-multiple-of-8) dims: edge-replication padding decodes
    // back to the exact requested dims
    val g2 = Array.tabulate(13 * 9)(i => ((i * 7) % 256).toByte)
    val d2 = Codecs.decodeJpeg(Codecs.encodeJpegGray(13, 9, g2, 85)).get
    assert(d2.width == 13 && d2.height == 9)
  }

  test("privacy audit: hand-computed k/l violations and summary") {
    import graft.ops.Privacy
    import spark.implicits._
    // group A: 3 rows, 3 sensitive values → violates k=4, passes l=2
    // group B: 5 rows, 1 sensitive value  → passes k=4, violates l=2
    // group C: 6 rows, 4 values           → passes both
    // null sensitive values don't count toward diversity
    val rows = Seq(
      ("A", Option("s1")), ("A", Option("s2")), ("A", Option("s3")),
      ("B", Option("x")), ("B", Option("x")), ("B", Option("x")),
      ("B", Option("x")), ("B", None),
      ("C", Option("a")), ("C", Option("b")), ("C", Option("c")),
      ("C", Option("d")), ("C", Option("a")), ("C", Option("b")))
      .toDF("quasi", "sensitive")
    val audit = Privacy.audit(rows, Seq("quasi"), "sensitive", 4, 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    assert(audit("A") == ((3L, 3L, true, false)))
    assert(audit("B") == ((5L, 1L, false, true)))
    assert(audit("C") == ((6L, 4L, false, false)))
    val v = Privacy.violations(rows, Seq("quasi"), "sensitive", 4, 2)
      .collect().map(_.getString(0)).toSet
    assert(v == Set("A", "B"))
    val sm = Privacy.summary(rows, Seq("quasi"), "sensitive", 4, 2)
      .collect()(0)
    assert(sm.getLong(0) == 3 && sm.getLong(1) == 14)  // groups, rows
    assert(sm.getLong(2) == 1 && sm.getLong(3) == 1)   // k, l violations
    assert(sm.getLong(4) == 8)                         // rows at risk
    assert(sm.getLong(5) == 3 && sm.getLong(6) == 1)   // min n, min ndv
    // the 100-TB sketch path: HLL++ is exact at these cardinalities,
    // so the approx audit must reproduce the exact one on the fixture
    val approx = Privacy.audit(rows, Seq("quasi"), "sensitive", 4, 2,
        approx = true)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    assert(approx == audit, s"approx ndv drifted on tiny groups: $approx")
  }

  test("audio fingerprint: WAV/FLAC invariant, drops short and stereo") {
    import graft.ops.{Codecs, Multimodal}
    import spark.implicits._
    val samples = Array.tabulate(260)(k =>
      (((k * 9973 + 31) % 65530) - 32768).toShort)
    def fp(media: (Long, Array[Byte])*): Map[Long, Long] =
      Multimodal.audioFingerprint(media.toSeq.toDF("media_id", "bytes"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = fp(
      1L -> Codecs.encodeWavPcm16(16000, 1, samples),
      2L -> Codecs.encodeFlac(16000, 1, samples),
      3L -> Codecs.encodeWavPcm16(16000, 1, samples.take(100)), // short
      4L -> Codecs.encodeWavPcm16(16000, 2, samples),           // stereo
      5L -> "not audio".getBytes)
    assert(got.keySet == Set(1L, 2L),
      s"short/stereo/undecodable should drop: ${got.keySet}")
    assert(got(1L) == got(2L),
      "lossless containers of the same PCM must fingerprint identically")
    // division semantics regression: window means must TRUNCATE toward
    // zero (JVM `/`), matching DuckDB's `//` — floorDiv would shift
    // negative non-multiple sums down by one and flip comparison bits
    val neg = Array.tabulate(260)(k => (-(k % 37) * 3 - 1).toShort)
    val handFp = {
      val m = Array.tabulate(65) { wi =>
        (0 until 4).map(j => neg(wi * 4 + j).toLong).sum / 4L // truncating
      }
      (0 until 64).foldLeft(0L)((h, i) =>
        if (m(i) > m(i + 1)) h | (1L << i) else h)
    }
    val gotNeg = fp(9L -> Codecs.encodeWavPcm16(16000, 1, neg))
    assert(gotNeg(9L) == handFp,
      s"negative-sum window means diverged: ${gotNeg(9L)} vs $handFp")
  }

  test("dhash: container-invariant, edit-tolerant, structure-sensitive") {
    import graft.ops.{Codecs, Multimodal}
    import spark.implicits._
    // a structured 18x16 raster with gradients + mod-wraps
    def raster(seed: Long, inv: Boolean): Array[Byte] = {
      val rgb = new Array[Byte](18 * 16 * 3)
      for (py <- 0 until 16; px <- 0 until 18) {
        val i = (py * 18 + px) * 3
        val r = ((seed * 31 + px * 7 + py * 13) % 256).toInt
        val g = ((seed * 37 + px * 11 + py * 3) % 256).toInt
        val b = ((seed * 41 + px * 5 + py * 17) % 256).toInt
        rgb(i) = (if (inv) 255 - r else r).toByte
        rgb(i + 1) = (if (inv) 255 - g else g).toByte
        rgb(i + 2) = (if (inv) 255 - b else b).toByte
      }
      rgb
    }
    def hashOf(media: (Long, Array[Byte])*): Map[Long, Long] =
      Multimodal.dhashImages(media.toSeq.toDF("media_id", "bytes"), 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rgb = raster(7L, inv = false)
    val asPpm = Codecs.encodePpm(18, 16, rgb)
    val asPng = Codecs.encodePng(18, 16, 3, rgb)
    // same pixels, different container → identical perceptual hash
    // (the property a byte-level hash cannot give)
    val h = hashOf(1L -> asPpm, 2L -> asPng)
    assert(h(1L) == h(2L), "dhash differs across PPM/PNG containers")
    // a sub-cell edit (one pooled block's blue +2) stays within the
    // near-dup band; photometric inversion lands far away
    val edited = rgb.clone()
    for (p <- Seq(0, 1, 18, 19))
      edited(p * 3 + 2) = ((edited(p * 3 + 2) & 0xFF) + 2).toByte
    val inv = raster(7L, inv = true)
    val h2 = hashOf(1L -> asPpm,
      3L -> Codecs.encodePpm(18, 16, edited),
      4L -> Codecs.encodePpm(18, 16, inv))
    assert(java.lang.Long.bitCount(h2(1L) ^ h2(3L)) <= 3,
      "small edit broke the perceptual hash")
    assert(java.lang.Long.bitCount(h2(1L) ^ h2(4L)) > 16,
      "inverted image unexpectedly near-dups the original")
    // too-small and undecodable payloads drop, never throw
    val tiny = Codecs.encodePpm(4, 4, new Array[Byte](48))
    assert(hashOf(5L -> tiny, 6L -> "junk".getBytes).isEmpty)
  }

  test("jpeg: malformed payloads are None, router dispatches by magic") {
    import graft.ops.Codecs
    val gray = Array.tabulate(64)(i => (i * 4).toByte)
    val enc = Codecs.encodeJpegGray(8, 8, gray, 75)
    assert(Codecs.decodeJpeg(java.util.Arrays.copyOf(enc,
      enc.length / 2)).isEmpty, "truncated entropy data")
    assert(Codecs.decodeJpeg(Array.fill[Byte](100)(0x55)).isEmpty)
    assert(Codecs.decodeJpeg(Array[Byte](-1, -40, -1)).isEmpty, "bare SOI")
    // flipping a DHT length byte must fail the parse, not throw
    val bad = enc.clone()
    bad(20) = (bad(20) ^ 0x7F).toByte
    Codecs.decodeJpeg(bad) // any Option is fine; must not throw
    assert(Codecs.decodeRaster(enc).exists(p => p.width == 8),
      "decodeRaster must route JPEG by magic")
    // a crafted header claiming a huge raster over a tiny entropy
    // segment must dead-letter (None) BEFORE the decoder allocates
    // its Int planes (32767² × 4 B ≈ 4 GiB/component — an OOM here
    // would kill the executor, violating the malformed→None contract)
    val huge = enc.clone()
    var sof = -1
    var i = 2
    while (sof < 0 && i < huge.length - 9) {
      if ((huge(i) & 0xFF) == 0xFF && (huge(i + 1) & 0xFF) == 0xC0) sof = i
      i += 1
    }
    assert(sof > 0, "test fixture: SOF0 not found")
    huge(sof + 5) = 0x7F; huge(sof + 6) = 0xFF.toByte // height 32767
    huge(sof + 7) = 0x7F; huge(sof + 8) = 0xFF.toByte // width 32767
    assert(Codecs.decodeJpeg(huge).isEmpty,
      "huge claimed dims over tiny entropy data must be None")
  }

  test("minhashCalibration: identical docs at full agreement, monotone") {
    import graft.ops.Dedup
    val corpus = docs.select("doc_id", "text").filter($"doc_id" < 120)
    val copies = corpus.select($"doc_id" + 100000 as "doc_id", $"text")
    val cal = Dedup.minhashCalibration(corpus.union(copies),
        "text", "doc_id")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // every exact-copy pair bands together and agrees on all 8 slots;
    // with only 8 hashes some near-dups also reach full agreement
    // (P = J^8), so the level-8 mean is HIGH, not exactly 1
    val (n8, i8, u8) = cal(8)
    assert(n8 >= corpus.count(), "copy pairs must reach full agreement")
    assert(i8.toDouble / u8 > 0.95, s"level-8 mean J ${i8.toDouble / u8}")
    // the estimator tracks: mean true Jaccard is monotone in matches
    val means = cal.toSeq.sortBy(_._1)
      .map { case (m, (_, i, u)) => m -> i.toDouble / u }
    means.sliding(2).foreach {
      case Seq((m1, j1), (m2, j2)) =>
        assert(j1 <= j2 + 0.05, s"calibration inverted: $m1:$j1 $m2:$j2")
      case _ => ()
    }
  }

  test("NaiveBayes: hand-computed model, OOV prior fallback, tie-break") {
    import graft.ops.NaiveBayes
    // train: A = "x x y", B = "z z"; V = {x,y,z}, totals A=3, B=2
    //   p(x|A) = 3/6, p(y|A) = 2/6, p(z|B) = 3/5, p(x|B) = p(y|B) = 1/5
    val train = Seq(("A", "x x y"), ("B", "z z")).toDF("lbl", "txt")
    val (cm, tm) = NaiveBayes.train(train, "txt", "lbl")
    val lp = tm.collect().map(r => (r.getString(0), r.getString(1)) ->
      r.getDouble(2)).toMap
    assert(approx(lp(("A", "x")), math.rint(math.log(0.5) * 1e9) / 1e9))
    assert(approx(lp(("B", "z")), math.rint(math.log(0.6) * 1e9) / 1e9))
    assert(lp.size == 6, "every (class, vocab term) pair incl. zeros")
    // "x y" → A (ln 1/6 beats ln 1/25); "z" → B; OOV "q" scores
    // prior-only in both classes (equal priors) → smallest class A
    val test = Seq((1L, "x y"), (2L, "z"), (3L, "q")).toDF("id0", "txt")
    val pred = NaiveBayes.predict(test, "txt", "id0", cm, tm)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred == Map(1L -> "A", 2L -> "B", 3L -> "A"))
  }

  test("NaiveBayes minDf: hapax pruned, totals/V shrink, default exact") {
    import graft.ops.NaiveBayes
    // x appears in docs 1 and 2 (df 2), y only in doc 1, z only in
    // doc 3 (df 1 each — hapax ACROSS DOCS even though z repeats
    // within its doc: the floor is DOCUMENT frequency, not term count)
    val train = Seq(("A", "x x y"), ("A", "x"), ("B", "z z"))
      .toDF("lbl", "txt")
    val (_, tmPruned) = NaiveBayes.train(train, "txt", "lbl", minDf = 2)
    val kept = tmPruned.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // only df>=2 terms survive the floor; B has NO kept tokens, so its
    // grid row drops with the inner totals join (a class with an empty
    // kept vocabulary scores prior-only, like an all-OOV doc)
    assert(kept.keySet == Set(("A", "x")),
      s"only df>=2 terms with a nonempty class survive, got ${kept.keySet}")
    // pruned totals: A's kept tokens = x,x,x (y dropped), V = 1
    //   p(x|A) = (3+1)/(3+1) = 1 → ln = 0
    assert(approx(kept(("A", "x")), math.rint(math.log(1.0) * 1e9) / 1e9))
    // minDf = 1 (default) must be bit-identical to the pre-floor model
    val (cm1, tm1) = NaiveBayes.train(train, "txt", "lbl")
    val (cm1b, tm1b) = NaiveBayes.train(train, "txt", "lbl", minDf = 1)
    assert(tm1.collect().toSet == tm1b.collect().toSet &&
      cm1.collect().toSet == cm1b.collect().toSet)
  }

  test("setSimilarityJoin ≡ brute-force all-pairs (recall 1.0, no extras)") {
    // the prefix filter is a complete pruning: its output must be
    // hash-identical to the unfiltered all-pairs rule on word unigrams
    val corpus = docs.select("doc_id", "text").filter($"doc_id" < 150)
    val mutated = corpus.select($"doc_id" + 100000 as "doc_id",
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val all = corpus.union(mutated)
    val got = Dedup.setSimilarityJoin(all, "text", "doc_id", 3, 3, 5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val prepared = all.select($"doc_id".as("id"),
      Dedup.shingles(TextAnalysis.tokens(lower($"text")), 3).as("toks"))
    val brute = prepared.as("a").join(prepared.as("b"),
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        size(array_intersect(col("a.toks"), col("b.toks"))).as("i"),
        (size(col("a.toks")) + size(col("b.toks"))
          - size(array_intersect(col("a.toks"), col("b.toks")))).as("u"))
      .filter($"i" * 5 >= $"u" * 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == brute, s"prefix join ${got.size} vs brute ${brute.size}")
    // planted near-copies share all but ~1 word: every pair must survive
    val planted = got.count { case (a, b) => b - a == 100000 }
    assert(planted >= (corpus.count() * 0.9).toLong)
  }

  test("setSimilarityJoin threshold boundary is integer-exact") {
    // |∩|=3, |∪|=5 sits EXACTLY on τ=3/5 — kept; |∩|=2,|∪|=4 (τ=1/2) cut
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c e"),   // inter {a,b,c}=3, union=5 → 3/5
      (3L, "p q r"), (4L, "p q s")        // inter=2, union=4 → 1/2 < 3/5
    ).toDF("doc_id", "text")
    val pairs = Dedup.setSimilarityJoin(df, "text", "doc_id", 1, 3, 5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("broadcastVocab=false: AQE-planned df join, identical pairs") {
    // the 100-TB escape knob must change only the PLAN (shuffle join on
    // the vocab instead of the skew-proof broadcast), never the rows —
    // for both prefix-filter ops sharing the df-ordering machinery
    val corpus = docs.select("doc_id", "text").filter($"doc_id" < 120)
    val bcast = Dedup.setSimilarityJoin(corpus, "text", "doc_id", 3, 3, 5)
      .select($"id_a", $"id_b", $"inter", $"uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    val shuffled = Dedup.setSimilarityJoin(corpus, "text", "doc_id", 3, 3, 5,
        broadcastVocab = false)
      .select($"id_a", $"id_b", $"inter", $"uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(bcast == shuffled)
    val cb = Dedup.containmentJoin(corpus, "text", "doc_id", 3, 4, 5)
      .select($"id_a", $"id_b", $"inter").as[(Long, Long, Long)]
      .collect().toSet
    val cs = Dedup.containmentJoin(corpus, "text", "doc_id", 3, 4, 5,
        broadcastVocab = false)
      .select($"id_a", $"id_b", $"inter").as[(Long, Long, Long)]
      .collect().toSet
    assert(cb == cs)
    // hashTokens: any total order prefixes losslessly and xxhash64
    // preserves set intersections — identical pairs AND counts
    val hset = Dedup.setSimilarityJoin(corpus, "text", "doc_id", 3, 3, 5,
        hashTokens = true)
      .select($"id_a", $"id_b", $"inter", $"uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(hset == bcast)
    val ch = Dedup.containmentJoin(corpus, "text", "doc_id", 3, 4, 5,
        hashTokens = true)
      .select($"id_a", $"id_b", $"inter").as[(Long, Long, Long)]
      .collect().toSet
    assert(ch == cb)
  }

  test("bpePairCounts matches a hand-computed pair table") {
    // words: "aa"×1, "ab"×2 → pairs (a,a):1, (a,</w>):1, (a,b):2, (b,</w>):2
    val got = TextAnalysis.bpePairCounts(
      Seq("aa ab", "ab").toDF("text"), "text")
      .as[(String, String, Long)].collect()
      .map { case (l, r, c) => (l, r) -> c }.toMap
    assert(got == Map(("a", "a") -> 1L, ("a", "</w>") -> 1L,
      ("a", "b") -> 2L, ("b", "</w>") -> 2L))
  }

  test("quantizeInt8: corpus extremes map to ±127, constant dims to 0") {
    val vecs = Seq(
      (0L, Array(0.0f, 5.0f, 1.0f)),
      (1L, Array(1.0f, 5.0f, 2.0f)),
      (2L, Array(2.0f, 5.0f, 3.0f))).toDF("vec_id", "embedding")
    val bounds = Similarity.dimensionBounds(vecs, "embedding")
    val codes = Similarity.quantizeInt8(vecs, "vec_id", "embedding", bounds)
      .orderBy($"vec_id").as[(Long, Seq[Int])].collect()
    assert(codes(0)._2 == Seq(-127, 0, -127)) // dim mins; constant dim → 0
    assert(codes(2)._2 == Seq(127, 0, 127))   // dim maxes
    assert(codes(1)._2.head == 0)             // midpoint → code 0
  }

  test("quantizedTopK ranks by integer dot product with id tie-break") {
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(1.0f, 1.0f)),
      (2L, Array(2.0f, 2.0f)),
      (3L, Array(2.0f, 2.0f))).toDF("vec_id", "embedding")
    val top = Similarity.quantizedTopK(vecs, vecs.filter($"vec_id" === 2),
      "vec_id", "embedding", k = 3)
      .orderBy($"rank").as[(Long, Long, Long, Int)].collect()
    // query [2,2] ≡ codes [127,127]: best is its twin id 3, then id 1
    // (codes [0,0] → score 0) ties id 0 ([-127,-127] → negative) — no:
    // id 0 scores -32258, id 1 scores 0 → order 3, 1, 0
    assert(top.map(_._2).toSeq == Seq(3L, 1L, 0L))
    assert(top(0)._3 == 2L * 127 * 127)
  }

  test("BPE trainer reproduces the canonical merge sequence") {
    // Sennrich-style corpus: low×5 lower×2 newest×6 widest×3.
    // Pair counts put (e,s), (s,t), (t,</w>) tied at 9 → the
    // deterministic tie-break (lexicographic) picks (e,s); then
    // (es,t) at 9 beats (t,</w>); then (est,</w>) stands alone.
    val corpus = Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
      .toDF("text")
    val merges = TextAnalysis.bpeTrainMerges(corpus, "text", numMerges = 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>")))
    // application: "newest" → [n, e, w, est</w>]; "low" untouched
    val got = Seq("newest", "low", "widest").toDF("w")
      .select(TextAnalysis.bpeApplyMerges($"w", merges).as("syms"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("n", "e", "w", "est</w>"))
    assert(got(1) == Seq("l", "o", "w", "</w>"))
    assert(got(2) == Seq("w", "i", "d", "est</w>"))
  }

  test("lengthBand trims percentile tails; approx mode pins the sketch contract") {
    // 100 one-token docs, 100 three-token docs, tails: one empty-ish
    // short doc and one 50-token doc
    val short = Seq("x")
    val long50 = Seq.fill(50)("w").mkString(" ")
    val corpus = ((1 to 100).map(i => (i.toLong, "one")) ++
      (101 to 200).map(i => (i.toLong, "a b c")) :+
      (300L, short.head) :+ (301L, long50))
      .toDF("doc_id", "text")
    val kept = TextAnalysis.lengthBand(corpus, "text", 0.05, 0.95)
      .select("doc_id").as[Long].collect().toSet
    // the 50-token doc is above p95; the band keeps the 1- and 3-token mass
    assert(!kept.contains(301L))
    assert(kept.size >= 190, s"kept ${kept.size}")
    // approx path: same filter semantics, bounds from the sketch — on
    // this small corpus with accuracy >> n the kept set matches exactly,
    // and the count column survives for downstream stats in both modes
    val keptApprox = TextAnalysis.lengthBand(corpus, "text", 0.05, 0.95,
      approx = true)
    assert(keptApprox.columns.contains("n_tok"))
    assert(keptApprox.select("doc_id").as[Long].collect().toSet == kept)
  }

  test("incremental BPE trainer matches a naive full-recount reference") {
    // naive reference: rebuild the whole pair table every merge — the
    // O(numMerges × Σ|word|) spelling the incremental trainer replaced.
    // Same tie-break (count desc, then lexicographic (left, right)).
    def naive(vocab0: Seq[(String, Long)], numMerges: Int)
        : Seq[(String, String)] = {
      var vocab: Array[(Array[String], Long)] = vocab0.map { case (w, f) =>
        (w.split("").filter(_.nonEmpty) :+ "</w>", f)
      }.toArray
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var i = 0
      while (i < numMerges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, f) =>
          var j = 0
          while (j < syms.length - 1) {
            val p = (syms(j), syms(j + 1))
            counts(p) = counts.getOrElse(p, 0L) + f
            j += 1
          }
        }
        if (counts.isEmpty) i = numMerges
        else {
          val (best, _) = counts.toSeq.maxBy { case ((l, r), n) => (n, l, r) }(
            Ordering.Tuple3(Ordering.Long, Ordering.String.reverse,
              Ordering.String.reverse))
          merges += best
          val fused = best._1 + best._2
          vocab = vocab.map { case (syms, f) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == best._1 &&
                  syms(j + 1) == best._2) { out += fused; j += 2 }
              else { out += syms(j); j += 1 }
            }
            (out.toArray, f)
          }
          i += 1
        }
      }
      merges.toSeq
    }
    // randomized corpus over a small alphabet: plenty of pair ties,
    // overlapping runs (aaa…), and words that die mid-training
    val rnd = new scala.util.Random(42)
    val words = (1 to 120).map { _ =>
      val len = 1 + rnd.nextInt(8)
      (Array.fill(len)(('a' + rnd.nextInt(3)).toChar).mkString,
        1L + rnd.nextInt(9))
    }
    val text = words.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      .mkString(" ")
    val freqs = words.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toSeq
    for (m <- Seq(1, 7, 40)) {
      val got = TextAnalysis.bpeTrainMerges(Seq(text).toDF("text"), "text", m)
      assert(got == naive(freqs, m), s"divergence at numMerges=$m")
    }
    // exhaustion: more merges than distinct pairs ever exist → both stop
    val all = TextAnalysis.bpeTrainMerges(
      Seq("ab ab ba").toDF("text"), "text", numMerges = 100)
    assert(all == naive(Seq(("ab", 2L), ("ba", 1L)), 100))
  }

  test("DSIR weights rank target-like docs above off-target docs") {
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta"),
      (2L, "zzz qqq zzz qqq zzz qqq"),
      (3L, "alpha beta gamma delta alpha beta")).toDF("doc_id", "text")
    val target = Seq((10L, "alpha beta gamma alpha beta"),
      (11L, "beta alpha gamma beta")).toDF("doc_id", "text")
    val w = graft.ops.Dsir.importanceWeights(corpus, target, "text",
      "doc_id").as[(Long, Double)].collect().toMap
    assert(w(1) > w(2), s"target-like ${w(1)} should beat off-target ${w(2)}")
    assert(w(3) > w(2))
    val top = graft.ops.Dsir.selectTop(corpus, target, "text", "doc_id", 2)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(top == Set(1L, 3L))
  }

  test("tokenEntropy: uniform = ln V (normalized 1), repeated = 0") {
    val docs = Seq(
      ("u", "a b c d"),          // uniform over 4 types
      ("r", "x x x x"),          // one type, zero entropy
      ("m", "a a a b")           // H = -(3/4·ln 3/4 + 1/4·ln 1/4)
    ).toDF("src", "text")
    val got = TextAnalysis.tokenEntropy(docs, "src", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5)))).toMap
    val u = got("u")
    assert(u._1 == 4L && u._2 == 4L && u._3 == 1.0)
    assert(math.abs(u._4 - math.log(4.0)) < 1e-8, u.toString)
    assert(math.abs(u._5 - 1.0) < 1e-8, "uniform → normalized 1")
    val rr = got("r")
    assert(rr._4 == 0.0 && rr._5.isNaN, "single type → H=0, norm null")
    val m = got("m")
    val want = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(m._4 - want) < 1e-8, s"${m._4} vs $want")
  }

  test("fkOrphans counts orphans and nulls separately") {
    import graft.ops.Expectations
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq[java.lang.Long](1L, 1L, 2L, 9L, null)
      .toDF("fk")
    val r = Expectations.fkOrphans(child, "fk", parent, "pk", "c.p")
      .first()
    assert(r.getString(0) == "c.p")
    assert(r.getLong(1) == 5L, "n_rows")
    assert(r.getLong(2) == 4L, "n_nonnull excludes the null FK")
    assert(r.getLong(3) == 1L, "only 9 is an orphan; null is not")
  }

  test("mmrRerank: diversity beats a redundant near-duplicate") {
    // query [1,1]: b is the top hit, a is b's near-copy, c is
    // orthogonal to both. Pure relevance would pick {b, a}; MMR at
    // λ=0.5 must pick {b, c}.
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)),         // a: near-copy of b
      (2L, Seq(0.999f, 0.02f)),      // b: best relevance
      (3L, Seq(0.0f, 1.0f))          // c: diverse
    ).toDF("vec_id", "embedding")
    val query = Seq((99L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val picks = Similarity.mmrRerank(corpus, query, "vec_id", "embedding",
        shortlistK = 3, k = 2, lam = 0.5)
      .orderBy(col("pick")).collect().map(_.getLong(1)).toSeq
    assert(picks == Seq(2L, 3L), picks.toString)
    // and at λ=1 (pure relevance) the near-copy wins instead
    val rel = Similarity.mmrRerank(corpus, query, "vec_id", "embedding",
        shortlistK = 3, k = 2, lam = 1.0)
      .orderBy(col("pick")).collect().map(_.getLong(1)).toSeq
    assert(rel == Seq(2L, 1L), rel.toString)
  }

  test("mmrRerank: a drained pool returns fewer picks, no null rows") {
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val query = Seq((99L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(corpus, query, "vec_id", "embedding",
      shortlistK = 5, k = 5, lam = 0.5).collect()
    assert(out.length == 2, out.mkString(","))
    assert(out.forall(!_.isNullAt(1)), "no phantom null picks")
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(corpus,
        corpus, "vec_id", "embedding", 2, 2, 0.5).collect()
    }
  }

  test("cdcChunkCoverage: boundaries re-sync after a prefix edit") {
    // 240-token deterministic text → ~15 chunks at the 1/16 boundary
    // rate; the noisy copy shares every chunk after the first
    // boundary; the unrelated doc shares nothing
    val base = (1 to 240).map(i => s"w${i * 7 % 101}").mkString(" ")
    val other = (1 to 240).map(i => s"q${i * 11 % 97}").mkString(" ")
    val corpus = Seq((1L, base), (2L, s"zz yy $base"), (3L, other))
      .toDF("id", "txt")
    val got = Dedup.cdcChunkCoverage(corpus, "id", "txt", g = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // token totals are partitioned exactly into chunks
    assert(got(1L)._1 == 240L && got(2L)._1 == 242L &&
      got(3L)._1 == 240L, got.toString)
    assert(got(1L)._2 > 5L, s"expected several chunks: ${got(1L)}")
    // re-sync: most of the original's tokens dedupe against the copy
    assert(got(1L)._4 > 120L,
      s"re-synced tail should dominate: ${got(1L)}")
    assert(got(2L)._4 > 120L, got(2L).toString)
    // the edited head chunk differs → not everything is shared
    assert(got(2L)._4 < got(2L)._1, got(2L).toString)
    assert(got(3L)._3 == 0L && got(3L)._4 == 0L,
      s"unrelated doc shares nothing: ${got(3L)}")
  }

  test("logOddsKeyness: planted over-represented terms rank first") {
    // symmetric corpus: g1 over-uses 'xx', g2 over-uses 'yy', 'cc' is
    // shared background — z must be symmetric across the two groups
    val docs = Seq(
      ("g1", "xx xx xx cc"), ("g1", "xx cc"),
      ("g2", "yy yy yy cc"), ("g2", "yy cc")).toDF("src", "text")
    val out = TextAnalysis.logOddsKeyness(docs, "src", "text", k = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(3), r.getInt(4)))).toMap
    assert(out(("g1", "xx"))._2 == 1, out.toString)   // top of g1
    assert(out(("g2", "yy"))._2 == 1, out.toString)   // top of g2
    assert(out(("g1", "xx"))._1 == out(("g2", "yy"))._1,
      "symmetry: planted terms must score identically")
    assert(out(("g1", "xx"))._1 > 0.0)
    assert(!out.contains(("g1", "yy")),
      "unobserved (group, token) pairs are not scored")
    // background term: same |z| in both groups, below the planted term
    assert(out(("g1", "cc"))._1 == out(("g2", "cc"))._1)
    assert(out(("g1", "cc"))._1 < out(("g1", "xx"))._1)
  }

  test("logOddsKeyness matches the closed-form z on a tiny corpus") {
    val docs = Seq(("a", "p p q"), ("b", "q q q")).toDF("src", "text")
    // vocab {p,q}: V=2, va=1.0; token p in a: y=2, yr=0, n_i=3, nr=3
    def z(y: Double, yr: Double, ni: Double, nr: Double) = {
      val va = 1.0
      val d = math.log((y + 0.5) / (ni + va - y - 0.5)) -
        math.log((yr + 0.5) / (nr + va - yr - 0.5))
      val s2 = 1.0 / (y + 0.5) + 1.0 / (yr + 0.5)
      math.rint(d / math.sqrt(s2) * 1e7) / 1e7
    }
    val got = TextAnalysis.logOddsKeyness(docs, "src", "text", k = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(math.abs(got(("a", "p")) - z(2, 0, 3, 3)) < 2e-7,
      s"${got(("a", "p"))} vs ${z(2, 0, 3, 3)}")
    assert(math.abs(got(("b", "q")) - z(3, 1, 3, 3)) < 2e-7,
      s"${got(("b", "q"))} vs ${z(3, 1, 3, 3)}")
  }

  test("containmentJoin: finds the excerpt jaccard structurally misses") {
    import spark.implicits._
    // a = first 5 words of b: C(a->b) = 3/3 = 1.0 while J = 3/10 —
    // below any near-dup threshold; and the reverse direction fails
    // the containment bar (3/10 < 4/5)
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.containmentJoin(docs, "text", "doc_id",
        n = 3, tauNum = 4, tauDen = 5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment")))
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
    val j = graft.ops.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, threshold = 0.8)
    assert(j.count() === 0L)
  }

  test("Dedup.connectedComponents: driver-local path == budget-forced " +
      "distributed loop, bit for bit") {
    // a chain (1-2-3), a triangle (10-11-12), an isolated pair, and a
    // self-pair — exercises the min-label step, pointer doubling past
    // the chain end, and the convergence probe on both paths
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 21L), (30L, 30L)).toDF("id_a", "id_b")
    def run() = Dedup.connectedComponents(pairs)
      .orderBy(col("id")).collect().toSeq.map(_.toSeq)
    val local = run()
    val key = graft.ops.Layout.CollectBudgetKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try assert(local === run())
    finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      spark.catalog.clearCache()
    }
  }

  test("rfmSegments: stacked grouped rank pass == per-metric " +
      "prefix-sum spelling (r14 restructure, fixture re-check)") {
    // the JourneySpec fixture semantics re-stated against hand scores:
    // guards the stacked (metric, value) rank rewrite
    val ev = Seq(
      (1L, 86400000000L * 10, 500L), (1L, 86400000000L * 12, 700L),
      (2L, 86400000000L * 11, 100L), (3L, 86400000000L * 1, 900L),
      (4L, 86400000000L * 12, 300L), (5L, 86400000000L * 5, 300L))
      .toDF("u", "t", "cents")
    val got = graft.ops.Journey.rfmSegments(ev, "u", "t", "cents")
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
      .collect().map(_.toSeq).toSeq
    // recency days: u1=0,u2=1,u3=11,u4=0,u5=7 → __r ranks {0:1,1:3,
    // 7:4,11:5}; N=5 → scores 1+(fr*5)div5; ties share values
    assert(got.nonEmpty && got.map(_.last.asInstanceOf[Long]).sum ==
      ev.select(col("cents")).as[Long].collect().sum)
    // and the full frame matches the budget-forced fallback path
    val key = graft.ops.Layout.CollectBudgetKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val dist = graft.ops.Journey.rfmSegments(ev, "u", "t", "cents")
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
        .collect().map(_.toSeq).toSeq
      assert(got === dist)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      spark.catalog.clearCache()
    }
  }
}
