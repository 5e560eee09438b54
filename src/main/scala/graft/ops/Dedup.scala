package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every near-dup path is banded — candidate pairs come
  * from equi-joins on (band, bucket) keys, never from a cross join, so
  * the shuffle is proportional to data + collisions, not n². Signatures
  * are row-local column expressions (array HOFs over xxhash64), so the
  * expensive part distributes with the scan.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact-duplicate groups keyed by content hash: representative id +
    * multiplicity per distinct text. One hash-shuffle on the digest.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("digest"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Keep one deterministic representative row per distinct text.
    * Partitioned by the 256-bit content digest, not the raw text — the
    * shuffle ships a 32-byte key instead of multi-KB documents, and the
    * window keys compare in constant time.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__digest")).orderBy(col(idCol))
    df.withColumn("__digest", sha2(col(textCol), 256))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__digest")
  }

  // ---------- shingles + MinHash ----------

  /** Word n-gram shingles (distinct) of a token array — single native
    * pass (`functions/WordShingles`, codegen'd static call); the
    * composable spelling below is the semantic reference it must match
    * (three interpreted HOF passes per row — the map-side cost of every
    * near-dup path).
    */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.TextHashes.wordShingles(toks, n)

  def shinglesComposable(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))

  /** MinHash signature: k independent permutations simulated by seeded
    * XXH64; each signature slot is the min hash over the shingle set.
    * Row-local single pass via the native `MinHashSignature` expression
    * (the HOF spelling — k× `array_min(transform(...))` — costs k
    * interpreted passes per row).
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    graft.functions.TextHashes.minhashSignature(shinglesCol, numHashes)

  /** LSH banding: (bandIndex, bandHash) keys from a signature — docs
    * sharing any band key are candidates. bands*rowsPerBand must equal
    * the signature length.
    */
  def bandKeys(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(sigCol, b * rowsPerBand + 1, rowsPerBand)), lit(b))
          .as("bucket"))
    }: _*)

  /** Candidate pairs (idA < idB) from banded signatures: explode bands →
    * equi-join on (band,bucket). The shuffle key is the band bucket, so
    * skew is bounded by collision-group size, not corpus size — and the
    * collision-group size itself is bounded by `maxBucket`
    * ([[Layout.capBuckets]]): a degenerate bucket (boilerplate text
    * hashing identically for millions of docs) sub-splits into id-hash
    * salt groups instead of going quadratic inside one join group.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, sigCol: String,
                        bands: Int, rowsPerBand: Int,
                        maxBucket: Int = 10000): DataFrame =
    lshPairsFrom(Layout.capBuckets(bandedFrame(df, idCol, sigCol, bands,
      rowsPerBand), Seq("band", "bucket"), "id", maxBucket))

  /** [[lshCandidatePairs]] with the hot-bucket count frame persisted
    * and probed ([[Layout.capBucketsCached]]: both self-join sides
    * consume it and exchange reuse does not see through the aliases;
    * the guard join vanishes entirely when nothing is hot) — release
    * via the returned [[Cached]]. The plain variant above stays fully
    * lazy and persist-free.
    */
  def lshCandidatePairsCached(df: DataFrame, idCol: String, sigCol: String,
                              bands: Int, rowsPerBand: Int,
                              maxBucket: Int = 10000): Cached = {
    val (capped, hot) = Layout.capBucketsCached(
      bandedFrame(df, idCol, sigCol, bands, rowsPerBand),
      Seq("band", "bucket"), "id", maxBucket)
    Cached(lshPairsFrom(capped), Seq(hot))
  }

  private def bandedFrame(df: DataFrame, idCol: String, sigCol: String,
                          bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(bandKeys(col(sigCol), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))

  private def lshPairsFrom(capped: DataFrame): DataFrame =
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.__salt") === col("b.__salt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  // ---------- engine-portable MinHash (md5 mode) ----------

  /** Engine-portable MinHash signature: permutation i hashes each
    * shingle as the md5 hex digest of `"i:shingle"` and keeps the
    * lexicographic minimum. Both md5-of-UTF-8 and binary string
    * ordering are engine-invariant (hex digits are ASCII), so an
    * external SQL engine recomputes the identical signature — the same
    * portability contract as [[Sampling]]'s md5 mode. The XXH64 path
    * ([[minhashSignature]]) is the production/perf mode; this one exists
    * to put the WHOLE banded pipeline on a cross-engine oracle.
    */
  def minhashSignaturePortable(shinglesCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shinglesCol,
        s => md5(concat(lit(s"$i:"), s).cast("binary"))))
    }: _*)

  /** Portable band keys: bucket = md5 of the comma-joined signature
    * slice (hex strings), reproducible in any engine with md5.
    */
  def bandKeysPortable(sigCol: Column, bands: Int,
                       rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", slice(sigCol, b * rowsPerBand + 1, rowsPerBand))
          .cast("binary")).as("bucket"))
    }: _*)

  /** Full MinHash-LSH pipeline in portable md5 mode: the banded
    * candidate generation AND the exact-Jaccard verify are
    * reproducible hash-exactly by an external engine (the d02b oracle
    * recomputes every stage in DuckDB SQL). Correctness-parity mode:
    * no bucket cap (capping salts by XXH64, which would break
    * portability) and no persist — use [[minhashNearDups]] for
    * production corpora.
    */
  def minhashNearDupsPortable(df: DataFrame, textCol: String, idCol: String,
                              shingleSize: Int = 3, numHashes: Int = 8,
                              bands: Int = 4,
                              threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val prepared = Layout.fanOut(df).select(col(idCol).as("id"),
        shingles(TextAnalysis.tokens(col(textCol)), shingleSize).as("sh"))
      .withColumn("sig", minhashSignaturePortable(col("sh"), numHashes))
    val banded = prepared.select(col("id"),
        explode(bandKeysPortable(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(prepared.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(prepared.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Incremental near-dup in engine-portable md5 mode: the bipartite
    * banded join of [[minhashNearDupsAgainst]] with
    * [[minhashSignaturePortable]] signatures, so every stage — both
    * sides' signatures, band buckets, candidate join, exact-Jaccard
    * verify, best-match election — is recomputed verbatim by an
    * external SQL engine (the d07b oracle). Correctness-parity mode:
    * no corpus-side bucket cap (capping salts by XXH64) and no
    * persist; [[minhashNearDupsAgainst]] is the production path.
    * Returns one row per flagged batch id with its best-matching
    * corpus id (highest Jaccard, ties to the smallest corpus id).
    */
  def minhashNearDupsAgainstPortable(batch: DataFrame, corpus: DataFrame,
                                     textCol: String, idCol: String,
                                     shingleSize: Int = 3, numHashes: Int = 8,
                                     bands: Int = 4,
                                     threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes,
      s"bands ($bands) must divide numHashes ($numHashes)")
    def prep(df: DataFrame) = Layout.fanOut(df).select(col(idCol).as("id"),
        shingles(TextAnalysis.tokens(col(textCol)), shingleSize).as("sh"))
      .withColumn("sig", minhashSignaturePortable(col("sh"), numHashes))
    val b = prep(batch)
    val c = prep(corpus)
    def banded(df: DataFrame) = df.select(col("id"),
        explode(bandKeysPortable(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.bucket").as("bucket"))
    val cand = banded(b).as("a").join(banded(c).as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("batch_id"), col("b.id").as("corpus_id"))
      .distinct()
    val verified = cand
      .join(b.select(col("id").as("batch_id"), col("sh").as("sh_a")),
        "batch_id")
      .join(c.select(col("id").as("corpus_id"), col("sh").as("sh_b")),
        "corpus_id")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
    // same election as minhashNearDupsAgainst: min_by over
    // (-jaccard, corpus_id) = highest jaccard, ties to smallest id
    verified.groupBy(col("batch_id"))
      .agg(min_by(col("corpus_id"),
          struct((-col("jaccard")).as("nj"), col("corpus_id")))
          .as("corpus_id"),
        max(col("jaccard")).as("jaccard"))
  }

  /** Exact Jaccard similarity of two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    when(union === 0, 0.0).otherwise(inter.cast("double") / union)
  }

  /** Full MinHash-LSH near-dup pipeline: tokenize → shingle → sign →
    * band → candidate pairs (bucket-capped, [[Layout.capBuckets]]) →
    * exact-Jaccard verify ≥ threshold.
    *
    * Cache lifecycle: the compact (id, shingles, sig) frame is persisted
    * because three join sides consume it and the result is lazy — call
    * `.release()` on the returned [[Cached]] after the consuming action
    * so long-lived sessions don't accumulate signature frames in the
    * block manager. [[minhashNearDups]] is the plain-DataFrame
    * convenience for one-shot sessions.
    */
  def minhashNearDupsCached(df: DataFrame, textCol: String, idCol: String,
                            shingleSize: Int = 3, numHashes: Int = 16,
                            bands: Int = 4, threshold: Double = 0.6,
                            maxBucket: Int = 10000): Cached = {
    val rowsPerBand = numHashes / bands
    // signatures feed three joins (banding + both pair sides): persist
    // the compact (id, shingles, sig) frame instead of recomputing the
    // shingle/hash pipeline per consumer — the same call a production
    // dedup job would make
    val prepared = Layout.fanOut(df).select(col(idCol).as("id"),
        shingles(TextAnalysis.tokens(col(textCol)), shingleSize).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairsCached = lshCandidatePairsCached(prepared, "id", "sig", bands,
      rowsPerBand, maxBucket)
    val verified = pairsCached.df
      .join(prepared.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(prepared.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    Cached(verified, prepared +: pairsCached.backing)
  }

  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      shingleSize: Int = 3, numHashes: Int = 16,
                      bands: Int = 4, threshold: Double = 0.6,
                      maxBucket: Int = 10000): DataFrame =
    minhashNearDupsCached(df, textCol, idCol, shingleSize, numHashes,
      bands, threshold, maxBucket).df

  /** Incremental near-dup: flag rows of `batch` that near-duplicate any
    * row of an existing `corpus` — the crawl-increment shape. Both sides
    * sign and band once; candidates come from the banded equi-join of
    * the (small) batch against the corpus index, so per-increment cost
    * is ∝ batch + collisions regardless of corpus size, and the corpus's
    * (id, shingles, sig) frame is exactly what a production pipeline
    * would keep materialized between increments. Returns one row per
    * flagged batch id with its best-matching corpus id and Jaccard.
    *
    * The bipartite candidate join caps the CORPUS side's buckets
    * ([[Layout.capBuckets]]): a degenerate corpus bucket meets each
    * colliding batch row only through one salt group instead of in
    * full, so a boilerplate bucket of millions can't multiply against a
    * hot batch key. (The batch side joins uncapped — its bucket
    * population is bounded by the increment size.)
    */
  def minhashNearDupsAgainst(batch: DataFrame, corpus: DataFrame,
                             textCol: String, idCol: String,
                             shingleSize: Int = 3, numHashes: Int = 16,
                             bands: Int = 4,
                             threshold: Double = 0.6,
                             maxBucket: Int = 10000): DataFrame =
    minhashNearDupsAgainstCached(batch, corpus, textCol, idCol, shingleSize,
      numHashes, bands, threshold, maxBucket).df

  def minhashNearDupsAgainstCached(batch: DataFrame, corpus: DataFrame,
                                   textCol: String, idCol: String,
                                   shingleSize: Int = 3, numHashes: Int = 16,
                                   bands: Int = 4,
                                   threshold: Double = 0.6,
                                   maxBucket: Int = 10000): Cached = {
    val rowsPerBand = numHashes / bands
    def prep(df: DataFrame) = Layout.fanOut(df)
      .select(col(idCol).as("id"),
        shingles(TextAnalysis.tokens(col(textCol)), shingleSize).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
    val b = prep(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c = prep(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def banded(df: DataFrame) = df
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand))
        .as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    // corpus-side giant buckets salt-split; each batch row picks the
    // SAME deterministic salt (id-hash of its own id is wrong here — it
    // must meet every corpus salt group to keep recall, so instead the
    // batch row fans out to every salt of a hot bucket)
    val (cCapped, cHot) = Layout.capBucketsCached(banded(c),
      Seq("band", "bucket"), "id", maxBucket)
    val saltCount = cCapped.groupBy(col("band"), col("bucket"))
      .agg((max(col("__salt")) + 1).as("__nsalt"))
    val bFanned = banded(b).join(saltCount, Seq("band", "bucket"), "inner")
      .select(col("id"), col("band"), col("bucket"),
        explode(sequence(lit(0L), col("__nsalt") - 1)).as("__salt"))
    val cand = bFanned.as("a").join(cCapped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.__salt") === col("b.__salt"))
      .select(col("a.id").as("batch_id"), col("b.id").as("corpus_id"))
      .distinct()
    val verified = cand
      .join(b.select(col("id").as("batch_id"), col("sh").as("sh_a")),
        "batch_id")
      .join(c.select(col("id").as("corpus_id"), col("sh").as("sh_b")),
        "corpus_id")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
    // best match per batch row: highest jaccard, ties to the smallest
    // corpus id — min_by over (-jaccard, corpus_id) orders correctly for
    // ANY orderable id type (negating a string id would be null/error)
    val best = verified.groupBy(col("batch_id"))
      .agg(min_by(col("corpus_id"),
          struct((-col("jaccard")).as("nj"), col("corpus_id")))
          .as("corpus_id"),
        max(col("jaccard")).as("jaccard"))
    Cached(best, Seq(b, c, cHot))
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash of a token array: per-bit ±1 votes from each token's
    * XXH64, sign-folded into a long. Single native pass (the HOF
    * spelling — a 64-wide `zip_with` per token — is interpreted and
    * boxes every vote).
    */
  def simhash64(toks: Column): Column =
    graft.functions.TextHashes.simhash64(toks)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    * chunks, equi-join per chunk, verify by Hamming distance. The
    * pigeonhole guarantee — distance ≤ 3 pairs always share a chunk
    * when bands=4 — holds WITHIN buckets up to `maxBucket`; an over-cap
    * bucket salt-splits ([[Layout.capBuckets]]) and its cross-salt
    * pairs are skipped, trading exactness inside degenerate
    * near-identical-boilerplate buckets for bounded pair counts. Pass
    * `maxBucket = Int.MaxValue` to restore the strict guarantee on
    * corpora known to be healthy.
    */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = 10000): DataFrame =
    simhashNearDupsCached(df, textCol, idCol, maxHamming, maxBucket).df

  def simhashNearDupsCached(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int = 3,
                            maxBucket: Int = 10000): Cached = {
    val signed = Layout.fanOut(df).select(col(idCol).as("id"),
        simhash64(TextAnalysis.tokens(lower(col(textCol)))).as("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inner = hammingNearDups64Cached(signed, maxHamming, maxBucket)
    Cached(inner.df, signed +: inner.backing)
  }

  /** Banded Hamming near-dup pairs over ANY 64-bit signature frame
    * `(id, sim)` — the signal-agnostic tail shared by text SimHash
    * ([[simhashNearDupsCached]]) and image dHash
    * ([[Multimodal.dhashImages]]): 4×16-bit band chunks (pigeonhole:
    * any pair at distance ≤ 3 shares a chunk), per-bucket cap +
    * salting before the self-join, popcount verify. Output:
    * (id_a, id_b, hamming).
    */
  def hammingNearDups64Cached(signed: DataFrame, maxHamming: Int = 3,
                              maxBucket: Int = 10000): Cached = {
    val banded = signed.select(col("id"), col("sim"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sim"), b * 16).bitwiseAND(0xFFFFL)
              .as("chunk"))
        }: _*)).as("bk"))
      .select(col("id"), col("sim"), col("bk.band"), col("bk.chunk"))
    // identical docs all share one 16-bit chunk per band — the classic
    // giant-bucket shape; cap it before the self-join
    val (capped, hot) = Layout.capBucketsCached(banded, Seq("band", "chunk"),
      "id", maxBucket)
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.__salt") === col("b.__salt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sim"), col("b.sim")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    Cached(pairs, Seq(hot))
  }

  /** Engine-portable SimHash signature (md5 mode): a 32-bit signature
    * rendered as a 32-char '0'/'1' string. Bit j takes a ±1 vote from
    * each token — +1 when hex digit j of the token's md5 is >= '8'
    * (the digit's high bit; hex digits are ASCII so the comparison is
    * engine-invariant), -1 otherwise — and folds to '1' when the votes
    * sum positive. Input is the token array pre-hashed to md5 hex
    * (one md5 per token, shared across all 32 bit positions).
    */
  def simhashSignaturePortable(md5Toks: Column): Column =
    concat((0 until 32).map { j =>
      val votes = aggregate(md5Toks, lit(0), (acc, h) =>
        acc + when(substring(h, j + 1, 1) >= "8", 1).otherwise(-1))
      when(votes > 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** SimHash near-dup pairs in engine-portable md5 mode: signature
    * bits, 4×8-bit band chunks, candidate pairs AND the Hamming verify
    * are all recomputed verbatim by the DuckDB oracle (the d04b row) —
    * the whole banded pipeline on the hash-exact signal. Pigeonhole:
    * with 4 bands over 32 bits, any pair at Hamming distance ≤ 3
    * shares at least one chunk, so recall is exact (no bucket cap in
    * parity mode). [[simhashNearDups]] (XXH64 64-bit, capped buckets)
    * remains the production path.
    */
  def simhashNearDupsPortable(df: DataFrame, textCol: String, idCol: String,
                              maxHamming: Int = 3): DataFrame = {
    val signed = Layout.fanOut(df).select(col(idCol).as("id"),
        transform(TextAnalysis.tokens(col(textCol)),
          t => md5(t.cast("binary"))).as("hs"))
      .select(col("id"), simhashSignaturePortable(col("hs")).as("sig"))
      // the bit-string is the portable REPRESENTATION (band chunks are
      // substrings of it, and the oracle recomputes it verbatim); the
      // verify runs on its long form so the candidate join's hot path
      // is one codegen'd bit_count(xor), not 64 interpreted substring
      // compares per pair
      .withColumn("sigl", conv(col("sig"), 2, 10).cast("long"))
    val banded = signed.select(col("id"), col("sigl"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            substring(col("sig"), b * 8 + 1, 8).as("chunk"))
        }: _*)).as("bk"))
      .select(col("id"), col("sigl"),
        col("bk.band").as("band"), col("bk.chunk").as("chunk"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sigl"), col("b.sigl")).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Corpus-level exact line deduplication — the CCNet/RefinedWeb
    * boilerplate rule: a line whose exact content appears in at least
    * `minDocs` DISTINCT documents (nav bars, footers, cookie banners)
    * is removed from EVERY document; surviving lines keep their
    * original order, and documents left with no lines drop.
    *
    * Scale shape: lines shuffle as 16-byte md5 digests, never text —
    * the distinct-doc count per digest is one two-level hash agg; the
    * blocked set (lines shared across `minDocs`+ docs) is tiny
    * relative to the corpus → broadcast anti-join; reassembly groups
    * by doc id with a collect bounded by single-document size. No
    * window, no self-join.
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                minDocs: Int = 2, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = Layout.fanOut(df).select(col(idCol).as("__id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__line")))
      .withColumn("__lh", md5(col("__line").cast("binary")))
    val blocked = lines.groupBy(col("__lh"))
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("__lh")
    val kept = lines.join(broadcast(blocked), Seq("__lh"), "left_anti")
    kept.groupBy(col("__id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")), sep).as("__text"))
      .select(col("__id").as(idCol), col("__text").as(textCol))
  }

  // ---------- near-dup clustering ----------

  /** Connected components over a near-dup pair list (id_a, id_b) by
    * min-label propagation with pointer-doubling: every node adopts the
    * smallest component label among itself and its neighbors (one join
    * over the EDGE list + an aggregate), then labels jump to their
    * label's label (a self-join over the NODE frame only). The
    * compression halves each node's distance to its component minimum,
    * so chains converge in O(log diameter) edge phases instead of
    * O(diameter) — and the extra work per iteration shuffles nodes, not
    * edges, which is the cheap side at corpus scale. Lineage is cut per
    * iteration via [[Checkpoints.cut]] (localCheckpoint by default,
    * reliable `spark.graft.checkpointDir` checkpoints for
    * executor-loss-tolerant cluster runs); the compression self-join
    * reads the already-materialized checkpoint twice at no recompute
    * cost.
    * Near-dup graphs are overwhelmingly tiny cliques, so 2-3 iterations
    * in practice.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // r14 driver gate (the Graph.Local stance): near-dup pair frames
    // are duplicate-bounded, so when the collected pairs fit the
    // row+byte budget the min-label/pointer-doubling phases run as
    // driver Long algebra — schedule-identical to the loop below
    // (same per-phase min, same changed?-convergence probe, same
    // maxIter cap), so labels match bit for bit even on graphs the
    // cap leaves unconverged. Past the bound (or non-BIGINT/null ids)
    // the distributed loop runs unchanged on the pinned fallback (the
    // labels are checkpoint-cut, so the gate may release the pin on
    // return).
    Layout.gate(pairs.select(col("id_a"), col("id_b")))(rows =>
      Some(componentsLocal(pairs.sparkSession, rows, maxIter))) { src =>
      val edges = src.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(src.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var labels = Checkpoints.cut(
        edges.select(col("src").as("id")).distinct()
          .withColumn("component", col("id")))
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        val nbrMin = edges
          .join(labels.withColumnRenamed("id", "dst")
            .withColumnRenamed("component", "nbr_component"), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("nbr_component")).as("nbr_min"))
        // convergence rides along as a per-row flag: the localCheckpoint
        // action below is the phase's ONLY full job, and the changed?
        // probe is a short-circuiting scan of the already-materialized
        // checkpoint (head(1)), not a second shuffle+count over the data
        val stepped = Checkpoints.cut(
          labels.join(nbrMin, Seq("id"), "left")
            .select(col("id"),
              least(col("component"),
                coalesce(col("nbr_min"), col("component"))).as("component"),
              (col("nbr_min").isNotNull && col("nbr_min") < col("component"))
                .as("__changed")))
        converged = stepped.filter(col("__changed")).head(1).isEmpty
        labels = stepped.drop("__changed")
        if (!converged) {
          // pointer doubling on the materialized step result: component
          // labels are node ids, so a node two hops from the minimum
          // reaches it directly next phase. Labels only decrease, and
          // always to a node id inside the same component, so the
          // step-fixpoint convergence criterion above stays valid.
          labels = Checkpoints.cut(labels.as("a")
            .join(labels.select(col("id").as("__lid"),
              col("component").as("__lcomp")).as("b"),
              col("a.component") === col("__lid"), "left")
            .select(col("a.id").as("id"),
              least(col("a.component"),
                coalesce(col("__lcomp"), col("a.component"))).as("component")))
        }
        iter += 1
      }
      edges.unpersist(blocking = false)
      labels
    }
  }

  /** [[connectedComponents]]' phases over collected pairs — the exact
    * driver replica (min-label step, changed?-probe convergence,
    * pointer doubling, the same maxIter cap). All integer min ops, no
    * rounding surface; PipelineOpsSpec pins path equality with the
    * fallback forced through the collect byte budget.
    */
  private def componentsLocal(spark: org.apache.spark.sql.SparkSession,
                              rows: Array[org.apache.spark.sql.Row],
                              maxIter: Int): DataFrame = {
    import scala.collection.mutable
    val es = rows.map(r => (r.getLong(0), r.getLong(1)))
    var labels = mutable.LongMap.empty[Long]
    es.foreach { case (a, b) => labels(a) = a; labels(b) = b }
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nm = mutable.LongMap.empty[Long]
      def off(n: Long, l: Long): Unit =
        if (l < nm.getOrElse(n, Long.MaxValue)) nm(n) = l
      es.foreach { case (a, b) => off(a, labels(b)); off(b, labels(a)) }
      var changed = false
      val stepped = mutable.LongMap.empty[Long]
      labels.foreach { case (n, l) =>
        nm.get(n) match {
          case Some(x) =>
            if (x < l) changed = true
            stepped(n) = math.min(l, x)
          case None => stepped(n) = l
        }
      }
      converged = !changed
      labels = stepped
      if (!converged) {
        val doubled = mutable.LongMap.empty[Long]
        labels.foreach { case (n, l) =>
          doubled(n) = math.min(l, labels.getOrElse(l, l))
        }
        labels = doubled
      }
      iter += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType)))
    val out = labels.toArray.sortBy(_._1).map { case (n, c) =>
      org.apache.spark.sql.Row(n, c) }
    spark.createDataFrame(
      java.util.Arrays.asList(out.toIndexedSeq: _*), schema)
  }

  /** Component-size frame for skew monitoring: one giant component
    * (e.g. boilerplate that links everything) makes the min-label loop
    * run to diameter and concentrates one reducer — run this after
    * clustering and alert on sizes far above the corpus's expected
    * near-dup clique size before trusting a dedup pass.
    */
  def componentSizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("component")).agg(count(lit(1)).as("size"))

  /** Deduplicate a corpus given near-dup pairs: every component keeps
    * its smallest id; rows never seen in a pair keep themselves.
    */
  def dedupByComponents(df: DataFrame, idCol: String,
                        pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs)
    // opt-in skew diagnostics: a boilerplate-linked giant component
    // shows up in the log before the keep-join pays for it
    if (Diag.enabled(df.sparkSession))
      Diag.logTop("dedupByComponents", Diag.componentSkew(labels))
    val reps = labels.groupBy(col("component")).agg(min(col("id")).as("rep"))
    val members = labels.join(reps, "component")
      .select(col("id"), col("rep"))
    df.join(members.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("rep").isNull || col("rep") === col(idCol))
      .drop("rep")
  }

  /** [[dedupByComponents]] with a QUALITY keep rule: each near-dup
    * cluster keeps its highest-`scoreCol` member (ties → smallest id)
    * instead of the smallest id — the production policy ("keep the
    * longest / highest-quality copy") that min-id dedup silently gets
    * wrong when the best copy is not the first-crawled one. The
    * representative comes from ONE max_by aggregation over the
    * cluster members (no window over the full corpus: unclustered
    * rows — the overwhelming majority — never shuffle).
    */
  def dedupByComponentsKeepBest(df: DataFrame, idCol: String,
                                scoreCol: String,
                                pairs: DataFrame): DataFrame = {
    val labels = connectedComponents(pairs)
    val scored = labels
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__score")),
        "id")
    // (max score, then min id among the maxima) in two cheap aggs —
    // a single max_by(struct(score, id)) would break ties toward the
    // LARGEST id, and negating the id to flip the tie is type-unsafe
    // for string ids (the minhashNearDupsAgainst tie-break lesson)
    val best = scored.groupBy(col("component"))
      .agg(max(col("__score")).as("__best"))
    // null-safe compare: a cluster whose members ALL have null scores
    // has __best null, and a plain === (null → filter drops the row)
    // would elect no representative — every member would silently
    // survive undeduplicated. <=> makes the all-null cluster fall back
    // to the min-id rep; in mixed clusters null <=> non-null is false,
    // so null-scored members still lose to any scored member.
    val reps = scored.join(best, "component")
      .filter(col("__score") <=> col("__best"))
      .groupBy(col("component")).agg(min(col("id")).as("rep"))
    val members = labels.join(reps, "component")
      .select(col("id"), col("rep"))
    df.join(members.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("rep").isNull || col("rep") === col(idCol))
      .drop("rep")
  }

  // ---------- benchmark decontamination ----------

  /** Drop corpus documents contaminated by a blocklist (eval-benchmark
    * text, held-out sets): a document is contaminated when ≥ `threshold`
    * of its own distinct word n-gram shingles appear anywhere in the
    * blocklist — the standard n-gram-overlap decontamination rule for
    * LLM training corpora.
    *
    * Scale design: both sides explode to shingle keys and meet in an
    * equi-join on the shingle, so the shuffle is proportional to total
    * shingle count, never |corpus| × |blocklist|. The distinct blocklist
    * shingle set is benchmark-sized in practice → broadcast by default
    * (`broadcastBlocklist = false` for a huge blocklist lets AQE pick
    * the join side).
    */
  def decontaminate(corpus: DataFrame, blocklist: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 3, threshold: Double = 0.5,
                    broadcastBlocklist: Boolean = true): DataFrame = {
    // shingles travel as 64-bit hashes, not strings: the explode, the
    // shuffle, and the membership join all move 8-byte keys (the
    // standard production form of n-gram decontamination; a cross-hash
    // collision inflating one doc's overlap count is ~2^-64 per pair)
    val sh = (df: DataFrame) =>
      transform(shingles(TextAnalysis.tokens(lower(col(textCol))), n),
        s => xxhash64(s))
    val corpusSh = Layout.fanOut(corpus)
      .select(col(idCol).as("__id"), sh(corpus).as("__sh"))
    val blockShRaw = Layout.fanOut(blocklist)
      .select(explode(sh(blocklist)).as("__bsh")).distinct()
    val blockSh = if (broadcastBlocklist) broadcast(blockShRaw) else blockShRaw
    val contaminated = corpusSh
      .select(col("__id"), size(col("__sh")).as("__total"),
        explode(col("__sh")).as("__s"))
      .join(blockSh, col("__s") === col("__bsh"), "left_semi")
      .groupBy(col("__id"), col("__total"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits").cast("double") / col("__total") >= threshold)
      .select(col("__id"))
    corpus.join(contaminated, corpus(idCol) === contaminated("__id"),
      "left_anti")
  }

  /** [[decontaminate]] for a blocklist too large to broadcast exactly:
    * a Bloom filter of the blocklist's distinct shingle hashes (built
    * with Spark's own `BloomFilterAggregate` — the sketch behind its
    * runtime join filters) is shipped as a literal and applied as a
    * scan-local codegen'd predicate, so the corpus' full shingle stream
    * never shuffles. Only bloom hits — true matches plus ~`fpp` false
    * positives — enter the exact membership semi-join, which restores
    * exactness: the result is row-identical to [[decontaminate]], the
    * bloom only prunes the join input. At 10⁸ blocklist shingles the
    * exact set is ~800 MB of 8-byte keys; the 1%-fpp filter is ~120 MB
    * and one aggregation pass to build.
    *
    * Sizing runs one count job over the distinct blocklist shingles
    * (two longs to the driver); the filter itself also returns to the
    * driver — both bounded by `fpp`, not by data. `release()` the
    * returned [[Cached]] after the consuming action.
    */
  def decontaminateBloomCached(corpus: DataFrame, blocklist: DataFrame,
                               textCol: String, idCol: String,
                               n: Int = 3, threshold: Double = 0.5,
                               fpp: Double = 0.01): Cached = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val sh = (df: DataFrame) =>
      transform(shingles(TextAnalysis.tokens(lower(col(textCol))), n),
        s => xxhash64(s))
    val blockSh = Layout.fanOut(blocklist)
      .select(explode(sh(blocklist)).as("__bsh")).distinct().persist()
    val nDistinct = blockSh.count()
    if (nDistinct == 0L) return Cached(corpus, Seq(blockSh))
    // standard optimal sizing m = -n·ln(p)/ln(2)², clamped to the same
    // ceilings Spark enforces on its runtime bloom filters
    val conf = corpus.sparkSession.conf
    val maxItems = conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
      .map(_.toLong).getOrElse(4000000L)
    val maxBits = conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    val estItems = math.min(nDistinct, maxItems)
    val numBits = math.min(maxBits, math.max(64L,
      math.ceil(-estItems * math.log(fpp) / (math.log(2) * math.log(2)))
        .toLong))
    val bloomBytes = blockSh
      .agg(Bridge.column(new BloomFilterAggregate(
        Bridge.expression(col("__bsh")),
        Literal(estItems), Literal(numBits), 0, 0)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightContain = (c: Column) => Bridge.column(
      new BloomFilterMightContain(
        Bridge.expression(lit(bloomBytes)), Bridge.expression(c)))
    val corpusSh = Layout.fanOut(corpus)
      .select(col(idCol).as("__id"), sh(corpus).as("__sh"))
    val contaminated = corpusSh
      .select(col("__id"), size(col("__sh")).as("__total"),
        explode(col("__sh")).as("__s"))
      .filter(mightContain(col("__s")))
      .join(blockSh, col("__s") === col("__bsh"), "left_semi")
      .groupBy(col("__id"), col("__total"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits").cast("double") / col("__total") >= threshold)
      .select(col("__id"))
    Cached(
      corpus.join(contaminated, corpus(idCol) === contaminated("__id"),
        "left_anti"),
      Seq(blockSh))
  }

  /** [[decontaminateBloomCached]] without the release handle. */
  def decontaminateBloom(corpus: DataFrame, blocklist: DataFrame,
                         textCol: String, idCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         fpp: Double = 0.01): DataFrame =
    decontaminateBloomCached(corpus, blocklist, textCol, idCol, n,
      threshold, fpp).df

  /** Per-document blocklist-overlap score — the REPORT form of
    * [[decontaminate]]: instead of dropping contaminated docs, emit
    * (doc, overlapping-shingle count, total shingles) for every doc
    * with ≥1 hit, so a pipeline can audit memorization risk, tune the
    * drop threshold, or quarantine by band before committing to a
    * filter. Same shuffle shape as decontaminate: shingles travel as
    * 8-byte hashes, blocklist broadcast, one grouped count.
    */
  def overlapScores(corpus: DataFrame, blocklist: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 3,
                    broadcastBlocklist: Boolean = true): DataFrame = {
    val sh = (df: DataFrame) =>
      transform(shingles(TextAnalysis.tokens(lower(col(textCol))), n),
        s => xxhash64(s))
    val corpusSh = Layout.fanOut(corpus)
      .select(col(idCol).as("doc_id"), sh(corpus).as("__sh"))
    val blockShRaw = Layout.fanOut(blocklist)
      .select(explode(sh(blocklist)).as("__bsh")).distinct()
    val blockSh = if (broadcastBlocklist) broadcast(blockShRaw) else blockShRaw
    corpusSh
      .select(col("doc_id"), size(col("__sh")).as("n_shingles"),
        explode(col("__sh")).as("__s"))
      .join(blockSh, col("__s") === col("__bsh"), "left_semi")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Cross-group shingle-overlap matrix — the corpus-composition audit:
    * for every pair of groups (sources, snapshots, languages), how many
    * DISTINCT word n-gram shingles they share, with each side's own
    * distinct-shingle total and the containment ratio
    * shared / min(|a|, |b|). High containment between two "independent"
    * sources means one mirrors the other — the signal that decides
    * whether to dedup across them before mixing.
    *
    * Scale: each group collapses to its distinct shingle set FIRST
    * (shingles as 8-byte hashes, two-level distinct agg), so the
    * pair join is over per-group vocabularies, never documents; the
    * matrix itself is |groups|² rows. The d06/d10 hash-membership
    * contract applies (a cross-hash collision is ~2^-64 per pair).
    */
  def groupOverlapMatrix(df: DataFrame, textCol: String, groupCol: String,
                         n: Int = 3): DataFrame =
    groupOverlapMatrixCached(df, textCol, groupCol, n).df

  /** [[groupOverlapMatrix]] with the persisted per-group shingle
    * vocabulary exposed for release (three consumers: totals + both
    * join sides).
    */
  def groupOverlapMatrixCached(df: DataFrame, textCol: String,
                               groupCol: String, n: Int = 3): Cached = {
    val gs = Layout.fanOut(df)
      .select(col(groupCol).as("__g"),
        explode(transform(shingles(TextAnalysis.tokens(lower(col(textCol))),
          n), s => xxhash64(s))).as("__h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = gs.groupBy(col("__g")).agg(count(lit(1)).as("__total"))
    val shared = gs.as("a").join(gs.as("b"),
        col("a.__h") === col("b.__h") && col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("group_a"), col("b.__g").as("group_b"))
      .agg(count(lit(1)).as("n_shared"))
    val out = shared
      .join(broadcast(totals.select(col("__g").as("group_a"),
        col("__total").as("total_a"))), "group_a")
      .join(broadcast(totals.select(col("__g").as("group_b"),
        col("__total").as("total_b"))), "group_b")
      .withColumn("containment",
        col("n_shared").cast("double") /
          least(col("total_a"), col("total_b")))
      .select("group_a", "group_b", "n_shared", "total_a", "total_b",
        "containment")
    Cached(out, Seq(gs))
  }

  // ---------- passage-level overlap ----------

  /** All n-token passages (overlapping windows, stride 1) of a token
    * array; shorter docs yield their whole text as one passage.
    */
  def passages(toks: Column, n: Int): Column =
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  /** Cross-document passage overlap: every n-token passage that appears
    * in at least `minDocs` distinct documents, with its document and
    * occurrence counts — the signal driving passage-level dedup
    * (strip repeated boilerplate spans rather than whole documents).
    *
    * Scale design: passages travel as md5 digests, so the shuffle key
    * is 32 bytes regardless of n, and the aggregation is one grouped
    * pass with map-side partials (the md5 spelling is engine-portable —
    * the d08 oracle recomputes it in DuckDB; swap `md5` for `xxhash64`
    * when cross-engine parity doesn't matter and 8-byte keys do).
    */
  def passageOverlap(df: DataFrame, textCol: String, idCol: String,
                     n: Int, minDocs: Int = 2): DataFrame =
    Layout.fanOut(df)
      .select(col(idCol).as("doc_id"),
        explode(passages(TextAnalysis.tokens(lower(col(textCol))), n))
          .as("p"))
      .select(col("doc_id"), md5(col("p").cast("binary")).as("passage"))
      .groupBy(col("passage"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)

  /** Cross-document repeated-span REMOVAL — the scrub step behind
    * [[passageOverlap]]'s report (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": repeated ≥n-token
    * substrings are removed from all but one occurrence). Every
    * n-token span appearing in ≥ `minDocs` distinct documents keeps
    * its FIRST occurrence (the min-id document keeps every token) and
    * is scrubbed everywhere else: a token goes iff some shared span
    * covers it and this document is not that span's first. Documents
    * scrubbed empty drop entirely; order of surviving tokens is
    * preserved.
    *
    * Scale shape: span occurrences shuffle as 32-byte md5 digests
    * (one grouped pass with map-side partials — the [[passageOverlap]]
    * layout); removal START positions come back per document as one
    * doc-bounded `collect_set` (≤ tokens-per-doc ints, never corpus-
    * bounded); and the rebuild is a scan-local HOF filter against that
    * array — corpus TOKENS never shuffle, only digests and positions
    * do. Per-row rebuild cost is |tokens| × |removal starts|, bounded
    * by boilerplate density, not corpus size.
    *
    * Span keys hash the LOWERCASED tokens (match [[passageOverlap]]);
    * the rebuild re-emits the original-case tokens at surviving
    * positions (whitespace runs collapse to single spaces — the same
    * token-rebuild contract as [[lineDedup]]'s reassembly). Documents
    * shorter than n tokens emit no spans and pass through untouched.
    */
  def removeSharedPassages(df: DataFrame, textCol: String, idCol: String,
                           n: Int, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(n >= 2, s"span length must be >= 2, got $n")
    val spans = Layout.fanOut(df)
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(lower(col(textCol))).as("__lt"))
      .filter(size(col("__lt")) >= n)
      .select(col("__id"),
        posexplode(passages(col("__lt"), n)).as(Seq("__pos", "__p")))
      .select(col("__id"), col("__pos"),
        md5(col("__p").cast("binary")).as("__key"))
    val shared = spans.groupBy(col("__key"))
      .agg(countDistinct(col("__id")).as("__nd"),
        min(col("__id")).as("__first"))
      .filter(col("__nd") >= minDocs)
      .select(col("__key"), col("__first"))
    val starts = spans.join(shared, Seq("__key"))
      .filter(col("__id") =!= col("__first"))
      .groupBy(col("__id"))
      .agg(collect_set(col("__pos")).as("__starts"))
    val joined = df.join(starts.withColumnRenamed("__id", idCol),
      Seq(idCol), "left")
    val raw = TextAnalysis.tokens(col(textCol))
    // surviving tokens: original-case token at 0-based position i stays
    // iff no removal start s covers it (s <= i < s + n)
    val kept = filter(
      transform(raw, (t, i) => struct(t.as("t"), i.as("i"))),
      x => !exists(col("__starts"), s =>
        x.getField("i") >= s && x.getField("i") < s + n))
    joined
      .withColumn(textCol,
        when(col("__starts").isNull, col(textCol))
          .otherwise(array_join(transform(kept, _.getField("t")), " ")))
      .filter(length(col(textCol)) > 0)
      .drop("__starts")
  }

  // ---------- n-gram Jaccard (exact, un-banded baseline) ----------

  /** Exact pairwise n-gram Jaccard over a bounded candidate set (the
    * correctness baseline the banded paths approximate — use
    * [[minhashNearDups]] at corpus scale). The O(n²) self-join is fenced
    * by `maxRows`: the call refuses unbounded input instead of silently
    * going quadratic. The count costs one pass over the (small, already
    * caller-filtered) candidate frame.
    */
  /** MinHash ESTIMATOR CALIBRATION — the audit a sketch deployment
    * owes its users: for every banded candidate pair, the signature
    * agreement count (the estimator: E[matches/k] = true Jaccard)
    * next to the EXACT overlap, aggregated per agreement level as
    * pure integers (n_pairs, Σ|∩|, Σ|∪| — the mean true Jaccard per
    * level is their ratio, computed by the reader, so no float sum
    * order exists anywhere). Portable md5 mode, so the d16 oracle
    * replays signatures, banding, candidates, agreement counts AND
    * exact overlaps.
    */
  def minhashCalibration(df: DataFrame, textCol: String, idCol: String,
                         shingleSize: Int = 3, numHashes: Int = 8,
                         bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val prepared = df.select(col(idCol).as("id"),
        shingles(TextAnalysis.tokens(lower(col(textCol))), shingleSize)
          .as("sh"))
      .withColumn("sig", minhashSignaturePortable(col("sh"), numHashes))
    val banded = prepared.select(col("id"),
        explode(bandKeysPortable(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(prepared.select(col("id").as("id_a"), col("sig").as("sa"),
        col("sh").as("ha")), "id_a")
      .join(prepared.select(col("id").as("id_b"), col("sig").as("sb"),
        col("sh").as("hb")), "id_b")
      .select(
        expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), " +
          "0, (acc, v) -> acc + v)").as("matches"),
        size(array_intersect(col("ha"), col("hb"))).cast("long")
          .as("inter"),
        (size(col("ha")) + size(col("hb"))
          - size(array_intersect(col("ha"), col("hb")))).cast("long")
          .as("uni"))
      .groupBy(col("matches"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("inter")).as("sum_inter"),
        sum(col("uni")).as("sum_union"))
  }

  // ---------- exact set-similarity join (prefix filtering) ----------

  /** EXACT Jaccard similarity join via prefix filtering (AllPairs /
    * PPJoin, Bayardo et al. 2007; Xiao et al. 2008) — the scale path
    * for exact (not approximate) set joins, complementary to the
    * MinHash band family above: LSH trades recall for speed, this
    * keeps recall 1.0 and prunes with an algebraic guarantee instead.
    *
    * Recipe, every stage an equi-join or grouped aggregation:
    *  1. element sets per doc — distinct word n-gram [[shingles]]
    *     (n = 1 gives bag-of-words sets);
    *  2. global document frequency per token — vocabulary-sized,
    *     broadcast back so the hot-token join key never shuffles the
    *     exploded corpus (a stopword's fan-out meets a 1-row build
    *     side, the skew-proof shape);
    *  3. each doc's tokens ordered (df asc, token asc) — rarest
    *     first, the total order the prefix theorem needs;
    *  4. PREFIX emission: only the first n − ⌈τ·n⌉ + 1 ordered tokens
    *     index the doc. Under the global order, any pair with
    *     J ≥ τ must share a prefix token (if a's prefix misses b
    *     entirely, overlap ≤ ⌈τ·|a|⌉ − 1 < τ·|a∪b| required), so the
    *     candidate equi-join on the prefix token is COMPLETE — and
    *     prefixes hold the rare end of the order, so bucket sizes
    *     stay small where stopword buckets would explode;
    *  5. length filter in the join condition (τ·|a| ≤ |b| ≤ |a|/τ as
    *     cross-multiplied integers);
    *  6. exact verify: τ as the rational tauNum/tauDen, the threshold
    *     test den·|∩| ≥ num·|∪| pure INTEGER arithmetic — engine-
    *     invariant, no float boundary anywhere (the d02b/d04b
    *     portability contract; ⌈τ·n⌉ = (num·n + den − 1) div den).
    *
    * Output: (id_a, id_b, inter, uni, jaccard), id_a < id_b, exactly
    * the pairs with J ≥ tauNum/tauDen — hash-identical to the brute
    * all-pairs [[ngramJaccardPairs]] rule on the same shingle sets, at
    * prefix-join cost. The d14 oracle replays every stage in DuckDB.
    *
    * `broadcastVocab`: the document-frequency table is VOCABULARY-
    * sized — bounded by the token domain at the shipped scales, but
    * growing ~linearly with a web-scale corpus. Default `true` keeps
    * the skew-proof broadcast (a stopword's fan-out meets a 1-row
    * build side); pass `false` at 100-TB vocabularies to let AQE plan
    * the df join instead (the [[decontaminate]]
    * `broadcastBlocklist = false` escape pattern — a shuffle join
    * keyed on the token, where AQE's skew-join split absorbs the
    * stopword buckets).
    */
  def setSimilarityJoin(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3,
                        tauNum: Int = 3, tauDen: Int = 5,
                        broadcastVocab: Boolean = true,
                        hashTokens: Boolean = false): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0,1]: got $tauNum/$tauDen")
    // hashTokens: replace every string shingle by its xxhash64 — the
    // 100-TB shuffle-byte knob. The prefix filter only needs SOME
    // total order on tokens ((df, hash) works as well as (df, string))
    // and the verify counts set intersections, which hashing preserves
    // exactly up to 64-bit collisions (expected collisions ≈ v²/2⁶⁵ —
    // ~0.05 across a 10⁹-shingle vocabulary, each worth at most ±1 on
    // one pair's overlap count). Measured at the 50× probe: the
    // exploded (id, shingle-string) corpus is ~5× the hashed one in
    // shuffle bytes — the difference between fitting the sandbox disk
    // and ENOSPC. Default false: the shipped-scale oracle contract
    // stays string-exact.
    val toksRaw = shingles(TextAnalysis.tokens(lower(col(textCol))), n)
    val docs = df.select(col(idCol).as("id"),
      // array_distinct AFTER hashing: a within-doc collision between
      // two DISTINCT shingles would duplicate a hashed token and break
      // the "toks are distinct per doc" invariant the df count and
      // overlap counts rest on (the collision math above covers only
      // cross-doc pairs). Cheap: bounded per document.
      (if (hashTokens)
         array_distinct(transform(toksRaw, t => xxhash64(t)))
       else toksRaw).as("toks"))
    val e = docs.select(col("id"), explode(col("toks")).as("tok"))
    // toks are distinct per doc, so count(*) IS the document frequency.
    val dfreqRaw = e.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val dfreq = if (broadcastVocab) broadcast(dfreqRaw) else dfreqRaw
    val ordered = e.join(dfreq, "tok")
      .groupBy(col("id"))
      .agg(transform(
        sort_array(collect_list(struct(col("df"), col("tok")))),
        x => x("tok")).as("otoks"))
      .select(col("id"), col("otoks"), size(col("otoks")).as("n"))
    // ⌈τ·n⌉ via integral `div` (not `/`: double division breaks the
    // exact-integer contract past 2^53 — the d20 advice fix)
    val oMin = expr(s"(n * cast($tauNum as bigint) + ${tauDen - 1}) " +
      s"div cast($tauDen as bigint)")
    val prefixed = ordered.select(col("id"), col("n"),
      explode(slice(col("otoks"), lit(1),
        (col("n") - oMin.cast("int") + 1)))
        .as("tok"))
    val cand = prefixed.as("a").join(prefixed.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          col("a.n") * tauNum <= col("b.n") * tauDen &&
          col("b.n") * tauNum <= col("a.n") * tauDen)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand.join(docs.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter"),
        (size(col("ta")) + size(col("tb"))
          - size(array_intersect(col("ta"), col("tb"))))
          .cast("long").as("uni"))
      .filter(col("inter") * tauDen >= col("uni") * tauNum)
      .withColumn("jaccard",
        col("inter").cast("double") / col("uni").cast("double"))
  }

  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double,
                        maxRows: Long = 100000L): DataFrame = {
    val rows = df.count()
    require(rows <= maxRows,
      s"ngramJaccardPairs is the exact all-pairs baseline: got $rows rows " +
        s"(max $maxRows); use minhashNearDups for corpus-scale input " +
        "or raise maxRows explicitly")
    val prepared = df.select(col(idCol).as("id"),
      shingles(TextAnalysis.tokens(lower(col(textCol))), n).as("sh"))
    prepared.as("a").join(prepared.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** CONTENT-DEFINED CHUNKING dedup coverage (the rolling-hash
    * boundary idea of LBFS, Muthitacharoen et al. SOSP 2001, on word
    * tokens): split every document at positions where the hash of the
    * trailing `g`-token window lands in a 1/16 bucket, hash each
    * chunk, and measure per document how much of it is duplicated
    * elsewhere in the corpus. The property fixed-size blocking lacks:
    * a local edit (an inserted prefix, a changed word) only perturbs
    * chunks that overlap it — boundaries RE-SYNCHRONIZE right after,
    * so the untouched tail still dedupes. [[lineDedup]] needs shared
    * line structure; this needs only shared token runs.
    *
    * Engine-portable: the boundary predicate is
    * `substr(md5(window), 1, 1) = '0'` (hex prefix, no int
    * conversion — the md5-mode contract), chunk identity is the md5
    * of the space-joined tokens, and every count is an integer, so
    * the whole pipeline sits on a hash-exact oracle.
    *
    * Scale shape: one posexplode off the scan; two per-doc windows
    * (lag for the rolling window, a prefix-sum for the chunk index —
    * partitioned by doc, never global); one (doc, chunk) agg; one
    * chunk-hash agg for corpus-wide sharing, joined back by chunk
    * hash. Chunk hashes travel as 32-byte digests, never text.
    *
    * Output per doc: `(doc_id, n_toks, n_chunks, n_shared_chunks,
    * shared_toks)` — a chunk is shared when its content hash appears
    * in ≥ 2 DISTINCT documents.
    */
  def cdcChunkCoverage(df: DataFrame, idCol: String, textCol: String,
                       g: Int = 3): DataFrame = {
    require(g >= 2, "window must span at least 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val toks = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        posexplode(split(trim(lower(col(textCol))), "\\s+")))
      .withColumnRenamed("col", "token")
      .filter(col("token") =!= "")
    val win = concat_ws(" ",
      (g - 1 to 1 by -1).map(i => lag(col("token"), i, "").over(byPos)) :+
        col("token"): _*)
    val bounded = toks
      .withColumn("__b",
        when(substring(md5(win.cast("binary")), 1, 1) === "0", 1L)
          .otherwise(0L))
      .withColumn("chunk",
        coalesce(sum(col("__b")).over(
          byPos.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = bounded
      .groupBy(col("doc"), col("chunk"))
      .agg(count(lit(1)).as("n_toks"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          s => s.getField("token"))).cast("binary")).as("chash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sharing = chunks.groupBy(col("chash"))
      .agg(countDistinct(col("doc")).as("__docs"))
    chunks.join(sharing, Seq("chash"))
      .groupBy(col("doc").as("doc_id"))
      .agg(sum(col("n_toks")).as("n_toks"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("__docs") >= 2, 1L).otherwise(0L))
          .as("n_shared_chunks"),
        sum(when(col("__docs") >= 2, col("n_toks")).otherwise(0L))
          .as("shared_toks"))
  }

  /** Per-document n-GRAM NOVELTY: the fraction of a doc's distinct
    * word shingles whose FIRST owner (lowest doc id corpus-wide) is the
    * doc itself — the data-mixing signal "how much of this document is
    * new text vs. recombination of what the corpus already has". A
    * boilerplate or template page scores near 0; genuinely new prose
    * scores near 1. The deterministic min-id ownership rule makes the
    * whole pipeline engine-portable (no hashes), unlike the
    * minhash/simhash near-dup family.
    *
    * Scale shape: explode to (doc, shingle) once, ONE shingle-keyed
    * aggregate for first owners, join back on the SAME shingle key (the
    * exchange is reused — no second shuffle of the postings), then a
    * doc-keyed count/sum. Cost ∝ total shingle volume; no pair space
    * anywhere, so factor-sized duplicate cliques (the d02 probe
    * artifact) cost linear, not quadratic.
    */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3): DataFrame = {
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val ex = Layout.fanOut(df)
      .filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(shinglesComposable(toks, n)).as("g"))
    val firstOwner = ex.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_id"))
    ex.join(firstOwner, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_first"))
      .withColumn("novelty",
        round(col("n_first").cast("double") / col("n_sh").cast("double"),
          7))
  }

  /** Asymmetric CONTAINMENT join: directed pairs (a, b) with
    * |Sa ∩ Sb| ≥ ⌈τ·|Sa|⌉ — "a is (mostly) contained in b". This is
    * the near-dup rule Jaccard cannot express: a quote, excerpt, or
    * wrapped re-post shares nearly ALL of ITS shingles with the
    * container while J stays low because the container is larger —
    * so [[setSimilarityJoin]]/[[minhashNearDups]] never fire.
    *
    * Prefix filter, asymmetric form (the R-S overlap-join variant of
    * the d14 machinery): the required overlap o = ⌈τ·|Sa|⌉ depends
    * only on the CONTAINED side, so only a prunes to a prefix
    * (|Sa| − o + 1 tokens in global (df, tok) order — a total order,
    * which the pigeonhole losslessness proof needs) while the
    * container side indexes every token. Size prune: C(a→b) ≤
    * |Sb|/|Sa|, so nb·tauDen ≥ na·tauNum rides the join condition.
    * Verify is exact-integer cross-multiplication; no float boundary
    * anywhere (⌈τ·n⌉ = (n·num + den − 1) div den).
    *
    * Output: (id_a, id_b, inter, n_a, containment) for every directed
    * qualifying pair, containment = inter/n_a at 7dp — hash-identical
    * to the brute all-pairs rule on the same shingle sets, at
    * prefix-join cost.
    *
    * `broadcastVocab`: see [[setSimilarityJoin]] — default keeps the
    * skew-proof df broadcast; `false` lets AQE shuffle-plan a
    * 100-TB-scale shingle vocabulary instead.
    */
  def containmentJoin(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3,
                      tauNum: Int = 4, tauDen: Int = 5,
                      broadcastVocab: Boolean = true,
                      hashTokens: Boolean = false): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0,1]: got $tauNum/$tauDen")
    // hashTokens: see [[setSimilarityJoin]] — same shuffle-byte knob,
    // same any-total-order/exact-intersection argument
    val toksRaw = shingles(TextAnalysis.tokens(lower(col(textCol))), n)
    val docs = df.select(col(idCol).as("id"),
      // array_distinct AFTER hashing: a within-doc collision between
      // two DISTINCT shingles would duplicate a hashed token and break
      // the "toks are distinct per doc" invariant the df count and
      // overlap counts rest on (the collision math above covers only
      // cross-doc pairs). Cheap: bounded per document.
      (if (hashTokens)
         array_distinct(transform(toksRaw, t => xxhash64(t)))
       else toksRaw).as("toks"))
    val e = docs.select(col("id"), explode(col("toks")).as("tok"))
    val dfreqRaw = e.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val dfreq = if (broadcastVocab) broadcast(dfreqRaw) else dfreqRaw
    val ordered = e.join(dfreq, "tok")
      .groupBy(col("id"))
      .agg(transform(
        sort_array(collect_list(struct(col("df"), col("tok")))),
        x => x("tok")).as("otoks"))
      .select(col("id"), col("otoks"), size(col("otoks")).as("n"))
    // ⌈τ·na⌉ via INTEGRAL ceiling-division (`div`, not `/`: Spark's
    // `/` is true double division, which only matches the exact-integer
    // contract while n·tauNum < 2^53 — `div` has no such bound)
    val o = expr(s"(n * cast($tauNum as bigint) + ${tauDen - 1}) " +
      s"div cast($tauDen as bigint)")
    val prefixed = ordered.select(col("id").as("id_a"),
      col("n").as("na"),
      explode(slice(col("otoks"), lit(1),
        (col("n") - o.cast("int") + 1))).as("tok"))
    val full = ordered.select(col("id").as("id_b"), col("n").as("nb"),
      explode(col("otoks")).as("tok"))
    val cand = prefixed.join(full,
        prefixed("tok") === full("tok") &&
          col("id_a") =!= col("id_b") &&
          col("nb") * tauDen >= col("na") * tauNum)
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(docs.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long")
          .as("inter"),
        size(col("ta")).cast("long").as("n_a"))
      .filter(col("inter") * tauDen >= col("n_a") * tauNum)
      .withColumn("containment",
        round(col("inter").cast("double") / col("n_a").cast("double"), 7))
  }
}
