package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based near-duplicate detection: MinHash + banded LSH and
  * SimHash. This is the 100 TB dedup path — per-document state is a
  * fixed-size signature built row-locally inside the scan stage (native
  * kernels graft.expressions.{MinHashSig, SimHashSig} — a signature is a
  * pure function of one document, so no token/shingle row ever shuffles),
  * and candidate pairs come from equi-joins on band keys, never from the
  * full shingle inverted index.
  *
  * Everything is deterministic AND oracle-reproducible: shingle/token
  * hashes are polynomial hashes, permutations are Carter-Wegman affine
  * maps — all in wrap-free <2^63 integer arithmetic that the DuckDB
  * mirror recomputes from the same constants.
  */
object Sketches {

  val NumHashes = 64
  val MinHashBands = 16
  val RowsPerBand: Int = NumHashes / MinHashBands

  /** Per-bucket anchor count for the banded join (see
    * minHashBandCandidates). 32 was chosen from the measured band-key
    * document-frequency distribution (NOTES.md "Round 4 state" item 1):
    * no bucket at sf0.001/sf0.01 exceeds df 12, so the cap is a no-op at
    * oracle-gate scale, while sf0.1's hottest bucket (df 106) gets its pair fan-out
    * halved and the growth law becomes provably linear. */
  val BandAnchors = 32

  /** Production token-count floor for simhash banding (the length
    * routing in [[simHashPairs]]). This is a SEMANTIC policy, not the
    * scale fix: the round-8 probes showed sub-floor docs carry only a
    * minority of the matched mass at sf0.1 lengths (x40: -21% of rows
    * for -15% of docs; growth exponent unchanged — the quadratic corner
    * was the tie bias + dead band bits, fixed in the kernel/banding).
    * The floor stays because radius-4 "near-dups" between <24-token
    * docs are fingerprint artifacts, not textual neighbors (a one-token
    * edit at T=15 flips many majority bits), and those docs remain
    * covered by the exact-hash and minhash families whose shingle sets
    * stay informative at small T. 24 keeps ~85% of the sf0.1 corpus
    * banded. */
  val SimHashMinTokens = 24

  /** Carter-Wegman universal permutation family h_i(x) = (a_i*x + b_i)
    * mod p over the Mersenne prime p = 2^31-1 — the textbook minhash
    * family. With x < 2^30 (polyhash) and a_i < p the product stays below
    * 2^62, so the SAME arithmetic runs wrap-free in engines without
    * 128-bit multiply (the DuckDB oracle) — which is what makes the
    * minhash pair query hash-checkable — while a*x spans ~2^31 multiples
    * of p, so the mod genuinely scrambles order (a 2^61-modulus variant
    * was tried and REJECTED: products wrap at most twice, the map stays
    * piecewise order-preserving, and correlated argmins inflated
    * est_jaccard ~20x). Constants are the single source of truth for both
    * engines (graft.oracle.OracleSqlExt embeds them as literals). */
  val P31: Long = (1L << 31) - 1
  val UnivA: Array[Long] = {
    val r = new scala.util.Random(20240612L)
    Array.fill(NumHashes)(math.floorMod(r.nextLong(), P31 - 1) + 1)
  }
  val UnivB: Array[Long] = {
    val r = new scala.util.Random(20240613L)
    Array.fill(NumHashes)(math.floorMod(r.nextLong(), P31))
  }
  @inline def univ(x: Long, i: Int): Long = (UnivA(i) * x + UnivB(i)) % P31

  /** 64-bit mix (murmur3 finalizer) of a pre-hashed value with a seed —
    * the permutation family h_i(x). */
  @inline def mix(x: Long, seed: Long): Long = {
    var h = x ^ seed
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** MinHash signatures per document from its character shingles, as one
    * row-local codegen kernel (graft.expressions.MinHashSig) — no explode,
    * no shuffle: the signature is a pure function of the document, so it
    * materializes inside the scan stage. Shingle hash is polyhash
    * (< 2^30 — within the univ() input bound and reproducible in the
    * oracle).
    *
    * Deliberately the classic 64-permutation scheme. One-permutation
    * hashing (bin by top bits + rotation densification) was measured on
    * this corpus and REJECTED: with one realized hash draw, shared
    * stop-shingles dominate bins and densification correlates agreements,
    * inflating est_jaccard (mean 0.21 vs 0.14 true; 8093 vs 299 pairs
    * >= 0.3 on sf0.01) — a bias rows-only checks would never catch. The
    * 64 permutations per shingle are a constant factor the band join
    * amortizes. */
  def minHashSignatures(docs: DataFrame, n: Int = 5): DataFrame =
    docs.filter(length(col("text")) >= n)
      .select(col("doc_id"),
        graft.expressions.MinHashSig.min_hash_sig(col("text"), n).as("sig"))

  /** Signature agreement fraction between two signature arrays — the
    * one estimator definition, shared by the batch pair query and the
    * streaming detections ([[graft.streaming.NearDupStream]]). */
  private[graft] def estJaccard(sigA: String, sigB: String): Column =
    expr(s"aggregate(zip_with($sigA, $sigB, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
      .cast("double") / NumHashes

  /** Banded-LSH per-document band rows. Pairs sharing >= 1 of the 16
    * bands are candidates; est_jaccard = fraction of agreeing signature
    * positions. The band join key is the signature SLICE itself (array
    * equi-join), not a 32-bit re-hash of it: identical semantics to
    * "all 4 positions agree", with no hash-collision candidates an
    * external checker couldn't reproduce. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      explode(sequence(lit(0), lit(MinHashBands - 1))).as("band"))
      .select(col("doc_id"), col("sig"), col("band"),
        expr(s"slice(sig, band * $RowsPerBand + 1, $RowsPerBand)").as("band_key"))

  /** The raw band-join candidate stream (multi-band duplicates included),
    * BEFORE the est-jaccard filter — the quantity whose growth rate decides
    * whether the sketch path survives scale.
    *
    * Anchored emission (the hot-bucket bound): within each (band,
    * band_key) bucket only the `anchors` smallest doc_ids pair against
    * the rest, so a bucket of df members emits <= anchors * df candidates
    * instead of df^2/2 and TOTAL candidates are <= anchors * MinHashBands
    * * nDocs — linear in the corpus unconditionally, a provable bound
    * rather than an empirical trend. Recall: buckets with df <= anchors+1
    * (every bucket at oracle-gate scale, NOTES.md "Round 4 state") emit ALL
    * their pairs — identical output to the uncapped join; in hotter
    * buckets every member still pairs with the bucket's minimum doc_id,
    * so bucket CONNECTIVITY (what near-dup clustering consumes) is
    * preserved exactly, and only non-anchor/non-anchor pairs that share
    * no other band are lost (measured 0 of 93 pairs at sf0.001, < 3.5%
    * at 20x that corpus — NOTES.md "Round 4 state"; a df-DROP cap like the
    * jaccard path's maxDocFreq was measured and REJECTED: hot buckets
    * are substantially REAL near-dup clusters, and dropping them lost
    * 2333 of 7060 true pairs at 20x).
    *
    * NOT mirrored on the SimHash side: its banding is pigeonhole-exact
    * (recall 1.0 within the radius) and an anchor cap would break that
    * guarantee; its hot-bucket exposure is bounded by radius <= 7 keys
    * being >= 8 bits wide (see simHashPairs scale note). */
  def minHashBandCandidates(docs: DataFrame, n: Int = 5,
                            anchors: Int = BandAnchors): DataFrame = {
    val bands = bandsOf(minHashSignatures(docs, n))
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_key")).orderBy(col("doc_id"))
    // row_number orders by doc_id, so a.doc_id < b.doc_id already implies
    // rank(a) < rank(b): the anchor filter composes with the existing
    // ordering predicate instead of replacing it. Both join inputs are the
    // same ranked subtree -> one exchange, reused (plan-asserted in
    // SketchScaleSpec).
    val ranked = bands.withColumn("rk", row_number().over(byBucket))
    ranked.filter(col("rk") <= anchors).as("a")
      .join(ranked.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
  }

  def minHashPairs(docs: DataFrame, threshold: Double = 0.5, n: Int = 5,
                   anchors: Int = BandAnchors): DataFrame =
    // Estimate and threshold BEFORE deduplicating (the SimHash/cosine
    // pattern): the signature agreement count is cheap codegen over rows
    // the join already holds, while dropDuplicates shuffles its input —
    // so the exchange carries only (doc_a, doc_b, est) survivors, never
    // two 64-long signature arrays per candidate.
    minHashBandCandidates(docs, n, anchors)
      .select(col("doc_a"), col("doc_b"),
        estJaccard("sig_a", "sig_b").as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("doc_a", "doc_b")

  /** SimHash fingerprints per document from its tokens.
    *
    * The token hash is a 60-bit combination of two independent polynomial
    * hashes (h2 * 2^30 + h1, graft.expressions.PolyHash) rather than
    * xxhash64: every intermediate stays below 2^63 WITHOUT wrapping
    * multiplication, so an external engine (the DuckDB oracle) reproduces
    * the exact fingerprints and the pair query gets a full hash-match
    * oracle instead of a rows-only check. Bits 60-63 are constant zero:
    * fingerprint bits 60-63 are likewise dead, and simHashBands bands
    * only the 60 live bits. */
  def tokenHash(token: Column): Column =
    graft.expressions.PolyHash.polyhashWith(token,
      graft.expressions.PolyHash.Base2, graft.expressions.PolyHash.Mod2) *
      lit(1L << 30) + graft.expressions.PolyHash.polyhash(token)

  /** Fingerprints via the row-local kernel (graft.expressions.SimHashSig):
    * the explode -> udaf pipeline this replaces shuffled one row per token
    * for a value that is a pure function of the document. */
  def simHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.expressions.SimHashSig.sim_hash_sig(col("text")).as("simhash"))

  /** Near-dup pairs by SimHash, with TWO-LEVEL pigeonhole banding.
    *
    * Level 1: band the 64-bit fingerprint into `maxHamming + 1`
    * contiguous ranges — a pair within the radius has >= 1 band with
    * zero differing bits. Level 2: given band i clean, the <= maxHamming
    * diffs all lie in the complement (the other ~51 bits), so splitting
    * THAT into `maxHamming + 1` sub-bands pigeonholes again: some
    * sub-band j is also clean. Every true pair therefore shares a
    * (band, sub_band, band_key, sub_key) join key — recall stays exactly
    * 1.0 within the radius (SketchSpec), and every candidate is
    * verified with bit_count(xor) <= maxHamming inside the join stage,
    * so only true-radius rows reach the dedup exchange.
    *
    * Why two levels: UNIFORM chance candidates scale as
    * docs^2 / 2^keybits — the quadratic term the x40 bench ladder
    * exposed for single-level ~13-bit keys (20x->40x ratio 3.49). The
    * composite key has ~13 + ~10 matching bits, cutting that term
    * ~2^10 for (r+1)^2 = 25 keys/doc instead of r+1, and measures 25%
    * faster at 40x sf0.1 (13.5 s vs 18.1 s warm, NOTES.md "Round 4,
    * earlier sessions" item 14).
    * What remains after the composite keys is the correlated near-miss
    * stream, and the round-8 probes ATTRIBUTED it (measure, don't
    * guess): at x40 the uncentered vote left 310M matched rows for
    * 2.4M true pairs with a x40->x128 growth exponent of 2.0, and the
    * hot-bucket report placed 67% of the mass in LONG-long pairs
    * concentrated at near-zero band keys shared across 35 of 40
    * alphabet-permuted replicas — a HASH-structural corner, not a
    * content one: the raw polyhash's magnitude is ~Base^len before the
    * first mod wrap, so short tokens zero the top bits of each 30-bit
    * half for every document in every corpus, and the moduli
    * (~1e9 < 2^30) bias the surviving top bits besides. Short-doc
    * length routing was REJECTED as the growth fix by the same probes
    * (-21% mass, exponent unchanged at ~1.97). The fix is at the
    * fingerprint level — the XOR-rotate bit mixing in SimHashSig
    * spreads each token's entropy across all 60 positions — plus
    * banding only the 60 live bits (the top band's key had carried the
    * hash's 4 dead bits: 9 effective bits = 16x the intended collision
    * rate). Measured together at x40: matched mass 310M -> 18.5M,
    * survivors 2.39M -> 213k (the excess was corner artifacts, not
    * text neighbors: cross-replica survivors 278 -> 0), every hot
    * bucket a single-replica content cluster (NOTES round 8).
    * Two variants were REJECTED by measurement at 40x: canonical-key
    * emission (filter each pair to its first clean (band, sub) key via
    * 25 precomputed xor masks — kills the dedup shuffle but evaluates
    * a 25-term predicate on every matched row: 34.9 s vs 13.5 s; the
    * bit_count filter is 2 ops and the dedup exchange carries only
    * true-radius survivors) and fingerprint-class collapse (band over
    * distinct fingerprints, expand classes after: 196,001 of 200,000
    * fingerprints are already distinct — near-dups differ in 1-4 bits,
    * classes are singletons, and the tiny distinct() output collapses
    * AQE partitioning for the fattest join in the engine: ~10x slower).
    *
    * Scale note: band keys are 64/(maxHamming+1) bits wide, so large
    * radii still produce weak keys (maxHamming=10 -> ~6+5-bit composite
    * keys). Radii <= 7 keep composites >= 14 bits; beyond that prefer
    * the MinHash path, whose bucket selectivity does not shrink with
    * radius. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
                   minTokens: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming out of range: $maxHamming")
    // LENGTH ROUTING: minTokens > 0 routes docs below the floor OUT of
    // simhash banding entirely — a SEMANTIC policy (see
    // [[SimHashMinTokens]]): radius-4 "near-dups" between short docs
    // are fingerprint artifacts, not textual neighbors (a one-token
    // edit at small T flips many majority bits), and those docs remain
    // covered by the exact-hash and minhash families whose shingle
    // sets stay informative at small T. The token count is spaces+1 —
    // one row-local length diff, identical to the oracle's mirror, no
    // array allocation. Default 0 = unrouted (the kernel contract:
    // recall 1.0 within the radius over ALL input docs).
    val routed =
      if (minTokens > 0)
        docs.filter(length(col("text"))
          - length(translate(col("text"), " ", "")) + 1 >= minTokens)
      else docs
    // Verify hamming BEFORE deduplicating: bit_count is a codegen'd
    // scalar while dropDuplicates shuffles its input, so the exchange
    // carries only the (id, id, hamming) true-radius survivors, never
    // the near-miss bulk of the matched stream.
    simHashBandMatches(simHashes(routed), maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The raw two-level band-join matched stream over a (doc_id,
    * simhash) frame (multi-key duplicates included, nothing filtered) —
    * also the growth diagnostic NOTES.md "Round 8" item 3 attributes. */
  private[graft] def simHashBandMatches(sh: DataFrame, maxHamming: Int): DataFrame = {
    val bands = simHashBands(sh, maxHamming)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.sub_key") === col("b.sub_key") &&
          col("a.doc_id") < col("b.doc_id"))
  }

  /** Two-level band rows of a (doc_id, simhash) frame: (doc_id,
    * simhash, band, band_key, sub_key), (maxHamming+1)^2 rows per doc —
    * the index/probe side of both the pair self-join and the
    * stream-static detector ([[graft.streaming.NearDupStream]]). */
  private[graft] def simHashBands(sh: DataFrame, maxHamming: Int): DataFrame = {
    val numBands = maxHamming + 1
    // Band over the 60 LIVE bits only: the token hash is 60-bit, so
    // fingerprint bits 60-63 are constant zero for every document.
    // Banding 64 positions handed those 4 dead bits to the top band's
    // key — measured at x40 as the hottest bucket family in the whole
    // join (band 22, a 9-effective-bit key: 16x the intended collision
    // rate; NOTES round 8). The pigeonhole guarantee is unchanged:
    // every differing bit lives below 60, so <= maxHamming diffs across
    // numBands live-bit bands still leave one band clean, and the
    // complement (the other 60-width live bits) pigeonholes again.
    val LiveBits = 60

    val bandCols = (0 until numBands).flatMap { i =>
      val start = i * LiveBits / numBands
      val end = (i + 1) * LiveBits / numBands
      val width = end - start
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      val bandKey = shiftrightunsigned(col("simhash"), start).bitwiseAND(lit(mask))
      // complement = the other LiveBits-width live bits, packed
      // contiguously (low [0,start) stays, high [end,LiveBits) shifts
      // down next to it; anything at/above LiveBits is zero for every
      // doc, so the shifted-down high part self-truncates)
      val cw = LiveBits - width
      val lowMask = (1L << start) - 1L // start < 64 always
      val high =
        if (end >= LiveBits) lit(0L)
        else shiftleft(shiftrightunsigned(col("simhash"), end), start)
      val compl = col("simhash").bitwiseAND(lit(lowMask)).bitwiseOR(high)
      (0 until numBands).map { j =>
        val subStart = j * cw / numBands
        val subWidth = (j + 1) * cw / numBands - subStart
        val subMask = if (subWidth >= 64) -1L else (1L << subWidth) - 1L
        struct(lit(i * numBands + j).as("band"),
          bandKey.as("band_key"),
          shiftrightunsigned(compl, subStart).bitwiseAND(lit(subMask)).as("sub_key"))
      }
    }
    sh.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"), col("bk.sub_key").as("sub_key"))
  }

  /** Source-to-source shingle-set similarity via UNION MinHash: the
    * minhash signature of a UNION of sets is the elementwise minimum of
    * the member signatures (each position is "min of the permuted
    * hashes", and min distributes over union), so one aggregation over
    * the per-document signatures yields each source's signature of its
    * ENTIRE distinct-shingle set — no shingle is ever re-hashed, stored,
    * or shuffled. est_jaccard between two sources is then the usual
    * signature agreement fraction, estimating the jaccard of the two
    * sources' full vocabularies — the corpus-curation view that answers
    * "which feeds are near-copies of each other" (e.g. two crawls of
    * the same site) BEFORE paying for any pairwise document work.
    *
    * Shape at 100 TB: one hash aggregation corpus -> |sources| rows of
    * 64 longs, then an |S|^2/2 comparison of those rows — the pair join
    * is over source cardinality (dimension-sized), never documents;
    * Spark's size estimate broadcasts it. Documents shorter than the
    * shingle width carry no signature and are excluded (mirrored in the
    * oracle's signature CTE). */
  def sourceSimilarity(docs: DataFrame, n: Int = 5): DataFrame = {
    val sigs = minHashSignatures(docs.select(col("doc_id"), col("text")), n)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val srcSig = sigs.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        array((0 until NumHashes).map(i =>
          min(col("sig").getItem(i))): _*).as("sig"))
    val a = srcSig.select(col("source").as("source_a"), col("docs").as("docs_a"),
      col("sig").as("sig_a"))
    val b = srcSig.select(col("source").as("source_b"), col("docs").as("docs_b"),
      col("sig").as("sig_b"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("docs_a"), col("docs_b"),
        estJaccard("sig_a", "sig_b").as("est_jaccard"))
  }
}
