package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Two paths:
  *  - exact brute-force cosine top-k: the correctness baseline, a
  *    broadcast cross-join + per-row dot product + windowed top-k. O(Q*N)
  *    — fine for a bounded query set, the oracle-checkable path.
  *  - LSH-bucketed ANN (random hyperplanes): the 100 TB path. Each vector
  *    maps to a small bucket key; only same-bucket (or neighboring-probe)
  *    pairs are scored, turning the cross-join into an equi-join.
  *
  * Dot products are computed in double with a sequential fold
  * (functions.aggregate) so the result is order-deterministic and
  * reproducible across engines.
  */
object Similarity {

  /** Sequential-fold dot product in double — a native codegen expression
    * (graft.expressions.DotProduct); bit-identical to the HOF
    * aggregate(zip_with(...)) form but runs as a primitive loop inside
    * whole-stage codegen. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.DotProduct.dot_product(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact cosine top-k neighbors for each query vector (vec_id < nQueries
    * by convention — a bounded driver-chosen query set).
    *
    * Ranking is on the score rounded to 9 decimals (FP noise below 5e-10
    * cannot flip an order), with vec_id as the deterministic tiebreak. The
    * query side is broadcast: the scan of the big side streams once. */
  def knnExact(emb: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame =
    knnExactImpl(emb, emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding")), k,
      excludeSelf = true)

  /** Exact top-k against an ARBITRARY query table (query_id, embedding)
    * — the parameterized surface (r8 verdict item 3); the fixed
    * low-vec_id slice above is one choice of `queries`. The query side
    * stays the bounded broadcast arm; the corpus streams once.
    *
    * NO id-based self-exclusion here (r9 ADVICE): query_ids live in the
    * CALLER's id space, so a query_id that coincides with a corpus
    * vec_id is just a coincidence — dropping that corpus vector would
    * silently return a wrong top-k. The corpus-slice wrappers (knnExact
    * and friends), whose query ids ARE corpus vec_ids by construction,
    * keep the exclusion; Bm25Spec pins both behaviors. */
  def knnExactFor(emb: DataFrame, queries: DataFrame, k: Int = 10): DataFrame =
    knnExactImpl(emb, queries, k, excludeSelf = false)

  private def knnExactImpl(emb: DataFrame, queries: DataFrame, k: Int,
                           excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("norm"))
    val q = queries.select(col("query_id"), col("embedding").as("qvec"),
      l2Norm(col("embedding")).as("qnorm"))
    val joined = base.crossJoin(broadcast(q))
    val scored = (if (excludeSelf)
        joined.filter(col("vec_id") =!= col("query_id")) else joined)
      .withColumn("score",
        round(dot(col("qvec"), col("embedding")) / (col("qnorm") * col("norm")), 9))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** Int8 symmetric quantization of an embedding column: per-vector scale
    * = max|x|, q_i = round(x_i * 127 / scale) — the storage/serving form
    * (4x smaller, SIMD-friendly dot products). Pure array expressions, so
    * it runs inside codegen and mirrors exactly in the oracle. */
  def quantizeInt8(emb: Column): Column = {
    val scale = aggregate(emb, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    struct(scale.as("scale"),
      transform(emb, x =>
        when(scale === 0.0, lit(0L))
          .otherwise(round(x.cast("double") * 127.0 / scale, 0).cast("long")))
        .as("q"))
  }

  /** Quantization error report: max abs reconstruction error per vector —
    * the accept/reject gate before switching serving to int8. Runs as two
    * native codegen kernels (graft.expressions.Quantize) arithmetically
    * identical to quantizeInt8 + the HOF error fold (asserted in
    * SketchSpec), but ~100x cheaper per row: the HOF form interprets four
    * lambdas per element. */
  def quantizationReport(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      graft.expressions.Quantize.array_max_abs(col("embedding")).as("scale"),
      graft.expressions.Quantize.quantize_max_err(col("embedding")).as("max_abs_err"))

  /** The HOF-expressed error report — kept as the cross-check mirror for
    * the native kernels (and the form a user would write without them). */
  def quantizationReportHof(emb: DataFrame): DataFrame = {
    val q = emb.withColumn("qz", quantizeInt8(col("embedding")))
    q.select(col("vec_id"), col("qz.scale").as("scale"),
      aggregate(
        zip_with(col("embedding"), col("qz.q"),
          (x, qi) => abs(x.cast("double") - qi.cast("double") * col("qz.scale") / 127.0)),
        lit(0.0), (acc, e) => greatest(acc, e)).as("max_abs_err"))
  }

  /** Multi-table LSH parameters: L tables of b hyperplane bits each.
    * Same-bucket in ANY table => candidate. At this corpus density
    * (hundreds-thousands of vectors) 8x4 keeps buckets populated; at
    * billions of rows raise bitsPerTable so expected bucket size stays
    * O(100) — candidates scale as L * N / 2^bits.
    */
  val NumTables = 8
  val BitsPerTable = 4

  /** Deterministic pseudo-random hyperplanes: component j of plane p is a
    * double-round affine hash of the flat index scaled to [-1, 1]. Two
    * DIFFERENT prime moduli make the composition non-affine (a genuine
    * scramble), while every intermediate stays below 2^62 — so the DuckDB
    * oracle regenerates the exact same planes and the LSH queries become
    * hash-checkable (constants mirrored in graft.oracle.OracleSqlExt).
    * Reproducible without any stored model. */
  val PlaneA1 = 1103515245L
  val PlaneB1 = 12345L
  val PlaneP1 = 2147483647L  // 2^31 - 1
  val PlaneA2 = 747796405L
  val PlaneB2 = 277803737L
  val PlaneP2 = 998244353L

  def hyperplane(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val idx = p.toLong * dim + j
      val g = (PlaneA1 * idx + PlaneB1) % PlaneP1
      val h = (PlaneA2 * g + PlaneB2) % PlaneP2
      h.toDouble / PlaneP2 * 2 - 1
    }

  /** Bucket key for one LSH table: bit i set iff dot(v, plane_{table,i}) > 0. */
  def tableKey(emb: Column, table: Int, dim: Int,
               bitsPerTable: Int = BitsPerTable): Column = {
    val bits = (0 until bitsPerTable).map { i =>
      val plane = hyperplane(table * bitsPerTable + i, dim)
      // typedLit: ONE literal node per plane instead of `dim` lit nodes
      // — the bucketed() index builds NumTables*bits of these per call,
      // and the 2048-node-per-call difference is pure Catalyst
      // analysis/codegen weight (r15; the r14 Pq typedLit lesson).
      // Same array value, same sequential-fold dot.
      val planeCol = typedLit(plane.toIndexedSeq)
      when(dot(emb, planeCol) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** (table, key) bucket rows for every vector — the LSH index.
    * `bitsPerTable` is the AT-SCALE knob: bucket count per table is
    * 2^bits, so bits must grow ~log2(corpus) to keep bucket population
    * (and with it both candidate volume AND anchor-cap recall) flat —
    * see the BucketAnchors scaladoc for the measured interplay. */
  private[graft] def bucketed(emb: DataFrame, dim: Int,
                              bitsPerTable: Int = BitsPerTable): DataFrame = {
    val keyed = (0 until NumTables).foldLeft(
      emb.select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("norm"))) {
      (df, t) => df.withColumn(s"k$t",
        tableKey(col("embedding"), t, dim, bitsPerTable))
    }
    keyed.select(col("vec_id"), col("embedding"), col("norm"),
      explode(array((0 until NumTables).map(t =>
        struct(lit(t).as("table"), col(s"k$t").as("key"))): _*)).as("tk"))
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("tk.table").as("table"), col("tk.key").as("key"))
  }

  /** ANN top-k via multi-table hyperplane LSH: candidates are same-bucket
    * pairs in any table (deduplicated), then exact cosine re-rank. Turns
    * the O(N^2) cross-join into L equi-joins; recall vs knnExact is
    * measured in the test suite. */
  def knnLsh(emb: DataFrame, dim: Int = 64, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val b = bucketed(emb, dim)
    val q = b.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"), col("table"), col("key"))
    rerankBuckets(b, q, k, excludeSelf = true)
  }

  /** Single-probe LSH top-k for an ARBITRARY query table (query_id,
    * embedding): the queries are bucketed with the same hyperplanes as
    * the corpus index, so a query needs no corpus membership — and no
    * id-based self-exclusion either (see [[knnExactFor]]). */
  def knnLshFor(emb: DataFrame, queries: DataFrame, dim: Int = 64,
                k: Int = 10): DataFrame = {
    val b = bucketed(emb, dim)
    val q = bucketed(queries.select(col("query_id").as("vec_id"),
        col("embedding")), dim)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"), col("table"), col("key"))
    rerankBuckets(b, q, k, excludeSelf = false)
  }

  /** Multi-probe LSH top-k for an ARBITRARY query table — the Hamming-1
    * probe expansion applied to externally supplied queries. No
    * id-based self-exclusion (see [[knnExactFor]]).
    *
    * CONTRACT: `queries` must carry ONE row per query_id. The shared
    * re-rank dedups candidates via the dense_rank == row_number-on-
    * distinct identity, which relies on duplicate (query_id, vec_id)
    * rows carrying identical scores; a caller passing the same
    * query_id twice with DIFFERENT embeddings would burn rank slots on
    * the duplicate's scores and shift ranks (r14 ADVICE). Every
    * declared query satisfies this (ids are keys); dedup externally
    * supplied frames on query_id first. */
  def knnLshMultiProbeFor(emb: DataFrame, queries: DataFrame,
                          dim: Int = 64, k: Int = 10): DataFrame = {
    val b = bucketed(emb, dim)
    val flips = lit(0L) +: (0 until BitsPerTable).map(i => lit(1L << i))
    val q = bucketed(queries.select(col("query_id").as("vec_id"),
        col("embedding")), dim)
      .withColumn("flip", explode(array(flips: _*)))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"), col("table"),
        col("key").bitwiseXOR(col("flip")).as("key"))
    rerankBuckets(b, q, k, excludeSelf = false)
  }

  /** ANN top-k via MULTI-PROBE hyperplane LSH: each query probes its own
    * bucket PLUS every bucket at Hamming distance 1 from its key in each
    * table — the nearest "wrong side of one hyperplane" buckets, where
    * most missed neighbors live. The expansion is QUERY-side only
    * ((1 + bits) probe rows per query per table; the corpus index is
    * untouched), so candidate volume grows ~(1+bits)x for the bounded
    * query set while recall approaches exact — the standard trade when
    * raising L (more index space for every corpus vector) is not an
    * option. Recall vs knnExact and vs single-probe is measured in
    * SimilaritySpec. */
  def knnLshMultiProbe(emb: DataFrame, dim: Int = 64, nQueries: Int = 10,
                       k: Int = 10): DataFrame = {
    val b = bucketed(emb, dim)
    val flips = lit(0L) +: (0 until BitsPerTable).map(i => lit(1L << i))
    val q = b.filter(col("vec_id") < nQueries)
      .withColumn("flip", explode(array(flips: _*)))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"), col("table"),
        col("key").bitwiseXOR(col("flip")).as("key"))
    rerankBuckets(b, q, k, excludeSelf = true)
  }

  /** Shared candidate-join + exact re-rank: score first (cheap codegen
    * loop), then dedup on the narrow (query_id, vec_id, score) rows —
    * the shuffle never carries arrays. `excludeSelf` drops the
    * query_id == vec_id candidate — set ONLY by the corpus-slice
    * wrappers where the two id spaces coincide by construction. */
  private def rerankBuckets(b: DataFrame, q: DataFrame, k: Int,
                            excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = b.join(broadcast(q), Seq("table", "key"))
    val scored = (if (excludeSelf)
        joined.filter(col("vec_id") =!= col("query_id")) else joined)
      .select(col("query_id"), col("vec_id"),
        round(dot(col("qvec"), col("embedding")) / (col("qnorm") * col("norm")), 9)
          .as("score"))
    // a candidate can be found by several tables; its duplicates carry
    // IDENTICAL (score, vec_id), and the window's ordering key is
    // unique per DISTINCT candidate (vec_id ties are impossible within
    // a query), so dense_rank over the duplicated rows == row_number
    // over the deduplicated rows. Ranking first and deduplicating the
    // <= k survivors (r14, guide §2.3) means the (query,vec) exchange
    // carries k-bounded rows instead of the full candidate mass — the
    // previous dropDuplicates-then-window shuffled the candidate set
    // twice. Same rows, same ranks (SketchSpec recall pins + oracle).
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= k)
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** Per-label corpus statistics over vector L2 norms — the sanity
    * report before quantization / index build. Every statistic here is
    * ORDER-FREE (count, min, max, exact percentiles), so it is
    * reproducible on any partitioning and mirrors bit-exactly in the
    * oracle; a double sum/avg would not be. Norms are rounded to 9
    * decimals before aggregation so both engines aggregate identical
    * values (the knnExact convention). */
  def embeddingStats(emb: DataFrame): DataFrame =
    emb.select(col("label"), round(l2Norm(col("embedding")), 9).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"),
        AtScale.quantile(emb, col("nrm"), 0.25).as("p25_norm"),
        AtScale.quantile(emb, col("nrm"), 0.5).as("median_norm"),
        AtScale.quantile(emb, col("nrm"), 0.75).as("p75_norm"))

  /** ALL same-bucket candidate pairs, scored (vec_a < vec_b) — the
    * shared parent of cosineNearDups (threshold filter) and knnJoinLsh
    * (per-vector top-k); SparkEntry memoizes it so the L self-joins run
    * once per session for every consumer. Scoring happens BEFORE the
    * pair dedup: the dot product is a cheap codegen loop while
    * dropDuplicates shuffles its input — so the shuffle carries only
    * (id, id, score) rows, never embedding arrays. */
  /** Per-bucket anchor count for scoredBucketPairs — the minhash
    * BandAnchors technique applied to the embedding side: with L fixed
    * tables, bucket population grows linearly with the corpus, so the
    * same-bucket pair set grows QUADRATICALLY (measured: 279 s of the
    * x20 bench warmup before this bound). Only the `anchors` smallest
    * vec_ids of a bucket pair with the rest: candidates <= anchors * L
    * * n, provably linear, and ranking by vec_id keeps the bounded
    * low-id query set's (the knn convention) candidate sets EXACTLY the
    * uncapped ones.
    *
    * Recall cost, MEASURED (capped vs uncapped thresholded pair counts,
    * recorded only here; NOTES.md "Round 4 state" item 2 has the design;
    * sf0.1: 2000 random
    * vectors in 16 buckets/table — population ~2x the anchor count, a
    * deliberately overfull configuration): the thresholded cosine pair
    * set keeps 422 of 656 pairs (64%). Anchored emission preserves the
    * CANDIDATE graph's bucket connectivity, not the thresholded graph's
    * — a non-anchor pair survives only through some bucket where one
    * side ranks as anchor — so the cap is the WORST-CASE guard, not the
    * operating point. The operating knob is `bitsPerTable`: buckets per
    * table are 2^bits, so growing bits ~log2(corpus) keeps bucket
    * population flat and the cap disengaged. Measured ladder at sf0.1
    * (capped/uncapped thresholded pairs): bits=4
    * 422/656 (64%), bits=5 441/541 (82%), bits=6 401/431 (93%) — cap
    * loss shrinks as populations drop toward `anchors`, while the
    * UNCAPPED count also falls (per-table collision recall trades off),
    * leaving the capped operating point stable at ~400-440 pairs across
    * configurations. Buckets with population <= anchors+1 emit exactly
    * the uncapped join. SketchScaleSpec regression-guards the floor and
    * the bits trend. */
  val BucketAnchors = 64

  def scoredBucketPairs(emb: DataFrame, dim: Int = 64,
                        anchors: Int = BucketAnchors,
                        bitsPerTable: Int = BitsPerTable): DataFrame = {
    val b = bucketed(emb, dim, bitsPerTable)
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("table"), col("key")).orderBy(col("vec_id"))
    // row_number over vec_id composes with the a.vec_id < b.vec_id
    // predicate (rank(a) < rank(b) already); plans as a WindowGroupLimit
    // below the exchange, and the probe side carries no window.
    val ranked = b.withColumn("rk", row_number().over(byBucket))
    ranked.filter(col("rk") <= anchors).as("a")
      .join(ranked.as("b"),
      col("a.table") === col("b.table") && col("a.key") === col("b.key") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(dot(col("a.embedding"), col("b.embedding")) /
          (col("a.norm") * col("b.norm")), 9).as("score"))
      .dropDuplicates("vec_a", "vec_b")
  }

  /** Pairwise near-duplicate detection by embedding cosine: all pairs
    * above a similarity threshold among same-bucket candidates (the
    * scalable embedding-near-dup dedup path). */
  def cosineNearDups(emb: DataFrame, dim: Int = 64, threshold: Double = 0.4): DataFrame =
    scoredBucketPairs(emb, dim).filter(col("score") >= threshold)

  /** Full k-NN JOIN: top-k neighbors for EVERY vector — not a bounded
    * query set — from the same-bucket candidate pairs. The all-pairs
    * building block for graph-based dedup/clustering. Nothing
    * broadcasts: candidates come from the L per-table self-joins, each
    * symmetric pair is scored once and emitted in both directions, and
    * the top-k is one per-vector ranking window. */
  def knnJoinLsh(emb: DataFrame, dim: Int = 64, k: Int = 3): DataFrame =
    knnJoinFrom(scoredBucketPairs(emb, dim), k)

  /** Same, over an already-computed scored pair set. */
  def knnJoinFrom(pairs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = pairs.select(col("vec_a").as("vec_id"),
        col("vec_b").as("neighbor_id"), col("score"))
      .unionByName(pairs.select(col("vec_b").as("vec_id"),
        col("vec_a").as("neighbor_id"), col("score")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Embedding near-dup CLUSTERS: connected components over the cosine
    * pair set (the same distributed min-label propagation the text path
    * uses — Dedup.dedupClusters), with the minimum vec_id per component
    * as the canonical representative. The step that turns pairwise
    * scores into an actually deduplicated embedding corpus. */
  def embeddingDedupClusters(emb: DataFrame, dim: Int = 64,
                             threshold: Double = 0.4): DataFrame =
    embeddingDedupClustersFrom(cosineNearDups(emb, dim, threshold))

  /** Same, over an already-computed cosine pair set — callers holding
    * the pairs (e.g. a pipeline that reports both the pairs and the
    * deduped corpus) run the LSH self-join once, not per consumer. */
  def embeddingDedupClustersFrom(pairs: DataFrame): DataFrame =
    Dedup.dedupClusters(
      pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("keep"))

  /** Per-label embedding CENTROID DRIFT between two corpus versions —
    * the semantic-distribution monitor a training pipeline runs when a
    * crawl refreshes: did the meaning-center of each slice move, or just
    * its size? Emits, per label present in both versions, the row counts
    * and the cosine between the two versions' centroids (1.0 = no
    * directional drift).
    *
    * Order-free by construction: each centroid component is a 2^-20
    * grid-floored EXACT integer sum divided once (the Ivf.trainCentroids
    * mean — a plain double avg() would depend on partition order and
    * break cross-engine parity), and the final cosine is a sequential
    * fold over the ordered component list (the DotProduct ==
    * list_dot_product proven shape).
    *
    * Shape at 100 TB: one hash aggregation keyed by (label, pos) per
    * version — dim x |labels| cells — then a |labels|-row join. Nothing
    * driver-side, nothing broadcast beyond the final label-count rows. */
  def centroidDrift(v1: DataFrame, v2: DataFrame): DataFrame = {
    import graft.functions.Ivf.MeanQuantScale
    def centroids(df: DataFrame): DataFrame =
      df.select(col("label"),
        posexplode(transform(col("embedding").cast("array<double>"),
          x => floor(x * lit(MeanQuantScale)).cast("long"))))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col")).cast("double")
          / (lit(MeanQuantScale) * count(lit(1)).cast("double"))).as("m"),
          count(lit(1)).as("cnt"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c"),
          max(col("cnt")).as("n"))
    val c1 = centroids(v1).select(col("label"), col("c").as("c1"), col("n").as("n_v1"))
    val c2 = centroids(v2).select(col("label"), col("c").as("c2"), col("n").as("n_v2"))
    c1.join(c2, Seq("label"))
      .select(col("label"), col("n_v1"), col("n_v2"),
        round(dot(col("c1"), col("c2")) / (l2Norm(col("c1")) * l2Norm(col("c2"))), 9)
          .as("centroid_cosine"))
  }

  /** ANN recall report — "measure, don't guess" as a first-class query:
    * for every benchmark query vector, how many of the exact top-k the
    * LSH index returns, single-probe and Hamming-1 multi-probe side by
    * side. This is the report that picks nprobe/table-count before an
    * index ships. The exact side is the expensive truth pass, which is
    * why the contract pins a fixed benchmark query set (vec_id <
    * nQueries — the knnExact broadcast contract): at 100 TB recall is
    * always measured on a slice, never the full corpus. The hit joins
    * are k-bounded per query (10 rows/side). */
  /** `sampleMod` is the AT-SCALE knob (r8 verdict item 4): the exact-
    * truth arm recomputes full-corpus distances per query slice, which
    * is honest but corpus-proportional — the heaviest genuine query at
    * the x128 rung (~61 s isolated). With sampleMod = m > 1 the WHOLE
    * report (exact truth and every ANN arm) runs over the deterministic
    * corpus sample vec_id % m == 0 (query vectors always retained), so
    * recall@k is measured on the sampled ground set: by construction
    * identical to annRecall(sampledCorpus) — PqSpec pins that equality
    * and the small-sf agreement with exact mode. Default 1 = exact,
    * the oracle-parity mode. */
  def annRecall(emb: DataFrame, pqCodebook: Seq[(Int, Array[Double])],
                pqSubCodebooks: Seq[Seq[(Int, Array[Double])]],
                opqSubCodebooks: Seq[Seq[(Int, Array[Double])]] = Seq.empty,
                opqPerm: Seq[Int] = Seq.empty,
                k: Int = 10, nQueries: Int = 10, sampleMod: Int = 1): DataFrame = {
    val ground =
      if (sampleMod <= 1) emb
      else emb.filter(col("vec_id") % sampleMod === 0 ||
        col("vec_id") < nQueries)
    annRecallOver(ground, pqCodebook, pqSubCodebooks, opqSubCodebooks,
      opqPerm, k, nQueries)
  }

  private def annRecallOver(emb: DataFrame,
                pqCodebook: Seq[(Int, Array[Double])],
                pqSubCodebooks: Seq[Seq[(Int, Array[Double])]],
                opqSubCodebooks: Seq[Seq[(Int, Array[Double])]],
                opqPerm: Seq[Int],
                k: Int, nQueries: Int): DataFrame = {
    // No default for pqSubCodebooks (r6 ADVICE): a silent Seq.empty
    // produced pq_sub_recall=0.0 rows that read as "per-subspace PQ has
    // zero recall" rather than "not measured". Callers that don't train
    // per-subspace codebooks pass Seq.empty EXPLICITLY and get NULL
    // pq_sub columns — unmeasured, not zero. The OPQ config (variance-
    // balanced dimension permutation + per-subspace codebooks trained
    // in the permuted basis — Pq.trainPermutation) keeps defaults only
    // because it needs BOTH pieces: measured only when the permutation
    // and its codebooks are both supplied, NULL otherwise.
    val measureSub = pqSubCodebooks.nonEmpty && !pqSubCodebooks.exists(_.isEmpty)
    val measureOpq = opqPerm.nonEmpty && opqSubCodebooks.nonEmpty &&
      !opqSubCodebooks.exists(_.isEmpty)
    // the ANN sets tagged and unioned so the exact truth side is
    // derived ONCE and joined once (per-method counts split back out in
    // the aggregate; a neighbor several methods find matches one tagged
    // row per method — each lands in exactly one conditional count).
    // "pqs" is the per-subspace-codebook config next to the pooled
    // default — the recall delta the config decision reads.
    // nQueries threads into EVERY arm (r9 ADVICE: the per-method calls
    // hardcoded the 10-query default, so a non-default nQueries shaped
    // the retained sample but not the query set)
    // ONE driver collect of the benchmark query slice, shared by the
    // three ADC arms (r15 — each arm ran its own identical collect
    // job while assembling the plan: 3 scan jobs for 10 rows). The OPQ
    // arm's queries are permuted DRIVER-SIDE with the same
    // perm(newPos) = oldPos convention as Pq.permute's element_at
    // projection — a pure reorder of the identical doubles, so the
    // arm's LUTs are bit-identical to collecting from the permuted
    // frame (PqSpec's OPQ reproduction pins the arm end to end).
    val preQ = Pq.collectQueries(emb, nQueries)
    val preQOpq =
      if (measureOpq) Some(preQ.map { case (id, v) =>
        (id, opqPerm.map(v).toArray) })
      else None
    val ex = knnExact(emb, nQueries = nQueries, k = k)
      .select(col("query_id"), col("neighbor_id"))
    // the single-probe arm's candidate set IS the multi-probe arm's
    // flip = 0 slice (flip 0 leaves the probe key unchanged), so the
    // report builds the LSH index + candidate join ONCE: the
    // corpus-side bucketing — the one corpus-proportional cost in
    // these arms — runs once instead of twice (r15; guide §2.4). The
    // scored candidate frame is localCheckpoint-materialized because
    // Catalyst pushes the flip = 0 filter below any shared exchange
    // (verified in-plan: the two branches' exchanges stop being
    // identical, so stage reuse never fires); the frame is CANDIDATE-
    // mass — nQueries x (1 + bits) probes x bucket population, never
    // corpus-mass — which is exactly the r14 §3 scalar-branch
    // checkpoint contract (the r12 heap rule forbids corpus-mass
    // caching, not this).
    // Equivalence: rank over the flip-0 slice sees exactly knnLsh's
    // scored rows; rank over all rows is knnLshMultiProbe verbatim —
    // PqSpec pins both arms' hit counts against the standalone
    // operators.
    import org.apache.spark.sql.expressions.Window
    val bq = bucketed(emb, 64)
    val flips = lit(0L) +: (0 until BitsPerTable).map(i => lit(1L << i))
    val q = bq.filter(col("vec_id") < nQueries)
      .withColumn("flip", explode(array(flips: _*)))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("norm").as("qnorm"), col("table"),
        col("key").bitwiseXOR(col("flip")).as("key"), col("flip"))
    val lshScored = bq.join(broadcast(q), Seq("table", "key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("flip"),
        round(dot(col("qvec"), col("embedding")) / (col("qnorm") * col("norm")), 9)
          .as("score"))
      // DISK_ONLY (r15, same lesson as bigramRarity's cbg): candidate
      // mass is nQueries-bounded but scales with bucket POPULATION,
      // which the parity-geometry ladder does not cap — heap-resident
      // candidate blocks at x128 would stack onto an already-pressured
      // 8 GiB bench JVM. Disk costs one write + two reads of a skinny
      // frame.
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def rankArm(df: DataFrame, tag: String): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      df.withColumn("rank", dense_rank().over(w))
        .filter(col("rank") <= k)
        .dropDuplicates("query_id", "vec_id")
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          lit(tag).as("m"))
    }
    val ann = rankArm(lshScored.filter(col("flip") === 0).drop("flip"), "lsh")
      .unionByName(rankArm(lshScored.drop("flip"), "mp"))
      .unionByName(Pq.knnPqWith(emb, pqCodebook, k = k, nQueries = nQueries,
          preQueries = Some(preQ))
        .select(col("query_id"), col("neighbor_id"), lit("pq").as("m")))
      .unionByName(Pq.knnPqSubWith(emb, pqSubCodebooks, k = k,
          nQueries = nQueries, preQueries = Some(preQ))
        .select(col("query_id"), col("neighbor_id"), lit("pqs").as("m")))
      .unionByName(Pq.knnPqSubWith(
          if (measureOpq) Pq.permute(emb, opqPerm) else emb.limit(0),
          opqSubCodebooks, k = k, nQueries = nQueries, preQueries = preQOpq)
        .select(col("query_id"), col("neighbor_id"), lit("opq").as("m")))
    ex.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(when(col("m") === "lsh", 1)).as("lsh_hits"),
        count(when(col("m") === "mp", 1)).as("multiprobe_hits"),
        count(when(col("m") === "pq", 1)).as("pq_hits"),
        count(when(col("m") === "pqs", 1)).as("pq_sub_hits"),
        count(when(col("m") === "opq", 1)).as("opq_hits"))
      .select(col("query_id"), col("lsh_hits"),
        (col("lsh_hits").cast("double") / lit(k.toDouble)).as("lsh_recall"),
        col("multiprobe_hits"),
        (col("multiprobe_hits").cast("double") / lit(k.toDouble))
          .as("multiprobe_recall"),
        col("pq_hits"),
        (col("pq_hits").cast("double") / lit(k.toDouble)).as("pq_recall"),
        (if (measureSub) col("pq_sub_hits")
         else lit(null).cast("long")).as("pq_sub_hits"),
        (if (measureSub)
           (col("pq_sub_hits").cast("double") / lit(k.toDouble))
         else lit(null).cast("double")).as("pq_sub_recall"),
        (if (measureOpq) col("opq_hits")
         else lit(null).cast("long")).as("opq_hits"),
        (if (measureOpq)
           (col("opq_hits").cast("double") / lit(k.toDouble))
         else lit(null).cast("double")).as("opq_recall"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of a
    * LEXICAL ranking (BM25: query_id, doc_id, rank) and a VECTOR
    * ranking (the knn family: query_id, neighbor_id, rank) — the
    * standard score-free hybrid-retrieval combiner: each list
    * contributes 1/(kRrf + rank), so scale-incompatible scores (a
    * rational-idf BM25 sum vs a cosine) never meet, only ranks do.
    *
    * Parity-safe numerics: with exactly two lists the fused score is
    * ONE fixed-shape expression (coalesce(lex, 0) + coalesce(vec, 0) in
    * that operand order), not an aggregation — no summation-order seam
    * to grid away. Queries fuse over the UNION of the two query
    * slices: a query present in one arm only keeps that arm's
    * contributions (the full-outer-join semantics a production fusion
    * layer wants — vector-only queries still rank).
    *
    * Shape at 100 TB: both inputs are already top-k-bounded (k rows per
    * query), so the full outer join and the re-rank window move
    * queries x k rows — nothing corpus-sized. */
  def rrfFuse(lex: DataFrame, vec: DataFrame,
              k: Int = 10, kRrf: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = lex.select(col("query_id"), col("doc_id"),
      col("rank").as("rank_lex"))
    val b = vec.select(col("query_id"), col("neighbor_id").as("doc_id"),
      col("rank").as("rank_vec"))
    val fused = a.join(b, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("score",
        coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("rank_lex").cast("double")),
          lit(0.0))
        + coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("rank_vec").cast("double")),
          lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank"), col("score"),
        col("rank_lex"), col("rank_vec"))
  }

  /** Hybrid dedup verification: TEXT-side MinHash/LSH candidate pairs
    * cross-checked against the documents' EMBEDDINGS — the two
    * independent near-dup signals a curation pipeline wants to agree
    * before it drops a document (surface n-gram overlap can be template
    * boilerplate; embedding cosine alone misses verbatim substrings).
    * Input `cands` is the shared banded candidate set (doc_a, doc_b,
    * est_jaccard); each surviving pair picks up the exact cosine via two
    * hash joins on the id (the candidate set is anchored-linear in the
    * corpus, so the joins shuffle candidate-mass, not corpus-mass — no
    * pairwise stage is ever re-run). confirmed = both signals over their
    * thresholds. */
  def hybridVerify(cands: DataFrame, emb: DataFrame,
                   estThreshold: Double = 0.3,
                   cosThreshold: Double = 0.4): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
      l2Norm(col("embedding")).as("nrm"))
    cands.filter(col("est_jaccard") >= estThreshold)
      .join(e.select(col("vec_id").as("doc_a"), col("v").as("va"), col("nrm").as("na")),
        Seq("doc_a"))
      .join(e.select(col("vec_id").as("doc_b"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 9).as("cosine"))
      .withColumn("confirmed", col("cosine") >= lit(cosThreshold))
  }
}
