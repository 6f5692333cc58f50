package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization ANN (Jégou et al. 2011, "Product Quantization
  * for Nearest Neighbor Search") — the memory-compression flavor of the
  * ANN family: each 64-dim vector is encoded as 8 small codes (one per
  * 8-dim subspace), and queries rank the corpus by asymmetric distance
  * (ADC): exact query subvector x codeword dot products, summed across
  * subspaces by table lookup. The corpus representation drops from
  * 64 floats to 8 codes per vector — the index that still fits in
  * memory when the raw vectors no longer do.
  *
  * Engine-specific design (differs from the paper in two deliberate,
  * documented ways):
  *  - ONE codebook shared by all subspaces, trained on the pooled
  *    subvector set (8n points) — same Lloyd machinery and 2^-20
  *    integer-grid means as the IVF index (order-free, hence
  *    oracle-checkable); per-subspace codebooks would multiply the
  *    DuckDB mirror's unrolled-Lloyd CTE chain x8 for no additional
  *    semantic coverage.
  *  - ADC partial scores are floored onto a 2^-30 grid and summed as
  *    exact BIGINTs, so the 8-term accumulation is order-free on any
  *    partitioning (a double sum would be partition-order dependent);
  *    2^-30 is far below the embeddings' signal floor.
  *
  * Cosine ranking: score(q, x) = ADC(q, x) / (|q| * |recon(x)|), where
  * |recon(x)|^2 = sum_s |c(code_s)|^2 exactly (subspaces are disjoint
  * coordinate blocks), accumulated on the same 2^-30 grid.
  *
  * Shape at 100 TB: the codebook is 16 x 8 doubles (broadcast); codes
  * are 8 small ints per vector — the only corpus-sized table the query
  * touches. The benchmark query set is the fixed low-id slice (the knn
  * family contract): per query the ADC pass is a linear scan of codes
  * with integer accumulation, rank<=k plans as map-side
  * WindowGroupLimit below the exchange.
  */
object Pq {

  val NumSub = 8
  val SubDim = 8
  val CodebookK = 16
  val PqIters = 2
  val Grid20 = 1048576.0 // 2^20 — Lloyd mean grid (matches Ivf)
  val Grid30 = 1073741824.0 // 2^30 — ADC / norm accumulation grid

  /** (vec_id, s, sub) — the pooled subvector view. `base` must carry
    * (vec_id, v). */
  private def subvectors(base: DataFrame): DataFrame =
    base.select(col("vec_id"),
        explode(sequence(lit(0), lit(NumSub - 1))).as("s"), col("v"))
      .select(col("vec_id"), col("s"),
        slice(col("v"), col("s") * SubDim + 1, lit(SubDim)).as("sub"))

  /** struct(score, code) of the nearest codeword under L2: argmax of
    * 2*dot(sub, c) - |c|^2 (|sub|^2 is constant per row and drops out).
    * Tie-break: max score then max code — the SQL struct order the
    * DuckDB mirror reproduces with ORDER BY score DESC, code DESC.
    *
    * Since r15 the QUERY paths assign codes via the native
    * [[graft.expressions.PqCodes]] kernel (all subspaces in one
    * expression node — the codeword table is DATA, not inlined
    * Catalyst nodes, which is what repeated analysis + janino compile
    * of 3 ADC arms actually cost in q_ann_recall). This literal form
    * stays as the independent reference implementation:
    * PqCodesSpec pins pq_codes == this expression code-for-code on
    * both execution paths. */
  private[graft] def nearestCode(cb: Seq[(Int, Array[Double])], sub: Column): Column = {
    val scored = cb.map { case (code, c) =>
      val cn2 = c.map(x => x * x).sum
      // typedLit: ONE literal node per codeword (not SubDim `lit`s) —
      // same array value, ~4x smaller expression tree per code column
      // (r14: DataFrame CONSTRUCTION, i.e. repeated Catalyst analysis
      // of these trees, dominated q_ann_recall's wall —
      // OPTIMIZATION_r14.md §7)
      struct(
        (lit(2.0) * Similarity.dot(sub, typedLit(c.toIndexedSeq))
          - lit(cn2)).as("score"),
        lit(code).as("code"))
    }
    array_max(array(scored: _*)).getField("code")
  }

  /** Shared ADC scoring tail of knnPqWith / knnPqSubWith: per-row
    * (query, vec) scores from the flattened s*CodebookK+code LUTs,
    * self-pair filter, exact top-k window. The LUTs, query ids and
    * query norms ride in as THREE typedLit arrays (one literal node
    * each) and the per-query score structs are GENERATED by one
    * `transform` over the query index — value-identical arithmetic to
    * the previous per-query `lit`-array unrolling (same BIGINT fold in
    * the same order, same round(.., 9)), but the expression tree drops
    * from ~1.4k nodes (10 queries x 128 lits + folds) to ~40, which is
    * what repeated Catalyst analysis during plan construction actually
    * costs (guide §7.3 "very large plans"; measured in
    * OPTIMIZATION_r14.md §7). */
  private def adcTopK(withCodes: DataFrame, rq: Column,
      luts: Array[(Long, Double, Array[Long])], k: Int): DataFrame = {
    val qids  = typedLit(luts.map(_._1).toIndexedSeq)
    val qnrms = typedLit(luts.map(_._2).toIndexedSeq)
    val lut2d = typedLit(luts.map(_._3.toIndexedSeq).toIndexedSeq)
    val qs = transform(sequence(lit(0), lit(luts.length - 1)), qi => {
      val aq = aggregate(sequence(lit(0), lit(NumSub - 1)), lit(0L),
        (acc, s) => acc + element_at(element_at(lut2d, qi + 1),
          s * CodebookK + element_at(col("codes"), s + 1) + 1))
      struct(element_at(qids, qi + 1).as("query_id"),
        round((aq.cast("double") / lit(Grid30))
          / (element_at(qnrms, qi + 1)
            * sqrt(col("rq").cast("double") / lit(Grid30))), 9)
          .as("score"))
    })
    val scored = withCodes
      .select(col("vec_id"), col("codes"), rq.as("rq"))
      .select(col("vec_id"), explode(qs).as("qs"))
      .filter(col("vec_id") =!= col("qs.query_id"))
      .select(col("qs.query_id").as("query_id"), col("vec_id"),
        col("qs.score").as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** The training frame both codebook trainers read: the (vec_id, s,
    * sub) subvectors of the same deterministic `vec_id % stride == 0`
    * training sample as the IVF index (stride = 1 at every oracle-checked
    * sf). Each Lloyd round re-reads it, so a caller training more than
    * once holds it: SparkEntry declares it once per embedding basis. */
  def trainingSubvectors(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val stride = math.max(1L,
      (emb.count() + Ivf.TrainSampleCap - 1) / Ivf.TrainSampleCap)
    subvectors(if (stride > 1) base.filter(col("vec_id") % stride === 0) else base)
  }

  /** Train the shared codebook on `emb`'s training sample. */
  def trainCodebook(emb: DataFrame): Seq[(Int, Array[Double])] =
    fitCodebook(trainingSubvectors(emb))

  /** The shared codebook over a [[trainingSubvectors]] frame:
    * deterministic seeds (first CodebookK subvectors by (vec_id, s)),
    * PqIters Lloyd rounds with grid-exact means. */
  def fitCodebook(sv: DataFrame): Seq[(Int, Array[Double])] = {
    var cb: Seq[(Int, Array[Double])] =
      sv.orderBy(col("vec_id"), col("s")).limit(CodebookK)
        .collect().zipWithIndex.map { case (r, i) =>
          (i, r.getAs[scala.collection.Seq[Double]]("sub").toArray)
        }.toSeq
    if (cb.isEmpty) return cb
    (1 to PqIters).foreach { _ =>
      val assigned = sv.withColumn("code", nearestCode(cb, col("sub")))
      val means = assigned
        .select(col("code"),
          posexplode(transform(col("sub"), x => floor(x * lit(Grid20)))))
        .groupBy(col("code"), col("pos"))
        .agg((sum(col("col")).cast("double")
          / (lit(Grid20) * count(lit(1)).cast("double"))).as("m"))
        .groupBy(col("code"))
        .agg(map_from_entries(collect_list(struct(col("pos"), col("m"))))
          .as("byPos"))
        .collect()
        .map { r =>
          val m = r.getAs[Map[Int, Double]]("byPos")
          r.getInt(0) -> Array.tabulate(m.size)(m)
        }.toMap
      cb = cb.map { case (code, old) => (code, means.getOrElse(code, old)) }
    }
    cb
  }

  /** The PQ code table: (vec_id, s, code) — 8 codes per vector, the
    * compressed corpus representation. */
  def encode(emb: DataFrame, cb: Seq[(Int, Array[Double])]): DataFrame =
    subvectors(emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
      .withColumn("code", nearestCode(cb, col("sub")))
      .select(col("vec_id"), col("s"), col("code"))

  /** Top-k PQ/ADC neighbors for the fixed low-id query slice. Output
    * matches the knn family: (query_id, neighbor_id, rank, score).
    *
    * The whole scoring pass is ROW-LOCAL: the 8 codes are computed as
    * one array expression per corpus row, the reconstruction norm and
    * every query's ADC sum are literal-array lookups folded over those
    * codes (the lookup tables — |Q| x 8 x 16 grid-quantized partial
    * dots and the 16 codeword norms — are built driver-side from the
    * SAME fold arithmetic the oracle mirrors, the centroidTable
    * contract). Nothing joins, nothing aggregates: the only exchange in
    * the plan is the final top-k window, which is WindowGroupLimit-
    * capped map-side. A first cut staged codes/norms/ADC as three
    * broadcast joins + a (query, vec) aggregation; at x20 the giant
    * argmax expression replicated through those join plans fell out of
    * compiled codegen and the stage ran 12+ s — the row-local shape
    * runs the same corpus in ~1 s and is what a codes-scan ADC pass
    * looks like at 100 TB anyway. */
  def knnPqWith(emb: DataFrame, cb: Seq[(Int, Array[Double])],
                k: Int = 10, nQueries: Int = 10,
                preQueries: Option[Array[(Long, Array[Double])]] = None)
      : DataFrame = {
    if (cb.isEmpty)
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), col("vec_id").as("rank"),
        lit(0.0).as("score"))
    // the fixed benchmark query slice, collected driver-side (10 x 64
    // doubles — the knnExact broadcast contract). A caller assembling
    // several ADC arms over the same slice (annRecall) collects ONCE
    // and passes it in — one driver job instead of one per arm.
    val queries = preQueries.getOrElse(collectQueries(emb, nQueries))
    if (queries.isEmpty)
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), col("vec_id").as("rank"),
        lit(0.0).as("score"))
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i) * b(i); i += 1 }
      d
    }
    val cbSorted = cb.sortBy(_._1)
    // codeword norm^2 on the 2^-30 grid, indexed by code
    val cn2q = cbSorted.map { case (_, c) =>
      math.floor(c.map(x => x * x).sum * Grid30).toLong
    }
    // per-query: L2 norm and the flattened ADC table (s * 16 + code).
    // Slots are FILLED BY ACTUAL CODE, not tabulated positionally: a
    // training sample smaller than CodebookK yields a shorter codebook
    // (codes still contiguous from 0), and positional tabulation read
    // past its end (r6 ADVICE). Unfilled slots stay 0 and are never
    // read — nearestCode only emits existing codes.
    val luts = queries.map { case (qid, qv) =>
      val lut = Array.fill(NumSub * CodebookK)(0L)
      for (s <- 0 until NumSub; (code, cw) <- cbSorted
           if code >= 0 && code < CodebookK) {
        val sub = qv.slice(s * SubDim, (s + 1) * SubDim)
        lut(s * CodebookK + code) = math.floor(dotSeq(sub, cw) * Grid30).toLong
      }
      (qid, math.sqrt(dotSeq(qv, qv)), lut)
    }
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // 8 codes per row as ONE native kernel node (row-local, scan-fused;
    // pooled codebook = the same table for every subspace) — see
    // nearestCode's scaladoc for the r15 PqCodes swap rationale
    val cbTriples = cbSorted.map { case (code, c) =>
      (code, c.toIndexedSeq: Seq[Double], c.map(x => x * x).sum) }
    val withCodes = base.withColumn("codes",
      graft.expressions.PqCodes.pq_codes(col("v"),
        Seq.fill(NumSub)(cbTriples), SubDim))
    val cn2qLit = typedLit(cn2q)
    val rq = aggregate(col("codes"), lit(0L),
      (acc, c) => acc + element_at(cn2qLit, c + 1))
    // per-query scores via the shared typedLit-LUT tail (adcTopK)
    adcTopK(withCodes, rq, luts, k)
  }

  def knnPq(emb: DataFrame, k: Int = 10, nQueries: Int = 10): DataFrame =
    knnPqWith(emb, trainCodebook(emb), k, nQueries)

  /** Per-subspace codebooks (the paper's original scheme) as a CONFIG
    * next to the pooled default: subspace s gets its own CodebookK
    * centroids trained on only its subvectors, so codewords track each
    * coordinate block's distribution instead of the pooled average —
    * the recall lever q_ann_recall measures side by side with the
    * pooled variant (pooled stays the default: on the fixture's
    * structure-free random vectors the delta is what it is, and the
    * pooled oracle chain stays 1/8 the size).
    *
    * Training runs ALL subspaces in each Lloyd round. Assignment joins
    * the subvector rows to a BROADCAST 128-row codebook frame on `s`
    * and takes max(struct(score, code)) per (vec_id, s) — a first cut
    * expressed the per-row dynamic-subspace argmax as an 8-branch CASE
    * over 16-codeword array_max literals (1024 inlined dot products);
    * that expression blew straight past janino's method budget and ran
    * interpreted (measured: 41 s of x64 warmup for a training step the
    * pooled fit does in 5). The join shape is ordinary codegen'd
    * hash-join + hash-agg at any K. Seeds: per subspace, its first
    * CodebookK subvectors by vec_id. */
  def trainCodebooks(emb: DataFrame): Seq[Seq[(Int, Array[Double])]] =
    fitCodebooks(trainingSubvectors(emb))

  /** The per-subspace codebooks over a [[trainingSubvectors]] frame. */
  def fitCodebooks(sv: DataFrame): Seq[Seq[(Int, Array[Double])]] = {
    val spark = sv.sparkSession
    import spark.implicits._
    val seedRows = sv
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("s")).orderBy(col("vec_id"))))
      .filter(col("rn") <= CodebookK)
      .select(col("s"), (col("rn") - 1).as("code"), col("sub"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Double]]("sub").toArray))
    if (seedRows.isEmpty) return Seq.empty
    var cbs: Seq[Seq[(Int, Array[Double])]] = (0 until NumSub).map(s =>
      seedRows.filter(_._1 == s).sortBy(_._2)
        .map { case (_, code, cv) => (code, cv) }.toSeq)
    (1 to PqIters).foreach { _ =>
      val cbDf = (for {
        s <- cbs.indices; (code, cv) <- cbs(s)
      } yield (s, code, cv.toSeq, cv.map(x => x * x).sum))
        .toDF("s", "code", "cv", "cn2")
      val assigned = sv.join(broadcast(cbDf), Seq("s"))
        .withColumn("score",
          lit(2.0) * Similarity.dot(col("sub"), col("cv")) - col("cn2"))
        .groupBy(col("vec_id"), col("s"), col("sub"))
        // max of struct = lexicographic (score, code): the same
        // (score DESC, code DESC) tie-break as the pooled argmax
        .agg(max(struct(col("score"), col("code"))).getField("code")
          .as("code"))
      val means = assigned
        .select(col("s"), col("code"),
          posexplode(transform(col("sub"), x => floor(x * lit(Grid20)))))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg((sum(col("col")).cast("double")
          / (lit(Grid20) * count(lit(1)).cast("double"))).as("m"))
        .groupBy(col("s"), col("code"))
        .agg(map_from_entries(collect_list(struct(col("pos"), col("m"))))
          .as("byPos"))
        .collect()
        .map { r =>
          val m = r.getAs[Map[Int, Double]]("byPos")
          (r.getInt(0), r.getInt(1)) -> Array.tabulate(m.size)(m)
        }.toMap
      cbs = cbs.zipWithIndex.map { case (cb, s) =>
        cb.map { case (code, old) => (code, means.getOrElse((s, code), old)) }
      }
    }
    cbs
  }

  /** knnPqWith for per-subspace codebooks: identical ADC machinery —
    * the flattened s*16+code LUT layout already spans subspaces, so
    * only the LUT/norm CONTENTS and the per-row code derivation change. */
  /** The fixed benchmark query slice, collected driver-side (nQueries x
    * dim doubles — the knnExact broadcast contract); the one driver job
    * shared by every ADC arm. */
  private[graft] def collectQueries(emb: DataFrame,
                                    nQueries: Int): Array[(Long, Array[Double])] =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  def knnPqSubWith(emb: DataFrame, cbs: Seq[Seq[(Int, Array[Double])]],
                   k: Int = 10, nQueries: Int = 10,
                   preQueries: Option[Array[(Long, Array[Double])]] = None)
      : DataFrame = {
    if (cbs.isEmpty || cbs.exists(_.isEmpty))
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), col("vec_id").as("rank"),
        lit(0.0).as("score"))
    val queries = preQueries.getOrElse(collectQueries(emb, nQueries))
    if (queries.isEmpty)
      return emb.limit(0).select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), col("vec_id").as("rank"),
        lit(0.0).as("score"))
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i) * b(i); i += 1 }
      d
    }
    val sorted = cbs.map(_.sortBy(_._1))
    // codeword norm^2 per (s, code), flattened s*16+code — filled BY
    // ACTUAL CODE so a short per-subspace codebook (training sample
    // < CodebookK) neither shifts the flattened layout nor indexes past
    // the codebook seq (r6 ADVICE; unfilled slots are never read)
    val cn2q = {
      val a = Array.fill(NumSub * CodebookK)(0L)
      for (s <- 0 until NumSub; (code, c) <- sorted(s)
           if code >= 0 && code < CodebookK)
        a(s * CodebookK + code) = math.floor(c.map(x => x * x).sum * Grid30).toLong
      a.toIndexedSeq
    }
    val luts = queries.map { case (qid, qv) =>
      val lut = Array.fill(NumSub * CodebookK)(0L)
      for (s <- 0 until NumSub; (code, cw) <- sorted(s)
           if code >= 0 && code < CodebookK) {
        val sub = qv.slice(s * SubDim, (s + 1) * SubDim)
        lut(s * CodebookK + code) = math.floor(dotSeq(sub, cw) * Grid30).toLong
      }
      (qid, math.sqrt(dotSeq(qv, qv)), lut)
    }
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // all NumSub per-subspace code assignments as ONE native kernel
    // node (PqCodes — codebooks are data, not inlined Catalyst nodes;
    // the r14 history of this site: per-column argmax trees → one
    // select → r15 native kernel; see nearestCode's scaladoc)
    val cbTriples = sorted.map(_.map { case (code, c) =>
      (code, c.toIndexedSeq: Seq[Double], c.map(x => x * x).sum) })
    val withCodes = base.select(col("vec_id"),
      graft.expressions.PqCodes.pq_codes(col("v"), cbTriples, SubDim)
        .as("codes"))
    val cn2qLit = typedLit(cn2q)
    val rq = aggregate(sequence(lit(0), lit(NumSub - 1)), lit(0L),
      (acc, s) => acc +
        element_at(cn2qLit, s * CodebookK + element_at(col("codes"), s + 1) + 1))
    adcTopK(withCodes, rq, luts, k)
  }

  /** OPQ-style dimension permutation (Ge et al. 2013, "Optimized
    * Product Quantization" — the eigenvalue-allocation idea of §4
    * applied coordinate-wise): instead of a dense learned rotation,
    * reorder the DIMENSIONS so each subspace receives a balanced mix of
    * high- and low-energy coordinates. ADC quantization error
    * concentrates in whichever subspace carries the most signal
    * variance; balancing per-subspace energy is the rotation family's
    * cheapest member — and the only one whose transform a SQL oracle
    * can re-derive exactly (a permutation is integer metadata; a dense
    * rotation is a 64x64 float matmul whose training is an SVD).
    *
    * Per-dimension energy is the 2^-20 grid-floored sum of x^2 — an
    * exact BIGINT, so the energy ranking is order-free on any
    * partitioning. Assignment is a snake draft over the energy ranking
    * (rank r: round r/NumSub, subspace r%NumSub forward on even rounds,
    * reversed on odd), the standard balanced-allocation shape: every
    * subspace gets one dimension per round, alternating pick order so
    * early rounds' high-energy picks don't always land in subspace 0.
    *
    * Returns perm where perm(newPos) = oldPos (0-based): permuted
    * vector p has p(newPos) = v(perm(newPos)). Empty input -> Nil
    * (callers treat an empty permutation as "not measured").
    *
    * Shape at 100 TB: one posexplode aggregation to dim-count rows,
    * a 64-row collect, pure driver arithmetic. */
  def trainPermutation(emb: DataFrame): Seq[Int] = {
    val energies = emb
      .select(posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("pos"))
      .agg(sum(floor(col("col") * col("col") * lit(Grid20))).as("s2"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    if (energies.isEmpty) return Seq.empty
    val dims = energies.length
    require(dims % NumSub == 0,
      s"dimension count $dims not divisible into $NumSub subspaces")
    val subDim = dims / NumSub
    val ranked = energies.sortBy { case (pos, s2) => (-s2, pos) }
    val perm = new Array[Int](dims)
    ranked.zipWithIndex.foreach { case ((pos, _), r0) =>
      val round = r0 / NumSub
      val pr = r0 % NumSub
      val s = if (round % 2 == 0) pr else NumSub - 1 - pr
      perm(s * subDim + round) = pos
    }
    perm.toIndexedSeq
  }

  /** Apply a trainPermutation reordering to the embedding column (a
    * row-local array-of-element_at projection, scan-fused). Identity on
    * an empty permutation. */
  def permute(emb: DataFrame, perm: Seq[Int]): DataFrame =
    if (perm.isEmpty) emb
    else emb.withColumn("embedding",
      array(perm.map(i =>
        element_at(col("embedding").cast("array<double>"), i + 1)): _*))

  /** PQ + exact re-rank — the standard deployment pattern: the cheap
    * codes-scan ADC pass nominates `candidates` per query, and ONLY
    * those rows pick up their raw vectors for an exact cosine re-rank.
    * Raw-vector work drops from corpus-mass to candidate-mass (|Q| x C
    * rows), which is what buys back the recall the 8-byte codes give up
    * (measured in PqSpec: the re-rank's recall strictly dominates raw
    * ADC at the same k). */
  def knnPqRerank(emb: DataFrame, cb: Seq[(Int, Array[Double])],
                  k: Int = 10, nQueries: Int = 10,
                  candidates: Int = 50): DataFrame = {
    val cand = knnPqWith(emb, cb, candidates, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    if (cb.isEmpty) return cand.select(col("query_id"),
      col("neighbor_id"), col("query_id").as("rank"), lit(0.0).as("score"))
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      Similarity.l2Norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val exact = cand
      .join(e, cand("neighbor_id") === e("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("qv"), col("v"))
          / (col("qnrm") * col("nrm")), 9).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }
}
