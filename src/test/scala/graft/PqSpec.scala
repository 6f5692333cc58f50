package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{Pq, Similarity}

/** Contracts for the PQ/ADC ANN flavor (cross-engine value parity is the
  * oracle gate; these pin the kernel semantics):
  *  - codebook geometry (CodebookK codewords of SubDim dims),
  *  - complete, in-range code assignment,
  *  - the ADC score in the query output is BITWISE reproducible
  *    driver-side from (codes, codebook, query norms) — the whole
  *    lookup-table pipeline recomputed independently,
  *  - recall@10 vs the exact top-10 is materially above chance. */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emb = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
  private lazy val cb = Pq.trainCodebook(emb)

  test("codebook geometry: CodebookK codewords of SubDim dims") {
    assert(cb.size == Pq.CodebookK)
    assert(cb.forall(_._2.length == Pq.SubDim))
    assert(cb.map(_._1).sorted == (0 until Pq.CodebookK))
  }

  test("codes: one in-range code per (vector, subspace)") {
    val n = emb.count()
    val codes = Pq.encode(emb, cb)
    assert(codes.count() == n * Pq.NumSub)
    val rng = codes.agg(min(col("code")).as("lo"), max(col("code")).as("hi"),
      countDistinct(col("vec_id"), col("s")).as("slots")).collect()(0)
    assert(rng.getAs[Int]("lo") >= 0 && rng.getAs[Int]("hi") < Pq.CodebookK)
    assert(rng.getAs[Long]("slots") == n * Pq.NumSub)
  }

  /** Recompute every pooled-ADC output score independently driver-side
    * from (codes, codebook, query norms) and require bit equality —
    * shared by the full-codebook and short-codebook cases (the latter
    * is the r7 regression pin: positional LUT tabulation read past a
    * short codebook's end). */
  private def assertPooledAdcReproducible(cb: Seq[(Int, Array[Double])]): Unit = {
    val out = Pq.knnPqWith(emb, cb).collect()
    assert(out.nonEmpty)
    val codes = Pq.encode(emb, cb).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => r.getInt(1) -> r.getInt(2)).sortBy(_._1).map(_._2)
      }
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        Similarity.l2Norm(col("embedding")).as("nrm"))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2)))
      .toMap
    val cbm = cb.toMap
    val cn2q = cb.map { case (c, v) =>
      c -> math.floor(v.map(x => x * x).sum * Pq.Grid30).toLong
    }.toMap
    out.foreach { r =>
      val q = r.getLong(0); val x = r.getLong(1); val got = r.getDouble(3)
      val (qv, qn) = vecs(q)
      val xc = codes(x)
      // lookup-table partials: per subspace, grid-floored dot of the
      // query subvector with the assigned codeword
      val aq = (0 until Pq.NumSub).map { s =>
        val sub = qv.slice(s * Pq.SubDim, (s + 1) * Pq.SubDim)
        val c = cbm(xc(s))
        var d = 0.0; var i = 0
        while (i < Pq.SubDim) { d += sub(i) * c(i); i += 1 }
        math.floor(d * Pq.Grid30).toLong
      }.sum
      val rq = xc.map(cn2q).sum
      val want = BigDecimal((aq.toDouble / Pq.Grid30)
        / (qn * math.sqrt(rq.toDouble / Pq.Grid30)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got == want, s"query $q neighbor $x: got $got want $want")
    }
  }

  test("ADC scores in the query output are bitwise reproducible driver-side") {
    assertPooledAdcReproducible(cb)
  }

  test("short pooled codebook (training < CodebookK subvectors) scores exactly") {
    // one vector -> NumSub subvectors -> a codebook SHORTER than
    // CodebookK, codes still contiguous from 0. Pre-r7, the LUT/cn2
    // tabulation was positional over CodebookK slots and indexed past
    // this codebook's end.
    val shortCb = Pq.trainCodebook(emb.filter(col("vec_id") === 0))
    assert(shortCb.size == Pq.NumSub && shortCb.size < Pq.CodebookK)
    assert(shortCb.map(_._1).sorted == (0 until shortCb.size))
    assertPooledAdcReproducible(shortCb)
  }

  private lazy val cbs = Pq.trainCodebooks(emb)

  test("per-subspace config: geometry + bitwise ADC reproduction") {
    assert(cbs.size == Pq.NumSub)
    cbs.foreach { cb =>
      assert(cb.size == Pq.CodebookK)
      assert(cb.forall(_._2.length == Pq.SubDim))
      assert(cb.map(_._1).sorted == (0 until Pq.CodebookK))
    }
    // subspace codebooks must actually differ from each other (they
    // track per-block distributions; identical books would mean the
    // per-s training silently collapsed to the pooled fit)
    assert(cbs.map(_.map(_._2.toSeq)).distinct.size > 1)
    assertSubAdcReproducible(cbs)
  }

  test("short per-subspace codebooks (training < CodebookK vectors) score exactly") {
    // 8 training vectors -> one subvector per (vector, s) -> every
    // per-subspace codebook has 8 < CodebookK codewords; the flattened
    // s*CodebookK+code LUT layout must not shift (r7 regression pin)
    val shortCbs = Pq.trainCodebooks(emb.filter(col("vec_id") < 8))
    assert(shortCbs.size == Pq.NumSub)
    shortCbs.foreach { scb =>
      assert(scb.size == 8 && scb.size < Pq.CodebookK)
      assert(scb.map(_._1).sorted == (0 until scb.size))
    }
    assertSubAdcReproducible(shortCbs)
  }

  test("annRecall lsh/mp hit counts == standalone knnLsh/knnLshMultiProbe (r15 shared-index arms)") {
    // the r15 restructure builds ONE bucketed index + candidate join
    // and ranks the single-probe arm off the multi-probe stream's
    // flip = 0 slice — this pins the report's lsh/mp hit counts
    // against the standalone operators it must agree with
    val rows = Similarity.annRecall(emb, cb, Seq.empty).collect()
      .map(r => r.getLong(r.fieldIndex("query_id")) ->
        (r.getLong(r.fieldIndex("lsh_hits")),
          r.getLong(r.fieldIndex("multiprobe_hits")))).toMap
    val ex = Similarity.knnExact(emb).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter(ex).groupBy(_._1).map { case (q, h) => q -> h.length.toLong }
    val lsh = hits(Similarity.knnLsh(emb))
    val mp = hits(Similarity.knnLshMultiProbe(emb))
    assert(rows.nonEmpty)
    rows.foreach { case (q, (lh, mh)) =>
      assert(lh == lsh.getOrElse(q, 0L), s"lsh_hits diverge for query $q")
      assert(mh == mp.getOrElse(q, 0L), s"multiprobe_hits diverge for query $q")
    }
  }

  test("annRecall: explicit empty sub-codebooks -> NULL pq_sub columns, not 0.0") {
    val rows = Similarity.annRecall(emb, cb, Seq.empty).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("pq_sub_hits")), "unmeasured must be NULL")
      assert(r.isNullAt(r.fieldIndex("pq_sub_recall")), "unmeasured must be NULL")
      assert(!r.isNullAt(r.fieldIndex("pq_recall")))
    }
    // and a measured config yields non-null columns on every row
    val measured = Similarity.annRecall(emb, cb, cbs).collect()
    assert(measured.nonEmpty)
    assert(measured.forall(r => !r.isNullAt(r.fieldIndex("pq_sub_recall"))))
  }

  /** Recompute every per-subspace-ADC output score independently
    * driver-side (own code assignment + LUT fold) and require bit
    * equality. */
  private def assertSubAdcReproducible(cbs: Seq[Seq[(Int, Array[Double])]],
      frame: org.apache.spark.sql.DataFrame = emb): Unit = {
    val out = Pq.knnPqSubWith(frame, cbs).collect()
    assert(out.nonEmpty)
    val vecs = frame.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        Similarity.l2Norm(col("embedding")).as("nrm"))
      .collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2)))
      .toMap
    val sorted = cbs.map(_.sortBy(_._1))
    // independent driver-side code assignment per (vector, subspace):
    // argmax of 2*dot - |c|^2 with the (score, code) max tie-break
    def codeOf(v: Array[Double], s: Int): Int = {
      val sub = v.slice(s * Pq.SubDim, (s + 1) * Pq.SubDim)
      sorted(s).map { case (code, c) =>
        var d = 0.0; var i = 0
        while (i < Pq.SubDim) { d += sub(i) * c(i); i += 1 }
        (2.0 * d - c.map(x => x * x).sum, code)
      }.max._2
    }
    out.foreach { r =>
      val q = r.getLong(0); val x = r.getLong(1); val got = r.getDouble(3)
      val (qv, qn) = vecs(q)
      val (xv, _) = vecs(x)
      val aq = (0 until Pq.NumSub).map { s =>
        val sub = qv.slice(s * Pq.SubDim, (s + 1) * Pq.SubDim)
        val c = sorted(s)(codeOf(xv, s))._2
        var d = 0.0; var i = 0
        while (i < Pq.SubDim) { d += sub(i) * c(i); i += 1 }
        math.floor(d * Pq.Grid30).toLong
      }.sum
      val rq = (0 until Pq.NumSub).map { s =>
        val c = sorted(s)(codeOf(xv, s))._2
        math.floor(c.map(x => x * x).sum * Pq.Grid30).toLong
      }.sum
      val want = BigDecimal((aq.toDouble / Pq.Grid30)
        / (qn * math.sqrt(rq.toDouble / Pq.Grid30)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got == want, s"query $q neighbor $x: got $got want $want")
    }
  }

  private lazy val opqPerm = Pq.trainPermutation(emb)
  private lazy val opqCbs = Pq.trainCodebooks(Pq.permute(emb, opqPerm))

  test("OPQ permutation: bijection, top-energy spread, balanced subspaces") {
    val dims = Pq.NumSub * Pq.SubDim
    assert(opqPerm.length == dims)
    assert(opqPerm.sorted == (0 until dims), "must be a bijection over dims")
    // independent driver-side energy ranking with the same grid formula
    val energies = emb.collect().map(_.getSeq[Float](
        emb.schema.fieldIndex("embedding")).map(_.toDouble).toArray)
      .foldLeft(Array.fill(dims)(0L)) { (acc, v) =>
        (0 until dims).foreach(i =>
          acc(i) += math.floor(v(i) * v(i) * Pq.Grid20).toLong)
        acc
      }
    val rankOf = energies.zipWithIndex.sortBy { case (s2, pos) => (-s2, pos) }
      .map(_._2).zipWithIndex.toMap
    // snake round 0: the NumSub highest-energy dims land in NumSub
    // DISTINCT subspaces (the balancing property the permutation exists
    // to provide — identity layout can put all of them in one block)
    val topSubspaces = opqPerm.zipWithIndex
      .filter { case (oldPos, _) => rankOf(oldPos) < Pq.NumSub }
      .map { case (_, newPos) => newPos / Pq.SubDim }
    assert(topSubspaces.distinct.length == Pq.NumSub,
      s"top-${Pq.NumSub} dims must spread across all subspaces: $topSubspaces")
    // balanced allocation: the permuted per-subspace energy spread must
    // not exceed the identity layout's spread
    def spread(assign: Int => Int): Long = {
      val per = Array.fill(Pq.NumSub)(0L)
      (0 until dims).foreach(i => per(assign(i)) += energies(i))
      per.max - per.min
    }
    val inv = opqPerm.zipWithIndex.map { case (o, n) => (o, n) }.toMap
    assert(spread(old => inv(old) / Pq.SubDim) <= spread(_ / Pq.SubDim))
  }

  test("OPQ permute is an exact element reorder") {
    val perm = opqPerm
    val raw = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    Pq.permute(emb, perm)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().foreach { r =>
        val v = raw(r.getLong(0))
        val got = r.getSeq[Double](1)
        perm.indices.foreach(i => assert(got(i) == v(perm(i))))
      }
  }

  test("OPQ config: bitwise ADC reproduction in the permuted basis") {
    val pe = Pq.permute(emb, opqPerm)
    assertSubAdcReproducible(Pq.trainCodebooks(pe), pe)
  }

  test("annRecall: OPQ measured -> non-null; unsupplied -> NULL opq columns") {
    val pe = Pq.permute(emb, opqPerm)
    val measured = Similarity.annRecall(emb, cb, cbs,
      Pq.trainCodebooks(pe), opqPerm).collect()
    assert(measured.nonEmpty)
    measured.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("opq_hits")))
      val rec = r.getDouble(r.fieldIndex("opq_recall"))
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // default (unsupplied) OPQ config -> NULL, not fake zero recall —
    // the same not-measured contract as pq_sub (r6 ADVICE)
    val unmeasured = Similarity.annRecall(emb, cb, cbs).collect()
    assert(unmeasured.nonEmpty)
    unmeasured.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("opq_hits")))
      assert(r.isNullAt(r.fieldIndex("opq_recall")))
    }
  }

  test("exact re-rank of ADC candidates dominates raw ADC recall") {
    val exact = Similarity.knnExact(emb).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
      val rs = exact.map { case (q, t) =>
        byQ.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    val adc = recall(Pq.knnPqWith(emb, cb).collect())
    val rr = Pq.knnPqRerank(emb, cb).collect()
    rr.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length == 10)
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to 10L))
    }
    val reranked = recall(rr)
    assert(reranked >= adc, s"rerank $reranked vs adc $adc")
    assert(reranked > 0.5, s"rerank recall $reranked")
  }

  test("sampled-truth mode == annRecall over the literal corpus sample") {
    // the sampleMod contract (r8 verdict item 4): sampled mode IS the
    // report over the deterministic sample — no separate code path to
    // drift. Equality of full rows, all five method columns.
    val sampled = Similarity.annRecall(emb, cb, cbs, opqCbs, opqPerm,
      sampleMod = 3).collect().map(_.toSeq).sortBy(_.head.toString)
    val literal = Similarity.annRecall(
      emb.filter(col("vec_id") % 3 === 0 || col("vec_id") < 10),
      cb, cbs, opqCbs, opqPerm).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(sampled.nonEmpty && sampled.toSeq == literal.toSeq)
  }

  test("sampled-truth recall agrees with exact mode at small sf") {
    // agreement, measured: per-method MEAN recall over the benchmark
    // queries moves less than 0.25 absolute when the ground set drops
    // to the mod-2 sample — the sampled report ranks methods the same
    // way the exact one does (the decision it exists to inform)
    def meanBy(rows: Array[org.apache.spark.sql.Row], field: String): Double = {
      val vs = rows.filterNot(r => r.isNullAt(r.fieldIndex(field)))
        .map(r => r.getDouble(r.fieldIndex(field)))
      vs.sum / vs.length
    }
    val exact = Similarity.annRecall(emb, cb, cbs, opqCbs, opqPerm).collect()
    val sampled = Similarity.annRecall(emb, cb, cbs, opqCbs, opqPerm,
      sampleMod = 2).collect()
    for (f <- Seq("lsh_recall", "multiprobe_recall", "pq_recall",
        "pq_sub_recall", "opq_recall")) {
      val d = math.abs(meanBy(exact, f) - meanBy(sampled, f))
      assert(d <= 0.25, f"$f sampled-vs-exact mean delta $d%.3f")
    }
  }

  test("OPQ separates from pq_sub on an anisotropic fixture") {
    // the isotropic random fixture can't reward any permutation (~0
    // delta, measured and predicted); this DERIVED fixture concentrates
    // all variance in the first subspace's dims, where the snake-draft
    // permutation re-deals the hot dims one per subspace. Measured
    // (NOTES.md "Round 9" item 5, hot=6): sf0.001 opq 0.69 vs pq_sub 0.32,
    // sf0.01 0.83 vs 0.35 — pin a conservative +0.15 margin so a
    // permutation regression (e.g. reverting to identity) fails loudly.
    val aniso = emb.select(col("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i < Pq.SubDim, x * lit(6.0))
          .otherwise(x.cast("double")).cast("float")).as("embedding"),
      col("label"))
    val perm = Pq.trainPermutation(aniso)
    val rows = Similarity.annRecall(aniso, Pq.trainCodebook(aniso),
      Pq.trainCodebooks(aniso),
      Pq.trainCodebooks(Pq.permute(aniso, perm)), perm).collect()
    def mean(f: String): Double = {
      val vs = rows.map(r => r.getDouble(r.fieldIndex(f)))
      vs.sum / vs.length
    }
    val opq = mean("opq_recall"); val sub = mean("pq_sub_recall")
    assert(opq >= sub + 0.15,
      f"opq $opq%.3f must materially beat pq_sub $sub%.3f on the aniso fixture")
  }

  test("recall@10 vs exact top-10 is materially above chance") {
    val pq = Pq.knnPqWith(emb, cb).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = Similarity.knnExact(emb).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, t) =>
      pq.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    // 500 vectors, 10 of 500 by chance ~= 0.02; random 64-dim data is the
    // hard case for 8-byte codes — require clearly-above-chance retrieval
    assert(mean > 0.15, s"mean recall@10 $mean")
  }
}
