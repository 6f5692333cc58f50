package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline.
  *
  * Three tiers, in increasing scale-efficiency:
  *  - exact:       content-hash groupBy (one shuffle on the hash).
  *  - n-gram Jaccard: character-5-gram shingle inverted index with a
  *    hot-shingle cap, candidate pairs via shingle equi-join. Oracle-
  *    checkable (pure SQL semantics).
  *  - MinHash/LSH and SimHash (graft.functions.Sketches): sketch + band
  *    join, the 100 TB path — candidates are generated from fixed-size
  *    signatures, never from the full shingle index.
  */
object Dedup {

  /** Exact dedup by md5 of the full content: one row per distinct content
    * with the kept (minimum) id and the duplicate count. */
  def exactGroups(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(md5(content).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Cross-source duplication report: for every unordered pair of
    * DIFFERENT sources, how many near-dup document pairs straddle them —
    * the provenance view of dedup ("which feeds copy each other") that
    * decides what a crawl re-ingests. Takes the already-computed
    * candidate pair set (jaccard or sketch based), so the only new work
    * is two joins against the skinny (doc_id, source) dimension and a
    * tiny aggregation. The pair side is the SHUFFLE_HASH build side,
    * pinned: the source dimension is corpus-proportional and must never
    * be a broadcast candidate, and letting AQE pick per rung made the
    * x64→x128 ladder step plan-dependent (r11 What's-wrong 2 — a 2.6x
    * step for 2x data with no algorithmic cause). Two deterministic
    * skinny-dimension shuffles, linear in the corpus. */
  def crossSourceDups(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs.hint("shuffle_hash")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .hint("shuffle_hash")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .filter(col("src_a") =!= col("src_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_neardups"))
  }

  /** Connected-component clustering of near-dup pairs: every document
    * gets the minimum doc_id of its component as cluster label, via
    * iterative min-label propagation WITH pointer jumping — each round
    * every node adopts the min of (its label, its neighbors' labels,
    * and its label's label's label). The neighbor step alone converges
    * in O(diameter) rounds; the two-hop jump compresses label chains
    * ~3x per round, so convergence is O(log3 diameter) — maxIter = 10
    * covers diameter ~3^9, where the plain operator would silently
    * stop one round short on a longer chain. The scalable alternative
    * to driver-side union-find: state stays distributed.
    *
    * The LOOP runs at the RDD level since r14 (optimization round 1).
    * The DataFrame form paid, EVERY round, for work that is constant
    * and data-independent: Catalyst analysis/optimization/physical
    * planning of a brand-new plan (fresh expression ids defeat every
    * plan/codegen cache — measured 0.5–2 s/round of driver time on a
    * 1,861-edge input, ~all of q_incremental_dedup's 7 s wall), janino
    * compilation of stages that process a few thousand rows, AND a
    * re-shuffle of the EDGE side (each round's join re-exchanged the
    * unchanged edge table). The RDD loop fixes all three at once:
    * per-round driver cost is DAG construction (microseconds), there is
    * nothing to compile, and the edge table is `partitionBy`-ed ONCE on
    * the loop's HashPartitioner and stays co-partitioned across every
    * round — the per-round shuffles carry only the label-table-sized
    * deltas (guide §2.4: two operations keyed the same way share one
    * exchange; here it is ten rounds sharing one edge exchange). Width
    * still adapts to the data: one partition per ~500k edges, capped by
    * the session's shuffle width (the x128 measurement that found 128
    * near-empty tasks per round costing 34 s -> 80 s stands). The
    * closures are Long-pair arithmetic — the cheapest possible shape,
    * where codegen'd expressions have nothing to vectorize and the
    * row-format conversion happens once at the DataFrame boundary, not
    * per round. Results are bit-identical: the fixpoint (min id per
    * component) is partitioning- and execution-mode-independent, and
    * the oracle gate re-proves it per round-close.
    */
  /** Below this many distinct undirected edges the label loop is pure
    * scheduling overhead (~5 RDD jobs x ~0.2 s per round for microseconds
    * of work — OPTIMIZATION_r14.md §2), and the component structure fits the
    * driver many times over: <= 500k skinny Long pairs is <= ~8 MB raw —
    * the same order the engine already ships driver-side for every
    * broadcast join. The constant is the loop's own per-partition edge
    * budget, so the two paths meet exactly where the distributed loop
    * would first earn a second task. */
  val DriverCcMaxEdges = 500000L

  def dedupClusters(pairs: DataFrame, maxIter: Int = 10,
                    driverMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    // one materialization of the (possibly expensive) candidate-pair
    // DAG; everything after runs on its skinny (Long, Long) rows
    val undirected = pairs.select(col("doc_a").cast("long"),
        col("doc_b").cast("long")).rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }
    val partsKey = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(partsKey).toLong
    // the edge table is partitioned ONCE and persisted; every round's
    // neighbor join reads it in place (no per-round edge shuffle). The
    // distinct rides the same partitioner. Floor 1, not 8: below ~500k
    // edges extra tasks are pure scheduling overhead (OPTIMIZATION_r14.md
    // §2), and at
    // scale the width tracks the edge count exactly as before.
    val prePartitioner = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(sessionParts, 512)).toInt)
    val dedupedPre = undirected.distinct(prePartitioner.numPartitions)
    val nEdges = dedupedPre.count()
    // tiny edge sets: min-root union-find on the driver — bit-identical
    // to the loop's min-id fixpoint (union hangs the larger root under
    // the smaller, so every final root IS its component's min id), with
    // zero per-round jobs. CcSmallPathSpec pins equality against the
    // distributed loop; at scale nEdges exceeds the gate and nothing
    // below changes.
    if (nEdges <= driverMaxEdges) {
      val parent = new scala.collection.mutable.LongMap[Long](
        math.max(16, nEdges.toInt * 2))
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      dedupedPre.collect().foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // materialize the ids BEFORE mapping with find(): find()
      // path-compresses (writes values of) the same LongMap, and
      // iterating a map while mutating it is an invalidation hazard
      // even when today's value writes happen not to restructure it
      // (r14 ADVICE)
      val ids = parent.keysIterator.toArray
      val rows = ids.toSeq.map { id =>
        val r = find(id)
        org.apache.spark.sql.Row(id, r, id == r)
      }
      return spark.createDataFrame(
        spark.sparkContext.parallelize(rows,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            rows.size / 100000 + 1))),
        ccSchema)
    }
    val loopParts = math.max(1L, math.min(sessionParts, nEdges / 500000L + 1L))
    val part = new org.apache.spark.HashPartitioner(loopParts.toInt)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = dedupedPre.partitionBy(part).persist(lvl)
    // init label(x) = x; edges is key-partitioned, so this reduceByKey
    // is NARROW (no shuffle), and the self-label map keeps the keys —
    // partitioning is declared preserved
    var labels = edges.mapValues(_ => 0L)
      .reduceByKey(part, (_, _) => 0L)
      .mapPartitions(_.map { case (v, _) => (v, v) },
        preservesPartitioning = true)
      .persist(lvl)
    var prev: org.apache.spark.rdd.RDD[_] = labels
    var converged = false
    var i = 0
    val trace = sys.env.contains("SPARK_GRAFT_CC_TRACE")
    while (!converged && i < maxIter) {
      val t0 = System.nanoTime()
      // neighbors' labels: edges co-partitioned (narrow side), labels
      // co-partitioned — the only shuffle is the reduceByKey of the
      // (node, candidate-label) stream
      val nmin = edges.join(labels)
        .map { case (_, (dst, lbl)) => (dst, lbl) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      // two-hop pointer jump: j2 = L(L(x)), j3 = L(L(L(x))). Labels are
      // always node ids, so each hop is a label-keyed join against the
      // label table itself.
      val hop1 = labels.map { case (x, l) => (l, x) }.join(labels)
        .map { case (_, (x, l2)) => (x, l2) }
      val jmin = hop1.map { case (x, l2) => (l2, x) }.join(labels)
        .map { case (l2, (x, l3)) => (x, math.min(l2, l3)) }
      // adopt the min of self, neighbor-min, and the jumps; count the
      // changes in the same pass (cogroup of three P-partitioned sides:
      // nmin is already on P; the jump side shuffles its label-sized
      // rows)
      val next = labels.cogroup(nmin, jmin, part)
        .mapValues { case (ls, ns, js) =>
          val old = ls.head
          var m = old
          val ni = ns.iterator
          while (ni.hasNext) { val v = ni.next(); if (v < m) m = v }
          val ji = js.iterator
          while (ji.hasNext) { val v = ji.next(); if (v < m) m = v }
          (m, m < old)
        }.persist(lvl)
      val changed = next.filter(_._2._2).count()
      converged = changed == 0
      val out = next.mapValues(_._1)
      prev.unpersist(false)
      prev = next
      labels = out
      if (trace)
        System.err.println(f"[cc_round] $i: ${(System.nanoTime() - t0) / 1e9}%.3fs " +
          s"changed=$changed")
      i += 1
    }
    edges.unpersist(false)
    // the final round's persisted RDD backs the returned frame; its
    // blocks release via the ContextCleaner once callers drop the
    // reference (Storage.SelfManaged, the dedupClusters declaration's
    // policy in SparkEntry)
    val rows = labels.map { case (id, l) =>
      org.apache.spark.sql.Row(id, l, id == l)
    }
    spark.createDataFrame(rows, ccSchema)
  }

  /** (doc_id, cluster_id, keep) — shared by both dedupClusters paths. */
  private val ccSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("keep",
      org.apache.spark.sql.types.BooleanType, nullable = true)))

  /** The deduplicated corpus: drop every non-representative member of a
    * near-dup cluster (documents in no cluster are kept). */
  def dedupedCorpus(docs: DataFrame, pairs: DataFrame): DataFrame =
    dropClusterDuplicates(docs, dedupClusters(pairs))

  /** Same, from an already-computed cluster assignment (lets callers reuse
    * one label-propagation run across queries). */
  def dropClusterDuplicates(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val drop = clusters.filter(!col("keep")).select(col("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** SOFT dedup: count-based DOWN-WEIGHTING instead of dropping — every
    * document stays in the corpus, but members of an n-document near-dup
    * cluster train at sample_weight 1/n, so each distinct content
    * contributes one unit of training mass regardless of how many times
    * the crawl re-collected it (the down-weight alternative to
    * dropClusterDuplicates when a pipeline wants the extra copies as
    * shuffled augmentation rather than waste — cf. the duplication-count
    * analyses in Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better"). Documents in no cluster carry weight 1.0
    * with themselves as cluster_id.
    *
    * Shape at 100 TB: the cluster table holds only pair-incident docs
    * (far smaller than the corpus); one cluster_id-keyed count, two
    * doc_id/cluster_id hash joins — all linear, nothing broadcast
    * beyond what AQE picks for the genuinely small sides. */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sized = clusters.select(col("doc_id"), col("cluster_id"))
      .join(clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size")), Seq("cluster_id"))
    val size = coalesce(col("cluster_size"), lit(1L))
    docs.select(col("doc_id"))
      .join(sized, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        size.as("cluster_size"),
        (lit(1.0) / size.cast("double")).as("sample_weight"))
  }

  /** Quality-aware cluster representative selection — the keeper policy
    * real pipelines actually want once a quality score exists: instead
    * of the min-id convention, each near-dup cluster keeps its
    * HIGHEST-QUALITY member (ties: lowest doc_id, the deterministic
    * batch-window order). Unclustered documents are their own
    * single-member cluster and keep themselves. Output per doc:
    * cluster_id, cluster_size, quality_score, keep_best.
    *
    * Shape at 100 TB: the cluster table holds only pair-incident docs;
    * the corpus-wide part is ONE cluster_id-keyed exchange shared by
    * both window functions (rank + size run over the same partitioning,
    * so Spark plans a single shuffle), over 4 skinny columns — text
    * stays in the quality projection and never crosses it. */
  def keepBestByQuality(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = graft.functions.TextAnalytics.qualityScores(docs)
      .select(col("doc_id"), col("quality_score"))
    val assigned = docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .join(quality, "doc_id")
    val byCluster = Window.partitionBy(col("cluster_id"))
    assigned
      .withColumn("rnk", row_number().over(
        byCluster.orderBy(col("quality_score").desc, col("doc_id"))))
      .withColumn("cluster_size", count(lit(1)).over(byCluster).cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), (col("rnk") === 1).as("keep_best"))
  }

  /** Exact record dedup on a key subset: keep the minimum id per key
    * group (the other columns are the payload being deduplicated). */
  def recordGroups(df: DataFrame, keys: Seq[String], id: Column): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(id).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Character 5-gram shingles per document, WITH positional duplicates:
    * substr(text, i, 5) for i in 1..len-4. Position-based so DuckDB can
    * mirror it with range() + array slicing (no WITH ORDINALITY needed). */
  def charShinglesRaw(docs: DataFrame, n: Int = 5): DataFrame =
    docs.select(col("doc_id"), col("text"),
      explode(sequence(lit(1), greatest(length(col("text")) - (n - 1), lit(0))))
        .as("pos"))
      .select(col("doc_id"), expr(s"substring(text, pos, $n)").as("shingle"))

  /** Distinct shingles per document (the set-semantics view). */
  def charShingles(docs: DataFrame, n: Int = 5): DataFrame =
    charShinglesRaw(docs, n).distinct()

  /** Pairwise n-gram Jaccard similarity over candidate pairs that share at
    * least one (non-hot) shingle.
    *
    * maxDocFreq drops shingles present in more than that many documents —
    * the skew guard that keeps the inverted-index join from exploding on
    * stop-shingles; applied identically in the oracle so results stay
    * comparable. At scale the shingle join shuffles on the shingle hash
    * (well distributed after the hot-key cap).
    */
  /** Winnowing fingerprints (the MOSS selection scheme): the distinct
    * per-window minima of the k-gram hash sequence. GUARANTEE: any
    * shared substring of length >= w + k - 1 shares at least one
    * fingerprint, while the selected set carries ~2/(w+1) of the full
    * shingle volume — the index-size/recall trade the full shingle
    * inverted index (jaccardPairs) cannot make. Entirely row-local;
    * BIGINT polyhashes mirror exactly in the oracle. */

  /** Positional k-gram polyhash sequence (NOT distinct-ed — winnowing
    * is positional). */
  def shingleHashes(text: Column, k: Int = 5): Column =
    when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => graft.expressions.PolyHash.polyhash(text.substr(i, lit(k)))))
      .otherwise(array().cast("array<bigint>"))

  /** Distinct per-window-of-w minima over an ALREADY-MATERIALIZED hash
    * column. The two stages must be separate projections: a lambda
    * re-evaluates nested expressions per element, so an unmaterialized
    * `hs` inside `slice` recomputes the whole O(len) hash sequence for
    * every window — O(len^2) polyhashes per document (measured: 68 s at
    * sf0.001 fused vs ~2 s staged). Bound to a column it is evaluated
    * once per row. */
  def winnowMinima(hs: Column, w: Int = 8): Column =
    array_distinct(when(size(hs) >= w,
      transform(sequence(lit(1), size(hs) - (w - 1)),
        j => array_min(slice(hs, j, lit(w)))))
      .otherwise(array().cast("array<bigint>")))

  /** (doc_id, fps) winnowed fingerprint sets — the WinnowSig native
    * kernel (O(len) deque; the HOF pair above is its cross-check
    * reference, see WinnowSig's scaladoc for why the kernel exists). */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 8): DataFrame =
    docs.select(col("doc_id"),
      graft.expressions.WinnowSig.winnow_sig(col("text"), k, w).as("fps"))

  /** Near-dup pairs by winnowed-fingerprint jaccard: the jaccardPairs
    * shape (capped inverted index, in-task pair explosion, similarity
    * threshold) over the winnowed SAMPLE of the shingle space instead
    * of the full shingle stream — the index-volume trade that keeps the
    * exact-overlap path viable at corpus scales where the full index is
    * not. Window minima concentrate on globally-common low-hash
    * shingles, so the df cap is tighter than the full index's (those
    * fingerprints are stopword-like and carry no pair signal). */
  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 8,
                  maxDocFreq: Int = 50, threshold: Double = 0.3): DataFrame = {
    val fps = winnowFingerprints(docs, k, w)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    val index = fps.groupBy(col("fp")).agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= maxDocFreq)
      .select(col("ids"))
    val sizes = index.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val shared = index
      .select(explode(expr(
        "filter(flatten(transform(ids, a -> transform(ids, b -> struct(a AS doc_a, b AS doc_b)))), p -> p.doc_a < p.doc_b)"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_fp", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_fp", "n_b"), "doc_b")
      .withColumn("sim",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
        col("sim"))
  }

  /** Per-source dedup retention rollup — the "which feeds are
    * redundant" view that decides re-crawl budgets: document counts,
    * distinct-content counts, exact-dup volume, and how many documents
    * the near-dup clustering would drop (cluster members with keep =
    * false, from the caller's shared cluster assignment). Rates are
    * single exact-integer divisions. */
  def dedupRateBySource(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val exact = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        countDistinct(md5(col("text"))).as("distinct_content"))
    val nearDropped = docs.select(col("doc_id"), col("source"))
      .join(clusters.filter(!col("keep")).select(col("doc_id")), "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("near_dup_dropped"))
    exact.join(nearDropped, Seq("source"), "left")
      .select(col("source"), col("docs"), col("distinct_content"),
        (col("docs") - col("distinct_content")).as("exact_dup_docs"),
        coalesce(col("near_dup_dropped"), lit(0L)).as("near_dup_dropped"))
      .withColumn("exact_dup_rate",
        (col("docs") - col("distinct_content")).cast("double") / col("docs"))
      .withColumn("near_dup_rate",
        col("near_dup_dropped").cast("double") / col("docs"))
  }

  def jaccardPairs(docs: DataFrame, n: Int = 5, maxDocFreq: Int = 100,
                   threshold: Double = 0.5): DataFrame =
    scoredShinglePairs(docs, n, maxDocFreq)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        col("jaccard"))

  /** One-sided overlap (containment = inter / min(|A|, |B|)) over the
    * same candidate set — the score that catches a short document
    * embedded verbatim in a long one (quotes, boilerplate inclusion),
    * where symmetric jaccard stays low because the union is dominated
    * by the long side. Shares the scored-candidate derivation with
    * jaccardPairs (one inverted-index build serves both). */
  def containmentPairs(docs: DataFrame, n: Int = 5, maxDocFreq: Int = 100,
                       threshold: Double = 0.6): DataFrame =
    scoredShinglePairs(docs, n, maxDocFreq)
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        col("containment"))

  /** All candidate pairs sharing >= 1 (non-hot) shingle, scored with
    * BOTH set-overlap measures (jaccard and containment) — the shared
    * parent of jaccardPairs/containmentPairs, memoized per session by
    * SparkEntry so the posting-list explosion runs once. */
  def scoredShinglePairs(docs: DataFrame, n: Int = 5,
                         maxDocFreq: Int = 100): DataFrame = {
    // Inverted index: at true corpus scale this index would be
    // materialized once as a table (it feeds both the sizes and the pairs
    // branch below); here it is recomputed per branch, which static
    // planning may or may not dedupe via ReuseExchange.
    // collect_set over the RAW shingle stream builds the per-shingle
    // posting set in ONE shuffle — the per-doc dedup rides the same
    // exchange instead of a separate distinct() over the full shingle
    // stream. The candidate pairs are then exploded from each (capped)
    // posting list in-task. Equivalent to the textbook shingle self-join
    // but with one exchange instead of three (the identical index subtree
    // below is deduplicated by Spark's ReuseExchange). The maxDocFreq cap
    // bounds the per-shingle pair fan-out (df^2) — the skew guard at scale.
    val index = charShinglesRaw(docs, n).groupBy(col("shingle"))
      .agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= maxDocFreq)
      .select(col("ids"))
    val sizes = index.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = index
      .select(explode(expr(
        "filter(flatten(transform(ids, a -> transform(ids, b -> struct(a AS doc_a, b AS doc_b)))), p -> p.doc_a < p.doc_b)"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // no broadcast hint on sizes: one row per doc, so at corpus scale AQE
    // must be free to pick shuffle-hash instead
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
  }
}
