package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Snapshots
import graft.operators._
import graft.functions.{AtScale, Dedup, Sketches, Similarity, TextAnalytics}
import graft.expressions.PolyHash
import graft.oracle.{OracleSql, OracleSqlExt}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator from SURVEY.md §2 expressed as a
  * DataFrame pipeline over the driver parquet tables (via the deterministic
  * snapshot fixtures in graft.sources.Snapshots); `oracleSql` carries the
  * byte-equivalent DuckDB SQL from graft.oracle.OracleSql.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: the reference's topics_df (its central
    * analytic table). Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    topicsDf(spark, "/root/testdata/sf0.001")

  /** Every shared derivation, one declaration each (the [[Derivation]]
    * scaladoc has the contract). Declaration order is the warmup's report
    * order, each derivation followed by those that build on it. */
  private[graft] val derivations = new Derivations(Snapshots.derivations)

  private val snapshotTables =
    Seq(Snapshots.watermarks, Snapshots.groupOffsets, Snapshots.groupsDim)

  /** topics_df feeds 7 downstream report queries. Read it (and groupsDf)
    * through the declaration: a frame rebuilt from the snapshot tables
    * does not match the plan the declaration cached under
    * ([[Storage.Persisted]]), so it never reads the warm cache. */
  private[graft] val topicsDf = derivations("topicsDf", snapshotTables,
    Storage.MemoryAndDisk, (s, dir) => TopicAnalytics.topicsDf(
      Snapshots.watermarks(s, dir), Snapshots.groupOffsets(s, dir),
      Snapshots.groupsDim(s, dir)))

  private[graft] val groupsDf = derivations("groupsDf", snapshotTables,
    Storage.MemoryAndDisk, (s, dir) => GroupAnalytics.groupsDf(
      GroupAnalytics.lagByScan(Snapshots.watermarks(s, dir), Snapshots.groupOffsets(s, dir)),
      Snapshots.groupsDim(s, dir)))

  /** The scored candidate-pair set (both overlap measures) feeds the
    * jaccard family AND q_containment_pairs — one posting-list
    * explosion per (session, dir). */
  private val scoredPairs = derivations("scoredPairs", Nil,
    Storage.MemoryAndDisk, (s, dir) => Dedup.scoredShinglePairs(docs(s, dir)))

  /** The 0.3-threshold jaccard pair set feeds three queries
    * (q_jaccard_pairs, q_dedup_clusters, q_dedup_corpus) — a filter
    * over the persisted scored set. */
  private def jaccardPairs03(s: SparkSession, dir: String): DataFrame =
    scoredPairs(s, dir).filter(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"),
        col("n_b"), col("jaccard"))

  /** The cluster assignment over that pair set feeds both q_dedup_clusters
    * and q_dedup_corpus — label propagation runs once per (session, dir). */
  private val dedupClusters = derivations("dedupClusters", Seq(scoredPairs),
    Storage.SelfManaged, (s, dir) => Dedup.dedupClusters(jaccardPairs03(s, dir)))

  /** The 0.4-threshold cosine pair set feeds q_cosine_neardups and
    * q_embedding_dedup. */
  private def cosinePairs04(s: SparkSession, dir: String): DataFrame =
    scoredBucketPairs(s, dir).filter(col("score") >= 0.4)

  /** The UNthresholded scored bucket-pair set additionally feeds
    * q_knn_join — the L LSH self-joins run once per (session, dir, bits).
    * Bucket width comes from the AtScale switchboard (default 4 bits = the
    * oracle-parity geometry; at scale bits must grow ~log2(corpus) to
    * keep bucket population — and with it candidate PRECISION — flat,
    * the r9 finding, NOTES.md "Round 9" item 10). The key carries the
    * RESOLVED width (r9 ADVICE: keying on (session, dir) alone served the
    * stale-geometry pair set after a mid-session
    * spark.graft.lsh.bitsPerTable change until invalidate). */
  private val scoredBucketPairs = derivations("scoredBucketPairs", Nil,
    Storage.MemoryAndDisk,
    (s, dir) => Similarity.scoredBucketPairs(emb(s, dir),
      bitsPerTable = AtScale.lshBits(emb(s, dir))),
    variant = (s, dir) => AtScale.lshBits(emb(s, dir)))

  /** The unthresholded minhash candidate set (band candidates + est)
    * feeds q_minhash_pairs AND q_minhash_calibration — signatures and
    * the banded self-join run once per (session, dir). */
  private val minhashCandidates = derivations("minhashCandidates", Nil,
    Storage.MemoryAndDisk,
    (s, dir) => Sketches.minHashPairs(docs(s, dir), threshold = 0.0))

  /** The corpus-to-date dedup index (exact hashes, signatures and band
    * rows over the first 80% of ids) — in production lake tables
    * appended per crawl; derived once here so q_incremental_dedup
    * measures the PROBE path, not an index rebuild. */
  private val IncrementalIndex = Warm.PartOf("incrementalIndex")

  private val incSplit = derivations("incSplit", Nil, Storage.Driver(),
    (s, dir) => IncrementalDedup.splitAt(docs(s, dir)), IncrementalIndex)

  private def incCorpus(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") <= incSplit(s, dir))

  private val incExactIndex = derivations("incExactIndex", Seq(incSplit),
    Storage.MemoryAndDisk,
    (s, dir) => IncrementalDedup.exactIndex(incCorpus(s, dir)), IncrementalIndex)

  private val incSigIndex = derivations("incSigIndex", Seq(incSplit),
    Storage.MemoryAndDisk,
    (s, dir) => IncrementalDedup.sigIndex(incCorpus(s, dir)), IncrementalIndex)

  private val incBandIndex = derivations("incBandIndex", Seq(incSigIndex),
    Storage.MemoryAndDisk, (s, dir) => IncrementalDedup.rankedIndex(
      IncrementalDedup.bandRows(incSigIndex(s, dir))), IncrementalIndex)

  private def incrementalStateOf(
      s: SparkSession, dir: String): (Long, DataFrame, DataFrame, DataFrame) =
    (incSplit(s, dir), incExactIndex(s, dir), incBandIndex(s, dir),
      incSigIndex(s, dir))

  /** The full-crawl admissions frame (every id above the 80% split
    * probed against the corpus index) — q_incremental_dedup's
    * result AND, by the equivalence contract, the from-scratch union
    * verdicts q_dedup_reconcile's offline side reads. One probe run per
    * (session, dir), shared by both queries. */
  private val incAdmissions = derivations("incAdmissions",
    Seq(incSplit, incExactIndex, incBandIndex, incSigIndex),
    Storage.MemoryAndDisk, (s, dir) => {
      val (split, ex, bi, si) = incrementalStateOf(s, dir)
      IncrementalDedup.admissions(
        docs(s, dir).filter(col("doc_id") > split), ex, bi, si)
    })

  /** The corpus-to-date n-gram-hash index — the lake's fourth table
    * ([[graft.operators.IncrementalDedup.ngramIndex]]), probed by
    * q_incremental_excision's span-level pass. DISK_ONLY, not the
    * MEMORY_AND_DISK of the other frames: this table is
    * TOKEN-proportional (every distinct corpus 5-gram hash), and
    * heap-caching corpus-proportional state is exactly what the r12
    * skinny-frame lesson forbids. */
  private val incNgramIndex = derivations("incNgramIndex", Seq(incSplit),
    Storage.DiskOnly, (s, dir) => IncrementalDedup.ngramIndex(incCorpus(s, dir)))

  /** The BM25 top-k list feeds q_bm25_topk AND the rrf fusion — derive
    * once per (session, dir): construction itself runs two bounded
    * driver jobs (query-term collect + the stats/df pass), and the
    * persisted result is queries x k rows. */
  private val bm25TopK = derivations("bm25TopK", Nil, Storage.MemoryAndDisk,
    (s, dir) => TextAnalytics.bm25TopK(docs(s, dir)))

  /** The dup-span family's shared (doc_id, s, e) run frame — derived
    * once per (session, dir) and persisted (skinny, dup-rate-bounded).
    * q_dup_spans, q_dup_excision, and q_excision_rollup all consumed
    * dupPositions independently until r11, where the triple recompute
    * made the rollup's x128 ladder step depend on ambient shuffle-reuse
    * (r11 verdict item 1). */
  private val dupRuns = derivations("dupRuns", Nil, Storage.MemoryAndDisk,
    (s, dir) => TextAnalytics.dupRunFrame(docs(s, dir)))

  /** The packed per-doc SPAN frame — shared by q_dup_excision and
    * q_excision_rollup, which each re-apply the row-local kernel over
    * one corpus scan. The shared boundary is deliberately the SKINNY
    * frame, not the cleaned-text result: caching corpus-sized text
    * taxed the whole x128 bench rung's 8 GiB heap (r12 measurement —
    * reproduced first_lower inflations on unrelated queries), and at
    * 100 TB caching corpus text is wrong outright. */
  private val excisionSpans = derivations("excisionSpans", Seq(dupRuns),
    Storage.MemoryAndDisk,
    (s, dir) => TextAnalytics.exciseSpanFrame(dupRuns(s, dir), 5L))

  /** The boilerplate-strip packed span frame over the templated corpus
    * — shared by q_boilerplate_strip and q_boilerplate_rollup (the same
    * skinny-frame contract as [[excisionSpans]]). */
  private val boilerSpans = derivations("boilerSpans", Nil,
    Storage.MemoryAndDisk, (s, dir) => TextAnalytics.exciseSpanFrame(
      TextAnalytics.boilerRunFrame(templatedDocs(s, dir)), 3L))

  /** The deflated power-iteration direction stack feeds three queries
    * (2 x 64 doubles of driver state). Component 1 of the stack IS
    * topDirection (deflation only affects later components). */
  private val pcaDirections = derivations("pcaDirections", Nil, Storage.Driver(),
    (s, dir) => functions.Pca.topDirections(emb(s, dir), nComponents = 2))

  /** IVF centroids feed q_knn_ivf and q_embedding_clusters (16 x 64
    * doubles of driver state). */
  private val ivfCentroids = derivations("ivfCentroids", Nil, Storage.Driver(),
    (s, dir) => functions.Ivf.trainCentroids(emb(s, dir)))

  /** The dedup/prune index (q_semdedup, q_proto_prune) trains with the
    * ADAPTIVE cluster count (Ivf.adaptiveK — cluster size held ~125) so
    * within-cluster pairwise work scales linearly with the corpus; the
    * ANN index above keeps its fixed 16-cluster geometry. At <= 2000
    * vectors both are k=16, so this reuses the ANN centroids and
    * training runs once. */
  private val dedupIvfCentroids = derivations("dedupIvfCentroids",
    Seq(ivfCentroids), Storage.Driver(), (s, dir) => {
      val k = functions.Ivf.adaptiveK(emb(s, dir).count())
      if (k == 16) ivfCentroids(s, dir)
      else functions.Ivf.trainCentroids(emb(s, dir), k)
    })

  /** The fitted BPE merge list feeds q_bpe_merges AND q_bpe_encode
    * (nMerges tiny rows of driver state). */
  private val bpeMerges = derivations("bpeMerges", Nil, Storage.Driver(),
    (s, dir) => TextAnalytics.fitBpeMerges(docs(s, dir)))

  /** The PQ training subvectors both codebook trainers read every Lloyd
    * round; held until invalidate, so neither trainer releases the other's
    * input. */
  private val pqTraining = derivations("pqTraining", Nil, Storage.MemoryAndDisk,
    (s, dir) => functions.Pq.trainingSubvectors(emb(s, dir)), Warm.Inner)

  /** The shared PQ codebook (q_knn_pq) — 16 x 8 doubles of driver state. */
  private val pqCodebook = derivations("pqCodebook", Seq(pqTraining),
    Storage.Driver(), (s, dir) => functions.Pq.fitCodebook(pqTraining(s, dir)))

  private val pqSubCodebooks = derivations("pqSubCodebooks", Seq(pqTraining),
    Storage.Driver(), (s, dir) => functions.Pq.fitCodebooks(pqTraining(s, dir)))

  /** The OPQ config (q_ann_recall): the variance-balanced dimension
    * permutation plus per-subspace codebooks trained in the permuted
    * basis — 64 ints + 128 x 8 doubles of driver state. */
  private val opqPermutation = derivations("opqPermutation", Nil,
    Storage.Driver(), (s, dir) => functions.Pq.trainPermutation(emb(s, dir)),
    Warm.Inner)

  private val opqTraining = derivations("opqTraining", Seq(opqPermutation),
    Storage.MemoryAndDisk, (s, dir) => functions.Pq.trainingSubvectors(
      functions.Pq.permute(emb(s, dir), opqPermutation(s, dir))), Warm.Inner)

  private val opqCodebooks = derivations("opqCodebooks", Seq(opqTraining),
    Storage.Driver(), (s, dir) => functions.Pq.fitCodebooks(opqTraining(s, dir)))

  /** A corpus dir's dirty-fixture table when the generator materialized
    * one, else the query-time derivation (r12 verdict item 6): the
    * scale-ladder corpora carry `documents_pii.parquet` /
    * `documents_templated.parquet` written by BenchAtScale, so every
    * committed bench/ladder number reads the dirty text COLD from a
    * fixture column. The driver's testdata dirs are READ-ONLY — no
    * fixture can land there — so the correctness gate keeps the
    * derive-at-query-time form, whose expressions live exactly once in
    * [[graft.functions.FixtureCorpora]] and whose DuckDB mirror the
    * oracle carries. */
  private def fixtureOr(s: SparkSession, dir: String, table: String)
                       (derive: DataFrame => DataFrame): DataFrame = {
    val f = new java.io.File(s"$dir/$table.parquet")
    // the fixture read is gated on the corpus dir's _SUCCESS completion
    // marker (r13 ADVICE 2), not bare file existence: ladder_refresh
    // writes the marker only AFTER BenchAtScale finishes, so a stale or
    // partially-written fixture dir from an interrupted manual run is
    // never silently preferred over the correct derivation. The
    // driver's read-only testdata dirs carry no marker (and no fixture
    // tables), so the correctness gate keeps the derivation unchanged.
    val complete = new java.io.File(dir, "_SUCCESS").exists()
    if (complete && f.exists())
      functions.ScanWiden.widen(s, f.getPath, s.read.parquet(f.getPath))
    else derive(docs(s, dir))
  }

  /** The deterministically templated corpus (header on doc_id%2, footer
    * on %3 — per-source df ~50%/~33% clears the 25% boilerplate floor
    * while organic trigrams stay far below it) shared by the
    * boilerplate detect report and the strip family. */
  private def templatedDocs(s: SparkSession, dir: String): DataFrame =
    fixtureOr(s, dir, functions.FixtureCorpora.TemplatedTable)(
      functions.FixtureCorpora.templated)

  /** The deterministically PII-dirtied corpus (emails on doc_id%3,
    * phones on %5, dotted quads on %7) shared by the PII audit and its
    * redaction apply half. */
  private def piiDirtyDocs(s: SparkSession, dir: String): DataFrame =
    fixtureOr(s, dir, functions.FixtureCorpora.PiiTable)(
      functions.FixtureCorpora.piiDirty)

  /** Releases everything derived for (session, dir): drops that key of
    * every declaration (any variant) and unpersists its persisted frames
    * synchronously, so a LONG-LIVED service looping over snapshot dirs
    * (the GraftApp cadence) does not accumulate dead cached blocks (r8
    * verdict item 2). Driver state is just dropped; a `SelfManaged`
    * frame's blocks are released by the ContextCleaner once the dropped
    * reference is collected. Other sessions' frames stay cached: each
    * build persists under a plan of its own ([[Storage.Persisted]]), so
    * no two keys share a cache-manager entry. Safe to call while other
    * keys build; a re-query after invalidate rebuilds. */
  def invalidate(s: SparkSession, dir: String): Unit =
    derivations.invalidate(s, dir)

  /** Every persisted frame held for (session, dir), in declaration order
    * — the cache-lifecycle specs' storage-level probe. */
  private[graft] def cachedFrames(s: SparkSession, dir: String): Seq[DataFrame] =
    derivations.cachedFrames(s, dir)

  /** All keys held for a session across every dir and declaration — the
    * soak spec's zero-net-growth probe for the service loop (r9 verdict
    * item 4). */
  private[graft] def memoKeyCount(s: SparkSession): Int =
    derivations.keyCount(s)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_topics_stats" -> ((s, dir) =>
      topicsDf(s, dir).orderBy(col("name"))),
    "q_groups_stats" -> ((s, dir) =>
      groupsDf(s, dir).orderBy(col("name"))),
    "q_lag_partition" -> ((s, dir) =>
      GroupAnalytics.lagRows(Snapshots.watermarks(s, dir), Snapshots.groupOffsets(s, dir))
        .orderBy(col("grp"), col("topic"), col("partition_id"))),
    "q_lag_topic" -> ((s, dir) =>
      GroupAnalytics.groupTopicLag(GroupAnalytics.lagByScan(Snapshots.watermarks(s, dir),
        Snapshots.groupOffsets(s, dir))).orderBy(col("grp"), col("topic"))),
    // per-group lag distribution (one hot partition hides in a total)
    "q_lag_percentiles" -> ((s, dir) =>
      GroupAnalytics.lagPercentiles(Snapshots.watermarks(s, dir),
        Snapshots.groupOffsets(s, dir)).orderBy(col("grp"))),
    // lag regressed over the scan history (exact-integer least squares)
    "q_lag_trend" -> ((s, dir) =>
      GroupAnalytics.lagTrend(GroupAnalytics.lagByScan(Snapshots.watermarks(s, dir),
        Snapshots.groupOffsets(s, dir))).orderBy(col("grp"), col("topic"))),
    "q_waste_summary" -> ((s, dir) =>
      TopicAnalytics.wasteSummary(topicsDf(s, dir)).orderBy(col("category"))),
    "q_waste_detail" -> ((s, dir) =>
      TopicAnalytics.wasteDetail(topicsDf(s, dir)).orderBy(col("category"), col("name"))),
    "q_most_active" -> ((s, dir) =>
      TopicAnalytics.mostActive(topicsDf(s, dir)).orderBy(col("name"))),
    "q_cluster_totals" -> ((s, dir) =>
      TopicAnalytics.clusterTotals(Snapshots.watermarks(s, dir), Snapshots.groupsDim(s, dir))),
    "q_topic_flags" -> ((s, dir) =>
      TopicAnalytics.topicFlags(topicsDf(s, dir)).orderBy(col("name"))),
    "q_governance_topics" -> ((s, dir) =>
      Governance.governed(topicsDf(s, dir)).orderBy(col("name"))),
    "q_governance_summary" -> ((s, dir) =>
      Governance.summary(topicsDf(s, dir))),
    "q_governance_noncompliant" -> ((s, dir) =>
      Governance.nonCompliant(topicsDf(s, dir)).orderBy(col("name"))),
    "q_governance_groups" -> ((s, dir) =>
      Governance.governed(groupsDf(s, dir),
        compliant = Governance.DefaultGroupCompliant,
        excluded = Governance.DefaultGroupExcluded).orderBy(col("name"))),
    "q_sr_unused" -> ((s, dir) =>
      SchemaRegistryOps.unusedSubjects(Snapshots.srSubjects(s, dir),
        latestWm(s, dir)).orderBy(col("subject"))),
    "q_sr_counts" -> ((s, dir) =>
      SchemaRegistryOps.counts(Snapshots.srSubjects(s, dir), latestWm(s, dir))),
    "q_topic_churn" -> ((s, dir) =>
      ChangeFeed.topicChurn(Snapshots.watermarks(s, dir))
        .orderBy(col("s"), col("change"), col("topic"))),
    "q_sr_backup_index" -> ((s, dir) =>
      SchemaRegistryOps.backupIndex(Snapshots.srSubjects(s, dir))
        .orderBy(col("file_name"))),
    // the assembled report, flattened to its scalar fields so the DuckDB
    // oracle can hash-check the whole document end-to-end (the nested
    // JSON shape itself is contract-tested byte-exactly in ReportSpec)
    "q_cluster_report" -> ((s, dir) => {
      val rpt = report.ClusterReporting.clusterReport(Snapshots.Cluster, topicsDf(s, dir),
        groupsDf(s, dir), Snapshots.srSubjects(s, dir),
        latestWm(s, dir),
        java.time.Instant.ofEpochSecond(Snapshots.Epoch0 + Snapshots.Step * Snapshots.NumScans))
      val c = col("cluster")
      rpt.select(
        c.getField("cluster_name").as("cluster_name"),
        c.getField("metadata").getField("timestamp").as("report_ts"),
        c.getField("statistics").getField("topics").as("topics"),
        c.getField("statistics").getField("partitions").as("partitions"),
        c.getField("statistics").getField("consumer_groups").getField("total").as("cg_total"),
        c.getField("statistics").getField("consumer_groups").getField("active").as("cg_active"),
        c.getField("statistics").getField("consumer_groups").getField("inactive").as("cg_inactive"),
        size(c.getField("statistics").getField("most_active_topics")).cast("long")
          .as("most_active_count"),
        c.getField("estimated_waste").getField("topics").as("waste_topics"),
        c.getField("estimated_waste").getField("partitions").as("waste_partitions"),
        c.getField("estimated_waste").getField("topic_categories")
          .getItem("no_messages").getField("topics_count").as("empty_topics"),
        c.getField("estimated_waste").getField("topic_categories")
          .getItem("no_messages").getField("cluster_percentage").as("empty_pct"),
        c.getField("estimated_waste").getField("topic_categories")
          .getItem("no_active_cg_no_messages_topics_with_multiple_partitions")
          .getField("topics_count").as("dead_weight_topics"),
        c.getField("estimated_waste").getField("topic_categories")
          .getItem("no_cgs_and_no_new_messages").getField("topics_count").as("stale_topics"),
        c.getField("governance").getField("topic_naming_convention")
          .getField("total").as("t_gov_total"),
        c.getField("governance").getField("topic_naming_convention")
          .getField("total_ignored").as("t_gov_ignored"),
        c.getField("governance").getField("topic_naming_convention")
          .getField("total_measured").as("t_gov_measured"),
        c.getField("governance").getField("topic_naming_convention")
          .getField("compliant_percentage").as("t_gov_pct"),
        c.getField("governance").getField("consumer_group_naming_convention")
          .getField("compliant_percentage").as("g_gov_pct"),
        c.getField("schema_registry").getField("subjects_count").as("subjects_count"),
        c.getField("schema_registry").getField("schemas_count").as("schemas_count"),
        c.getField("schema_registry").getField("schemas_estimates")
          .getField("detected_unused_count").as("detected_unused_count"))
    }),
    "q_partition_deltas" -> ((s, dir) =>
      Deltas.partitionDeltas(Snapshots.watermarks(s, dir))
        .orderBy(col("topic"), col("partition_id"), col("scan_ts"))),
    "q_baseline_deltas" -> ((s, dir) =>
      Deltas.baselineDeltas(Snapshots.watermarks(s, dir))
        .orderBy(col("topic"), col("partition_id"), col("scan_ts"))),
    "q_log_start" -> ((s, dir) =>
      Deltas.logStart(Snapshots.watermarks(s, dir))
        .orderBy(col("topic"), col("partition_id"))),
    "q_topic_configs" -> ((s, dir) =>
      ConfigOps.nonDefaultConfigs(Snapshots.topicConfigs(s, dir))
        .orderBy(col("topic"), col("key"))),
    "q_dr_commands" -> ((s, dir) =>
      ConfigOps.drCommands(Snapshots.watermarks(s, dir), Snapshots.topicConfigs(s, dir))
        .orderBy(col("topic"))),
    "q_describe_stats" -> ((s, dir) =>
      TopicAnalytics.describeStats(topicsDf(s, dir)).orderBy(col("column"))),

    // --- text analysis / dedup / similarity (LLM training-data ops) ---
    "q_doc_length_histogram" -> ((s, dir) =>
      TextAnalytics.lengthHistogram(docs(s, dir)).orderBy(col("bucket"))),
    "q_doc_stats" -> ((s, dir) =>
      TextAnalytics.docStats(docs(s, dir)).orderBy(col("doc_id"))),
    "q_token_freq" -> ((s, dir) =>
      TextAnalytics.tokenFrequency(docs(s, dir))),
    "q_token_counts" -> ((s, dir) =>
      TextAnalytics.tokenCounts(docs(s, dir)).orderBy(col("doc_id"))),
    "q_quality" -> ((s, dir) =>
      TextAnalytics.qualityScores(docs(s, dir)).orderBy(col("doc_id"))),
    // trained quality filter: closed-form exact-integer ridge probe,
    // clean corpus vs degraded twins (CCNet/DCLM mechanism) — one
    // training aggregation pass + row-local scoring, per-source report
    "q_quality_probe" -> ((s, dir) =>
      TextAnalytics.qualityProbe(docs(s, dir)).orderBy(col("source"))),
    // distributed BPE tokenizer fitting (Sennrich et al. 2016): one
    // corpus pass for the word-freq vocabulary, merge rounds run on the
    // vocabulary-sized table only (fit memoized — shared with the
    // encoding pass below)
    "q_bpe_merges" -> ((s, dir) =>
      TextAnalytics.bpeMergesDf(s, bpeMerges(s, dir))),
    // BPE ENCODING with the fitted merges: per-source token counts and
    // compression — corpus work is one word-count pass; the merge
    // replaces run on the vocabulary-sized table
    // tokenizer fertility audit per (lang, source) over the same fitted
    // merges — subword splits per word vs the language baseline (r9
    // verdict item 6b; see TextAnalytics.bpeFertility)
    "q_bpe_fertility" -> ((s, dir) =>
      TextAnalytics.bpeFertility(docs(s, dir), bpeMerges(s, dir))
        .orderBy(col("lang"), col("source"))),
    // URL-level dedup verdicts over the synthetic fixture URLs — the
    // FineWeb-style metadata dedup stage (functions/WebCuration.scala)
    "q_url_dedup" -> ((s, dir) =>
      functions.WebCuration.urlDedup(
          functions.WebCuration.withSyntheticUrls(docs(s, dir)))
        .orderBy(col("doc_id"))),
    // per-domain curation rollup: volume, dedup pressure, order-free
    // quality statistics
    "q_domain_rollup" -> ((s, dir) =>
      functions.WebCuration.domainRollup(
          functions.WebCuration.withSyntheticUrls(docs(s, dir)))
        .orderBy(col("domain"))),
    "q_bpe_encode" -> ((s, dir) =>
      TextAnalytics.bpeEncode(docs(s, dir), bpeMerges(s, dir))
        .orderBy(col("source"))),
    "q_langid" -> ((s, dir) =>
      TextAnalytics.languageId(docs(s, dir)).orderBy(col("doc_id"))),
    "q_langid_confusion" -> ((s, dir) =>
      TextAnalytics.languageIdConfusion(docs(s, dir))
        .orderBy(col("lang"), col("predicted_lang"))),
    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        PolyHash.polyhash(col("text")).as("fingerprint")).orderBy(col("doc_id"))),
    "q_dedup_exact_docs" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir), col("text"), col("doc_id"))
        .orderBy(col("content_hash"))),
    "q_dedup_records" -> ((s, dir) =>
      Dedup.recordGroups(Snapshots.eventsRaw(s, dir), Seq("user_id", "event_type"),
        col("event_id")).orderBy(col("user_id"), col("event_type"))),
    "q_cross_source_dups" -> ((s, dir) =>
      Dedup.crossSourceDups(docs(s, dir), jaccardPairs03(s, dir))
        .orderBy(col("source_a"), col("source_b"))),
    "q_winnow_pairs" -> ((s, dir) =>
      functions.Dedup.winnowPairs(docs(s, dir))
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_jaccard_pairs" -> ((s, dir) =>
      jaccardPairs03(s, dir)
        .orderBy(col("doc_a"), col("doc_b"))),
    // one-sided overlap over the same scored candidate set: catches a
    // short doc embedded in a long one, which symmetric jaccard misses
    "q_containment_pairs" -> ((s, dir) =>
      scoredPairs(s, dir).filter(col("containment") >= 0.6)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"),
          col("n_b"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_dedup_clusters" -> ((s, dir) =>
      dedupClusters(s, dir)
        .orderBy(col("doc_id"))),
    "q_cluster_sizes" -> ((s, dir) =>
      dedupClusters(s, dir)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("members"))
        .groupBy(col("members")).agg(count(lit(1)).as("clusters"))
        .orderBy(col("members"))),
    // per-source redundancy rollup over the shared cluster assignment
    "q_dedup_rate_by_source" -> ((s, dir) =>
      Dedup.dedupRateBySource(docs(s, dir), dedupClusters(s, dir))
        .orderBy(col("source"))),
    "q_dedup_corpus" -> ((s, dir) =>
      Dedup.dropClusterDuplicates(docs(s, dir), dedupClusters(s, dir))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),
    // SOFT dedup: per-doc 1/cluster_size training weight over the same
    // shared cluster assignment — down-weight, don't drop
    "q_dedup_weights" -> ((s, dir) =>
      Dedup.softDedupWeights(docs(s, dir), dedupClusters(s, dir))
        .orderBy(col("doc_id"))),
    // quality-aware keeper policy over the same shared assignment: each
    // cluster keeps its best-quality member, not the min id
    "q_cluster_keep_best" -> ((s, dir) =>
      Dedup.keepBestByQuality(docs(s, dir), dedupClusters(s, dir))
        .orderBy(col("doc_id"))),
    "q_minhash_pairs" -> ((s, dir) =>
      minhashCandidates(s, dir).filter(col("est_jaccard") >= 0.3)
        .orderBy(col("doc_a"), col("doc_b"))),
    // cross-crawl incremental dedup: the last 20% of ids ("today's
    // crawl") admitted against the persisted-index view of the first
    // 80% ("corpus to date") — the INDEX is memoized like a lake table
    // but the admissions probe runs fresh here, so the measured cost
    // (bench + ladder exponent) IS the probe path, not a cached read
    // (r8 ADVICE: the memoized frame warmup materializes for
    // q_dedup_reconcile's offline side had silently turned this query
    // into a cache scan). The oracle runs the FROM-SCRATCH union dedup
    // (equivalence is the gate).
    "q_incremental_dedup" -> ((s, dir) => {
      val (split, ex, bi, si) = incrementalStateOf(s, dir)
      IncrementalDedup.admissions(
          docs(s, dir).filter(col("doc_id") > split), ex, bi, si)
        .orderBy(col("doc_id"))
    }),
    // the per-document ARRIVAL gate over the same frozen index — the
    // online (corpus-vs-doc-only) admission shape whose streaming twin
    // is streaming/AdmissionStream.gateStream; per-doc verdicts equal
    // admissions(singleton crawl) (AdmissionStreamSpec), and the oracle
    // runs the gate semantics from scratch
    "q_admission_gate" -> ((s, dir) => {
      val (split, ex, bi, si) = incrementalStateOf(s, dir)
      val probe = graft.streaming.AdmissionStream.probeTable(bi, si)
      graft.streaming.AdmissionStream.gateBatch(
          docs(s, dir).filter(col("doc_id") > split), ex, probe)
        .orderBy(col("doc_id"))
    }),
    // weekly offline reconciliation of the incremental admissions: the
    // window (80%, 90%] was admitted online against the 80% index
    // (probe path, memoized like a lake table); the offline side reads
    // the shared full-crawl admissions frame — by the equivalence
    // contract, the from-scratch union verdicts — so rows with
    // retro_dropped are admitted docs a later crawl bridged into a
    // smaller keeper's component, which online ingest provably cannot
    // un-admit (IncrementalDedupSpec pins both halves; the oracle runs
    // the literal two-horizon from-scratch diff)
    "q_dedup_reconcile" -> ((s, dir) => {
      val (split1, ex, bi, si) = incrementalStateOf(s, dir)
      val d = docs(s, dir)
      val split2 = d.agg(max(col("doc_id"))).first().getLong(0) * 9 / 10
      val online = IncrementalDedup.admissions(
        d.filter(col("doc_id") > split1 && col("doc_id") <= split2),
        ex, bi, si)
      IncrementalDedup.reconcile(d, split1, split2, online = Some(online),
          offline = Some(incAdmissions(s, dir)))
        .orderBy(col("doc_id"))
    }),
    // span-level excision against the cross-crawl index (r12 verdict
    // item 5): the admission gate admits/rejects WHOLE documents; real
    // pipelines additionally excise the spans of ADMITTED docs that
    // duplicate prior crawls (the ExactSubstr apply run corpus-to-date,
    // Lee et al. 2022). The probe side is the lake's fourth index table
    // (distinct corpus n-gram hashes, memoized DISK_ONLY like a lake
    // read); the per-run work is one shuffle of the admitted docs'
    // positional n-gram stream against it, islands, and the row-local
    // ExciseSpans kernel — the dupRunFrame seam composed with the
    // incremental index, corpus text never re-read. The oracle runs the
    // literal from-scratch union pipeline for the admission verdicts
    // plus the positional anti-join rebuild of cleaned_text.
    "q_incremental_excision" -> ((s, dir) => {
      val split = incSplit(s, dir)
      val admitted = docs(s, dir).filter(col("doc_id") > split)
        .join(incAdmissions(s, dir).filter(col("outcome") === "admitted")
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
      TextAnalytics.exciseAgainstIndex(admitted, incNgramIndex(s, dir))
        .orderBy(col("doc_id"))
    }),
    // estimator calibration: minhash est vs the TRUE full-shingle
    // jaccard per estimate bucket — truth comes from row-local distinct
    // shingle-hash arrays intersected per candidate pair (NOT the
    // df-capped scored-pair set, whose hot-shingle cap would conflate
    // cap bias with estimator error), so every candidate gets a truth
    // value and the error stats measure the estimator alone
    "q_minhash_calibration" -> ((s, dir) => {
      // sorted at creation (n log n PER DOC) so the per-PAIR truth
      // intersect below is an allocation-free two-pointer merge
      // (expressions.SortedIntersectCount) instead of a hash-set +
      // materialized array per pair; sort_array changes neither the
      // distinct set nor its size, so true_j is bit-identical
      val hs = docs(s, dir).select(col("doc_id"),
        sort_array(array_distinct(Dedup.shingleHashes(col("text")))).as("hs"))
      // at-scale affordance (r10 verdict item 4): the truth join is the
      // corpus-dup-proportional cost — with sampleMod m the curve is
      // estimated on the deterministic 1/m pair slice (parity default 1)
      val allCands = minhashCandidates(s, dir)
      val sampleM = AtScale.calibrationSampleMod(allCands)
      val cands =
        if (sampleM > 1)
          allCands.filter(pmod(hash(col("doc_a"), col("doc_b")),
            lit(sampleM)) === 0)
        else allCands
      val est = cands
        .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
        .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
        .withColumn("inter", graft.expressions.IntersectCount
          .sorted_intersect_count(col("hs_a"), col("hs_b")))
        .withColumn("true_j", col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      // p50 through the AtScale switchboard: per-bucket value buffering
      // over the candidate-PAIR set is the one place group cardinality
      // grows superlinearly with corpus size — exact `percentile` here
      // was the last bypass outside the switchboard (r6 verdict item 3).
      est.groupBy(floor(col("est_jaccard") * 8).cast("long").as("bucket"))
        .agg(count(lit(1)).as("pairs"),
          AtScale.quantile(est, abs(col("est_jaccard") - col("true_j")), 0.5)
            .as("p50_abs_err"),
          max(abs(col("est_jaccard") - col("true_j"))).as("max_abs_err"))
        .orderBy(col("bucket"))
    }),
    // radius 4 -> 5 bands of ~13-bit keys: recall 1.0 within the radius
    // (SketchSpec) with selective buckets; radius 10 would need 11 bands
    // of ~6-bit keys whose fan-out grows quadratically per bucket.
    // hybrid dedup verification: text MinHash candidates cross-checked
    // by embedding cosine (both families' shared derivations reused)
    "q_hybrid_dedup" -> ((s, dir) =>
      Similarity.hybridVerify(minhashCandidates(s, dir), emb(s, dir))
        .orderBy(col("doc_a"), col("doc_b"))),
    // length-routed (minTokens): short docs' tie-biased fingerprints
    // made the matched-row mass quadratic in the short-doc population
    // (the r6 ladder exception); they stay covered by the exact/minhash
    // families. The oracle mirrors the same token floor.
    "q_simhash_pairs" -> ((s, dir) =>
      Sketches.simHashPairs(docs(s, dir), maxHamming = 4,
          minTokens = Sketches.SimHashMinTokens)
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_knn_exact" -> ((s, dir) =>
      Similarity.knnExact(emb(s, dir)).orderBy(col("query_id"), col("rank"))),
    "q_knn_lsh" -> ((s, dir) =>
      Similarity.knnLsh(emb(s, dir)).orderBy(col("query_id"), col("rank"))),
    "q_knn_lsh_multiprobe" -> ((s, dir) =>
      Similarity.knnLshMultiProbe(emb(s, dir))
        .orderBy(col("query_id"), col("rank"))),
    // ANN recall vs exact truth on the fixed benchmark query slice —
    // the report that picks probe counts (and code budgets) before an
    // index ships; LSH, multi-probe, pooled PQ/ADC, and per-subspace
    // PQ/ADC side by side (the pooled-vs-per-subspace delta IS the
    // codebook config decision). At scale the AtScale sampleMod conf
    // swaps the full-corpus exact-truth ground set for a deterministic
    // sample (default 1 = exact, the oracle-parity mode).
    "q_ann_recall" -> ((s, dir) =>
      Similarity.annRecall(emb(s, dir), pqCodebook(s, dir),
          pqSubCodebooks(s, dir),
          opqCodebooks(s, dir), opqPermutation(s, dir),
          sampleMod = AtScale.annSampleMod(emb(s, dir)))
        .orderBy(col("query_id"))),
    // iterative float pipeline made oracle-checkable via the integer-
    // grid trick (see functions/Pca.scala)
    "q_pca_component" -> ((s, dir) =>
      functions.Pca.componentRows(emb(s, dir), pcaDirections(s, dir).head)
        .orderBy(col("dim"))),
    "q_pca_projection" -> ((s, dir) =>
      functions.Pca.projectionByLabelFrom(emb(s, dir), pcaDirections(s, dir).head)
        .orderBy(col("label"))),
    "q_pca_deflation" -> ((s, dir) =>
      functions.Pca.componentStack(emb(s, dir), pcaDirections(s, dir))
        .orderBy(col("component"), col("dim"))),
    "q_knn_ivf" -> ((s, dir) =>
      functions.Ivf.knnIvfWith(emb(s, dir), ivfCentroids(s, dir))
        .orderBy(col("query_id"), col("rank"))),
    // PQ/ADC: the memory-compression ANN flavor — corpus as 8 codes per
    // vector, grid-exact asymmetric-distance ranking (functions/Pq)
    "q_knn_pq" -> ((s, dir) =>
      functions.Pq.knnPqWith(emb(s, dir), pqCodebook(s, dir))
        .orderBy(col("query_id"), col("rank"))),
    // PQ + exact re-rank: ADC nominates 50 candidates, only those rows
    // touch raw vectors — candidate-mass exact work, corpus-mass codes
    "q_knn_pq_rerank" -> ((s, dir) =>
      functions.Pq.knnPqRerank(emb(s, dir), pqCodebook(s, dir))
        .orderBy(col("query_id"), col("rank"))),
    "q_embedding_clusters" -> ((s, dir) =>
      functions.Ivf.clusterSummary(emb(s, dir), ivfCentroids(s, dir))
        .orderBy(col("cid"))),
    // SemDeDup (cluster-scoped semantic dedup): pairwise cosine ONLY
    // within each shared-IVF cluster; keeper = least-prototypical member
    "q_semdedup" -> ((s, dir) =>
      functions.Ivf.semDedup(emb(s, dir), dedupIvfCentroids(s, dir))
        .orderBy(col("vec_id"))),
    // prototypicality pruning (Sorscher et al. 2022): each cluster drops
    // its 20% most prototypical members — complements q_semdedup
    // centroid-based silhouette: cluster-quality report over the shared
    // dedup/prune index (row-local top-two kernel, one cid aggregation)
    "q_silhouette" -> ((s, dir) =>
      functions.Ivf.silhouette(emb(s, dir), dedupIvfCentroids(s, dir))
        .orderBy(col("cid"))),
    "q_proto_prune" -> ((s, dir) =>
      functions.Ivf.prototypicalityPrune(emb(s, dir), dedupIvfCentroids(s, dir))
        .orderBy(col("vec_id"))),
    // Gopher-style rule battery over a deterministically degraded corpus
    // (%4 appends symbol runs, %9 appends single-char runs — every rule
    // actually fires); per-source pass counts + combined-gate rate
    "q_gopher_rules" -> ((s, dir) => {
      val degraded = docs(s, dir).select(col("doc_id"), col("source"), concat(
        col("text"),
        when(col("doc_id") % 4 === 0, concat_ws("", array_repeat(lit(" #"), 12)))
          .otherwise(lit("")),
        when(col("doc_id") % 9 === 0, concat_ws("", array_repeat(lit(" a"), 60)))
          .otherwise(lit(""))).as("text"))
      TextAnalytics.gopherRules(degraded).orderBy(col("source"))
    }),
    // per-label centroid drift between the corpus and a deterministically
    // derived v2 (13 drops a vector, 17 reverses one, 19 adds a copy —
    // the q_corpus_diff convention lifted to embedding space)
    "q_centroid_drift" -> ((s, dir) => {
      val e = emb(s, dir)
      val v2 = e.filter(col("vec_id") % 13 =!= 0)
        .select(col("vec_id"),
          when(col("vec_id") % 17 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"), col("label"))
        .unionByName(e.filter(col("vec_id") % 19 === 0)
          .select((col("vec_id") + lit(10000000L)).as("vec_id"),
            col("embedding"), col("label")))
      Similarity.centroidDrift(e, v2).orderBy(col("label"))
    }),
    "q_cosine_neardups" -> ((s, dir) =>
      cosinePairs04(s, dir).orderBy(col("vec_a"), col("vec_b"))),
    // full k-NN join (top-k for EVERY vector) over the shared pair set
    "q_knn_join" -> ((s, dir) =>
      Similarity.knnJoinFrom(scoredBucketPairs(s, dir))
        .orderBy(col("vec_id"), col("rank"))),

    "q_quality_by_source" -> ((s, dir) =>
      TextAnalytics.qualityBySource(docs(s, dir)).orderBy(col("source"))),
    "q_quality_deciles" -> ((s, dir) =>
      TextAnalytics.qualityDeciles(docs(s, dir))
        .orderBy(col("source"), col("decile"))),
    // the checkable at-scale percentile path: fixed-histogram estimate
    // vs the exact median, with the resolution error reported
    "q_histogram_quantile" -> ((s, dir) =>
      TextAnalytics.histogramQuantile(docs(s, dir)).orderBy(col("source"))),
    "q_token_budget" -> ((s, dir) =>
      TextAnalytics.tokenBudget(docs(s, dir)).orderBy(col("lang"))),
    "q_mixture" -> ((s, dir) =>
      TextAnalytics.mixtureSummary(docs(s, dir)).orderBy(col("lang"))),
    "q_contamination" -> ((s, dir) =>
      TextAnalytics.contamination(docs(s, dir)).orderBy(col("doc_id"))),
    // benchmark-keyed variant: bench suite = doc_id % 97 == 0 (bounded by
    // contract -> the broadcast plan is correct here, unlike the
    // corpus-proportional split that q_contamination bloom-prefilters)
    "q_contamination_bench" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalytics.contaminationAgainst(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("bench_id"), col("text")))
        .orderBy(col("bench_id"))
    }),
    // the APPLY half of that audit: drop every training doc sharing an
    // 8-gram with the bench suite, report per-source removal mass
    "q_decontam_rollup" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalytics.decontaminateReport(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0))
        .orderBy(col("source"))
    }),
    // the text-cleaning pipeline under the oracle gate: the corpus is
    // deterministically dirtied (tags + an email + a phone per doc) so
    // every scrub stage actually fires, then the impact report must
    // hash-match DuckDB running the same RE2-safe regex chain
    "q_text_cleaning" -> ((s, dir) => {
      val dirty = docs(s, dir).select(col("doc_id"),
        concat(lit("<b>title</b> "), col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1 (555) 123-4567 now")).as("text"))
      functions.TextCleaning.cleaningReport(dirty).orderBy(col("doc_id"))
    }),
    // per-source PII exposure audit over a deterministically dirtied
    // corpus (emails on doc_id%3, phones on %5, dotted quads on %7 —
    // modular classes spread across sources, so counts vary per source)
    "q_pii_scan" -> ((s, dir) =>
      functions.TextCleaning.piiReport(
        piiDirtyDocs(s, dir).select(col("source"), col("text")))
        .orderBy(col("source"))),
    // PII redaction APPLY half over the same dirtied corpus —
    // redacted_text value-hashed per doc, original-text match counts
    // riding along (the audit->apply closure, as excision is for
    // q_dup_spans and strip for q_source_boilerplate)
    "q_pii_redact" -> ((s, dir) =>
      functions.TextCleaning.piiRedact(piiDirtyDocs(s, dir))
        .orderBy(col("doc_id"))),
    // crawl-over-crawl diff: v2 derives deterministically from the
    // fixture (13 drops a doc, 17 edits one, 19 adds a copy)
    "q_corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val v2 = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text")))
      TextAnalytics.corpusDiff(d, v2).orderBy(col("status"))
    }),
    "q_chunk_dedup" -> ((s, dir) =>
      TextAnalytics.chunkDedup(docs(s, dir)).orderBy(col("doc_id"))),
    "q_quality_filter" -> ((s, dir) =>
      TextAnalytics.qualitySourceFilter(docs(s, dir)).orderBy(col("source"))),
    // the full pipeline composition: quality gate -> exact dedup ->
    // near-dup drop (shared cluster assignment) -> train split, with
    // per-stage survival from ONE aggregation
    "q_curation_funnel" -> ((s, dir) =>
      TextAnalytics.curationFunnel(docs(s, dir), dedupClusters(s, dir))
        .orderBy(col("stage"))),
    "q_mixture_temperature" -> ((s, dir) =>
      TextAnalytics.temperatureMixture(docs(s, dir)).orderBy(col("lang"))),
    "q_shards" -> ((s, dir) =>
      TextAnalytics.shardReport(docs(s, dir)).orderBy(col("shard"))),
    // head-to-tail packing into fixed 2048-token training sequences,
    // windowed WITHIN each hash shard (never a global sort)
    "q_pack_sequences" -> ((s, dir) =>
      TextAnalytics.packSequences(docs(s, dir)).orderBy(col("shard"))),
    "q_eval_sample" -> ((s, dir) =>
      TextAnalytics.evalSample(docs(s, dir)).orderBy(col("lang"), col("rnk"))),
    "q_embedding_dedup" -> ((s, dir) =>
      Similarity.embeddingDedupClustersFrom(cosinePairs04(s, dir))
        .orderBy(col("vec_id"))),
    "q_repetition" -> ((s, dir) =>
      TextAnalytics.repetitionStats(docs(s, dir)).orderBy(col("doc_id"))),
    // rational perplexity surrogate (see rarityScores scaladoc) — per-doc
    // mean smoothed inverse unigram probability, integer-grid order-free
    "q_rarity" -> ((s, dir) =>
      TextAnalytics.rarityScores(docs(s, dir)).orderBy(col("doc_id"))),
    "q_source_divergence" -> ((s, dir) =>
      TextAnalytics.sourceDivergence(docs(s, dir)).orderBy(col("source"))),
    "q_dup_ngram_coverage" -> ((s, dir) =>
      TextAnalytics.dupNgramCoverage(docs(s, dir)).orderBy(col("doc_id"))),
    // ExactSubstr-style maximal duplicated-run extraction: longest
    // cross-document duplicated token span per doc (gaps-and-islands
    // over positional n-gram hashes)
    "q_dup_spans" -> ((s, dir) =>
      TextAnalytics.dupSpansFrom(docs(s, dir), dupRuns(s, dir))
        .orderBy(col("doc_id"))),
    // the APPLY half (r10 verdict item 1): duplicated runs excised into
    // a cleaned_text column — value-hashed by the driver, so the exact
    // span-boundary semantics are in the oracle gate — plus per-doc
    // token/byte savings and the per-source savings rollup. All three
    // dup-span queries read the memoized run frame, and the two apply
    // queries share the memoized per-doc excision frame (r11 verdict
    // item 1: the rollup's marginal cost is its aggregation only).
    "q_dup_excision" -> ((s, dir) =>
      TextAnalytics.applyExcision(docs(s, dir), excisionSpans(s, dir))
        .orderBy(col("doc_id"))),
    "q_excision_rollup" -> ((s, dir) =>
      TextAnalytics.excisionRollupOf(TextAnalytics.applyExcision(
          docs(s, dir), excisionSpans(s, dir), Seq("source")))
        .orderBy(col("source"))),
    // boilerplate-strip APPLY half (r11 verdict item 4): the per-source
    // template n-grams q_source_boilerplate detects, excised from the
    // same templated corpus — cleaned_text value-hashed per doc, plus
    // the per-source savings rollup over the shared memoized span frame
    "q_boilerplate_strip" -> ((s, dir) =>
      TextAnalytics.applyExcision(templatedDocs(s, dir), boilerSpans(s, dir))
        .orderBy(col("doc_id"))),
    "q_boilerplate_rollup" -> ((s, dir) =>
      TextAnalytics.excisionRollupOf(TextAnalytics.applyExcision(
          templatedDocs(s, dir), boilerSpans(s, dir), Seq("source")))
        .orderBy(col("source"))),
    "q_tfidf_terms" -> ((s, dir) =>
      TextAnalytics.tfidfTerms(docs(s, dir)).orderBy(col("lang"), col("rnk"))),
    // lexical ranked retrieval next to the embedding ANN family:
    // rational-idf BM25 over the fixed low-doc_id query slice
    "q_bm25_topk" -> ((s, dir) =>
      bm25TopK(s, dir).orderBy(col("query_id"), col("rank"))),
    // the PARAMETERIZED slice (r8 verdict item 3): same operator, an
    // explicit non-prefix query table (doc_id % 17 = 3 below 200 — a
    // fixed-size benchmark set past sf0.01) passed as the argument
    "q_bm25_queryset" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalytics.bm25TopKFor(d,
          d.filter(col("doc_id") % 17 === 3 && col("doc_id") < 200)
            .select(col("doc_id").as("query_id"), col("text")))
        .orderBy(col("query_id"), col("rank"))
    }),
    // hybrid retrieval: reciprocal-rank fusion of the lexical (BM25)
    // and vector (multi-probe LSH) arms over the shared doc/vec ids
    "q_rrf_fusion" -> ((s, dir) =>
      Similarity.rrfFuse(bm25TopK(s, dir),
          Similarity.knnLshMultiProbe(emb(s, dir)))
        .orderBy(col("query_id"), col("rank"))),
    // which feeds are near-copies of each other: union-minhash per
    // source (elementwise min of per-doc signatures), S^2/2 comparison
    // over source-cardinality rows only
    "q_source_similarity" -> ((s, dir) =>
      functions.Sketches.sourceSimilarity(docs(s, dir))
        .orderBy(col("source_a"), col("source_b"))),
    // fuzzy eval-set leakage: bench suite = doc_id % 97 == 0 docs with
    // ONE token replaced (position doc_id % n_tokens -> "xq"), so exact
    // 8-gram screening misses near the edit while banded-minhash
    // candidates + levenshtein verification still flag the source doc
    "q_fuzzy_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = split(col("text"), " ")
      val idx = (col("doc_id") % size(toks)).cast("int")
      // the benchmark suite is FIXED-SIZE by contract (first 100 bench
      // ids) — a real deployment pins a benchmark set; without the cap
      // the fixture's bench side grows with the corpus and the bands
      // broadcast stops being bounded (x20 ladder: 77s -> the cap makes
      // the fuzzy tier corpus-linear). orderBy+limit plans as
      // TakeOrdered — per-partition top-N, no global sort.
      val bench = d.filter(col("doc_id") % 97 === 0)
        .orderBy(col("doc_id")).limit(100)
        .select(col("doc_id").as("bench_id"),
          array_join(transform(toks,
            (t, i) => when(i === idx, lit("xq")).otherwise(t)), " ").as("text"))
      TextAnalytics.fuzzyContaminationAgainst(d, bench).orderBy(col("bench_id"))
    }),
    // CCNet-style template screen over a deterministically templated
    // corpus (header on doc_id%2, footer on %3 -> per-source df ~50%/~33%
    // clears the 25% floor while organic trigrams stay far below it)
    "q_source_boilerplate" -> ((s, dir) =>
      TextAnalytics.sourceBoilerplate(
        templatedDocs(s, dir).select(col("source"), col("text")))
        .orderBy(col("source"))),
    // crawl-over-crawl length-distribution drift (exact two-sample KS
    // per lang) between the corpus and the q_corpus_diff-style derived
    // v2 (13 drops, 17 edits +3 chars, 19 re-adds a copy)
    "q_length_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      val v1 = d.select(col("lang"),
        length(col("text")).cast("long").as("n_chars"))
      val v2 = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("lang"),
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") % 19 === 0)
          .select(col("lang"), col("text")))
        .select(col("lang"), length(col("text")).cast("long").as("n_chars"))
      TextAnalytics.lengthDrift(v1, v2).orderBy(col("lang"))
    }),
    "q_embedding_stats" -> ((s, dir) =>
      Similarity.embeddingStats(emb(s, dir)).orderBy(col("label"))),
    "q_top_tokens_per_lang" -> ((s, dir) =>
      TextAnalytics.topTokensPerLang(docs(s, dir))
        .orderBy(col("lang"), col("rnk"))),
    // one-row corpus data card: volume, provenance breadth, exact-dup
    // mass, split sizes, grid-exact mean quality — three pruned
    // single-pass aggregations cross-joined as one-row broadcasts
    "q_corpus_report" -> ((s, dir) =>
      TextAnalytics.corpusReport(docs(s, dir))),
    "q_split_summary" -> ((s, dir) =>
      TextAnalytics.splitSummary(docs(s, dir)).orderBy(col("lang"), col("split"))),
    "q_quantize_report" -> ((s, dir) =>
      Similarity.quantizationReport(emb(s, dir)).orderBy(col("vec_id"))),
    // per-modality payload size profile (drives binary-lake partition
    // and decode-batch sizing; payloads never shuffle)
    "q_multimodal_sizes" -> ((s, dir) =>
      functions.Multimodal.sizeStats(
        functions.Multimodal.assetsFrom(docs(s, dir))).orderBy(col("kind"))),
    "q_multimodal_features" -> ((s, dir) =>
      functions.Multimodal.featureStats(
        functions.Multimodal.decodeFeatures(
          functions.Multimodal.assetsFrom(docs(s, dir))))
        .orderBy(col("kind"), col("pos"))),

    // fixed-memory frequency sketches: CMS heavy hitters with the
    // exact-vs-estimate error report, and linear-counting distincts
    "q_heavy_hitters" -> ((s, dir) =>
      functions.CountSketch.cmsHeavyHitters(docs(s, dir)).orderBy(col("rnk"))),
    "q_distinct_sketch" -> ((s, dir) =>
      functions.CountSketch.distinctSketch(docs(s, dir)).orderBy(col("lang"))),
    // HyperLogLog distinct estimate (integer-grid harmonic sum — see
    // CountSketch.hllDistinct) with the exact-vs-estimate error report
    "q_hll_distinct" -> ((s, dir) =>
      functions.CountSketch.hllDistinct(docs(s, dir)).orderBy(col("lang"))),
    // interpolated-bigram LM rarity (the bigram perplexity surrogate —
    // see TextAnalytics.bigramRarity)
    "q_bigram_rarity" -> ((s, dir) =>
      TextAnalytics.bigramRarity(docs(s, dir)).orderBy(col("doc_id"))),
    // CCNet head/middle/tail perplexity buckets per language (Wenzek
    // et al. 2020) over the bigram-LM surrogate — see
    // TextAnalytics.perplexityBuckets
    "q_perplexity_buckets" -> ((s, dir) =>
      TextAnalytics.perplexityBuckets(docs(s, dir)).orderBy(col("doc_id"))),
    // DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    // features, target(lang=en)/raw smoothed bucket-likelihood ratios as
    // the parity-safe surrogate for the log importance weight,
    // deterministic top-quartile selection — see TextAnalytics.dsirScored
    // bucket count behind the AtScale switchboard (r9 verdict item 5:
    // default 1024 = the oracle-parity grid; spark.graft.dsir.buckets
    // raises it toward the paper's 2^13 — collision sensitivity
    // measured in NOTES.md)
    "q_dsir_weights" -> ((s, dir) =>
      TextAnalytics.dsirWeights(docs(s, dir),
        buckets = AtScale.dsirBuckets(docs(s, dir))).orderBy(col("doc_id"))),
    // the resampling effect on the corpus mixture, per source
    "q_dsir_mixture" -> ((s, dir) =>
      TextAnalytics.dsirMixture(docs(s, dir),
        buckets = AtScale.dsirBuckets(docs(s, dir))).orderBy(col("source"))),

    // --- relational / event-time breadth ---
    // as-of join (union + running-last window, one shuffle — see
    // operators/AsofJoin.scala; oracle = DuckDB's native ASOF JOIN, an
    // independent implementation of the same semantics)
    "q_asof_clicks" -> ((s, dir) =>
      Relational.purchaseClickAsof(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("purchase_id"))),
    // point-in-interval range join via bucket replication (see
    // operators/RangeJoin.scala; oracle = DuckDB's IEJoin inequality join)
    "q_order_velocity" -> ((s, dir) =>
      Relational.orderVelocity(tbl(s, dir, "orders")).orderBy(col("o_orderkey"))),
    // z-order (Morton) cell bounding boxes — the file-skipping statistics
    // a 2-D-clustered layout exposes (sources/ZOrderLayout + ZOrderSpec)
    "q_zorder_cells" -> ((s, dir) =>
      Relational.zorderCells(tbl(s, dir, "orders")).orderBy(col("cell"))),
    "q_order_gaps" -> ((s, dir) =>
      Relational.orderGaps(tbl(s, dir, "orders")).orderBy(col("o_custkey"))),
    "q_small_qty_revenue" -> ((s, dir) =>
      Relational.smallQuantityRevenue(tbl(s, dir, "lineitem"), tbl(s, dir, "part"))
        .orderBy(col("p_brand"))),
    "q_pricing_summary" -> ((s, dir) =>
      Relational.pricingSummary(tbl(s, dir, "lineitem"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    "q_revenue_by_nation" -> ((s, dir) =>
      Relational.revenueByNation(tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
        tbl(s, dir, "customer"), tbl(s, dir, "nation")).orderBy(col("n_name"))),
    "q_top_customers" -> ((s, dir) =>
      Relational.topCustomers(tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
        tbl(s, dir, "customer"))),
    "q_revenue_rollup" -> ((s, dir) =>
      Relational.revenueRollup(tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
        tbl(s, dir, "customer"), tbl(s, dir, "nation"))
        .orderBy(col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)),
    "q_top_suppliers" -> ((s, dir) =>
      Relational.topSuppliersPerNation(tbl(s, dir, "lineitem"),
        tbl(s, dir, "supplier"), tbl(s, dir, "nation"))
        .orderBy(col("n_name"), col("rnk"))),
    "q_order_priority" -> ((s, dir) =>
      Relational.orderPriorityCheck(tbl(s, dir, "lineitem"), tbl(s, dir, "orders"))
        .orderBy(col("o_orderpriority"))),
    // key-skew diagnostic: decides whether a user-keyed join needs
    // salting; top-N side plans as map-side WindowGroupLimit
    "q_key_skew" -> ((s, dir) =>
      Relational.keySkew(Snapshots.eventsRaw(s, dir))
        .orderBy(col("event_type"))),
    // semi-structured extraction: JSON props parsed inside the scan
    "q_props_extract" -> ((s, dir) =>
      Relational.propsExtract(Snapshots.eventsRaw(s, dir))
        .orderBy(col("event_type"))),
    "q_events_minute" -> ((s, dir) =>
      Relational.eventsMinuteRollup(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("event_type"), col("minute"))),
    "q_funnel" -> ((s, dir) =>
      Relational.signupPurchaseFunnel(Relational.eventsWithEpoch(s, dir))),
    // native sliding windows (each event in exactly 2 aligned windows)
    "q_sliding_windows" -> ((s, dir) =>
      Relational.slidingEventCounts(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("event_type"), col("w_start"))),
    // native session_window: merge-on-overlap event-time sessions
    "q_session_windows" -> ((s, dir) =>
      Relational.sessionWindows(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("user_id"), col("s_start"))),
    "q_sessionize" -> ((s, dir) =>
      Relational.sessionize(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("user_id"))),
    // salted-join cohort revenue: the oracle runs the PLAIN join, so the
    // hash gate doubles as the salting equivalence proof
    "q_cohort_revenue" -> ((s, dir) =>
      Relational.cohortRevenue(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("cohort_day"))),
    // trailing-window z-score anomalies (exact integer sums, IEEE sqrt)
    "q_event_anomalies" -> ((s, dir) =>
      Relational.eventAnomalies(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("event_type"), col("minute"))),
    // day-cohort retention matrix (distinct user-days first; the window
    // runs over day-level rows, never raw events)
    "q_retention_cohorts" -> ((s, dir) =>
      Relational.retentionCohorts(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("cohort_day"), col("day_offset"))),
    // first-order event-type transition matrix (one user_id window
    // shuffle, |types|^2-bounded output)
    "q_event_transitions" -> ((s, dir) =>
      Relational.eventTransitions(Relational.eventsWithEpoch(s, dir))
        .orderBy(col("prev_type"), col("event_type"))),

    // --- sampling / linkage breadth ---
    // ed<=1 record-linkage self-join via FastSS deletion neighborhoods:
    // exact, linear candidates, alphabet-bounded buckets (operators/Linkage)
    // customer widened here (not at tbl): THIS consumer's per-row work
    // — deletion-neighborhood generation per name — is text-kernel
    // heavy, exactly the ScanWiden case (measured −0.5 s consistent);
    // the relational customer consumers keep the native scan
    "q_editdist_pairs" -> ((s, dir) =>
      Linkage.editDistancePairs(
        functions.ScanWiden.widen(s, s"$dir/customer.parquet",
          tbl(s, dir, "customer")),
        "c_custkey", "c_name", "c_nationkey")
        .orderBy(col("id1"), col("id2"))),
    // deterministic hash-threshold stratified sample report (row-local
    // predicate fused into the scan; reproducible + id-consistent)
    "q_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir)).orderBy(col("source"))),
    // deterministic half-sample replication CI on per-source mean length
    // (exact integer replicate sums; percentile over 64 replicate means)
    "q_bootstrap_ci" -> ((s, dir) =>
      Sampling.bootstrapCi(docs(s, dir)).orderBy(col("source"))),
    // consistent JOIN sampling: both sides sampled by the same key hash,
    // so a sampled customer keeps ALL their orders (unbiased per-entity
    // ratios on the slice; independent sampling would keep rate^2)
    "q_consistent_sample" -> ((s, dir) =>
      Sampling.consistentJoinSample(tbl(s, dir, "customer"),
        tbl(s, dir, "orders")).orderBy(col("c_mktsegment"))))

  private def latestWm(s: SparkSession, dir: String): DataFrame =
    Snapshots.watermarks(s, dir).filter(col("s") === Snapshots.NumScans)

  /** The (wall, cpu) maps of [[warmupProfile]]. */
  def warmupAttributed(s: SparkSession, dir: String)
      : (Seq[(String, Double)], Seq[(String, Double)]) = {
    val p = warmupProfile(s, dir)
    (p.wall, p.cpu)
  }

  /** Per-derivation warmup cost, seconds, in the canonical derivation
    * order: `wall` is each derivation's start→finish wall time, `cpu` the
    * executor CPU time (`executorCpuTime`) and `run` the executor task
    * run time (`executorRunTime`), both summed over its completed stages. */
  final case class WarmupProfile(wall: Seq[(String, Double)],
                                 cpu: Seq[(String, Double)],
                                 run: Seq[(String, Double)])

  /** The warmup pool's size: one thread per session core, 1 to 8. Most
    * derivations run a few small jobs with an idle driver between them,
    * so on a few cores independent derivations overlap; 8 bounds the
    * derivations in flight on a large host. */
  private[graft] def warmupThreads(s: SparkSession): Int =
    math.max(1, math.min(8, s.sparkContext.defaultParallelism))

  /** Materializes every memoized shared derivation (snapshot tables,
    * topics/groups analytic tables, the jaccard pair set + clusters) and
    * attributes the cost to each. Bench calls this ONCE before its timed
    * passes and reports the cost as an explicit warmup line, so per-query
    * numbers measure the query — not whichever alphabetically-first
    * query happened to touch a shared cache cold. Production equivalent:
    * the collector materializes the snapshot lake before analysts query
    * it.
    *
    * Per-derivation EXECUTOR-TIME attribution (protocol 5):
    * under the concurrent pool a derivation's wall time includes
    * whatever its pool neighbors were running (the r14 x128 artifact
    * recorded excisionSpans at 6.2x its x64 wall for 2x data — a
    * scheduling accident, not growth), so the scale-growth guard needs
    * a contention-free per-part measure. Executor CPU time
    * (executorCpuTime summed over the derivation's completed stages,
    * attributed via the thread-local job description) measures work
    * actually done for the derivation regardless of what ran beside it.
    * Task run time (executorRunTime) is task wall time: a task thread
    * the OS has descheduled, or one blocked on a lock or I/O, still
    * accrues it, so it comes back as the separate `run` map. Wall
    * timings stay — they are the makespan attribution humans read. */
  def warmupProfile(s: SparkSession, dir: String): WarmupProfile = {
    // per-derivation timing, returned to the caller AND echoed to
    // stderr: the warmup is the one aggregate cost in the bench line,
    // so its composition must stay observable (the x10 scale run showed
    // 306 s of warmup — this attributes it). Bench, which calls this
    // function, publishes the map in the sidecar's "warmup" object (r9
    // verdict item 2) so warmup regressions diff the same way query
    // regressions do.
    //
    // Everything here comes from the declarations ([[Derivations.tasks]]):
    // one task per derivation, except that the incremental index's four
    // parts share one task and the raw snapshot tables and the OPQ
    // permutation build inside their first dependent's task. Each task
    // waits for the tasks that build what it reads, so a task's jobs and
    // wall time are its own work. The edges serve that attribution
    // only: a build runs once per key by construction, whatever races
    // it.
    //
    // CONCURRENT since r14 (optimization guide §2.6 — overlap
    // independent jobs so the tail of one derivation's stages back-fills
    // executors the next would leave idle): the derivations are mostly
    // independent Spark jobs, none of which alone fills the session's
    // cores (half are driver-side training loops that leave the cluster
    // idle between tiny jobs). Submission is deps-first, and tasks that
    // others wait for go first (r14 verdict item 8: the chains gate the
    // makespan), so the short driver-state trainers back-fill the tail.
    // Wall times overlap under concurrency, so sum(parts) >= warmup_sec
    // is expected (measurement protocol 3).
    val timings =
      new java.util.concurrent.ConcurrentHashMap[String, Double]()
    // per-derivation executor-time attribution: the context's listener
    // charges each completed stage to its job's description, which each
    // derivation sets to "warmup <run>: <name>" on its own pool thread
    val listener = tools.ProfListener.on(s.sparkContext)
    val label = tools.ProfListener.runLabel("warmup")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmupThreads(s))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val tasks = derivations.tasks
    val waitedFor = tasks.flatMap(_.after).toSet
    val submitted = tasks.sortBy(t => !waitedFor(t.name))
      .foldLeft(Map.empty[String, Future[Unit]]) { (started, t) =>
        started + (t.name -> Future.sequence(t.after.map(started)).map { _ =>
          // job descriptions are thread-local — each concurrent
          // derivation labels its own jobs (guide §1.5/§2.6)
          s.sparkContext.setJobDescription(s"$label: ${t.name}")
          val t0 = System.nanoTime()
          t.parts.foreach(_.materialize(s, dir))
          val sec = (System.nanoTime() - t0) / 1e9
          timings.put(t.name, sec)
          System.err.println(f"[warmup] ${t.name}: $sec%.2fs")
        })
      }
    try Await.result(Future.sequence(submitted.values), Duration.Inf)
    finally {
      pool.shutdown()
      s.sparkContext.setJobDescription(null)
    }
    listener.settle()
    // report order, independent of submission or completion order — the
    // sidecar's warmup object stays diffable across runs and rounds
    val order = tasks.map(_.name)
    WarmupProfile(order.map(n => n -> timings.get(n)),
      order.map(n => n -> listener.of(s"$label: $n").cpuNs / 1e9),
      order.map(n => n -> listener.of(s"$label: $n").runMs / 1000.0))
  }

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")
  // the documents read goes through the scale-adaptive scan widener: the
  // fixture file is single-row-group parquet whose scan plans ONE task,
  // serializing the text battery's heavy fused compute on one core
  // (functions.ScanWiden scaladoc has the measurements and the policy:
  // text-compute tables only — the relational/event tables' light
  // partial-agg-before-exchange scans measured NEUTRAL-to-WORSE under a
  // pre-aggregation full-row exchange, §2.3); no-op at real scale
  private def docs(s: SparkSession, dir: String): DataFrame =
    functions.ScanWiden.widen(s, s"$dir/documents.parquet",
      tbl(s, dir, "documents"))
  private def emb(s: SparkSession, dir: String): DataFrame = tbl(s, dir, "embeddings")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = OracleSql.queries ++ OracleSqlExt.queries
}
