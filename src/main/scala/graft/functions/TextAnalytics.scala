package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for an LLM training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All of these are row-local (no shuffle except the explicit global
  * aggregations), codegen-friendly column expressions — at 100 TB they run
  * as a single map stage over the corpus scan with full predicate/column
  * pushdown.
  */
object TextAnalytics {

  /** Whitespace tokens. The corpus is single-space separated; `split` on
    * one space keeps Spark and DuckDB (string_split) semantics aligned. */
  def tokens(text: Column): Column = split(text, " ")

  /** Stopword list used by quality scoring / language ID. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Per-document token statistics.
    * avg_token_len uses the algebraic identity
    * total_token_chars = length(text) - (n_tokens - 1)
    * (single-space separation), which both engines compute identically. */
  def docStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      col("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_unique_tokens"),
      ((length(col("text")) - (size(toks) - lit(1))).cast("double") / size(toks))
        .as("avg_token_len"))
  }

  /** BPE-ish tokenization regex: letter runs, digit runs, and single
    * non-alphanumeric marks — the standard pre-tokenizer shape, written to
    * behave identically under Java regex and RE2 (DuckDB). */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Per-document token counting: whitespace tokens vs BPE-ish regex
    * tokens + the chars-per-token compression signal LLM pipelines use for
    * budgeting. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0))).cast("long")
        .as("bpeish_tokens"),
      (length(col("text")).cast("double") /
        size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0))))
        .as("chars_per_token"))

  /** Deterministic content-hash split of a text column — ROW-LOCAL, so
    * pipelines that already hold the document never join for it. First
    * md5 byte: 00-f5 train (~96%), f6-fa val (~2%), fb-ff test (~2%). */
  def splitCol(text: Column): Column = {
    val h2 = substring(md5(text), 1, 2)
    when(h2 < "f6", "train").when(h2 < "fb", "val").otherwise("test")
  }

  /** Deterministic content-hash split assignment — the standard way a
    * training pipeline carves reproducible train/val/test sets: the split
    * follows the document CONTENT (stable under re-ingestion, dedup-safe),
    * not row position or RNG. */
  def splitAssignment(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitCol(col("text")).as("split"))

  /** Split sizes per language — the sanity report a pipeline runs before
    * training. Split computed inline (row-local), no self-join. */
  def splitSummary(docs: DataFrame): DataFrame =
    docs.withColumn("split", splitCol(col("text")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))

  /** Token n-grams as strings, empty below n tokens (sequence() would
    * throw on a negative span). */
  def tokenNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Benchmark decontamination: for every test-split document, how many
    * of its distinct token n-grams also occur anywhere in the train
    * split. The gate a training pipeline runs before trusting eval
    * numbers.
    *
    * Plan at 100 TB: the test split is ~2% of the corpus BY CONSTRUCTION
    * (splitAssignment), so broadcasting its exploded n-grams would grow
    * with the corpus — a forced hint that dies at scale. Instead the
    * train side streams map-side against a FIXED-SIZE (1 MiB) Bloom
    * filter of the test n-grams, and only the surviving ~fpp + true-hit
    * fraction is shuffled into the exact (false-positive-removing) join.
    * No broadcast input grows with `documents` cardinality: the filter
    * is constant-size, and the survivors join carries no hint — AQE
    * picks broadcast only when the test side measures small. */
  def contaminationWith(docs: DataFrame, splits: DataFrame, n: Int = 8): DataFrame =
    contaminationImpl(docs.join(splits, "doc_id"), n)

  /** N-grams travel as their 60-bit kernel hashes
    * ([[graft.expressions.NgramHashes]]) — the Bloom probe, the
    * survivors join, and the distinct all key on 8 bytes instead of
    * ~80-byte 8-gram strings, and no n-gram string is ever built.
    * The oracle hashes its string n-grams with the same constants, so
    * collisions (if any) merge identically on both engines. */
  private def contaminationImpl(withSplit: DataFrame, n: Int): DataFrame = {
    val ngrams = graft.expressions.NgramHashes.ngram_hashes(col("text"), n)
    val testNg = withSplit.filter(col("split") === "test")
      .select(col("doc_id"), explode(ngrams).as("ngh"))
    val trainNg = withSplit.filter(col("split") === "train")
      .select(explode(ngrams).as("ngh"))
    val survivors = BloomPrefilter.build(testNg, "ngh") match {
      case Some(bf) => trainNg.filter(BloomPrefilter.mightContain(bf, col("ngh")))
      case None     => trainNg.filter(lit(false)) // no test docs -> no hits
    }
    val hits = survivors.join(testNg, "ngh")
      .select(col("doc_id"), col("ngh")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("contaminated"))
    testNg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("contaminated"))
      .select(col("doc_id"), col("n_ngrams"), col("contaminated"),
        (col("contaminated").cast("double") / col("n_ngrams"))
          .as("contamination_frac"))
      .withColumn("flagged", col("contamination_frac") > 0.2)
  }

  /** Decontamination against the content-hash split assignment. The
    * split is a row-local function of the text, so it is computed INLINE
    * on the corpus scan — no splits self-join (the generic
    * contaminationWith pays one for caller-supplied assignments). */
  def contamination(docs: DataFrame, n: Int = 8): DataFrame =
    contaminationImpl(docs.withColumn("split", splitCol(col("text"))), n)

  /** Decontamination against an EXPLICIT bounded benchmark table
    * (bench_id, text) — the contract under which a broadcast of the
    * benchmark's n-grams IS the right plan: benchmarks are fixed suites
    * (thousands of documents), so the broadcast side is bounded by
    * construction, unlike the corpus-proportional test split that
    * `contamination` handles with a Bloom prefilter. The corpus streams
    * map-side against the broadcast hash; the only shuffle carries the
    * matched (bench doc, ngram) pairs. */
  def contaminationAgainst(docs: DataFrame, benchmark: DataFrame,
                           n: Int = 8): DataFrame = {
    val ngrams = graft.expressions.NgramHashes.ngram_hashes(col("text"), n)
    val benchNg = benchmark.select(col("bench_id"), explode(ngrams).as("ngh"))
    val corpusNg = docs.select(explode(ngrams).as("ngh"))
    val hits = corpusNg.join(broadcast(benchNg), "ngh")
      .select(col("bench_id"), col("ngh")).distinct()
      .groupBy(col("bench_id")).agg(count(lit(1)).as("contaminated"))
    benchNg.groupBy(col("bench_id")).agg(count(lit(1)).as("n_ngrams"))
      .join(hits, Seq("bench_id"), "left")
      .na.fill(0L, Seq("contaminated"))
      .select(col("bench_id"), col("n_ngrams"), col("contaminated"),
        (col("contaminated").cast("double") / col("n_ngrams"))
          .as("contamination_frac"))
      .withColumn("flagged", col("contamination_frac") > 0.2)
  }

  /** Benchmark decontamination APPLY half (the removal every training
    * pipeline runs after the [[contaminationAgainst]] audit — the GPT-3
    * appendix-C / Llama convention: a training document sharing ANY
    * n-gram with the eval suite is dropped outright): per-source
    * removal rollup — docs/tokens before, dropped docs/tokens, dropped
    * fraction — the view that says which feeds are bleeding eval data.
    *
    * Shape at 100 TB: callers may pass ANY (doc-slice) frame as the
    * benchmark — including corpus-proportional ones like the
    * q_decontam_rollup fixture slice — so nothing here may force a
    * broadcast (the r8 lesson: a corpus-proportional build side must
    * never be a broadcast candidate). The corpus n-gram stream is
    * prefiltered map-side against a FIXED-SIZE Bloom filter of the
    * benchmark's n-grams (the contaminationImpl pattern), only
    * survivors reach the exact hint-free join (AQE broadcasts it only
    * when the bench side measures small), and the flagged-doc table
    * that joins back is contamination-rate-proportional —
    * corpus-proportional worst case, so it is pinned SHUFFLE_HASH. */
  def decontaminateReport(docs: DataFrame, benchmark: DataFrame,
                          n: Int = 8): DataFrame = {
    val ngrams = graft.expressions.NgramHashes.ngram_hashes(col("text"), n)
    val benchNg = benchmark.select(explode(ngrams).as("ngh")).distinct()
    val corpusNg = docs.select(col("doc_id"), explode(ngrams).as("ngh"))
    val survivors = BloomPrefilter.build(benchNg, "ngh") match {
      case Some(bf) => corpusNg.filter(BloomPrefilter.mightContain(bf, col("ngh")))
      case None     => corpusNg.filter(lit(false)) // empty bench -> no drops
    }
    val flagged = survivors.join(benchNg, "ngh")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(true))
    docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(flagged.hint("shuffle_hash"), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("dropped_docs"),
        sum(when(col("hit"), col("n_tokens")).otherwise(0L)).as("dropped_tokens"))
      .withColumn("dropped_frac",
        col("dropped_docs").cast("double") / col("docs"))
  }

  /** Fuzzy benchmark decontamination: catches eval-set leakage that
    * exact n-gram matching misses because the leaked copy was lightly
    * edited (tokenizer artifacts, punctuation normalization, a word
    * swapped). Candidates come from the banded-MinHash equi-join between
    * the corpus and the benchmark (reference: the reference's exact
    * n-gram screen, kafka-overwatch has no fuzzy tier — this is the
    * LLM-pipeline extension), then each candidate pair is VERIFIED with
    * exact levenshtein distance, flagged when the distance is within
    * `maxDistFrac` of the longer text.
    *
    * Shape at 100 TB: the benchmark is a fixed suite (bounded by
    * contract, the contaminationAgainst convention), so its band rows
    * broadcast and the corpus probes them MAP-SIDE — the corpus never
    * shuffles for candidate generation; band collision (>= 4 agreeing
    * signature positions) is the prefilter that keeps the quadratic
    * levenshtein kernel off all but near-duplicate pairs. The only
    * shuffled rows are the candidate id pairs (distinct-ed WITHOUT their
    * texts) and the output-sized text fetch for verification. */
  def fuzzyContaminationAgainst(docs: DataFrame, benchmark: DataFrame,
                                n: Int = 5,
                                maxDistFrac: Double = 0.1): DataFrame = {
    val corpusBands = Sketches.bandsOf(
      Sketches.minHashSignatures(docs.select(col("doc_id"), col("text")), n))
      .select(col("doc_id"), col("band"), col("band_key"))
    val benchBands = Sketches.bandsOf(
      Sketches.minHashSignatures(
        benchmark.select(col("bench_id").as("doc_id"), col("text")), n))
      .select(col("doc_id").as("bench_id"), col("band"), col("band_key"))
    val cand = corpusBands
      .join(broadcast(benchBands), Seq("band", "band_key"))
      .select(col("doc_id"), col("bench_id")).distinct()
    val verified = cand
      .join(docs.select(col("doc_id"), col("text").as("corpus_text")), "doc_id")
      .join(broadcast(benchmark.select(col("bench_id"),
        col("text").as("bench_text"))), "bench_id")
      .select(col("bench_id"), col("doc_id"),
        levenshtein(col("corpus_text"), col("bench_text")).as("dist"),
        greatest(length(col("corpus_text")), length(col("bench_text")))
          .as("max_len"))
    val perBench = verified.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("candidates"),
        sum(when(col("dist") <= col("max_len") * maxDistFrac, 1L)
          .otherwise(0L)).as("matches"),
        min(col("dist")).as("min_dist"))
    benchmark.select(col("bench_id"))
      .join(perBench, Seq("bench_id"), "left")
      .na.fill(0L, Seq("candidates", "matches"))
      .select(col("bench_id"), col("candidates"), col("matches"),
        col("min_dist").cast("long").as("min_dist"),
        (col("matches") > 0).as("flagged"))
  }

  /** Chunk-level exact dedup ("deduplicating training data" style, at
    * the non-overlapping W-token-window granularity that catches copied
    * passages inside otherwise-distinct documents): per document, the
    * number of chunks whose exact text occurs elsewhere in the corpus.
    *
    * Shape at 100 TB: chunking is a row-local transform fused into the
    * scan; the frequency count is one hash aggregation keyed by chunk
    * text (map-side partial combine collapses within-partition repeats)
    * and the join back is on the same key — two shuffles total, no row
    * ever carries more than one chunk. */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 32): DataFrame = {
    val toks = tokens(col("text"))
    val chunks = docs.select(col("doc_id"),
      explode(transform(
        sequence(lit(0), expr(s"(size(split(text, ' ')) - 1) div $chunkTokens")),
        i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")))
        .as("chunk"))
    val freq = chunks.groupBy(col("chunk")).agg(count(lit(1)).as("occ"))
    chunks.join(freq, "chunk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("dup_chunks"),
        (col("dup_chunks").cast("double") / col("n_chunks"))
          .as("dup_chunk_frac"))
  }

  /** Per-source quality floor: compute each source's q-quantile of the
    * quality score (exact percentile — order-free) and report how much
    * of the source survives a keep-if-at-or-above-threshold cut. The
    * curation step between scoring (qualityScores) and the rollup view
    * (qualityBySource). Thresholds are one tiny aggregate broadcast back
    * over the scored stream. */
  def qualitySourceFilter(docs: DataFrame, q: Double = 0.25): DataFrame = {
    // carry-through instead of the doc_id rejoin (see qualityScoredWith)
    val scored = qualityScoredWith(docs, Seq("source", "n_chars"))
    val thresholds = scored.groupBy(col("source"))
      .agg(AtScale.quantile(scored, col("quality_score"), q).as("threshold"))
    scored.join(broadcast(thresholds), "source")
      .groupBy(col("source"))
      .agg(max(col("threshold")).as("threshold"),
        count(lit(1)).as("total_docs"),
        sum(when(col("quality_score") >= col("threshold"), 1L).otherwise(0L))
          .as("kept_docs"),
        sum(when(col("quality_score") >= col("threshold"), col("n_chars"))
          .otherwise(0L)).as("kept_chars"))
      .withColumn("kept_frac",
        col("kept_docs").cast("double") / col("total_docs"))
  }

  /** Corpus length distribution in fixed 100-char buckets — the standard
    * pre-training length histogram (bucket = n_chars div 100). */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs.select(expr("n_chars div 100").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("docs"))

  /** Global token frequency, top-k by count (desc, token asc tiebreak). */
  def tokenFrequency(docs: DataFrame, k: Int = 50): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Per-language top-k tokens — grouped top-k via ranking window
    * (deterministic count-desc, token-asc order). */
  def topTokensPerLang(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("token"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("token"), col("cnt"), col("rnk").cast("long").as("rnk"))
  }

  /** Token bigrams as strings ("a b"), the unit of the repetition
    * metrics. zip_with over two slices — no explode, runs in codegen. */
  def bigrams(toks: Column): Column =
    zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))

  /** Gopher-style repetition quality metrics per document: the fraction
    * of bigrams that are repeats of an earlier bigram, and the share of
    * the single most common bigram. High values flag boilerplate /
    * template spam that per-token stats miss.
    *
    * Shape at scale: explode -> two-level hash aggregation keyed by
    * (doc_id, bigram) then doc_id — partial aggregation halves the
    * shuffle, and no row ever carries the full document. (A per-row HOF
    * count would avoid the shuffle but costs O(len^2) per document —
    * wrong trade at 100 TB document lengths.) */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(bigrams(tokens(col("text")))).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        max(col("cnt")).as("top_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("distinct_bigrams"),
        (lit(1.0) - col("distinct_bigrams").cast("double") / col("n_bigrams"))
          .as("dup_bigram_frac"),
        (col("top_cnt").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
      .withColumn("passes_repetition",
        col("dup_bigram_frac") <= 0.5 && col("top_bigram_frac") <= 0.1)
  }

  /** TF-IDF distinguishing terms per language. idf is kept RATIONAL
    * (n_docs / df, no logarithm): integer-derived doubles and one IEEE
    * division are bit-identical across engines, where ln() is only
    * libm-identical by luck. Ranking (the actual product of this query)
    * is unaffected — x -> x * ln-shape is monotone in df either way.
    *
    * df dedups per-document tokens map-side (array_distinct before the
    * explode) so the shuffle carries one row per (doc, distinct token),
    * not per token occurrence. */
  def tfidfTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("tfidf").desc, col("token"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * col("n_docs").cast("double")
          / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rnk").cast("long").as("rnk"))
  }

  /** The quality formula over precomputed token counts — ONE expression
    * tree shared by every consumer (qualityScores, the funnel, DocStream)
    * so the IEEE double shape never forks from the oracle mirror. */
  private[graft] def qualityExpr(nTokens: Column, nStop: Column,
                                 nUnique: Column): Column =
    lit(0.4) * (lit(1.0) - nStop.cast("double") / nTokens) +
      lit(0.3) * least(lit(1.0), nTokens.cast("double") / lit(100.0)) +
      lit(0.3) * (nUnique.cast("double") / nTokens)

  /** Quality scoring: stopword ratio, lexical diversity, length signal.
    * score = 0.4*(1 - stopword_ratio) + 0.3*min(1, n_tokens/100)
    *       + 0.3*(unique/n_tokens) — plain double arithmetic, identical
    * on both engines. */
  def qualityScores(docs: DataFrame): DataFrame =
    qualityScoredWith(docs, Nil)

  /** qualityScores plus PASS-THROUGH columns from the same row (r15;
    * guide §2.4): the quality battery is row-local, so a consumer that
    * needs (source, n_chars, …) next to the score reads them off the
    * original row in the SAME projection — the former
    * `qualityScores(docs) ⋈ docs on doc_id` pattern exchanged
    * corpus-mass rows TWICE (both join sides keyed by doc_id) to
    * reunite columns born together. The 1:1 inner join was the
    * identity (both sides derive exactly one row per doc_id), so
    * per-doc tuples — and every consumer's results — are unchanged. */
  private[graft] def qualityScoredWith(docs: DataFrame,
                                       carry: Seq[String]): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop",
        size(filter(toks, t => Stopwords.map(s => t === s).reduce(_ || _))).cast("long"))
      .withColumn("n_unique", size(array_distinct(toks)).cast("long"))
      .select(Seq(
        col("doc_id"), col("n_tokens"), col("n_stop"), col("n_unique"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        qualityExpr(col("n_tokens"), col("n_stop"), col("n_unique"))
          .as("quality_score")) ++ carry.map(col): _*)
  }

  /** One-row corpus data card — the summary a pipeline publishes next to
    * a released dataset: volume (docs/tokens/chars), provenance breadth
    * (distinct sources/langs), exact-duplicate mass, the content-hash
    * split sizes, and the grid-exact mean quality score.
    *
    * Shape at 100 TB: three independent single-pass aggregations over
    * PRUNED column sets, cross-joined as one-row broadcasts — not one
    * aggregate with three DISTINCTs, which would Expand-replicate every
    * corpus row once per distinct. The volume pass carries no distinct
    * at all; the provenance pass reads only (source, lang); the dup pass
    * shuffles 16-byte md5s. */
  def corpusReport(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val enriched = docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop",
        size(filter(toks, t => Stopwords.map(s => t === s).reduce(_ || _))).cast("long"))
      .withColumn("n_unique", size(array_distinct(toks)).cast("long"))
      .withColumn("q", qualityExpr(col("n_tokens"), col("n_stop"), col("n_unique")))
      .withColumn("split", splitCol(col("text")))
    val volume = enriched.agg(
      count(lit(1)).as("docs"),
      sum(col("n_tokens")).as("tokens"),
      sum(col("n_chars")).as("chars"),
      (sum(floor(col("q") * lit(Ivf.MeanQuantScale)).cast("long")).cast("double")
        / (lit(Ivf.MeanQuantScale) * count(lit(1)).cast("double"))).as("mean_quality"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("train_docs"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("val_docs"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("test_docs"))
    val provenance = docs.agg(
      countDistinct(col("source")).as("sources"),
      countDistinct(col("lang")).as("langs"))
    val dups = docs.agg(
      (count(lit(1)) - countDistinct(md5(col("text")))).as("exact_dup_docs"))
    volume.crossJoin(broadcast(provenance)).crossJoin(broadcast(dups))
      .select(col("docs"), col("sources"), col("langs"), col("tokens"),
        col("chars"), col("exact_dup_docs"), col("mean_quality"),
        col("train_docs"), col("val_docs"), col("test_docs"))
  }

  /** Per-source quality deciles: each document ranked into its source's
    * quality decile (ntile over the deterministic (score, doc_id)
    * order), rolled up to per-decile counts and score bounds — the view
    * that picks a per-source quality floor by mass rather than by a
    * global threshold.
    *
    * Scale note: ntile is ONE window shuffle keyed by source; a single
    * whale source serializes into one task's sort. Under the AtScale
    * session conf the exact-decile contract is relaxed to
    * approx-percentile CUTOFFS: 9 digest-derived boundaries per source
    * (one bounded-state aggregation, no per-source sort anywhere in the
    * plan — AtScaleSpec asserts the Window operator is gone), each doc
    * assigned row-locally by counting boundaries below its score.
    * Equal-count remainder handling differs from ntile by design (cut
    * semantics vs rank semantics); the decile MASSES converge at the
    * digest's error bound, pinned in AtScaleSpec. Exact mode (the
    * oracle-gated default) is unchanged. */
  def qualityDeciles(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // carry-through instead of the doc_id rejoin (see qualityScoredWith)
    val scored = qualityScoredWith(docs, Seq("source"))
    if (graft.functions.AtScale.approxEnabled(docs)) {
      val cuts = scored.groupBy(col("source"))
        .agg(graft.functions.AtScale.quantiles(docs, col("quality_score"),
          (1 to 9).map(_ / 10.0)).as("cuts"))
      scored.join(broadcast(cuts), Seq("source"))
        .withColumn("decile",
          coalesce(
            (lit(1) + size(filter(col("cuts"), cv => col("quality_score") > cv)))
              .cast("long"),
            lit(1L)))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("docs"),
          min(col("quality_score")).as("q_lo"),
          max(col("quality_score")).as("q_hi"))
    } else {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_score"), col("doc_id"))
      scored
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("docs"),
          min(col("quality_score")).as("q_lo"),
          max(col("quality_score")).as("q_hi"))
    }
  }

  /** Histogram-estimated median next to the exact one, per source — the
    * CHECKABLE version of the at-scale percentile story: exact
    * `percentile` needs the values sorted per group, while a fixed
    * 256-bucket histogram is one hash aggregation of integer bucket ids
    * (order-free, mergeable, constant memory — the same contract as
    * percentile_approx, but deterministic and oracle-reproducible).
    * The estimate is the lower edge of the first bucket whose
    * cumulative count reaches half the group (edges k/256 are exact
    * doubles — power-of-two denominator), and the report carries the
    * |estimate − exact| error that tells you whether 1/256 resolution
    * is enough to act on. */
  def histogramQuantile(docs: DataFrame, buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // carry-through instead of the doc_id rejoin (see qualityScoredWith)
    val scored = qualityScoredWith(docs, Seq("source"))
      .select(col("source"), col("quality_score"))
    val hist = scored
      .withColumn("b", least(lit(buckets - 1L),
        floor(col("quality_score") * buckets)).cast("long"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val est = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy(col("source"))
      .agg(min(col("b")).as("med_b"), max(col("n")).as("n_docs"))
      .select(col("source"), col("n_docs"),
        (col("med_b").cast("double") / buckets).as("est_median"))
    val exact = scored.groupBy(col("source"))
      .agg(expr("percentile(quality_score, 0.5)").as("exact_median"))
    est.join(exact, "source")
      .withColumn("abs_err", abs(col("est_median") - col("exact_median")))
  }

  /** Two-version corpus diff — the crawl-over-crawl incremental view
    * (ChangeFeed's topic churn, for corpora): per status, how many
    * documents were added, removed, content-modified, or unchanged
    * between versions. Content comparison is by md5 computed INSIDE
    * each scan, so the full-outer join on doc_id ships 16-byte hashes,
    * never text — one shuffle per side at any corpus size. */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text")).as("h1"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("modified"))
      .groupBy(col("status")).agg(count(lit(1)).as("docs"))
  }

  /** Per-source boilerplate n-gram detection (the CCNet-style template
    * screen): an n-gram is boilerplate FOR A SOURCE when it appears in
    * at least `minFrac` of that source's documents (and at least `minDf`
    * absolute) — site headers, license footers, navigation chrome. The
    * report shows, per source, how many distinct n-grams are boilerplate
    * and what fraction of the source's n-gram incidences they soak up —
    * the signal that decides which feeds need template stripping before
    * training.
    *
    * Shape at 100 TB: per-doc-distinct hashes from the row-local
    * [[graft.expressions.NgramHashes]] kernel (16-byte shuffle rows, no
    * n-gram string leaves the scan); document frequency is one hash
    * aggregation on (source, ngh) and the hit count joins the stream
    * back ON THE SAME KEY, so the exchange is reused — two shuffles of
    * the n-gram stream total, plus source-cardinality rollups. The
    * per-source doc counts are dimension-sized and broadcast. */
  def sourceBoilerplate(docs: DataFrame, n: Int = 3, minFrac: Double = 0.25,
                        minDf: Long = 3L): DataFrame = {
    val ng = docs.select(col("source"),
      explode(graft.expressions.NgramHashes.ngram_hashes(col("text"), n))
        .as("ngh"))
    val srcSizes = docs.groupBy(col("source")).agg(count(lit(1)).as("docs"))
    val dfs = ng.groupBy(col("source"), col("ngh")).agg(count(lit(1)).as("df"))
    val boiler = dfs.join(broadcast(srcSizes), "source")
      .filter(col("df") >= minDf &&
        col("df").cast("double") >= col("docs") * minFrac)
    val hits = ng.join(boiler.select(col("source"), col("ngh")),
        Seq("source", "ngh"))
      .groupBy(col("source")).agg(count(lit(1)).as("boiler_hits"))
    val totals = ng.groupBy(col("source")).agg(count(lit(1)).as("n_ngrams"))
    srcSizes
      .join(boiler.groupBy(col("source"))
        .agg(count(lit(1)).as("boiler_ngrams")), Seq("source"), "left")
      .join(hits, Seq("source"), "left")
      .join(totals, Seq("source"), "left")
      .na.fill(0L, Seq("boiler_ngrams", "boiler_hits", "n_ngrams"))
      .select(col("source"), col("docs"), col("n_ngrams"),
        col("boiler_ngrams"), col("boiler_hits"),
        when(col("n_ngrams") > 0,
          col("boiler_hits").cast("double") / col("n_ngrams"))
          .otherwise(lit(0.0)).as("boiler_frac"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic between two corpus
    * versions' length distributions, per language — the drift detector
    * that flags a crawl whose documents got systematically shorter or
    * longer (truncation bugs, extraction changes) even when counts look
    * fine. D = max |ECDF_1(x) - ECDF_2(x)|, computed EXACTLY as the
    * integer max of |c1*n2 - c2*n1| over the merged value grid (one
    * double division at the end — order-free, both engines agree
    * bit-for-bit).
    *
    * Shape at 100 TB: lengths first collapse to (lang, n_chars) counts —
    * a domain-bounded aggregation (the value grid, NOT corpus rows) —
    * and the ECDF window runs per-lang over that grid, so the window
    * partition is bounded by the distinct-length domain regardless of
    * corpus size. No global sort, no corpus-sized window. */
  def lengthDrift(v1: DataFrame, v2: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c1 = v1.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c1"))
    val c2 = v2.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c2"))
    val grid = c1.join(c2, Seq("lang", "n_chars"), "full_outer")
      .na.fill(0L, Seq("c1", "c2"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = Window.partitionBy(col("lang"))
    val cum = grid
      .withColumn("f1", sum(col("c1")).over(w))
      .withColumn("f2", sum(col("c2")).over(w))
      .withColumn("n1", sum(col("c1")).over(totals))
      .withColumn("n2", sum(col("c2")).over(totals))
    // cross-products in DECIMAL(38,0): BIGINT would wrap once per-lang
    // counts pass ~3e9 (c*n ~ 1e24 at the 100 TB regime) — the whole
    // point is an EXACT max, so the integer grid must not overflow.
    // The REPORTED ks_num surfaces as BIGINT: a decimal output column is
    // representation-unstable across engines (parquet DECIMAL(38,0) vs
    // DuckDB→float64 hash-mismatch, r4 verdict), and the reported max
    // fits BIGINT far past this fixture's regime — only the internal
    // cross-products need the DECIMAL width, and those stay internal.
    val dec = (c: Column) => c.cast("decimal(38,0)")
    cum.groupBy(col("lang"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(dec(col("f1")) * dec(col("n2")) -
          dec(col("f2")) * dec(col("n1")))).as("ks_num"))
      .select(col("lang"), col("n1"), col("n2"),
        col("ks_num").cast("bigint").as("ks_num"),
        when(col("n1") > 0 && col("n2") > 0,
          col("ks_num").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")))
          .otherwise(lit(null).cast("double")).as("ks_stat"))
  }

  /** Junk-run length for the probe's synthetic negatives: 40 appended
    * symbol tokens shift the stopword-rate feature enough that the
    * linear boundary separates crisply (sf0.01: 397/500 clean kept vs
    * 44/500 degraded; 20 junk tokens left the classes overlapping). */
  val ProbeJunkTokens = 40

  /** Trained quality-filter probe: a CLOSED-FORM ridge regression
    * (w = (XᵀX + λI)⁻¹ Xᵀy) on row-local integer text features — the
    * CCNet/DCLM/fastText curation mechanism (GPT-3's LR-on-tf-idf
    * filter is the same shape): positives are the corpus as-is, the
    * negatives are deterministically DEGRADED copies (ProbeJunkTokens
    * appended symbol tokens — the q_gopher_rules degradation family),
    * and the learned boundary is then the reusable keep/drop filter.
    * The fixture's lang/source labels are uniform over the same
    * synthetic vocabulary (nothing row-local can learn them — measured,
    * not assumed), so clean-vs-degraded is also the honest learnable
    * target here.
    *
    * Features (exact integers so both engines agree bit-for-bit):
    * intercept, x1 = min(n_tokens, 127), x2 = per-127 stopword rate
    * (n_stop*127 div n_tokens).
    *
    * The solve stays EXACT: the 3x3 normal equations are integer sums
    * (one aggregation pass), the Cramer determinants are computed in
    * arbitrary-precision driver-side (dimension-sized artifact, the
    * ivfCentroids contract), and the keep decision is the pure-integer
    * comparison 2·(det0 + det1·x1 + det2·x2) >= det — equivalent to
    * w·x >= 1/2 since det(XᵀX + λI) > 0 — evaluated in DECIMAL(38,0) so
    * no double division or decimal output column exists anywhere.
    *
    * Shape at 100 TB: ONE partial+final aggregation over the (corpus ∪
    * degraded-corpus) scan trains; scoring is a row-local projection +
    * per-source rollup (one exchange of (source, y, kept) rows). The
    * exact-integer certificate holds to ~1e7 training docs under the
    * 127-scale features (det·2·127 < 1e38); past that the filter trains
    * on a sample — which is how production quality filters are trained
    * anyway — and scores the full corpus with the same row-local
    * projection. */
  def qualityProbe(docs: DataFrame, ridge: Long = 1L): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("text"))
    val union = base.withColumn("y", lit(1L))
      .unionByName(base
        .withColumn("text",
          concat(col("text"), expr(s"repeat(' #@', $ProbeJunkTokens)")))
        .withColumn("y", lit(0L)))
    val toks = tokens(col("text"))
    val nStop = size(filter(toks,
      t => Stopwords.map(s => t === s).reduce(_ || _))).cast("long")
    val f = union.select(col("doc_id"), col("source"),
      least(size(toks).cast("long"), lit(127L)).as("x1"),
      nStop.as("n_stop"), size(toks).cast("long").as("n_tokens"),
      col("y"))
      .withColumn("x2", expr("n_stop * 127 div greatest(n_tokens, 1)"))
      .select(col("doc_id"), col("source"), col("x1"), col("x2"), col("y"))
    val r = f.agg(
      count(lit(1)).as("n"), sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("y")).as("b0"), sum(col("x1") * col("y")).as("b1"),
      sum(col("x2") * col("y")).as("b2")).head()
    def L(name: String): BigInt =
      BigInt(if (r.isNullAt(r.fieldIndex(name))) 0L else r.getAs[Long](name))
    // A = [[a,b,c],[b,d,e],[c,e,f]] symmetric, ridge on the diagonal
    val (a, b, c) = (L("n") + ridge, L("s1"), L("s2"))
    val (d, e, fv) = (L("s11") + ridge, L("s12"), L("s22") + ridge)
    val (b0, b1, b2) = (L("b0"), L("b1"), L("b2"))
    val det = a * (d * fv - e * e) - b * (b * fv - e * c) + c * (b * e - d * c)
    val det0 = b0 * (d * fv - e * e) - b * (b1 * fv - e * b2) + c * (b1 * e - d * b2)
    val det1 = a * (b1 * fv - e * b2) - b0 * (b * fv - e * c) + c * (b * b2 - b1 * c)
    val det2 = a * (d * b2 - b1 * e) - b * (b * b2 - b1 * c) + b0 * (b * e - d * c)
    val dec = (v: BigInt) =>
      lit(new java.math.BigDecimal(v.bigInteger)).cast("decimal(38,0)")
    f
      .withColumn("kept",
        dec(det0 * 2) + dec(det1 * 2) * col("x1") + dec(det2 * 2) * col("x2")
          >= dec(det))
      .groupBy(col("source"))
      .agg(sum(col("y")).as("docs"),
        sum((col("kept") && col("y") === 1L).cast("long")).as("kept_clean"),
        sum((col("kept") && col("y") === 0L).cast("long")).as("kept_degraded"))
      .select(col("source"), col("docs"), col("kept_clean"),
        col("kept_degraded"),
        (col("kept_clean").cast("double") / col("docs").cast("double"))
          .as("clean_rate"),
        (col("kept_degraded").cast("double") / col("docs").cast("double"))
          .as("degraded_rate"))
  }

  /** Distributed BPE tokenizer fitting (Sennrich et al. 2016,
    * arXiv:1508.07909): learn the first `nMerges` byte-pair merges from
    * the corpus. The distributed shape is the algorithm's own: ONE
    * corpus-sized pass builds the (word, freq) vocabulary table; every
    * merge round then runs on that VOCABULARY-sized table (adjacent
    * symbol-pair counts weighted by word freq → argmax → merge), so at
    * 100 TB the iterations cost nothing compared to the single token
    * count. The per-round winning pair is a dimension-sized driver
    * artifact (the ivfCentroids contract); rounds localCheckpoint the
    * evolving symbol strings (the Lloyd/label-prop plan-truncation
    * pattern).
    *
    * Symbol representation: characters joined by DOUBLE spaces with
    * double-space sentinels at both ends ("  a  b  c  "). The merge is
    * then one non-regex left-to-right replace of " l  r " with " lr " —
    * the double separator makes consecutive merge sites share no
    * characters, so non-overlapping replace implements exactly BPE's
    * greedy left-to-right merge in BOTH engines ("a a a a" merges pairs
    * 1-2 and 3-4; "a a a" merges only 1-2). Ties break (count DESC,
    * left ASC, right ASC) — binary string order, ASCII corpus.
    *
    * Output: one row per learned merge (rank, left, right, pair_count).
    * The DuckDB mirror unrolls the same rounds (q_bpe_merges). */
  def bpeMerges(docs: DataFrame, nMerges: Int = 6): DataFrame =
    bpeMergesDf(docs.sparkSession, fitBpeMerges(docs, nMerges))

  /** Render a fitted merge list as the q_bpe_merges report. */
  def bpeMergesDf(spark: SparkSession,
                  merges: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "left", "right", "pair_count").orderBy(col("rank"))
  }

  /** The fitting loop of [[bpeMerges]], returning the learned merge list
    * as a driver artifact (rank, left, right, pair count) — the
    * ivfCentroids contract: nMerges tiny rows of driver state that both
    * the merge report AND the encoding pass consume, so SparkEntry
    * memoizes the fit once per (session, dir). */
  def fitBpeMerges(docs: DataFrame,
                   nMerges: Int = 6): Seq[(Long, String, String, Long)] = {
    val vocab = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var syms = vocab.select(
      concat(lit("  "), regexp_replace(col("w"), "(.)", "$1  ")).as("sym"),
      col("freq")).localCheckpoint()
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var done = false
    for (rank <- 1 to nMerges if !done) {
      val pr = syms
        .withColumn("ss", split(col("sym"), "  "))
        .filter(size(col("ss")) >= 4) // >= 2 real symbols (sentinels are '')
        .select(col("freq"), explode(expr(
          "transform(sequence(2, size(ss) - 2), " +
            "i -> struct(element_at(ss, i) AS l, element_at(ss, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
      val top = pr.orderBy(col("cnt").desc, col("l"), col("r")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((rank.toLong, l, r, c))
        syms = syms.withColumn("sym",
          expr_replace(col("sym"), lit(s" $l  $r "), lit(s" $l$r ")))
          .localCheckpoint()
      }
    }
    out.result()
  }

  /** BPE ENCODING pass with a fitted merge list: the corpus-sized work
    * is ONE word-count pass per source (every occurrence of a word
    * encodes identically, so encoding runs on the VOCABULARY-sized
    * (source, word, freq) table, row-locally — the same at-scale shape
    * as the fitting). The merges apply in rank order as the same
    * double-separator non-regex replace. Reports per source: distinct
    * words, whitespace token count, encoded BPE token count, character
    * count, and chars-per-BPE-token (the compression the learned
    * vocabulary buys). Exact integer aggregates; one final division. */
  def bpeEncode(docs: DataFrame,
                merges: Seq[(Long, String, String, Long)]): DataFrame = {
    val vocab = docs.select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq"))
    vocab.withColumn("nsym", bpeNsym(merges))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("words"),
        sum(col("freq")).as("wsp_tokens"),
        sum(col("freq") * col("nsym")).as("bpe_tokens"),
        sum(col("freq") * length(col("w")).cast("long")).as("chars"))
      .withColumn("chars_per_token",
        col("chars").cast("double") / col("bpe_tokens"))
  }

  /** Encoded BPE token count of the `w` column under a fitted merge
    * list — the row-local encode every occurrence of a word shares
    * (fold the merges in rank order over the double-separator symbol
    * string, count symbols). Shared by [[bpeEncode]] and
    * [[bpeFertility]] so the encode expression never forks. */
  private def bpeNsym(merges: Seq[(Long, String, String, Long)]): Column = {
    val sym0 = concat(lit("  "), regexp_replace(col("w"), "(.)", "$1  "))
    val enc = merges.sortBy(_._1).foldLeft(sym0) { case (acc, (_, l, r, _)) =>
      expr_replace(acc, lit(s" $l  $r "), lit(s" $l$r "))
    }
    (size(split(enc, "  ")) - lit(2)).cast("long")
  }

  /** Tokenizer FERTILITY audit per (lang, source) — r9 verdict
    * item 6b: fertility = encoded BPE tokens per whitespace word, the
    * multilingual tokenizer-health metric (Rust et al. 2021 call a
    * tokenizer "high-fertility" on a language it splits into many
    * subwords — those corpora pay more sequence length per word, which
    * skews both training cost and effective mixture weights). Reported
    * per source WITH its language baseline and the ratio against it,
    * so a feed whose fertility is an outlier inside its own language
    * (encoding junk, mixed scripts, scraper damage) is visible even
    * when the language itself is expensive.
    *
    * Same at-scale shape as [[bpeEncode]]: one corpus-sized word-count
    * pass onto the (lang, source, word) vocabulary, row-local encode of
    * vocabulary rows, exact BIGINT rollups; the per-language baseline
    * is a languages-sized broadcast join. One division per reported
    * column, at the very end (order-free numerics). */
  def bpeFertility(docs: DataFrame,
                   merges: Seq[(Long, String, String, Long)]): DataFrame = {
    val vocab = docs.select(col("lang"), col("source"),
        explode(tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("source"), col("w"))
      .agg(count(lit(1)).as("freq"))
    // perSrc feeds the baseline aggregation AND the final join: lazy
    // localCheckpoint so the corpus word-count + encode pass runs once
    val perSrc = vocab.withColumn("nsym", bpeNsym(merges))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("freq")).as("wsp_tokens"),
        sum(col("freq") * col("nsym")).as("bpe_tokens"),
        sum(col("freq") * length(col("w")).cast("long")).as("chars"))
      .localCheckpoint(false)
    val perLang = perSrc.groupBy(col("lang"))
      .agg(sum(col("wsp_tokens")).as("lang_wsp"),
        sum(col("bpe_tokens")).as("lang_bpe"))
    val fert = col("bpe_tokens").cast("double") / col("wsp_tokens").cast("double")
    val langFert = col("lang_bpe").cast("double") / col("lang_wsp").cast("double")
    perSrc.join(broadcast(perLang), Seq("lang"))
      .select(col("lang"), col("source"), col("wsp_tokens"),
        col("bpe_tokens"), col("chars"),
        fert.as("fertility"),
        (col("chars").cast("double") / col("bpe_tokens").cast("double"))
          .as("bytes_per_token"),
        langFert.as("lang_fertility"),
        (fert / langFert).as("fertility_ratio"))
  }

  /** Non-regex left-to-right replace (SQL `replace`) — the exact
    * semantics the BPE merge needs; resume-after-replacement matches
    * DuckDB's replace(). */
  private def expr_replace(src: Column, search: Column, rep: Column): Column =
    call_function("replace", src, search, rep)

  /** Language mixing weights for corpus assembly — the up/down-sampling
    * rates a pretraining mix applies per stratum. */
  val MixRates: Seq[(String, Double)] = Seq(
    "en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.25)
  val MixDefaultRate = 0.1

  /** Content-keyed uniform in [0,1): the document's polynomial hash over
    * its modulus. Like splitAssignment, the draw follows CONTENT — the
    * same doc keeps the same fate across re-ingestions and engines. */
  def sampleUniform(text: Column): Column =
    graft.expressions.PolyHash.polyhash(text).cast("double") / lit(1000000007.0)

  /** Deterministic stratified sampling: keep a doc iff its content-hash
    * uniform falls under its language's mix rate. Row-local — at 100 TB
    * this is a filter fused into the corpus scan, no shuffle at all. */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val rate = MixRates.foldLeft(lit(MixDefaultRate): Column) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    docs.withColumn("u", sampleUniform(col("text")))
      .withColumn("rate", rate)
      .withColumn("kept", col("u") < col("rate"))
  }

  /** Fixed-size held-out eval sample: the N documents with the lowest
    * content-keyed uniform draw per language — deterministic (re-runs
    * and re-ingestions select the same documents), stratified, and
    * size-exact where rate-based sampling is only size-expected. The
    * window ranks WITHIN each language partition (no global sort); at
    * 100 TB a per-partition top-N pre-prune before the window would cap
    * the shuffle, N being tiny. */
  def evalSample(docs: DataFrame, perLang: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("u"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), sampleUniform(col("text")).as("u"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= perLang)
      .select(col("doc_id"), col("lang"), col("u"),
        col("rnk").cast("long").as("rnk"))
  }

  /** The mixture report: per language, the configured rate and the
    * realized doc/char yield of the deterministic sample. */
  def mixtureSummary(docs: DataFrame): DataFrame =
    stratifiedSample(docs).groupBy(col("lang"))
      .agg(max(col("rate")).as("rate"),
        count(lit(1)).as("total_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .withColumn("kept_frac",
        col("kept_docs").cast("double") / col("total_docs"))

  /** Token-budget packing: greedily take documents in doc_id order per
    * language until the running token total exceeds the budget — how a
    * pretraining mix realizes "N tokens of language X". Reported as the
    * per-language yield. Window cumsum partitioned by lang: each
    * partition sorts independently, no global sort. */
  def tokenBudget(docs: DataFrame, budgetTokens: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    docs.select(col("lang"), col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("running_tokens", sum(col("n_tokens")).over(w))
      .filter(col("running_tokens") <= budgetTokens)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_in_budget"),
        max(col("running_tokens")).as("tokens_used"))
  }

  /** Temperature-scaled language mixture (α-sampling with α = 0.5):
    * sampling weight w_l ∝ tokens_l^α flattens the language
    * distribution toward uniform — the standard multilingual
    * re-weighting. Normalization is ORDER-FREE: each language's sqrt
    * is quantized to an integer grid (floor(sqrt(tokens) * 2^20)) and
    * the denominator is an exact BIGINT sum (the same trick that makes
    * IVF training oracle-reproducible), so the weights are
    * bit-identical on any partitioning. One corpus pass (partial+final
    * agg on lang), then language-cardinality arithmetic. */
  def temperatureMixture(docs: DataFrame): DataFrame = {
    val per = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(size(tokens(col("text"))).cast("long")).as("tokens"))
      .withColumn("g",
        floor(sqrt(col("tokens").cast("double")) * lit(1048576.0)).cast("long"))
      // lazy checkpoint: `per` feeds both the scalar normalizer and the
      // final projection — unmaterialized, the one-row branch re-ran
      // the whole corpus aggregation pass (the dsirScored precedent);
      // the checkpoint is language-cardinality rows
      .localCheckpoint(false)
    val tot = per.agg(sum(col("tokens")).as("tot_tokens"), sum(col("g")).as("tot_g"))
    per.crossJoin(broadcast(tot)) // one row — fixed-size by construction
      .select(col("lang"), col("docs"), col("tokens"),
        (col("tokens").cast("double") / col("tot_tokens")).as("raw_frac"),
        (col("g").cast("double") / col("tot_g")).as("alpha_weight"))
      .withColumn("upsample", col("alpha_weight") / col("raw_frac"))
  }

  /** Hash-based shard packing: split the corpus into S output shards by
    * content fingerprint — the writer-side op that materializes training
    * shards. Hash sharding is the 100 TB answer: embarrassingly
    * parallel, no global sort or cumulative sum, deterministic under
    * re-runs, and the per-shard report (with relative load vs the ideal
    * tokens/S) proves the balance. relative_load is computed from exact
    * BIGINT totals, so it is order-free. */
  def shardReport(docs: DataFrame, numShards: Int = 16): DataFrame = {
    val per = docs
      .select((graft.expressions.PolyHash.polyhash(col("text")) % numShards)
        .as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        col("n_chars"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"),
        sum(col("n_chars")).as("chars"))
      // lazy checkpoint: numShards rows feed both the scalar total and
      // the final projection (the temperatureMixture pattern) — without
      // it the one-row branch re-ran the corpus shard aggregation
      .localCheckpoint(false)
    val tot = per.agg(sum(col("tokens")).as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("docs"), col("tokens"), col("chars"),
        (col("tokens").cast("double") * numShards / col("tot_tokens"))
          .as("relative_load"))
  }

  /** Sequence packing: lay each shard's documents head-to-tail (in
    * deterministic doc_id order) into fixed CONTEXT-token training
    * sequences, and report per-shard packing quality: sequences
    * produced, mean fill, and how many documents straddle a sequence
    * boundary (the ones a loader must split or mask). Packing is
    * inherently order-dependent, so it runs as a running-total window
    * WITHIN each hash shard — S independent sorted partitions (the
    * shardReport sharding), never a global sort. A document's sequence
    * is floor(preceding_tokens / CONTEXT); it straddles when its own
    * span crosses a multiple of CONTEXT. */
  def packSequences(docs: DataFrame, numShards: Int = 16,
                    context: Int = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val placed = docs
      .select(col("doc_id"),
        (graft.expressions.PolyHash.polyhash(col("text")) % numShards).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq", expr(s"before div $context"))
      .withColumn("straddles",
        expr(s"(before + n_tokens - 1) div $context") > col("seq"))
    placed.groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"),
        (max(expr(s"(before + n_tokens - 1) div $context")) + 1L).as("sequences"),
        sum(when(col("straddles"), 1L).otherwise(0L)).as("straddling_docs"))
      .withColumn("mean_fill",
        col("tokens").cast("double") / (col("sequences") * context))
  }

  /** Integer grid for order-free rarity sums: per-token values are exact
    * BIGINT quotients on this scale, so their per-document sum is
    * partition-order independent (the same trick as IVF's 2^-20 mean
    * grid). 2^40 keeps three-digit token counts at ~7 significant
    * figures. */
  val RarityScale: Long = 1L << 40

  /** Unigram rarity score — the parity-safe surrogate for LM perplexity
    * (CCNet-style quality signals score documents by how surprising
    * their tokens are under a corpus LM). Perplexity itself needs ln();
    * like tfidfTerms' rational idf, the rarity score stays RATIONAL:
    *
    *   rarity(doc) = mean over tokens of (N + V) / (c(t) + 1)
    *
    * — the add-one-smoothed inverse unigram probability. 1 for a corpus
    * of one repeated token; large when the document leans on rare
    * tokens. Monotone per-token with -ln p, heavy-tail-sensitive in the
    * mean (documented; the RANKING use — flag outlier docs — is the
    * product).
    *
    * Order-free numerics: each token's quotient is floored onto the
    * RarityScale integer grid (exact BIGINT division), summed as BIGINT,
    * and converted to double ONCE at the end — bit-identical on any
    * partitioning and in the oracle.
    *
    * Shape at 100 TB: one token-frequency aggregation (map-side partial
    * combine), one join of the exploded corpus against the vocab-sized
    * frequency table (AQE broadcasts it when small; shuffle-hash
    * otherwise — no hint), one per-doc aggregation. */
  def rarityScores(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    // lazy checkpoint: the vocabulary table feeds the scalar totals, the
    // grid projection, AND (through it) the scoring join — without it
    // each branch re-ran the corpus token explode + frequency
    // aggregation. Vocab-sized (distinct tokens), far below the corpus.
    val tf = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val tot = tf.agg(sum(col("c")).as("n_total"),
      count(lit(1)).as("vocab"))
    val grid = tf.select(col("token"),
      expr(s"$RarityScale div (c + 1)").as("g"))
    toks.join(grid, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("g")).as("gsum"))
      .crossJoin(broadcast(tot)) // one row — fixed-size by construction
      .select(col("doc_id"), col("n_tokens"),
        ((col("gsum").cast("double") / col("n_tokens"))
          * (col("n_total") + col("vocab")).cast("double")
          / lit(RarityScale.toDouble)).as("rarity"))
  }

  /** Grid for [[bigramRarity]]: inverse interpolated probabilities reach
    * ~(N + V)/2, so the grid must leave BIGINT headroom for
    * scale * (N + V)/2 * bigrams-per-doc. 2^30 keeps ~9 significant
    * figures on common transitions and is wrap-free past 10^7 corpus
    * bigrams; shrink the `scale` argument as log2(N + V) grows (the
    * documented at-scale knob — the score needs ~7 figures, so even
    * 2^20 serves corpora 10^3 times larger). */
  val BigramRarityScale: Long = 1L << 30

  /** Interpolated-bigram rarity — the bigram upgrade of [[rarityScores]].
    * CCNet-style perplexity filtering scores documents under an n-gram
    * LM; perplexity itself needs ln(), which forks from the oracle on
    * libm, so the score stays the parity-safe surrogate: the mean over
    * the document's token bigrams of the INVERSE interpolated bigram
    * probability
    *
    *   p(cur | prev) = 1/2 * (c(prev,cur) + 1) / (c(prev,·) + V)
    *                 + 1/2 * (c(·,cur) + 1) / (N + V)
    *
    * where c(prev,·) counts corpus bigrams starting with prev, c(·,cur)
    * bigrams ending in cur, N is the total bigram count and V the
    * continuation vocabulary — an add-one-smoothed ML bigram
    * interpolated with the continuation unigram (the Jelinek-Mercer
    * shape, lambda = 1/2). 1/p is large exactly when a transition is
    * surprising under the corpus LM — boilerplate scores near the
    * corpus floor, scrambled/ocr-noise text scores high, which is the
    * ranking perplexity filters act on.
    *
    * Order-free numerics: p is a deterministic IEEE expression over
    * integer-derived doubles (bit-identical across engines — the
    * sourceDivergence pattern), floor-quantized onto the `scale` grid,
    * summed as exact BIGINT, converted to double once at the end.
    * Documents with fewer than two tokens have no bigrams and emit no
    * row (the contract; the oracle's unnest mirrors it for free).
    *
    * Shape at 100 TB: one bigram-count aggregation with map-side
    * partial combine, two vocab-sized margins rolled up FROM that
    * aggregate (never from the raw stream), one join of the exploded
    * bigram stream against the scored-bigram table (AQE picks broadcast
    * vs shuffle-hash — no hint), one per-doc aggregation. */
  def bigramRarity(docs: DataFrame, scale: Long = BigramRarityScale): DataFrame = {
    val toks = tokens(col("text"))
    val pairs = docs.select(col("doc_id"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("prev"), b.as("cur")))).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
    // ONE bigram-count pass (r15, verdict item 7): the three margins
    // (cctx, cug, tot) and the scored join all consume cbg, and the
    // hoped-for AQE stage reuse DOES NOT FIRE — the executed x64 final
    // plan (OPTIMIZATION_r15.md §7) showed four separate ShuffleQueryStages
    // each re-running the corpus bigram explode + (prev,cur)
    // aggregation. The lazy localCheckpoint makes cbg one RDD shared by
    // every consumer (the perplexityBuckets/admissions precedent):
    // 4 corpus explode passes collapse to 1. Storage is DISK_ONLY (the
    // incNgramIndex lake-table precedent), NOT the default
    // MEMORY_AND_DISK: cbg is bigram-VOCABULARY mass, and the ladder's
    // permuted-alphabet replicas multiply the vocabulary by the replica
    // count — the first x128 refresh with heap-resident blocks pushed
    // the 8 GiB bench JVM into GCLocker OOM (run log
    // /tmp/bench_x128.log, r15) under queries that merely followed.
    // Disk blocks cost one write + four reads, still far below four
    // corpus explodes. Values unchanged (lineage cut only).
    val cbg = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cbg"))
      .localCheckpoint(false,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val cctx = cbg.groupBy(col("prev")).agg(sum(col("cbg")).as("cctx"))
    val cug = cbg.groupBy(col("cur")).agg(sum(col("cbg")).as("cug"))
    val tot = cug.agg(sum(col("cug")).as("n_total"), count(lit(1)).as("vocab"))
    val scored = cbg.join(cctx, "prev").join(cug, "cur")
      .crossJoin(broadcast(tot)) // one row — fixed-size by construction
      .select(col("prev"), col("cur"),
        floor(lit(scale.toDouble) /
          (lit(0.5) * ((col("cbg") + lit(1)).cast("double")
              / (col("cctx") + col("vocab")).cast("double"))
            + lit(0.5) * ((col("cug") + lit(1)).cast("double")
              / (col("n_total") + col("vocab")).cast("double"))))
          .as("g"))
    pairs.join(scored, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("g")).as("gsum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("gsum").cast("double") / col("n_bigrams") / lit(scale.toDouble))
          .as("bigram_rarity"))
  }

  /** CCNet-style PER-LANGUAGE perplexity buckets (Wenzek et al. 2020):
    * each document lands in the head / middle / tail of its OWN
    * language's LM-score distribution — CCNet's mechanism for keeping
    * the best-modeled third of every language rather than letting an
    * absolute threshold wipe out whichever languages the LM models
    * worst. The LM score is [[bigramRarity]] (the interpolated bigram
    * perplexity surrogate; HIGH rarity = poorly modeled), the cuts are
    * the paper's 30/70 percentiles computed EXACTLY per language
    * through the AtScale switchboard (approx-digest at scale), so:
    * head = rarity <= p30, middle <= p70, tail above. Documents with no
    * bigrams emit no row (the bigramRarity contract).
    *
    * Shape at 100 TB: the rarity derivation's vocabulary aggregations,
    * one languages-keyed percentile aggregation, and a |langs|-row
    * broadcast join back onto the per-doc stream — nothing
    * corpus-proportional beyond the scoring pass itself. */
  def perplexityBuckets(docs: DataFrame,
                        scale: Long = BigramRarityScale): DataFrame = {
    // the scored frame feeds BOTH the percentile aggregation and the
    // final join — localCheckpoint (lazy) so the bigram-LM scoring pass
    // runs once, not once per DAG branch (the admissions precedent)
    val r = bigramRarity(docs, scale)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint(false)
    val cuts = r.groupBy(col("lang")).agg(
      AtScale.quantile(r, col("bigram_rarity"), 0.3).as("p30"),
      AtScale.quantile(r, col("bigram_rarity"), 0.7).as("p70"))
    r.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("bigram_rarity"),
        when(col("bigram_rarity") <= col("p30"), lit("head"))
          .when(col("bigram_rarity") <= col("p70"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Hashed feature space for [[dsirWeights]]. The paper uses 2^13
    * buckets; 2^10 keeps the weight table broadcast-trivial and every
    * bucket well-populated on the fixture. The at-scale knob is the
    * `buckets` argument — the per-bucket table stays tiny (rows =
    * buckets, independent of corpus size) at any published setting. */
  val DsirBuckets: Int = 1024

  /** The at-scale operating grid: NOTES.md "Round 10" item 5 records
    * target-language keep-rate rising monotonically to a plateau at 2^13
    * — exactly the paper's setting (collisions between unrelated n-grams
    * dilute likelihood ratios at 1024) — with 8192 vs 16384 nearly
    * identical. Approx/AtScale mode defaults here (r10 verdict item 5)
    * the way quantiles switch to percentile_approx; 1024 stays the
    * oracle-parity default. */
  val DsirBucketsAtScale: Int = 8192

  /** Grid for [[dsirWeights]]: bucket likelihood ratios are bounded by
    * ~1/target-share (an all-target bucket), so even a 0.1% target
    * corpus keeps scale * ratio below 2^40 and per-doc BIGINT sums
    * wrap-free past 2^20 features per document. */
  val DsirScale: Long = 1L << 30

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each raw
    * document by how much its hashed n-gram feature profile looks like
    * the TARGET distribution rather than the raw pool, then keep the
    * top quartile. Features are the paper's unigrams + word bigrams
    * hashed into `buckets` buckets; the target distribution here is the
    * `lang = targetLang` slice of the same corpus (the "trusted
    * high-quality set" role Wikipedia plays in the paper).
    *
    * The paper's weight is log p_target(doc) - log p_raw(doc) =
    * sum over features of log(p_t(b)/p_r(b)); ln() forks from the
    * oracle on libm, so — exactly like [[rarityScores]]' perplexity
    * surrogate — the score stays RATIONAL: the mean over the document's
    * features of the add-one-smoothed bucket likelihood ratio
    *
    *   w(b) = ((n_t(b) + 1) / (N_t + B)) / ((n_r(b) + 1) / (N_r + B)).
    *
    * Monotone per-feature with the paper's log term; the RANKING —
    * which documents resemble the target — is the product. Selection
    * is deterministic top-quartile by exact percentile (the Gumbel
    * top-k of the paper needs randomness the oracle can't mirror);
    * documents with no features (empty text never occurs post-split)
    * emit no row, the [[bigramRarity]] contract.
    *
    * Order-free numerics: w(b) is a deterministic IEEE expression over
    * integer-derived doubles, floor-quantized onto the `scale` grid,
    * summed as exact BIGINT, divided once at the end — bit-identical
    * on any partitioning and in the oracle.
    *
    * Shape at 100 TB: one feature-hash aggregation over the exploded
    * corpus (map-side partial combine onto <= `buckets` keys), a
    * `buckets`-row weight table explicitly broadcast back onto the
    * feature stream, one per-doc aggregation, one exact-percentile
    * reduce (swap in AtScale's approx toggle if the 1-row sort reduce
    * ever matters). No corpus-proportional broadcast, no all-pairs. */
  /** The DSIR feature array of a text column: unigrams + word bigrams
    * (space-joined, so polyhash sees the same bytes in both engines). */
  private[graft] def dsirFeatureArr(text: Column): Column = {
    val toks = tokens(text)
    concat(toks,
      zip_with(slice(toks, lit(1), size(toks) - 1),
               slice(toks, lit(2), size(toks) - 1),
               (a, b) => concat_ws(" ", a, b)))
  }

  /** Bucket-weight table (bucket, g) for the fit corpus — <= `buckets`
    * rows by construction (buckets no fit feature hashed into are
    * absent; [[fitDsir]] fills them with the same smoothed formula at
    * n = 0 for serve-time novel features). */
  private def dsirWeightTable(feats: DataFrame, targetLang: String,
                              buckets: Int, scale: Long): DataFrame = {
    val bc = feats.groupBy(col("bucket")).agg(
      count(lit(1)).as("n_r"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("n_t"))
    val tot = bc.agg(sum(col("n_r")).as("nr_tot"), sum(col("n_t")).as("nt_tot"))
    bc.crossJoin(broadcast(tot)) // one row — fixed-size by construction
      .select(col("bucket"),
        floor(lit(scale.toDouble)
          * ((col("n_t") + lit(1)).cast("double")
            / (col("nt_tot") + lit(buckets)).cast("double"))
          / ((col("n_r") + lit(1)).cast("double")
            / (col("nr_tot") + lit(buckets)).cast("double"))).as("g"))
  }

  private def dsirFeatures(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(dsirFeatureArr(col("text"))).as("feat"))
      .select(col("doc_id"), col("lang"),
        (graft.expressions.PolyHash.polyhash(col("feat")) % buckets).as("bucket"))

  /** The UNtruncated per-doc scoring pipeline — the weight-table
    * broadcast join's plan shape is asserted on THIS frame (DsirSpec),
    * because [[dsirScored]] checkpoints it and the checkpoint replaces
    * the subtree with a LogicalRDD scan in downstream plans. */
  private[graft] def dsirPerDoc(docs: DataFrame, targetLang: String = "en",
                                buckets: Int = DsirBuckets,
                                scale: Long = DsirScale): DataFrame = {
    val feats = dsirFeatures(docs, buckets)
    val w = dsirWeightTable(feats, targetLang, buckets, scale)
    feats.join(broadcast(w), "bucket") // <= `buckets` rows
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("g")).as("gsum"))
      .select(col("doc_id"), col("n_feats"), col("gsum"),
        (col("gsum").cast("double") / col("n_feats") / lit(scale.toDouble))
          .as("dsir_weight"))
  }

  private def dsirScored(docs: DataFrame, targetLang: String,
                         buckets: Int, scale: Long): DataFrame = {
    // localCheckpoint (lazy): perDoc feeds BOTH the percentile threshold
    // and the final projection, and the threshold's scalar branch gave
    // Catalyst no shared exchange to reuse — un-materialized, each
    // branch re-ran the whole feature explosion (tokens + bigrams +
    // polyhash over the corpus) AND the weight-table aggregation it
    // broadcasts, ~4-6 corpus-explosion passes per query instead of the
    // two the operator's 100 TB shape budgets (one for the fit
    // aggregation, one for the scoring stream). The checkpoint is
    // doc-count-sized (4 numeric columns), far below the corpus.
    val perDoc = dsirPerDoc(docs, targetLang, buckets, scale)
      .localCheckpoint(false)
    val thr = perDoc.agg(expr("percentile(dsir_weight, 0.75)").as("thr"))
    perDoc.crossJoin(broadcast(thr)) // one row — fixed-size by construction
      .select(col("doc_id"), col("n_feats"), col("gsum"), col("dsir_weight"),
        (col("dsir_weight") >= col("thr")).as("selected"))
  }

  /** Per-document DSIR importance weight + top-quartile selection flag.
    * See [[dsirScored]] for semantics and the 100 TB shape. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  buckets: Int = DsirBuckets,
                  scale: Long = DsirScale): DataFrame =
    dsirScored(docs, targetLang, buckets, scale)
      .select(col("doc_id"), col("n_feats"), col("dsir_weight"),
        col("selected"))

  /** The resampling effect, per source: how DSIR selection shifts the
    * corpus mixture toward sources that resemble the target. Mean
    * weight stays order-free by aggregating the exact BIGINT grid sums
    * (never summing doubles over rows) and dividing once. */
  def dsirMixture(docs: DataFrame, targetLang: String = "en",
                  buckets: Int = DsirBuckets,
                  scale: Long = DsirScale): DataFrame =
    dsirScored(docs, targetLang, buckets, scale)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("selected_docs"),
        sum(col("gsum")).as("gsum_tot"),
        sum(col("n_feats")).as("feats_tot"))
      .select(col("source"), col("docs"), col("selected_docs"),
        (col("selected_docs").cast("double") / col("docs").cast("double"))
          .as("keep_rate"),
        (col("gsum_tot").cast("double") / col("feats_tot").cast("double")
          / lit(scale.toDouble)).as("mean_weight"))

  /** Weight-grid granularity for [[dsirBudget]]'s cutoff search: cells =
    * floor(weight * 4096). The cell table is CORPUS-INDEPENDENT — at
    * most 4096 * max-weight cells, and weights are bounded by the
    * smoothed inverse target share (an all-target bucket), so the
    * cumulative window below runs over a few thousand rows at any
    * corpus size. */
  val DsirBudgetGrid: Double = 4096.0

  /** Token-budget-constrained DSIR selection — the operational end of
    * importance resampling: fill a training-token budget with the most
    * target-like documents. The 100 TB shape deliberately avoids a
    * global per-document sort/cumsum (a prefix scan over 10^8 doc rows
    * serializes): documents are quantized onto the bounded
    * [[DsirBudgetGrid]] weight grid, per-CELL token sums get the
    * cumulative window (cell-table-sized — see the grid bound), the
    * budget cutoff cell is found there, and each document's verdict is
    * a row-local flag joined back through the broadcast cell table.
    * Whole cells are taken greedily highest-weight-first; the boundary
    * cell (the one that would overflow the budget) is reported
    * `chosen = false` with its utilization visible in the cum column —
    * split it with a finer grid if the boundary mass matters.
    *
    * Budget is a token FRACTION of the corpus (exact integer div, both
    * engines) so the query is scale-free; per-doc tokens are
    * whitespace-token counts (the [[tokenBudget]] convention). */
  def dsirBudget(docs: DataFrame, budgetDenom: Long = 4L,
                 targetLang: String = "en", buckets: Int = DsirBuckets,
                 scale: Long = DsirScale): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = dsirScored(docs, targetLang, buckets, scale)
      .join(docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens")), "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("dsir_weight"),
        floor(col("dsir_weight") * lit(DsirBudgetGrid)).as("cell"))
    val cells = perDoc.groupBy(col("cell"))
      .agg(sum(col("n_tokens")).as("cell_tokens"))
    val tot = cells.agg(sum(col("cell_tokens")).as("tot_tokens"))
    // the ONLY unpartitioned window — over the bounded cell table
    val cum = cells.crossJoin(broadcast(tot))
      .withColumn("cum_tokens",
        sum(col("cell_tokens")).over(Window.orderBy(col("cell").desc)))
      .select(col("cell"), col("cell_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= expr(s"tot_tokens div $budgetDenom"))
          .as("cell_chosen"))
    perDoc.join(broadcast(cum), "cell")
      .select(col("doc_id"), col("n_tokens"), col("dsir_weight"),
        col("cell"), col("cum_tokens"), col("cell_chosen").as("chosen"))
  }

  /** Frozen DSIR scorer: the full bucket weight grid (dense, length =
    * `buckets` — absent fit buckets carry the smoothed n = 0 weight for
    * serve-time novel features), the selection threshold measured on
    * the fit corpus, and the grid constants. Bounded driver state:
    * `buckets` longs + one double, the Bm25Model contract. */
  case class DsirModel(g: Array[Long], thr: Double, buckets: Int, scale: Long)

  /** Fit the DSIR model against an offline corpus — the index side of
    * the index-then-serve split (see [[graft.streaming.DsirStream]]).
    * Scores served with the frozen model are bitwise [[dsirWeights]]
    * scores for any document whose features all existed at fit time
    * (DsirStreamSpec proves it on the whole fixture).
    *
    * The default bucket count reads the session's
    * `spark.graft.dsir.buckets` (AtScale switchboard, r9 verdict
    * item 5) so the knob reaches the STREAM path through the frozen
    * model the same way it reaches the batch queries — DsirSpec pins
    * both; pass `buckets` explicitly to override. */
  def fitDsir(docs: DataFrame, targetLang: String = "en",
              buckets: Int = -1,
              scale: Long = DsirScale): DsirModel = {
    // -1 is the only read-the-session-conf sentinel; any other
    // non-positive value is a caller bug, not a conf request (r10
    // ADVICE: an accidental buckets=0 must fail loudly)
    require(buckets > 0 || buckets == -1,
      s"fitDsir: buckets must be positive (or -1 = session conf), got $buckets")
    val b = if (buckets > 0) buckets else AtScale.dsirBuckets(docs)
    fitDsirAt(docs, targetLang, b, scale)
  }

  private def fitDsirAt(docs: DataFrame, targetLang: String,
                        buckets: Int, scale: Long): DsirModel = {
    val feats = dsirFeatures(docs, buckets)
    val w = dsirWeightTable(feats, targetLang, buckets, scale)
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val tot = feats.agg(
        count(lit(1)).as("nr_tot"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("nt_tot"))
      .collect()(0)
    val (nrTot, ntTot) = (tot.getLong(0), tot.getLong(1))
    // unseen-bucket default: the SAME IEEE shape as dsirWeightTable at
    // n_t = n_r = 0 — a novel serve-time feature scores the smoothed
    // prior ratio, not zero
    val novel = math.floor(scale.toDouble
      * (1.0 / (ntTot + buckets).toDouble)
      / (1.0 / (nrTot + buckets).toDouble)).toLong
    val dense = Array.tabulate(buckets)(b => w.getOrElse(b, novel))
    val thr = dsirScored(docs, targetLang, buckets, scale)
      .agg(expr("percentile(dsir_weight, 0.75)")).collect()(0).getDouble(0)
    DsirModel(dense, thr, buckets, scale)
  }

  /** Grid for the divergence terms: per-token chi-square contributions
    * are O(1/N) doubles; 2^40 keeps ~12 significant digits on them. */
  val DivergenceScale: Double = RarityScale.toDouble

  /** Per-source token-distribution divergence from the corpus — the
    * domain-drift detector a curation pipeline runs to spot feeds whose
    * language shifted (scraper broke, spam flood, wrong-language batch).
    *
    * Chi-square divergence over the source's observed vocabulary:
    *
    *   chi2(s) = sum over tokens t in s of
    *             (c_s(t)/N_s - c(t)/N)^2 / (c(t)/N)
    *
    * RATIONAL by construction (no logs — the KL form would fork from
    * the oracle on libm), restricted to the source's own support (the
    * observed-support chi-square; absent tokens contribute their p_c
    * mass, a constant shift shared by near-complete supports, and the
    * RANKING of drifting sources is the product).
    *
    * Order-free: each token's term is a deterministic IEEE expression
    * over integer-derived doubles (bit-identical across engines),
    * floor-quantized to the 2^40 grid, summed as exact BIGINT.
    *
    * Shape at 100 TB: two hash aggregations over the exploded corpus
    * (per-source-token, then per-token via a second partial agg on the
    * SAME shuffled data), a vocab-sized join, one per-source rollup. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), explode(tokens(col("text"))).as("token"))
    val bySrc = toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("cs"))
    val corpus = bySrc.groupBy(col("token")).agg(sum(col("cs")).as("c"))
    val nSrc = bySrc.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val nTot = corpus.agg(sum(col("c")).as("n"))
    val term = {
      val ps = col("cs").cast("double") / col("ns").cast("double")
      val pc = col("c").cast("double") / col("n").cast("double")
      (ps - pc) * (ps - pc) / pc
    }
    bySrc.join(corpus, "token")
      .join(broadcast(nSrc), "source") // source-cardinality dimension
      .crossJoin(broadcast(nTot))      // one row
      .select(col("source"), col("ns"),
        floor(term * lit(DivergenceScale)).cast("long").as("gterm"))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        (sum(col("gterm")).cast("double") / lit(DivergenceScale)).as("chi2"))
  }

  /** Duplicated-n-gram coverage (RefinedWeb-style repetition signal at
    * the CROSS-document granularity): per document, the fraction of its
    * distinct overlapping token n-grams that occur in at least one other
    * document. Complements chunkDedup (non-overlapping windows catch
    * copied blocks; overlapping n-grams catch shifted/partial copies)
    * and repetitionStats (within-document repeats only).
    *
    * Shape at 100 TB: the whole tokenize -> n-gram -> distinct -> hash
    * chain runs as ONE row-local codegen kernel
    * ([[graft.expressions.NgramHashes]]) straight off the document
    * bytes — no n-gram string is ever built, and what shuffles is one
    * 16-byte (doc, hash60) row per distinct n-gram, not a ~50-byte
    * string. The document-frequency count is one hash aggregation and
    * the join back is on the same key (exchange reused). Cross-document
    * hash collisions would inflate df identically on both engines
    * (same constants), keeping parity bit-exact by construction. */
  def dupNgramCoverage(docs: DataFrame, n: Int = 5): DataFrame = {
    // No join back on the hash key: the original (groupBy df + re-join +
    // per-doc agg) shape sort-merge-joined the full n-gram stream against
    // the hash-frequency table — the dominant cost at 20x bench scale
    // (30 s of a 43x super-linear growth; the join inputs spill).
    // Algebraic identity instead: n_ngrams is ROW-LOCAL (the kernel's
    // distinct-set size), and dup_ngrams = n_ngrams - (# hashes this doc
    // is the ONLY holder of). Singleton ownership falls out of the same
    // df aggregation for free — min(doc_id) of a df=1 group IS the
    // owner — so the n-gram stream crosses exactly one exchange, and the
    // remaining doc-level join moves one skinny row per document.
    val withSet = docs
      .select(col("doc_id"),
        graft.expressions.NgramHashes.ngram_hashes(col("text"), n).as("hs"))
      .filter(size(col("hs")) > 0) // sub-n docs: absent, as in the join form
    val uniquePerDoc = withSet
      .select(col("doc_id"), explode(col("hs")).as("ngh"))
      .groupBy(col("ngh"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
      .filter(col("df") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("uniq"))
    // uniquePerDoc is corpus-proportional (one row per owning doc) —
    // same never-broadcast contract as dupSpans' hinted joins
    withSet.select(col("doc_id"), size(col("hs")).cast("long").as("n_ngrams"))
      .join(uniquePerDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        (col("n_ngrams") - coalesce(col("uniq"), lit(0L))).as("dup_ngrams"))
      .withColumn("dup_ngram_frac",
        col("dup_ngrams").cast("double") / col("n_ngrams"))
  }

  /** Maximal duplicated-span extraction (the ExactSubstr signal from
    * "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022, re-expressed relationally): per document, the
    * longest run of CONSECUTIVE token positions whose n-grams each occur
    * in at least one other document. dupNgramCoverage answers "how much
    * of this doc is duplicated"; this answers "is the duplication one
    * long copied passage or scattered phrases" — the signal that decides
    * span-level cut vs whole-doc drop.
    *
    * Shape at 100 TB: positional hashes come from the same row-local
    * [[graft.expressions.NgramHashes]] kernel (positional variant), so
    * the exploded stream is 20-byte (doc, pos, hash60) rows. The
    * duplicated-hash set (df > 1 over per-doc-distinct hashes) is the
    * dupNgramCoverage aggregation; the positional stream hash-joins it
    * on the hash key (inner join — only duplicated positions survive to
    * the window), then gaps-and-islands runs one window per doc over the
    * SURVIVING positions only. Two exchanges on the n-gram stream (hash
    * key, then doc key over the filtered stream) — the doc-key sort is
    * over duplicated positions only, a corpus-dup-rate-bounded subset. */
  def dupSpans(docs: DataFrame, n: Int = 5): DataFrame =
    dupSpansFrom(docs, dupRunFrame(docs, n), n)

  /** [[dupSpans]] over a PRECOMPUTED [[dupRunFrame]] — the memo seam:
    * the three dup-span queries (report, excision, rollup) share the
    * heavy duplicated-position derivation, so a caller derives the run
    * frame once, persists it, and feeds all three (the scoredPairsMemo
    * pattern; the r11 ladder showed the triple recompute turning the
    * rollup's top rung super-linear via ambient shuffle-reuse). */
  def dupSpansFrom(docs: DataFrame, runs: DataFrame, n: Int = 5): DataFrame = {
    // n_ngrams is ARITHMETIC, not a kernel pass: the positional-hash
    // array's size is exactly tokens - n + 1 (sub-n docs absent, as in
    // dupNgramCoverage) — materializing the array to take its size was
    // the query's dominant cost once the run frame was memoized (r12
    // x128: the report query cost 5.3 s of which the kernel scan was
    // nearly all; the count needs only the token split)
    val base = docs
      .select(col("doc_id"),
        (size(tokens(col("text"))) - lit(n - 1)).cast("long").as("n_ngrams"))
      .filter(col("n_ngrams") > 0)
    // run length in n-gram positions = e - s - (n - 2); span length in
    // tokens = e - s + 1
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s") - lit(n - 2).cast("long")).as("dup_positions"),
        max(col("e") - col("s") + lit(1L)).as("max_dup_span"))
    base
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("dup_positions"), lit(0L)).as("dup_positions"),
        coalesce(col("max_dup_span"), lit(0L)).as("max_dup_span"))
  }

  /** Gaps-and-islands over a (doc_id, pos) n-gram-start stream: one row
    * per maximal run of CONSECUTIVE positions, as an inclusive 0-based
    * token span (s = first start, e = s + run + n - 2 = last covered
    * token). The shared shape of the dup-span and boilerplate families —
    * any base offset in pos cancels in the (pos - row_number) group key. */
  private def runsOf(positions: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    positions
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("s"),
        (min(col("pos")) + count(lit(1)) + lit(n - 2)).cast("long").as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** The dup-span family's SHARED derivation, exposed for memoization:
    * (doc_id, s, e) maximal duplicated runs as inclusive token spans —
    * [[dupPositions]] + islands. Skinny (dup-rate-bounded, 24-byte
    * rows), so persisting it is cheap; [[dupSpansFrom]] and
    * [[exciseRuns]] both consume it. */
  def dupRunFrame(docs: DataFrame, n: Int = 5): DataFrame =
    runsOf(dupPositions(docs, n), n)

  /** [[dupRunFrame]] against an EXTERNAL n-gram-hash set instead of the
    * corpus's own df>1 dup set: the (doc_id, s, e) maximal runs of
    * consecutive positions whose n-gram occurs in `nghSet` (one column
    * `ngh`) — the cross-crawl excision seam (r12 verdict item 5).
    * [[graft.operators.IncrementalDedup.ngramIndex]] builds the set as
    * the lake's fourth index table; the join is pinned SHUFFLE_HASH for
    * the [[dupPositions]] r8 reason — a prior-corpus-derived build side
    * is corpus-proportional and must never be a broadcast candidate. */
  def indexedRunFrame(docs: DataFrame, nghSet: DataFrame,
                      n: Int = 5): DataFrame = {
    val positions = docs
      .select(col("doc_id"),
        posexplode(graft.expressions.NgramHashes.ngram_pos_hashes(col("text"), n))
          .as(Seq("pos", "ngh")))
      .join(nghSet.hint("shuffle_hash"), Seq("ngh"))
      .select(col("doc_id"), col("pos"))
    runsOf(positions, n)
  }

  /** The cross-crawl excision APPLY body — `applyExcision ∘
    * exciseSpanFrame ∘ indexedRunFrame` with the span floor at the
    * shingle width (a no-op floor: a single duplicated n-gram already
    * covers n tokens, the [[exciseDupSpans]] convention). ONE
    * definition shared by the q_incremental_excision operator and the
    * streaming twin's batch baseline
    * ([[graft.streaming.ExciseStream.exciseBatch]]), so the two cannot
    * drift. */
  def exciseAgainstIndex(docs: DataFrame, ngramIdx: DataFrame,
                         n: Int = 5): DataFrame =
    applyExcision(docs,
      exciseSpanFrame(indexedRunFrame(docs, ngramIdx, n), n.toLong))

  /** Shared detect core of [[dupSpans]] / [[exciseDupSpans]]: the
    * (doc_id, pos) stream of n-gram START positions whose n-gram occurs
    * in at least one OTHER document (df over per-doc-distinct hashes
    * > 1). Corpus-dup-rate-bounded output. */
  private def dupPositions(docs: DataFrame, n: Int): DataFrame = {
    val dupSet = docs
      .select(col("doc_id"),
        explode(graft.expressions.NgramHashes.ngram_hashes(col("text"), n)).as("ngh"))
      .groupBy(col("ngh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
      .select(col("ngh"))
    // SHUFFLE_HASH pins the scaladoc's hash-key exchange: dupSet is
    // corpus-dup-rate-proportional, and at the x40 rung AQE measured it
    // just under the broadcast threshold and promoted it — which blew
    // the default-heap driver ("Not enough memory to build and
    // broadcast", bench r8). A corpus-proportional build side must
    // never be a broadcast candidate, whatever its momentary size.
    docs
      .select(col("doc_id"),
        posexplode(graft.expressions.NgramHashes.ngram_pos_hashes(col("text"), n))
          .as(Seq("pos", "ngh")))
      .join(dupSet.hint("shuffle_hash"), Seq("ngh"))
      .select(col("doc_id"), col("pos"))
  }

  /** Duplicated-span EXCISION — the APPLY half of ExactSubstr dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": detect cross-document duplicated substrings, then
    * REMOVE them; reference pipelines run removal, not just the
    * [[dupSpans]] report). Per document: every token covered by a
    * duplicated run (a maximal set of consecutive duplicated n-gram
    * start positions — the [[dupSpans]] islands — which covers tokens
    * [start, start + run + n - 2]) is excised, and the kept tokens are
    * re-joined with single spaces into `cleaned_text`. Output per doc:
    * cleaned_text, n_tokens (before), kept_tokens, bytes_removed.
    *
    * `minSpanTokens` mirrors the paper's length threshold: runs whose
    * token coverage is shorter are left in place (0 = excise every
    * detected run; any value <= n is equivalent, since a single
    * duplicated n-gram already covers n tokens).
    *
    * Shape at 100 TB: the duplicated-position stream and its window are
    * exactly [[dupSpans]]'s (dup-rate-bounded); runs collapse to one
    * SKINNY span row per island, per-doc spans pack into one sorted
    * array row ([s0,e0,s1,e1,...]), and the rewrite itself is the
    * row-local [[graft.expressions.ExciseSpans]] kernel after one
    * shuffle-hash join of the span table back onto the corpus — the
    * corpus text crosses no exchange. The merged covered-token count
    * comes from a row-local fold over the same sorted span array (runs
    * are disjoint in POSITION space but can overlap in TOKEN coverage
    * when the gap between them is under n), so kept_tokens needs no
    * second pass over the text. */
  def exciseDupSpans(docs: DataFrame, n: Int = 5,
                     minSpanTokens: Int = 0): DataFrame =
    exciseRuns(docs, dupRunFrame(docs, n),
      math.max(minSpanTokens, n).toLong)

  /** Generic span-excision APPLY over a precomputed (doc_id, s, e) run
    * frame ([[dupRunFrame]] or [[boilerRunFrame]]): every token covered
    * by a run of at least `spanFloor` tokens is excised and the kept
    * tokens re-join into `cleaned_text`, via the row-local
    * [[graft.expressions.ExciseSpans]] kernel after one shuffle-hash
    * join of the skinny span table back onto the corpus — the corpus
    * text crosses no exchange. `carry` passes columns through from
    * `docs` (e.g. `source` for [[excisionRollupOf]]) so downstream
    * groupings need no second corpus-wide join. */
  def exciseRuns(docs: DataFrame, runs: DataFrame, spanFloor: Long,
                 carry: Seq[String] = Nil): DataFrame =
    applyExcision(docs, exciseSpanFrame(runs, spanFloor), carry)

  /** The packed per-doc span frame of [[exciseRuns]] — one row per doc
    * holding the sorted [s0,e0,...] array plus the merged covered-token
    * count. SKINNY (dup-rate-bounded, no text), so THIS is the memo
    * boundary: the r12 x128 rung measured that persisting the full
    * cleaned-text frame instead taxes the whole rung's 8 GiB bench heap
    * (reproduced first_lower inflations on unrelated queries), and at
    * 100 TB caching corpus text is wrong outright — the row-local
    * kernel re-applies cheaply from the cached spans. */
  def exciseSpanFrame(runs: DataFrame, spanFloor: Long): DataFrame = {
    runs
      .filter(col("e") - col("s") + lit(1L) >= lit(spanFloor))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
      .select(col("doc_id"),
        flatten(transform(col("sp"),
          x => array(x.getField("s"), x.getField("e")))).as("packed"),
        // merged coverage: fold (total, max end seen) over spans sorted
        // by start — overlap-safe, row-local
        aggregate(col("sp"),
          struct(lit(0L).as("tot"), lit(-1L).as("mx")),
          (acc, x) => struct(
            (acc.getField("tot") + greatest(lit(0L),
              x.getField("e") - greatest(x.getField("s"),
                acc.getField("mx") + lit(1L)) + lit(1L))).as("tot"),
            greatest(acc.getField("mx"), x.getField("e")).as("mx")),
          acc => acc.getField("tot")).as("covered"))
  }

  /** The row-local APPLY over a (possibly memoized) [[exciseSpanFrame]]:
    * one corpus scan, one shuffle-hash join of the skinny span table,
    * the [[graft.expressions.ExciseSpans]] kernel — corpus text crosses
    * no exchange and is never cached. */
  def applyExcision(docs: DataFrame, spans: DataFrame,
                    carry: Seq[String] = Nil): DataFrame = {
    docs.select((Seq("doc_id", "text") ++ carry).map(col): _*)
      .join(spans.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("cleaned_text",
        when(col("packed").isNull, col("text"))
          .otherwise(graft.expressions.ExciseSpans.excise_spans(
            col("text"), col("packed"))))
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      // octet_length, not length: the kernel removes UTF-8 BYTES and the
      // column says bytes — char-counting undercounts on non-ASCII text
      // (and the DuckDB mirror uses strlen, its byte-length form)
      .select(Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
        col("cleaned_text"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("covered"), lit(0L))).as("kept_tokens"),
        (octet_length(col("text")) - octet_length(col("cleaned_text")))
          .cast("long").as("bytes_removed")): _*)
  }

  /** Per-source excision savings — the rollup a curation run reads to
    * decide whether a feed's duplication is worth span surgery or a
    * whole-doc drop: document counts, token/byte savings, and the
    * savings fraction. One hash aggregation over [[exciseDupSpans]]'s
    * per-doc frame joined back to the source dimension. */
  def excisionRollup(docs: DataFrame, n: Int = 5): DataFrame =
    excisionRollupOf(exciseRuns(docs, dupRunFrame(docs, n), n.toLong,
      Seq("source")))

  /** The per-source savings aggregation over a source-carried
    * [[exciseRuns]] frame — split out so the rollup's marginal cost over
    * a memoized per-doc excision frame is exactly this one hash
    * aggregation (the r11 ladder asked for that attribution). */
  def excisionRollupOf(excised: DataFrame): DataFrame =
    excised
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_tokens")).as("tokens_before"),
        sum(col("n_tokens") - col("kept_tokens")).as("tokens_removed"),
        sum(col("bytes_removed")).as("bytes_removed"))
      .withColumn("token_savings_frac",
        col("tokens_removed").cast("double") / col("tokens_before").cast("double"))

  /** Boilerplate-strip DETECT half as a run frame: the per-source
    * boilerplate n-gram set of [[sourceBoilerplate]] (df >= minDf and
    * >= minFrac of the source's documents — site headers, license
    * footers, navigation chrome), located positionally in each document
    * and collapsed to maximal (doc_id, s, e) token spans. The apply is
    * [[boilerplateStrip]] = [[exciseRuns]] over this frame — the same
    * detect→apply closure [[exciseDupSpans]] gives the dup-span report
    * (r11 verdict item 4: q_source_boilerplate detected template n-grams
    * but nothing removed them).
    *
    * Shape at 100 TB: detection is [[sourceBoilerplate]]'s two hash
    * exchanges of the 16-byte n-gram stream; the positional stream then
    * joins the boilerplate set on (source, ngh) — pinned SHUFFLE_HASH,
    * never broadcast: the set is template-cardinality-bounded in
    * practice but corpus-derived, and a corpus-derived build side must
    * never be a broadcast candidate (the dupPositions r8 lesson). The
    * surviving positions are boilerplate-rate-bounded, and the islands
    * window runs over that subset only. */
  def boilerRunFrame(docs: DataFrame, n: Int = 3, minFrac: Double = 0.25,
                     minDf: Long = 3L): DataFrame =
    boilerRunFrameFrom(docs, boilerSet(docs, n, minFrac, minDf), n)

  /** The DETECT-half output as a standalone table: the per-source
    * boilerplate n-gram set (source, ngh) — what a production run
    * PERSISTS between detect and apply, and the frozen "versioned
    * state" the streaming strip twin serves against
    * ([[graft.streaming.StripStream]]): rebuilt per detect cadence,
    * read-only between rebuilds, exactly the admission gate's
    * index-then-serve split. */
  def boilerSet(docs: DataFrame, n: Int = 3, minFrac: Double = 0.25,
                minDf: Long = 3L): DataFrame = {
    val srcSizes = docs.groupBy(col("source")).agg(count(lit(1)).as("docs"))
    docs
      .select(col("source"),
        explode(graft.expressions.NgramHashes.ngram_hashes(col("text"), n))
          .as("ngh"))
      .groupBy(col("source"), col("ngh")).agg(count(lit(1)).as("df"))
      .join(broadcast(srcSizes), "source")
      .filter(col("df") >= minDf &&
        col("df").cast("double") >= col("docs") * minFrac)
      .select(col("source"), col("ngh"))
  }

  /** [[boilerRunFrame]] against an ALREADY-BUILT (possibly persisted)
    * boilerplate set — the apply half's positional locate + islands,
    * with the detect half frozen. SHUFFLE_HASH pinned: the set is
    * template-cardinality-bounded in practice but corpus-derived, and a
    * corpus-derived build side must never be a broadcast candidate (the
    * dupPositions r8 lesson). */
  def boilerRunFrameFrom(docs: DataFrame, boilerSet: DataFrame,
                         n: Int = 3): DataFrame = {
    val positions = docs
      .select(col("doc_id"), col("source"),
        posexplode(graft.expressions.NgramHashes.ngram_pos_hashes(col("text"), n))
          .as(Seq("pos", "ngh")))
      .join(boilerSet.hint("shuffle_hash"), Seq("source", "ngh"))
      .select(col("doc_id"), col("pos"))
    runsOf(positions, n)
  }

  /** Boilerplate-strip APPLY half: per document, every token covered by
    * a per-source boilerplate n-gram (the [[boilerRunFrame]] spans) is
    * excised and the kept tokens re-join into cleaned_text — the CCNet
    * template-stripping step a curation pipeline runs after
    * [[sourceBoilerplate]] flags a feed. Same output contract as
    * [[exciseDupSpans]]: cleaned_text, n_tokens, kept_tokens,
    * bytes_removed; feed a `carry = Seq("source")` frame to
    * [[excisionRollupOf]] for the per-source savings view. */
  def boilerplateStrip(docs: DataFrame, n: Int = 3, minFrac: Double = 0.25,
                       minDf: Long = 3L, carry: Seq[String] = Nil): DataFrame =
    exciseRuns(docs, boilerRunFrame(docs, n, minFrac, minDf), n.toLong, carry)

  /** Per-source curation rollup: document counts and ORDER-FREE quality
    * statistics (exact percentiles, not avg — a double mean depends on
    * partition order) — the view that decides which feeds to keep,
    * re-weight, or drop. */
  def qualityBySource(docs: DataFrame): DataFrame =
    // carry-through instead of the doc_id rejoin (see qualityScoredWith)
    qualityScoredWith(docs, Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        AtScale.quantile(docs, col("quality_score"), 0.5).as("median_quality"),
        AtScale.quantile(docs, col("quality_score"), 0.1).as("p10_quality"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))

  /** Marker-token sets per language for the n-gram/lexical language-ID
    * heuristic. The synthetic corpus is English-ish; real marker lists
    * would be larger. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "que", "y"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4"))

  /** Shared language-ID core: the input plus per-language marker counts
    * and the argmax `predicted_lang` ('und' when nothing matches; ties
    * broken by language order via strict-greater chain). Row-local — the
    * prediction rides the scan, so consumers never join back to fetch
    * the label. */
  private def langPredicted(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val withCounts = LangMarkers.foldLeft(docs.withColumn("toks", toks)) {
      case (df, (lang, markers)) =>
        df.withColumn(s"m_$lang",
          size(filter(col("toks"), t => markers.map(m => t === m).reduce(_ || _)))
            .cast("long"))
    }
    val best = LangMarkers.map(_._1).foldLeft(
      (lit("und"), lit(0L)): (Column, Column)) { case ((bl, bc), lang) =>
      val c = col(s"m_$lang")
      (when(c > bc, lit(lang)).otherwise(bl), when(c > bc, c).otherwise(bc))
    }
    withCounts.withColumn("predicted_lang", best._1)
  }

  /** Language ID: count marker hits per language, argmax with 'und'
    * fallback when nothing matches. */
  def languageId(docs: DataFrame): DataFrame =
    langPredicted(docs).select(
      (col("doc_id") +: LangMarkers.map { case (l, _) => col(s"m_$l") }) :+
        col("predicted_lang") :+
        (col("predicted_lang") === col("lang")).as("label_match"): _*)

  /** Label-vs-prediction confusion rollup over the same row-local
    * language-ID core — the per-language precision/recall view that
    * decides whether the classifier is trustworthy enough to route
    * documents by predicted language. `label_share` is each cell's
    * fraction of its LABEL row (rows of one lang sum to 1).
    *
    * Shape at 100 TB: prediction is fused into the scan (no join), the
    * confusion aggregation is |langs|^2-bounded, and the label totals
    * derive from the same cells (one tiny window over the rollup) —
    * the corpus is scanned once. */
  def languageIdConfusion(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = langPredicted(docs)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("docs"))
    cells
      .withColumn("label_docs",
        sum(col("docs")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("predicted_lang"), col("docs"),
        (col("docs").cast("double") / col("label_docs")).as("label_share"))
  }

  /** End-to-end curation funnel — the composition a training-data run
    * actually executes, reported as CUMULATIVE per-stage survival
    * (docs / tokens / chars remaining after each gate):
    *   0 raw          every document
    *   1 quality      quality_score >= qThreshold
    *   2 exact_dedup  first (min doc_id) per exact content hash among
    *                  quality survivors
    *   3 near_dedup   drop non-canonical members of the near-dup
    *                  clusters (callers pass the shared assignment so
    *                  label propagation runs once per session)
    *   4 train_split  content-hash split == "train"
    *
    * Shape at 100 TB: quality/split/hash flags are row-local expressions
    * fused into the scan; exact dedup is ONE window shuffle on the
    * content hash (min qualified doc_id per hash — no join-back); the
    * cluster assignment joins on doc_id and only contains pair
    * participants (orders of magnitude smaller than the corpus,
    * hint-free so AQE sizes it); and all five stage rows come from ONE
    * aggregation unpivoted with stack — the corpus is never scanned or
    * shuffled per stage. */
  def curationFunnel(docs: DataFrame, clusters: DataFrame,
                     qThreshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val scored = docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stop",
        size(filter(toks, t => Stopwords.map(s => t === s).reduce(_ || _))).cast("long"))
      .withColumn("n_unique", size(array_distinct(toks)).cast("long"))
      .withColumn("q",
        qualityExpr(col("n_tokens"), col("n_stop"), col("n_unique")) >= qThreshold)
      .withColumn("split", splitCol(col("text")))
      .withColumn("h", md5(col("text")))
    val flagged = scored
      .withColumn("keep_id",
        min(when(col("q"), col("doc_id"))).over(Window.partitionBy(col("h"))))
      .join(clusters.select(col("doc_id"), col("keep").as("nd_keep")),
        Seq("doc_id"), "left")
      .withColumn("s1", col("q"))
      .withColumn("s2", col("s1") && col("doc_id") === col("keep_id"))
      .withColumn("s3", col("s2") && coalesce(col("nd_keep"), lit(true)))
      .withColumn("s4", col("s3") && col("split") === "train")
    def stage(flag: Column, sfx: String) = Seq(
      sum(when(flag, 1L).otherwise(0L)).as(s"d$sfx"),
      sum(when(flag, col("n_tokens")).otherwise(0L)).as(s"t$sfx"),
      sum(when(flag, col("n_chars")).otherwise(0L)).as(s"c$sfx"))
    val aggs = Seq(
      count(lit(1)).as("d0"),
      sum(col("n_tokens")).as("t0"),
      sum(col("n_chars")).as("c0")) ++
      stage(col("s1"), "1") ++ stage(col("s2"), "2") ++
      stage(col("s3"), "3") ++ stage(col("s4"), "4")
    flagged.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        """stack(5,
          |  0, 'raw',         d0, t0, c0,
          |  1, 'quality',     d1, t1, c1,
          |  2, 'exact_dedup', d2, t2, c2,
          |  3, 'near_dedup',  d3, t3, c3,
          |  4, 'train_split', d4, t4, c4)
          |as (stage, stage_name, docs, tokens, chars)""".stripMargin))
  }

  /** Gopher-style heuristic rule battery (Rae et al. 2021 §A1.1 /
    * the FineWeb reimplementation): per document, five independent
    * pass/fail rules —
    *   word count in [50, 100000]; mean word length in [3, 10];
    *   >= 80% of words contain a letter; symbol(#)-to-word ratio
    *   <= 0.1; >= 2 distinct stopwords present —
    * rolled up per source (docs, per-rule pass counts, docs passing
    * ALL rules, pass rate). The per-source view is what a curation run
    * reads to decide which feed needs which filter, before applying
    * the combined gate.
    *
    * Every rule is a row-local expression fused into the scan; the
    * rollup is ONE hash aggregation keyed by source. Ratios compare as
    * IEEE doubles with identical expression shape on both engines. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val perDoc = docs.select(col("source"),
      size(toks).cast("long").as("nw"),
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L),
        (acc, x) => acc + x).as("cw"),
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long").as("na"),
      size(array_intersect(array_distinct(toks),
        array(Stopwords.map(lit): _*))).cast("long").as("nstop"),
      (length(col("text")) - length(translate(col("text"), "#", "")))
        .cast("long").as("hashes"))
      .select(col("source"),
        (col("nw") >= 50 && col("nw") <= 100000).as("r_wc"),
        (col("cw").cast("double") / col("nw") >= 3.0
          && col("cw").cast("double") / col("nw") <= 10.0).as("r_mwl"),
        (col("na").cast("double") / col("nw") >= 0.8).as("r_alpha"),
        (col("hashes").cast("double") / col("nw") <= 0.1).as("r_sym"),
        (col("nstop") >= 2).as("r_stop"))
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        cnt(col("r_wc")).as("pass_wordcount"),
        cnt(col("r_mwl")).as("pass_wordlen"),
        cnt(col("r_alpha")).as("pass_alpha"),
        cnt(col("r_sym")).as("pass_symbol"),
        cnt(col("r_stop")).as("pass_stopwords"),
        cnt(col("r_wc") && col("r_mwl") && col("r_alpha")
          && col("r_sym") && col("r_stop")).as("pass_all"))
      .withColumn("pass_rate",
        col("pass_all").cast("double") / col("docs").cast("double"))
  }

  /** Contribution grid for order-free BM25 sums: 2^-24 absolute
    * precision on per-term contributions whose magnitude is O(idf) =
    * O(corpus size) — headroom to ~2^33 documents before the summed
    * BIGINT saturates, far past any single corpus. */
  val Bm25Grid: Long = 1L << 24

  /** BM25 top-k retrieval (Robertson/Sparck Jones' Okapi BM25) — the
    * LEXICAL retrieval arm next to the embedding ANN family: ranked
    * term-match retrieval for hybrid search, query-driven corpus audit,
    * and eval-set decontamination sweeps where the probe is a text
    * query, not a vector.
    *
    * Benchmark query set: the nQueries lowest doc_ids (the knnExact
    * fixed-slice contract); each query is its document's first qTerms
    * DISTINCT tokens in first-occurrence order (derived by min(pos) per
    * token, NOT array_distinct — DuckDB's list_distinct does not
    * preserve order, so first-occurrence rank is the cross-engine form).
    *
    * Parity-safe numerics, both deliberate deviations documented:
    *  - idf is the RATIONAL core of the Robertson-Sparck-Jones weight,
    *    (N - df + 0.5) / (df + 0.5), without the ln wrap — the
    *    tfidfTerms/rarityScores precedent (ln's last-ulp shape is
    *    libm-specific; the rational form is monotone in df, so RANKED
    *    retrieval — the product — is unaffected, and it never goes
    *    negative where textbook BM25 does for df > N/2).
    *  - per-term contributions are floored onto the 2^-24 integer grid
    *    and summed as exact BIGINTs, so the per-(query, doc) score is
    *    order-free on any partitioning; the double conversion happens
    *    once at the end.
    *
    * Shape at 100 TB: the query-term set is nQueries x qTerms strings —
    * bounded DRIVER state (the knnPq lookup-table contract), so idf and
    * the query expansion become literal map expressions and nothing
    * joins. Three scans: the query docs alone (doc_id predicate pushed),
    * a row-local stats/df pass (size + array_contains — text never
    * explodes), and ONE exploded pass filtered by the literal token
    * in-list BEFORE the tf shuffle, so the only corpus-mass exchange
    * carries matching-token rows. A first cut staged qterms/df/stats as
    * broadcast joins; Catalyst cannot reuse the divergently-pruned tf
    * subtree, so the corpus text exploded TWICE — the literal form
    * scans it once. The top-k window plans as map-side
    * WindowGroupLimit. */
  def bm25TopK(docs: DataFrame, k: Int = 10, nQueries: Int = 5,
               qTerms: Int = 6, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKFor(docs,
      docs.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("query_id"), col("text")),
      k, qTerms, k1, b)

  /** The parameterized retrieval surface (r8 verdict item 3): top-k BM25
    * against an ARBITRARY query table (query_id, text) — the fixed
    * low-doc_id slice above is just one choice of `queryDocs`. The
    * bounded-driver-literal compilation carries over unchanged: the
    * query set must be bounded by contract (it is collected to drive
    * the literal idf/expansion maps), which is the production shape —
    * a retrieval layer serves a query batch, not a corpus-sized join. */
  def bm25TopKFor(docs: DataFrame, queryDocs: DataFrame, k: Int = 10,
                  qTerms: Int = 6, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    fitBm25For(docs, queryDocs, qTerms, k1, b) match {
      case None => docs.limit(0).select(
        col("doc_id").as("query_id"), col("doc_id"),
        lit(0L).as("rank"), lit(0.0).as("score"))
      case Some(m) => bm25TopKWith(docs, m, k)
    }

  /** The frozen BM25 serving state: query terms (first-occurrence
    * order), per-term rational RSJ idf, and the corpus length prior —
    * bounded driver state by contract (nQueries x qTerms strings + as
    * many doubles). This is the index-then-serve seam: fit once against
    * the OFFLINE corpus, then score any batch OR STREAM of documents
    * against it (graft.streaming.RetrievalStream is the streaming
    * consumer; the scores are bitwise the batch scores because both
    * paths build the same bm25Contribution expression from the same
    * literals). */
  final case class Bm25Model(qterms: Seq[(Long, String)],
                             idf: Map[String, Double], avgdl: Double,
                             k1: Double, b: Double) {
    def qtokens: Seq[String] = qterms.map(_._2).distinct.sorted
    def queryIds: Seq[Long] = qterms.map(_._1).distinct.sorted
    def termsOf(q: Long): Seq[String] = qterms.filter(_._1 == q).map(_._2)
  }

  /** Fit the serving model: query-term selection (first-occurrence rank
    * over the bounded query table) + ONE row-local corpus stats/df pass
    * (size + array_contains — corpus text never explodes here). None
    * when the query table yields no terms. */
  def fitBm25For(docs: DataFrame, queryDocs: DataFrame, qTerms: Int = 6,
                 k1: Double = 1.2, b: Double = 0.75): Option[Bm25Model] = {
    val ts = tokens(col("text"))
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("fp"))
    val qtermRows = queryDocs
      .select(col("query_id"), posexplode(ts))
      .groupBy(col("query_id"), col("col").as("token"))
      .agg(min(col("pos")).as("fp"))
      .withColumn("rn", row_number().over(qw))
      .filter(col("rn") <= qTerms)
      .select(col("query_id"), col("token"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    if (qtermRows.isEmpty) return None
    val qtokens = qtermRows.map(_._2).distinct.sorted
    // corpus stats + per-term df in one ROW-LOCAL pass (array_contains,
    // no explode): df(t) = docs containing t, exactly "tf > 0" docs
    val statAggs = Seq(count(lit(1)).as("n_docs"),
      sum(size(ts).cast("long")).as("total_len")) ++
      qtokens.map(t => sum(array_contains(ts, t).cast("long")).as(s"df_$t"))
    val statsRow = docs.agg(statAggs.head, statAggs.tail: _*).collect()(0)
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble
    // per-token idf, driver-computed with the same IEEE expression
    // shape the oracle's SQL uses on the same exact integers
    val idfOf = qtokens.map { t =>
      val df = statsRow.getAs[Long](s"df_$t").toDouble
      t -> (nDocs.toDouble - df + 0.5) / (df + 0.5)
    }.toMap
    Some(Bm25Model(qtermRows, idfOf, avgdl, k1, b))
  }

  /** The per-(token, doc) grid contribution — ONE expression builder
    * shared by the batch exploded plan and the streaming row-local
    * scorer, so their scores are bitwise identical by construction. */
  def bm25Contribution(idf: Column, tf: Column, dl: Column,
                       m: Bm25Model): Column =
    floor(idf
        * (tf.cast("double") * lit(m.k1 + 1.0))
        / (tf.cast("double")
           + lit(m.k1) * (lit(1.0 - m.b)
             + lit(m.b) * dl.cast("double") / lit(m.avgdl)))
        * lit(Bm25Grid.toDouble)).cast("long")

  /** Top-k ranking against a fitted model — the exploded batch plan
    * (one corpus pass behind the literal in-list filter). */
  def bm25TopKWith(docs: DataFrame, m: Bm25Model, k: Int = 10): DataFrame = {
    val ts = tokens(col("text"))
    val qtokens = m.qtokens
    val q4t = m.qterms.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val tokLits = array(qtokens.map(lit): _*)
    val idfMap = map_from_arrays(tokLits,
      array(qtokens.map(t => lit(m.idf(t))): _*))
    val qMap = map_from_arrays(tokLits,
      array(qtokens.map(t => array(q4t(t).map(lit): _*)): _*))
    // the one exploded corpus pass: literal in-list filter before the
    // (doc, token) tf shuffle
    val tf = docs
      .select(col("doc_id"), size(ts).cast("long").as("dl"),
        explode(ts).as("token"))
      .filter(col("token").isin(qtokens: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val contrib = tf
      .withColumn("query_id", explode(element_at(qMap, col("token"))))
      .withColumn("cg", bm25Contribution(
        element_at(idfMap, col("token")), col("tf"), col("dl"), m))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sg").desc, col("doc_id"))
    contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("cg")).as("sg"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("rank"),
        (col("sg").cast("double") / lit(Bm25Grid.toDouble)).as("score"))
  }
}
