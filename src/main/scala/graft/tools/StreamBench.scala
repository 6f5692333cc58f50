package graft.tools

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.TextAnalytics
import graft.operators.IncrementalDedup
import graft.streaming._

/** The tracked streaming-surface benchmark (r10 verdict item 6): every
  * streaming twin driven MemoryStream -> noop sink, with
  * sustained drain throughput AND the max observed state-row count —
  * the committed evidence that each twin's state contract (k-bounded,
  * TTL-evicted, sketch-fixed, zero-row gate, stateless join) holds
  * under load, not just in its equivalence spec. Writes ONE JSON file
  * (default STREAM_BENCH.json, committed and refreshed at round close;
  * StreamBenchSpec re-derives the state bounds from the constants
  * below and checks the committed artifact against them). Usage:
  *   runMain graft.tools.StreamBench [batches] [batchSize] [outPath]
  *
  * Static models/indexes (BM25, DSIR, near-dup band/simhash, linkage
  * variants, the admission dedup index) are frozen against the sf0.001
  * corpus — the index-then-serve split every twin documents — and the
  * streamed texts cycle the same fixture so token/shingle distributions
  * are the corpus's, not a synthetic's. */
object StreamBench {

  // drive parameters — StreamBenchSpec derives its state bounds from
  // these, so a contract change must touch both files deliberately
  val TransitionUsers = 100000L
  val SessionUsers = 10000L
  val AsofUsers = 10000L
  val Topics = 200
  val PartsPerTopic = 5
  val EventTypes: Array[String] =
    Array("click", "view", "purchase", "signup", "refund")
  val RetrievalQueries = 5
  val RetrievalK = 10
  val CurateTtlSeconds = 300L
  val CurateSpanPerBatch = 60L
  val Langs: Array[String] = Array("en", "de", "fr")

  case class Res(events: Long, sec: Double, maxState: Long)

  /** Per-twin cause annotations for the committed artifact: the slowest
    * twins' throughput must be self-explaining in STREAM_BENCH.json the
    * way the batch sidecar's settle records are (r11 verdict item 6).
    * StreamBenchSpec asserts the bottom twin carries one. */
  val Annotations: Map[String, String] = Map(
    "retrieval_topk" -> ("per-document cost is the frozen model's " +
      "row-local scoring: nQueries x termsPerQuery token-array scans " +
      "per arriving doc (scoredHits builds one tf filter-count per " +
      "query term), so throughput scales inversely with query-set " +
      "size and doc length; state stays nQueries x k regardless"),
    "curate" -> ("per-document cost is content-hash + quality scoring " +
      "over full fixture texts plus a TTL-windowed dedup state probe " +
      "per doc; rows are corpus documents (docBatch), not synthetic " +
      "skinny events like the 10k+ rows/s twins"),
    "ingest_chain" -> ("gate -> excise as ONE query: each document " +
      "pays the admission gate's signature+band probe AND the " +
      "excision's positional n-gram probe in sequence, plus a second " +
      "keyed exchange between the two collapse stages and the deeper " +
      "two-stage micro-batch DAG's fixed cost - so throughput sits " +
      "below even the harmonic composition of the two standalone " +
      "twins (admission_gate, incremental_excise); state stays zero " +
      "across both collapse stages"))

  /** Feed `batches` generated chunks through a started query, tracking
    * wall time and the max state-operator row total across progress.
    * The max folds over recentProgress — a SINCE-START rolling buffer
    * bounded at spark.sql.streaming.numRecentProgressUpdates entries
    * (default 100), NOT a per-sample window (r12 ADVICE 4) — plus
    * lastProgress; correctness here relies only on the fold being a
    * monotone max sampled every batch, so a drain that executes multiple
    * micro-batches per sample (timeout-driven no-data batches after
    * eviction) cannot understate the peak the state contracts bound
    * (r11 ADVICE). A refactor wanting per-sample isolation must diff
    * progress buffers itself — recentProgress does not provide it. */
  private def drain[A](input: MemoryStream[A], q: StreamingQuery,
                       batches: Int)(rows: Int => Seq[A]): Res = {
    var maxState = 0L
    var n = 0L
    val t0 = System.nanoTime()
    try {
      for (b <- 0 until batches) {
        val rs = rows(b)
        n += rs.size
        input.addData(rs)
        q.processAllAvailable()
        val st = (Option(q.lastProgress).toSeq ++ q.recentProgress.toSeq)
          .map(p => Option(p.stateOperators).map(_.map(_.numRowsTotal).sum)
            .getOrElse(0L))
          .foldLeft(0L)(math.max)
        if (st > maxState) maxState = st
      }
      Res(n, (System.nanoTime() - t0) / 1e9, maxState)
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val batches = args.headOption.map(_.toInt).getOrElse(12)
    val batchSize = args.lift(1).map(_.toInt).getOrElse(20000)
    val outPath = args.lift(2).getOrElse("STREAM_BENCH.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = ToolSession()
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val docBatch = math.max(batchSize / 5, 1)
    // fixture texts, cycled with fresh ids: corpus-real token/shingle
    // distributions for every text-driven twin
    val fixtureDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val texts = fixtureDocs.select($"text").as[String].collect()
    val sources = fixtureDocs.select($"source").distinct().as[String].collect()
    def textOf(i: Long): String = texts((i % texts.length).toInt)

    val results = scala.collection.mutable.LinkedHashMap[String, Res]()
    def run(name: String)(body: => Res): Unit = {
      val r = body
      results += name -> r
      System.err.println(f"[streambench] $name: ${r.events} rows in " +
        f"${r.sec}%.1fs = ${r.events / math.max(r.sec, 1e-9)}%.0f rows/s, " +
        f"max state rows ${r.maxState}")
    }

    // --- transitions: user-keyed LastSeen state under live TTL
    // eviction. Each batch SPANS 60 s of event time with ttl=30 s under
    // that span, so the state plateau sits BELOW the user population —
    // the live-eviction evidence (see the r9 notes).
    run("transitions") {
      val input = MemoryStream[TransitionStream.Ev]
      val q = TransitionStream.transitions(input.toDS(), ttlSeconds = 30L,
          watermarkDelay = "0 seconds")
        .writeStream.format("noop").outputMode("append").start()
      var eid = 0L
      drain(input, q, batches) { b =>
        (0 until batchSize).map { i =>
          eid += 1
          TransitionStream.Ev((b.toLong * batchSize + i) % TransitionUsers,
            b * 60L + i.toLong * 60L / batchSize, eid,
            EventTypes(i % EventTypes.length))
        }
      }
    }

    // --- curate: content-hash dedup state, TTL = CurateTtlSeconds of
    // event time against CurateSpanPerBatch per batch -> state holds
    // the TTL window, not history
    run("curate") {
      val input = MemoryStream[DocStream.DocIngest]
      val q = DocStream.curate(input.toDS(), minQuality = 0.2,
          watermarkDelay = "0 seconds", ttlSeconds = CurateTtlSeconds)
        .writeStream.format("noop").outputMode("append").start()
      var id = 0L
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          id += 1
          DocStream.DocIngest(id, textOf(id) + s" uniq${id}", "en", "web",
            new Timestamp((b * CurateSpanPerBatch +
              i.toLong * CurateSpanPerBatch / docBatch) * 1000L))
        }
      }
    }

    // --- minute rollup: watermarked tumbling window agg — state is the
    // open (type, minute) windows inside the watermark, not history
    run("minute_rollup") {
      val input = MemoryStream[EventStream.Event]
      val q = EventStream.minuteRollup(input.toDS(),
          watermarkDelay = "2 minutes")
        .writeStream.format("noop").outputMode("update").start()
      drain(input, q, batches) { b =>
        (0 until batchSize).map { i =>
          val t = b * 300L + i.toLong * 300L / batchSize
          EventStream.Event(b.toLong * batchSize + i, t,
            (b.toLong * batchSize + i) % SessionUsers,
            EventTypes(i % EventTypes.length), (i % 100) / 10.0)
        }
      }
    }

    // --- session rollup: native session windows — state is the OPEN
    // sessions (<= active users), flushed as the watermark passes
    run("session_rollup") {
      val input = MemoryStream[EventStream.Event]
      val q = EventStream.sessionRollup(input.toDS(),
          watermarkDelay = "0 seconds")
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        // 3600 s per batch: a user's next touch lands past the 30-min
        // session gap, so sessions CLOSE and state tracks open sessions
        (0 until batchSize).map { i =>
          val t = b * 3600L + i.toLong * 3600L / batchSize
          EventStream.Event(b.toLong * batchSize + i, t,
            (b.toLong * batchSize + i) % SessionUsers,
            EventTypes(i % EventTypes.length), 1.0)
        }
      }
    }

    // --- offset deltas: fixed topic/partition topology — state rows
    // track the LIVE key set (TTL far above the feed span: no eviction)
    run("offset_deltas") {
      val input = MemoryStream[OffsetStream.WatermarkScan]
      val q = OffsetStream.deltasWithTtl(input.toDS(),
          watermarkDelay = "0 seconds", ttlSeconds = 86400L)
        .writeStream.format("noop").outputMode("append").start()
      val keys = Topics * PartsPerTopic
      drain(input, q, batches) { b =>
        (0 until batchSize).map { i =>
          val k = ((b.toLong * batchSize + i) % keys).toInt
          OffsetStream.WatermarkScan("c1", s"t${k / PartsPerTopic}",
            (k % PartsPerTopic).toLong, 0L,
            b * 1000L + i, b * 300L + i.toLong * 300L / batchSize)
        }
      }
    }

    // --- anomaly: one trailing ring per event type — |types| state rows
    run("anomaly") {
      val input = MemoryStream[AnomalyStream.MinuteAgg]
      val q = AnomalyStream.detect(input.toDS())
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        (0 until batchSize).map { i =>
          AnomalyStream.MinuteAgg(EventTypes(i % EventTypes.length),
            b.toLong * batchSize + i,
            100L + (i % 37) + (if (i % 997 == 0) 5000L else 0L))
        }
      }
    }

    // --- as-of enrich: last-click reference per user — <= users rows
    run("asof_enrich") {
      val input = MemoryStream[AsofStream.AsofEvent]
      val q = AsofStream.enrich(input.toDS())
        .writeStream.format("noop").outputMode("append").start()
      val us = 1000000L
      drain(input, q, batches) { b =>
        (0 until batchSize).map { i =>
          val t = (b * 600L + i.toLong * 600L / batchSize) * us
          AsofStream.AsofEvent((b.toLong * batchSize + i) % AsofUsers, t,
            if (i % 5 == 4) 1 else 0, b.toLong * batchSize + i, i / 10.0)
        }
      }
    }

    // --- sketch twins: fixed-size state by construction
    run("cms_cells") {
      val input = MemoryStream[(Long, String)]
      val q = CmsStream.cells(input.toDF().toDF("doc_id", "text"))
        .writeStream.format("noop").outputMode("update").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map(i =>
          (b.toLong * docBatch + i) -> textOf(b.toLong * docBatch + i))
      }
    }
    run("hll_registers") {
      val input = MemoryStream[(Long, String, String)]
      val q = HllStream.registers(
          input.toDF().toDF("doc_id", "lang", "text"))
        .writeStream.format("noop").outputMode("update").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = b.toLong * docBatch + i
          (id, Langs((id % Langs.length).toInt), textOf(id))
        }
      }
    }
    run("lc_occupancy") {
      val input = MemoryStream[(Long, String, String)]
      val q = LcStream.occupancy(
          input.toDF().toDF("doc_id", "lang", "text"))
        .writeStream.format("noop").outputMode("update").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = b.toLong * docBatch + i
          (id, Langs((id % Langs.length).toInt), textOf(id))
        }
      }
    }

    // --- stateless serve paths: frozen model/index, stream-static
    // joins or row-local scoring — ZERO state rows is the contract
    run("dsir_scored") {
      val model = TextAnalytics.fitDsir(fixtureDocs)
      val input = MemoryStream[(Long, String)]
      val q = DsirStream.scoredDocs(
          input.toDF().toDF("doc_id", "text"), model)
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map(i =>
          (b.toLong * docBatch + i) -> textOf(b.toLong * docBatch + i))
      }
    }
    run("sampled") {
      val input = MemoryStream[(Long, String)]
      val q = SampleStream.sampled(input.toDF().toDF("doc_id", "text"))
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        (0 until batchSize).map(i =>
          (b.toLong * batchSize + i) -> "x")
      }
    }
    run("neardup_detections") {
      val index = NearDupStream.bandIndex(fixtureDocs).localCheckpoint()
      val input = MemoryStream[(Long, String)]
      val q = NearDupStream.detections(
          input.toDF().toDF("doc_id", "text"), index, threshold = 0.5)
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = 1000000L + b.toLong * docBatch + i
          id -> textOf(id)
        }
      }
    }
    run("simhash_detections") {
      val index = NearDupStream.simhashIndex(fixtureDocs, maxHamming = 4)
        .localCheckpoint()
      val input = MemoryStream[(Long, String)]
      val q = NearDupStream.simhashDetections(
          input.toDF().toDF("doc_id", "text"), index, maxHamming = 4)
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = 1000000L + b.toLong * docBatch + i
          id -> textOf(id)
        }
      }
    }
    run("linkage_matches") {
      val customer = spark.read.parquet(s"$sfDir/customer.parquet")
      val index = LinkageStream.variantIndex(customer, "c_custkey", "c_name")
        .localCheckpoint()
      val names = customer.select($"c_name").as[String].collect()
      val input = MemoryStream[(Long, String)]
      val q = LinkageStream.matches(
          input.toDF().toDF("id", "name"), index)
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = 1000000L + b.toLong * docBatch + i
          id -> names((id % names.length).toInt)
        }
      }
    }

    // --- admission gate: the zero-retained-state flatMapGroupsWithState
    run("admission_gate") {
      val split = IncrementalDedup.splitAt(fixtureDocs)
      val corpus = fixtureDocs.filter($"doc_id" <= split)
      val sigs = IncrementalDedup.sigIndex(corpus).cache()
      val exactIdx = IncrementalDedup.exactIndex(corpus).cache()
      val bandIdx = IncrementalDedup.rankedIndex(
        IncrementalDedup.bandRows(sigs)).cache()
      val probe = AdmissionStream.probeTable(bandIdx, sigs).cache()
      val input = MemoryStream[(Long, String, String)]
      val q = AdmissionStream.gateStream(
          input.toDF().toDF("doc_id", "text", "source"), exactIdx, probe)
        .writeStream.format("noop").outputMode("update").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = 1000000L + b.toLong * docBatch + i
          (id, textOf(id), sources((id % sources.length).toInt))
        }
      }
    }

    // --- retrieval: nQueries x k bounded running top-k
    run("retrieval_topk") {
      val model = TextAnalytics.fitBm25For(fixtureDocs,
        fixtureDocs.filter($"doc_id" < RetrievalQueries)
          .select($"doc_id".as("query_id"), $"text")).get
      val input = MemoryStream[(Long, String)]
      val q = RetrievalStream.bm25TopKStream(
          input.toDF().toDF("doc_id", "text"), model, k = RetrievalK)
        .writeStream.format("noop").outputMode("update").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = b.toLong * docBatch + i
          id -> textOf(id)
        }
      }
    }

    // --- pii redaction: fully stateless row-local map (no state
    // operator at all) — texts carry the fixture corpus plus injected
    // PII in the q_pii_redact modular classes
    run("pii_redact") {
      val input = MemoryStream[(Long, String)]
      val q = RedactStream.redacted(input.toDF().toDF("doc_id", "text"))
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = b.toLong * docBatch + i
          id -> (textOf(id) +
            (if (id % 3 == 0) s" contact user$id@example.com" else "") +
            (if (id % 5 == 0) " call +1 (555) 123-4567" else "") +
            (if (id % 7 == 0) s" from 10.${id % 256}.0.${id % 100}" else ""))
        }
      }
    }

    // --- boilerplate strip: the frozen per-source template set is the
    // VERSIONED state (index-then-serve); the per-doc collapse never
    // writes state — zero retained rows is the contract
    run("boiler_strip") {
      val set = TextAnalytics.boilerSet(
        graft.functions.FixtureCorpora.templated(fixtureDocs)).localCheckpoint()
      val input = MemoryStream[(Long, String, String)]
      val q = StripStream.stripStream(
          input.toDF().toDF("doc_id", "source", "text"), set)
        .writeStream.format("noop").outputMode("update").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = b.toLong * docBatch + i
          (id, sources((id % sources.length).toInt),
            (if (id % 2 == 0)
              "all rights reserved contact us for more info " else "") +
              textOf(id) +
              (if (id % 3 == 0)
                " subscribe to our newsletter for weekly updates" else ""))
        }
      }
    }

    // --- cross-crawl span excision: the frozen corpus n-gram index is
    // the versioned state (the lake's fourth table); per-doc collapse
    // never writes state — zero retained rows is the contract
    run("incremental_excise") {
      val split = IncrementalDedup.splitAt(fixtureDocs)
      val ngramIdx = IncrementalDedup.ngramIndex(
        fixtureDocs.filter($"doc_id" <= split)).localCheckpoint()
      val input = MemoryStream[(Long, String)]
      val q = ExciseStream.exciseStream(
          input.toDF().toDF("doc_id", "text"), ngramIdx)
        .writeStream.format("noop").outputMode("update").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = 1000000L + b.toLong * docBatch + i
          id -> textOf(id)
        }
      }
    }

    // --- the production ingest chain: gate -> excise as ONE query
    // (r13 verdict item 3) — admitted docs only reach the excision;
    // zero retained state across BOTH collapse stages is the contract
    run("ingest_chain") {
      val split = IncrementalDedup.splitAt(fixtureDocs)
      val corpus = fixtureDocs.filter($"doc_id" <= split)
      val sigs = IncrementalDedup.sigIndex(corpus).cache()
      val exactIdx = IncrementalDedup.exactIndex(corpus).cache()
      val probe = AdmissionStream.probeTable(
        IncrementalDedup.rankedIndex(IncrementalDedup.bandRows(sigs)),
        sigs).cache()
      val ngramIdx = IncrementalDedup.ngramIndex(corpus).localCheckpoint()
      val input = MemoryStream[(Long, String, String)]
      val q = IngestChain.chainStream(
          input.toDF().toDF("doc_id", "text", "source"),
          exactIdx, probe, ngramIdx)
        .writeStream.format("noop").outputMode("append").start()
      drain(input, q, batches) { b =>
        (0 until docBatch).map { i =>
          val id = 1000000L + b.toLong * docBatch + i
          (id, textOf(id), sources((id % sources.length).toInt))
        }
      }
    }

    def fmt(d: Double): String = f"$d%.3f"
    // JSON-escape the note text (r12 ADVICE 2): the current constants
    // are clean, but a future annotation containing a quote, backslash,
    // or control char would silently corrupt the artifact — and
    // StreamBenchSpec's Twin regex would then DROP the whole twin entry
    // rather than fail loudly.
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val twinsJson = results.map { case (name, r) =>
      s""""$name":{"events":${r.events},"sec":${fmt(r.sec)},""" +
        s""""rows_per_sec":${fmt(r.events / math.max(r.sec, 1e-9))},""" +
        s""""max_state_rows":${r.maxState}""" +
        Annotations.get(name).map(a => s""","note":"${esc(a)}"""").getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"stream_bench","batches":$batches,""" +
      s""""batch_size":$batchSize,"doc_batch":$docBatch,"sf":"$sfDir",""" +
      s""""twins":$twinsJson}"""
    val out = new java.io.PrintWriter(outPath, "UTF-8")
    try out.println(line) finally out.close()
    println(line)
    spark.stop()
  }
}
