package graft

/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Output contract (two sinks, one stdout line):
  *   - FULL results — every per-query timing at ns precision — are written to
  *     `BENCH_FULL_c<cpus>.json` (override with SPARK_GRAFT_BENCH_OUT; the
  *     per-core-count name keeps the driver's two bench runs from clobbering
  *     each other). The driver's stdout capture keeps only the last 2000
  *     characters, which has truncated the head of the full per-query map
  *     when the line outgrew the window (BENCH_r01–r04, r16, r17 all have
  *     `parsed: null`); the file is the complete record.
  *   - stdout gets ONE SHORT JSON line — total/load/failed plus a fixed
  *     headline subset of per-query timings — precision auto-drops from 3 dp
  *     to 2 dp so the line stays under the 2000-char tail window (incl. the
  *     sbt success trailer) and the driver can parse it.
  *
  * The derived-KG edges view is materialized once up front (load phase,
  * reported as load_sec) — the analog of the reference's eager adjacency
  * index build at KG load (graph.py:30-51); per-query timings then measure
  * query execution, not shared ETL. */
object Bench {

  /** Fixed cross-round headline set: the historically slowest queries plus
    * one representative per operator family. Stable keys so BENCH_r{N} rounds
    * stay comparable against BASELINE. */
  val headline: Seq[String] = Seq(
    "ann_pq_topk", "ann_brute_topk", "cluster_kmeans",
    "cqd_2p_transe", "cqd_batch_2p", "cqd_3c_beam",
    "dedup_minhash_lsh", "dedup_groups", "dedup_jaccard_pairs",
    "eval_efo1_suite", "kg_2i", "kg_3c", "kg_up_dnf",
    "lmpnn_2p", "metric_mrr", "multimodal_features",
    "q_g2_bfs", "q_pagerank_fixed", "q_join_revenue_topk",
    "q_stream_sessions", "sample_weighted",
    "text_decontaminate", "text_repetition", "text_tfidf_topk",
    // round-5 additions
    "text_winnow", "text_pmi_topk", "ann_hard_negatives",
    "dedup_substring_spans", "dedup_span_redact", "sample_dsir",
    "text_bigram_logp", "q_stream_join", "ann_recall",
    "train_transe_step", "dedup_incremental", "q_triangles",
    // round-8 additions
    "q_range_join", "q_funnel", "text_bpe_encode_fused",
    "multimodal_jpeg_decode", "lmpnn_1p_bias", "emb_int8_error",
    // round-11 additions
    "layout_zorder_prune", "layout_bucketed_join", "cdc_snapshot_diff",
    "multimodal_mp3_imdct", "multimodal_mpeg1_pframe",
    "dq_report", "ts_resample_locf", "q_graph_lpa", "sketch_hll_merge",
    // round-14 additions: the composed pipeline and the end-to-end
    // real-table MP3 PCM chain
    "pipeline_end_to_end", "multimodal_mp3_pcm",
    // round-15 additions: the new stereo/LSF decode chains and the
    // HTML boilerplate-removal stage
    "multimodal_mp3_intensity_mixed", "multimodal_mp3_lsf",
    "text_html_extract",
    // round-16 additions: the LSF short/intensity decode, the composed
    // IVF-PQ index, the native Bloom path, and the SQL-facade pipeline
    "multimodal_mp3_lsf_short", "multimodal_mp3_lsf_intensity",
    "ann_ivfpq_topk", "dedup_bloom_native", "facade_sql_pipeline",
    // round-17 additions: the AAC-LC payload chain
    "multimodal_aac_sce_long", "multimodal_aac_startstop",
    "multimodal_aac_ms",
    // round-17 continuation: FLAC payload, unified dispatch, the
    // composed shard ingest, TIFF PackBits, source hardening, interp
    "multimodal_flac_decode", "multimodal_audio_dispatch",
    "pipeline_audio_ingest", "multimodal_tiff_packbits",
    "source_csv_quoting", "ts_interpolate")

  /** Characters the stdout line may take: the bench record is read from
    * the last 2000 stdout characters, and sbt appends a ~75-90 char
    * "[success] ..." trailer after this line. */
  private[graft] val LineBudget = 1880

  /** The headline line that fits `budget`: the highest precision of
    * 3, 2, 1 and 0 decimals whose line fits, else the line at 0
    * decimals keeping the most entries that fit, slowest first, with
    * the count of dropped entries passed on as `trimmed` so the line
    * says it is partial. `line(entries, format, trimmed)` renders one
    * candidate. */
  private[graft] def fitLine(head: Seq[(String, Double)], budget: Int)(
      line: (Seq[(String, Double)], Double => String, Int) => String)
      : String = {
    val fmts = Seq[Double => String](v => f"$v%.3f", v => f"$v%.2f",
      v => f"$v%.1f", v => f"$v%.0f")
    fmts.iterator.map(line(head, _, 0)).find(_.length <= budget).getOrElse {
      val slowest = head.sortBy { case (k, v) => (-v, k) }
      val keep = (head.length - 1 to 0 by -1).find(n =>
        line(slowest.take(n), fmts.last, head.length - n).length <= budget)
        .getOrElse(0)
      val kept = slowest.take(keep).map(_._1).toSet
      line(head.filter(e => kept(e._1)), fmts.last, head.length - keep)
    }
  }

  /** 1-minute system load average (or -1 when the platform hides it):
    * the sandbox CPU-throttles under sustained load (NOTES.md — the same
    * bench has measured 82 s fresh-boot vs 177–783 s after ~30 min of
    * load), so every emitted number carries the load context needed to
    * adjudicate a slow round as throttle vs regression. */
  private def loadAvg: Double = {
    val l = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    math.rint(l * 100) / 100
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // Per-core-count file name: the driver runs the bench at TWO core
    // counts back-to-back, and a fixed name let the second run clobber
    // the first's full per-query record (r17 verdict #2 — the 8-core run
    // destroyed the 32-core BENCH_FULL.json).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_FULL_c$cpus.json")
    // De-noising: run every query REPEAT times and report the per-query
    // MEDIAN. Default is 3 as of round 8 (judge request: the sandbox's CPU
    // throttling made single-pass round-over-round deltas a lottery —
    // identical binaries swung >5× both ways between r6 and r7). Medians
    // of repeats are warmer (codegen compiled on pass 1) but
    // throttle-resistant; the emitted JSON carries `repeat` so historical
    // single-pass numbers stay adjudicable. Set SPARK_GRAFT_BENCH_REPEAT=1
    // for a quick single pass.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "3").toInt
      .max(1)
    // Optional comma-separated query-name filter for local perf
    // iteration (the Verify subset-arg analog); absent = full suite.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val loadStart = loadAvg
    val spark = GraftSession.local(cpus.toInt)

    val tLoad = System.nanoTime()
    graft.model.KG.edges(spark, sfDir)
    val loadSec = (System.nanoTime() - tLoad) / 1e9

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (name, fn) =>
      val runs = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
            false
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // Median of the timings (lower-middle for even n); failed iff any
      // run failed — a flaky crash must still fail the bench.
      val med = runs.map(_._1).sorted.apply((runs.size - 1) / 2)
      (name, med, runs.forall(_._2))
    }
    val total = results.map(_._2).sum
    val loadEnd = loadAvg
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")

    // First-class throttle marker (r11 verdict ask #3): a run STARTED on
    // a busy box (loadavg > 1.0) is flagged in the emitted JSON itself,
    // so a committed BENCH_r{N} snapshot self-identifies as
    // throttled-vs-idle without cross-referencing NOTES. (The sandbox
    // CPU-throttles: identical binaries have measured 157 s idle vs
    // 177+ s at loadavg 5.7.)
    val throttled = loadStart > 1.0
    def jsonLine(qs: Seq[(String, Double)], fmt: Double => String,
                 withFull: Boolean, trimmed: Int = 0): String = {
      val m = qs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$m,""" +
        (if (trimmed > 0) s""""trimmed":$trimmed,""" else "") +
        s""""failed":$failed,"n_queries":${results.size},"sf":"$sfDir",""" +
        s""""load_sec":${fmt(loadSec)},"loadavg":[$loadStart,$loadEnd],""" +
        s""""throttled":$throttled,"repeat":$repeat""" +
        (if (withFull) s""","full":"$outPath"}""" else "}")
    }

    val full = jsonLine(results.map(r => (r._1, r._2)), _.toString,
      withFull = true)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes("UTF-8"))

    val head = results.collect {
      case (k, v, _) if headline.contains(k) => (k, v)
    }
    println(fitLine(head, LineBudget)((qs, fmt, trimmed) =>
      jsonLine(qs, fmt, withFull = false, trimmed)))
    spark.stop()
    // A crashing query must fail the bench run, not just skew a timing.
    if (results.exists(!_._3)) sys.exit(1)
  }
}
