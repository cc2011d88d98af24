package graft

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline query set on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Queries execute through the `noop` sink so the FULL physical plan runs
  * (a bare `.count()` lets Catalyst prune every column and skip the
  * project/compute work being measured). Methodology, hardened over
  * rounds 6-8 against co-located machine load:
  *
  *   - per-query untimed warmup (codegen compile + parquet footer caches),
  *     whose seconds are reported apart under `"cold"` (a first run also
  *     pays one-off session costs such as `Tables`' schema inference),
  *     then MIN of 3 timed runs — timing noise is strictly additive, so
  *     the minimum is the stablest estimator of true plan cost;
  *   - the 3 timed passes run ROUND-ROBIN across the whole query set
  *     (pass 1 over all queries, then pass 2, then pass 3) instead of
  *     back-to-back per query: a multi-minute load spike now pollutes at
  *     most one pass of each query instead of all three runs of whichever
  *     queries it overlaps (round-7 BENCH recorded 8.1 s for a 1.4 s
  *     query exactly that way);
  *   - a fixed calibration sentinel (q97, pure compute) is timed at
  *     start/middle/end with system load averages; if the sentinel drifts
  *     >1.5× the run is flagged `"contaminated": true` in the JSON so a
  *     dirty run is *recorded as dirty* instead of silently skewing
  *     round-over-round comparisons;
  *   - the skew stress pair (q193 plain / q194 salted) additionally
  *     records per-stage straggler metrics (max vs median task duration
  *     and shuffle-read records in the heaviest stage) via a listener —
  *     the 1000-executor skew argument rests on the straggler profile,
  *     not on sf0.1 wall time. These two queries (only) time MIN of 5
  *     runs: their min-of-3 demonstrably failed to converge across
  *     same-code captures (round-16 verdict item 7).
  */
object Bench {

  /** Headline set: scan-agg, joins (incl. the 5-way TPC-H shapes and the
    * paper's TPC-DS Q5/Q16/Q94/Q95 quartet), windows, explode, dedup
    * (exact + MinHash/SimHash LSH), similarity (brute force + LSH), text
    * stats, temporal joins, streaming, and the compute kernel — the
    * shapes BASELINE.md grades. The heavy multi-join and temporal plans
    * are here so a planner regression surfaces in the BENCH totals (the
    * way q123/q127 did in round 3). */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q06_forecast_revenue", "q13_cust_order_distribution", "q22_multi_distinct",
    "q23_cube", "q33_window_rank", "q34_window_running", "q45_lateral_explode",
    "q60_dedup_exact", "q61_dedup_fingerprint", "q63_dedup_minhash_lsh",
    "q64_dedup_simhash", "q66_sim_bruteforce_topk", "q67_sim_lsh_topk",
    "q69_sim_custom_topk", "q70_text_token_stats", "q71_text_token_count",
    "q90_stream_hourly_counts", "q97_compute_pi", "q120_nation_trade_volume",
    "q121_market_share", "q122_product_profit", "q123_returned_items",
    "q127_small_quantity_orders", "q131_sessionize", "q132_funnel",
    "q140_asof_join", "q141_range_join", "q166_trigram_generator",
    "q182_corpus_pipeline_e2e", "q193_skew_join_plain", "q194_skew_join_salted",
    "q201_tpcds_q16_shipping", "q202_tpcds_q94_shipping",
    "q203_tpcds_q95_multi_supplier", "q204_tpcds_q5_channel_rollup",
    "q205_tpcds_q95_cte_materialized", "q221_v2_function_catalog",
    "q222_dsv2_columnar_scan", "q223_epoch_shuffle",
    "q224_dedup_sql_statement", "q225_token_budget_sample",
    "q226_manifest_data_skipping", "q227_dedup_writeback",
    "q228_source_xml_roundtrip", "q229_source_binaryfile",
    "q230_statestore_reader", "q231_zorder_box_query",
    "q232_spj_colocated_join", "q233_stream_dedup_watermark",
    "q234_bucketed_manifest_join", "q235_manifest_parquet_mixed",
    "q236_manifest_evolution", "q237_manifest_typed_columns",
    "q238_manifest_merge_on_read", "q239_manifest_metadata_delete",
    "q240_manifest_embeddings_ann", "q241_manifest_day_spj",
    "q242_manifest_multi_partition", "q243_manifest_partitions_meta",
    "q244_manifest_refs", "q245_manifest_change_feed",
    "q246_manifest_branch_wap", "q247_cdf_index_maintenance",
    "q248_manifest_bloom_probe", "q249_manifest_scoped_compact",
    "q250_manifest_column_defaults", "q251_manifest_sort_order",
    "q252_manifest_add_files", "q253_manifest_upsert",
    "q254_cdf_upsert_maintenance", "q255_manifest_replace_table",
    "q256_manifest_widened", "q257_cdf_update_images",
    "q258_ann_governed_index", "q259_hours_retention",
    "q260_capped_stream_drain", "q261_governed_band_index",
    "q262_governed_view", "q263_materialized_view", "q264_mv_rewrite",
    "q265_merge_not_matched_by_source", "q266_row_lineage",
    "q267_agg_pushdown", "q268_cbo_live_stats_reorder",
    "q269_star_join_mv", "q270_stale_mv_compensation",
    "q271_variant_governed", "q272_histogram_broadcast_flip",
    "q273_mv_rollup_rewrite", "q274_left_dim_mv",
    "q275_variant_shred_skipping", "q276_mv_maintenance",
    "q277_mv_sql_ddl", "q278_cdf_skip_maintenance",
    "q279_shallow_clone")

  private val sentinelName = "q97_compute_pi"
  private val stragglerQueries =
    Seq("q193_skew_join_plain", "q194_skew_join_salted")

  /** Per-task (duration, shuffle-read records) grouped by stage; events
    * arrive sequentially on the listener-bus thread. */
  private final class StageTaskStats extends SparkListener {
    val byStage = TrieMap[Int, ArrayBuffer[(Long, Long)]]()
    val taskCount = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskMetrics != null) {
        byStage.getOrElseUpdate(t.stageId, ArrayBuffer()) +=
          ((t.taskInfo.duration, t.taskMetrics.shuffleReadMetrics.recordsRead))
        taskCount.incrementAndGet()
      }

    /** The straggler profile of the heaviest stage (the one holding the
      * longest single task): max vs median task duration, max vs median
      * shuffle-read records. A skewed plain join shows max ≫ median; a
      * salted one is flat. */
    def summaryJson: String = {
      val stages = byStage.values.filter(_.nonEmpty)
      if (stages.isEmpty) return """{"tasks":0}"""
      // the skew lives in the shuffle-READ (join) stage; scan/map stages
      // with zero shuffle-read records are not the profile being recorded
      val withReads = stages.filter(_.exists(_._2 > 0))
      val hot = (if (withReads.nonEmpty) withReads else stages)
        .maxBy(_.map(_._1).max)
      def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
      val durs = hot.map(_._1).toSeq
      val recs = hot.map(_._2).toSeq
      s"""{"tasks":${hot.size},"max_task_sec":${durs.max / 1e3},""" +
        s""""median_task_sec":${median(durs) / 1e3},""" +
        s""""max_read_records":${recs.max},""" +
        s""""median_read_records":${median(recs)}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // OPT-IN subset filter for scale-proof captures (round-16 verdict
    // item 3: time the top-N at a larger SF at two core counts). UNSET —
    // the driver's case — runs the full headline set with the exact
    // methodology; the driver contract is untouched.
    val selected: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map { s =>
        val want = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        headline.filter(want)
      }.getOrElse(headline)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Double = GraftSession.withConfScope(spark) {
      graft.api.Graft.withCacheScope {
        val t0 = System.nanoTime()
        val ok =
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) dt else -1.0
      } // scope close (untimed) drops the query's pinned caches + confs
    }

    def loadAvg: Double =
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage

    // --- warmup pass (untimed; each query's first, cold run -> "cold") ----
    val cold = selected.map(n => n -> runOnce(n))
    val warmed = cold.map { case (n, t) => n -> (t >= 0) }.toMap

    // --- 3 timed passes, round-robin, calibration at start/middle/end ----
    val cal = ArrayBuffer[Double]()
    val loads = ArrayBuffer[Double]()
    def calibrate(): Unit = {
      cal += (if (warmed.getOrElse(sentinelName, false)) runOnce(sentinelName)
        else -1.0)
      loads += loadAvg
    }
    val timings = TrieMap[String, ArrayBuffer[Double]]()
    calibrate()
    for (pass <- 1 to 3) {
      selected.foreach { n =>
        timings.getOrElseUpdate(n, ArrayBuffer()) +=
          (if (warmed(n)) runOnce(n) else -1.0)
      }
      if (pass == 2) calibrate()
    }
    calibrate()
    // The skew stress pair's min-of-3 demonstrably does not converge for
    // a 32-task salted join under round-robin load (round-16 verdict
    // item 7: q194 ranged 2.67–3.14 s across four same-code captures).
    // Two extra timed runs FOR THESE TWO QUERIES ONLY tighten the min
    // estimator; every other query keeps the exact 3-pass methodology.
    for (_ <- 1 to 2) stragglerQueries.foreach { n =>
      if (timings.contains(n))
        timings(n) += (if (warmed(n)) runOnce(n) else -1.0)
    }

    /** Min of the timed runs — the 3 interleaved ones, plus the 2 extra
      * for the skew pair (min of 5) — any failure reports -1, not a
      * statistic over garbage. */
    val results = selected.map { n =>
      val ts = timings(n).toSeq
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }

    // --- straggler instrumentation for the skew pair ----------------------
    val stragglers = stragglerQueries
      .filter(n => SparkEntry.queries.contains(n) && warmed.getOrElse(n, false))
      .map { n =>
        val stats = new StageTaskStats
        spark.sparkContext.addSparkListener(stats)
        runOnce(n)
        Drain.untilStable(stats.taskCount.get())
        spark.sparkContext.removeSparkListener(stats)
        n -> stats.summaryJson
      }

    val calOk = cal.filter(_ >= 0)
    val drift = if (calOk.size >= 2) calOk.max / math.max(calOk.min, 1e-3) else -1.0
    val contaminated = drift > 1.5

    def secondsJson(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = secondsJson(results)
    val total = results.map(_._2).filter(_ >= 0).sum
    val calJson = cal.mkString("[", ",", "]")
    val loadJson = loads.mkString("[", ",", "]")
    val stragglerJson = stragglers
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""calibration":$calJson,"calibration_drift":$drift,""" +
        s""""contaminated":$contaminated,"load_avg":$loadJson,""" +
        s""""stragglers":$stragglerJson,"cold":${secondsJson(cold)},"sf":"$sfDir"}"""
    // The canonical artifact goes to a FILE: sbt log prefixes and tail-capture
    // limits have repeatedly mangled the stdout line (every recorded
    // BENCH_r*.json through r09 had "parsed": null, r09 truncated mid-number).
    // stdout still carries the same line for the driver's legacy capture path.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    if (outPath.getParent != null) java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Self-contained round artifact (round-16 verdict item 2): the
    // driver's stdout capture has recorded "parsed": null for four
    // rounds, and in round 16 the 8-core run additionally overwrote the
    // 32-core run's target/bench.json. So ALWAYS drop a full per-query
    // copy in the repo root with the core count in the name — no env
    // gating, and the two driver runs (32- and 8-core) land in separate
    // files. The optional round-numbered copy is kept for older readers.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(s"BENCH_parsed_c$cpus.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Exception => } // read-only CWD must not fail the bench
    sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"BENCH_r$r.parsed.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    try java.nio.file.Files.copy(outPath,
      java.nio.file.Paths.get(outPath.toString + ".latest"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: Exception => }
    println(json)
    // Single greppable marker so the driver can locate the canonical file
    // instead of parsing the (historically truncated) stdout JSON tail.
    println(s"BENCH_JSON=${outPath.toAbsolutePath}")
    System.err.println(s"[bench] wrote ${outPath.toAbsolutePath}")
    spark.stop()
  }
}
