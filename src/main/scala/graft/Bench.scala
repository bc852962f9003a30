package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...} for the driver (BENCH_r{N}.json).
  *
  * Each query runs 4× in-JVM at the target sf; run 1 is discarded
  * (session/codegen/file-listing warm-up) and the MEDIAN of the last 3
  * is reported. First-run timings at sf0.1 under this sandbox swing
  * ±2× with JIT and state-store setup order — two rounds of phantom
  * "regressions" on untouched queries traced back to exactly that —
  * while the steady-state median tracks plan cost, which is what
  * scales to a real cluster.
  *
  * METHOD CHANGE (r9): queries evaluate through the `noop` write sink
  * instead of `count()`. count() legally pruned any work feeding only
  * cardinality-preserving joins (q166's dedup subtree, q170's span
  * cutting) — those "timings" measured an id scan. The noop sink
  * forces every column. The one-time count↔noop parity table is in
  * PLANS.md; r8-and-earlier artifacts are count-based.
  */
object Bench {

  /** Headline subset: one per major operator family; kept small enough
    * that the full bench stays in minutes at sf0.1. */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",
    "q02_shipping_priority",
    "q03_join_inner",
    "q05_join_full_outer",
    "q10_rollup",
    "q13_count_distinct",
    "q16_over_running",
    "q19_union_all",
    "q26_subqueries_sql",
    "q28_explode_words",
    "q40_window_tumble",
    "q42_window_session",
    "q48_interval_join",
    "q51_minhash_signatures",
    "q53_simhash",
    "q54_ngram_jaccard",
    "q56_ann_bruteforce",
    "q58_text_stats",
    "q73_temporal_asof_join",
    "q77_salted_join",
    "q105_revenue_forecast",
    "q110_important_parts",
    "q112_customer_distribution",
    "q117_waiting_orders",
    "q119_best_supplier_per_part",
    "q120_hll_distinct",
    // the LLM-data-pipeline flagships, tracked longitudinally
    "q133_dedup_clusters",
    "q136_stream_dedup_minhash",
    "q138_curation_keeplist",
    // r8 text-curation additions (the two shuffle-bearing ones)
    "q155_decontamination",
    "q157_crossdoc_ngram_dup",
    // r9: the incremental-ingest dedup flagship
    "q166_incremental_dedup",
    // r9 additions: semantic dedup, normalization, span-cut dedup,
    // perplexity filter
    "q167_semdedup",
    "q169_text_normalize",
    "q170_substring_dedup",
    "q171_perplexity_filter",
    // r10: the r9-late operators, now tracked longitudinally
    "q165_weighted_mixture_sample",
    "q172_stream_perplexity",
    "q174_vocab_oov",
    "q175_dsir_select",
    // r10 additions: persisted-index dedup, BM25 retrieval, text
    // clustering, novelty, CMS batch + streaming, token-budget mix
    "q176_incremental_index_dedup",
    "q177_bm25_topk",
    "q178_text_cluster",
    "q179_novelty_score",
    "q180_cms_heavy_hitters",
    "q181_token_budget_mix",
    "q182_stream_cms",
    "q183_pmi_collocations",
    "q184_tfidf_keywords",
    "q185_stream_index_ingest",
    // r11 additions: PQ-ADC ANN, RAG chunking, hard-negative mining,
    // int8 quantization
    "q186_pq_adc_topk",
    "q187_chunk_overlap",
    "q188_hard_negatives",
    "q189_int8_quantize",
    "q190_ivfpq_topk",
    "q191_edit_distance_pairs",
    "q192_containment_pairs",
    "q193_stream_trending_terms",
    "q194_ivfpq_residual_topk",
    "q195_mrl_rerank_topk",
    // r11 tail (benched from r12): winnowing, segment dedup, MMR,
    // temperature mix, rotated PQ
    "q196_winnowing_pairs",
    "q197_segment_dedup",
    "q198_mmr_diversified",
    "q199_temperature_mix",
    "q200_rotated_pq_topk",
    // r12 additions: corpus composition analytics
    "q201_stratified_sample",
    "q202_vocab_stats",
    "q203_freq_spectrum",
    "q204_sif_embeddings",
    "q205_source_overlap",
    "q206_source_minhash_sim",
    "q207_ann_recall",
    // r12 additions: quality curation
    "q208_gopher_rules",
    "q209_shard_manifest",
    "q210_psi_drift",
    "q211_quality_canonical",
    "q212_quality_logreg",
    "q213_classifier_gate",
    // r12 additions: LM training / tokenizer training
    "q214_kn_bigram_lm",
    "q215_kn_heldout_ppl",
    "q216_bpe_train",
    "q217_bpe_tokenize",
    "q218_cluster_balanced_keep",
    "q219_stream_classifier_gate",
    "q220_moore_lewis",
    "q221_curation_build",
    // r13 additions: domain reweighting + language budget allocation
    "q222_doremi_weights",
    "q223_unimax_mix",
    // r14 additions: multimodal perceptual-hash near-dup + its
    // dup-heavy-regime scale path (exact-signature cluster reduction)
    "q224_phash_near_dup",
    "q225_phash_dedup",
    // r14 additions: scene segmentation, fertility accounting,
    // per-doc excess-loss selection
    "q226_scene_segments",
    "q227_tokenizer_fertility",
    "q228_rho_select",
    // r15 additions: at-ingest perceptual-hash dedup (streaming twin
    // of q224) and audio energy/silence segmentation
    "q229_stream_phash_dedup",
    "q230_audio_segments",
    "q231_video_near_dup",
    "q232_media_qa_report",
    "q233_stream_media_qa",
    "q234_video_dedup",
    // r15 batch 3: landmark alignment retrieval, tokenizer vocab
    // sizing, embedding-space drift monitoring
    "q235_media_align",
    "q236_vocab_coverage",
    "q237_embed_drift_psi",
    // r16 additions: streaming ANN index ingest, cross-modal pair QA,
    // contamination attribution, epoch-aware dedup-at-selection
    "q238_stream_ann_ingest",
    "q239_crossmodal_pairs",
    "q240_contamination_attribution",
    "q241_epoch_dedup_select",
    "q242_ann_index_topk",
    "q243_stream_contam_attribution",
    "q244_ann_index_health",
    "q245_crossmodal_dedup_clusters",
    "q246_stream_cell_drift",
    // r17 additions: index cell-split maintenance, cross-modal
    // retrieval against the standing index, epoch time-travel probe,
    // signature-duplicate index GC, at-ingest cross-modal retrieval
    "q247_ann_index_split",
    "q248_crossmodal_retrieval",
    "q249_ann_index_asof",
    "q250_ann_index_compact",
    "q251_stream_xmodal_retrieval",
    "q252_ann_index_merge")

  /** Run-context snapshot (r15 verdict item 5): 1-minute loadavg plus
    * the number of OTHER live JVMs on the box, sampled from /proc.
    * Stamped into the metric line at run START and END so a
    * contention-inflated artifact self-identifies (the r14/r15 driver
    * rows all adjudicated "contention" after expensive fresh-JVM
    * re-runs). */
  private def runContext: (Double, Int) = {
    val load = try {
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    } catch { case _: Throwable => -1.0 }
    val self = ProcessHandle.current().pid()
    val nJava = try {
      new java.io.File("/proc").listFiles()
        .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
        .count { f =>
          f.getName.toLong != self && {
            val cmd = new java.io.File(f, "cmdline")
            cmd.exists() && {
              val bytes = java.nio.file.Files.readAllBytes(cmd.toPath)
              new String(bytes, "UTF-8").contains("java")
            }
          }
        }
    } catch { case _: Throwable => -1 }
    (load, nJava)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args restrict the run (isolation probes: one query,
    // first-in-JVM, no cross-query state-store pollution); a name the
    // registry lacks fails the run instead of shrinking the total
    val defs = Registry.named(if (args.nonEmpty) args.toSeq else headline)
    val (load0, njava0) = runContext
    val spark = Session.local()

    // 4 in-JVM runs at the target sf: run 1 discarded (warm-up),
    // median of the last 3 reported. After EVERY run the streaming
    // state is torn down (active queries stopped, state-store providers
    // unloaded): round-5 adjudication showed retained providers from
    // earlier stream queries taxing later batch queries 2-3x in-suite
    // vs isolated probes (q73 0.944 vs 0.313 s). The teardown happens
    // OUTSIDE the timed window — provider load is part of a streaming
    // query's own cost and is already inside its timing.
    import org.apache.spark.sql.graftbridge.Bridge
    val results = defs.map { d =>
      val times = (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        // noop sink = FULL evaluation of every column. count() let
        // Catalyst legally eliminate work that feeds only
        // cardinality-preserving joins (q166/q170 measured a doc_id
        // scan — the r9 PLANS lesson); a write sink can't be pruned.
        val ok = try {
          d.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${d.name}: $e"); false
        }
        // a throwing run poisons the whole query: a partial elapsed
        // time would surface in BENCH artifacts as an implausibly
        // fast "timing" for a broken query (r9 advice)
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
        Bridge.resetStreamingState(spark)
        System.gc()
        dt
      }
      d.name -> (if (times.exists(_.isNaN)) Double.NaN
                 else times.drop(1).sorted.apply(1))
    }
    val (failed, good) = results.partition(_._2.isNaN)
    val qs = good.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val fj = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = good.map(_._2).sum
    val (load1, njava1) = runContext
    val ctx = f""""run_context":{"loadavg_start":$load0%.2f,"n_other_java_start":$njava0,"loadavg_end":$load1%.2f,"n_other_java_end":$njava1}"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$fj,"sf":"$sfDir",$ctx}""")
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED queries excluded from timings: " +
        failed.map(_._1).mkString(", "))
    spark.stop()
  }
}
