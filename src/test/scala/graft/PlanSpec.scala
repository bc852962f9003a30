package graft

/** Plan-shape regression guards: the scale properties we rely on must
  * survive refactors — these assert on the formatted physical plan.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = Registry.all.find(_.name == name).get.fn(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** The FINAL adaptive plan: drives this queryExecution (toRdd keeps
    * the same execution — a .collect() would too, but not .write),
    * then drops the repeated "== Initial Plan ==" section. Needed for
    * AQE-only shapes (ReusedExchange stage dedup). */
  private def finalPlan(name: String): String = {
    val df = Registry.all.find(_.name == name).get.fn(spark, sf)
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** The physical plan, and whether the plan of any SQL execution
    * the query ran while being built — model-fit collects, eager
    * checkpoints, which the final plan no longer shows — contains
    * `marker` (listener events arrive asynchronously: wait up to 30 s). */
  private def planAndBuildContains(name: String, marker: String): (String, Boolean) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    @volatile var seen = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          if (s.physicalPlanDescription.contains(marker)) seen = true
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val p = plan(name)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen && System.nanoTime() < deadline) Thread.sleep(50)
      (p, seen)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q01 pushes filter and prunes columns at the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "unused column not pruned")
  }

  test("q02 broadcasts both dimension sides") {
    val p = plan("q02_shipping_priority")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q52 LSH candidates use an equi join, never a nested loop") {
    val p = plan("q52_minhash_lsh_pairs")
    assert(!p.contains("NestedLoop"), "OR-of-bands regression: nested-loop join")
  }

  test("q73 as-of join is a single window pass (no join operator)") {
    val p = plan("q73_temporal_asof_join")
    assert(!p.contains("Join"), "as-of should not use a join")
    assert(p.contains("Window"))
  }

  test("q79 bucketed join itself has no shuffle (only the final agg does)") {
    val p = plan("q79_bucketed_join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "bucketed co-located join regressed to shuffling its inputs")
  }

  test("q105 pushes every predicate to the scan and reads only 3 columns") {
    val p = plan("q105_revenue_forecast")
    // PushedFilters renders truncated in toString — assert the full
    // predicate set on the Filter node and the pushed-list prefix
    assert(p.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity)"))
    assert(p.contains(">= 0.05)") && p.contains("< 24.0)"))
    assert(!p.contains("l_orderkey"), "unused column not pruned")
  }

  test("q106 EXISTS compiles to a semi join, not distinct+inner") {
    val p = plan("q106_order_priority")
    assert(p.contains("LeftSemi"))
  }

  test("q120 sketches per flag: the HLL aggregate groups by l_returnflag alone") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator}
    val df = Registry.all.find(_.name == "q120_hll_distinct").get.fn(spark, sf)
    df.queryExecution.toRdd.foreach(_ => ())
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }).flatMap(nodes)
    val aggs = nodes(df.queryExecution.executedPlan).collect { case a: BaseAggregateExec => a }
    val sketching = aggs.collect {
      case a if a.aggregateExpressions.exists(_.aggregateFunction match {
          case s: ScalaAggregator[_, _, _] => s.agg.isInstanceOf[graft.functions.Hll.HllAgg]
          case _ => false
        }) =>
        a.groupingExpressions.map(_.name)
    }
    // neither the partial nor the final sketch may carry l_partkey
    assert(sketching.nonEmpty && sketching.forall(_ == Seq("l_returnflag")),
      s"HLL aggregates group by: $sketching")
    assert(!aggs.exists(_.aggregateExpressions.exists(
      _.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus])),
      "Spark's HyperLogLogPlusPlus is back in the plan")
  }

  test("q117 reads lineitem once and shuffles it once on its natural key") {
    val p = plan("q117_waiting_orders")
    // The single-pass aggregation form: no anti join, one fact-table
    // scan, one hash exchange on l_orderkey, supplier broadcast.
    assert(!p.contains("LeftAnti"), "regressed to the NOT EXISTS anti self-join")
    assert("Scan parquet[^\n]*lineitem".r.findAllIn(p).size == 1,
      "lineitem must be scanned exactly once")
    assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size == 1,
      "lineitem must shuffle exactly once, on l_orderkey")
    assert(p.contains("BroadcastExchange"), "supplier side should broadcast")
    assert(!p.contains("ObjectHashAggregate"),
      "the supplier tests must stay declarative (min/max), not object sets")
  }

  test("q02 top-k is a TakeOrderedAndProject, not a full sort") {
    val p = plan("q02_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q15 per-group top-n pushes the rank limit below the shuffle") {
    val p = plan("q15_first_n")
    assert("WindowGroupLimit [^\\n]*Partial".r.findAllIn(p).nonEmpty,
      "rn <= 3 should become a PARTIAL per-group limit below the window shuffle")
  }

  test("q18 ORDER BY + OFFSET/FETCH is a TakeOrderedAndProject, not a full sort") {
    val p = plan("q18_orderby_limit_offset")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q56 ANN top-k is a bounded partial aggregate, not a window rank") {
    val p = plan("q56_ann_bruteforce")
    assert(!p.contains("Window"),
      "row_number() regression: scored corpus would range-shuffle")
    assert(p.contains("ObjectHashAggregate"), "bounded top-k aggregate missing")
    assert("partial_topkagg|partial_".r.findAllIn(p.toLowerCase).nonEmpty,
      "top-k must pre-combine map-side")
  }

  test("q58b IVF stage-2 ranks via the bounded aggregate, not a second window") {
    val p = plan("q58b_ann_ivf")
    // exactly ONE Window operator remains: stage-1 probe routing over
    // probes×clusters (tiny). A second one means the stage-2 rank over
    // the scored cluster rows regressed to a range-shuffling window.
    assert("Window \\[".r.findAllIn(p).size <= 1,
      "stage-2 rank regressed to a window over the scored corpus rows")
    assert(p.contains("ObjectHashAggregate"), "bounded top-k aggregate missing")
  }

  test("q135 k-means IVF stage-2 ranks via the bounded aggregate, no window at all") {
    val p = plan("q135_ann_ivf_kmeans")
    // assignment argmin is min(struct(...)) and stage-2 top-k the
    // bounded aggregate — NO Window operator anywhere in the route
    assert(!p.contains("Window"),
      "a window rank crept into the k-means assignment or stage-2 top-k")
    assert(p.contains("ObjectHashAggregate"), "bounded top-k aggregate missing")
    assert(p.contains("vec_nearest_index"),
      "the cluster assignment must be the exact per-row kernel")
  }

  test("q110 global threshold joins as a broadcast, never a collect") {
    val p = plan("q110_important_parts")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "1-row threshold should broadcast")
  }

  test("q110 computes the lineitem aggregation once (AQE stage reuse)") {
    val df = Registry.all.find(_.name == "q110_important_parts").get.fn(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      "threshold branch should reuse the per-part agg shuffle, not rescan lineitem")
  }

  test("q119 per-part argmax is one window pass over the grouped view") {
    val p = plan("q119_best_supplier_per_part")
    assert(p.contains("Window"))
  }

  test("q148 sorted group-reduce is one hash shuffle with a pruned scan") {
    val p = plan("q148_sorted_group_reduce")
    // one Exchange hashpartitioning on the group key (the final
    // ORDER BY adds a rangepartitioning, which is fine); the per-group
    // sort happens inside the partition, never as another shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "sortedReduceGroup must shuffle exactly once, on the group key")
    assert(!p.contains("o_totalprice"), "unused orders columns not pruned")
  }

  test("q127 year filter becomes a partition filter, not a data filter") {
    val p = plan("q127_partition_pruning")
    assert(p.contains("PartitionFilters: [isnotnull(l_year"),
      "partitioned read should prune directories via PartitionFilters")
  }

  test("q155 decontamination broadcasts the eval n-grams, never shuffles the corpus join") {
    val p = plan("q155_decontamination")
    assert(p.contains("BroadcastHashJoin"),
      "eval-set n-gram table must broadcast — the corpus side is never shuffled for the join")
    assert(!p.contains("SortMergeJoin"))
    // corpus side: exactly one hash exchange (per-doc hit-count agg);
    // the only other one is the eval-side distinct feeding the
    // broadcast build, which shuffles eval grams only
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size == 1,
      "corpus must shuffle exactly once (final per-doc agg)")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "unexpected extra shuffle beyond per-doc agg + eval distinct")
  }

  test("q159 quota sample ranks via the bounded aggregate, never a window sort") {
    val p = plan("q159_quota_sample")
    assert(!p.contains("Window"), "per-stratum top-k regressed to a window sort")
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(p).size == 1,
      "one stratum-keyed exchange carrying k-bounded buffers")
  }

  test("q160 bloom probe runs map-side (filter present, corpus shuffles only per-doc)") {
    val p = plan("q160_decontam_bloom")
    assert(p.contains("might_contain"), "bloom membership probe missing from the plan")
    // corpus-side exchanges: the two per-doc aggs (totals + shared);
    // eval-side distinct is the only other hash exchange
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size <= 2,
      "corpus must shuffle only for the per-doc aggregations")
  }

  test("q157 duplication score shuffles 8-byte gram hashes, not gram strings") {
    val p = plan("q157_crossdoc_ngram_dup")
    // df groupBy and join both key on the long-typed hash `gh`; the
    // gram string must not survive into any exchange
    assert("Exchange hashpartitioning\\(gh".r.findAllIn(p).nonEmpty,
      "doc-frequency aggregation must be keyed on the hashed gram")
    assert(!"Exchange hashpartitioning\\(g[#,]".r.findAllIn(p).nonEmpty,
      "raw gram strings must never reach an exchange")
  }

  test("q165 weighted mixture sample is map-only: no exchange before the sort") {
    val p = plan("q165_weighted_mixture_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      "the acceptance filter must not shuffle — it is a pure map")
    assert(!p.contains("Join"), "no join belongs in a per-doc sampler")
  }

  test("q166 incremental dedup joins delta bands to corpus bands with equi joins only") {
    val p = plan("q166_incremental_dedup")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "candidate generation regressed to a non-equi join")
  }

  test("q224 pHash pairs: block-bucket equi join, never all-pairs, byte-explode-free") {
    val p = plan("q224_phash_near_dup")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "pHash candidate generation regressed to a non-equi join")
    // the pigeonhole join must key on the (block, bucket) pair
    assert(p.contains("bkt"), "candidate join lost its bucket key")
    // r15: the signature stage is the codegen'd dhash_sig projection —
    // the only Generate allowed is the 4-element block fan-out; the
    // r14 per-byte sequence(1, length) explode must never come back
    assert(p.contains("dhash_sig"),
      "signature must be the fused MediaSig expression")
    assert(!p.contains("sequence(1, length"),
      "per-byte explode returned to the signature stage")
  }

  test("q225 cluster reduction: one corpus scan, no join, no byte explode") {
    // r15: signature = scan → project(dhash_sig); representative =
    // frame-less MIN over a phash-partitioned window. ONE corpus
    // pass, ONE exchange keyed on the 8-byte hash, join-free — the
    // r14 agg+join-back shape (and before it the 1.5e9-row byte
    // explode) are both gone from the plan.
    val p = plan("q225_phash_dedup")
    assert(p.contains("dhash_sig"),
      "signature must be the fused MediaSig expression")
    assert(!p.contains("Generate") && !p.contains("sequence(1, length"),
      "per-byte explode returned to the signature stage")
    assert(!p.contains("Join"), "cluster reduction must be join-free")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "signature build must execute one corpus pass")
    // the representative window must partition by phash (a global
    // window would serialize the corpus through one task)
    assert("windowspecdefinition\\(phash".r.findAllIn(p).nonEmpty,
      "dup_of window must partition by the signature")
  }

  test("q167 semdedup: no cartesian pair space — only centroid broadcasts cross") {
    // the clustered corpus is checkpointed, so the kernel shows in the
    // plans the query runs while it is built, not in the final one
    val (p, kernelRan) = planAndBuildContains("q167_semdedup", "vec_nearest_index")
    assert(kernelRan, "the cluster assignment must be the exact per-row kernel")
    // the ONLY nested-loop joins allowed are corpus × broadcast(centroids)
    // (the k-means assignment shape); the cluster self-join and the
    // annotate join must be equi joins
    assert(!p.contains("CartesianProduct"),
      "a corpus-side cartesian appeared in the dedup pair space")
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).nonEmpty,
      "cluster self-join must be an equi join")
  }

  test("q170 substring dedup: equi joins only, spans merge without a Window") {
    val p = plan("q170_substring_dedup")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "dup-gram join-back regressed to a non-equi join")
    assert(!p.contains("Window"),
      "span merging must ride per-doc arrays, not a corpus window sort")
  }

  test("q171 perplexity shuffles 8-byte bigram hashes, never word strings") {
    val p = plan("q171_perplexity_filter")
    assert("Exchange hashpartitioning\\((hb|h1)".r.findAllIn(p).nonEmpty,
      "count aggregations must key on the hashed bigram")
    assert(!"Exchange hashpartitioning\\(w[#,\\d]".r.findAllIn(p).nonEmpty,
      "raw word strings must never reach an exchange")
    assert(!p.contains("Window"), "scoring must not use a window sort")
  }

  test("q177 BM25 retrieval: postings equi-join, never a cartesian pair space") {
    val p = plan("q177_bm25_topk")
    assert(!p.contains("CartesianProduct"),
      "query x corpus must go through the inverted-index equi join")
    assert(!p.contains("Window"), "top-k must use the bounded aggregate")
  }

  test("q178 text clustering: seeds broadcast, corpus never shuffles for the seed scan") {
    val p = plan("q178_text_cluster")
    assert(!p.contains("CartesianProduct"),
      "seed comparison must ride a broadcast, not a cartesian shuffle")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 4-row seed table must broadcast")
  }

  test("q180 CMS: sketch and truth aggregate with partial (map-side) combine") {
    val p = plan("q180_cms_heavy_hitters")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "sketch cells must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q181 token-budget mix: one source-keyed window, no extra exchanges") {
    val p = plan("q181_token_budget_mix")
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).size == 1,
      "the cumsum must be the only source-keyed shuffle")
    assert(p.contains("Window"))
  }

  test("q186/q190 PQ family: lookup tables broadcast, bounded top-k, no cartesian") {
    Seq("q186_pq_adc_topk", "q190_ivfpq_topk", "q194_ivfpq_residual_topk",
        "q195_mrl_rerank_topk", "q200_rotated_pq_topk").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: ADC scoring must ride the (j, code) equi join")
      assert(p.contains("BroadcastExchange"),
        s"$name: per-query lookup tables must broadcast")
      assert(!p.contains("Window"),
        s"$name: top-k must use the bounded aggregate")
      if (name == "q190_ivfpq_topk")
        assert(p.contains("vec_nearest_index"),
          s"$name: cluster and PQ codes must come from the exact per-row kernel")
    }
  }

  test("q187 chunking is a pure generate: no exchange before the output sort") {
    val p = plan("q187_chunk_overlap")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunk extraction must not shuffle")
  }

  test("q179 novelty: no WindowExec on the gram hash (hot-gram single-task skew)") {
    // A window partitioned by gh materializes every row of a hot gram
    // ("the" ≈ one row per document) in ONE task — the r10 regression
    // the round-10 verdict flagged. Min-owner must be an aggregate
    // (map-side combined) and the only join doc-cardinality.
    val p = plan("q179_novelty_score")
    assert(!p.contains("Window"),
      "gram ownership must be a map-side-combined aggregate, not a window")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "min-owner must combine map-side")
  }

  test("q196 winnowing: doc-keyed sliding min only, equi pair join, df-capped") {
    val p = plan("q196_winnowing_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "fingerprint pairing must be an equi join on the selected hash")
    // the ONLY window allowed is the per-doc sliding min (partition =
    // one doc's grams); a window keyed on the corpus-cardinality hash
    // would be the q179 single-task skew shape
    val specs = "windowspecdefinition\\((\\w+)#".r.findAllMatchIn(p)
      .map(_.group(1)).toSet
    assert(specs.subsetOf(Set("doc_id")),
      s"windows must partition by doc_id only, saw: $specs")
  }

  test("q198 MMR: corpus pass is the bounded top-k aggregate, greedy loop is windowless") {
    // the corpus-side TopK ObjectHashAggregate lives in the
    // localCheckpoint'd shortlist prefix (not visible in the final
    // plan string); the final plan carries only shortlist-sized work
    val p = plan("q198_mmr_diversified")
    assert(!p.contains("Window"),
      "shortlist + greedy argmax must be aggregates, never a corpus window sort")
    assert(!p.contains("CartesianProduct"),
      "candidate pair sims must ride the query_id equi join")
  }

  test("q202 vocab stats: modal term via bounded TopK agg, never a vocab window") {
    // one task holding a source's whole vocabulary to rank it is the
    // q179/q193 skew shape — the modal term must ride the TopK
    // aggregate with a map-side partial
    val p = plan("q202_vocab_stats")
    assert(!p.contains("Window"),
      "modal term must be the bounded TopK aggregate, not row_number")
    assert(p.contains("partial_topkstragg"),
      "TopK must combine map-side")
  }

  test("q204 SIF embeddings: doc filter reaches the scan, vocab scan prunes to text") {
    val p = plan("q204_sif_embeddings")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)]")
      || p.contains("PushedFilters: [LessThan(doc_id,50), IsNotNull(doc_id)]"),
      "the doc subset filter must reach the parquet scan")
    assert(p.contains("ReadSchema: struct<text:string>"),
      "the corpus-wide vocab pass must read ONLY the text column")
    assert(!p.contains("CartesianProduct"))
  }

  test("q205/q206 source overlap: gram pairing is an equi join, matrix frame tiny") {
    Seq("q205_source_overlap", "q206_source_minhash_sim").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: pair space must ride an equi join, not a cartesian")
      assert(!p.contains("Window"), s"$name: aggregates only")
    }
  }

  test("q197 segment dedup: hashes shuffle, segment strings never do") {
    val p = plan("q197_segment_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert("Exchange hashpartitioning\\(h#".r.findAllIn(p).nonEmpty,
      "the df aggregation must key on the 8-byte segment hash")
    assert(!"Exchange hashpartitioning\\(seg#".r.findAllIn(p).nonEmpty,
      "segment strings must never reach an exchange")
  }

  test("q208 gopher rules is a pure per-doc map: no exchange before the output sort") {
    val p = plan("q208_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning"),
      "rule evaluation must not shuffle the corpus")
    assert(!p.contains("Window") && !p.contains("Join"),
      "rules are per-doc expressions — no window, no join")
  }

  test("q209 shard manifest: heads ride the bounded TopK agg, never a per-shard window") {
    val p = plan("q209_shard_manifest")
    assert(!p.contains("Window"),
      "shard heads must use the bounded TopK aggregate — a window " +
        "partitioned by shard puts a shard's full contents in one task")
    assert(p.contains("partial_topkagg"),
      "TopK must combine map-side (shuffle carries shards × k rows)")
  }

  test("total self-joins execute their corpus pass once (r12 ADVICE, probed r13)") {
    // `X.crossJoin(broadcast(X.agg(total)))` risks running X's
    // corpus-scale aggregation once per branch. Two distinct
    // mechanisms keep it single-pass, and both are pinned here:
    // q203 — the branches stay plan-identical up to X's exchange, so
    // AQE swaps the second into a ReusedExchange (one scan, free);
    // q209 — column pruning rewrites the total branch into a
    // DIFFERENT count-only aggregation (no reuse possible), so the
    // 8-row manifest is persist()ed: one scan builds the cache, both
    // branches read InMemoryTableScan, and the full agg lineage stays
    // visible (a localCheckpoint would hide the TopK shape above).
    val p203 = finalPlan("q203_freq_spectrum")
    assert(p203.contains("ReusedExchange"),
      "q203 total branch must reuse the spectrum exchange")
    assert("FileScan parquet".r.findAllIn(p203).size == 1,
      "q203 final plan must read the corpus exactly once")
    val p209 = finalPlan("q209_shard_manifest")
    // (>= 1, not 2: AQE's final rendering prints a completed stage's
    // subtree once, so the second InMemoryTableScan may not re-render)
    assert("InMemoryTableScan".r.findAllIn(p209).size >= 1,
      "q209 branches must read the persisted manifest")
    assert("FileScan parquet".r.findAllIn(p209.split("InMemoryRelation")(0)).size == 0,
      "q209 must not scan the corpus outside the cached manifest build")
  }

  test("q210 PSI drift: one corpus agg, everything after is bucket-sized") {
    val p = plan("q210_psi_drift")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    // the only corpus-cardinality exchange is the (grp, bucket) count;
    // the bucket/total joins run on ≤ 10-row frames
    assert("Exchange hashpartitioning\\((grp|bucket)#".r.findAllIn(p).nonEmpty,
      "slice histogram must be a map-side-combined count agg")
  }

  test("q211 quality canonical: cluster argmax is two aggs, never a cluster window") {
    val p = plan("q211_quality_canonical")
    assert(!p.contains("Window"),
      "per-cluster best must be max aggs + equi join-back, not row_number")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "membership and join-backs must stay equi joins")
  }

  test("q221 build composes its stages' shapes: no window, no cartesian, TopK manifest") {
    val p = plan("q221_curation_build")
    assert(!p.contains("Window"),
      "canonical argmax and shard heads must stay aggs, never a window")
    assert(!p.contains("CartesianProduct") &&
      (!p.contains("NestedLoop") || p.contains("BroadcastNestedLoopJoin")),
      "only the broadcast 1-row total may nested-loop")
    assert(p.contains("partial_topkagg"),
      "shard heads must ride the bounded TopK aggregate")
  }

  test("q214 KN model: marginals aggregate the checkpointed bigram table, not the corpus") {
    val p = plan("q214_kn_bigram_lm")
    // the single corpus pass happens inside the checkpointed bigram
    // count (LangModelSpec pins that plan); the model arithmetic must
    // not touch parquet again
    assert(!"Scan parquet[^\n]*documents".r.findAllIn(p).hasNext,
      "a marginal re-derived the corpus explode instead of reading the bigram table")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "smoothing arithmetic must stay on equi-joined aggregates")
  }

  test("q215 held-out scoring joins the model by word keys, no window") {
    val p = plan("q215_kn_heldout_ppl")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "per-pair probability lookup must be hash equi joins")
    // the 1-row ntot side rides a broadcast, never a shuffled cross
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastExchange"))
  }

  test("q218 cluster-balanced keep: bounded TopK per cluster, never a window") {
    val p = plan("q218_cluster_balanced_keep")
    assert(!p.contains("Window"),
      "per-cluster heads must ride the bounded TopK aggregate — a window " +
        "partitioned by cluster puts a cluster's full membership in one task")
    assert(p.contains("partial_topkagg"),
      "TopK must combine map-side (shuffle carries clusters × 24 buffers)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q220 Moore-Lewis: two linear scoring passes, models stay checkpointed tables") {
    val p = plan("q220_moore_lewis")
    assert("Scan parquet[^\n]*documents".r.findAllIn(p).size <= 2,
      "each scorer re-scans the corpus once; model marginals must read checkpoints")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "probability lookups must stay word-keyed hash equi joins")
  }

  test("q217 BPE application: one corpus scan + equi join on word types") {
    val p = plan("q217_bpe_tokenize")
    assert("Scan parquet[^\n]*documents".r.findAllIn(p).size == 1,
      "application must touch the corpus once (rewrites happen per word type)")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      "token counts are a doc-keyed agg over an equi join")
  }

  test("q223 UniMax: one corpus scan; windows and joins only on the lang-sized frame") {
    // the water-fill has FOUR consumers of the lang-count table —
    // un-checkpointed they each re-ran the corpus explode (4 scans,
    // caught here); the token count itself is the one corpus pass
    val pre = graft.Tables.t(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.lower(
              org.apache.spark.sql.functions.col("text")), " ")).as("w"))
      .groupBy("lang").count()
    val pp = pre.queryExecution.executedPlan.toString
    assert(pp.contains("ReadSchema: struct<text:string,lang:string>")
      || pp.contains("ReadSchema: struct<lang:string,text:string>"),
      "the token-count scan must prune to (text, lang)")
    val p = plan("q223_unimax_mix")
    assert("Scan parquet[^\n]*documents".r.findAllIn(p).size == 0,
      "everything downstream of the lang-count checkpoint runs on the " +
        "|langs|-row table — no corpus re-scan")
    assert(!p.contains("SortMergeJoin"),
      "par/ag totals join the lang frame via broadcast")
  }

  test("q226 scenes: ONE corpus scan, no join, doc-partitioned windows only") {
    val p = plan("q226_scene_segments")
    assert("Scan parquet[^\n]*documents".r.findAllIn(p).size == 1,
      "per-frame signatures come from one corpus pass")
    assert(!p.contains("Join"), "signature build is join-free")
    // r15: the only Generate is posexplode of the frame_sigs array —
    // one LONG per 64-byte frame; the per-byte explode (len rows) and
    // the 8-cell pivoted aggregate must never come back
    assert(p.contains("frame_sigs"),
      "signature must be the fused MediaSig expression")
    assert(!p.contains("sequence(1, length"),
      "per-byte explode returned to the signature stage")
    assert(!p.contains("HashAggregate(keys=[doc_id") ||
      !p.contains("cell"), "pivoted cell aggregate returned")
    // every window partitions by doc_id — a partition-less window
    // would serialize the corpus through one task (r15: the old
    // "PartitionSpec: []" probe matched nothing in toString output;
    // pin on the windowspecdefinition arg list instead)
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    assert(specs > 0, "scene plan lost its windows entirely")
    assert("windowspecdefinition\\(doc_id".r.findAllIn(p).size == specs,
      "global (partition-less) window in the scene plan")
  }

  test("q230 audio segments: one corpus scan, join-free, frame-granularity generate only") {
    val p = plan("q230_audio_segments")
    assert("Scan parquet[^\n]*documents".r.findAllIn(p).size == 1,
      "per-frame energies come from one corpus pass")
    assert(!p.contains("Join"),
      "per-doc adaptive threshold must stay array-local — a corpus " +
        "threshold join crept in")
    assert(p.contains("frame_energies"),
      "energy must be the fused MediaSig expression")
    assert(!p.contains("sequence(1, length"),
      "per-byte explode returned to the energy stage")
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    assert(specs > 0, "segment plan lost its windows entirely")
    assert("windowspecdefinition\\(doc_id".r.findAllIn(p).size == specs,
      "global (partition-less) window in the segment plan")
  }

  test("q231 video near-dup: shingle equi-join only, signature stage explode-free") {
    val p = plan("q231_video_near_dup")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "pair generation regressed to a non-equi join")
    assert(p.contains("frame_sigs"),
      "scene signatures must come from the fused MediaSig expression")
    assert(!p.contains("sequence(1, length"),
      "per-byte explode returned to the signature stage")
    // the pair join must be an equi join KEYED on the packed shingle
    // value (broadcast at test scale, shuffled-hash/sort-merge at
    // corpus scale — either way the key is sh, never a cross product)
    assert("Join [^\n]*\\[sh#".r.findAllIn(p).nonEmpty,
      "pair join lost its shingle key")
  }

  test("q232 media QA: one corpus scan, generate-free, only the phash window crosses docs") {
    val p = plan("q232_media_qa_report")
    assert("Scan parquet[^\n]*documents".r.findAllIn(p).size == 1,
      "all three statistics fold over one projection's arrays")
    assert(!p.contains("Generate"),
      "scene/silent counts must stay array-local — an explode crept in")
    assert(!p.contains("Join"), "the report is window + aggregate, join-free")
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    assert(specs > 0 &&
      "windowspecdefinition\\(phash".r.findAllIn(p).size == specs,
      "the only window is the phash-partitioned dup flag")
  }

  test("q234 video dedup: one corpus scan, join-free, explode-free cluster reduction") {
    val p = plan("q234_video_dedup")
    assert("Scan parquet[^\n]*documents".r.findAllIn(p).size == 1,
      "scene sequences come from one corpus pass")
    assert(!p.contains("Join"),
      "cluster reduction must be the sequence-partitioned window, not a join-back")
    assert(p.contains("frame_sigs"),
      "scene signatures must come from the fused MediaSig expression")
    assert(!p.contains("sequence(1, length"),
      "per-byte explode returned to the signature stage")
  }

  test("q235 media align: array-local landmarks, key-equi vote join, explode-free energies") {
    val p = plan("q235_media_align")
    assert(!p.contains("CartesianProduct"),
      "vote generation regressed to a cartesian")
    assert(p.contains("frame_energies"),
      "energies must come from the fused MediaSig expression")
    assert(!p.contains("sequence(1, length"),
      "per-byte explode returned to the energy stage")
    // the vote join must key on the packed landmark value
    assert("Join [^\n]*\\[key#".r.findAllIn(p).nonEmpty,
      "vote join lost its landmark key")
    // r16: landmarks build ARRAY-LOCALLY (index-lambda peak filter +
    // nested pair transform) — the r15 per-frame explode + per-doc
    // lag/lead window must never come back, and on an organic corpus
    // (guards off) the served plan carries no window at all
    assert(!p.contains("windowspecdefinition"),
      "landmark build regressed to the windowed peak form (or the " +
        "vote-budget guard fired at an oracle gate SF)")
  }

  test("q239 cross-modal pairs: both candidate joins bucketed, never all-pairs") {
    val p = plan("q239_crossmodal_pairs")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "a candidate generator regressed to a non-equi join")
    assert(p.contains("dhash_sig"),
      "media signatures must be the fused MediaSig expression")
    assert(p.contains("bkt"), "media candidate join lost its bucket key")
    assert(p.contains("bval"), "text candidate join lost its band key")
    assert(!p.contains("sequence(1, length"),
      "per-byte explode returned to the media signature stage")
  }

  test("q240 contamination attribution: eval table broadcasts, corpus never shuffles for the hit join") {
    val p = plan("q240_contamination_attribution")
    assert(p.contains("BroadcastHashJoin"),
      "the (benchmark, gram) eval table must broadcast")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "attribution join regressed to a non-equi join")
  }

  test("q241 epoch-aware selection: equi joins only, one cluster-partitioned window") {
    val p = plan("q241_epoch_dedup_select")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "candidate generation regressed to a non-equi join")
    val specs = "windowspecdefinition\\(".r.findAllIn(p).size
    assert(specs > 0 &&
      "windowspecdefinition\\(cluster_id".r.findAllIn(p).size == specs,
      "the only window is the cluster-partitioned representative pick")
  }

  test("q242 index probe: postings scan partition-prunes to the query clusters") {
    val p = plan("q242_ann_index_topk")
    // the standing index partitions on cluster; the 9 query clusters
    // collect into a static IN filter, so the scan must carry
    // PartitionFilters on cluster — at a 1000-cell 100 TB index this
    // is the difference between reading <= 9 directories and the lot
    assert("PartitionFilters: \\[cluster".r.findAllIn(p).nonEmpty,
      "postings scan lost its cluster partition filter")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "ADC scoring regressed to a non-equi join")
  }

  test("q248 cross-modal probe: postings scan partition-prunes to the caption queries' clusters") {
    val p = plan("q248_crossmodal_retrieval")
    // caption queries assign against the frozen router and their
    // family leaves collect into the same static IN filter q242 pins
    val scans = p.split("\n").filter(_.contains("FileScan")).mkString("\n")
    // a single-cluster query set folds the IN to an equality — both
    // are the static partition prune
    assert("PartitionFilters: \\[[^\n]*cluster#\\d+ (IN \\(|= )".r
      .findAllIn(p).nonEmpty,
      s"cross-modal postings scan lost its cluster partition filter; scans:\n$scans")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "cross-modal ADC scoring regressed to a non-equi join")
  }

  test("q249 as-of probe: the postings scan prunes on cluster AND epoch in one PartitionFilters node") {
    val p = plan("q249_ann_index_asof")
    // time travel is pure DIRECTORY pruning: the commit-epoch pin
    // rides the same PartitionFilters node as the cluster IN — a
    // 100 TB index reads no data from epochs above E (no snapshot,
    // no tombstones, no copy-on-write)
    val pf = p.split("\n").filter(_.contains("PartitionFilters: ["))
      .mkString("\n")
    // the epoch bound prepends isnotnull(epoch) to the filter list, so
    // the pins are order-insensitive within the node
    assert("PartitionFilters: \\[[^\n]*cluster#\\d+ (IN \\(|= )".r
      .findAllIn(p).nonEmpty,
      s"as-of probe lost its cluster partition filter; scans:\n$pf")
    assert("PartitionFilters: \\[[^\n]*epoch[^\n]*<= 0".r
      .findAllIn(p).nonEmpty,
      s"as-of probe's epoch pin is not a partition filter; scans:\n$pf")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "ADC scoring regressed to a non-equi join")
  }

  test("q247 split maintenance: the post-split report reads partition metadata, no corpus-wide window") {
    val p = plan("q247_ann_index_split")
    assert(!p.contains("CartesianProduct"),
      "a corpus-side cartesian appeared in the split pass")
    // the report aggregates the postings partition column and joins
    // the (model-sized) family table broadcast
    assert(p.contains("BroadcastHashJoin"),
      "family lineage must broadcast into the report")
  }

  test("q236 vocab coverage: final plan reuses the spectrum exchange, one corpus pass") {
    // the totals and cum branches are plan-identical up to the
    // spectrum exchange (the q203 mechanism); the partition-less
    // window runs on the log-scale-sized spectrum frame only
    val p = finalPlan("q236_vocab_coverage")
    assert(p.contains("ReusedExchange"),
      "totals branch must reuse the spectrum exchange")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "final plan must read the corpus exactly once")
  }

  test("q237 embed drift: centroids broadcast into the assignment, no raw cartesian") {
    val p = plan("q237_embed_drift_psi")
    // the assignment is corpus × broadcast(8 centroids) — the q135
    // shape (the fit's vec_id equi joins may legitimately sort-merge);
    // no NON-broadcast cartesian may appear anywhere
    assert(!p.contains("CartesianProduct"),
      "a corpus-side cartesian appeared in the drift plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).nonEmpty,
      "centroids must broadcast into the assignment map")
    assert(p.contains("vec_nearest_index"),
      "the drift assignment must be the exact per-row kernel")
  }

  test("q227 fertility: ONE corpus scan pruned to (text, lang), map-side combined") {
    val p = plan("q227_tokenizer_fertility")
    assert("Scan parquet[^\n]*documents".r.findAllIn(p).size == 1,
      "per-doc costs must reduce inside one documents pass")
    assert(p.contains("text:string"), "scan prunes to text+lang")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "lang aggregate must map-side combine")
  }

  test("q228 RHO selection: scoring joins stay equi, output is bounded TopK") {
    val p = plan("q228_rho_select")
    assert(!p.contains("CartesianProduct"),
      "model joins are word-keyed equi joins (the one crossJoin is " +
        "the broadcast 1-row totals frame)")
    assert(p.contains("TakeOrderedAndProject"),
      "the k boundary must be a bounded TopK, not a global sort+limit")
  }

  test("q243 gram generator runs once, above the stream repartition, in no Filter below it") {
    // InferFiltersFromGenerate leaves an inline expensive generator
    // alone; a projected gram array would get an inferred size() > 0
    // filter carrying the whole gram expression, pushed below the
    // repartition into the 1-2-task pre-shuffle stage
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case _ =>
      }
    }
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    def isRepartition(n: SparkPlanInfo): Boolean =
      n.nodeName == "Exchange" && n.simpleString.contains("REPARTITION_BY_NUM")
    spark.sparkContext.addSparkListener(listener)
    val microBatches = try {
      Registry.all.find(_.name == "q243_stream_contam_attribution").get
        .fn(spark, sf)
      eventually(timeout(30.seconds)) {
        val m = plans.asScala.toSeq.filter(nodes(_).exists(isRepartition))
        assert(m.nonEmpty, "no micro-batch plan with the stream repartition")
        m
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    microBatches.foreach { p =>
      val gram = nodes(p).filter(_.simpleString.contains("array_distinct(transform("))
      assert(gram.map(_.nodeName) == Seq("Generate"),
        s"gram expression must be evaluated once, by the Generate: ${gram.map(_.nodeName)}")
      val exchanges = nodes(gram.head).filter(isRepartition)
      assert(exchanges.size == 1, "the Generate must sit above the stream repartition")
      val pushed = nodes(exchanges.head).filter(_.simpleString.contains("transform("))
      assert(pushed.isEmpty,
        s"gram expression re-evaluated below the repartition: ${pushed.map(_.simpleString)}")
    }
  }
}
