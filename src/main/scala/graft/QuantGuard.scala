package graft

import org.apache.spark.sql.SparkSession

/** Central transcendental-boundary guard (r13 verdict item 5).
  *
  * Every emitted value in this engine is hash-compared against a
  * DuckDB oracle, and ln/exp/log2/pow/trig are NOT IEEE-correctly-
  * rounded: a 1-ulp JVM-vs-libm divergence flips a floor()/round()
  * quantizer exactly when the pre-quantization value sits within ~ulp
  * of the quantizer's boundary. This object is the single registry of
  * (a) the measured sweep-time margins for every such float surface
  * ([[margins]], printed by graft.Verify as greppable lines), and
  * (b) the CLASSIFICATION of every transcendental call site in the
  * main source tree ([[classification]]), which
  * QuantGuardCompletenessSpec enforces by re-scanning the sources:
  * a new exp/log/pow site that is neither margin-covered nor
  * explicitly exempted fails the suite — the mechanical answer to
  * "q212/q213/q219's sigmoid sites were green but unguarded".
  *
  * Scale note (the r13 verdict's residual): measured min-margins
  * shrink roughly as 1/n-terms (q215_ln was 2.46e-4 at sf0.01 and
  * 7.86e-5 at sf0.1), so at true 1e12-term scale some term
  * statistically lands inside libm-divergence range. Oracle hash
  * parity for transcendental-based queries is therefore a TEST-SCALE
  * verification device; the durable posture at 100 TB is (1) this
  * guard turning a would-be mystery mismatch into an instant
  * diagnosis, and (2) all-integer formulations (q223 UniMax) where
  * the semantics allow them.
  */
object QuantGuard {

  /** Every measured margin, aggregated across modules. Threshold
    * semantics are uniform: values are scaled to the quantizer's
    * domain (1e6 for the micro-unit/round-6 surfaces, 1e10 for q31's
    * round-10) so the 1e-7 RISK fence printed by Verify means the
    * same thing everywhere. */
  def margins(s: SparkSession, dir: String): Seq[(String, Double)] =
    pipeline.LangModel.quantMargins(s, dir) ++
      pipeline.Quality.quantMargins(s, dir) ++
      pipeline.TextAnalysis.quantMargins(s, dir) ++
      functions.ScalarQueries.quantMargins(s, dir) ++
      operators.ApiQueries.quantMargins(s, dir)

  sealed trait SiteClass
  /** The site's float surface is measured by these margin entries. */
  final case class Covered(marginNames: Set[String]) extends SiteClass
  /** The site carries no cross-engine flip risk; reason documented. */
  final case class Exempt(reason: String) extends SiteClass

  private val pow2 = Exempt("2**(4k) / pow(2.0, j≤31) md5-hex-digit " +
    "device: exact powers of two, representable and engine-identical")
  private val infra = Exempt("quant-guard infrastructure: re-derives " +
    "the guarded expressions to measure them; not an output surface")

  /** Classification of every transcendental call site in
    * src/main/scala/graft (tools/ excluded — dev probes, not registry
    * surfaces), keyed by `<path-under-graft>#<enclosing def or
    * query>`. QuantGuardCompletenessSpec re-scans the sources with
    * the same rules and asserts EXACT key-set equality, so any new,
    * moved, or removed site forces a reclassification here. */
  val classification: Map[String, SiteClass] = Map(
    // ---- q31 scalar-function surface --------------------------------
    "functions/ScalarQueries.scala#q31_math_funcs" ->
      Covered(Set("q31_round10_half")),
    "functions/ScalarQueries.scala#r10" -> // q31FloatRaws shared table
      Covered(Set("q31_round10_half")),
    "functions/FlinkFunctions.scala#truncateNumeric" -> Exempt(
      "math.pow(10, n): exact powers of ten at the truncate surface's " +
        "scales (|n| small), representable and engine-identical"),
    "functions/FlinkFunctions.scala#register" -> Exempt(
      "same math.pow(10, n) as truncateNumeric, SQL registration copy"),
    // ---- q93 Adamic-Adar --------------------------------------------
    "graph/Graph.scala#adamicAdar" ->
      Covered(Set("q93_aa_round_half", "q93_aa_threshold")),
    "operators/ApiQueries.scala#q93_graph_adamic_adar" ->
      Covered(Set("q93_aa_round_half", "q93_aa_threshold")),
    // ---- MLEnv ------------------------------------------------------
    "ml/MLEnv.scala#sos" -> Exempt(
      "spec-only facade (MLEnvSpec); not in the registry, no oracle " +
        "hash — driver-side beta search plus a per-id product"),
    // ---- KN / DoReMi family (LangModel) -----------------------------
    "pipeline/LangModel.scala#q215_kn_heldout_ppl" ->
      Covered(Set("q215_ln_int", "q215_exp_half")),
    "pipeline/LangModel.scala#duckScoreBody" ->
      Covered(Set("q215_ln_int", "q220_ln_in_int", "q220_ln_gen_int")),
    "pipeline/LangModel.scala#termX" ->
      Covered(Set("q215_ln_int", "q220_ln_in_int", "q220_ln_gen_int")),
    "pipeline/LangModel.scala#q222_doremi_weights" ->
      Covered(Set("q222_ln_uni_int", "q222_exp_u_int", "q222_ppb_int")),
    "pipeline/LangModel.scala#doremiX" ->
      Covered(Set("q222_ln_uni_int")),
    // q228 reuses doremiX's fused scoring pass verbatim — its oracle's
    // ln sites are the q222/q215 expressions, measured by those margins
    "pipeline/LangModel.scala#q228_rho_select" ->
      Covered(Set("q222_ln_uni_int", "q215_ln_int")),
    "pipeline/LangModel.scala#doremiGrid" ->
      Covered(Set("q222_exp_u_int", "q222_ppb_int")),
    "pipeline/LangModel.scala#intMargin" -> infra,
    // ---- gate family (Quality) --------------------------------------
    "pipeline/Quality.scala#q210_psi_drift" ->
      Covered(Set("q210_psi_int")),
    // q237 reuses psiPreQuant verbatim over the embedding-cluster
    // histograms; the oracle string's log2 is the site — its margin
    // measures the same pre-floor term on q237's own (p_ref, p_cur)
    "pipeline/Quality.scala#q237_embed_drift_psi" ->
      Covered(Set("q237_psi_int")),
    "pipeline/Quality.scala#q213_classifier_gate" ->
      Covered(Set("q213_q219_score_half", "q213_q219_gate_half")),
    "pipeline/Quality.scala#q219_stream_classifier_gate" ->
      Covered(Set("q213_q219_score_half", "q213_q219_gate_half")),
    "pipeline/Quality.scala#duckGateSql" ->
      Covered(Set("q213_q219_score_half", "q213_q219_gate_half")),
    "pipeline/Quality.scala#streamGate" ->
      Covered(Set("q213_q219_score_half", "q213_q219_gate_half")),
    "pipeline/Quality.scala#gateVerdicts" ->
      Covered(Set("q213_q219_gate_half")),
    "pipeline/Quality.scala#xs" -> // trainLogreg epoch sigmoid + gPre
      Covered(Set("q212_grad_floor_int")),
    "pipeline/Quality.scala#iterCtes" -> // oracle epoch CTEs
      Covered(Set("q212_grad_floor_int")),
    "pipeline/Quality.scala#quantMargins" -> infra,
    // ---- teacher sigmoid + retrieval family (TextAnalysis) ----------
    "pipeline/TextAnalysis.scala#qualityRaw" ->
      Covered(Set("teacher_sigmoid_half")),
    "pipeline/TextAnalysis.scala#q58_text_stats" ->
      Covered(Set("teacher_sigmoid_half")),
    "pipeline/TextAnalysis.scala#stops" -> // q58's inline teacher copy
      Covered(Set("teacher_sigmoid_half")),
    "pipeline/TextAnalysis.scala#q161_stream_curation_gate" ->
      Covered(Set("teacher_sigmoid_half")),
    "pipeline/TextAnalysis.scala#bigrams" -> // q172 stream scoring
      Covered(Set("q171_q172_log2_half")),
    "pipeline/TextAnalysis.scala#perplexityTermsRaw" ->
      Covered(Set("q171_q172_log2_half")),
    "pipeline/TextAnalysis.scala#q175_dsir_select" ->
      Covered(Set("q175_log2_half")),
    "pipeline/TextAnalysis.scala#dsirTermsRaw" ->
      Covered(Set("q175_log2_half")),
    "pipeline/TextAnalysis.scala#q177_bm25_topk" ->
      Covered(Set("q177_idf_ln_half", "q177_contrib_half")),
    "pipeline/TextAnalysis.scala#bm25Contrib" ->
      Covered(Set("q177_idf_ln_half", "q177_contrib_half")),
    "pipeline/TextAnalysis.scala#q183_pmi_collocations" ->
      Covered(Set("q183_pmi_log2_half")),
    "pipeline/TextAnalysis.scala#pmiRaw" ->
      Covered(Set("q183_pmi_log2_half")),
    "pipeline/TextAnalysis.scala#q184_tfidf_keywords" ->
      Covered(Set("q184_idf_ln_half", "q184_score_half")),
    "pipeline/TextAnalysis.scala#tfidfRaw" ->
      Covered(Set("q184_idf_ln_half", "q184_score_half")),
    "pipeline/TextAnalysis.scala#cmsEstimates" -> pow2,
    "pipeline/TextAnalysis.scala#q125_hash_split" -> pow2,
    "pipeline/TextAnalysis.scala#q159_quota_sample" -> pow2,
    "pipeline/TextAnalysis.scala#q165_weighted_mixture_sample" -> pow2,
    "pipeline/TextAnalysis.scala#q181_token_budget_mix" -> pow2,
    "pipeline/TextAnalysis.scala#q199_temperature_mix" -> pow2,
    // ---- hash devices & power-of-two signatures ---------------------
    "pipeline/CorpusStats.scala#q201_stratified_sample" -> pow2,
    "pipeline/CorpusStats.scala#q204_sif_embeddings" -> pow2,
    "pipeline/Dedup.scala#duckH32" -> pow2,
    "pipeline/Dedup.scala#duckH52" -> pow2,
    "pipeline/Dedup.scala#duckBandHash" -> pow2,
    "pipeline/Dedup.scala#q138_curation_keeplist" -> pow2,
    "pipeline/Dedup.scala#q53_simhash" -> pow2,
    "pipeline/Dedup.scala#q55_fingerprint" -> pow2,
    "pipeline/Dedup.scala#simhashWithLang" -> pow2,
    "pipeline/Similarity.scala#q218_cluster_balanced_keep" -> pow2)
}
