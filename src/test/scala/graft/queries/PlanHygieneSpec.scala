package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join}

/** Blanket plan-hygiene net over EVERY registered query: the failure modes
  * that silently kill a 100 TB run must never enter any plan.
  *
  *  - `CartesianProduct`: unbounded pair blowup — never acceptable.
  *  - `BatchEvalPython` / `ScalaUDF`: interpreted rows outside codegen —
  *    this engine's hot paths are built-ins + native Catalyst expressions.
  *  - `BroadcastNestedLoopJoin`: only legal where a provably tiny relation
  *    is broadcast on purpose (a scalar subquery's 1 row, a query vector,
  *    8 hyperplane rows) — whitelisted explicitly so a new query can't
  *    sneak one in unreviewed.
  *  - A broadcast hint on a join side Spark cannot build (the preserved
  *    side of an outer join, the left of a semi or anti join): Spark
  *    logs a warning, ignores it and plans as if it were absent, so the
  *    hint only reads as a plan guarantee that does not hold.
  */
class PlanHygieneSpec extends SparkSpec {

  private val bnljWhitelist = Set(
    "q16_scalar_subquery", // scalar subquery: 1-row broadcast
    "qv01_knn_cosine", // broadcast query vector (1 row)
    "qv03_lsh_buckets", // broadcast hyperplanes (8 rows)
    "qv19_bitext_mining", // the same broadcast hyperplanes (4 rows), both corpora
    "qv20_knn_graph", // broadcast hyperplanes (8 rows) inside lshBuckets
    "qv04_ivf_ann", // broadcast query vector + probed cells
    "qv05_ivf_trained", // same shape, trained centroids
    "qv06_tfidf_cosine", // broadcast corpus count N (1 row)
    "qv07_batch_knn", // broadcast query batch (5 rows)
    "qv08_hamming_ann", // broadcast query sketch (1 row)
    "qv11_rerank", // broadcast query sketch+vector (1 row)
    "qv12_ivfpq", // broadcast centroid sample (<= maxCentroids rows)
    "qv14_ivfpq_residual", // broadcast centroid sample (<= maxCentroids rows)
    "qv09_semantic_dedup", // broadcast centroid sample (<= maxCentroids rows)
    "qg01_triangles", // cross of three 1-row count aggregates
    "qq47_spearman_bucketed", // broadcast 1-row min/max bounds per column
    "qq48_kendall", // dense grid = x-levels x BROADCAST y-levels (tiny) + 1-row tie cross
    "qx04_kmv_setops", // cross of two 1-row estimate/exact aggregates
    "qq01_quality_audit", // cross of 1-row checked/orphan count aggregates
    "qd44_distribution_drift", // cross of the two 1-row side-total aggregates
    "qd28_characteristic_terms", // broadcast corpus count N (1 row)
    "qd38_bm25", // broadcast corpus stats (N, avgdl10) — 1 row
    "qd42_rrf_fusion", // qd38's BM25 ranker inside: same 1-row stats broadcast
    "qd45_hard_negatives", // two qd38 BM25 rankers inside: same 1-row stats broadcast
    "qg04_pagerank", // broadcast vertex count (1 row) in rank init + teleport
    "qq06_key_skew", // cross of the 1-row global (n_keys, n_rows, sum_sq) aggregate
    "qd54_retrieval_eval", // two qd38 BM25 rankers inside: same 1-row stats broadcast
    "qg10_ppr", // broadcast seed count (1 row) in rank init + teleport
    "qq07_cluster_agreement", // cross of three 1-row pair-count aggregates
    "qd55_collocations", // broadcast corpus token total (1 row)
    "qd57_corpus_divergence", // cross of the two 1-row side-total aggregates
    "qg11_modularity", // cross of the 1-row edge-count m and 1-row modularity total
    "qq09_kappa", // cross of the 1-row (n, agree) and 1-row sum_ab aggregates
    "qd61_keywords", // broadcast corpus doc count (1 row)
    "qw03_decayed_counts", // broadcast newest-bucket reference (1 row)
    "qq10_benford", // cross of the 1-row total and 1-row TVD aggregates
    "qq12_heaps_growth", // broadcast id-range bounds (1 row)
    "qq15_schema_drift", // broadcast id-range bounds (1 row), twice (query synth + operator)
    "qd63_shingle_reuse", // broadcast id-range bounds (1 row)
    "qa10_rfm", // broadcast newest-purchase reference (1 row)
    "qq14_outliers", // broadcast population moments (1 row)
    "qa11_assoc_rules", // broadcast basket count (1 row)
    "qx09_group_jaccard", // group-pair inequality join over the distinct-group list (|G| rows)
    "qx10_negative_samples", // broadcast catalog slice (caller-bounded, SCALE CONTRACT)
    "qq16_ks_test", // broadcast (n_a, n_b) totals (1 row)
    "qq17_cramers_v2", // broadcast (n, nr, nc) totals (1 row) + broadcast row-marginal grid join
    "qx12_bloom_fpr", // cross of four 1-row scalar aggregates (member/bit/probe/fp counts)
    "qd73_lsh_calibration", // cross of the 1-row candidate and 1-row truth aggregates
    "qq22_freshness_lag", // broadcast global-newest timestamp (1 row)
    "qa17_target_encoding", // broadcast global prior rate (1 row)
    "qv23_hamming_recall", // broadcast query panel (id%queryMod-bounded) scored vs corpus
    "qq23_sentinel_audit", // cross of the 1-row scalar agg and the TakeOrdered 1-row mode
    "qg16_conductance", // broadcast total-volume scalar (1 row)
    "qv24_ivf_balance", // cross of the <=maxCentroids cell list and the 1-row total
    "qv26_label_noise", // broadcast hyperplanes (8 rows) inside knnGraph's lshBuckets
    "qx15_quantile_rollup", // broadcast n_parts scalar (1 row)
    "qq25_support_coverage", // cross of four 1-row count aggregates
    "qx16_cms_recall", // cross of the 1-row k and 1-row hits aggregates
    "qa22_conversion_curve", // broadcast signup-count scalar (1 row)
    "qq26_fanout_audit", // cross of three 1-row relationship rollups
    "qd83_vocab_sweep", // |sizes| candidates x <=max(sizes) ranked head (bounded x bounded) + 1-row total broadcast
    "qa23_growth_accounting", // broadcast global last-week scalar (1 row)
    "qv30_hubness", // broadcast hyperplanes (8 rows) inside knnGraph's lshBuckets
    "qx18_ams_f2", // cross of the 1-row exact-F2 aggregate and 1-row median estimate
    "qq31_hellinger_gate", // per-feature cross of the two 1-row side-total aggregates
    "qv33_mrl_truncation", // broadcast query panel + 1-row panel-count scalar
    "qq32_simpsons", // 1-row overall-sign broadcast into the reverses flag
    "qv34_ivf_probe_sweep", // broadcast probed-cell panel + 1-row panel/corpus counts
    "qq33_krippendorff", // cross of the 1-row D_o and 1-row D_e moment aggregates
    "qq34_jackknife", // 1-row global-totals broadcast into every block's pseudovalue
    "qa24_cuped", // 1-row pooled-moment broadcast into the 2-row arm table
    "qq35_rbo_drift", // ≤k² bounded depth fan-out + 1-row churn×rbo cross
    "qa25_calibration", // 1-row global-fallback-rate broadcast
    "qa26_survival", // 1-row corpus-edge broadcast
    "qq37_fk_candidates", // ≤16×16 pair grid: broadcast cross of the per-column stats
    "qq39_bootstrap_ci", // 1-row present-block totals broadcast into the constant draw grid
    "qa27_fdr_gate", // 1-row arm-total / metric-count / k* broadcasts into the metric table
    "qv37_nn_descent", // broadcast hyperplanes (8 rows) inside knnGraph's lshBuckets
    "qv38_multiprobe", // broadcast hyperplanes + <=probes probe list + 1-row query vector
    "qq41_monotonicity", // 1-row min/max + bucket-count broadcasts into the rate table
    "qg21_louvain", // 1-row edge-count m broadcast into the move gain + summary cross
    "qa28_power", // 1-row arm-total broadcast into the metric reach table
    "qa30_autocorrelation", // 1-row hour-bounds broadcast seeds the dense series
    "qa29_mannwhitney", // 1-row tie-term aggregate broadcast into the 1-row pairing
    "qa32_srm_check", // 1-row totals broadcast into the |arms|-row allocation table
    "qv39_filtered_ann", // 1-row query-vector broadcast + 1-row x 1-row audit cross
    "qq43_mad_outliers", // 1-row med2/mad4 broadcasts into the per-row gate
    "qq44_benford", // 1-row total broadcast into the 9-row digit table
    "qv36_embedding_decontam") // broadcast eval panel (id%evalMod-bounded) scored vs corpus

  test("no query plan contains a cartesian product, a UDF, or an unapproved nested-loop join") {
    val dir = sf("sf0.001")
    val problems = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      Seq(
        Option.when(p.contains("CartesianProduct"))(s"$name: CartesianProduct"),
        Option.when(p.contains("BatchEvalPython"))(s"$name: python UDF"),
        Option.when(p.contains("ScalaUDF"))(s"$name: ScalaUDF"),
        Option.when(p.contains("BroadcastNestedLoopJoin") && !bnljWhitelist(name))(
          s"$name: unapproved BroadcastNestedLoopJoin")
      ).flatten
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("no broadcast hint sits on a join side Spark cannot build") {
    def broadcast(h: Option[HintInfo]): Boolean = h.exists(_.strategy.contains(BROADCAST))
    val dir = sf("sf0.001")
    val problems = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, dir).queryExecution.optimizedPlan.collectWithSubqueries {
        case j: Join if broadcast(j.hint.leftHint) && Seq(LeftOuter, LeftSemi, LeftAnti).contains(j.joinType) =>
          s"$name: broadcast hint on the left of a ${j.joinType.sql} join"
        case j: Join if broadcast(j.hint.rightHint) && j.joinType == RightOuter =>
          s"$name: broadcast hint on the right of a ${j.joinType.sql} join"
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
