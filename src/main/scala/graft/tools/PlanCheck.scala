package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/**
 * Physical-plan audit: prints the formatted plan for each (non-pipeline)
 * query and flags scale risks — missing parquet filter pushdown, missing
 * broadcast on dimension joins, cartesian products, absent whole-stage
 * codegen. Run after changing any query; the checks encode the 100 TB
 * design rules from SURVEY §4.
 *
 * The BNLJ allowlist below is NOT self-certified: every query whose
 * executed plan contains a BroadcastNestedLoopJoin — allowlisted or
 * not — also has its build side's MEASURED row count audited against
 * `--bnljMax` (default 100000). A refactor that grows a "tiny"
 * allowlisted side past the threshold flags `BNLJ_GROWN` and fails
 * the run (exit 1), so the allowlist comments can't go stale silently.
 */
object PlanCheck {

  /** Measured output rows of a broadcast exchange, descending through
    * AQE query stages and reused exchanges. */
  private def broadcastRows(p: SparkPlan): Option[Long] = p match {
    case q: QueryStageExec => broadcastRows(q.plan)
    case r: ReusedExchangeExec => broadcastRows(r.child)
    case other =>
      other.metrics.get("numOutputRows").map(_.value)
        .orElse(other.children.iterator.map(broadcastRows).collectFirst {
          case Some(n) => n
        })
  }

  private def collectBnlj(p: SparkPlan): Seq[BroadcastNestedLoopJoinExec] = {
    val here = p match {
      case b: BroadcastNestedLoopJoinExec => Seq(b)
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(collectBnlj)
  }

  /** Audit every BNLJ build side in an EXECUTED frame's final plan:
    * one violation string per broadcast side whose measured row count
    * exceeds `maxRows`. Call after an action — AQE finalizes the plan
    * and populates exchange metrics only once the job has run. */
  def auditBnljBuildSides(df: DataFrame, maxRows: Long): Seq[String] = {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    collectBnlj(df.queryExecution.executedPlan).flatMap { b =>
      val build = if (b.buildSide == BuildLeft) b.left else b.right
      broadcastRows(build) match {
        case Some(n) if n > maxRows => Some(s"BNLJ_GROWN(rows=$n>max=$maxRows)")
        case _ => None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local()
    val bnljMax = args.sliding(2).collectFirst {
      case Array("--bnljMax", n) => n.toLong
    }.getOrElse(100000L)
    var anyGrown = false

    // pipeline queries (q2x) mutate cache tables — plan-audit the rest
    val skip = Set("q20_merge_upsert", "q21_append", "q22_replace",
      "q23_auto_strategy", "q24_schema_evolution", "q25_incremental_cursor",
      "q28_sql_passthrough",
      // q135/q138: driver-loop surfaces (BPE merges, k-center coreset)
      // — the final frame is a LocalTableScan of the k collected rows;
      // each round's distributed plan is a scan + TakeOrdered already
      // audited elsewhere; nothing to plan-audit in the output frame.
      "q135_bpe_merges", "q138_coreset",
      // q155/q185/q189/q198/q207/q210: driver-assembled trajectory /
      // solution frames (unigram EM, Bradley–Terry MM, Markov power
      // iteration, Holt recursion, k-core peel rounds, CUSUM) — the
      // output is a LocalTableScan; the corpus stages are plan-gated
      // in ExchangeBudgetSpec instead
      "q155_unigram_tokenizer", "q185_bradley_terry",
      "q189_markov_stationary", "q198_holt_forecast",
      "q207_kcore_peel", "q210_cusum")

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip.contains(name)) {
        val df = fn(spark, sfDir)
        // execute THIS df's own QueryExecution (a noop write would clone
        // it) — under AQE the final plan with codegen spans only exists
        // after the job runs
        df.collect()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        val flags = Seq(
          ("CARTESIAN", plan.contains("CartesianProduct")),
          // whole-stage codegen spans show as "*(n)" in simple mode
          ("NO_CODEGEN", !plan.contains("*(")),
          // BNLJ is the INTENDED plan when the build side is a tiny
          // broadcast dim and the condition is non-equi: q54's 5-row
          // band table, q35/q42/q60's k-row query/centroid sets (routed
          // via crossJoin(broadcast(...))), q49's DF-gate term list.
          // The flag is for ACCIDENTAL nested loops over two large sides.
          ("BNLJ_LARGE", plan.contains("BroadcastNestedLoopJoin") &&
            !Set("q10_semi_anti_join", "q11_set_ops", "q23_auto_strategy",
              "q35_cosine_topk", "q42_ivf_topk", "q49_distinctive_terms",
              "q54_range_join", "q59_semantic_dedup", "q60_kmeans_iter",
              "q61_dedup_clusters",
              // one-row corpus-stats / tiny-dim cross joins by design
              "q65_domain_mix", "q68_funnel", "q70_keyword_search",
              // q86: one-row percentile-bounds broadcast; q88: one-row
              // corpus-totals broadcast
              "q86_length_bins", "q88_bigram_pmi",
              // q89/q94: one-row corpus totals; q100: two one-row sync
              // counters; q109: one-row percentile bounds; q117: one-row
              // stats × edges × triangles scalars — all
              // crossJoin(broadcast(<1-row aggregate>)) by construction
              "q89_lm_surprisal", "q94_quality_drift", "q100_pipeline",
              "q109_quality_ensemble", "q117_triangle_count",
              // q95: one-row reciprocity count; q96: one-row token total;
              // q99: one-row as-of date + one-row RFM median bounds
              "q95_graph_degrees", "q96_source_skew", "q99_rfm_segments",
              // q122: 1-row total + 3-row threshold dim, non-equi by
              // construction (cum*100 >= n*t)
              "q122_vocab_coverage",
              // q127: 1-row mixture totals; q128: 1-row feature totals;
              // q130: 10-bin spine × event types; q132: 64² local index
              // pairs × the ONE-row gram aggregate — all tiny-side
              // crossJoin(broadcast(...)) by construction
              "q127_mixture_weights", "q128_dsir_weights",
              "q130_drift_psi", "q132_embed_corr",
              // q137: 1-row mixture-normalizer broadcast (q127's shape)
              "q137_assembly",
              // q139/q140/q142: 1-row corpus-stats / vocab-size /
              // waterlevel broadcasts crossed into dimension-sized rows
              "q139_bm25", "q140_ppl_buckets", "q142_unimax",
              // q144: 5-row nprobe sweep dimension + 1-row query count,
              // both broadcast into range-condition joins
              "q144_ivf_recall",
              // q145: 1-row scales array + 4-row bits sweep + 1-row
              // query count, all broadcast
              "q145_quant_recall",
              // q146: 1-row truth count broadcast into the 4-row
              // band-config dimension
              "q146_lsh_tuning",
              // q147: source-pair dimension is a self-pair of the
              // ~20-row per-source count table (broadcast BNLJ on <)
              "q147_source_overlap",
              // q149: 30-row subspace dim + 50-row query decimation +
              // 1-row query count, all broadcast
              "q149_pq_recall",
              // q126: mutual-kNN is all-pairs over the 1/5-decimated
              // probe set by definition (the brute baseline; ANN/coreset
              // variants are the raw-scale path) — broadcast is the
              // decimated side
              "q126_mutual_knn",
              // q225: the bench side is the benchmark suite — small by
              // construction — broadcast into the max-cosine screen
              "q225_bench_proximity",
              // q230: k-row (≤64-label) per-label stats self-paired for
              // the worst-separation ratio — dimension × dimension
              "q230_davies_bouldin",
              // q231: 1-row corpus-totals broadcast into the ≤10-bin
              // addend table (q86's shape)
              "q231_brier_decomposition",
              // q233: 1-row corpus-totals broadcast into the 5-row
              // threshold curve (q86's shape)
              "q233_dedup_threshold_curve",
              // q152: 10-row query set broadcast into the scoring cross
              // join (q35's shape)
              "q152_hard_negatives",
              // q159: class dim (2 rows) + 1-row vocab-size broadcasts
              "q159_naive_bayes",
              // q173: per-query term/total dims (queries are a ~5-row
              // constant set) + rank-weight dim, all broadcast
              "q173_ranking_metrics",
              // q174: 1-row continuation-total + vocab-sized n1 counts
              // broadcast into the bigram scorer
              "q174_kneser_ney",
              // q184: per-config 1-row tallies ride IdentityBroadcast
              // cross joins (truth/candidate counts are single rows)
              "q184_lsh_s_curve",
              // q266: ~|sources|-row KMV sketch table self-paired on <
              // (q147's shape) — sources×k longs regardless of corpus
              "q266_kmv_source_overlap",
              // q270: 1-row session-count broadcast crossed into the
              // ≤|types|²/2 pair table (the q86/q117 one-row-totals
              // shape)
              "q270_session_cooccurrence",
              // q203: class×source fan-out crosses the ~|sources|-row
              // marginal and the 1-row total, both broadcast by design
              "q203_t_closeness",
              // q192: dense source×vocab fan-out over the DF-gated
              // vocabulary dimension (JSD needs the zero cells)
              "q192_source_jsd",
              // q193: 1-row log-log regression coefficients broadcast
              // back onto the bucket curve
              "q193_heaps_law",
              // q195: journeys × the constant pattern dimension
              // (substring containment is non-equi by nature)
              "q195_sequence_pattern",
              // q201: per-type fan-out of the pooled value-point CDF
              // (types × value points, both dimension-sized)
              "q201_quantile_normalize",
              // q217: 1-row (N, S) totals broadcast onto the 64-row
              // bin dimension (the q86/q88 one-row-stats shape)
              "q217_otsu_threshold",
              // q235: 1-row doc-count total broadcast into the term
              // stats for the relative-df gate (q88's shape)
              "q235_term_burstiness",
              // q240/q245: 1-row contingency-total broadcast onto the
              // dimension-sized cell/margin tables (q88's shape)
              "q240_chi_squared", "q245_theils_u",
              // q248: the PC truth side is the ABSOLUTE-SIZE key
              // decimation (sampleModulus-derived, constant ~2000 rows
              // at any scale) brute-forced by design (q126/q232's
              // decimated-anchor class); RR itself needs no pair join
              "q248_blocking_audit",
              // q249: 1-row totals + 3-row coverage-target dim crossed
              // into the spectrum under a non-equi threshold predicate
              // (q122's shape, but over the value-domain-sized spectrum)
              "q249_vocab_coverage",
              // q251/q252: the exact brute-force kNN anchor (q35/q126's
              // class) — the query side IS the corpus here, so these
              // are exact-anchor queries whose corpus-scale path is the
              // identical downstream over Similarity.ivfTopK
              "q251_label_noise", "q252_hubness",
              // q254: the 4-row tau sweep stacks over a 1-row aggregate
              // (q86's one-row-stats shape)
              "q254_session_gap_sweep",
              // q255: three 1-row count frames crossed for the single
              // summary row
              "q255_dup_transitivity",
              // q256: 3-row tau sweep broadcast into the class-verdict
              // frame (q233's threshold-curve shape)
              "q256_decontam_collateral",
              // q257: 1-row global-absmax broadcast onto the bounded
              // (dim, milli-value) tally (q217/q88's one-row-stats
              // shape)
              "q257_quant_range")
              .contains(name))
        ).collect { case (f, true) => f } ++ {
          // measured-build-side audit for EVERY BNLJ, allowlisted or not
          val grown =
            if (plan.contains("BroadcastNestedLoopJoin"))
              auditBnljBuildSides(df, bnljMax)
            else Seq.empty
          if (grown.nonEmpty) anyGrown = true
          grown
        }
        val scans = plan.linesIterator
          .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
          .take(4).mkString("\n    ")
        println(s"== $name ${if (flags.isEmpty) "OK" else flags.mkString("[", ",", "]")}")
        if (scans.nonEmpty) println(s"    $scans")
        if (args.contains("-v")) println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
    if (anyGrown) {
      System.err.println("[plancheck] FAIL: a BNLJ build side outgrew " +
        s"--bnljMax=$bnljMax; fix the plan or justify a higher threshold")
      sys.exit(1)
    }
  }
}
