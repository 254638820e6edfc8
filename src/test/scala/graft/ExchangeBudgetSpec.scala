package graft

/**
 * Shuffle-budget regression gate: each scale-critical query's executed
 * plan must not contain more Exchange (shuffle) operators than its
 * design budget. A refactor that silently adds a shuffle — the thing
 * that actually hurts at 100 TB — fails here even though correctness
 * stays green. Budgets are the DESIGNED shuffle counts documented in
 * each query's header comment, measured on the final AQE plan.
 */
class ExchangeBudgetSpec extends SparkTestBase {

  private def exchanges(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, sf())
    df.collect() // materialize so AQE settles on the final physical plan
    // AQE's tree string prints the FINAL plan followed by the Initial
    // Plan it replaced — count only the final section, and only lines
    // that EXECUTE a shuffle: ReusedExchange re-prints the exchange
    // text but reads the already-shuffled output, and BroadcastExchange
    // is the cheap dimension path we WANT queries to take.
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    plan.linesIterator
      .filterNot(_.contains("ReusedExchange"))
      .count("Exchange (hash|range|Single)".r.findFirstIn(_).isDefined)
  }

  // (query, max shuffles) — tight by design, see query header comments
  private val budgets = Seq(
    "q2_filter_pushdown" -> 1,  // one final agg
    "q5_topk"            -> 1,  // TakeOrderedAndProject, no global sort
    "q30_dedup_exact"    -> 2,  // hash-group by content + winner join
    "q37_quality_score"  -> 0,  // pure per-row scoring
    "q48_repetition"     -> 0,  // per-row compiled shingles
    "q64_gopher_rules"   -> 1,  // per-row rules + one lang tally
    "q77_chunk"          -> 0,  // per-row explode, zero shuffle
    "q83_token_entropy"  -> 0,  // per-row compiled kernel
    "q86_length_bins"    -> 2,  // percentile agg + final bin tally
    "q88_bigram_pmi"     -> 4,  // bigram counts, unigram counts (reused
                                // for the second lookup), two one-row
                                // totals gathers
    "q31_dedup_minhash_lsh" -> 2, // band-bucket candidates are id-only;
                                  // one pair aggregation (+ broadcasts)
    "q44_asof_join"      -> 1,  // union-tag + ONE user_id shuffle
    "q75_sequence_pack"  -> 3,  // bucket window, offsets broadcast,
                                // final seq tally
    "q85_posting_lists"  -> 2,  // (term,doc) partials then per-term
    "q89_lm_surprisal"   -> 3,  // vocab counts, one-row total, per-doc
                                // fold (vocab broadcast back)
    "q101_basket_pairs"  -> 3,  // r17 bucket-group shape: in-bucket pair
                                // agg + freq agg over the checkpointed
                                // basket frame + final TakeOrdered sort
                                // (was distinct + keyed self-join)
    "q103_tfidf_cosine"  -> 3,  // r17: tf agg + df gate sit behind the
                                // posting checkpoint; final plan = pair
                                // agg, norm agg, pair-side exchange
                                // (sf0.1: 15 → 3 — the subtree was
                                // re-planned once per consumer before)
    "q104_weighted_sample" -> 0, // TakeOrderedAndProject: per-task heaps
    "q105_train_split"   -> 4,  // content-hash spans agg, co-shuffled
                                // join back, 3-row split tally
    "q106_span_dedup"    -> 2,  // r17: the (class, window) tally sits
                                // behind a checkpoint (was re-planned
                                // by the span-df agg AND the join
                                // back); final plan = span-doc counts
                                // + per-class tally (sf0.1: 4 → 2)
    "q107_embed_outliers" -> 3, // centroid agg, its norm, per-vector
                                // dot/norm agg (centroids broadcast)
    "q108_phrase_search" -> 3,  // two term-posting sides + per-doc tally
    "q109_quality_ensemble" -> 2, // one-row percentile bounds (broadcast
                                  // back) + final score tally
    "q110_small_qty_revenue" -> 2, // per-part agg exchange reused by the
                                   // join-back; final brand tally
    "q111_min_cost_supplier" -> 2, // min agg + join-back share the
                                   // l_partkey partitioning; TakeOrdered
    "q112_dedup_keep_best" -> 3,  // LSH/CC shuffles sit behind their own
                                  // checkpoints (budgeted via q31/q61);
                                  // here: label join + cluster agg
    "q113_boilerplate_spans" -> 2, // r17: the span-count frame is
                                   // checkpointed (was re-planned by
                                   // max AND join-back); final plan =
                                   // source max + tiebreak agg
    "q114_prefix_filter_join" -> 4, // r17: size/df aggs + rank window sit
                                    // behind the prefix-index checkpoint
                                    // (built once, was once per join
                                    // side); final plan = prefix
                                    // self-join sides (skew-splittable
                                    // by design), candidate dedup,
                                    // verify/intersection tallies
                                    // (sf0.1: 9 → 4)
    "q115_rolling_distinct" -> 4, // (day,user) dedup, day spine,
                                  // (target,user) dedup, final tally
    "q116_longest_dup_span" -> 3, // r17: the window stream sits behind
                                  // a checkpoint (the rolling kernel
                                  // ran once per consumer before);
                                  // final plan = (doc,h) dedup +
                                  // shared-h agg, per-doc position
                                  // window (island tally rides it)
    "q117_triangle_count" -> 5, // r17: degree tally checkpointed (was
                                // re-planned per wedge side); oriented
                                // self-join, wedge-vs-edge probe,
                                // 1-row stats (sf0.1: 8 → 5)
    "q118_timed_funnel" -> 5,   // three per-user stage aggs chained on
                                // ONE reused user_id partitioning +
                                // 1-row tallies
    "q119_skyline" -> 4,        // per-length max agg, tiny-dimension
                                // prefix window, broadcast join back,
                                // output sort
    "q120_hierarchy_share" -> 3, // custkey co-shuffle, nation agg;
                                 // dimension joins broadcast
    "q121_topk_per_group" -> 3,  // per-customer agg, custkey join,
                                 // bounded top-k heaps per nation
    "q122_vocab_coverage" -> 3,  // word counts (reused for the total),
                                 // vocab-sized global window, 1-row
                                 // total gather; thresholds broadcast
    "q123_heavy_hitters"  -> 1,  // MG candidates are a map-only pass +
                                 // driver collect; the one shuffle is
                                 // the candidate-only exact count
    "q124_simhash_hamming_join" -> 2, // class agg sits behind its own
                                 // checkpoint; band self-join +
                                 // candidate-pair dedup (join goes
                                 // broadcast at this SF, co-shuffled
                                 // beyond)
    "q126_mutual_knn"     -> 1,  // broadcast cross-score feeds ONE
                                 // per-query top-k heap shuffle, reused
                                 // (ReusedExchange) by both sides of
                                 // the mutuality semi-join
    "q125_cross_corpus_novelty" -> 5, // content-class agg sits behind
                                 // its checkpoint; corpus-shingle
                                 // distinct, batch anti-join side,
                                 // novel per-class agg, totals
                                 // per-class agg, final class join
    "q127_mixture_weights" -> 2, // source tally + 1-row totals gather;
                                 // weights ride the broadcast back
    "q128_dsir_weights"   -> 3,  // ONE combined raw+target bucket
                                 // tally, 64-row window-total gather,
                                 // per-doc score fold; the 64-row λ
                                 // table broadcasts back
    "q129_domain_cap"     -> 2,  // per-domain rank window + audit agg
                                 // (same key — AQE may fuse to 1)
    "q130_drift_psi"      -> 6,  // type range agg, (type,bin) counts,
                                 // type spine distinct, totals, psi
                                 // agg; all but the bin pass are
                                 // dimension-sized
    "q131_zipf_slope"     -> 3,  // token tally, per-source bounded
                                 // top-k heap agg (map-side combined),
                                 // slope agg
    "q132_embed_corr"     -> 1,  // ONE single-partition gram gather —
                                 // the corpus never shuffles; pair
                                 // arithmetic is local + TakeOrdered
    "q133_char_pairs"     -> 2,  // word tally + pair tally; top-20 is
                                 // TakeOrderedAndProject
    "q136_epoch_schedule" -> 2,  // per-source quartile window + audit
                                 // tally (same key)
    "q139_bm25"           -> 6,  // dl agg + tfq agg + 1-row stats gather
                                 // + (qid,doc) score agg + per-qid topk
                                 // + idf df agg (query-term-sized); all
                                 // joins broadcast
    "q140_ppl_buckets"    -> 7,  // LM uni/bi aggs (vocab-sized) + 1-row
                                 // V gather + per-doc score agg +
                                 // per-source tertile window + bucket
                                 // tally; LM lookups broadcast
    "q141_weighted_sample" -> 1, // ONE bounded-heap topk agg
    "q143_token_fertility" -> 4, // encode map + docs⋈tokens join +
                                 // lang tally (merge learning runs
                                 // eagerly behind its checkpoint)
    "q146_lsh_tuning"      -> 6, // truth sits behind a checkpoint (r16:
                                 // the pair engine was planned once per
                                 // consumer before); the banded cand
                                 // dedup is deliberately NOT
                                 // checkpointed (cheaper to recompute,
                                 // measured) so its dedup agg counts
                                 // once per consumer; + truth bucket
                                 // agg + pair agg + per-band tallies
    "q149_pq_recall"       -> 9, // per-(m,j,vec) code argmin agg +
                                 // reconstruction agg + per-(m,query)
                                 // bounded-heap agg + brute anchor
                                 // (agg + hit join) + per-m tallies;
                                 // subspace/codebook/query dims all
                                 // broadcast
    "q148_audio_meta"      -> 1, // per-row build+parse map, one
                                 // partial-agged (channels,rate) tally
    "q147_source_overlap"  -> 6, // ONE shingle shuffle (checkpointed
                                 // groupBy s) feeds both per-source
                                 // counts (source agg) and pair
                                 // tallies (pair agg); tiny count
                                 // table self-pairs via broadcast
    "q145_quant_recall"    -> 8, // per-dim scales agg + 1-row gather +
                                 // per-(bits,query) bounded-heap agg +
                                 // brute anchor (agg + hit join) +
                                 // tallies; vectors quantize behind
                                 // ONE checkpointed pass
    "q144_ivf_recall"      -> 10, // sweep shares ONE scoring pass
                                 // (checkpointed); budget covers the
                                 // per-np bounded-heap agg, the brute
                                 // anchor (agg + hit join), tallies,
                                 // and 1-row gathers — candidate- or
                                 // query-sized, never corpus-wide
    "q142_unimax"         -> 9,  // dimension-sized throughout: source
                                 // agg + 1-row budget + global window
                                 // rank on 20 rows + waterlevel gather;
                                 // only the source agg sees the corpus
    "q137_assembly"       -> 13, // composition budget. Corpus-sized:
                                 // dedup-class agg, rep join-back (2),
                                 // curriculum window — 4. The rest are
                                 // q134's candidate stages (collapses
                                 // behind their checkpoints), the
                                 // contam anti-join, two per-source
                                 // tallies, 1-row normalizer gather —
                                 // all candidate- or dimension-sized
    "q150_quality_classifier" -> 1, // the final accuracy agg (each
                                 // gradient step is one more 1-row
                                 // SinglePartition agg at collect
                                 // time — map-side partials, nothing
                                 // corpus-sized moves)
    "q151_url_dedup"      -> 1,  // per-row canonicalize kernel + ONE
                                 // hash agg on the canonical key
    "q152_hard_negatives" -> 1,  // queries broadcast into the scan;
                                 // one (query,kind) bounded-heap agg
    "q153_k_anonymity"    -> 1,  // one QI-class hash agg + broadcast
                                 // nation dim join
    "q154_dp_counts"      -> 1,  // one source agg; noise is per-group
    "q156_ewma_anomaly"   -> 2,  // daily tally collapses behind its
                                 // checkpoint; banded self-join rides
                                 // a broadcast of the dimension-sized
                                 // daily table + one scored agg
    "q157_canary_scan"    -> 1,  // broadcast watchlist cross join +
                                 // one watchlist-sized agg
    "q158_entity_resolution" -> 1, // broadcast blocked self-join feeds
                                 // map-side partial aggs; the one
                                 // shuffle is the adjective-sized
                                 // final agg (r16: the jw >= 0.85 cut
                                 // folded into conditional aggregates)
    "q159_naive_bayes"    -> 10, // model = (class,token) hash-agg +
                                 // 16-row class table assembled from
                                 // three dimension aggs (two single-
                                 // partition scalars); scoring joins
                                 // ride broadcasts of the model; then
                                 // per-doc score agg, argmax window on
                                 // doc_id, confusion agg, final sort
    "q160_dialog_patterns" -> 2, // one user_id shuffle for the session
                                 // window + one pattern hash-agg; the
                                 // top-k is TakeOrdered, no global sort
    "q161_attribution"    -> 3,  // purchases broadcast into the touch
                                 // scan; per-purchase window shuffles
                                 // on p_id, then channel agg + sort
    "q162_turn_structure" -> 3,  // one user_id shuffle feeds BOTH
                                 // window passes ((user_id) satisfies
                                 // the (user_id,sid) clustering); then
                                 // the 4-row audit agg + final sort
    "q165_winnowing"      -> 2,  // class collapse and fingerprint
                                 // buckets sit behind checkpoints
                                 // (winnow is per-class, no gram
                                 // rows; r16: bucket-grouped
                                 // pair engine swallowed the df-cap
                                 // agg + semi + pair-hash join); the
                                 // final assembly shuffles: class-pair
                                 // agg + top-20 order range
    "q166_image_decode"   -> 0,  // synth→encode→decode→measure is one
                                 // per-partition kernel chain; nothing
                                 // ever shuffles
    "q167_image_near_dup" -> 2,  // only 64-bit hashes move: band self-
                                 // join (broadcast at this SF, co-
                                 // shuffled beyond) + candidate-pair
                                 // dedup; payload bytes stay in their
                                 // scan partitions behind the hash
                                 // checkpoint
    "q168_audio_energy"   -> 0,  // WAV build→pcm16 decode→frame DSP is
                                 // per-row, zero exchanges
    "q178_perturbed_near_dup" -> 2, // same banded plan as q167
    "q169_unicode_normalize" -> 0, // decorate→NFC→scrub→measure is one
                                 // per-row kernel chain
    "q175_html_extract"   -> 0,  // page build→state-machine extract→
                                 // measure is one per-row kernel chain
    "q176_corpus_report"  -> 2,  // ONE rollup-expand aggregate (partial
                                 // per distinct text) + final group agg
    "q177_media_curation" -> 4,  // decode kernels + doc_id joins sit
                                 // behind the gated checkpoint; after
                                 // it: lang tally, (lang,text) class
                                 // agg, lang class tally (+ the class
                                 // join-back broadcast)
    "q170_bitext_margin"  -> 3,  // tgt half broadcasts into the src
                                 // scan; then fwd window (src_id), bwd
                                 // window (tgt_id), final argmax window
                                 // (src_id) on the checkpointed pair
                                 // table; k-sums ride broadcasts back
    "q171_shard_manifest" -> 2,  // bucket window for the distributed
                                 // prefix sum + shard groupByKey; the
                                 // 64-id bucket totals are a dimension-
                                 // sized collect/broadcast
    "q172_thumbnail"      -> 0,  // decode→resize→re-encode→decode→
                                 // pixels is one per-row kernel chain
    "q173_ranking_metrics" -> 9, // q139's budgeted run stages + the
                                 // label agg ((qid,doc) tally — the
                                 // only corpus-sized addition), totals
                                 // agg, per-query metric agg; weights/
                                 // qrels/idcg all ride broadcasts
    "q174_kneser_ney"     -> 5,  // model tables: cv (w1 agg), n1w (w2
                                 // agg), 1-row N1+(··) gather — all
                                 // derived from the checkpointed (v,w)
                                 // tally and broadcast back onto the
                                 // zero-shuffle bigram expansion; then
                                 // per-doc + per-lang tallies
    "q182_script_mix"     -> 0,  // decorate→count→classify is one
                                 // per-row regex kernel chain
    "q183_calibration"    -> 1,  // one hash-agg on the score decile
    "q187_video_meta"     -> 1,  // per-row mp4 build+parse kernels
                                 // feeding one map-side-combined
                                 // (handler, timescale) hash-agg
    "q186_ks_drift"       -> 5,  // value-point + merged-pair aggs sit
                                 // behind checkpoints; visible: bucket
                                 // subtotals, per-pair offset window,
                                 // within-bucket cumsum window, pair
                                 // totals, final max tally — all
                                 // value-domain-sized inputs
    "q188_annotator_agreement" -> 1, // per-row label kernels feeding one
                                 // map-side-combined per-lang confusion
                                 // agg; κ math on the tiny grouped rows
    "q192_source_jsd"     -> 5,  // (source,token) tally sits behind its
                                 // checkpoint; vocab token agg, source
                                 // totals, dense pair join on t, pair
                                 // JSD agg; vocab/totals broadcast back
    "q193_heaps_law"      -> 5,  // bucket totals agg, token first-
                                 // bucket agg + its 20-row rollup,
                                 // 1-row max gather, 20-row ordered
                                 // window; beta rides a broadcast
    "q195_sequence_pattern" -> 4, // type-dict distinct + its tiny
                                 // rank window; ONE user_id journey
                                 // agg (the corpus pass); final
                                 // pattern tally
    "q194_seasonal_decompose" -> 3, // daily tally is the one corpus
                                 // pass; the day-table window + dow
                                 // rollups fuse under AQE (measured 2;
                                 // headroom 1 for scale-dependent AQE)
    "q190_l_diversity"    -> 3,  // (QI,source) corpus tally; class-total
                                 // window + QI rollup ride the
                                 // dimension-sized class-count table
    "q191_tiff_meta"      -> 1,  // per-row TIFF build+parse kernels
                                 // feeding one map-side-combined
                                 // (byte_order, orientation) hash-agg
    "q196_hll_distinct"   -> 3,  // ONE corpus pass: expand-partial on
                                 // (type,user) then per-type merge (the
                                 // exact-count rewrite; HLL buffers ride
                                 // it); digest rollup reuses the type
                                 // partitioning (measured 2; headroom 1)
    "q197_auc"            -> 5,  // q186's shape: value-point + merged-
                                 // pair aggs behind their checkpoints,
                                 // bucket offsets + within-bucket cum0
                                 // windows (value-domain-bounded), one
                                 // domain-sized U agg; baseline + tot
                                 // fan-outs ride broadcasts
    "q199_benford"        -> 2,  // per-row leading-digit kernel into ONE
                                 // 9-group map-side tally; the total-n
                                 // window gathers the 9-row digit table
    "q200_countmin"       -> 3,  // (d,j) cell tally collapses map-side
                                 // to 2048 groups; exact side is one
                                 // user agg + TakeOrdered(20); cells
                                 // broadcast onto the 20 probes
                                 // (measured 2; headroom 1)
    "q202_rrf_fusion"     -> 2,  // post-checkpoint assembly: one qid
                                 // exchange per ranker's top-20 heap;
                                 // fusion agg + final top-5 ride the
                                 // qid partitioning (rank-list-sized
                                 // input). Corpus stage gated below.
    "q201_quantile_normalize" -> 8, // value-point tally behind its
                                 // checkpoint; per-type + pooled CDFs
                                 // each spend bucket-offset + within-
                                 // bucket windows (domain-bounded),
                                 // totals aggs, one per-type ordered
                                 // merge window; fan-outs broadcast
    "q203_t_closeness"    -> 3,  // post-checkpoint: class totals, the
                                 // source marginal, its 1-row total —
                                 // all over the dimension-sized (QI,
                                 // source) tally; fan-out broadcasts
    "q204_webp_meta"      -> 1,  // per-row build->parse kernels into
                                 // ONE map-side-combined format tally
    "q205_label_propagation" -> 10, // 3 rounds x ((dst,label) tally +
                                 // its dst argmax re-agg, both tally-
                                 // sized; labels broadcast onto the
                                 // checkpointed edges) + node-sized
                                 // keep-label joins + the two final
                                 // community histogram aggs
    "q206_theil_sen"      -> 3,  // post-checkpoint: per-type rank
                                 // window over day-pair lists + tau
                                 // and n_days aggs (all calendar-
                                 // dimension-sized); corpus tally
                                 // gated separately below
    "q208_conformal_coverage" -> 4, // post-checkpoint, all value-point-
                                 // sized: per-lang totals, the CDF
                                 // window's lang partition, threshold
                                 // + coverage aggs (thresholds and
                                 // totals broadcast); corpus tally
                                 // gated separately below
    "q209_ess_diagnostics" -> 1, // ONE map-side-combined per-source
                                 // moment aggregation; nothing else
                                 // touches the corpus
    "q211_lcc_profile"    -> 4,  // post-checkpoint (edge dedup hides
                                 // behind it): degree tally, the
                                 // oriented wedge self-join's apex
                                 // co-shuffle, per-node triangle
                                 // explode tally, final band agg —
                                 // degrees broadcast, wedge volume
                                 // bounded by the orientation trick
    "q212_cdc_chunks"     -> 3,  // compiled CDC kernel in the scan
                                 // (+1 spread repartition when the
                                 // input is underpartitioned); the
                                 // (source, digest) distinct expand's
                                 // two agg levels — partial dedup
                                 // bounds what crosses
    "q213_pdf_meta"       -> 2,  // per-row build->parse kernels (+1
                                 // spread repartition when the input
                                 // is underpartitioned) into ONE
                                 // map-side-combined tally
    "q214_zip_manifest"   -> 1,  // per-row build->parse kernels into
                                 // ONE map-side-combined tally
    "q215_length_gini"    -> 2,  // (source, length) value-point tally
                                 // + per-source moment agg off the
                                 // rank window (value-domain-bounded)
    "q216_fano_factor"    -> 2,  // the (type, day) tally + the
                                 // calendar-sized moment agg
    "q217_otsu_threshold" -> 3,  // 64-cell histogram sits behind its
                                 // checkpoint; after it: the one-row
                                 // totals gather, the 64-row prefix
                                 // window's single-partition sort, and
                                 // the argmax TakeOrdered
    "q219_padding_waste"  -> 1,  // ONE map-side-combined bucket tally
    "q220_soft_dedup"     -> 3,  // content-hash tally, hash join-back
                                 // (co-shuffle at scale; AQE may
                                 // broadcast at test SFs), source
                                 // rollup
    "q221_good_turing"    -> 2,  // (source, term) tally + per-source
                                 // freq-of-freq rollup
    "q228_k_anonymity"    -> 3,  // quasi-identifier class tally,
                                 // per-lang rollup, final order range
    "q232_containment"    -> 8,  // corpus df tally + capped-posting
                                 // semi-join co-shuffle, probe×corpus
                                 // posting join, (eid,cid) pair agg,
                                 // per-probe argmax window, final order
                                 // range (probe side explodes map-side)
    "q233_dedup_threshold_curve" -> 7, // bucket-grouped pair engine
                                 // (r16: one groupBy(s) + pair agg
                                 // replaced the per-side df gate +
                                 // posting self-join) + (tau,id)
                                 // distinct, tau rollup, token
                                 // join-back, 1-row totals gather,
                                 // final order range
    "q230_davies_bouldin" -> 2,  // post-checkpoint: k²-pair worst-ratio
                                 // rollup + final order range (the one
                                 // corpus pass — the (label,pos) tally —
                                 // sits behind the k-row checkpoint)
    "q231_brier_decomposition" -> 3, // ONE bin tally; the 1-row totals
                                 // gather is checkpointed, the ≤10-row
                                 // addend rollup + final keyed agg ride
                                 // two tiny exchanges
    "q227_zipf_slope"     -> 3,  // (source,term) tally, the shared
                                 // source heap agg (top-200 + n_types
                                 // in one bounded pass), final order
                                 // range
    "q226_rule_ablation"  -> 2,  // ONE lang shuffle with 16 partial
                                 // sums (the stack is post-agg) +
                                 // final order range
    "q225_bench_proximity" -> 3, // per-vector max agg, band tally,
                                 // final order range (bench side is a
                                 // broadcast BNLJ by design)
    "q234_readability"    -> 2,  // zero-shuffle per-row count kernels,
                                 // ONE source tally, final order range
    "q235_term_burstiness" -> 3, // term rollup (per-doc tf is ROW-
                                 // LOCAL via TermCountsExpression — the
                                 // old (doc,term) token-stream exchange
                                 // is gone), 1-row totals gather for
                                 // the relative df gate, order range
    "q236_hill_tail_index" -> 2, // bounded top-(k+1) heap per source
                                 // (map-side pruned — never a rank
                                 // window), final order range
    "q237_ngram_diversity" -> 3, // (source,n,gram) tally built from
                                 // map-side array slides, (source,n)
                                 // rollup, final order range
    "q238_lexical_concentration" -> 3, // (source,term) tally, ONE
                                 // source rollup (spectrum folds into
                                 // it via Σm²V=Σcnt²), order range
    "q239_mann_whitney"   -> 5,  // q186's two-level CDF shape: bucket
                                 // subtotals, offset window, within-
                                 // bucket cumsum window, final type
                                 // agg, order range — all value-domain
    "q240_chi_squared"    -> 5,  // margins + countDistinct-expand tot
                                 // off the checkpointed cell table
                                 // (broadcast back), final 1-row agg
    "q241_burrows_delta"  -> 4,  // vocab/totals behind checkpoint;
                                 // pair join reuses ONE t-shuffle of
                                 // dense (AQE ReusedExchange), sigma
                                 // t-agg broadcast back, pair agg,
                                 // order range
    "q242_top_component"  -> 1,  // gram folds map-side in its own job
                                 // (ONE exchange there); the published
                                 // frame is dimension-sized local rows
                                 // + order range
    "q243_pc_projection"  -> 1,  // per-row integer dots fold into the
                                 // label tally behind its checkpoint
                                 // (and the gram job's ONE exchange);
                                 // visible: the final order range
    "q244_daily_acf"      -> 3,  // day tally behind the series
                                 // checkpoint; visible: per-(type,lag)
                                 // pair agg, per-type totals agg,
                                 // order range — all DAY-DOMAIN-sized
    "q245_theils_u"       -> 8,  // margin rollups + 1-row entropy/MI
                                 // aggs off the checkpointed cell
                                 // table — every input is
                                 // dimension-sized (|sources|+|langs|)
    "q246_mahalanobis"    -> 0,  // gram folds in its own job (ONE
                                 // exchange there); the scored scan is
                                 // a zero-shuffle zip_with fold into
                                 // TakeOrderedAndProject
    "q247_code_switching" -> 2,  // zero-shuffle compiled window/langid
                                 // kernel, ONE source tally, final
                                 // order range
    "q248_blocking_audit" -> 4,  // off the checkpointed key frame:
                                 // block tally + its 1-row rollup,
                                 // 1-row total, 1-row sample-PC agg
                                 // (absolute-size broadcast BNLJ anchor)
    "q249_vocab_coverage" -> 4,  // term tally + spectrum behind the
                                 // checkpoint; after it: the value-
                                 // domain-sized cumulative window
                                 // (deliberate bounded SinglePartition),
                                 // 1-row totals, per-target pick window,
                                 // final order range
    "q250_effective_rank" -> 1,  // gram fold runs in its own collect
                                 // job (ONE label exchange of fixed
                                 // buffers); the published frame is a
                                 // |labels|-row local relation + order
    "q251_label_noise"    -> 3,  // per-query bounded heap agg (map-side
                                 // pruned), per-label rollup, order
                                 // range; label sides broadcast (the
                                 // underpartition-guard repartition is
                                 // RoundRobin — uncounted by this
                                 // spec's hash|range|Single regex)
    "q252_hubness"        -> 5,  // heap agg, k-occurrence tally, the
                                 // antihub left join's id co-shuffle,
                                 // label moment rollup, order range
                                 // (RoundRobin guard uncounted, as
                                 // q251)
    "q253_sequence_surprisal" -> 4, // per-user lag window, transition
                                 // pair tally, prev-marginal tally
                                 // (both type-domain-sized, broadcast
                                 // back), user rollup reusing the
                                 // window's partitioning; top-20 is
                                 // TakeOrderedAndProject
    "q254_session_gap_sweep" -> 2, // ONE per-user lag window + ONE
                                 // 1-row aggregate; the 4-tau sweep is
                                 // a stack over the 1-row frame
    "q255_dup_transitivity" -> 5, // bucket agg + pair agg (r16 engine)
                                 // + degree tally + 1-row gathers +
                                 // 2-path/closing-semi co-shuffles —
                                 // everything after the checkpointed
                                 // edge set is edge-domain-sized
    "q256_decontam_collateral" -> 6, // class tallies behind checkpoints;
                                 // bench/train posting-bucket aggs
                                 // (r16: the df gates fold into them),
                                 // pair agg, per-class max, (tau,
                                 // source) rollup, order range — all
                                 // class- or pair-domain-sized
    "q257_quant_range"    -> 3,  // (dim, milli-value) tally (bounded
                                 // ≤ 64·2001 keys, map-side combined),
                                 // 1-row global-max gather off the
                                 // checkpointed tally, dim rollup +
                                 // order range share the dim exchange
    "q258_temperature_mix" -> 4, // ONE narrow (source, tokens) tally,
                                 // re-grouped under the per-alpha
                                 // totals, plus the alpha broadcast-
                                 // join co-shuffle and the final order
                                 // range — all |sources|-domain after
                                 // the tally
    "q259_rapid_repeat"   -> 3,  // (user, type, minute) tally (map-
                                 // side combined), type rollup, order
                                 // range; no window, no join
    "q260_minhash_calibration" -> 3, // candidate-pair dedup (the band
                                 // join's u,v exchange), est rollup,
                                 // order range; class signature sides
                                 // broadcast behind the checkpoint
    "q261_context_fit_sweep" -> 2, // ONE single-row aggregate (per-L
                                 // conditional sums — the corpus is
                                 // never exploded per L) + the 3-row
                                 // stack's order range (q254's shape)
    "q262_norm_spread"    -> 2,  // row-local integer norms, ONE
                                 // (label, stats) rollup, order range
    "q263_centroid_affinity" -> 1, // ONE label gather of fixed Gram
                                 // buffers; the |labels|² pairing is
                                 // driver arithmetic over a local frame
    "q264_circadian_bands" -> 4, // (user, hour) tally, user rollup,
                                 // band rollup, order range — tally is
                                 // the only corpus-sized exchange
    "q265_minhash_k_sweep" -> 3, // q260's shape: candidate-pair dedup,
                                 // k rollup, order range; the 16-sig
                                 // class frame sits behind its
                                 // checkpoint and broadcasts
    "q266_kmv_source_overlap" -> 1, // ONE bounded-sketch gather
                                 // (sources×k longs, map-side partial
                                 // KMV heaps) behind the checkpoint;
                                 // final plan: order range only — the
                                 // 20×20 pair cross is a tiny
                                 // broadcast NLJ
    "q267_shingle_df_tail" -> 4, // class collapse (text), df tally
                                 // (s), ~20-bin rollup, order range
    "q268_posting_cap_effect" -> 3, // candidate-pair dedup over the
                                 // sampled inverted index, bucket
                                 // rollup, order range; df tally and
                                 // capped-set build sit behind the
                                 // sample checkpoint
    "q269_quant_error"    -> 2,  // ONE 4-group width rollup + order
                                 // range (the dimension-sized scales
                                 // pass is its own collected job)
    "q270_session_cooccurrence" -> 5, // pair tally, per-type tally,
                                 // session-count distinct + its 1-row
                                 // gather, order range; the sessionized
                                 // distinct frame sits behind its
                                 // checkpoint (window exchange paid
                                 // once)
    "q223_ngram_novelty"  -> 5,  // spread repartition (underpartition
                                 // guard), train-window distinct, the
                                 // eval join co-shuffle, countDistinct
                                 // expand partials + final split rollup
    "q134_decontaminate"  -> 5)  // content-class collapses sit behind
                                 // their checkpoints (one map-side-
                                 // combined groupBy per side — the
                                 // dup-blowup guard); after them:
                                 // candidate-pair dedup, candidate-id
                                 // distincts, candidate/bench-
                                 // restricted shingle dedups — all
                                 // candidate- or benchmark-sized

  budgets.foreach { case (name, budget) =>
    test(s"$name stays within its shuffle budget of $budget") {
      val n = exchanges(name)
      assert(n <= budget, s"$name has $n shuffle exchanges (budget $budget)")
    }
  }

  // ---- driver-loop learners: gate the PER-ITERATION corpus stage ----
  // The queries() plans above only show the post-loop assembly; each
  // loop body re-runs its own corpus DataFrame, so a refactor that adds
  // a shuffle INSIDE an iteration multiplies it by the iteration count
  // while staying invisible to the final-plan budgets. These gates
  // probe one representative iteration's pre-collect plan directly.

  private def exchangesOf(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    plan.linesIterator
      .filterNot(_.contains("ReusedExchange"))
      .count("Exchange (hash|range|Single)".r.findFirstIn(_).isDefined)
  }

  test("q198 Holt corpus stage: one map-side-combined daily tally") {
    val n = exchangesOf(graft.queries.EventAnalytics.q198DailyPlan(spark, sf()))
    assert(n <= 1, s"q198 daily tally has $n exchanges (budget 1); the " +
      "recursion itself must stay on the dimension-sized collected series")
  }

  test("q135 BPE round: pairCounts over the vocab is one hash-agg exchange") {
    import org.apache.spark.sql.functions._
    val vocab = graft.sources.Tables.documents(spark, sf())
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), col("cnt"))
      .localCheckpoint() // the loop's checkpointed vocabulary
    val round = graft.operators.Bpe.pairCounts(vocab)
      .orderBy(col("pair_cnt").desc, col("l"), col("r")).limit(256)
    val n = exchangesOf(round)
    assert(n <= 1, s"BPE round has $n exchanges (budget 1: the pair tally; " +
      "the candidate fetch must stay TakeOrdered)")
  }

  test("q138 coreset round: the bounded fetch is TakeOrdered, zero exchanges") {
    import org.apache.spark.sql.functions._
    val state = graft.sources.Tables.embeddings(spark, sf())
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      .withColumn("mind", rand(7))
      .localCheckpoint() // the loop's checkpointed state
    val n = exchangesOf(graft.operators.Coreset.roundFetchPlan(state, 64))
    assert(n == 0, s"coreset fetch has $n exchanges (budget 0: per-partition heaps)")
  }

  test("q150 gradient step: one SinglePartition aggregate, map-side combined") {
    val f = graft.queries.GovernanceQueries
      .q150Features(spark, sf()).localCheckpoint()
    val n = exchangesOf(graft.queries.GovernanceQueries
      .q150GradientStepPlan(f, 0.1, -0.2, 0.3))
    assert(n <= 1, s"q150 step has $n exchanges (budget 1: the 1-row gather)")
  }

  test("q155 unigram EM step: one piece-tally exchange over the word vocab") {
    import org.apache.spark.sql.functions._
    val words = graft.sources.Tables.documents(spark, sf())
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // the loop's checkpointed word vocabulary
    val bc = spark.sparkContext.broadcast(Map("a" -> -1.0, "b" -> -2.0,
      "c" -> -1.5, "d" -> -2.5, "e" -> -1.2))
    try {
      val n = exchangesOf(graft.operators.Unigram.emStepPlan(words, bc))
      assert(n <= 1, s"EM step has $n exchanges (budget 1: the piece tally)")
    } finally bc.destroy()
  }

  test("q185 win matrix: user window + (winner,loser) tally = two exchanges") {
    val n = exchangesOf(graft.queries.BehaviorQueries
      .q185WinMatrixPlan(spark, sf()))
    assert(n <= 2, s"q185 corpus stage has $n exchanges (budget 2)")
  }

  test("q203 corpus stage: one map-side-combined (QI, source) tally") {
    val n = exchangesOf(graft.queries.GovernanceQueries
      .q203ClassCountsPlan(spark, sf()))
    assert(n <= 1, s"q203 class-count tally has $n exchanges (budget 1); " +
      "the EMD arithmetic must stay on the dimension-sized checkpoint")
  }

  test("q207 peel round: one degree tally; endpoint filter broadcast-only") {
    import org.apache.spark.sql.functions._
    val ns = graft.sources.Tables.supplier(spark, sf()).count()
    val e0 = graft.sources.Tables.lineitem(spark, sf())
      .filter(col("l_orderkey") % 199 === 0)
      .select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey") % ns + 1L).as("dst"))
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val alive = graft.queries.ClusterQueries.q207AlivePlan(e, 5)
    assert(exchangesOf(alive) <= 1,
      "q207 alive tally must be the round's ONE shuffle")
    val filtered = graft.queries.ClusterQueries
      .q207FilterPlan(e, alive.localCheckpoint())
    assert(exchangesOf(filtered) == 0,
      "q207 endpoint filter must stay broadcast-only (0 hash exchanges)")
  }

  test("q208 corpus stage: one map-side-combined (lang, score-point) tally") {
    val n = exchangesOf(graft.queries.StatsQueries.q208PointsPlan(spark, sf()))
    assert(n <= 1, s"q208 point tally has $n exchanges (budget 1); the " +
      "CDF/threshold work must stay on the value-point checkpoint")
  }

  test("q206 corpus stage: one map-side-combined (type, day) tally") {
    val n = exchangesOf(graft.queries.EventAnalytics.q206DailyPlan(spark, sf()))
    assert(n <= 1, s"q206 daily tally has $n exchanges (budget 1); the " +
      "pair/median work must stay on the calendar-sized checkpoint")
  }

  test("q202 candidate stage: broadcast term join + distinct-expand agg") {
    val n = exchangesOf(graft.queries.RetrievalQueries
      .q202CandPlan(spark, sf()))
    assert(n <= 2, s"q202 corpus stage has $n exchanges (budget 2: the " +
      "countDistinct expand's (qid,doc,term) partial + (qid,doc) merge; " +
      "the query-term join must stay broadcast)")
  }

  test("q189 transition tally: user window + (from,to) agg = two exchanges") {
    val n = exchangesOf(graft.queries.BehaviorQueries
      .q189TransitionsPlan(spark, sf()))
    assert(n <= 2, s"q189 corpus stage has $n exchanges (budget 2)")
  }

  test("q79 pagerank auto-switches rank distribution: broadcast vs co-shuffled join") {
    // auto-broadcast off isolates the EXPLICIT rank-vector hint: below
    // the node threshold the plan must broadcast (hints survive -1);
    // above it, the pure shuffle contribution path must run broadcast-
    // free — and both modes must produce identical ranks.
    def run(thr: String): (String, Seq[org.apache.spark.sql.Row]) = {
      spark.conf.set("graft.graph.broadcastNodes", thr)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val df = SparkEntry.queries("q79_pagerank")(spark, sf())
        val rows = df.collect().toSeq
        (df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head, rows)
      } finally {
        spark.conf.unset("graft.graph.broadcastNodes")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    val (bPlan, bRows) = run(Long.MaxValue.toString)
    val (jPlan, jRows) = run("0")
    assert(bPlan.contains("BroadcastExchange"), "dimension mode should broadcast ranks")
    assert(!jPlan.contains("BroadcastExchange"),
      "beyond-broadcast mode must not broadcast anything")
    assert(bRows == jRows, "both distribution modes must rank identically")
  }
}
