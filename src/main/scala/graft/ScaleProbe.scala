package graft

/** Scaling probe: runs the REAL declared queries on a base scale and on an
  * N×-larger staged copy of the same data (tools/make_sf1.py — key-shifted
  * unions, joins stay consistent), and reports wall-clock scaling ratios.
  * A linear-shaped operator on fixed cores should scale ≈ N× or better
  * (fixed overheads amortize); a super-linear ratio is a red flag that the
  * plan would not survive a real scale-up.
  *
  * The all-pairs similarity rows (jaccard/simhash/shingle bounded probes,
  * cosine/minhash full-corpus) are excluded by design: their probe sets
  * are constant-bounded (ratio ≈ 1, uninformative) or their OUTPUT grows
  * quadratically on this near-dup-dense corpus (answer-bound, measured in
  * LlmQueries), so wall-ratio says nothing about plan quality.
  * `llm_contamination` is excluded for the same reason in staged form:
  * the key-shifted copies repeat TEXT verbatim, so every gram appears in
  * N× bench docs AND N× corpus docs and the true answer grows N² — an
  * artifact of the staging, not the operator (in a real scale-up the
  * benchmark suite is fixed and the corpus side is one map-side
  * broadcast join, linear by plan shape — pinned in ContaminationSpec).
  * `llm_contamination_capped` doubly so: staging also multiplies every
  * gram's corpus DF by N, so the fixed cap drops a different gram set at
  * each scale and the staged answer is not even monotone in N.
  *
  * Usage: ScaleProbe <baseDir> <scaledDir> <factor>
  */
object ScaleProbe {

  private val Probes = Seq(
    "scan_project_filter", "scan_events_ns", "filter_complex",
    "agg_pricing_q1", "agg_distinct", "agg_percentile", "agg_grouping_sets",
    "join_shuffle_inner", "join_multiway_q5", "join_asof",
    "win_rank", "win_topn_group", "sort_multi_nulls", "topk_limit",
    "set_intersect", "subq_scalar_corr",
    "llm_dedup_exact", "llm_dedup_norm", "llm_text_stats", "llm_lang_pivot",
    "llm_quality_score", "llm_fingerprint", "llm_lang_id",
    // (llm_ann_ivf / llm_knn_bucketed — the flat-IVF recall BASELINES —
    // are excluded like the all-pairs rows: their O(N·√N) candidate curve
    // is documented at the rows and sweep-measured once in the r19 full
    // 100× pass, 251×/159× in-sweep and 622×/626× on the CONFIRMED
    // end-of-sweep retries (≈ the 1000× the stated curve predicts, the
    // gap being the probe-set constant) — the declared scale path is the
    // hier/IVF-PQ family, which IS probed below; keeping a
    // known-super-linear baseline in the sweep only re-flags its own
    // documentation every round.)
    "llm_knn_per_vector",
    "fn_json", "fn_regexp",
    "agg_minmax_by", "agg_corr_cov", "win_ntile_dist", "set_except_all",
    "stream_tumbling", "stream_dedup", "stream_funnel",
    // round 5: the part⋈lineitem promo join and the cluster-assignment
    // dedup (linear output — unlike the pair-list rows, its wall ratio IS
    // informative at scale).
    "join_part_q14", "llm_dedup_cluster",
    // (llm_knn_bucketed: excluded with llm_ann_ivf — see the note above.)
    // round 11: the bounded-vocab unigram scorer — three linear token
    // passes + K-bounded broadcasts; the wall ratio checks exactly that
    // linearity.
    "llm_unigram_score",
    // round 12: segment-level exact dedup — array_distinct keeps the
    // per-doc dedup map-side, segment hashes shuffle three linear times
    // (own-agg, join-back, per-doc counts); the wall ratio checks that no
    // stage is pair-quadratic even as segment duplication rises with the
    // staged unions.
    "llm_dedup_paragraph",
    // round 12: the two-level distributed prefix sum (seq packing) and the
    // tf-idf keyword extractor — both all-linear claims (bounded window
    // partitions / vocab-scale shuffle join + WindowGroupLimit heaps) that
    // the wall ratio checks directly.
    "llm_seq_pack", "llm_tfidf_topk",
    // round 12: int8 quantization audit — map-only over the vectors, so
    // the wall ratio should track data size ≈ linearly.
    "llm_emb_quant",
    // round 12: incremental dedup — one reduced-old groupBy + one digest
    // shuffle join + one per-key window; all linear in corpus size.
    "llm_dedup_incremental",
    // round 12: mixture calculator — one corpus count shuffle, then
    // #sources-bounded arithmetic; the wall ratio checks the single-pass
    // claim.
    "llm_mix_weights",
    // round 12: hierarchical IVF — the O(N·N^(1/4)) assignment whose whole
    // reason to exist is this probe's wall ratio vs the flat rows'
    // documented N^1.5 curve.
    "llm_ann_hier",
    // round 8 (third session): the two new map-only curation rows — both
    // plan-pinned to zero corpus shuffles, so the probe should read ≈
    // linear; a super-linear flag here means the plan pin and reality
    // diverged.
    "llm_sample_stratified", "llm_repetition",
    // round 14 (r13 verdict #5): the three r13 rows under the standard
    // probe bracket. knn_hier should track ann_hier's sub-linear
    // assignment curve; incr_dedup is one reduced-index groupBy + one
    // digest shuffle join per micro-batch; image_decode_var is map-only
    // (per-doc BMP construct + decode), so ≈ linear.
    "llm_knn_hier", "stream_incr_dedup", "llm_image_decode_var",
    // round 14: per-source quota sampling — one WindowGroupLimit-pruned
    // shuffle; the wall ratio checks that the cap prunes BEFORE the
    // exchange. (llm_neardup_cosine_lsh is excluded for the same reason
    // as the other similarity rows: staged copies repeat vectors
    // verbatim, so its true pair output grows quadratically in the
    // staging factor — an artifact of the staging, not the operator.)
    "llm_domain_quota",
    // round 14: the full-corpus kNN graph — output is N·k rows by
    // construction (linear, unlike the pair-list rows), so its wall
    // ratio IS informative; the candidate phase totals Σ|cell|² ≈ N^1.5
    // at the fixture's √N-cell sizing, so expect a ratio between F and
    // F^1.5 — cell count is the production occupancy knob.
    "llm_knn_graph",
    // round 14: semantic dedup — one keep_id row per vector (the cluster
    // row's linear output contract), so like llm_dedup_cluster its wall
    // ratio is informative even though the staged clones densify the
    // pair graph. (llm_neardup_containment is excluded like the other
    // bounded all-pairs text rows: its <300-id probe set is constant
    // across scales, ratio ≈ 1 by construction. llm_containment_prefix
    // is excluded like the other full-corpus pair-LIST rows — the staged
    // clones make its true answer quadratic in the factor; its 10×
    // staging wall is measured out-of-probe instead: 6.8 → 13.1 s
    // warmed medians, 1.93×, because the clones collapse in the rep
    // stage [MEASURED r15].)
    "llm_dedup_semantic",
    // round 15: the quantized Lloyd update — map-only quantization, one
    // corpus shuffle join (q ⋈ cell) and one linear (c_id, dim) agg on
    // top of the hier assignment, so the wall ratio should track the
    // hier rows' sub-linear curve.
    "llm_kmeans_update",
    // round 15: cluster-proximity sampling — the Lloyd update plus one
    // broadcast-join scoring pass and WindowGroupLimit heaps; output is
    // ncells×K rows (index-scale), wall should track llm_kmeans_update.
    "llm_cluster_sample",
    // round 18: the composed curation pipeline — one dedup hash exchange
    // plus stacked per-row lambdas (pinned), output one row per doc, so
    // the wall ratio checks the single-shuffle claim directly.
    "llm_pipeline_curate",
    // round 18: the τ-sweep emits 3 index-scale SUMMARY rows derived
    // arithmetically from the verified rep pairs — and the staged clones
    // do NOT add reps (identical text collapses in stage 1), so unlike
    // the pair-LIST rows its wall ratio IS informative: it checks that
    // the r=2-banded candidate/verify stages stay rep-bound and the
    // grouping stage stays linear.
    "llm_minhash_tau_sweep",
    // round 18: diversity pruning — one row per vector out (the keep-list
    // contract), same index stages as llm_kmeans_update; the wall ratio
    // checks the single-window + index-broadcast claim.
    "llm_diversity_prune",
    // round 18: the duplicate-shingle audit — four linear stages (explode,
    // gram agg, gram shuffle join, doc agg) and one row per doc out; the
    // wall ratio checks that the gram-frequency join stays shuffle-shaped
    // and linear even as staged clones multiply every gram's DF by N.
    "llm_dupgram_fraction",
    // round 18: split assignment — map-only per-row arithmetic, the
    // baseline zero-shuffle curve the heavier rows are judged against.
    "llm_split_assign",
    // round 18: BM25 — two linear scans (per-doc lambdas + the scalar
    // stats agg) and a TakeOrderedAndProject heap; the wall ratio checks
    // the zero-shuffle-join claim.
    "llm_bm25_search",
    // round 18: bigram fluency scoring — explode, two vocab aggs, the
    // transitions⋈LM shuffle join, one doc agg; all linear in corpus
    // transitions, which is exactly what the wall ratio checks (the LM
    // table itself is vocab²-bounded on the staged clones). The train
    // row rides along: its corpus cost is the same explode + (w1, w2)
    // agg, and the top-20 head is TakeOrdered-bounded.
    "llm_bigram_score", "llm_bigram_lm",
    // round 18: grouped GK-sketch percentiles — one linear agg with
    // bounded per-group sketch state; the memory-bounded claim is
    // exactly what the wall ratio checks against the exact row's
    // value-cardinality-bound counts table.
    "agg_approx_percentile",
    // round 18 (second session): the PQ family. Code assignment is one
    // broadcast-expanded map pass + one N·M-row agg (linear — the wall
    // ratio checks the map-side min_by collapse; measured 1.44× at
    // 100×); ADC search scans N·M code rows against broadcast tables
    // with a constant 32-query set (linear; 34.9× at 100×); IVF-PQ
    // prunes the ADC tail to the probed cell fraction but pays the
    // O(N·N^(1/4)) hier assignment INLINE, which at a 32-query set
    // costs more than the ~4× tail pruning saves (43.2× vs 34.9× at
    // 100× [MEASURED r18]) — in production the index build amortizes
    // over millions of queries, the declared row prices it per-run; the
    // probe checks both stay in the linear family, not their ordering.
    "llm_pq_codes", "llm_pq_search", "llm_ann_ivfpq",
    // round 18 (second session): cross-split leakage — two map-only
    // corpus passes + one key-reduced shuffle join, answer-bound output;
    // staged clones multiply the dup groups linearly (clone copies get
    // fresh doc_ids → fresh split draws), so the wall ratio checks the
    // single-join linear claim directly.
    "llm_split_leakage",
    // round 18 (second session): the salted skew join — one dim agg, one
    // salted SMJ, one post-join agg, all linear; the wall ratio checks
    // that widening the key to (event_type, salt) keeps the shuffles
    // balanced as the hot keys grow 100×.
    "join_skew_salted",
    // round 18 (second session): BPE merge training — one corpus-linear
    // word agg, then VOCAB-bound pair enumeration + alphabet²-bound agg
    // (staged clones multiply word counts, not the vocabulary, so the
    // wall ratio checks the histogram-weighting claim directly: the
    // post-histogram stages should barely move).
    "llm_bpe_merges",
    // round 18 (second session): the PQ distortion audit — same
    // broadcast-expansion + two bounded aggs as llm_pq_codes, one row
    // per vector out; should track llm_pq_codes' flat curve.
    "llm_pq_recon",
    // round 18 (second session): the percentile length trim — the counts
    // table collapses map-side to |distinct (lang, len)| rows, the
    // window runs over THAT, and the bounds join is lang-bounded; the
    // wall ratio checks the corpus never reaches a window.
    "llm_outlier_docs",
    // round 18 (second session): the Count-Min sketch — one corpus-linear
    // explode ×d and ONE agg to the d·w-bounded cell table; the wall
    // ratio checks that no vocab-sized state sneaks in.
    "llm_freq_sketch",
    // round 18 (second session): the Q21-shaped semi+anti self-join —
    // three fact-fact legs sharing the l_orderkey partitioning; the wall
    // ratio checks the shared-exchange claim survives the 100× fact
    // growth (the hardest relational shape in the declared set).
    "join_q21_waiting",
    // round 18 (second session): the streaming CMS — complete-mode agg
    // whose state is the 4×16 matrix regardless of user cardinality; the
    // wall ratio checks the bounded-state claim under the 100× stream.
    "stream_freq_sketch",
    // round 18 (second session): the Lloyd convergence shift — exactly
    // kmeans_update's stages plus one index-scale broadcast join; the
    // wall ratio should track llm_kmeans_update's sub-linear curve.
    "llm_kmeans_shift",
    // round 18 (second session): PQ bit-packing — one bounded agg over
    // the code table; should track llm_pq_codes' flat curve.
    "llm_pq_pack",
    // round 18 (second session): the per-source duplication audit — two
    // linear map-side-partial shuffles, no joins, #sources rows out; the
    // staged clones RAISE every source's dup_rate but the plan cost
    // stays linear, which is what the wall ratio checks.
    "llm_dup_rate_by_source",
    // round 18 (second session): clustering purity — the hier assignment
    // plus one corpus shuffle join and two bounded aggs; should track
    // the hier rows' sub-linear curve.
    "llm_cluster_purity",
    // round 19: BPE merge application — training's vocab-bound stages
    // plus a map-only per-doc fold against the ONE broadcast merge row;
    // the apply cost is per word OCCURRENCE (staged clones multiply
    // occurrences, not the vocabulary), so the wall ratio checks the
    // map-only linear claim directly.
    "llm_bpe_apply",
    // round 19: the PQ Lloyd M-step — the E-step's broadcast-expansion
    // code assignment plus ONE corpus shuffle join (qv ⋈ codes) and a
    // codebook-bound agg; should track llm_kmeans_update's curve.
    "llm_pq_train",
    // round 19: the stream-stream LEFT OUTER join — per-user banded
    // state on both sides (staged copies add USERS, not per-user
    // density, so matches and null-emissions both grow linearly); the
    // wall ratio checks the watermark actually bounds state at 100× the
    // stream.
    "stream_outer_join",
    // round 19 (second session): the duplicated-span audit — positional
    // 5-gram explode, gram agg, reduced dup set shuffle-joined back,
    // bounded offset expansion, one count-distinct agg; all linear (the
    // staged clones multiply every gram's count, enlarging the dup set
    // toward the full vocabulary — the audit's worst case, still
    // join-linear, which is what the wall ratio checks).
    "llm_dedup_spans",
    // round 19 (second session): the recursive CTE — depth is
    // calendar-bounded (the month span), width is the pruned customer
    // set; the staged legs grow only the per-month COUNT side, and the
    // pushed o_custkey filter must keep that growth scan-bound.
    "subq_recursive_cte",
    // round 20: the stream-stream FULL OUTER join — stream_outer_join's
    // two-sided banded state plus the second (click-side) null-emission
    // store; staged copies add users, not per-user density, so both
    // sides' state and emissions grow linearly — the wall ratio checks
    // the watermark bounds BOTH stores at 100× the stream.
    "stream_full_outer",
    // round 20: the transitive closure — depth is the tree height (fixed
    // by the 1000-key cap, NOT by data), the per-level frontier⋈edges
    // join and the bounded rollup are index-scale, and only the two
    // bounded customer scans touch the corpus; the wall ratio checks the
    // closure cost stays key-cap-bound as the corpus grows 100×.
    "subq_recursive_graph",
    // round 20: the vocab-cached BPE apply — the histogram exchange, the
    // vocab-bound fold, and the occurrence join-back are all linear in
    // corpus words (staged clones multiply occurrences, not the
    // vocabulary); the wall ratio checks the join-back stays
    // shuffle-linear where the map-only twin is fold-linear.
    "llm_bpe_apply_cached",
    // round 20: gap-based sessionization — staging keeps the user domain
    // fixed, so N× multiplies per-user density (each timestamp repeats N
    // times with distinct event_ids); the one-exchange window plan must
    // stay sort-linear per user and the session count per user is
    // UNCHANGED (duplicate timestamps never open sessions), so output
    // stays session-bound while input grows N×.
    "win_session_batch",
    // round 20: deterministic mode — the corpus stage is the map-side
    // (nation, segment) partial count; staged copies add customers but
    // not segments, so the post-agg window input is CONSTANT and the
    // wall ratio should read scan-bound (near-flat at 100×).
    "agg_mode",
    // round 20: native explicit-values pivot — staging keeps the user
    // domain and event_type alphabet fixed, so both aggregate states are
    // CONSTANT-cardinality while the scan grows 100×; the wall ratio
    // should read scan-bound (the map-side partial count is the only
    // corpus-scale stage).
    "fn_pivot",
    // round 20: tokenizer fertility — staged clones multiply occurrences,
    // not the vocabulary, so the (lang, word) histogram exchange is the
    // only corpus-scale stage; the fold and both joins are vocab-bound
    // and the output is |langs| rows — the wall ratio checks the
    // histogram stays shuffle-linear.
    "llm_tokenizer_fertility",
    // round 20: quantized PageRank — each of the 4 damped rounds is one
    // edges join + per-destination sum + node join-back, all linear in
    // the key-derived edge set (<=3 out-edges per doc, so edges grow
    // with the corpus); the wall ratio checks the iterative fixpoint
    // stays shuffle-linear per round with nothing broadcast.
    "llm_pagerank",
    // round 20: RRF fusion — ONE persisted corpus scoring pass feeds two
    // TakeOrderedAndProject top-K heaps; ranks and the fusion join are
    // K=100-bound regardless of corpus size, so the wall ratio checks
    // the row stays scan-bound (the heaps never become a global sort).
    "llm_hybrid_rrf")

  /** Focused re-runs (the Bench SPARK_GRAFT_ONLY idiom): restrict the
    * probe to a comma-separated subset — new rows get their 10× entry
    * without re-paying the full hour-scale sweep. Unknown names fail
    * loud, same rationale as Bench.
    */
  private def toRun: Seq[String] = {
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = only.diff(Probes.toSet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names not in ScaleProbe.Probes: ${unknown.mkString(", ")}")
    if (only.isEmpty) Probes else Probes.filter(only)
  }

  def main(args: Array[String]): Unit = {
    val Array(baseDir, bigDir, factorStr) = args.take(3)
    val factor = factorStr.toDouble
    val spark = Session()

    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // Same inter-query isolation as Bench (round-7 verdict #2): the
      // state-heavy probes must not bleed cache/checkpoint blocks into the
      // next measurement. Outside the timed region.
      Cleanup.release(spark, blocking = true)
      dt
    }

    // Warm the JVM/codegen on both directories before measuring.
    run("agg_pricing_q1", baseDir); run("agg_pricing_q1", bigDir)

    var logs = List.empty[Double]
    var flaggedQs = List.empty[String]
    val probes = toRun
    println(f"${"query"}%-22s ${"base_s"}%8s ${"big_s"}%8s ${"ratio"}%7s  (factor $factor%.0f×)")
    probes.foreach { q =>
      val small = run(q, baseDir)
      val big = run(q, bigDir)
      val ratio = big / small
      logs ::= math.log(ratio)
      val flag = if (ratio > factor * 1.5) { flaggedQs ::= q; "  <-- SUPER-LINEAR" }
        else ""
      println(f"$q%-22s $small%8.2f $big%8.2f $ratio%7.2f$flag")
    }
    val geo = math.exp(logs.sum / logs.size)
    println(f"geomean ratio = $geo%.2f over ${probes.size} queries at $factor%.0f× data")
    // Flag adjudication retry (round 15): a single in-sweep sample cannot
    // distinguish a real super-linear plan from late-sweep session noise —
    // the r15 full 30× sweep read llm_lang_id at 55× in-sweep vs 4.7×
    // immediately re-run (sub-second base leg + 50 queries of accumulated
    // JVM state). Each flagged query is re-measured once, after a GC, at
    // the END of the sweep; a flag that survives the retry is CONFIRMED
    // (go read the plan), one that collapses is TRANSIENT (session noise —
    // the retry ratio is the claim). The headline geomean stays the
    // first-pass value for round-over-round comparability.
    flaggedQs.reverse.foreach { q =>
      System.gc()
      val small2 = run(q, baseDir)
      val big2 = run(q, bigDir)
      val r2 = big2 / small2
      val verdict = if (r2 > factor * 1.5) "CONFIRMED" else "TRANSIENT"
      println(f"retry $q%-16s $small2%8.2f $big2%8.2f $r2%7.2f  flag $verdict")
    }
    spark.stop()
  }
}
