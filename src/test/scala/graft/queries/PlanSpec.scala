package graft.queries

import graft.pumle.SparkSpec

/** Physical-plan shape assertions (the builder prompt's "explain and
  * iterate" discipline, pinned): filters reach the parquet scan, column
  * pruning holds, small dims broadcast, aggregates are partial+final,
  * and the hot paths stay inside whole-stage codegen. Run at sf0.001 —
  * plan shape, not data, is under test. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = Registry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q02: predicates pushed to the parquet scan, projection pruned") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThan(l_quantity,25"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    // only the selected/filtered columns are read (no discount/tax/etc.)
    assert(!p.contains("l_discount"), p)
    assert(!p.contains("l_tax"), p)
  }

  test("q03: both dimension joins are broadcast hash joins") {
    val p = planOf("q03_join_enrich")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q04: anti join against filtered orders broadcasts the small side") {
    val p = planOf("q04_anti_join")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("PushedFilters"), p)
  }

  test("q01: aggregation is partial then final (map-side combine)") {
    val p = planOf("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("partial_"), p)
  }

  test("q51: minhash48 expression keeps the plan narrow (no aggregate, no explode)") {
    val p = planOf("q51_minhash_signature")
    assert(p.contains("minhash48"), p)
    assert(!p.contains("Generate"), p)      // no shingle explode
    assert(!p.contains("HashAggregate"), p) // no reduce-back aggregate
    // only the final orderBy exchanges data
    assert("Exchange".r.findAllIn(p).length <= 1, p)
  }

  test("q141: compiled bloom probe keeps the plan fully narrow") {
    val p = planOf("q141_bloom_narrow")
    assert(p.contains("bloom_decontam"), p)
    assert(!p.contains("Generate"), p)      // no gram explode
    assert(!p.contains("Join"), p)          // no bit-set join — it's a ref object
    assert(!p.contains("HashAggregate"), p) // no doc-keyed reduce-back
    assert("Exchange".r.findAllIn(p).length <= 1, p) // only the orderBy
  }

  test("q172: admission anti-join broadcasts the increment-bounded dup side") {
    val p = planOf("q172_phash_intake_admit")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q174: 128-bit admission — every join broadcasts, seen side scanned not shuffled") {
    val p = planOf("q174_phash128_intake_admit")
    assert(p.contains("LeftAnti"), p)
    // the census partials, the touched-bucket guard, the arrival bands
    // and the dup-id side are all broadcast — a SortMergeJoin anywhere
    // would mean an n-scale side got shuffled
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q177: compiled nb_classify keeps the plan fully narrow") {
    val p = planOf("q177_nb_classify_narrow")
    assert(p.contains("nb_classify"), p)
    assert(!p.contains("Generate"), p)      // no token explode
    assert(!p.contains("Join"), p)          // no dense-model join — ref object
    assert(!p.contains("HashAggregate"), p) // no doc-keyed reduce-back
    assert("Exchange".r.findAllIn(p).length <= 1, p) // only the orderBy
  }

  test("q64: document frequency is a partial-aggregable groupBy, not a word window") {
    val p = planOf("q64_tfidf_topk")
    // the df stage must show map-side combine (partial HashAggregate) —
    // a count() OVER (PARTITION BY w) window would funnel every
    // occurrence of a hot stopword into one task at corpus scale
    assert(p.contains("partial_count"), p)
    assert(!"windowspecdefinition\\(w#".r.findFirstIn(p).isDefined,
      s"df computed via window over word partitions:\n$p")
  }

  test("q59: fingerprints are per-row expressions — fully narrow plan") {
    val p = planOf("q59_fingerprint")
    assert(p.contains("xorfp48") && p.contains("minhash48"), p)
    assert(!p.contains("Generate"), p)      // no word explode / DISTINCT
    assert(!p.contains("HashAggregate"), p) // no xor aggregate, no join
  }

  test("q61: simhash16 expression keeps the plan fully narrow") {
    val p = planOf("q61_simhash")
    assert(p.contains("simhash16"), p)
    assert(!p.contains("Generate"), p)      // no word explode
    assert(!p.contains("HashAggregate"), p) // no vote aggregate
    assert("Exchange".r.findAllIn(p).length <= 1, p) // only the orderBy
  }

  test("shuffle-count budget per query (PlanAudit in CI — regressions fail here)") {
    // max allowed true shuffles (Exchange hash/range/single) per query,
    // pinned at the audited round-2 plan shapes. A new shuffle anywhere
    // is a deliberate decision: raise the budget in the same commit that
    // explains it.
    val budget = Map(
      "q01_pricing_summary" -> 2, "q02_filter_project" -> 1,
      "q03_join_enrich" -> 2, "q04_anti_join" -> 1, "q05_gather_join" -> 3,
      "q06_window_rownum" -> 2, "q12_conditional_clamp" -> 2,
      "q13_validation_counts" -> 1, "q16_union_sorted" -> 1,
      "q17_latest_event" -> 2, "q18_sessionize" -> 2, "q19_json_props" -> 2,
      "q20_param_hash" -> 1, "q21_linspace_sweep" -> 1,
      "q22_meshgrid_sweep" -> 1, "q23_forder_roundtrip" -> 2,
      "q24_scatter_densify" -> 1, "q25_sparsify_coo" -> 2,
      "q26_filename_encode" -> 1, "q27_physical_limits" -> 1,
      "q28_active_gather" -> 3, "q29_catalog_upsert" -> 1,
      "q30_salted_join" -> 2, "q31_topk_revenue" -> 1, "q33_field_stats" -> 2,
      "q40_brine_density" -> 1, "q41_brine_viscosity" -> 1,
      "q42_rampup_schedule" -> 3, "q43_timestep_labels" -> 3,
      "q50_dedup_exact" -> 2, "q51_minhash_signature" -> 1,
      "q52_lsh_candidates" -> 4, "q53_ngram_jaccard" -> 3,
      "q54_cosine_topk" -> 2, "q55_ann_lsh_buckets" -> 3,
      "q56_lang_score" -> 1, "q57_quality_score" -> 1,
      "q58_token_count" -> 1, "q59_fingerprint" -> 1,
      "q60_binary_meta" -> 2, "q61_simhash" -> 1,
      "q62_ann_ivf_assign" -> 2, "q63_dedup_embedding" -> 1,
      "q64_tfidf_topk" -> 7, "q65_dedup_clusters" -> 1,
      "q66_ivf_topk" -> 2, "q67_train_split" -> 1,
      "q68_pack_sequences" -> 2, "q69_stopword_scrub" -> 1,
      "q70_stratified_sample" -> 2, "q71_bigram_counts" -> 1,
      "q72_verify_candidates" -> 3, "q73_repetition" -> 3,
      "q74_lsh_cap_stats" -> 2, "q75_pii_scrub" -> 1,
      "q76_chunk_dedup" -> 2, "q77_decontaminate" -> 3,
      "q78_weighted_sample" -> 1, "q79_mix_resample" -> 3,
      "q80_lm_score" -> 3, "q81_asof_join" -> 2,
      "q82_corpus_overlap" -> 2, "q83_dedup_within_doc" -> 1,
      // q85/q99/q166: +1 exchange in round 12 — the census-derived
      // default bucket cap is a global window sum over the
      // metadata-scale band census (SinglePartition on ≤ 4·2¹⁶ rows)
      "q84_source_profile" -> 2, "q85_simhash_neardup" -> 5,
      // q87 = hashed span counts (2: countDistinct two-phase) + the
      // winner-bounded string-recovery distinct; top-k boundary and
      // final top-k are TakeOrdered, the winner join broadcasts
      "q86_bow_dedup" -> 2, "q87_repeated_spans" -> 3,
      "q88_dup_span_frac" -> 4, "q89_word_entropy" -> 3,
      "q34_rolling_avg" -> 2, "q90_length_zscore" -> 2,
      "q91_oov_rate" -> 3, "q92_bpe_pairs" -> 1, "q93_quality_gate" -> 5,
      "q94_minhash_calibration" -> 3, "q95_norm_profile" -> 2,
      "q96_quality_gate_narrow" -> 1, "q35_debounce" -> 2,
      "q97_source_leakage" -> 4, "q98_normalize" -> 1,
      "q99_simhash_cap_stats" -> 3, "q100_bpe_encode" -> 1,
      "q101_bpe_encode_fast" -> 1, "q102_star_components" -> 1,
      "q103_incremental_dedup" -> 9, "q104_dedup_corpus" -> 4,
      "q105_incremental_recompute" -> 9,
      // round-6 batch (audited via PlanAudit on this commit):
      // q107 = q106 + the extra salted phase-1 window shuffle; q111's 5
      // are its two rank-k pipelines (overlap join is broadcast)
      "q106_source_cap" -> 2, "q107_source_cap_salted" -> 3,
      "q108_chunk_overlap" -> 1, "q109_mean_pool" -> 2,
      "q110_knn_classify" -> 4, "q111_ann_recall" -> 3,
      "q112_length_band" -> 2, "q113_dup_profile" -> 3,
      "q114_corpus_manifest" -> 2, "q115_top_terms" -> 3,
      "q116_ivf_indexed" -> 2,
      // q117's 4 = bucket-count agg + 256-row offset window (single) +
      // per-bucket rank window + final orderBy; q118's 4 = pair/ctx
      // histograms + doc rollup + orderBy (model joins are broadcast;
      // the unigram/bigram checkpoints truncate their build shuffles)
      "q117_epoch_order" -> 4, "q118_bigram_lm_score" -> 4,
      // q119's 1 is the final orderBy: scoring itself is one compiled
      // narrow pass (model training runs eagerly at plan-build time)
      "q119_lm_score_narrow" -> 1,
      // q62/q66/q111/q116/q156/q158 re-audited after the compiled
      // centroid_topk assignment/probe (round 9): the corpus×centroids
      // crossJoin + rank-window exchanges are GONE — what remains is
      // the spread repartition, the rerank/bounded-k stages, and the
      // final orderBy
      // round-6 q120+ batch (PlanAudit on this commit): q120 = the
      // bounded topk_cos_round aggregate + the winner label join-back
      // (round 11 — the engine's last pair-stream rank window retired);
      // q121's 1 is the orderBy (the projection itself is narrow);
      // q123's SMJ is the corpus-sized docs⋈clusters join (clusters'
      // fixpoint runs eagerly at plan time); q124 = feature histogram +
      // totals + doc rollup + docs⋈scored + orderBy, λ-table joins
      // broadcast; q125 = tagged grams twice (q77's two-scan shape) +
      // broadcast semi-join + rollup
      // q122's 1 is the global cov_moments partial→final exchange: the
      // compiled aggregate replaced a 4-shuffle DECIMAL explode (17×)
      "q120_hard_negatives" -> 2, "q121_random_proj" -> 1,
      "q122_embed_cov" -> 1, "q123_cluster_split" -> 3,
      "q124_dsir_weight" -> 6, "q125_contam_ladder" -> 3,
      // q126's 1 is the final orderBy: scoring is one narrow pass over
      // the literal λ array (model training runs eagerly at plan time)
      "q126_dsir_narrow" -> 1,
      // q127 = the FUSED ADC search (adc_topk_multi, round 10): the
      // whole queries×corpus rank is one global aggregate over the
      // narrow code scan, so the only true shuffle left is the
      // single-partition final-agg exchange carrying |queries|·k
      // entries per task. q128's 9 exchanges: the corpus shuffles
      // ONCE (word→(source,bucket) count); the other eight act on
      // bucket/source-bounded tables (≤ |sources|·buckets rows) —
      // grid joins, totals, rollup, orderBy — harmless at any scale
      "q127_pq_adc" -> 1, "q128_vocab_drift" -> 9,
      // q129 = token explode → broadcast weight join → one doc-keyed agg
      // + orderBy; q130 fuses all of that into one narrow expression
      // (orderBy only); q131's min/max model is collected eagerly at
      // build time (separate bounded job) so the encode plan is narrow +
      // orderBy; q132 = q127's fused shape (adc_topk_multi): one
      // single-partition agg exchange, corpus never pair-materializes
      "q129_qc_score" -> 2, "q130_qc_narrow" -> 1,
      "q131_int8_quant" -> 1, "q132_sq_search" -> 1,
      // q133 is one narrow generator + orderBy; q134 mirrors q123's
      // docs⋈clusters join (clusters run eagerly at plan time) plus the
      // survivor window on cluster_id; q135 = the two-phase rank:
      // bucket-count agg + metadata-scale cumulative window + per-bucket
      // rank window + orderBy — never a corpus-wide single partition
      "q133_winnowing" -> 1, "q134_dedup_keep_best" -> 4,
      "q135_quality_bins" -> 5,
      // q136 = q52's inverted-index shape on winnow fps: distinct
      // (doc,fp) + df count + fp-keyed join + pair agg + orderBy
      "q136_winnow_candidates" -> 6,
      // q137 mirrors q104's one-call shape (exact window + drop-set
      // join; candidates/verify/CC run eagerly at plan time behind the
      // localCheckpoint) with q136's winnow generator swapped in
      "q137_dedup_corpus_winnow" -> 4,
      // q138: the corpus shuffles ONCE per aggregate family — (source,
      // bucket) register min + the exact-distinct two-phase — then
      // source-bounded join/orderBy; q139: exact histogram + sketch
      // cells (both map-side combined; candidate join broadcasts) +
      // bounded rank/orderBy; q140: gram-keyed distinct + doc-keyed
      // aggregate on each side of the calibration pair (bit set and
      // eval grams broadcast); q141 is the point: the compiled probe
      // leaves NOTHING but the final orderBy; q142: in-cluster pair
      // join + drop anti-join + orderBy (assignment narrow, CC eager)
      // q138/q139 re-audited after the one-pass sketch aggregates
      // (hll_regs / cms_sketch): the O(tokens) register and (r,c)
      // grid shuffles are gone — partials are fixed-size buffers that
      // merge element-wise; what remains is the exact calibration
      // twin + bounded estimator/candidate stages
      "q138_hll_distinct" -> 4, "q139_cms_heavy_hitters" -> 2,
      "q140_bloom_decontam" -> 6, "q141_bloom_narrow" -> 1,
      "q142_semantic_dedup" -> 3,
      // q143: the corpus shuffles ONCE per order-statistic family
      // ((source, value) count tables for median and MAD); the other
      // exchanges act on value-bounded or |sources|-bounded tables
      // (cumulative windows, med/mad selections) + the final orderBy —
      // med/mad join back as broadcasts
      "q143_robust_outliers" -> 7,
      // q144: one (source, value) count shuffle + the value-bounded
      // window + final agg/orderBy; q145: the corpus shuffles once per
      // family (distinct (source, token), signature mins, intersection
      // counts) — the rest act on |sources|- or pair-bounded tables
      "q144_length_percentiles" -> 3, "q145_source_similarity" -> 9,
      // round-7 curation batch (PlanAudit on this commit): q146/q147
      // return driver-built k-row frames (the greedy rounds / merge
      // iterations run eagerly at plan time as zero-shuffle narrow
      // passes + top-1 reduces) — their 1 is the final orderBy; q148
      // mirrors q72's verify shape with both ratios in the same pass;
      // q149 = centroid rank window + orderBy (assignment narrow);
      // q150 = vocab join (broadcast at this sf; w-keyed at scale) +
      // two per-source rollups + orderBy; q151 = q65's candidate
      // machinery (eager behind the checkpoint) + docs⋈dropped
      // semi-join + two rollups + orderBy
      "q146_kcenter_coreset" -> 1, "q147_bpe_train" -> 1,
      "q148_containment" -> 3, "q149_cluster_cap" -> 2,
      "q150_tokenizer_roundtrip" -> 3, "q151_dedup_savings" -> 5,
      // q152 mirrors q103's persisted-incremental shape (9): exact
      // anti-join + new-side fp explode/df cap/candidate agg + the
      // three verify joins off the candidate checkpoint
      "q152_incremental_winnow" -> 9,
      // q153 (round-8 reshape): the checkpointed assignment write, the
      // SALTED (centroid,_salt)-keyed pair join's two side exchanges,
      // and the final orderBy — the bounded topk_min aggregate itself
      // adds none (partials complete map-side; round 7's 2 was the
      // unsalted join + a_id rank window, which serialized a dense
      // cell's quadratic pair work on one task); q154 = id join +
      // (source,label) count + source rollup + orderBy
      "q153_knn_graph" -> 4, "q154_label_balance" -> 3,
      // q155 = the q144 two-phase shape on binned continuous values:
      // (label, bin) count + label-bounded cumulative window + final
      // conditional-min agg/orderBy (the d2 pass itself is narrow)
      "q155_dist_quantiles" -> 3,
      // round-8 steady-state twins (PlanAudit on this commit): q156
      // mirrors q116's probe/rerank shape (4 — the index build runs
      // once into the memoized fixture, outside the plan); q157
      // mirrors q126's narrow scorer (1 = final orderBy; model load
      // is a bucket-bounded eager read)
      "q156_ivf_search_only" -> 2, "q157_dsir_score_only" -> 1,
      // q158 = q156's probe/rerank shape over the incrementally-grown
      // index (the append itself is a narrow fixture-build step)
      "q158_ivf_append" -> 2,
      // q164 = the IVF+PQ search: topk_min rerank exchange + final
      // orderBy (probes materialize eagerly; both index scans are
      // partition-pruned broadcast-join sides — audited 2)
      "q164_ivf_pq_indexed" -> 2,
      // q159 returns a driver-built k-row frame like q146 (the rounds
      // run eagerly as checkpointed narrow passes + top-1 reduces) —
      // its 1 is the final orderBy
      "q159_kcenter_incremental" -> 1,
      // q160's 11 exchanges all act on increment- or match-bounded
      // tables (new-side hash/fp distincts, candidate aggregate, verify
      // joins, orderBy) — the seen-side snapshot/fpdf/posting scans are
      // broadcast-joined, never shuffled (Ext5Spec pins the absence of
      // fp/content_hash hash exchanges; q152's in-memory form is 9 with
      // the O(seen) df recount this variant removes)
      "q160_incremental_winnow_indexed" -> 11,
      // q161/q162 = q138/q139 + ONE extra shuffle each: the per-shard
      // sketch tables (4 rows of 2 KB / 32 KB buffers) regroup to merge
      // element-wise — the roll-up cost is sketch-sized, never
      // token-sized
      "q161_hll_merged" -> 5, "q162_cms_merged" -> 3,
      // q163 = q160's increment plan verbatim — the merged index is
      // just another writeWinnowIndex directory at query time (the
      // shard builds + metadata-scale merge run once into the fixture)
      "q163_winnow_index_merged" -> 11,
      // q165 = ANN-blocked near-dup pairs: the fixed-grid assignment
      // materializes eagerly (checkpointed once for both pair sides);
      // the in-cell self-join is 2 exchanges on the derived centroid
      // key + the final orderBy
      "q165_near_dup_ann" -> 3,
      // q166 = q85's banding/verify machinery (hammingNearDup) on
      // fixture signatures: same 4-shuffle shape (bucket size agg,
      // bucket member agg, pair distinct, orderBy) minus the simhash
      "q166_phash_banding" -> 5,
      // q167 = one compiled narrow expression + the output orderBy;
      // q168 = q113's two-phase exact distinct + orderBy
      "q167_url_normalize" -> 1, "q168_host_dup_profile" -> 3,
      // q169 = persisted-index Hamming intake: seen sigs SCANNED
      // (broadcast increment bands + broadcast census guard — both
      // joins broadcast), the 2 shuffles are the pair distinct and
      // the output orderBy
      "q169_phash_intake" -> 2,
      // q170 = the composed crawl intake: the gated increment
      // materializes eagerly (URL/hash window dedups + narrow gate run
      // once, in the checkpoint job), so the returned plan is q103's
      // increment shape — verify joins + final anti join + orderBy
      "q170_crawl_intake" -> 9,
      // q171 = hammingNearDup at 128 bits: census groupBy + bucket-join/
      // collect + pair distinct + orderBy; the derived cap rides a
      // ONE-ROW broadcast (count aggregate → BroadcastNestedLoopJoin),
      // never a shuffle — one exchange FEWER than q85, whose 64-bit
      // census affords a global window
      "q171_simhash128_neardup" -> 4,
      // q172 = hammingIntakeAdmit: within-increment window dedup (1) +
      // the q169 intake (distinct = 1) + pair-id distinct (1) +
      // orderBy; the anti-join BROADCASTS its increment-bounded dup
      // side (plan-pinned below: no SortMergeJoin anywhere in it)
      "q172_phash_intake_admit" -> 4,
      // q173 = hammingIntake against the persisted 128-bit index:
      // touched-bucket distinct (1) + the touched-census aggregate (1)
      // + pair distinct (1) + orderBy; the census partials and the
      // signature table are only ever on the PROBE side of broadcast
      // joins — the seen side is scanned, never shuffled
      "q173_phash128_intake" -> 4,
      // q174 = hammingIntakeAdmit at 128 bits: q173's intake shuffles (3) +
      // dup-id distinct (1) + orderBy (1) + the within-increment
      // (lo, hi) window dedup, whose exchange appears TWICE (the
      // deduped increment feeds the intake AND the final anti-join;
      // the diverged projections defeat ReuseExchange here, unlike
      // q172's 64-bit shape). Every one of the 7 is increment-bounded
      // — the persisted census and signature table are only ever
      // scanned into the probe side of broadcast joins.
      "q174_phash128_intake_admit" -> 7,
      // q175 = the trained dense model: the corpus aggregates (vocab
      // histogram, (label, token) counts, priors) run eagerly into
      // localCheckpoints, so the returned plan is model-scale — the
      // label-total regroup, the vocab-size singleton and the orderBy
      "q175_nb_model" -> 3,
      // q176 = train-and-classify (the oracle shape): q175's model
      // exchanges (2, sans orderBy) + the doc-keyed likelihood rollup
      // + the docs×labels join alignment + the per-doc argmax window +
      // the orderBy — the dense model and priors ride ONLY broadcast
      // sides (audited 6 on this commit)
      "q176_nb_classify" -> 6,
      // q177/q178 = the compiled-narrow scorer (model is a reference
      // object): the output orderBy is the only exchange
      "q177_nb_classify_narrow" -> 1, "q178_nb_model_indexed" -> 1)
    val over = Registry.all.flatMap { q =>
      budget.get(q.name).flatMap { max =>
        val p = q.fn(spark, sf).queryExecution.executedPlan.toString
        val shf = ("Exchange hashpartitioning".r.findAllIn(p).length
          + "Exchange rangepartitioning".r.findAllIn(p).length
          + "Exchange SinglePartition".r.findAllIn(p).length)
        if (shf > max) Some(s"${q.name}: $shf shuffles > budget $max") else None
      }
    }
    assert(over.isEmpty, over.mkString("; "))
    assert(budget.keySet == Registry.all.map(_.name).toSet,
      "budget table out of sync with registry") // new queries must be budgeted
  }

  test("q78: weighted sample never reads the text column (metadata-width scan)") {
    val p = planOf("q78_weighted_sample")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"text not pruned from the documents scan:\n$p")
  }

  test("q79: source weight table is broadcast, never sort-merge joined") {
    val p = planOf("q79_mix_resample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q81: as-of join is join-free — one window over the tagged union") {
    val p = planOf("q81_asof_join")
    assert(!p.contains("Join"), s"as-of must be the union+window shape, not a join:\n$p")
    assert(p.contains("Window"), p)
    // one hash exchange for the window, one range for the final orderBy
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q83: within-doc dedup is pure array algebra — no explode, no window, one exchange") {
    val p = planOf("q83_dedup_within_doc")
    assert(!p.contains("Generate"), p)  // no chunk explode
    assert(!p.contains("Window"), p)    // no first-occurrence window
    assert("Exchange".r.findAllIn(p).length <= 1, p) // only the orderBy
  }

  test("q86: bow fingerprint is narrow per-row + one partial aggregate (no explode)") {
    val p = planOf("q86_bow_dedup")
    assert(!p.contains("Generate"), p) // sort/distinct happen in-array, not via explode
    assert(p.contains("partial_"), p)
  }

  test("q87: top-k repeated spans returns a k-bounded LOCAL frame, checkpoint released") {
    // the counting aggregate + recovery run eagerly inside the
    // operator (TakeOrdered boundary + broadcast winner join — plan
    // shapes pinned by the shuffle budget above); the returned frame
    // is the ≤k collected result, so no lazy consumer can pin the
    // counts checkpoint and the blocks are released before return
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Registry.queries("q87_repeated_spans")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan"), p)
    assert(df.count() <= 20)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"q87 leaked checkpoint blocks: $leaked")
  }

  test("q90: group stats broadcast back — no stddev window over the corpus") {
    val p = planOf("q90_length_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), s"z-score must not window-partition by source:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // moment aggregate combines map-side
    assert(p.contains("partial_"), p)
  }

  test("q91: vocab is TakeOrdered + broadcast membership join, histogram combines map-side") {
    val p = planOf("q91_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), p) // top-K vocab, no full sort
    assert(p.contains("BroadcastHashJoin"), p)     // K-bounded vocab broadcast
    assert(p.contains("partial_count"), p)         // histogram map-side combine
    assert(!"windowspecdefinition".r.findFirstIn(p).isDefined, p)
  }

  test("q92: BPE pairs stay word-level (array transforms) with TakeOrdered top-k") {
    val p = planOf("q92_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p) // ≤|alphabet|² rows/task pre-shuffle
    // text column read, everything else pruned from the scan
    assert(p.contains("ReadSchema: struct<text:string>"), p)
  }

  test("q34: rolling frame runs in one window pass over one key shuffle") {
    val p = planOf("q34_rolling_avg")
    assert("Window".r.findAllIn(p).nonEmpty, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q96: narrow gate has zero shuffles beyond the final orderBy") {
    val p = planOf("q96_quality_gate_narrow")
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Generate"), p)
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined, p)
    // the per-row statistics run through the COMPILED gopher_stats
    // expression, evaluated exactly once per row (the five signal
    // columns all read the same struct — CollapseProject must not
    // duplicate the call)
    assert("gopher_stats".r.findAllIn(p).length == 1, p)
    // and the scan reads only what the gate needs
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q76: boilerplate set broadcasts — doc-side chunks never shuffle on the chunk key") {
    val p = planOf("q76_chunk_dedup")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the chunk-keyed count aggregate runs ONCE inside the size-guard's
    // eager localCheckpoint (the returned plan reads its blocks as a
    // materialized scan); the doc-side chunk stream (where the skewed
    // boilerplate key lives in full multiplicity) reaches its doc_id
    // aggregate without ever hash-partitioning on chunk
    assert("Exchange hashpartitioning\\(chunk".r.findAllIn(p).isEmpty, p)
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"), p)
  }

  test("q24: densify grid side is generated (Range), active side broadcast") {
    val p = planOf("q24_scatter_densify")
    assert(p.contains("Range"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("entry flagship returns rows at sf0.001 (driver smoke contract)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("registerAll exposes the star schema to spark.sql") {
    graft.core.Tables.registerAll(spark, sf)
    val r = spark.sql(
      """SELECT r_name, count(*) AS n FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
    assert(r.count() == 5)
    assert(spark.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
  }
}
