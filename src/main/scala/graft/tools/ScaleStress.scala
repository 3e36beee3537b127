package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Session, SparkEntry, Tables}

/** Scale-stress harness: replicates the sf0.1 fixtures 10× (6M-row
  * lineitem, 1.5M orders, 50k docs) into a multi-file layout under /tmp,
  * then times representative suite queries at both scales and reports the
  * runtime ratio. Linear operators should land near the replication
  * factor; anything super-linear is a scale bug. Dev tool — the driver's
  * bench is unchanged.
  *
  * `sbt "runMain graft.tools.ScaleStress [factor]"`
  */
object ScaleStress {

  /** The second decade for the suite's five most expensive plans: one
    * measured ×100 point each, appended to SCALING.json under "x100"
    * (the 10× full-sweep record stays untouched). Methodology differs
    * from the sweep only in pass count — the ×100 leg is timed ONCE
    * after a warmup (a third 4-minute q116 pass buys no information);
    * base (sf0.1) stays best-of-2. q96 measures the SERVE path over the
    * materialized PQ index (the build is ingest-time by design — the
    * warmup pays it); q182's ratio is output-driven like q111: ×k
    * replication makes every doc a mutual-containment group of k, so
    * true directed output grows by k(k−1) per original doc — the
    * documented reason real pipelines run exact dedup first. */
  private val Top5 = Seq("q133_mad_outliers", "q166_spearman_corr",
    "q182_containment", "q116_exact_dedup_pipeline", "q96_ivfpq_adc")

  /** Queries whose ×k stress ratio is DUPLICATION/OUTPUT-driven by
    * declared design: replication makes every doc a k-clique of itself,
    * so the TRUE pair answer grows by C(k,2) per original doc and
    * runtime tracks emitted output, not a plan defect. The registered
    * antidote is q205's dedup-first composition (exact hash-agg dedup
    * BEFORE any pairwise stage), measured in the "composed" group below
    * and functionally pinned in ScalePostureSpec. q41 is excluded on
    * purpose: it is the declared brute-force baseline, plan-pinned in
    * its own right. */
  private[graft] val DuplicationDriven: Set[String] = Set(
    "q111_prefix_jaccard", "q116_exact_dedup_pipeline",
    "q180_semdedup", "q182_containment")

  /** Named ×N groups beyond the full sweep: `top5` = the suite's five
    * most expensive plans (r8 directive), `graph` = the iterative graph
    * family, whose iteration-count × data growth is the classic
    * superlinear risk (r9 directive #4), `composed` = the dedup-first
    * composition, whose ×100 point is the measured evidence that exact
    * dedup collapses duplication-driven blowup (r9 directive #3).
    * Group runs MERGE into the existing x$factor block, so the record
    * accumulates across invocations instead of clobbering. */
  private val Groups: Map[String, Seq[String]] = Map(
    "top5" -> Top5,
    "graph" -> Seq("q128_pagerank", "q142_bfs_levels", "q89_cc_stars_paths",
      "q164_kcore", "q165_label_propagation", "q218_hits"),
    "composed" -> Seq("q205_dedup_first_neardup"),
    // round-12 additions: every NEW registered query gets a measured
    // ×100 point (q218 rides the graph group). q221 and q224 (and
    // round-13's q253 Holt-Winters, same envelope shrunk by its
    // 12-month init sums) are
    // EXCLUDED by design: ×100 replication multiplies PER-PERIOD
    // revenue (unlike real growth, which would also extend the
    // calendar), so the runs trip the calendar folds' declared
    // ~$9.2B/$3.5B-per-period micro-fixed-point caps — the
    // caps-fire-loudly contracts are pinned in TimeSeriesSpec
    // ("per-period cap fires loudly" / "guards: odd period and
    // over-cap cents"), so the exclusions rest on automated
    // guarantees, not one observed run; a caller at that magnitude
    // quantizes coarser (whole dollars buy ×100 headroom).
    "r12" -> Seq("q219_scd2_collapse", "q220_logrank", "q222_kl_drift",
      "q223_isotonic_calibration"),
    // the round-12 continuation batch. q229 rides along — unlike
    // q221/q224: ×100-replicated per-DAY revenue peaks at ~2.3e11
    // cents (measured, sf0.1 1997), a 4× margin under the 9.2e11-cent
    // fixed-point cap, so the sweep fits but a ~×400 factor or an
    // sf1-based replica would trip the (loud) guard. q225's pair stage is
    // calendar-bounded by construction; q226's quantile passes, q227's
    // strata, q228's moment joins, q230's marginals and q231's top-k
    // are all aggregate-bounded — the sweep is the measured evidence.
    "r12b" -> Seq("q225_theil_sen", "q226_rfm_segments",
      "q227_stratified_ipw", "q228_assortativity", "q229_ewma_chart",
      "q230_kneser_ney", "q231_weighted_sample", "q232_yule_walker",
      "q233_xcorr_leadlag", "q234_prefix_quantile_mv", "q235_anova_f",
      "q236_sign_flip", "q237_silhouette", "q238_phrase_search",
      "q239_nelson_aalen", "q240_weighted_quartiles", "q241_abc_analysis",
      "q242_price_elasticity", "q243_seq_pairs", "q244_interpurchase"),
    // round-13 directive #3: the remaining >2 s bench queries that had
    // plan pins but NO measured ×10/×100 row — close the gap so every
    // expensive plan's scale claim is a measurement, not an argument
    "r13gap" -> Seq("q201_poisson_bootstrap", "q101_countmin_heavy",
      "q214_cluster_ari", "q75_dedup_clusters", "q149_equidepth_hist",
      "q125_canonical_keep", "q95_minhash_xx64"),
    // the round-13 additions: BH family tests (enum-bounded windows),
    // blocked Levenshtein (stop-block-capped equi-join), windowed
    // funnel (user-keyed range join)
    "r13new" -> Seq("q245_bh_fdr", "q246_edit_blocking",
      "q247_funnel_window", "q248_uplift_qini", "q249_conformal",
      "q250_assoc_rules", "q251_batch_sessions"),
    "r13c" -> Seq("q252_cohort_retention"),
    // round-14 additions. q254/q255 are data-proportional BY DESIGN
    // (one image per document row — ×100 replication means 500k real
    // PNG encode/decode round-trips, so the ratio reflects the codec
    // path scaling, not a fixture bound); q256's per-user firsts
    // saturate under replication like q247's.
    "r14" -> Seq("q254_dhash64", "q255_dhash_neardup", "q256_funnel_steps"),
    // the round-14 continuation: perceptual clusters + the audio twins.
    // NOTE on the ×100 point for every banded query here and in r14:
    // replication rewrites doc_id (key·factor+rep), so each replica
    // draws a DIFFERENT fixture image/clip — the sketches are NOT
    // duplicates. What the ×100 run exercises is 8-bit BAND-SPACE
    // SATURATION: every sketch enters one bucket PER BAND, so 500k
    // sketches put 500k entries into each band's ≤256 values — avg
    // ≈ 1953 members ≫ the 200 cap — and most buckets are
    // stop-dropped; recall degrades by design (the declared cap
    // trade — see hammingBandedPairs' doc); the measured ratio is the
    // bounded-candidate path's cost, and the production answer at this
    // density is a wider hash / more bands, not a bigger cap.
    "r14b" -> Seq("q257_dhash_clusters", "q258_wav_fingerprint",
      "q259_wav_neardup"),
    // q260 is codec-count-proportional like q254 (×100 ⇒ ~835k distinct
    // frame images through the real PNG codec), so its ×100 leg is the
    // sweep's most expensive — measured once, like q116's
    "r14c" -> Seq("q260_video_neardup"),
    // re-measure after the MediaSketch materialization (the consumers'
    // plans changed: the codec pass moved to the ingest-time build,
    // which the warmup pays — the q96 PQ-index convention)
    "r14sketch" -> Seq("q255_dhash_neardup", "q257_dhash_clusters"),
    // round-15 additions: the wide-band (4×16-bit) regime that stays
    // non-degenerate at band-space density — where r14b documents 8-bit
    // buckets saturating, these queries' 65,536-value bands keep ×100
    // occupancy ≈ 7.6 ≪ the cap, so the pair/search stages still EMIT;
    // the measured rows_x100 field (AssertEmits) is the recall evidence
    "r15" -> Seq("q261_dhash_neardup_wide", "q262_hamming_knn",
      "q263_hamming_knn_banded"),
    // the spectral fingerprint twins: codec-count-proportional like
    // q258/q259 (×100 ⇒ 500k real WAV round-trips), pair stage in the
    // wide-band posture so it stays non-degenerate at density
    "r15b" -> Seq("q264_spectral_fingerprint", "q265_spectral_neardup"),
    // the 256-bit wide-SKETCH upgrade: 16 sparse bands AND d<=15 recall
    // (the warmup pays the dhash256 store build — the MediaSketch
    // convention; the timed pass is the 16-band blocking itself)
    "r15c" -> Seq("q266_dhash256_neardup"),
    // re-measure after the ImageIO disk-cache elimination (the codec
    // hot path no longer writes a temp file per image — the r14sketch
    // refresh convention applied to the codec-bound entries)
    "r15codec" -> Seq("q254_dhash64", "q260_video_neardup"),
    // wide-sketch search: the q263 ladder on the 256-bit store
    "r15d" -> Seq("q267_hamming_knn_wide"),
    // round-15 close: query-by-audio over the NEW materialized spectral
    // store (q265 re-measured with it — the r14sketch refresh
    // convention), the winnowing family (q269 narrow selection scales
    // with corpus bytes; q270's ×100 row RECORDS the stop-gram cap
    // dropping all recall under replication — the declared saturation
    // datum, not a refusal — and q271's dedup-first composition is the
    // measured answer right beside it)
    "r15e" -> Seq("q265_spectral_neardup", "q268_spectral_knn",
      "q269_winnow_fingerprints", "q270_winnow_neardup",
      "q271_winnow_dedup_first"),
    // the video store + search: q260 re-measured with the frame-codec
    // pass moved to the warmup-paid MediaSketch.videoTokens build (its
    // 55× codec-count-proportional row was the sweep's most expensive
    // leg), q272's query-by-video over the same store
    "r15f" -> Seq("q260_video_neardup", "q272_video_knn"),
    // exact substring dedup: stride-1 window hashes are corpus-byte-
    // proportional BY DESIGN (the distributed price of the paper's
    // suffix-array exactness — ×100 ⇒ ~149M md5 windows through ONE
    // wh-keyed shuffle), with NO recall cap to saturate: unlike q270's
    // df-capped postings the count+min window has no stop condition, so
    // the ×100 excision is the true fixpoint. q274 is the dedup-first
    // composition measured beside it: exact keepers collapse the window
    // stream to base size before any md5 runs.
    "r15g" -> Seq("q273_substring_dedup", "q274_substring_dedup_first"),
    // the rolling-hash engine A/B against q273's md5 formulation: same
    // output contract (same oracle), O(n) codegen'd hashing + 8-byte
    // shuffle keys + duplication-proportional exact verify — at x100
    // the verify stage touches ~every window (the replica is maximally
    // duplicated), so this measures the engine at its WORST duplication
    // regime with q273's honest 42x row right beside it
    "r15h" -> Seq("q275_substring_dedup_rolling"),
    // PII redaction: a narrow per-row rewrite (plan-pinned join-free),
    // so its x100 row IS the scan-bandwidth claim measured
    "r15i" -> Seq("q276_pii_redact"),
    // shard layout: one shard-keyed window sort over the full corpus —
    // the honest global-shuffle cost a layout writer pays; the x100 row
    // measures it on 100x rows (16 shard partitions of ~31k docs each)
    "r15j" -> Seq("q277_shard_layout"),
    // weighted Jaccard, registered dedup-first: exact keepers collapse
    // the x100 replication before any posting's df multiplies across
    // the cap — the pair stage must EMIT at density (AssertEmits)
    "r15k" -> Seq("q278_weighted_jaccard"),
    // query-by-snippet: |Q|-bounded broadcast over df-capped KEEPER
    // postings — the q263/q272 search shape on the text modality,
    // registered dedup-first (the index indexes distinct content) so
    // keeper dfs equal base dfs at any replication and the capped
    // search keeps EMITTING at density (AssertEmits); note the x100
    // replica's keeper ids are all = base_id*100, so every keeper
    // passes the %25 query filter — |Q| grows 5000/200 = 25x, which
    // is the measured fan-out, not a defect
    "r15l" -> Seq("q279_winnow_search"),
    // round-16: the PRODUCTION substring composition — exact keepers
    // collapse the ×100 replication to base size BEFORE the O(n)
    // rolling pass runs, so the row sits beside q275's honest
    // duplication-worst-case ratio and q274's md5 composition (the
    // same ~0.37× regime is the expected shape: the keeper aggregate
    // is the only ×100-proportional stage)
    "r16a" -> Seq("q280_substring_rolling_first"),
    // grouped-band search on the 256-bit store: 8×32-bit bands — the
    // sparser-bucket point of the radius↔sparsity dial (vs q267's 16
    // bands at d ≤ 15); the row must EMIT (the within-radius matches
    // at d ≤ 7 exist at any replication — replicas draw distinct
    // fixture images, so this measures band-join cost at density)
    "r16b" -> Seq("q281_hamming_knn_grouped"),
    // substring decontamination: corpus-byte-proportional scan like
    // q273 but with NO wh shuffle at all (the bench window set
    // broadcasts), so its ×100 point should sit UNDER the dedup
    // twin's — the cheaper-by-construction claim measured. Note the
    // replica rewrites ids, so doc_id < 50 selects the 50 copies of
    // base doc 0 as the ×100 bench set — a 1-distinct-doc bench; the
    // row measures the scan+probe cost, which is the claim
    "r16c" -> Seq("q282_substring_decontaminate"),
    // grouped-band PAIRS on the 256-bit store: the q281 dial where it
    // matters more — crowded pair buckets are stop-DROPPED, so the
    // squared band-value space keeps the pair stage emitting at
    // densities where per-chunk bands crowd toward the cap; the row
    // must EMIT (the d <= 7 pairs exist at any replication)
    "r16d" -> Seq("q283_dhash256_neardup_grouped"),
    // temperature mixing: one source-keyed count + broadcast targets +
    // one source-partitioned rank window — the honest per-source sort
    // a rank-exact sample costs, measured on 100x rows (5 sources of
    // ~100k-250k docs each sort independently)
    "r16e" -> Seq("q284_temperature_mix"),
    // winnow decontamination: the corpus fp stream is the linear part
    // (the q269 selection on 100x docs); the bench fp set broadcasts,
    // so the probe is fan-out-free — the row must EMIT (every 25th
    // replica doc carries a planted edited quote by construction)
    "r16f" -> Seq("q285_winnow_decontaminate"),
    // re-measure after the TextSketch materialization (the consumers'
    // plans changed: the gram-md5 selection moved to the ingest-time
    // store build, which the warmup pays — the r14sketch/r15e refresh
    // convention on the text modality)
    "r16sketch" -> Seq("q269_winnow_fingerprints", "q270_winnow_neardup",
      "q271_winnow_dedup_first", "q279_winnow_search"),
    // round-17: the epoch-replicated mixture rows — q284's plan plus a
    // narrow per-row epoch Generate whose fan-out IS the requested
    // output (n_target rows per source, exactly); the row must EMIT
    // (up-sampled sources exist at any replication under the q284
    // skewed fixture). Also re-measure the store-fed dhash consumers
    // after the verified-pairs materialization (the r14sketch refresh
    // convention on the pair stores: q255/q266 are now serve-path reads
    // like q96, q257's pair stage reads the store, q283 stays live).
    // q287 is an id-bounded slice (fixed query, unbounded operator —
    // the q42 convention); q288's full-corpus chunk aggregate is the
    // scale face: ×100 multiplies occurrence COUNTS per chunk, not
    // output rows (the exact-dedup absorption posture at sub-document
    // granularity) — both must EMIT
    "r17" -> Seq("q286_mix_epoch_rows", "q287_cdc_chunks", "q288_cdc_dedup"),
    // round-18: q290 is the dedup-first composition of q288 — keepers
    // collapse ×N replication before the chunk rollup, so its ×100 row
    // pins the near-flat production shape beside q288's declared
    // occurrence-count growth; q289 is a narrow per-doc projection
    // (scan-proportional — the flattest honest shape in the suite)
    "r18" -> Seq("q289_intradoc_repetition", "q290_cdc_dedup_first"),
    "r17pairs" -> Seq("q255_dhash_neardup", "q257_dhash_clusters",
      "q266_dhash256_neardup", "q283_dhash256_neardup_grouped"))

  /** Queries whose ×N run must also RECORD its output row count and
    * refuse an empty result: their scale claim is nonzero recall at
    * density, which a fast-but-empty pair stage would fake (the q255
    * ×100 lesson — "0.58×" because nearly every bucket was dropped). */
  private val AssertEmits = Set("q261_dhash_neardup_wide",
    "q262_hamming_knn", "q263_hamming_knn_banded", "q265_spectral_neardup",
    "q266_dhash256_neardup", "q267_hamming_knn_wide", "q268_spectral_knn",
    "q269_winnow_fingerprints", "q271_winnow_dedup_first", "q272_video_knn",
    "q273_substring_dedup", "q274_substring_dedup_first",
    "q275_substring_dedup_rolling", "q276_pii_redact",
    "q277_shard_layout", "q278_weighted_jaccard", "q279_winnow_search",
    "q280_substring_rolling_first", "q281_hamming_knn_grouped",
    "q282_substring_decontaminate", "q283_dhash256_neardup_grouped",
    "q284_temperature_mix", "q285_winnow_decontaminate",
    "q286_mix_epoch_rows", "q287_cdc_chunks", "q288_cdc_dedup",
    "q289_intradoc_repetition", "q290_cdc_dedup_first")

  /** Queries whose ×N row count is recorded WITHOUT the nonzero
    * refusal: q270's measured ×100 ZERO is itself the registered datum
    * — replication drives every winnowed fingerprint's df past the
    * stop-gram cap, dropping ALL recall (the saturation regime its
    * registration declares) — with q271's dedup-first composition
    * measured right beside it as the answer. An ACCIDENTAL zero
    * elsewhere still refuses via AssertEmits. */
  private val RecordRows = Set("q270_winnow_neardup")

  /** Build (or reuse) the ×`factor` replica of `src` under /tmp, keyed
    * on every source table's mtime (the layout-cache discipline — a
    * regenerated source invalidates the replica). Replicated fact
    * tables get fresh synthetic keys per replica so grouping
    * cardinality scales; dims copy through. Shared with
    * [[CurationE2E]], whose composed-pipeline scaling run needs the
    * same replica the per-query sweep measures against. */
  private[tools] def ensureReplica(spark: SparkSession, src: String,
                                   factor: Int): String = {
    import spark.implicits._
    val srcKey = graft.Tables.names
      .map(t => new java.io.File(s"$src/$t.parquet").lastModified).max
    val dst = s"/tmp/graft_scale_x${factor}_$srcKey"
    val replicated = Map(
      "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
      "documents" -> "doc_id", "events" -> "user_id", "embeddings" -> "vec_id")
    // completeness probe = the LAST table the build loop writes, so a
    // torn legacy in-place build (which wrote in Tables.names order)
    // never looks complete; the whole replica is then published by one
    // atomic rename (Fs.promoteDir) — this path is now shared between
    // ScaleStress and CurationE2E, exactly the concurrent-JVM pairing
    // the promoteDir discipline exists for (round-14 review catch)
    val marker = s"${Tables.names.last}.parquet/_SUCCESS"
    if (graft.io.Fs.exists(spark, s"$dst/$marker")) {
      println(s"STRESS reusing existing $dst")
    } else {
      graft.io.Fs.promoteDir(spark, dst, marker) { tmp =>
        Tables.names.foreach { t =>
          val df = Tables(spark, src, t)
          val out = replicated.get(t) match {
            case Some(key) =>
              df.crossJoin(spark.range(factor).select($"id".as("__rep")))
                .withColumn(key, col(key) * factor + col("__rep"))
                .drop("__rep")
                .repartition(32)
            case None => df
          }
          out.write.mode("overwrite").parquet(s"$tmp/$t.parquet")
        }
      }
      println(s"STRESS built $dst")
    }
    dst
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val groupName = if (args.length > 1) Some(args(1)) else None
    groupName.foreach(g => require(Groups.contains(g),
      s"unknown group '$g' (know: ${Groups.keys.mkString(", ")})"))
    val groupMode = groupName.isDefined
    val src = "/root/testdata/sf0.1"
    val spark = Session.local("graft-scalestress", cores = 32, conf = Map(
      // default 128MB splits would bin the ~8MB replica files into 2-3
      // scan tasks; 16MB mimics the per-task data share of a real cluster
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.files.openCostInBytes" -> "1m"))
    import spark.implicits._

    val dst = ensureReplica(spark, src, factor)

    val queries = Seq(
      "q01_pricing_summary", "q07_iqr_filter", "q09_summary_stats",
      "q21_route_topk", "q42_dedup_minhash_lsh", "q63_vocab_topk",
      "q65_embed_centroids",
      // round-5 additions: the prefix similarity join (its stress ratio
      // is OUTPUT-driven — k-fold duplication makes the true pair set
      // grow by C(k,2) per duplicated doc: ~226k pairs at x10 vs 256 at
      // x1, so a ~13x runtime on ~900x output is strongly sublinear per
      // emitted pair; this is why real pipelines run exact/MinHash dedup
      // before any pairwise join), the time-series resample family, the
      // weighted sampler's two-level cumsum, and the one-join
      // reconciliation diff
      "q111_prefix_jaccard", "q102_resample_ffill", "q108_weighted_sample",
      "q113_snapshot_diff",
      // round-6 additions: multidimensional grouping (Expand over the
      // replicated fact stream), span fingerprints (windows scale with
      // corpus bytes; the duplicated-span GROUPS stay hash-bounded —
      // replicas make every span 10x-duplicated, the worst case), the
      // sketch whose state never grows (HLL), PageRank (edge table 10x,
      // rank state 10x, rounds constant), and BPE (the corpus aggregate
      // is the only input-proportional stage — the merge rounds run on
      // the vocabulary, which replication leaves UNCHANGED, so the
      // ratio should sit well under the factor)
      "q118_cube_flagstatus", "q124_duplicate_spans", "q123_hll_distinct",
      "q128_pagerank", "q131_bpe_merges",
      // analytics additions: PMI (pair explode linear in orders, the
      // aggregate brand²-bounded), interval union (10x users, per-user
      // windows), Markov transitions (10x users, type²-bounded agg), and
      // the triangle census — whose ratio is DENSIFICATION-driven, not a
      // scale bug: replicas add orders over the SAME part universe, so
      // edge count and Σ C(deg,2) wedges grow faster than rows; the
      // degree orientation keeps the join at O(m^1.5) of the DENSER
      // graph, which is the honest cost of triangles on a densifying
      // co-occurrence graph
      "q135_copurchase_pmi", "q136_interval_union", "q138_markov_transitions",
      "q140_triangle_census",
      // round-8 additions: the suite's most expensive plans, so the
      // 100 TB posture is MEASURED, not argued — the driver-assisted
      // two-phase median engine (three narrow passes; its |groups|·4096
      // bucket collect is constant in data size, so the ratio tracks
      // the scan), the end-to-end dedup pipeline, IVF-PQ (codebook
      // training input-proportional, LUT joins probe-bounded), the
      // one-pass rank correlation, star-contraction CC, label
      // propagation (rounds shape-bounded), and the channel-bounded
      // absorption chain
      "q133_mad_outliers", "q116_exact_dedup_pipeline", "q96_ivfpq_adc",
      "q115_ivfpq_multiprobe", "q166_spearman_corr", "q89_cc_stars_paths",
      "q165_label_propagation", "q159_markov_attribution",
      // curation additions: LM quality (bigram tables vocabulary-bounded
      // under replication — only the doc-keyed fold is 10x), DSIR (the
      // weight table is 256 rows at ANY scale; replication shifts no
      // mass, so only the bigram stream grows), packing (cumsum +
      // explode input-proportional; 10x docs = 10x sequences), and
      // SemDeDup — whose ratio is DUPLICATION-driven like q111: every
      // vector is 10x-replicated into the same cell, so within-cell
      // pairs grow by C(10,2) per original; real pipelines run exact
      // dedup first, which is the documented composition
      "q177_lm_quality", "q178_dsir_select", "q179_sequence_pack",
      "q180_semdedup",
      // PCA additions: the scatter matrix is the input-proportional pass
      // (narrow posexplode expansion, map-side combine into d(d+1)/2
      // groups — shuffle volume CONSTANT in corpus size), and the power
      // iteration adds only a fixed d²-bounded driver solve on top, so
      // both ratios should track the factor. Containment rides the same
      // duplication caveat as q111: replicas make every doc a superset-
      // pair of its 9 copies, so the TRUE directed-pair output explodes
      // by design.
      "q184_emb_scatter", "q185_pca_power", "q182_containment",
      // Heaps curve: the token explode and the two corpus aggregates are
      // the only input-proportional stages; the decile fold is a
      // broadcast 10-row conditional sum over the vocabulary table
      "q191_heaps_curve",
      // round-10 additions: the dedup-first composition (the ANTIDOTE —
      // replication collapses at the exact stage, so the ratio should
      // sit near 1× where q111/q116/q180/q182 are duplication-driven),
      // Kaplan-Meier (day-bounded histogram windows), caliper matching
      // (per-stratum range-sort, both neighbor passes RUNNING frames),
      // conformal (calibration-bounded rank window), and the mSPRT
      // monitor (≤365-row cumulative windows)
      "q205_dedup_first_neardup", "q207_kaplan_meier", "q210_caliper_match",
      "q211_conformal_interval", "q212_msprt_monitor")
    // flag threshold: super-linear growth — runtime ratio beyond
    // ~1.3x the data ratio means the operator is NOT input-proportional
    // (documented exceptions: output-driven q111, densification-driven
    // q140 — see the per-query notes above)
    val flagAt = 1.3 * factor
    val sel = groupName.map(Groups).getOrElse(queries)
    val results = sel.map { name =>
      def run(dir: String): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run(src); run(dst) // warm both plans
      val small = math.min(run(src), run(src))
      // the ×100 leg is timed once post-warmup (see Top5 note)
      val big = if (groupMode) run(dst) else math.min(run(dst), run(dst))
      val ratio = big / small
      // for queries whose ×N output EXISTENCE is itself the scale claim
      // (the wide-band pair stage must EMIT at band-space density —
      // round-14 verdict: assert the recall, don't infer it from a fast
      // wall time), record the measured ×N row count and refuse zero
      val rows: Option[Long] =
        if (groupMode && (AssertEmits(name) || RecordRows(name))) {
          val n = SparkEntry.queries(name)(spark, dst).count()
          if (AssertEmits(name))
            require(n > 0, s"$name emitted ZERO rows at x$factor — " +
              "the density-proof claim is broken, not merely slow")
          Some(n)
        } else None
      println(f"STRESS $name%-24s sf0.1 $small%6.2f s  x$factor $big%6.2f s  ratio $ratio%5.2f" +
        rows.map(n => s"  rows_x$factor=$n").getOrElse(""))
      (name, small, big, ratio, rows)
    }
    // committed scaling record: the 100 TB claims as measurements
    val flagged = results.filter(_._4 > flagAt).map(_._1)
    def f3(v: Double): String = "%.3f".format(v)
    def entryJson(n: String, s: Double, b: Double, r: Double,
                  rows: Option[Long]): String =
      s""""$n":{"t_base":${f3(s)},"t_x$factor":${f3(b)},"ratio":${f3(r)},""" +
        rows.map(c => s""""rows_x$factor":$c,""").getOrElse("") +
        s""""flagged":${r > flagAt}}"""
    if (groupMode) {
      // append the extra decade under "x<factor>" without touching the
      // committed 10× sweep (SCALING.json is one single-line object).
      // Group runs MERGE into an existing trailing block: entries from
      // a prior group survive, same-name entries are refreshed.
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("SCALING.json")), "UTF-8").trim
      require(raw.endsWith("}"), "SCALING.json must be a JSON object")
      val marker = s""","x$factor":"""
      // previously recorded entries + flags of the trailing x<factor>
      // block (parsed with json4s — on the Spark classpath — so the
      // merge is structural, not string surgery)
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val root = JsonMethods.parse(raw)
      val prevEntries: Seq[(String, String)] = root \ s"x$factor" \ "queries" match {
        case JObject(fields) => fields.map { case (n, v) =>
          n -> JsonMethods.compact(JsonMethods.render(v)) }
        case _ => Seq.empty
      }
      val prevFlagged: Seq[String] = root \ s"x$factor" \ "flagged" match {
        case JArray(vs) => vs.collect { case JString(s) => s }
        case _ => Seq.empty
      }
      val existing = raw.indexOf(marker) match {
        case -1 => raw
        case i =>
          require(raw.indexOf(""","x""", i + marker.length) == -1,
            s"x$factor is not the trailing block of SCALING.json — " +
              "re-run the later factors after this one instead of truncating them")
          raw.take(i) + "}"
      }
      val newNames = results.map(_._1).toSet
      val keptPrev = prevEntries.filterNot { case (n, _) => newNames(n) }
      val qJsonMerged = (keptPrev.map { case (n, v) => s""""$n":$v""" } ++
        results.map { case (n, s, b, r, c) => entryJson(n, s, b, r, c) })
        .mkString("{", ",", "}")
      val flaggedMerged =
        (prevFlagged.filterNot(newNames) ++ flagged).distinct
      val merged = existing.dropRight(1) +
        s""","x$factor":{"factor":$factor,"flag_threshold":${f3(flagAt)},""" +
        s""""queries":$qJsonMerged,"flagged":${flaggedMerged.map("\"" + _ + "\"").mkString("[", ",", "]")}}}"""
      val w = new java.io.PrintWriter("SCALING.json")
      try w.println(merged) finally w.close()
      println(s"STRESS merged ${results.size} entries into x$factor block of SCALING.json " +
        s"(${flaggedMerged.size} flagged: ${flaggedMerged.mkString(", ")})")
    } else {
      val qJson = results.map { case (n, s, b, r, c) => entryJson(n, s, b, r, c) }
        .mkString("{", ",", "}")
      // a sweep rerun must PRESERVE any recorded x-factor blocks — the
      // r9 verdict's artifact-integrity lesson: a partial producer may
      // never clobber the parts of the record it did not re-measure
      val xSuffix = {
        val f = java.nio.file.Paths.get("SCALING.json")
        if (!java.nio.file.Files.exists(f)) "" else {
          val raw = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim
          raw.indexOf(""","x""") match {
            case -1 => ""
            case i  => raw.substring(i, raw.length - 1) // ,"xN":{...} tail
          }
        }
      }
      val line =
        s"""{"base":"$src","factor":$factor,"flag_threshold":${f3(flagAt)},""" +
          s""""queries":$qJson,"flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}$xSuffix}"""
      val w = new java.io.PrintWriter("SCALING.json")
      try w.println(line) finally w.close()
      println(s"STRESS wrote SCALING.json (${flagged.size} flagged: ${flagged.mkString(", ")}; " +
        s"preserved x-blocks: ${xSuffix.nonEmpty})")
    }
    spark.stop()
  }
}
