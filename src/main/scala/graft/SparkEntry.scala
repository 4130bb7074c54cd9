package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible operator registers here twice: a Spark DataFrame
  * plan in `queries` and a DuckDB oracle in `oracleSql` with byte-identical
  * column names. Engine operators with no ANSI-SQL twin (warp/regrid,
  * Morton/hex/S2 cell joins on real geometry, stencils) register in
  * `queries` only and are verified by ScalaTest golden suites.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Rel.stackStats(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_global_stats"   -> (Rel.globalStats _),
    "q02_stack_stats"    -> (Rel.stackStats _),
    "q03_dt_stats"       -> (Rel.dtStats _),
    "q04_trend_ols"      -> (Rel.trendOls _),
    "q05_range_fltr"     -> (Rel.rangeFltr _),
    "q06_sigma_fltr"     -> (Rel.sigmaFltr _),
    "q07_mad_fltr"       -> (Rel.madFltr _),
    "q08_block_stats"    -> (Rel.blockStats _),
    "q09_cell_count"     -> (Rel.cellCount _),
    "q10_pip_boxes"      -> (Rel.pipBoxes _),
    "q11_asof_nearest"   -> (Rel.asofNearest _),
    "q12_session_cluster"-> (Rel.sessionCluster _),
    "q13_nearest_dt"     -> (Rel.nearestDt _),
    "q14_mode_stats"     -> (Rel.modeStats _),
    "q15_error_metrics"  -> (Rel.errorMetrics _),
    "q16_utm_select"     -> (Rel.utmSelect _),
    "q17_extent_ops"     -> (Rel.extentOps _),
    "q18_token_count"    -> (Text.tokenCount _),
    "q19_fingerprint"    -> (Text.fingerprint _),
    "q20_dedup_exact"    -> (Text.dedupExact _),
    "q21_quality_score"  -> (Text.qualityScore _),
    "q22_lang_id"        -> (Text.langId _),
    "q23_minhash_sig"    -> (Text.minhashSig _),
    "q24_minhash_pairs"  -> (Text.minhashPairs _),
    "q25_simhash"        -> (Text.simhash _),
    "q26_ngram_jaccard"  -> (Text.ngramJaccard _),
    "q27_knn_brute"      -> (Vec.knnBrute _),
    "q28_emb_neardup"    -> (Vec.embNearDup _),
    "q29_centroid_cos"   -> (Vec.centroidCos _),
    "q30_date_funcs"     -> (Time.dateFuncs _),
    "q31_fix_repeat_dt"  -> (Time.fixRepeatDt _),
    "q32_unique_days"    -> (Time.uniqueDays _),
    "q33_rel_annual"     -> (Time.relAnnual _),
    "q34_bilinear_pts"   -> (Time.bilinearPts _),
    "q35_plane_fit"      -> (Time.planeFit _),
    "q36_perc_fltr"      -> (Rel2.percFltr _),
    "q37_hist2d"         -> (Rel2.hist2d _),
    "q38_bin_by_z"       -> (Rel2.binByZ _),
    "q39_absrange_fltr"  -> (Rel2.absrangeFltr _),
    // engine pipelines (no SQL twin; golden ScalaTest coverage instead)
    "q40_warp_tiles"       -> (Engine.warpTiles _),
    // q41/q42/q47/q50: oracle-exact forms of the heavy pipelines (the
    // unrestricted full-scale forms run in Bench's flagship pipeline)
    "q41_stack_stats_tiles"-> (EngineOracle.stackCells _),
    "q42_trend_tiles"      -> (EngineOracle.trendCells _),
    "q43_pip_points"       -> (Engine.pipPoints _),
    "q44_heatmap_cells"    -> (Engine.heatmapCells _),
    "q45_clip_tiles"       -> (Engine.clipTiles _),
    "q46_knn_ring"         -> (Engine.knnRing _),
    "q47_diff_stats"       -> (EngineOracle.diffCells _),
    "q48_stencil_gauss"    -> (Engine.stencilGauss _),
    "q49_outlines"         -> (Engine.outlines _),
    "q50_point_sample"     -> (EngineOracle.sampleCells _),
    "q51_profile"          -> (Engine.profileExtract _),
    "q52_id_dates"         -> (Engine.idDates _),
    // q53/q56/q58/q68 retired from the registry (VERDICT r4 #6): their
    // operators are oracle-checked STRICTLY by the sibling rows q81
    // (full feature row incl. std + aHash), q82 (banded-LSH phash dedup),
    // q76 (Theil–Sen) and q98 (full RANSAC); the retired full-float forms
    // stay exercised by the golden ScalaTest suites (MultimodalSpec,
    // StackSpec) and remain public API. Remaining no_oracle rows: exactly
    // q51/q59/q64 — the full-scale float forms whose strict siblings
    // (q79/q93/q94) cannot express the raw-embedding/full-image runs.
    "q54_img_resize"       -> (Engine.imgResize _),
    "q55_frame_sample"     -> (Engine.frameSample _),
    "q57_resumable_job"    -> (Engine.resumableJob _),
    "q59_ann_lsh"          -> (Engine.annLsh _),
    // round-2 SQL-twinned additions
    "q60_hist2d_clipped"   -> (Rel2.hist2dClipped _),
    "q61_mad_fltr_sampled" -> (Rel2.madFltrSampled _),
    "q62_knn_orders"       -> (Rel2.knnOrders _),
    "q63_warp_assign"      -> ((s, _) => Engine.warpAssign(s, "")),
    "q64_ann_ivf"          -> (Engine.annIvf _),
    "q65_dem_family"       -> (Engine.demFamily _),
    "q66_fill_interp"      -> (Engine.fillInterp _),
    "q67_remove_islands"   -> (Engine.removeIslandsQ _),
    "q69_subsample_scan"   -> (Engine.subsampleScan _),
    "q70_outline_simplify" -> (Engine.outlineSimplify _),
    "q71_maskfill"         -> (Engine.maskfillQ _),
    "q72_asof_plan"        -> (Rel2.asofPlan _),
    // round-3 additions
    "q73_geom_union"       -> (EngineOracle.geomUnion _),
    // Structured Streaming pipelines run for real (file source → watermark →
    // stateful op → sink) on a bounded fixture; see queries/Stream.scala
    "q74_stream_dedup"     -> (Stream.streamDedup _),
    "q75_stream_sessions"  -> (Stream.streamSessions _),
    // oracle-exact forms of the robust trend + heatmap engine paths
    "q76_theilsen_cells"   -> (EngineOracle.theilSenCells _),
    "q77_heatmap_rects"    -> (EngineOracle.heatmapRects _),
    "q78_img_feature_stats"-> (EngineOracle.imgFeatureStats _),
    "q79_profile_cells"    -> (EngineOracle.profileCells _),
    // zero-phase Butterworth low-pass (butter_low filtlib.py:483-507) —
    // the IIR recursion replays bit-exactly in a DuckDB recursive CTE
    "q80_butter_low"       -> (Time.butterLow _),
    // full feature row (std + aHash included) on the integer-exact subset
    "q81_img_features_exact" -> (EngineOracle.imgFeaturesExact _),
    // banded-LSH phash dedup on the replayable-aHash subset
    "q82_phash_dedup_exact"  -> (EngineOracle.phashDedupExact _),
    // audio modality (PCM16 binary columns; real decode, integer closed forms)
    "q83_audio_features"     -> (Aud.features _),
    "q84_goertzel"           -> (Aud.goertzel _),
    "q85_fft_dominant"       -> (Aud.fftDominant _),
    // snapshot-log catalog: commits, time travel, overwrite, rollback
    "q86_snapshot_travel"    -> (Snap.snapshotTravel _),
    // butter band-split (filtlib.py:509): hp tide / complement / lp denoise
    "q87_butter_band"        -> (Time.butterBand _),
    // percentile-spread robust filter + symmetric clim (malib.py:835-877)
    "q88_robust_spread"      -> (Rel2.robustSpreadFltr _),
    // edge-envelope mask (get_edgemask/apply_edgemask malib.py:752-831)
    "q89_edge_envelope"      -> (EngineOracle.edgeEnvelopeCounts _),
    // 2-D dominant spatial frequency (freq_filt filtlib.py:565, finished)
    "q90_freq_dominant"      -> (EngineOracle.freqDominantQ _),
    // near-dup clustering: pointer-doubling connected components over pairs
    "q91_neardup_clusters"   -> (EngineOracle.neardupClusters _),
    // text dedup end-to-end: minhash-LSH pairs -> components -> keepers
    "q92_doc_clusters"       -> (Text.neardupDocClusters _),
    // round-4: oracle-exact forms of the two ANN scale paths — the full
    // annCosine (embedded hyperplane literals) and ivfCosine (quantized
    // integer embeddings, five unrolled Lloyd iterations) pipelines
    "q93_ann_lsh_exact"      -> (EngineOracle.annLshExact _),
    "q94_ann_ivf_exact"      -> (EngineOracle.annIvfExact _),
    // value-level hillshade + gauss: VALUES per pixel, not coverage counts
    "q95_hillshade_cells"    -> (EngineOracle.hillshadeCells _),
    "q96_gauss_cells"        -> (EngineOracle.gaussCells _),
    // end-to-end training flagship: filter → text+image dedup → snapshot
    // commit, checkpoint-resumable; output = the keeper manifest read back
    // through the snapshot catalog
    "q97_training_flagship"  -> (Flagship.trainingPipeline _),
    // RANSAC oracle-exact form: splitmix64 replayed via HUGEINT limb
    // arithmetic — the last engine-specific heavy path gets a strict twin
    "q98_ransac_exact"       -> (EngineOracle.ransacCells _),
    // snapshot manifest-stats pruning: planned-file counts + exact results
    "q99_snapshot_prune"     -> (Snap.snapshotPrune _),
    // durable parquet sink + checkpoint restart: exactly-once across a
    // simulated crash, read back through the sink's commit log
    "q100_stream_file_sink"  -> (Stream.streamFileSink _),
    // snapshot maintenance: compact to fewer files + expire/GC history
    "q101_snapshot_compact"  -> (Snap.snapshotCompact _),
    // round-5: cross-CRS warp — reprojection chain replayed independently
    // in DuckDB over integer decisions (WarpCrossOracleSpec certifies the
    // decision margins)
    "q102_warp_cross"        -> (EngineOracle.warpCross _),
    // snapshot MERGE/upsert + row-level delete: file-level write
    // amplification + delta-only CDC + exact final row set
    "q103_snapshot_merge"    -> (Snap.snapshotMerge _),
    // round-6: 'source' res/extent strategies (per-image passthrough,
    // warplib.py:330-333/390-393) — source-everything is a full no-op
    // (all tiles elided), res-normalized keeps per-image extents
    "q104_warp_source"       -> (Engine.warpSourceTiles _),
    // round-6: ELLIPSOIDAL cross-CRS warp — the Krüger TM + Snyder
    // polar-stereo series chains replayed independently in DuckDB
    // (WarpEllOracleSpec certifies the decision margins)
    "q105_warp_cross_ell"    -> (EngineOracle.warpCrossEll _),
    // round-6: multi-band tiles — per-band warp + per-band stack stats
    // (warplib.py:146-153 band loop distributed; bands never mix)
    "q106_stack_bands"       -> (EngineOracle.stackBandCells _),
    // round-6: streaming ingest landing in the snapshot catalog —
    // exactly-once epochs (txn markers) + time travel/CDC over streamed rows
    "q107_stream_snapshot"   -> (Stream.streamSnapshotSink _),
    // round-6: q41 recomputed incrementally via a snapshot-catalog
    // materialized view (CDC-driven O(delta) refresh); same strict twin
    "q108_stack_stats_incr"  -> (EngineOracle.stackCellsIncremental _),
    // round-6: overview-pyramid warp (gdaladdo 'average' + GDAL level pick)
    "q109_ovr_warp"          -> (EngineOracle.ovrWarpCells _),
    // round-6: q42's OLS trend recomputed incrementally (CDC-driven
    // materialized view of the normal-equation moments); same strict twin
    "q110_trend_incr"        -> (EngineOracle.trendCellsIncremental _),
    // round-7: the incremental views driven through NON-APPEND source
    // churn (merge corrupt→restore, delete, re-append) — the refresh
    // engine's recompute path, strict-oracled against the batch twins
    "q111_stack_incr_churn"  -> (EngineOracle.stackCellsIncrementalChurn _),
    "q112_trend_incr_churn"  -> (EngineOracle.trendCellsIncrementalChurn _),
    // round-7: the lossy JPEG codec leg — PSNR ≥ 40 dB re-encode invariant
    // exercised non-vacuously, per-image hash-gated (q55's technique)
    "q113_jpeg_roundtrip"    -> (Engine.jpegAudit _),
    "q114_stream_view"       -> (EngineOracle.streamViewIncremental _),
    "q115_stream_trend"      -> (EngineOracle.streamTrendIncremental _),
  )

  /** The registry sorted by name, restricted to names starting with one of
    * `prefixes` (the whole registry when there are none). */
  def select(prefixes: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.isEmpty || prefixes.exists(name.startsWith) }

  /** The `oracleSql` entries whose name passes `keep`, as the JSON object
    * the DuckDB comparison loads (in the map's own iteration order, so the
    * dump stays byte-stable). */
  def oracleJson(keep: String => Boolean): String =
    oracleSql.filter { case (name, _) => keep(name) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_global_stats"   -> Rel.globalStatsSql,
    "q02_stack_stats"    -> Rel.stackStatsSql,
    "q03_dt_stats"       -> Rel.dtStatsSql,
    "q04_trend_ols"      -> Rel.trendOlsSql,
    "q05_range_fltr"     -> Rel.rangeFltrSql,
    "q06_sigma_fltr"     -> Rel.sigmaFltrSql,
    "q07_mad_fltr"       -> Rel.madFltrSql,
    "q08_block_stats"    -> Rel.blockStatsSql,
    "q09_cell_count"     -> Rel.cellCountSql,
    "q10_pip_boxes"      -> Rel.pipBoxesSql,
    "q11_asof_nearest"   -> Rel.asofNearestSql,
    "q12_session_cluster"-> Rel.sessionClusterSql,
    "q13_nearest_dt"     -> Rel.nearestDtSql,
    "q14_mode_stats"     -> Rel.modeStatsSql,
    "q15_error_metrics"  -> Rel.errorMetricsSql,
    "q16_utm_select"     -> Rel.utmSelectSql,
    "q17_extent_ops"     -> Rel.extentOpsSql,
    "q18_token_count"    -> Text.tokenCountSql,
    "q19_fingerprint"    -> Text.fingerprintSql,
    "q20_dedup_exact"    -> Text.dedupExactSql,
    "q21_quality_score"  -> Text.qualityScoreSql,
    "q22_lang_id"        -> Text.langIdSql,
    "q23_minhash_sig"    -> Text.minhashSigSql,
    "q24_minhash_pairs"  -> Text.minhashPairsSql,
    "q25_simhash"        -> Text.simhashSql,
    "q26_ngram_jaccard"  -> Text.ngramJaccardSql,
    "q27_knn_brute"      -> Vec.knnBruteSql,
    "q28_emb_neardup"    -> Vec.embNearDupSql,
    "q29_centroid_cos"   -> Vec.centroidCosSql,
    "q30_date_funcs"     -> Time.dateFuncsSql,
    "q31_fix_repeat_dt"  -> Time.fixRepeatDtSql,
    "q32_unique_days"    -> Time.uniqueDaysSql,
    "q33_rel_annual"     -> Time.relAnnualSql,
    "q34_bilinear_pts"   -> Time.bilinearPtsSql,
    "q35_plane_fit"      -> Time.planeFitSql,
    "q36_perc_fltr"      -> Rel2.percFltrSql,
    "q37_hist2d"         -> Rel2.hist2dSql,
    "q38_bin_by_z"       -> Rel2.binByZSql,
    "q39_absrange_fltr"  -> Rel2.absrangeFltrSql,
    // oracle twins of the engine pipelines (EngineOracle scaladoc explains
    // the bit-exactness construction)
    "q41_stack_stats_tiles" -> EngineOracle.stackCellsSql,
    "q42_trend_tiles"    -> EngineOracle.trendCellsSql,
    "q47_diff_stats"     -> EngineOracle.diffCellsSql,
    "q50_point_sample"   -> EngineOracle.sampleCellsSql,
    "q52_id_dates"       -> EngineOracle.idDatesSql,
    "q69_subsample_scan" -> EngineOracle.subsampleSql,
    "q60_hist2d_clipped" -> Rel2.hist2dClippedSql,
    "q61_mad_fltr_sampled" -> Rel2.madFltrSampledSql,
    "q62_knn_orders"     -> Rel2.knnOrdersSql,
    "q63_warp_assign"    -> Engine.warpAssignSql,
    "q72_asof_plan"      -> Rel2.asofPlanSql,
    "q73_geom_union"     -> EngineOracle.geomUnionSql,
    "q74_stream_dedup"   -> Stream.streamDedupSql,
    "q75_stream_sessions"-> Stream.streamSessionsSql,
    "q76_theilsen_cells" -> EngineOracle.theilSenCellsSql,
    "q77_heatmap_rects"  -> EngineOracle.heatmapRectsSql,
    "q78_img_feature_stats" -> EngineOracle.imgFeatureStatsSql,
    // closed-form chain checks for the raster→vector outline family
    "q49_outlines"       -> EngineOracle.outlinesSql,
    "q70_outline_simplify" -> EngineOracle.outlineSimplifySql,
    // rectilinear PIP by crossing parity: the flagship join + full heatmap
    "q43_pip_points"     -> EngineOracle.pipPointsSql,
    "q44_heatmap_cells"  -> EngineOracle.heatmapCellsSql,
    "q54_img_resize"     -> EngineOracle.imgResizeSql,
    "q57_resumable_job"  -> EngineOracle.resumableJobSql,
    // warp coverage arithmetic (bilinear validity + elision) + morphology
    // identity on rectangular masks
    "q40_warp_tiles"     -> EngineOracle.warpTilesSql,
    "q67_remove_islands" -> EngineOracle.removeIslandsSql,
    "q79_profile_cells"  -> EngineOracle.profileCellsSql,
    "q71_maskfill"       -> EngineOracle.maskfillSql,
    // mask-preserving gauss: identical coverage counts to q67's twin; the
    // smoothed VALUES themselves are hash-checked by q96_gauss_cells (the
    // embedded-w1 separable-pass replay) — q48 keeps the full-set coverage
    // gate, q96 carries the value-level gate
    "q48_stencil_gauss"  -> EngineOracle.removeIslandsSql,
    "q65_dem_family"     -> EngineOracle.demFamilySql,
    "q45_clip_tiles"     -> EngineOracle.clipTilesSql,
    "q66_fill_interp"    -> EngineOracle.fillInterpSql,
    "q80_butter_low"     -> Time.butterLowSql,
    "q55_frame_sample"   -> EngineOracle.frameSampleSql,
    "q46_knn_ring"       -> EngineOracle.knnRingSql,
    "q81_img_features_exact" -> EngineOracle.imgFeaturesExactSql,
    "q82_phash_dedup_exact"  -> EngineOracle.phashDedupExactSql,
    "q83_audio_features"     -> Aud.featuresSql,
    "q84_goertzel"           -> Aud.goertzelSql,
    "q85_fft_dominant"       -> Aud.fftDominantSql,
    "q86_snapshot_travel"    -> Snap.snapshotTravelSql,
    "q87_butter_band"        -> Time.butterBandSql,
    "q88_robust_spread"      -> Rel2.robustSpreadFltrSql,
    "q89_edge_envelope"      -> EngineOracle.edgeEnvelopeCountsSql,
    "q90_freq_dominant"      -> EngineOracle.freqDominantSql,
    "q91_neardup_clusters"   -> EngineOracle.neardupClustersSql,
    "q92_doc_clusters"       -> Text.neardupDocClustersSql,
    "q93_ann_lsh_exact"      -> EngineOracle.annLshExactSql,
    "q94_ann_ivf_exact"      -> EngineOracle.annIvfExactSql,
    "q95_hillshade_cells"    -> EngineOracle.hillshadeCellsSql,
    "q96_gauss_cells"        -> EngineOracle.gaussCellsSql,
    "q97_training_flagship"  -> EngineOracle.trainingFlagshipSql,
    "q98_ransac_exact"       -> EngineOracle.ransacCellsSql,
    "q99_snapshot_prune"     -> Snap.snapshotPruneSql,
    "q100_stream_file_sink"  -> Stream.streamFileSinkSql,
    "q101_snapshot_compact"  -> Snap.snapshotCompactSql,
    "q102_warp_cross"        -> EngineOracle.warpCrossSql,
    "q103_snapshot_merge"    -> Snap.snapshotMergeSql,
    "q104_warp_source"       -> EngineOracle.warpSourceTilesSql,
    "q105_warp_cross_ell"    -> EngineOracle.warpCrossEllSql,
    "q106_stack_bands"       -> EngineOracle.stackBandCellsSql,
    "q107_stream_snapshot"   -> Stream.streamSnapshotSinkSql,
    "q108_stack_stats_incr"  -> EngineOracle.stackCellsSql,
    "q109_ovr_warp"          -> EngineOracle.ovrWarpCellsSql,
    "q110_trend_incr"        -> EngineOracle.trendCellsSql,
    "q111_stack_incr_churn"  -> EngineOracle.stackCellsChurnSql,
    "q112_trend_incr_churn"  -> EngineOracle.trendCellsChurnSql,
    "q113_jpeg_roundtrip"    -> Engine.jpegAuditSql,
    "q114_stream_view"       -> EngineOracle.stackCellsSql,
    "q115_stream_trend"      -> EngineOracle.trendCellsSql,
  )
}
