package graft

import graft.operators._

/** Central inventory: one QuerySpec per operator declared in
  * SURVEY.md §2 ("THE CONTRACT"). Append-only across rounds.
  */
object Registry {
  def specs: Seq[QuerySpec] =
    Core.specs ++ Aggregates.specs ++ SetOps.specs ++ Joins.specs ++
      Windows.specs ++ TimeWindows.specs ++ TextOps.specs ++
      VectorOps.specs ++ MiscOps.specs ++ PipelineOps.specs ++
      SurveyOps.specs ++ MediaOps.specs ++ CurationOps.specs ++
      GraphOps.specs ++ EventOps.specs

  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] =
    specs.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Every write-once layout builder, by name. Bench pre-builds them
    * in this order before it times anything. */
  def layouts: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
      Any)] = Seq(
    "xmatch_margin_cache" -> Joins.ensureXmatchMarginCache,
    "events_daily" -> Core.ensureTimePartitionedEvents,
    "sky_customer" -> Joins.ensureSkyPartitionedCustomer,
    "zorder_lineitem" -> Core.ensureZOrderLineitem,
    "fits" -> Core.ensureFitsExport,
    "fits_scaled" -> Core.ensureFitsScaledExport,
    "fits_vla" -> Core.ensureFitsVlaExport,
    "orc" -> Core.ensureOrcExport,
    "json" -> Core.ensureJsonExport,
    "schema_evolve" -> Core.ensureEvolvedExport,
    "snapshot_events" -> Core.ensureSnapshotEvents,
    "agg_state" -> Core.ensureAggState,
    "ranged_snapshots" -> Core.ensureRangedSnapshotEvents,
    "merged_snapshots" -> Core.ensureMergedSnapshotOrders,
    "keyed_snapshots" -> Core.ensureKeyedSnapshotEvents,
    "bucketed_tables" -> Joins.ensureBucketedTables,
    "ann_index" -> VectorOps.ensureAnnLayout,
    "bpe_artifact" -> PipelineOps.ensureBpeArtifact,
    "ql_xmatch_db" -> Joins.ensureQlXmatchDb,
    "ql_detections_db" -> Joins.ensureQlDetectionsDb,
    "ql_survey_db" -> Joins.ensureQlSurveyDb,
    "ql_margin_db" -> Joins.ensureQlMarginDb,
    "ql_survey_margin_db" -> Joins.ensureQlSurveyMarginDb,
    "ql_snap_margin_db" -> Joins.ensureQlSnapMarginDb)
}
