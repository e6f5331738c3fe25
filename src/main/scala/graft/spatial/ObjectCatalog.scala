package graft.spatial

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Object-catalog construction — group multi-epoch detections into
  * static-sky objects, the reference's `lsd-make-object-catalog`
  * (SURVEY.md §2C J7 / §0 item 5, [H]).
  *
  * Semantics: single-linkage (friends-of-friends) clustering of
  * detections within `radiusDeg`; each connected component becomes one
  * object whose id is the smallest member detection id and whose
  * position is the spherical mean of its members.
  *
  * Spark-native algorithm, no driver-side state:
  *   1. candidate edges from [[CrossMatch.pairs]] (cell-blocked,
  *      shuffle-bounded);
  *   2. distributed label propagation to the component minimum —
  *      iterate `label := min(label, neighbors' labels)` to fixpoint.
  *      Iteration count is the graph diameter (small for physical
  *      objects: detections of one source all sit within ~radius), and
  *      each round is one shuffle join — the standard scalable
  *      connected-components recipe;
  *   3. one aggregation for per-object summaries (mean position via
  *      3-D unit vectors, so lon wraparound and pole clustering are
  *      handled correctly).
  */
object ObjectCatalog {

  /** @return (assignments, objects):
    *   assignments: det_id, obj_id
    *   objects: obj_id, lon, lat, n_det
    */
  def build(dets: DataFrame, idCol: String, lonCol: String, latCol: String,
            radiusDeg: Double, maxIter: Int = 20): (DataFrame, DataFrame) = {
    val d = dets.select(col(idCol).as("det_id"), col(lonCol).as("lon"),
      col(latCol).as("lat"))

    // candidate edges (cell-blocked, shuffle-bounded), then the shared
    // min-label component engine (graft.operators.Components)
    val pairs = CrossMatch.pairs(d, CrossMatch.Blocking(d),
      "det_id", "lon", "lat", "det_id", "lon", "lat", radiusDeg)
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val assignments = assign(d, pairs, maxIter)
    (assignments, summarize(d, assignments))
  }

  /** FoF phase 2 alone: component labels from a caller-supplied edge
    * relation (columns src, dst). Callers that need oracle-exact edge
    * semantics (e.g. a snapped-distance radius cut) build the pair
    * relation themselves — typically [[CrossMatch.pairs]] at a
    * superset radius, snap, re-cut — and hand it here; `build` is this
    * with the raw-distance default edges. `d` must have column det_id. */
  def assign(d: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame =
    graft.operators.Components
      .minLabel(d, "det_id", edges, "src", "dst", maxIter)
      .select(col("det_id"), col("component").as("obj_id"))

  /** FoF phase 3: per-object summaries — spherical-mean position via
    * 3-D unit vectors (lon wraparound and pole clustering handled
    * correctly) + member count. One shuffle (partial-aggregated
    * groupBy on obj_id); the join with assignments reuses det_id
    * hashing. `snap` is a determinism hook applied to each unit-vector
    * component before summation AND to the emitted lon/lat — pass
    * `Det.d6` when the output feeds an engine-exact comparison (the
    * per-term snap makes the decimal partial sums order-independent
    * AND engine-identical; the final snap absorbs atan2's last-ulp
    * divergence). Default identity = plain double math for library use.
    */
  def summarize(d: DataFrame, assignments: DataFrame,
                snap: Column => Column = identity,
                exactSum: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    def mean(c: String) =
      if (exactSum) graft.functions.Det.davg(col(c))
      else avg(col(c)).cast(DoubleType)
    val withXyz = d.join(assignments, "det_id")
      .select(col("obj_id"),
        snap(cos(radians(col("lat"))) * cos(radians(col("lon")))).as("x"),
        snap(cos(radians(col("lat"))) * sin(radians(col("lon")))).as("y"),
        snap(sin(radians(col("lat")))).as("z"))
    withXyz.groupBy("obj_id")
      .agg(mean("x").as("mx"), mean("y").as("my"), mean("z").as("mz"),
        count(lit(1)).as("n_det"))
      .select(col("obj_id"),
        snap(pmod(degrees(atan2(col("my"), col("mx"))), lit(360.0))).as("lon"),
        snap(degrees(atan2(col("mz"),
          sqrt(col("mx") * col("mx") + col("my") * col("my"))))).as("lat"),
        col("n_det"))
  }
}
