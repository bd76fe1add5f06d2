package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scene-group statistics (SURVEY.md §2.4 A2-A4) with the reference's exact
  * sentinel semantics:
  *
  *   - A2 — per-group means of conv-angle / height-acc / sun elevations over
  *     the scene list (means skip missing values; lib/dem.py:1146-1173).
  *   - A3 — RMSE: mean of nonzero non-nan alignment values; no usable value
  *     ⇒ -1; a -2 carried in metadata ⇒ -9999 (lib/dem.py:1175-1186,614-617).
  *   - A4 — mean acquisition time: epoch-seconds mean of per-scene
  *     timestamps; first value becomes acqdate (lib/dem.py:1188-1229,
  *     O4 first-value pick). Computed inline by `q_acq_mean` in
  *     [[graft.SparkEntry]], which needs a deterministic first pick.
  *
  * Inputs are exploded scene rows (group_id, scene_idx, metric columns) —
  * one hash aggregate, map-side partial combine, no window.
  */
object SceneStats {

  /** A2: group means over nullable metrics (avg ignores nulls — matching
    * "only scenes that carry the key contribute"). */
  def groupMeans(scenes: DataFrame, groupId: String): DataFrame =
    scenes.groupBy(groupId).agg(
      avg(col("conv_angle")).as("avg_conv_angle"),
      avg(col("exp_height_acc")).as("avg_exp_height_acc"),
      avg(col("sun_el1")).as("avg_sun_el1"),
      avg(col("sun_el2")).as("avg_sun_el2"))

  /** A3: RMSE with the -1 / -9999 sentinel ladder. */
  def rmse(alignments: DataFrame, groupId: String, rmseCol: String = "scene_rmse"): DataFrame =
    alignments.groupBy(groupId)
      .agg(avg(when(!isnan(col(rmseCol)) && col(rmseCol) =!= 0.0, col(rmseCol)))
        .as("__rmse"))
      .withColumn("rmse", coalesce(col("__rmse"), lit(-1.0)))
      .withColumn("rmse", when(col("rmse") === -2.0, -9999.0).otherwise(col("rmse")))
      .drop("__rmse")

}
