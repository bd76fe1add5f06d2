package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.GraftExtensions

/** Session factory with scale-appropriate defaults.
  *
  * Shuffle partitions default to the core count (local mode); on a real
  * cluster these would be sized to ~2-3x total cores via --conf. AQE is on so
  * skewed cell joins get split at runtime (SURVEY.md §4 item 2).
  *
  * Every session carries [[GraftExtensions]]: the `graft_*` SQL functions
  * and the [[org.apache.spark.sql.graft.PipJoinRewrite]] rule, so a
  * point-in-polygon theta join is planned as the cell equi-join wherever it
  * is written, and Catalyst picks broadcast or shuffle for it by size.
  */
object Session {

  /** Run `body` on a pinned copy of `df` (an eager `localCheckpoint`) and
    * free the pin's blocks when `body` returns or throws. The pinned frame
    * must not escape `body`: a plan that still reads it fails once freed.
    */
  def pinned[T](df: DataFrame)(body: DataFrame => T): T = {
    val pin = df.localCheckpoint()
    try body(pin) finally release(pin)
  }

  /** Free the blocks of a locally checkpointed frame. `Dataset.unpersist`
    * only drops CacheManager entries, not the checkpoint RDD's blocks, which
    * otherwise stay until the RDD is garbage-collected.
    */
  private[graft] def release(pin: DataFrame): Unit =
    pin.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // keep at least one shuffle partition per core: the default 64 MB
      // advisory target coalesces CPU-heavy small-row stages below the core
      // count (fine for IO-bound 100 TB scans, wrong for compute-bound
      // stages); parallelismFirst + a small min size preserves parallelism
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // local-mode split sizing: default 128 MB splits would give a
      // GB-scale local input only ~10 map tasks, idling most cores. A real
      // 100 TB table has tens of thousands of splits at the default — keep
      // that default in cluster deployments.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAXPART", "32m"))
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
