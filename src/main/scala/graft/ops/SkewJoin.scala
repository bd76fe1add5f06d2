package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit salting for skewed equi-joins (SURVEY.md §4 item 2).
  *
  * AQE skew-join splitting is the backstop (enabled in [[graft.Session]]),
  * but it only splits a skewed SHUFFLE partition after materialization; for
  * known-hot keys (the two hot geocells carry 20% of all pages by
  * construction — graft.pages.Pages), pre-salting spreads a hot key across
  * `saltFactor` reducers before any data moves.
  *
  * Two-tier scheme: keys in `hotKeys` get `key#h(row)%S` on the big side and
  * S replicas on the small side; cold keys keep salt 0 with one replica, so
  * the small side grows by |hot| x S rows only.
  */
object SkewJoin {

  /** Detect hot keys: keys holding more than `threshold` of a sampled count.
    * One cheap aggregation over a sample — at 100 TB, use table statistics
    * or a prior run's metrics table instead. The sample is seeded, so two
    * calls on the same frame pick the same keys; an empty sample has none.
    */
  def hotKeys(df: DataFrame, key: String, sampleFraction: Double = 0.01,
              threshold: Double = 0.01): Seq[String] = {
    val sampled = df.sample(sampleFraction, seed = 42L).groupBy(key).count()
    val total = sampled.agg(sum("count")).head()
    if (total.isNullAt(0)) Nil
    else sampled.filter(col("count") >= total.getLong(0).toDouble * threshold)
      .select(col(key).cast("string")).collect().map(_.getString(0)).toSeq
  }

  /** Salted inner equi-join of `big` and `small` on `key`. Hash source for
    * the big-side salt is `saltSource` (any well-distributed column, e.g.
    * the row id) so rows of a hot key spread uniformly.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 hot: Seq[String], saltFactor: Int,
                 saltSource: Column): DataFrame = {
    val isHot = col(key).isin(hot: _*)
    val bigS = big.withColumn("__salt",
      when(isHot, pmod(hash(saltSource), lit(saltFactor))).otherwise(lit(0)))
    val replicas = small
      .withColumn("__salt", explode(
        when(isHot, sequence(lit(0), lit(saltFactor - 1)))
          .otherwise(array(lit(0)))))
    // A salted join is by definition a SHUFFLE join (if the small side
    // broadcast, there'd be no skew to salt). The hint also guards against a
    // real mis-plan: the explode wrecks the replicas' size estimate, and a
    // narrow-projected big side can look "smaller" — Spark then broadcasts
    // the FACT side (measured: a 600k-row driver-built hashed relation,
    // ~4x the whole query's runtime). Build side = replicas.
    bigS.join(replicas.hint("shuffle_hash"), Seq(key, "__salt"), "inner")
      .drop("__salt")
  }
}
