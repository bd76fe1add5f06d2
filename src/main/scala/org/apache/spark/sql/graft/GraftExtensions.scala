package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions registration so the engine's Catalyst expressions
  * are callable from SQL text as well as the Column API (north star:
  * "registered via SparkSessionExtensions"):
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions ...
  * SELECT graft_cell_at(lon, lat, 8), graft_tile_id(lon, lat) FROM pages
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import CellExpressions._
  import TextExpressions._

  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_cell_at", "quadkey cell id of (lon, lat) at a level", a => cellAt(a(0), a(1), a(2))),
    ("graft_st_contains", "ray-cast point-in-polygon over a flat ring", a => pip(a(0), a(1), a(2))),
    ("graft_tile_id", "reference PS/UTM 100km supertile+quartertile id", a => tileId(a(0), a(1))),
    ("graft_dot_longs", "integer dot product of two long arrays", a => dotLongs(a(0), a(1))),
    ("graft_geocell", "reference 1-degree geocell of (lon, lat)", a => geocell(a(0), a(1))),
    ("graft_h32", "first-32-bits-of-md5 string hash as bigint", a => h32(a(0))),
    ("graft_shingle_hashes", "h32 of every n-gram shingle of a token array",
      a => shingleHashes(a(0), a(1))),
    ("graft_minhash_sig", "minhash signature array over shingle hashes",
      a => minhashSig(a(0), a(1))),
    ("graft_simhash_sig", "simhash signature over token hashes", a => simhashSig(a(0), a(1))),
    ("graft_repetition_counts",
      "[n, distinct, topCount, nBigrams, topBigramCount] of a token array",
      a => repetitionCounts(a(0))),
    ("graft_proj_roundtrip_err", "CRS forward+inverse roundtrip residual",
      a => projRoundtripErr(a(0), a(1))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, usage, build) <- functions)
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""), build))
    // plan-level integration: PIP theta joins become cell equi-joins
    ext.injectOptimizerRule(_ => PipJoinRewrite)
  }
}
