package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Session

/** Distributed connected components over a candidate-pair edge list via the
  * alternating Large-Star / Small-Star algorithm (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce and
  * Beyond", SoCC 2014).
  *
  * This is the cluster-resolution stage a training-data dedup pipeline runs
  * AFTER candidate-pair generation ([[graft.text.TextOps.minhashPairs]],
  * [[graft.text.TextOps.simhashPairs]], [[graft.sim.Ann.lshPairsBanded]]):
  * near-dup pairs form a graph whose components are the duplicate clusters;
  * each cluster keeps one canonical representative.
  *
  * Why star-contraction and not naive label propagation: propagation needs
  * O(diameter) rounds — a chain of pairwise near-dups (mirror sites A≈B≈C≈…)
  * makes that linear in the cluster size. Alternating star rounds provably
  * converge in O(log² n) (O(log n) observed) regardless of topology, and
  * every round is shuffle-shaped work Spark does well: ONE groupBy on node id
  * (map-side combinable min) plus ONE equi-join back to the edge list — no
  * all-pairs closure, no driver-side graph. Edge sets only shrink toward the
  * star forest, so the peak shuffle is the first round (≈ the candidate-pair
  * count, already bucket-bounded upstream).
  *
  * Each round pins its edge list with `localCheckpoint` (the iterative plan
  * would otherwise double its lineage every round and re-run ALL prior
  * rounds per action) and frees the previous round's blocks, so a driver can
  * run this inside a long-lived scheduler loop without accumulating storage.
  */
object ConnectedComponents {

  /** Max alternating rounds before declaring non-convergence. The bound is
    * O(log² n) in theory and single digits in practice — 64 is a diagnostic
    * backstop (≈ any real input converges in < 20), not a tuning knob.
    */
  val MaxRounds = 64

  /** Large-Star: every node connects its strictly-larger neighbors to the
    * minimum of its closed neighborhood. Input edges are directed
    * (u > v); output edges stay directed.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u")
      .agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(m, "u")
      .where(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-Star: every node connects its smaller neighbors (and itself) to
    * the minimum of its smaller neighborhood. Input/output edges directed
    * (u > v).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val m = e.groupBy("u").agg(min("v").as("m"))
    val leaves = e.join(m, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val centers = m.select(col("u"), col("m").as("v"))
    leaves.unionByName(centers)
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Edge lists at or under this size skip star contraction entirely: a
    * driver-side union-find over ≤100k pairs is microseconds, while every
    * contraction round costs two shuffles plus a job launch — the same
    * hybrid as [[KnnJoin]]'s brute straggler short-circuit. The EDGE LIST is
    * what's bounded (candidate pairs are bucket-bounded upstream), never the
    * corpus; at web scale with millions of pairs the distributed path runs.
    */
  val SmallCutoff = 100000L

  /** Terminal star forests at or under this many edges are collected to the
    * driver so the last round's localCheckpoint can be freed before
    * returning. Real JVM footprint is object-headed, not payload-sized: 1M
    * boxed (Long, Long) tuples plus the root-dedup array is on the order of
    * ~100 MB transient — hence the cutoff sits at 1M, not "what fits as raw
    * longs". One label per non-root PAIRED node — orders of magnitude below
    * the corpus.
    */
  val TerminalCollectCutoff = 1000000L

  /** (node, component) for every node that appears in `pairs` (two columns:
    * endpoints of an undirected edge; self-loops ignored). `component` is the
    * minimum node id reachable from the node. Nodes NOT in any pair don't
    * appear — callers left-join and coalesce to the node's own id.
    */
  def components(pairs: DataFrame): DataFrame = {
    val edges0 = directedEdges(pairs)
    // Small-graph probe (round 6): ONE take(cutoff + 1) action replaces the
    // old checkpoint + digest + collect sequence (3 sequential driver jobs)
    // on the small path; take() stops scanning once it has cutoff + 1 rows,
    // so the big-graph case pays at most one cheap partial pass before the
    // distributed rounds. ≤ cutoff rows returned ⇒ that IS the complete
    // distinct edge set.
    if (edges0.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val cut = SmallCutoff.toInt
      val es = edges0.as[(Long, Long)].take(cut + 1)
      if (es.length <= cut) {
        // union-find, min-root union: roots only merge downward, so each
        // root IS the minimum id of its component — the distributed label
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (u, v) =>
          val ru = find(u); val rv = find(v)
          if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
        }
        val out = es.iterator.flatMap { case (u, v) => Iterator(u, v) }
          .toArray.distinct.map(n => (n, find(n))).toSeq
        return spark.createDataset(out).toDF("node", "component")
      }
    }
    starContraction(pairs)
  }

  /** Each undirected edge of `pairs` once, as (u, v) with u > v. */
  private def directedEdges(pairs: DataFrame): DataFrame = {
    val Seq(a, b) = pairs.columns.toSeq.take(2).map(col)
    pairs.select(greatest(a, b).as("u"), least(a, b).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** [[components]]' distributed path, whatever the edge count: alternating
    * star rounds to the fixed point, then the star forest's labels. */
  private[graft] def starContraction(pairs: DataFrame): DataFrame = {
    // raw pins, not Session.pinned: round i is freed only after round i+1
    // is pinned (the next round reads it), an overlap nested scopes cannot
    // express, and the terminal round may outlive this call (see below)
    var edges = directedEdges(pairs).localCheckpoint()
    // fixed-point check on a canonical multiset digest: one cheap aggregate
    // instead of a two-way anti-join per round. A digest collision could only
    // stop one round early, and the terminal star forest is itself a fixed
    // point of both rules, so iterating from a near-converged state is
    // harmless.
    // decimal(38,0) sum: a long sum of 64-bit hashes overflows (ANSI throws)
    def digest(d: DataFrame): (Long, String) = {
      val r = d.agg(
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h")
      ).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    var converged = false
    var rounds = 0
    var prevDigest = digest(edges) // carried forward: one digest action/round
    while (!converged && rounds < MaxRounds) {
      rounds += 1
      val next = smallStar(largeStar(edges)).localCheckpoint() // raw: see above
      val nextDigest = digest(next)
      converged = nextDigest == prevDigest
      prevDigest = nextDigest
      // intermediate rounds' blocks are freed eagerly; the terminal edge
      // list stays pinned because the returned plan reads it (and it is
      // small: at most one edge per non-root node)
      Session.release(edges)
      edges = next
    }
    require(converged, s"connected components did not converge in $MaxRounds rounds")
    // Terminal star forest: every edge is (leaf > root); roots label
    // themselves. When it is collectable (≤ TerminalCollectCutoff edges —
    // the digest carried the count, no extra action), materialize the labels
    // into a driver-local non-checkpointed Dataset and FREE the terminal
    // checkpoint: a scheduler loop calling components() repeatedly then
    // pins nothing between invocations. Past the cutoff (or non-Long node
    // ids) the returned plan must keep reading the checkpoint — that one
    // block set stays pinned until the caller drops the frame, which is the
    // honest trade at a scale where 2M+ labels don't belong on a driver.
    val isLong = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (isLong && prevDigest._1 <= TerminalCollectCutoff) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = edges.as[(Long, Long)].collect()
      Session.release(edges)
      // leaf edges are (leaf > root) with unique leaves, so only the ROOT
      // self-labels need dedup — primitive sort + in-place unique, no boxed
      // tuple hash set
      val roots = es.map(_._2)
      java.util.Arrays.sort(roots)
      var n = 0
      var i = 0
      while (i < roots.length) {
        if (n == 0 || roots(n - 1) != roots(i)) { roots(n) = roots(i); n += 1 }
        i += 1
      }
      val out = es.iterator ++ roots.iterator.take(n).map(r => (r, r))
      // parallelize, don't createDataset: a LocalRelation would embed every
      // label row in the returned LOGICAL plan (copied on each transform)
      spark.createDataset(
        spark.sparkContext.parallelize(out.toSeq,
          math.max(1, math.min(64, (es.length / 65536) + 1))))
        .toDF("node", "component")
    } else
      edges.select(col("u").as("node"), col("v").as("component"))
        .unionByName(edges.select(col("v").as("node"), col("v").as("component")))
        .distinct()
  }
}
