package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Large-scale training-data text operators over the documents/pages table:
  * tokenization, quality scoring, language ID, fingerprinting, and the
  * dedup family (exact, MinHash signature, SimHash, n-gram Jaccard).
  *
  * Every computation uses only engine-portable primitives (md5-derived
  * integer hashes, array lambdas, integer modular arithmetic) so the DuckDB
  * oracle reproduces results bit-for-bit. All heavy paths are
  * whole-stage-codegen'd column expressions — no Scala UDFs.
  *
  * Scale notes per operator are on the methods; the common theme: per-row
  * array lambdas are narrow (no shuffle), dedup groupings shuffle once on a
  * hash key which is uniform by construction (md5), so no skew handling is
  * needed beyond AQE.
  */
object TextOps {

  /** Non-empty whitespace tokens of a text column. NOTE: `filter` is a HOF
    * (CodegenFallback in Spark 4) — hot paths should pass `split(text, " ")`
    * straight into [[shingleHashes]], whose kernel skips empty tokens itself.
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** First-32-bits-of-md5 as a positive long — the portable string hash
    * (DuckDB: ('0x' || substr(md5(s),1,8))::BIGINT). Codegen kernel;
    * bit-identical to `conv(substring(md5(s),1,8),16,10)`.
    */
  def h32(s: Column): Column =
    org.apache.spark.sql.graft.TextExpressions.h32(s)

  /** h32 of every n-gram shingle of the text (tokenize → shingle → hash in
    * ONE codegen kernel call; empty tokens skipped; <n tokens ⇒ empty array).
    */
  def shingleHashes(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.TextExpressions.shingle_hashes(split(text, " "), n)

  /** Word n-gram shingles as an array column (n consecutive tokens joined by
    * a single space). Rows with fewer than n tokens get an empty array.
    * Interpreted (HOF) — kept for tests/oracle-shape parity; hot paths use
    * [[shingleHashes]].
    */
  def shingles(toks: Column, n: Int): Column = {
    val idxs = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    transform(idxs, i =>
      concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))
  }

  /** Token counting: whitespace tokens + BPE-ish regex pieces
    * (letter runs / digit runs / single punctuation).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"))
        .cast("long").as("n_bpe_tokens"))

  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** The quality components over `text`, defined once for [[qualityScore]]
    * and [[corpusSelect]]'s single-pass scorecard so the two can never
    * drift. */
  private case class QualityParts(nTok: Column, nStop: Column, nPunct: Column,
                                  textLen: Column) {
    /** The composite quality score as ONE expression. */
    def score: Column =
      round((nStop.cast("double") / nTok) * 2.0
        - (nPunct.cast("double") / textLen) * 5.0
        + when(nTok.cast("long") >= 10 && nTok.cast("long") <= 1000, 1.0).otherwise(0.0), 6)
  }

  private def qualityParts: QualityParts = {
    val toks = tokens(col("text"))
    QualityParts(size(toks), size(filter(toks, w => w.isin(StopWords: _*))),
      regexp_count(col("text"), lit("[^a-zA-Z0-9 ]")), length(col("text")))
  }

  /** Quality scoring: length, token stats, stopword ratio, punctuation
    * ratio, and a composite score (the length/punct/stopword heuristic
    * family used by web-corpus quality filters).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val q @ QualityParts(nTok, nStop, nPunct, textLen) = qualityParts
    docs.select(
      col("doc_id"),
      textLen.cast("long").as("text_len"),
      nTok.cast("long").as("n_tokens"),
      (nStop.cast("double") / nTok).as("stopword_ratio"),
      (nPunct.cast("double") / textLen).as("punct_ratio"),
      ((textLen - (nTok - 1)).cast("double") / nTok).as("avg_token_len"),
      q.score.as("quality_score"))
  }

  /** Language-ID heuristic: score each candidate language by its marker-word
    * hit count over the token list; argmax with fixed tie-break order.
    * (An n-gram/stopword profile classifier — the classic heuristic.)
    */
  /** Language marker profiles (one copy — [[langId]] and [[corpusSelect]]'s
    * single-pass scorecard both derive from these). */
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "les", "est", "et"),
    "zh" -> Seq("shi", "de", "le", "zai", "he"))

  /** Per-language marker-hit score columns over `text` (to be aliased
    * `s_<lang>` in a FIRST projection — the pred/argmax then references the
    * attributes so each score evaluates once). */
  private def langScoreCols: Seq[(String, Column)] = {
    val toks = tokens(col("text"))
    LangProfiles.map { case (l, ws) =>
      s"s_$l" -> size(filter(toks, w => w.isin(ws: _*)))
    }
  }

  /** (predicted language, max score) over the `s_<lang>` attributes of a
    * scored projection. Argmax via greatest + when-chain; leftmost language
    * wins ties, all-zero -> 'und'. */
  private def predLangFromScores: (Column, Column) = {
    val maxScore = greatest(LangProfiles.map(p => col(s"s_${p._1}")): _*)
    val pred = LangProfiles.foldLeft(Option.empty[Column]) {
      case (None, (l, _)) => Some(when(col(s"s_$l") === maxScore && maxScore > 0, lit(l)))
      case (Some(c), (l, _)) => Some(c.when(col(s"s_$l") === maxScore && maxScore > 0, lit(l)))
    }.get.otherwise(lit("und"))
    (pred, maxScore)
  }

  def langId(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id") +:
      langScoreCols.map { case (n, c) => c.as(n) }: _*)
    val (pred, maxScore) = predLangFromScores
    scored.select(col("doc_id"), pred.as("pred_lang"),
      maxScore.cast("long").as("score"))
  }

  /** Document fingerprint: full-content md5 plus the minimum 3-shingle hash
    * (a 1-permutation MinHash — the rolling-hash fingerprint analog).
    *
    * Entirely per-row (one kernel call hashes the doc's whole shingle set,
    * array_min picks the fingerprint) — NO explode, NO shuffle, NO join.
    * The previous explode→groupBy→join formulation was 35% of the round-1
    * bench; fingerprinting is inherently per-document, so at 100 TB this is
    * a pure narrow map over the scan. array_min of an empty array is null
    * (docs with <3 tokens), matching the old left-join semantics.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("content_hash"),
      array_min(shingleHashes(col("text"), 3)).as("fp_min"))

  /** Exact dedup: canonical row per identical text (hash-groupBy; group by
    * md5 so 100 TB shuffles 16-byte keys, not page bodies). Keeps the min
    * doc_id per group — one window, no self-join.
    */
  def dedupExact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
  }

  val MinhashP = 1000000007L
  val NumHashes = 16
  val BandRows = 4

  /** The 16-permutation MinHash signature as one kernel expression over
    * `text` (shared by [[minhashBands]] and [[corpusSelect]]'s scorecard). */
  private def minhashSigExpr: Column =
    org.apache.spark.sql.graft.TextExpressions.minhash_sig(
      shingleHashes(col("text"), 3), NumHashes)

  private val BandKeys = (0 until NumHashes / BandRows).map(b => s"band$b")

  /** The one band-key derivation: a (doc_id, sig) frame as one row per doc
    * with a non-null sig (docs with no shingles have no bands), holding each
    * band's key — its BandRows signature minima joined by "_" — as a column
    * of [[BandKeys]]. The long band rows and the pair join both read it. */
  private def bandKeys(sigged: DataFrame): DataFrame =
    sigged.filter(col("sig").isNotNull).select(col("doc_id") +: BandKeys.indices.map { b =>
      concat_ws("_", (0 until BandRows).map(r => element_at(col("sig"), b * BandRows + r + 1)): _*)
        .as(BandKeys(b))
    }: _*)

  /** Candidate pairs (doc_a < doc_b, each once) of a (doc_id, sig) frame:
    * docs whose signatures agree on every minimum of at least one band,
    * kept at their first agreeing band by [[firstBandPairs]]. */
  private def pairsOfSig(sigged: DataFrame): DataFrame =
    firstBandPairs(bandKeys(sigged), "doc_id", BandKeys)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))

  /** MinHash signatures over 3-word shingles: NumHashes permutations
    * `(a_j·h + b_j) mod P` with a_j = 2j+1, b_j = 12345j+7, banded into
    * NumHashes/BandRows LSH bands. Output: one row per (doc, band) with the
    * band key, (doc_id, band, band_key) — the long form of [[bandKeys]] that
    * the `dedup` job's signature table and [[incrementalDedup]]'s index keep.
    *
    * Scale: one per-row kernel call hashes the doc's shingle set and folds
    * all 16 permutation minima — no groupBy, no shuffle.
    */
  def minhashBands(docs: DataFrame): DataFrame =
    bandKeys(docs.select(col("doc_id"), minhashSigExpr.as("sig")))
      .select(col("doc_id"), posexplode(array(BandKeys.map(col): _*)).as(Seq("band", "band_key")))
      .withColumn("band", col("band").cast("long"))

  /** Candidate pairs of a per-band key table, each pair once. `keyed` holds
    * an `id` column and one key column per band (`keys`, in band order).
    * The keys are posexploded into (band, key) rows, and two aliases of
    * that one plan, "a" and "b", equi-join on (band, key) with a.id < b.id.
    * A pair is kept only at its first agreeing band, so no distinct is
    * needed. Callers select their output through the "a" and "b" aliases.
    */
  private[graft] def firstBandPairs(keyed: DataFrame, id: String,
                                    keys: Seq[String]): DataFrame = {
    // the hash exchange on (band, key) is the join's own partitioning, and
    // both sides share it whichever join Spark picks, so the keys are
    // derived once even when one side is broadcast (without it the probe
    // side re-ran the simhash kernel)
    val rows = keyed.select(col("*"),
        posexplode(array(keys.map(col): _*)).as(Seq("__band", "__key")))
      .repartition(col("__band"), col("__key"))
    // no earlier band agrees: band i's keys differ wherever i < __band
    val firstAgreeing = keys.init.zipWithIndex.map { case (k, i) =>
      col("a.__band") <= i || col(s"a.$k") =!= col(s"b.$k")
    }.foldLeft(lit(true))(_ && _)
    rows.as("a").join(rows.as("b"), col("a.__band") === col("b.__band")
      && col("a.__key") === col("b.__key") && col(s"a.$id") < col(s"b.$id")
      && firstAgreeing)
  }

  /** Near-dup candidate pairs from the MinHash bands: (doc_a, doc_b),
    * doc_a < doc_b, for docs that share at least one band key. Each pair is
    * emitted once, at its first shared band ([[firstBandPairs]], as
    * [[simhashPairs]]), so no distinct runs over the candidates. Scale: one
    * shuffle on (band, key) that both join sides reuse; never all-pairs. */
  def minhashPairs(docs: DataFrame): DataFrame =
    pairsOfSig(docs.select(col("doc_id"), minhashSigExpr.as("sig")))

  /** Incremental MinHash dedup against a persistent signature table — the
    * shape a 100 TB corpus actually runs: signatures are computed ONCE per
    * document (per-row kernel over the new batch only) and upserted into an
    * [[graft.table.Icelite]] band-index table; candidate pairs for the batch
    * are (batch ⋈ corpus-index) ∪ (batch ⋈ batch) bucket equi-joins. A daily
    * ingest therefore costs O(batch) signature compute + O(batch) index
    * merge (hash-slice claims rewrite only intersecting files) + one
    * map-side pass over the corpus index (the batch side is the small side —
    * AQE broadcasts it, so the corpus bands never shuffle, never sort, never
    * pair up outside shared buckets).
    *
    * `consume` receives the batch's candidate pairs (doc_a < doc_b,
    * distinct), i.e. every pair involving at least one batch document, and
    * its result is returned. The pairs plan reads the batch's pinned bands,
    * so it is valid only inside `consume`. The batch's signatures are merged
    * into `sigTable` after `consume` returns: a failed consumer leaves the
    * index as it was. Idempotent: re-running the same batch yields the same
    * pairs (self-matches against the already-merged copy are excluded by
    * doc_id inequality) and the merge converges. The union over successive
    * batches equals [[minhashPairs]] of the full corpus (spec-asserted).
    */
  def incrementalDedup[T](spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                          sigTable: String)(consume: DataFrame => T): T =
    // pinned: referenced by two join branches and the merge — unpinned, the
    // corpus-sized shingle+minhash kernel would re-run three times
    graft.Session.pinned(minhashBands(batch)) { batchBands =>
      import graft.table.Icelite
      val corpus = Icelite.currentSnapshotId(sigTable) match {
        case Some(id) => Icelite.readAt(spark, sigTable, id) // pinned snapshot id
        case None => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), batchBands.schema)
      }
      val newVsCorpus = batchBands.as("n").join(corpus.as("c"),
          col("n.band") === col("c.band") && col("n.band_key") === col("c.band_key")
            && col("n.doc_id") =!= col("c.doc_id"))
        .select(least(col("n.doc_id"), col("c.doc_id")).as("doc_a"),
          greatest(col("n.doc_id"), col("c.doc_id")).as("doc_b"))
      val newVsNew = batchBands.as("a").join(batchBands.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val out = consume(newVsCorpus.unionByName(newVsNew).distinct())
      Icelite.merge(spark, batchBands, sigTable, pkCols = Seq("doc_id", "band"))
      out
    }

  /** SimHash signature width. 60 bits (was 24 through round 4): the
    * pigeonhole multi-index splits the signature into maxHamming+1 blocks,
    * and block key space 2^(bits/blocks) is what bounds per-bucket occupancy
    * — 24 bits gave 64 buckets per block, re-pairing quadratically past
    * ~10^5 docs. 60 = 15-bit blocks at d=3 (32 768 buckets) and stays
    * sign-free under BIGINT shifts in both engines (bit 63 would flip the
    * sign, making `>>` arithmetic-shift semantics diverge). Token hashes
    * come from the 60-bit md5 kernel ([[GraftTextKernels.shingleHashesWide]]
    * via TextExpressions) — votes beyond the hash width would be all-minus
    * noise. */
  val SimhashBits = 60

  /** SimHash: per-token 60-bit hash, per-bit ±1 votes summed over the
    * document, sign → bit. Duplicate tokens vote once per occurrence.
    * Output (doc_id, simhash).
    *
    * Per-row kernel (token hashes = 1-shingles): vote fold happens inside
    * one codegen call — no explode, no 60-sum groupBy, no shuffle. Docs with
    * no tokens yield null and are dropped (matching the explode semantics).
    */
  def simhash(docs: DataFrame, bits: Int = SimhashBits): DataFrame =
    docs.select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions.simhash_sig(
          org.apache.spark.sql.graft.TextExpressions.shingle_hashes_wide(
            split(col("text"), " "), 1), bits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Pigeonhole geometry for an estimated corpus size: (signature bits,
    * bits per block). Blocks = maxHamming + 1 is forced by the pigeonhole
    * guarantee; block width is the knob — `2^width ≥ est/50` keeps expected
    * per-bucket occupancy ≤ 50 (so the per-block equi-join stays linear-ish
    * in N), floored at 6 bits and capped by the 60-bit hash entropy budget.
    * Past the cap (~10^8 docs per slice at d=3) near-dup extraction belongs
    * to [[minhashPairs]] / banded embedding LSH — same scoping as round 4,
    * now enforced by geometry instead of a scaladoc plea.
    */
  def simhashGeometry(estDocs: Long, maxHamming: Int = 3): (Int, Int) = {
    val blocks = maxHamming + 1
    val maxWidth = SimhashBits / blocks
    val needed = math.ceil(math.log(math.max(1L, estDocs) / 50.0) /
      math.log(2.0)).toInt
    val width = math.min(maxWidth, math.max(6, needed))
    (blocks * width, width)
  }

  /** SimHash near-dup pairs at hamming distance ≤ `maxHamming` via the
    * standard pigeonhole multi-index: split the signature into
    * `maxHamming + 1` bit-blocks — two signatures within the distance MUST
    * agree exactly on at least one block — equi-join on (block, value) with
    * first-block dedup ([[firstBandPairs]], as [[graft.sim.Ann.lshPairsBanded]]),
    * then verify the exact hamming distance with `bit_count(xor)`.
    * Output (doc_a, doc_b, hamming), doc_a < doc_b, each pair once.
    *
    * Scale: block selectivity is 2^(bits/blocks) buckets — 32 768 per block
    * at the default 60-bit signature and d=3 (expected occupancy ≤ 50 up to
    * ~1.6M docs; `bits` via [[simhashGeometry]] tracks
    * log2 N below that). The hash entropy budget caps the derivation at 60
    * bits; past ~10^8 docs per slice, near-dup extraction runs on
    * [[minhashPairs]] / banded embedding LSH.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   bits: Int = SimhashBits): DataFrame = {
    val blocks = maxHamming + 1
    val blockBits = bits / blocks
    val keys = (0 until blocks).map(b => s"blk$b")
    val keyed = simhash(docs, bits).select(col("doc_id") +: col("simhash") +:
      keys.zipWithIndex.map { case (k, b) => shiftright(col("simhash"), b * blockBits)
        .bitwiseAND(lit((1L << blockBits) - 1)).as(k) }: _*)
    firstBandPairs(keyed, "doc_id", keys)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-document boilerplate detection: shingles that appear in at least
    * `minDf` DISTINCT documents are boilerplate (navigation chrome, license
    * footers, cookie banners — content whose frequency, not wording, marks
    * it); per document, report how much of it is boilerplate. This is the
    * n-gram-granular form of the repeated-substring cleaning step web-corpus
    * pipelines run after URL/content dedup. Output
    * (doc_id, n_sh, n_boiler, boiler_ratio) — ratio null for docs with no
    * shingles.
    *
    * Scale: one shuffle on 8-byte shingle hashes for the DF count (map-side
    * combinable), an equi-join back (the boilerplate set is the small side —
    * broadcastable at any realistic minDf), one per-doc aggregate. Never
    * materializes pairs; document bodies never shuffle.
    */
  def boilerplate(docs: DataFrame, minDf: Int = 5): DataFrame = {
    // n_sh is the size of the per-row DISTINCT shingle array — computed
    // narrowly in the scan, NOT as a count-over-explode aggregate: the old
    // `tot` groupBy was a whole extra shuffle + join + kernel pass for a
    // number already sitting in the row (round 6, guide §2.4; identical
    // values — explode of an empty array emits nothing, so the old left
    // join's null coalesced to the same 0 this size() yields)
    val withSh = docs.select(col("doc_id"),
      array_distinct(shingleHashes(col("text"), 3)).as("__sh"))
    val ex = withSh.select(col("doc_id"), explode(col("__sh")).as("s"))
    val boiler = ex.groupBy("s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf).select("s")
    val per = ex.join(boiler, Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    withSh.select(col("doc_id"), size(col("__sh")).cast("long").as("n_sh"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        when(col("n_sh") > 0,
          round(col("n_boiler").cast("double") / col("n_sh"), 6)))
  }

  /** Duplicate-cluster resolution: connected components over a near-dup
    * candidate pair list ([[minhashPairs]] by default), labelling EVERY doc —
    * docs in no pair are their own singleton cluster. Output
    * (doc_id, cluster_id, cluster_size) where cluster_id is the minimum
    * doc_id in the component.
    *
    * Scale: the component step is alternating star contraction
    * ([[graft.ops.ConnectedComponents]]) — O(log n) one-shuffle rounds over
    * the pair list, never over the corpus (with a driver union-find
    * short-circuit when the pair list is under 100k edges, where per-round
    * job overhead would dominate); the final label join is a join on
    * doc_id (and the component side is ≤ the number of paired docs, i.e.
    * usually a small fraction of the corpus at web scale).
    */
  def dupClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = graft.ops.ConnectedComponents
      .components(pairs.select(col("doc_a"), col("doc_b")))
      .withColumnRenamed("node", "doc_id")
    val labelled = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    labelled.withColumn("cluster_size",
      count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }

  /** Representative selection: per duplicate cluster keep the
    * highest-quality document (ties → lowest doc_id). Output one row per
    * cluster: (cluster_id, keep_id, keep_quality, n_docs). This is the final
    * stage of the dedup pipeline — pairs → clusters → one survivor each.
    *
    * One window over cluster_id (the cluster table, not the corpus text);
    * quality comes from [[qualityScore]] so the scan computes it narrowly
    * before the shuffle.
    */
  def keepBest(docs: DataFrame, pairs: DataFrame): DataFrame =
    keepBestScored(qualityScore(docs).select(col("doc_id"), col("quality_score")), pairs)

  /** [[keepBest]] over a PRE-SCORED (doc_id, quality_score) frame — the
    * multi-batch shape: a scheduler accumulates per-doc scores and pairs in
    * persistent tables across ingests, then rebuilds keep-best from the FULL
    * corpus-so-far, so a cluster whose best member arrived in an earlier
    * batch still picks that member (scoring only the current batch would
    * silently crown a worse representative — see jobs.Main `dedup`).
    */
  def keepBestScored(scored: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = dupClusters(scored.select(col("doc_id")), pairs)
    val quality = scored.select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("quality_score").as("keep_quality"),
        col("cluster_size").cast("long").as("n_docs"))
  }

  /** Benchmark decontamination: flag corpus documents that share at least
    * `minOverlap` distinct 3-shingles with ANY document of a benchmark/eval
    * set — the contamination gate a training-data pipeline runs so eval
    * questions don't leak into the corpus. Output one row per corpus doc:
    * (doc_id, n_bench_hits = benchmark docs overlapped at the threshold,
    * max_overlap = largest shared-shingle count, contaminated).
    *
    * Scale: the benchmark side is tiny (eval sets are thousands of docs) —
    * its distinct shingle set broadcasts; the corpus side is one narrow
    * kernel pass + an explode joined against the broadcast, then a per-doc
    * aggregate. The corpus never self-joins and document text never
    * shuffles.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame,
                    minOverlap: Int = 2): DataFrame = {
    val ex = docs.select(col("doc_id"),
      explode(array_distinct(shingleHashes(col("text"), 3))).as("s"))
    val bx = bench.select(col("doc_id").as("bench_id"),
      explode(array_distinct(shingleHashes(col("text"), 3))).as("s"))
    val perPair = ex.join(broadcast(bx), Seq("s"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
    val perDoc = perPair.groupBy("doc_id").agg(
      count(lit(1)).as("n_bench_hits"),
      max(col("overlap")).as("max_overlap"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        coalesce(col("max_overlap"), lit(0L)).as("max_overlap"))
      .withColumn("contaminated", col("n_bench_hits") > 0)
  }

  /** End-to-end corpus curation — the composition a training-data pipeline
    * ships: keep a document iff it is its duplicate-cluster's REPRESENTATIVE
    * ([[keepBest]]) AND quality ≥ `minQuality` AND boilerplate ratio ≤
    * `maxBoiler` (docs with no shingles trivially pass) AND predicted
    * language ∈ `langs`. Output one row per surviving doc with its full
    * scorecard.
    *
    * Scale: every input to the final join is a per-doc aggregate (narrow
    * kernels + one bounded shuffle each, see the component operators); the
    * composition adds two doc_id equi-joins — no new pair-shaped or
    * corpus-squared work.
    */
  def corpusSelect(docs: DataFrame, minQuality: Double = 1.1,
                   maxBoiler: Double = 0.05,
                   langs: Seq[String] = Seq("en")): DataFrame = {
    // Round 6 (guide §8, decide with small rows): ONE narrow kernel pass
    // computes the whole per-doc scorecard — quality score, language scores,
    // minhash signature — and pins the SMALL rows (a few dozen bytes/doc,
    // never the text). The old composition re-derived the corpus scan +
    // tokenization separately for the quality, langid and minhash branches
    // and re-attached pred_lang through an extra corpus-sized join; bands,
    // keep-best quality, and the language column now all read the pinned
    // scorecard. Boilerplate keeps its own passes (its exploded-shingle
    // frame is payload-sized — materializing it would cost more than the
    // rescans it saves). Identical output (same component expressions, same
    // join/filter semantics; oracle-checked).
    val scored0 = docs.select(col("doc_id") +: qualityParts.score.as("quality_score") +:
      minhashSigExpr.as("sig") +:
      langScoreCols.map { case (n, c) => c.as(n) }: _*)
    val (pred, _) = predLangFromScores
    // a raw pin, not a scoped one: the returned plan reads the scorecard in
    // four places (the band pairs, the cluster labels, keep-best's quality
    // and pred_lang), so the pin must outlive this call
    val f1 = scored0.select(col("doc_id"), col("quality_score"),
        pred.as("pred_lang"), col("sig"))
      .localCheckpoint()
    val pairs = pairsOfSig(f1.select(col("doc_id"), col("sig")))
    val keep = keepBestScored(f1.select(col("doc_id"), col("quality_score")), pairs)
      .withColumnRenamed("keep_id", "doc_id")
      .withColumnRenamed("keep_quality", "quality_score")
    val boiler = boilerplate(docs).select(col("doc_id"), col("boiler_ratio"))
    keep.join(f1.select(col("doc_id"), col("pred_lang")), Seq("doc_id"))
      .join(boiler, Seq("doc_id"))
      .filter(col("quality_score") >= minQuality &&
        (col("boiler_ratio").isNull || col("boiler_ratio") <= maxBoiler) &&
        col("pred_lang").isin(langs: _*))
      .select(col("doc_id"), col("cluster_id"), col("n_docs"),
        col("quality_score"), col("boiler_ratio"), col("pred_lang"))
  }

  /** Deterministic stratified sampling — corpus-mixing weights: keep a doc
    * iff `h32(salt · doc_id) mod 1000 < rate(lang) · 1000`. Hash-based (not
    * rand()) so the sample is REPRODUCIBLE across runs/retries/engines — the
    * property a training-data mix needs for auditability — and a narrow
    * per-row predicate the scan applies with zero shuffle at any scale.
    * Unknown languages fall back to `defaultRate`.
    */
  def sampleMix(docs: DataFrame, rates: Map[String, Double],
                defaultRate: Double = 0.1, salt: String = "mix1"): DataFrame = {
    val keyHash = pmod(h32(concat(lit(salt + ":"), col("doc_id").cast("string"))), lit(1000L))
    val rate = rates.foldLeft(Option.empty[Column]) {
      case (None, (l, r)) => Some(when(col("lang") === l, lit((r * 1000).toLong)))
      case (Some(c), (l, r)) => Some(c.when(col("lang") === l, lit((r * 1000).toLong)))
    }.map(_.otherwise(lit((defaultRate * 1000).toLong)))
      .getOrElse(lit((defaultRate * 1000).toLong))
    docs.withColumn("__kh", keyHash).filter(col("__kh") < rate)
      .select(col("doc_id"), col("lang"), col("__kh").as("sample_key"))
  }

  /** Token-budget filling: per language, keep documents in deterministic
    * order (doc_id) while the RUNNING token total stays within `budget` —
    * "fill N tokens per language", the last selection step of a corpus mix.
    * One window prefix-sum per language partition; emits the running total
    * so downstream can audit the cut. A doc that crosses the budget line is
    * excluded (strict cap).
    *
    * Scale: a window ordered by doc_id within lang — one shuffle on lang
    * (salt high-cardinality keys by range-partitioning doc_id first if a
    * single language dominates; at the 100 TB design point the budget fill
    * runs per (lang, shard) with per-shard budgets, which this same column
    * expression serves).
    */
  def tokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    val toksN = size(tokens(col("text"))).cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("lang"), toksN.as("n_tokens"))
      .withColumn("running_tokens", sum(col("n_tokens")).over(w))
      .filter(col("running_tokens") <= budget)
  }

  /** Deterministic corpus shuffle, distributed: shard each document by a
    * seeded hash and order WITHIN the shard by the same hash (doc_id
    * tiebreak) — the "global random permutation" a training run reads, built
    * the only way it scales: no global sort, no single-partition window.
    * Shard files concatenated in (shard, pos) order ARE the permutation, and
    * the seed makes it reproducible across runs/engines (hash, not rand()).
    * One shuffle on the shard key (md5-uniform by construction).
    */
  def shuffleShards(docs: DataFrame, nShards: Int, seed: String = "shuf1"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val k = h32(concat(lit(seed + ":"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("sort_key"), col("doc_id"))
    docs.select(col("doc_id"), (k % nShards).as("shard"), k.as("sort_key"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** [[tokenBudget]]'s scale path: the budget fill runs per (lang, SHARD) —
    * a seeded-hash shard of `nShards` — so no single window partition ever
    * holds a whole language (at 100 TB one dominant language would otherwise
    * sort on one task). Semantics: each (lang, shard) fills up to `budget`
    * tokens in doc_id order; with nShards = 1 this IS [[tokenBudget]]
    * (spec-asserted). Total kept per language ≤ nShards·budget.
    */
  def tokenBudgetSharded(docs: DataFrame, budget: Long, nShards: Int,
                         seed: String = "shard1"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val toksN = size(tokens(col("text"))).cast("long")
    val shard = h32(concat(lit(seed + ":"), col("doc_id").cast("string"))) % nShards
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("lang"), shard.as("shard"), toksN.as("n_tokens"))
      .withColumn("running_tokens", sum(col("n_tokens")).over(w))
      .filter(col("running_tokens") <= budget)
  }

  /** Within-document repetition signals — the Gopher/C4-style quality rules
    * that gate machine-generated and keyword-stuffed pages: duplicate-token
    * fraction, most-common-token fraction, most-common-bigram fraction.
    * One codegen kernel call per row (the nested-HOF column form, kept below
    * as [[repetitionStatsColumnForm]], is CodegenFallback-interpreted AND
    * O(n·distinct) per row; the kernel is O(n)) — zero shuffle at any scale;
    * cost is bounded by document length, never corpus size. Empty docs
    * yield NULL fractions.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val c = org.apache.spark.sql.graft.TextExpressions
      .repetition_counts(split(col("text"), " "))
    docs.select(col("doc_id"), c.as("__c"))
      .select(col("doc_id"),
        element_at(col("__c"), 1).as("n_tokens"),
        element_at(col("__c"), 2).as("n_distinct"),
        element_at(col("__c"), 3).as("__m"),
        element_at(col("__c"), 4).as("__nb"),
        element_at(col("__c"), 5).as("__mb"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6))
          .as("dup_frac"),
        when(col("n_tokens") > 0,
          round(col("__m").cast("double") / col("n_tokens"), 6)).as("top_token_frac"),
        when(col("__nb") > 0,
          round(col("__mb").cast("double") / col("__nb"), 6)).as("top_bigram_frac"))
  }

  /** (column-tree formulation kept as the kernel's test reference) */
  private[graft] def repetitionStatsColumnForm(docs: DataFrame): DataFrame = {
    def maxCount(arr: Column): Column =
      array_max(transform(array_distinct(arr), w => size(filter(arr, x => x === w))))
        .cast("long")
    val withArrs = docs.select(col("doc_id"), tokens(col("text")).as("__t"))
      .withColumn("__b", shingles(col("__t"), 2))
    withArrs.select(
        col("doc_id"),
        size(col("__t")).cast("long").as("n_tokens"),
        size(array_distinct(col("__t"))).cast("long").as("n_distinct"),
        maxCount(col("__t")).as("__m"),
        size(col("__b")).cast("long").as("__nb"),
        maxCount(col("__b")).as("__mb"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 6))
          .as("dup_frac"),
        when(col("n_tokens") > 0,
          round(col("__m").cast("double") / col("n_tokens"), 6)).as("top_token_frac"),
        when(col("__nb") > 0,
          round(col("__mb").cast("double") / col("__nb"), 6)).as("top_bigram_frac"))
  }

  /** PII regexes shared by the Spark op and the SQL oracle — kept inside the
    * common RE2 ∩ java.util.regex dialect (no lookaround/backrefs) so both
    * engines match identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongNumRe = "\\d{7,}"

  /** PII scrubbing — mask emails, IPv4 addresses, and long digit runs
    * (account/phone-shaped ids) with typed placeholder tokens, and count the
    * redactions per document for audit. The passes run in a fixed order
    * (email → ip → number) and each count is taken on the OUTPUT of the
    * previous pass, so a digit run inside an already-masked email is not
    * double-counted. Narrow per-row codegen `regexp_replace`/`regexp_count`
    * chain — zero shuffle at 100 TB.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val s0 = col("text")
    val s1 = regexp_replace(s0, EmailRe, "<EMAIL>")
    val s2 = regexp_replace(s1, Ipv4Re, "<IP>")
    val s3 = regexp_replace(s2, LongNumRe, "<NUM>")
    docs.select(col("doc_id"),
      regexp_count(s0, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(s1, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(s2, lit(LongNumRe)).cast("long").as("n_nums"),
      s3.as("clean_text"))
  }

  /** Context-window chunking — split each document's token stream into
    * fixed-size overlapping windows (`chunkSize` tokens every `stride`),
    * the step that turns curated documents into training sequences. Every
    * document yields at least one chunk (short docs → one partial chunk);
    * the last chunk may be partial. Pure per-row explode — the output is
    * `ceil(n/stride)`-ish rows per doc with NO shuffle; at 100 TB the
    * chunker runs in the scan stage and streams straight to the sink.
    */
  def chunkWindows(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val t = tokens(col("text"))
    val nChunks = lit(1) + greatest(lit(0),
      ceil((size(t) - lit(chunkSize)).cast("double") / stride).cast("int"))
    docs.select(col("doc_id"), t.as("__t"), nChunks.as("__nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("__nc") - 1),
          i => slice(col("__t"), i * stride + 1, lit(chunkSize)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        size(col("col")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  /** Sequence packing — assign documents to fixed-token-budget bins, per
    * language in deterministic doc_id order (the offline "pack sequences
    * into context windows" step). A document lands in the bin where its
    * running prefix-sum STARTS (documents are never split; a bin may
    * overflow by at most one document). Returns the per-bin summary
    * (lang, bin_id, n_docs, bin_tokens).
    *
    * Scale: same window shape as [[tokenBudget]] — one shuffle on lang; at
    * the design point packing runs per (lang, shard) so no single partition
    * holds a whole language.
    */
  def packBins(docs: DataFrame, binTokens: Long): DataFrame = {
    require(binTokens > 0, "binTokens must be positive")
    val n = size(tokens(col("text"))).cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("lang"), n.as("n_tokens"))
      .withColumn("__run", sum(col("n_tokens")).over(w))
      .withColumn("bin_id",
        floor((col("__run") - col("n_tokens")).cast("double") / binTokens).cast("long"))
      .groupBy(col("lang"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
  }

  /** Bounded per-shingle postings collector backing [[jaccardPairs]]'s
    * df-cut: keeps up to `cap` (doc_id, n_sh) postings per shingle as a flat
    * Array[Long] (primitive unsafe-array encoder across the shuffle — the
    * [[graft.ops.TopK.TopKAgg]] pattern) plus the EXACT total document
    * frequency. Groups over the df-cut stop storing but keep counting, so
    * memory per group is bounded by the cut at any corpus size while every
    * surviving group's posting list is complete (df ≤ cap ⇒ nothing was
    * dropped).
    *
    * Buffer layout: [0] = total df, [1] = stored postings, then
    * (doc_id, n_sh) pairs; grows by doubling.
    */
  private[text] class DfCollect(cap: Int)(implicit
      bufEnc: org.apache.spark.sql.Encoder[Array[Long]],
      outEnc: org.apache.spark.sql.Encoder[(Long, Seq[(Long, Long)])])
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long), Array[Long], (Long, Seq[(Long, Long)])] {
    override def zero: Array[Long] = Array(0L, 0L)
    private def append(b: Array[Long], d: Long, n: Long): Array[Long] = {
      val used = b(1).toInt
      val need = 2 + 2 * used + 2
      val nb = if (b.length < need)
        java.util.Arrays.copyOf(b, math.max(need, b.length * 2)) else b
      nb(2 + 2 * used) = d; nb(3 + 2 * used) = n; nb(1) = used + 1
      nb
    }
    override def reduce(b: Array[Long], e: (Long, Long)): Array[Long] = {
      val nb = if (b(1) < cap) append(b, e._1, e._2) else b
      nb(0) += 1
      nb
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var r = a
      val bu = b(1).toInt
      var i = 0
      while (i < bu && r(1) < cap) { r = append(r, b(2 + 2 * i), b(3 + 2 * i)); i += 1 }
      r(0) += b(0)
      r
    }
    override def finish(b: Array[Long]): (Long, Seq[(Long, Long)]) =
      (b(0), (0 until b(1).toInt).map(i => (b(2 + 2 * i), b(3 + 2 * i))))
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] = bufEnc
    override def outputEncoder: org.apache.spark.sql.Encoder[(Long, Seq[(Long, Long)])] = outEnc
  }

  /** N-gram Jaccard near-dup pairs: distinct 3-shingles per doc, candidate
    * pairs = docs sharing >= 1 shingle, Jaccard = |∩| / |∪| with a
    * threshold. ONE shuffle on the 8-byte shingle hash (uniform), one pair
    * aggregate.
    *
    * Scale: the shingle self-join explodes on ultra-common shingles; cap
    * candidate generation by dropping shingles shared by more than
    * `maxShingleDf` docs (standard df-cut used by near-dup pipelines —
    * ultra-common shingles carry no discriminative signal).
    *
    * Round 6 (guide §2.4, remove shuffles outright): the old form shuffled
    * the exploded (doc, shingle) table TWICE — once into the df-count
    * aggregate and once into the equi-join back — and fed a third exchange
    * pair into the s-keyed self-join. This form groups postings per shingle
    * in ONE bounded-buffer aggregate ([[DfCollect]], map-side combinable),
    * applies the df-cut on the exact count, and generates the same candidate
    * multiset with two in-row explodes (no further shuffle until the pair
    * aggregate). Per-shingle skew profile is unchanged: a hot shingle's df²
    * candidates were all on one join key before and are in one row's
    * explode now, bounded either way by the df-cut.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.2,
                   maxShingleDf: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // shuffle 8-byte shingle hashes, never shingle strings (at 100 TB the
    // strings would dominate the shuffle); set semantics via array_distinct
    // over the kernel-hashed shingle array
    val withSh = docs.select(col("doc_id"),
      array_distinct(shingleHashes(col("text"), 3)).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
    val exploded = withSh.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
    val dfc = udaf(new DfCollect(maxShingleDf))
    val postings = exploded.groupBy("s")
      .agg(dfc(col("doc_id"), col("n_sh")).as("r"))
      // df-cut on the exact total (also prunes singleton shingles — df < 2
      // can't form a pair — with zero semantic change)
      .filter(col("r._1") >= 2 && col("r._1") <= maxShingleDf)
      .select(col("r._2").as("ds"))
    val cand = postings
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a._1") < col("b._1"))
    cand.groupBy(col("a._1").as("doc_a"), col("b._1").as("doc_b"),
        col("a._2").as("n_a"), col("b._2").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("n_a").as("n_a"), col("n_b").as("n_b"),
        col("jaccard"))
  }
}
