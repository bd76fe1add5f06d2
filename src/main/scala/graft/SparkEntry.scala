package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CellExpressions, PipJoinRewrite}
import graft.cells.Cells
import graft.geom.Geom
import graft.ops.{Canonical, KnnJoin, PipJoin, Tiling}
import graft.pages.{Ladder, Pages}
import graft.sim.Ann
import graft.sources.Tables
import graft.text.{TextOps, UrlOps}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with an equivalent DuckDB SQL oracle where the
  * semantics are SQL-expressible. Column names/types are aligned on both
  * sides (the driver sorts columns by name before hashing values).
  *
  * Parity discipline: every derivation feeding an oracle-checked query is
  * engine-portable math — integer arithmetic, md5-derived hashes, exact IEEE
  * ops in identical order — so Spark and DuckDB produce bit-identical values
  * (see graft.pages.Pages / graft.text.TextOps scaladoc).
  */
object SparkEntry {

  // ------------------------------------------------------- SQL helpers

  /** DuckDB mirror of TextOps.h32. */
  private def h32sql(s: String): String = s"(('0x' || substr(md5($s), 1, 8))::BIGINT)"

  /** DuckDB mirror of the 60-bit kernel hash (GraftTextKernels
    * .shingleHashesWide): bits 0-31 from md5 bytes 4-7, bits 32-59 from the
    * low 28 bits of bytes 0-3. */
  private def h60sql(s: String): String =
    s"((('0x' || substr(md5($s), 1, 8))::BIGINT % 268435456) * 4294967296 + ('0x' || substr(md5($s), 9, 8))::BIGINT)"

  private val toksCte =
    "toks AS (SELECT *, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents)"

  /** 3-word shingles of the token list `t` (empty when < 3 tokens). */
  private val shinglesCte =
    "sh AS (SELECT doc_id, list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s FROM toks)"

  private def withCtes(body: String, ctes: String*): String =
    s"WITH ${ctes.mkString(",\n")}\n$body"

  private def withRecursiveCtes(body: String, ctes: String*): String =
    s"WITH RECURSIVE ${ctes.mkString(",\n")}\n$body"

  /** CTE chain ending in `bands(doc_id, band, band_key)` — the MinHash band
    * signatures (mirrors [[TextOps.minhashBands]]). The permutation constants
    * (2j+1, 12345j+7, MinhashP) live HERE once; q_minhash_bands,
    * q_minhash_pairs, and every cluster oracle build on this chain, so a
    * constant change cannot desynchronize them.
    */
  private lazy val minhashBandCtes: Seq[String] = {
    val minExprs = (0 until TextOps.NumHashes).map { j =>
      s"min((h * ${2 * j + 1} + ${12345 * j + 7}) % ${TextOps.MinhashP}) AS mh_$j"
    }.mkString(",\n         ")
    val bandSelects = (0 until TextOps.NumHashes / TextOps.BandRows).map { b =>
      val key = (0 until TextOps.BandRows)
        .map(r => s"mh_${b * TextOps.BandRows + r}").mkString(", ")
      s"SELECT doc_id, CAST($b AS BIGINT) AS band, concat_ws('_', $key) AS band_key FROM mh"
    }.mkString("\nUNION ALL\n")
    Seq(toksCte, shinglesCte,
      s"""hv AS (SELECT doc_id, ${h32sql("sg")} AS h
         |       FROM (SELECT doc_id, unnest(s) AS sg FROM sh))""".stripMargin,
      s"""mh AS (SELECT doc_id,
         |         $minExprs
         |       FROM hv GROUP BY doc_id)""".stripMargin,
      s"bands AS (\n$bandSelects)")
  }

  /** [[minhashBandCtes]] + the band-bucket self-join → `pairs(doc_a, doc_b)`
    * (mirrors [[TextOps.minhashPairs]]; shared by the cluster oracles). */
  private lazy val minhashPairCtes: Seq[String] = minhashBandCtes :+
    """pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |          FROM bands a JOIN bands b
      |            ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  /** Stopword-hit scores per language and their max (shared by q_langid and
    * the corpus-selection `lng` CTE — ONE copy of the stopword lists). */
  private val langScoresSql =
    """SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
      |       greatest(s_en, s_de, s_es, s_fr, s_zh) AS m
      |FROM (
      |  SELECT doc_id,
      |    len(list_filter(t, w -> w IN ('the','and','of','to','is'))) AS s_en,
      |    len(list_filter(t, w -> w IN ('der','die','und','ist','das'))) AS s_de,
      |    len(list_filter(t, w -> w IN ('el','la','de','que','es'))) AS s_es,
      |    len(list_filter(t, w -> w IN ('le','la','les','est','et'))) AS s_fr,
      |    len(list_filter(t, w -> w IN ('shi','de','le','zai','he'))) AS s_zh
      |  FROM toks)""".stripMargin

  private val predLangSql =
    """CASE WHEN s_en = m AND m > 0 THEN 'en'
      |     WHEN s_de = m AND m > 0 THEN 'de'
      |     WHEN s_es = m AND m > 0 THEN 'es'
      |     WHEN s_fr = m AND m > 0 THEN 'fr'
      |     WHEN s_zh = m AND m > 0 THEN 'zh'
      |     ELSE 'und' END""".stripMargin

  private lazy val lngCte =
    s"lng AS (SELECT doc_id, $predLangSql AS pred_lang FROM ($langScoresSql))"

  /** Quality scorecard (mirrors [[TextOps.qualityScore]]'s score formula;
    * shared by q_dedup_keep and q_corpus_select). */
  private val qualCte =
    """qual AS (
      |  SELECT doc_id, round(
      |    (CAST(len(list_filter(t, w -> w IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE) / len(t)) * 2.0
      |    - (CAST(length(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / length(text)) * 5.0
      |    + CASE WHEN len(t) >= 10 AND len(t) <= 1000 THEN 1.0 ELSE 0.0 END, 6) AS quality_score
      |  FROM toks)""".stripMargin

  /** Per-cluster representative pick over `cl` + `qual` (mirrors
    * [[TextOps.keepBest]]; shared by q_dedup_keep and q_corpus_select). */
  private val keepbCte =
    """keepb AS (
      |  SELECT cluster_id, doc_id, quality_score, n_docs FROM (
      |    SELECT c.cluster_id, c.doc_id, q.quality_score,
      |           count(*) OVER (PARTITION BY c.cluster_id) AS n_docs,
      |           row_number() OVER (PARTITION BY c.cluster_id
      |                              ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
      |    FROM cl c JOIN qual q ON q.doc_id = c.doc_id)
      |  WHERE rn = 1)""".stripMargin

  /** Boilerplate ratio over the 3-shingle DF cut (mirrors
    * [[TextOps.boilerplate]]; shared by q_boilerplate and q_corpus_select).
    * Needs toks + sh in scope. */
  private lazy val boilerRatioCtes: Seq[String] = Seq(
    s"""exb AS (SELECT DISTINCT doc_id, ${h32sql("sg")} AS s
       |        FROM (SELECT doc_id, unnest(s) AS sg FROM sh))""".stripMargin,
    "bl AS (SELECT s FROM (SELECT s, count(*) AS df FROM exb GROUP BY s) WHERE df >= 5)",
    """br AS (
      |  SELECT d.doc_id, coalesce(t2.n_sh, 0) AS n_sh, coalesce(p.n_boiler, 0) AS n_boiler,
      |         CASE WHEN coalesce(t2.n_sh, 0) > 0
      |              THEN round(coalesce(p.n_boiler, 0) / t2.n_sh, 6) END AS boiler_ratio
      |  FROM documents d
      |  LEFT JOIN (SELECT doc_id, count(*) AS n_sh FROM exb GROUP BY doc_id) t2
      |    ON t2.doc_id = d.doc_id
      |  LEFT JOIN (SELECT e.doc_id, count(*) AS n_boiler FROM exb e JOIN bl USING (s)
      |             GROUP BY e.doc_id) p
      |    ON p.doc_id = d.doc_id)""".stripMargin)

  /** minhashPairCtes + recursive reachability closure → `cl(doc_id,
    * cluster_id)` with cluster_id = min doc_id in the connected component
    * (the oracle twin of [[graft.ops.ConnectedComponents]]; the closure is
    * quadratic but runs only at oracle scale). Requires withRecursiveCtes.
    */
  private lazy val clusterCtes: Seq[String] = minhashPairCtes ++ Seq(
    "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION SELECT doc_b, doc_a FROM pairs)",
    """reach(src, dst) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst)""".stripMargin,
    "lbl AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src)",
    """cl AS (SELECT d.doc_id, least(d.doc_id, coalesce(l.mn, d.doc_id)) AS cluster_id
      |       FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id)""".stripMargin)

  private val geocellSql =
    """CASE WHEN lat >= 0 THEN 'n' ELSE 's' END ||
      | lpad(CAST(CAST(abs(floor(lat)) AS INT) AS VARCHAR), 2, '0') ||
      | CASE WHEN lon >= 0 THEN 'e' ELSE 'w' END ||
      | lpad(CAST(CAST(abs(floor(lon)) AS INT) AS VARCHAR), 3, '0')""".stripMargin

  private val embCte =
    """em AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS em
      |  FROM embeddings
      |), emn AS (
      |  SELECT vec_id, em,
      |         CAST(list_sum(list_transform(range(1, 65), i -> em[i] * em[i])) AS BIGINT) AS n2
      |  FROM em
      |)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT)"

  /** LSH bucket bits over `em` (mirrors Ann.lshBuckets). */
  private lazy val lshTermsSql: String = (0 until Ann.NumPlanes).map { p =>
    val comps = (0 until Ann.Dim)
      .map(d => s"em[${d + 1}] * (${Ann.planeComponent(p, d)})").mkString(" + ")
    s"CASE WHEN $comps > 0 THEN ${1L << p} ELSE 0 END"
  }.mkString(" + ")

  /** Band `b`'s key bits over `em` (mirrors Ann.pairBandKey). */
  private def bandKeySql(b: Int): String = (0 until Ann.PairBandPlanes).map { j =>
    val comps = (0 until Ann.Dim)
      .map(d => s"em[${d + 1}] * (${Ann.planeComponent(100 + b * Ann.PairBandPlanes + j, d)})")
      .mkString(" + ")
    s"CASE WHEN $comps > 0 THEN ${1L << j} ELSE 0 END"
  }.mkString(" + ")

  /** IVF CTE chain: per-vector centroid dots → argmax cell (lower index
    * wins ties) — mirrors Ann.ivfAssign. */
  private lazy val ivfCte: String = {
    val dots = (0 until Ann.IvfCells).map { c =>
      val expr = (0 until Ann.Dim)
        .map(d => s"em[${d + 1}] * (${Ann.centroidComponent(c, d)})").mkString(" + ")
      s"($expr) AS d_$c"
    }.mkString(",\n    ")
    val names = (0 until Ann.IvfCells).map(c => s"d_$c").mkString(", ")
    val cases = (0 until Ann.IvfCells).map(c => s"WHEN d_$c = __m THEN $c").mkString(" ")
    s"""ivfd AS (SELECT vec_id, em, n2,
       |    $dots
       |  FROM emn),
       |ivfc AS (SELECT vec_id, em, n2,
       |    CAST(CASE $cases ELSE -1 END AS BIGINT) AS ivf_cell
       |  FROM (SELECT *, greatest($names) AS __m FROM ivfd))""".stripMargin
  }

  /** Shared CTE chain + body for the J9 STAC assembly oracle (mirrors
    * StacDocs.itemAssembly; struct field order must match the Spark struct).
    */
  private lazy val stacAssemblyCtes: Seq[String] = Seq(
    Ladder.stripsCte, Ladder.stripTapeCte, Ladder.stripStagingCte,
    Ladder.releaseCte, Ladder.assetInfoCte,
    """strip_all AS (
      |  SELECT dem_id, stripdemid, s2s_ver, is_lsf, pairname, geocell, status FROM strip_staging
      |  UNION ALL
      |  SELECT sd.dem_id, sd.stripdemid, sd.s2s_ver, sd.is_lsf, sd.pairname, sd.geocell, 'tape'
      |  FROM strip_tape sd
      |  WHERE NOT EXISTS (SELECT 1 FROM strip_staging sds
      |                    WHERE sds.dem_id = sd.dem_id
      |                      AND sds.stripdemid = sd.stripdemid))""".stripMargin,
    """canonical AS (
      |  SELECT project || '-strips-s2s041-2m' AS collection, dem_id AS item_id,
      |         dem_id, stripdemid
      |  FROM release WHERE license = 'public')""".stripMargin,
    """href AS (
      |  SELECT c.collection, c.item_id,
      |         concat_ws('/', 'https://opendata.example.org',
      |           string_split(c.collection, '-')[1], string_split(c.collection, '-')[2],
      |           string_split(c.collection, '-')[3], string_split(c.collection, '-')[4],
      |           sa.geocell, c.item_id) || '.json' AS self_href
      |  FROM canonical c
      |  LEFT JOIN strip_all sa ON sa.dem_id = c.dem_id AND sa.stripdemid = c.stripdemid)""".stripMargin,
    """primary_asset AS (
      |  SELECT collection, item_id, gsd, proj_code FROM asset_info
      |  WHERE asset_key = 'dem')""".stripMargin)

  private lazy val stacAssemblyBody: String =
    """SELECT c.collection, c.item_id,
      |  to_json(struct_pack(
      |    id := c.item_id, type := 'Feature', collection := c.collection,
      |    geocell := sa.geocell, pairname := sa.pairname,
      |    stripdemid := c.stripdemid, s2s_version := sa.s2s_ver,
      |    status := sa.status,
      |    gsd := coalesce(pa.gsd, -1), proj_code := coalesce(pa.proj_code, ''),
      |    self_href := h.self_href)) AS doc
      |FROM canonical c
      |LEFT JOIN strip_all sa ON sa.dem_id = c.dem_id AND sa.stripdemid = c.stripdemid
      |LEFT JOIN primary_asset pa ON pa.collection = c.collection AND pa.item_id = c.item_id
      |LEFT JOIN href h ON h.collection = c.collection AND h.item_id = c.item_id""".stripMargin

  // --------------------------------------------------------- flagship

  /** Flagship on sf0.001: geocode the pages, shelve them into tiles via the
    * exactly-one PIP join, and report per-tile counts. Exercises the spine:
    * scan → geocode → cell index → spatial join → aggregate.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val pts = Pages.fromDocuments(spark, dir)
    PipJoin.shelve(pts, Pages.tiles(spark), "doc_id", "lon", "lat", "tile_name", "ring")
      .groupBy("tile_name").agg(count(lit(1)).as("n_pages"))
  }

  // ---------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- geocoding / cell index (P12, S4-analog)
    "q_geocode" -> ((s, dir) =>
      Pages.fromDocuments(s, dir).select(
        col("doc_id"), col("url"),
        // epoch seconds, not raw timestamps: parquet timestamp physical
        // encodings differ between engines; the instant is what matters
        col("warc_ts").cast("long").as("warc_epoch"),
        col("lonm"), col("latm"), col("lon"), col("lat"),
        Cells.geocellCol(col("lon"), col("lat")).as("geocell"))),

    // --- per-geocell index counts (A1 + P12; the index_setsm spine)
    "q_geocell_counts" -> ((s, dir) =>
      Pages.fromDocuments(s, dir)
        .withColumn("geocell", Cells.geocellCol(col("lon"), col("lat")))
        .groupBy("geocell").agg(
          count(lit(1)).as("n"),
          countDistinct(col("lang")).as("n_langs"))),

    // --- scaled variant over lineitem-derived pages (shuffle discipline)
    "q_li_geocell_counts" -> ((s, dir) =>
      Pages.fromLineitem(s, dir)
        .withColumn("geocell", Cells.geocellCol(col("lon"), col("lat")))
        .groupBy("geocell").agg(count(lit(1)).as("n"))),

    // --- J2: exactly-one-tile PIP shelve join
    "q_pip_shelve" -> ((s, dir) => {
      PipJoin.shelve(Pages.fromDocuments(s, dir), Pages.tiles(s),
          "doc_id", "lon", "lat", "tile_name", "ring")
        .select(col("doc_id"), col("tile_name"))
    }),

    // --- the J2 LEFT theta join via the PipJoinRewrite OUTER rewrite: the
    // rule turns the `points LEFT JOIN tiles ON graft_st_contains(...)`
    // nested-loop shape into the cell equi-join with the whole refine in the
    // join condition, so unmatched points null-extend exactly once — the SQL
    // surface of the shelve plan (RewriteSpec proves plan + equivalence).
    "q_pip_left" -> ((s, dir) => {
      // a graft Session carries the rule with the graft_* functions; a
      // session built without the extensions (Verify's) gets the rule here,
      // appended so that the session's other rules stay
      if (!s.catalog.functionExists("graft_st_contains") &&
          !s.experimental.extraOptimizations.contains(PipJoinRewrite))
        s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ PipJoinRewrite
      Pages.fromDocuments(s, dir)
        .join(Pages.tiles(s),
          CellExpressions.st_contains(col("ring"), col("lon"), col("lat")), "left")
        .select(col("doc_id"), col("tile_name"))
    }),

    // --- graft kNN join: expanding-ring exact k nearest neighbors.
    // Level is density-auto-picked (KnnJoin.pickLevel): the result is exact
    // at any level, but the cost is not — a hardcoded level dies under skew
    // at scale (BENCH.md: 483 s vs 108 s at 600k points on the level alone).
    "q_knn" -> ((s, dir) => {
      val pts = Pages.fromDocuments(s, dir)
      KnnJoin.knnAuto(s, pts, pts, "doc_id", "doc_id", k = 5)
        .withColumn("rn", col("rn").cast("long"))
    }),

    // --- tiling + per-tile coverage stats (A5/A10/A11 analog)
    "q_tile_coverage" -> ((s, dir) =>
      Tiling.coverageStats(Pages.fromDocuments(s, dir), step = 10)
        .withColumn("sum_chars", col("sum_chars").cast("long"))),

    // --- J3: canonical scene selection (group-max version key)
    "q_canonical_scene" -> ((s, dir) =>
      Canonical.sceneMaster(Ladder.scenes(s, dir))
        .select(col("scenedemid"), col("stripdemid"), col("location"))),

    // --- J5: staging dedup (anti-join + min(location||index_date))
    "q_staging_dedup" -> ((s, dir) =>
      Canonical.stagingDedup(Ladder.staging(s, dir), Ladder.tape(s, dir))
        .select(col("scenedemid"), col("stripdemid"), col("is_dsp"),
          col("location"), col("index_date"))),

    // --- U1: scene_dem_all = tape UNION ALL deduped staging
    "q_scene_all" -> ((s, dir) =>
      Canonical.sceneAll(Ladder.tape(s, dir), Ladder.staging(s, dir))
        .select(col("scenedemid"), col("stripdemid"), col("is_dsp"), col("location"))),

    // --- J8: canonical strip (latest ver → int-array s2s max → non-LSF)
    "q_canonical_strip" -> ((s, dir) =>
      Canonical.stripMaster(Ladder.strips(s, dir))
        .select(col("dem_id"), col("stripdemid"), col("s2s_ver"), col("is_lsf"))),

    // --- A7: gen-time span per strip
    "q_gentime_span" -> ((s, dir) =>
      Canonical.gentimeSpan(Ladder.scenes(s, dir))
        .select(col("stripdemid"), col("is_dsp"),
          col("gen_time_min").cast("long").as("gen_min_epoch"),
          col("gen_time_max").cast("long").as("gen_max_epoch"))),

    // --- J1: broadcast region-lookup left join
    "q_region_join" -> ((s, dir) => {
      val pages = Pages.fromDocuments(s, dir)
      val dim = Tables.read(s, dir, "nation")
        .filter(col("n_nationkey") < 20)
        .select(col("n_nationkey"), col("n_name").as("region_name"))
      pages.withColumn("nk", (col("doc_id") % 25).cast("int"))
        .join(broadcast(dim), col("nk") === col("n_nationkey"), "left")
        .select(col("doc_id"), col("region_name"))
    }),

    // --- text: token counting
    "q_token_count" -> ((s, dir) =>
      TextOps.tokenCounts(Tables.read(s, dir, "documents"))),

    // --- text: quality scoring
    "q_quality" -> ((s, dir) =>
      TextOps.qualityScore(Tables.read(s, dir, "documents"))),

    // --- text: language id heuristic
    "q_langid" -> ((s, dir) =>
      TextOps.langId(Tables.read(s, dir, "documents"))),

    // --- text: document fingerprint
    "q_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(Tables.read(s, dir, "documents"))),

    // --- dedup: exact (hash groupBy)
    "q_dedup_exact" -> ((s, dir) =>
      TextOps.dedupExact(Tables.read(s, dir, "documents"))),

    // --- dedup: MinHash LSH band signatures
    "q_minhash_bands" -> ((s, dir) =>
      TextOps.minhashBands(Tables.read(s, dir, "documents"))),

    // --- dedup: MinHash LSH candidate pairs (band bucket equi-join)
    "q_minhash_pairs" -> ((s, dir) =>
      TextOps.minhashPairs(Tables.read(s, dir, "documents"))),

    // --- dedup: SimHash signatures
    "q_simhash" -> ((s, dir) =>
      TextOps.simhash(Tables.read(s, dir, "documents"))),

    // --- dedup: n-gram Jaccard near-dup pairs
    "q_jaccard_pairs" -> ((s, dir) =>
      TextOps.jaccardPairs(Tables.read(s, dir, "documents"), 0.2)),

    // --- dedup: SimHash near-dup pairs (pigeonhole multi-index, exact
    // hamming verify — completes the simhash family's pair path)
    "q_simhash_pairs" -> ((s, dir) =>
      TextOps.simhashPairs(Tables.read(s, dir, "documents"), maxHamming = 3)),

    // --- dedup: cluster resolution — connected components (alternating
    // star contraction) over the MinHash candidate pairs; every doc gets a
    // cluster_id (= min doc_id in its component), singletons included
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      TextOps.dupClusters(docs, TextOps.minhashPairs(docs))
    }),

    // --- dedup: representative selection — one survivor per duplicate
    // cluster, the highest-quality doc (ties → lowest doc_id)
    "q_dedup_keep" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      TextOps.keepBest(docs, TextOps.minhashPairs(docs))
    }),

    // --- text: cross-doc boilerplate n-grams (global-frequency cleaning —
    // shingles in ≥ minDf distinct docs are chrome/footer content)
    "q_boilerplate" -> ((s, dir) =>
      TextOps.boilerplate(Tables.read(s, dir, "documents"), minDf = 5)),

    // --- text: end-to-end corpus curation (cluster representative ∧ quality
    // ∧ boilerplate ∧ language — the full selection a corpus build ships)
    "q_corpus_select" -> ((s, dir) =>
      TextOps.corpusSelect(Tables.read(s, dir, "documents"))),

    // --- text: benchmark decontamination (every 50th doc stands in as the
    // eval set; overlap = shared distinct 3-shingles)
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      TextOps.decontaminate(docs, docs.filter(col("doc_id") % 50 === 0), minOverlap = 2)
    }),

    // --- text: deterministic hash sampling (corpus-mixing weights)
    "q_sample_mix" -> ((s, dir) =>
      TextOps.sampleMix(Tables.read(s, dir, "documents"),
        Map("en" -> 0.5, "de" -> 0.25))),

    // --- text: per-language token-budget fill (running prefix-sum cap)
    "q_token_budget" -> ((s, dir) =>
      TextOps.tokenBudget(Tables.read(s, dir, "documents"), budget = 2000L)),

    // --- text: deterministic distributed corpus shuffle (seeded hash order
    // within hash shards — the training-read permutation without a global sort)
    "q_shuffle_shards" -> ((s, dir) =>
      TextOps.shuffleShards(Tables.read(s, dir, "documents"), nShards = 16)),

    // --- text: within-doc repetition signals (Gopher/C4-style quality rules)
    "q_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(Tables.read(s, dir, "documents"))),

    // --- text: PII scrub. The fixture's text is clean, so the query
    // deterministically decorates a third of the docs with an email and a
    // third with an IP + long numeric id first (q_url_normalize precedent),
    // then masks; the oracle mirrors both steps.
    "q_pii_scrub" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val dirty = when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com now")))
        .when(col("doc_id") % 3 === 1,
          concat(col("text"), lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string"),
            lit(" session "), (col("doc_id") + 1000000L).cast("string")))
        .otherwise(col("text"))
      TextOps.piiScrub(docs.select(col("doc_id"), dirty.as("text")))
    }),

    // --- text: fixed-size overlapping context-window chunking
    "q_chunks" -> ((s, dir) =>
      TextOps.chunkWindows(Tables.read(s, dir, "documents"),
        chunkSize = 32, stride = 24)),

    // --- text: sequence packing into fixed-token-budget bins (per lang)
    "q_pack_bins" -> ((s, dir) =>
      TextOps.packBins(Tables.read(s, dir, "documents"), binTokens = 512L)),

    // --- text: URL canonicalization (the dedup key a crawl pipeline uses
    // BEFORE content hashing). The fixture's URLs are uniform, so the query
    // deterministically decorates them with the real-world mess first —
    // tracking params, default/explicit ports, case variants, trailing
    // slashes, fragments — then normalizes; the oracle mirrors both steps.
    "q_url_normalize" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val base = concat(col("lang"), lit("/doc-"), col("doc_id").cast("string"))
      val raw = when(col("doc_id") % 5 === 0,
          concat(lit("HTTP://WWW.Example.org:80/"), base, lit("/?utm_source=feed&b=2&a=1#frag")))
        .when(col("doc_id") % 5 === 1, concat(lit("https://Example.org:443/"), base))
        .when(col("doc_id") % 5 === 2,
          concat(lit("https://sub.example.co.uk/"), base, lit("?gclid=xyz")))
        .when(col("doc_id") % 5 === 3, concat(lit("http://example.org:8080/"), base, lit("/")))
        .otherwise(concat(lit("https://example.org/"), base))
      docs.select(col("doc_id"), raw.as("url_raw"))
        .withColumn("url_norm", UrlOps.normalize(col("url_raw")))
        .withColumn("host", UrlOps.hostOf(col("url_raw")))
        .withColumn("domain", UrlOps.registeredDomain(col("host")))
    }),

    // --- similarity: exact brute-force cosine top-k
    "q_ann_brute" -> ((s, dir) =>
      Ann.bruteTopK(Tables.read(s, dir, "embeddings"), col("vec_id") < 32, k = 5)
        .withColumn("rn", col("rn").cast("long"))),

    // --- similarity: int8 scalar-quantized top-k with exact re-rank (the
    // memory-bandwidth knob: 8x smaller scan, recall bounded by the
    // k·rerank approximate window)
    "q_quant_topk" -> ((s, dir) =>
      Ann.quantTopK(Tables.read(s, dir, "embeddings"), col("vec_id") < 32, k = 5)
        .withColumn("rn", col("rn").cast("long"))),

    // --- similarity: embedding-cosine near-dup pairs
    "q_cosine_pairs" -> ((s, dir) =>
      Ann.cosinePairs(Tables.read(s, dir, "embeddings"), 0.2)),

    // --- similarity: LSH-bucketed near-dup pairs (the scale path for pairs —
    // the embedding analog of q_minhash_pairs; q_cosine_pairs is its brute twin)
    "q_lsh_pairs" -> ((s, dir) =>
      Ann.lshPairs(Tables.read(s, dir, "embeddings"), 0.2)),

    // --- similarity: BANDED LSH near-dup pairs (b×r OR-of-ANDs — the recall
    // knob over q_lsh_pairs' single signature; threshold at the fixture's
    // near-dup tier, recall vs the brute twin measured in BENCH.md)
    "q_lsh_pairs_banded" -> ((s, dir) =>
      Ann.lshPairsBanded(Tables.read(s, dir, "embeddings"), 0.4)),

    // --- similarity: LSH bucket assignment (the scale path)
    "q_lsh_buckets" -> ((s, dir) =>
      Ann.lshBuckets(Tables.read(s, dir, "embeddings"))
        .select(col("vec_id"), col("bucket"))),

    // --- similarity: LSH-bucketed ANN top-k
    "q_lsh_topk" -> ((s, dir) =>
      Ann.lshTopK(Tables.read(s, dir, "embeddings"), col("vec_id") < 32, k = 3)
        .withColumn("rn", col("rn").cast("long"))),

    // --- similarity: IVF cell assignment (deterministic centroids)
    "q_ivf_cells" -> ((s, dir) =>
      Ann.ivfAssign(Tables.read(s, dir, "embeddings"))
        .select(col("vec_id"), col("ivf_cell"))),

    // --- similarity: IVF-probed ANN top-k
    "q_ivf_topk" -> ((s, dir) =>
      Ann.ivfTopK(Tables.read(s, dir, "embeddings"), col("vec_id") < 32, k = 3)
        .withColumn("rn", col("rn").cast("long"))),

    // --- similarity: IVF multi-probe top-k (recall knob: 2 cells per query)
    "q_ivf_multiprobe" -> ((s, dir) =>
      Ann.ivfMultiProbeTopK(Tables.read(s, dir, "embeddings"),
          col("vec_id") < 32, k = 3, nProbe = 2)
        .withColumn("rn", col("rn").cast("long"))),

    // --- events: tumbling-window aggregation
    "q_event_window" -> ((s, dir) =>
      Tables.read(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts").cast("timestamp")).cast("long").as("hr_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))),

    // --- events: json-ish props extraction (S11 analog)
    "q_props_extract" -> ((s, dir) =>
      Tables.read(s, dir, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("long").as("k"))),

    // --- A12: rollup extent (hierarchical bbox/count roll-up)
    "q_rollup_extent" -> ((s, dir) =>
      Pages.fromDocuments(s, dir)
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"),
          min(col("lonm")).as("min_lonm"), max(col("lonm")).as("max_lonm"),
          min(col("latm")).as("min_latm"), max(col("latm")).as("max_latm"))),

    // --- antimeridian split (lib/utils.py:755-838 semantics)
    "q_antimeridian" -> ((s, dir) => {
      val splitUdf = udf((ring: Seq[Double]) =>
        Geom.splitAntimeridian(ring.toArray).map { part =>
          val (minx, miny, maxx, maxy) = Geom.bbox(part)
          (if (minx < 0) "west" else "east", minx, maxx, miny, maxy)
        })
      val fp = Pages.fromDocuments(s, dir)
        .withColumn("x0m", col("lonm") - 400).withColumn("x1m", col("lonm") + 400)
        .withColumn("y0m", col("latm") - 400).withColumn("y1m", col("latm") + 400)
        .filter(col("x1m") > 180000 || col("x0m") < -180000)
        // wrap vertices in integer space, then build the double ring
        .withColumn("wx0", when(col("x0m") < -180000, col("x0m") + 360000).otherwise(col("x0m")) / 1000.0)
        .withColumn("wx1", when(col("x1m") > 180000, col("x1m") - 360000).otherwise(col("x1m")) / 1000.0)
        .withColumn("y0", col("y0m") / 1000.0).withColumn("y1", col("y1m") / 1000.0)
      fp.select(col("doc_id"), explode(splitUdf(array(
          col("wx0"), col("y0"), col("wx1"), col("y0"),
          col("wx1"), col("y1"), col("wx0"), col("y1")))).as("p"))
        .select(col("doc_id"), col("p._1").as("part"),
          col("p._2").as("x0"), col("p._3").as("x1"),
          col("p._4").as("y0"), col("p._5").as("y1"))
    }),

    // --- multimodal: binary column + stub feature extraction
    "q_mm_features" -> ((s, dir) =>
      Pages.fromDocuments(s, dir).select(
        col("doc_id"), col("url"),
        length(col("html")).cast("long").as("byte_len"),
        sha2(col("text"), 256).as("text_sha"))),

    // --- multimodal: batched stub decode over the binary column
    "q_mm_decode" -> ((s, dir) =>
      graft.mm.Multimodal.decodeBatches(s, Pages.fromDocuments(s, dir))
        .toDF().select(col("url"), col("byte_len"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))),

    // --- multimodal: frame sampling (one row per fixed-stride frame slice)
    "q_mm_frames" -> ((s, dir) =>
      graft.mm.Multimodal.sampleFrames(Pages.fromDocuments(s, dir))),

    // --- J9/A12: STAC-analog item documents + catalog tree rollup
    "q_stac_items" -> ((s, dir) =>
      graft.ops.StacDocs.itemDocs(Pages.fromDocuments(s, dir))),

    "q_stac_tree" -> ((s, dir) =>
      graft.ops.StacDocs.treeRollup(Pages.fromDocuments(s, dir))),

    // --- O5: zero-padded version keys + s2s release mapping
    "q_verkey" -> ((s, dir) => {
      val semver = concat((lit(3) + col("o_orderkey") % 2).cast("string"), lit("."),
        (col("o_orderkey") % 5).cast("string"), lit("."),
        (col("o_orderkey") % 11).cast("string"))
      val s2s = when(col("o_orderkey") % 4 === 0, "3")
        .when(col("o_orderkey") % 4 === 1, "4")
        .when(col("o_orderkey") % 4 === 2, "4.2").otherwise("4.10")
      Tables.read(s, dir, "orders").select(col("o_orderkey").as("okey"),
        graft.parse.Versions.verkeyCol(semver).as("verkey"),
        graft.parse.Versions.s2sReleaseCol(s2s).as("release_ver"))
    }),

    // --- P7: dsp dual-record expansion (1 or 2 records per scene)
    "q_dsp_expand" -> ((s, dir) =>
      Ladder.scenes(s, dir)
        .withColumn("rec_mode", explode(array(lit("dsp"), lit("orig"))))
        .filter(col("rec_mode") === "dsp" || col("is_dsp"))
        .withColumn("status",
          when(col("rec_mode") === "orig", "tape").otherwise("online"))
        .select(col("scenedemid"), col("stripdemid"), col("rec_mode"), col("status"))),

    // --- P11 + U5: FULL release-fields conversion (rename map overwrites
    // ACQDATE1/2 with the average acq times; drop list is the computed
    // schema set-difference — ReleaseFields scaladoc)
    "q_release_fields" -> ((s, dir) => {
      val k = expr("CAST(substring(dem_id, 3) AS BIGINT)")
      val rec = Ladder.strips(s, dir).select(
        col("dem_id").as("DEM_ID"), col("stripdemid").as("STRIPDEMID"),
        col("pairname").as("PAIRNAME"), col("geocell").as("GEOCELL"),
        col("s2s_ver").as("S2S_VER"),
        when(k % 2 === 0, 2.0).otherwise(8.0).as("DEM_RES"),
        concat(lit("SETSM 4."), (k % 13).cast("string")).as("ALGM_VER"),
        concat(lit("2023-01-"), lpad((lit(1) + k % 28).cast("string"), 2, "0")).as("ACQDATE1"),
        concat(lit("2023-02-"), lpad((lit(1) + k % 28).cast("string"), 2, "0")).as("ACQDATE2"),
        concat(lit("2024-"), lpad((lit(1) + k % 12).cast("string"), 2, "0"),
          lit("-15T10:00:00")).as("AVGACQTM1"),
        concat(lit("2024-"), lpad((lit(1) + k % 12).cast("string"), 2, "0"),
          lit("-16T11:00:00")).as("AVGACQTM2"),
        ((k % 180) - 90 + 0.5).as("CENT_LAT"),
        ((k % 360) - 180 + 0.5).as("CENT_LON"),
        concat(lit("/loc"), (k % 3).cast("string")).as("LOCATION"),
        concat(lit("2024-01-"), lpad((lit(1) + k % 28).cast("string"), 2, "0")).as("INDEX_DATE"),
        (k % 100 / 8.0).as("FILESZ_DEM"),
        (k % 9 / 4.0).as("RMSE"))
      graft.ops.ReleaseFields.toRelease(rec)
    }),

    // --- P9: the full custom-path template family (BP/PGC≡BW/CSS × scene/strip)
    "q_custom_paths" -> ((s, dir) => {
      import graft.jobs.IndexJob.CustomPaths
      val k = col("o_orderkey")
      val pairname = concat(lit("WV0"), (lit(1) + k % 3).cast("string"), lit("_"),
        (lit(2015) + k % 9).cast("string"), lpad((lit(1) + k % 12).cast("string"), 2, "0"),
        lit("15_"), lpad(k.cast("string"), 16, "0"), lit("_"),
        lpad((k + 1).cast("string"), 16, "0"))
      val resStr = when(k % 2 === 0, "2m").otherwise("50cm")
      val resDir = when(k % 7 === 0, concat(resStr, lit("_dsp"))).otherwise(resStr)
      val groupId = concat(lit("G"), k.cast("string"))
      val srcfn = concat(groupId, lit("_meta.txt"))
      val region = when(k % 3 === 0, "arcticdem_01_iceland")
        .when(k % 3 === 1, "rema_02_ross").otherwise("earthdem_03_utah")
      val bpRegion = when(k % 3 === 0, "arceas-05")
        .when(k % 3 === 1, "anteas-02").otherwise("nplnam-07")
      val releaseVer = concat(lit("s2s04"), (lit(1) + k % 2).cast("string"))
      val s2sVersion = concat(lit("4."), (lit(1) + k % 2).cast("string"))
      val pfx = lit("/pfx")
      Tables.read(s, dir, "orders").select(k.as("okey"),
        CustomPaths.bp("scene", pfx, pairname, resStr, resDir, groupId, bpRegion).as("bp_scene"),
        CustomPaths.pgc("scene", pfx, region, resDir, groupId, srcfn, releaseVer).as("pgc_scene"),
        CustomPaths.css("scene", pfx, pairname, resDir, groupId, srcfn, s2sVersion).as("css_scene"),
        CustomPaths.bp("strip", pfx, pairname, resStr, resDir, groupId, bpRegion).as("bp_strip"),
        CustomPaths.pgc("strip", pfx, region, resDir, groupId, srcfn, releaseVer).as("pgc_strip"),
        CustomPaths.css("strip", pfx, pairname, resDir, groupId, srcfn, s2sVersion).as("css_strip"))
    }),

    // --- S6 parser differential: strip meta render → parse → extract (header
    // title version, key: value header, alignment row, scene blocks incl. the
    // scene_name splitext and Output Projection special cases)
    "q_strip_meta_parse" -> ((s, dir) => {
      val k = col("o_orderkey")
      val meta = concat(
        lit("Strip Metadata (v2."), (k % 5).cast("string"), lit(")\n"),
        lit("Creation Date: 2024-02-"), lpad((lit(1) + k % 28).cast("string"), 2, "0"), lit("\n"),
        lit("SC"), k.cast("string"), lit("_s1.tif 0."), (k % 10).cast("string"), lit(" 0.1 -0.2\n"),
        lit("Scene Metadata\n"),
        lit("scene 1=SC"), k.cast("string"), lit("_s1.tif\n"),
        lit("Image 1=img_"), k.cast("string"), lit(".tif\n"),
        lit("Output Projection='+proj=longlat +a="), (k % 100).cast("string"), lit(" +b=2'\n"),
        lit("scene 2=SC"), k.cast("string"), lit("_s2.tif\n"),
        lit("Image 1=img2_"), k.cast("string"), lit(".tif"))
      // two-step select (round 6): the parsed struct is a NON-COLLAPSIBLE
      // alias, so the parse UDF runs once per row — the single-projection
      // form planned SEVEN copies of the UDF call (one per extracted field;
      // plan-level CSE does not merge them, plans/r06/q_strip_meta_parse)
      val sm = graft.parse.MetaParsers.stripMetaUdf(meta)
      val parsed = Tables.read(s, dir, "orders").select(k.as("okey"), sm.as("__sm"))
      val h = col("__sm").getField("header")
      val sc = col("__sm").getField("scenes")
      val al = col("__sm").getField("alignment")
      parsed.select(col("okey"),
        try_element_at(h, lit("s2s_version")).as("s2s_ver"),
        try_element_at(h, lit("Creation Date")).as("cr_date"),
        try_element_at(try_element_at(al,
          concat(lit("SC"), col("okey").cast("string"), lit("_s1"))), lit(1)).as("align_dz"),
        try_element_at(try_element_at(sc, lit(1)), lit("scene_name")).as("scene1_name"),
        try_element_at(try_element_at(sc, lit(1)), lit("Image 1")).as("scene1_img"),
        try_element_at(try_element_at(sc, lit(1)), lit("Output Projection")).as("scene1_proj"),
        try_element_at(try_element_at(sc, lit(2)), lit("scene_name")).as("scene2_name"))
    }),

    // --- A8: DISTINCT projection
    "q_distinct_strips" -> ((s, dir) =>
      Ladder.scenes(s, dir).select("stripdemid", "is_dsp").distinct()),

    // --- A3: RMSE mean with the -1 / -9999 sentinel ladder
    "q_rmse" -> ((s, dir) => {
      val aligns = Tables.read(s, dir, "lineitem").select(col("l_orderkey").as("gid"),
        when(col("l_orderkey") % 97 === 0, -2.0)
          .when(col("l_linenumber") % 3 === 0, 0.0)
          .otherwise(col("l_linenumber") / 4.0).as("scene_rmse"))
      graft.ops.SceneStats.rmse(aligns, "gid")
    }),

    // --- A4 + O4: epoch-mean acquisition time + deterministic first pick
    "q_acq_mean" -> ((s, dir) => {
      val scenes = Tables.read(s, dir, "lineitem").select(col("l_orderkey").as("gid"),
        col("l_shipdate").cast("timestamp").as("acq_ts"),
        col("l_linenumber").as("scene_idx"))
      // deterministic first pick: the fixture has duplicate scene_idx per
      // group, so a bare min_by tie-breaks arbitrarily; encode (idx, epoch)
      // as one integer key and decode the epoch back
      scenes.groupBy("gid").agg(
        round(avg(col("acq_ts").cast("double")), 4).as("avg_epoch"),
        (min(col("scene_idx") * 10000000000L + col("acq_ts").cast("long"))
          % 10000000000L).as("first_epoch"))
    }),

    // --- A2: group means over nullable metrics
    "q_group_means" -> ((s, dir) => {
      val scenes = Tables.read(s, dir, "lineitem").select(col("l_orderkey").as("gid"),
        when(col("l_linenumber") % 2 === 0, col("l_quantity")).as("conv_angle"),
        col("l_discount").as("exp_height_acc"),
        when(col("l_linenumber") % 3 === 0, col("l_tax")).as("sun_el1"),
        lit(null).cast("double").as("sun_el2"))
      graft.ops.SceneStats.groupMeans(scenes, "gid")
        // round: partial-aggregation add order may differ from the oracle's
        .select(col("gid"), round(col("avg_conv_angle"), 6).as("avg_conv_angle"),
          round(col("avg_exp_height_acc"), 6).as("avg_exp_height_acc"),
          round(col("avg_sun_el1"), 6).as("avg_sun_el1"),
          col("avg_sun_el2"))
    }),

    // --- J7: noncanonical scenes (anti-join vs the canonical master)
    "q_noncanonical" -> ((s, dir) => {
      val scenes = Ladder.scenes(s, dir)
      val masterKeys = Canonical.sceneMaster(scenes)
        .select("stripdemid", "is_dsp").distinct()
      scenes.join(masterKeys, Seq("stripdemid", "is_dsp"), "left_anti")
        .select("scenedemid", "stripdemid", "is_dsp")
    }),

    // --- P14: multi-format datetime normalization via try-parse coalesce
    "q_date_normalize" -> ((s, dir) => {
      val str = when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "dd/MM/yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
      Tables.read(s, dir, "orders").select(col("o_orderkey").as("okey"), str.as("raw"),
        coalesce(
          try_to_timestamp(str, lit("dd/MM/yyyy")),
          try_to_timestamp(str, lit("yyyy-MM-dd")),
          try_to_timestamp(str, lit("yyyy-MM-dd HH:mm:ss")))
          .cast("long").as("norm_epoch"))
    }),

    // --- P4 + S16 + A14: packaging quality filter + per-item manifest
    // (package_setsm.py:23-25 thresholds; tar content as manifest rows)
    "q_package_manifest" -> ((s, dir) => {
      val items = Tables.read(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("item_id"),
        (col("l_quantity") * 2).as("valid_area"),
        (col("l_discount") + 0.01).as("masked_density"),
        col("l_extendedprice").as("filesz"))
      items
        .filter(col("valid_area") >= 16.0 && col("masked_density") >= 0.05)
        .select(col("item_id"),
          concat(lit("pkg/"), col("item_id").cast("string"), lit(".tar.gz")).as("archive"),
          (col("filesz") / 1024.0).as("filesz_gb"),
          concat_ws(",",
            concat(col("item_id").cast("string"), lit("_dem.tif")),
            concat(col("item_id").cast("string"), lit("_meta.txt"))).as("contents"))
    }),

    // --- batch sessionization (SQL twin of streaming.EventStream.sessionize)
    "q_sessionize" -> ((s, dir) => {
      val ev = Tables.read(s, dir, "events")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("te"), col("value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("te")
      val gapped = ev
        .withColumn("prev", lag(col("te"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || col("te") - col("prev") > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      gapped.groupBy("user_id", "sess_id").agg(
        min(col("te")).as("start_epoch"), max(col("te")).as("end_epoch"),
        count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
    }),

    // --- hex cell assignment (cell_hex; the H3-analog ring-expandable grid)
    // pure column math (HexGrid.hexCol) — no UDF on the cell-encode path
    "q_hex_cells" -> ((s, dir) =>
      Pages.fromDocuments(s, dir)
        .select(col("doc_id"),
          graft.cells.HexGrid.hexCol(col("lon"), col("lat"), 2.0).as("cell_hex"))),

    // --- J6/U2: strip_dem_all (staging UNION ALL tape-only NOT-EXISTS)
    "q_strip_all" -> ((s, dir) =>
      Canonical.stripAll(Ladder.stripStaging(s, dir), Ladder.stripTape(s, dir))
        .select(col("dem_id"), col("stripdemid"), col("s2s_ver"),
          col("is_lsf"), col("status"))),

    // --- J8 over U2: the full strip pipeline — canonicalize strip_dem_all
    // (the reference feeds strip_dem_master FROM strip_dem_all)
    "q_strip_master_all" -> ((s, dir) =>
      Canonical.stripMaster(
          Canonical.stripAll(Ladder.stripStaging(s, dir), Ladder.stripTape(s, dir)))
        .select(col("dem_id"), col("stripdemid"), col("s2s_ver"),
          col("is_lsf"), col("status"))),

    // --- J4: deprecation-flag left join on the canonical master
    "q_depr_flag" -> ((s, dir) =>
      Canonical.withDeprFlag(Canonical.sceneMaster(Ladder.scenes(s, dir)),
          Ladder.deprecated(s, dir))
        .select(col("scenedemid"), col("stripdemid"), col("is_depr"))),

    // --- J10/S18: semi-join item fetch (temp id list ⋉ item table). The id
    // list is built independently of the item table (the reference loads a
    // temp table of requested ids) so the assembly pipeline runs once.
    "q_item_fetch" -> ((s, dir) => {
      val items = graft.ops.StacDocs.itemAssembly(
        Ladder.release(s, dir),
        Canonical.stripAll(Ladder.stripStaging(s, dir), Ladder.stripTape(s, dir)),
        Ladder.assetInfo(s, dir))
      val idList = Ladder.release(s, dir)
        .filter(col("license") === "public" &&
          expr("CAST(substring(dem_id, 3) AS BIGINT) % 17 = 0"))
        .select(concat(col("project"), lit("-strips-s2s041-2m")).as("collection"),
          col("dem_id").as("item_id"))
      items.join(broadcast(idList), Seq("collection", "item_id"), "left_semi")
        .select(col("collection"), col("item_id"))
    }),

    // --- J9: real STAC item assembly (multi-way composite-key left joins)
    "q_stac_assembly" -> ((s, dir) =>
      graft.ops.StacDocs.itemAssembly(
        Ladder.release(s, dir),
        Canonical.stripAll(Ladder.stripStaging(s, dir), Ladder.stripTape(s, dir)),
        Ladder.assetInfo(s, dir))),

    // --- U3: static items = strip items UNION ALL mosaic items
    "q_stac_union" -> ((s, dir) =>
      graft.ops.StacDocs.staticItems(
        graft.ops.StacDocs.itemAssembly(
          Ladder.release(s, dir),
          Canonical.stripAll(Ladder.stripStaging(s, dir), Ladder.stripTape(s, dir)),
          Ladder.assetInfo(s, dir)),
        graft.ops.StacDocs.mosaicDocs(Pages.fromDocuments(s, dir)))),

    // --- A11 full semantics: per-tile component id list + acq date span
    "q_tile_components" -> ((s, dir) =>
      Tiling.tileComponents(Pages.fromDocuments(s, dir))),

    // --- O1/O2: deterministic sorted catalog children
    "q_stac_children" -> ((s, dir) =>
      graft.ops.StacDocs.orderedChildren(Pages.fromDocuments(s, dir), cap = 5)),

    // --- P2: completeness predicate over file-size arrays
    "q_complete" -> ((s, dir) => {
      val k = col("o_orderkey")
      val demSizes = array(
        when(k % 7 =!= 0, k % 5), lit(null).cast("long"), k % 3)
      val reqSizes = array(
        k % 4 + 1, when(k % 11 === 0, 0L).otherwise(3L),
        when(k % 13 === 0, lit(null).cast("long")).otherwise(lit(2L)))
      val optSizes = array(when(k % 6 === 0, 0L).otherwise(lit(null).cast("long")))
      Tables.read(s, dir, "orders").select(k.as("okey"),
        graft.ops.Inclusion.isComplete(demSizes, reqSizes, optSizes).as("is_complete"))
    }),

    // --- skew: salted hot-key join == plain join (semantics oracle; the
    // timing evidence lives in BENCH.md). The two hot geocells
    // hold 20% of rows by construction (graft.pages.Pages scaladoc).
    "q_salted_join" -> ((s, dir) => {
      val pages = Pages.fromLineitem(s, dir)
        .withColumn("geocell", Cells.geocellCol(col("lon"), col("lat")))
        .select("page_id", "geocell")
      val dim = pages.select("geocell").distinct()
        .withColumn("attr", length(col("geocell")).cast("long"))
      graft.ops.SkewJoin.saltedJoin(pages, dim, "geocell",
          hot = Seq("n51e012"), saltFactor = 8, saltSource = col("page_id"))
        .groupBy("geocell")
        .agg(count(lit(1)).as("n"), max(col("attr")).as("max_attr"))
    }),

    // --- S7 parser differential: parse(render(fields)) == fields. The meta
    // text is rendered from order columns, parsed by the real scene-meta
    // parser, and the extracted fields must equal the oracle's direct
    // computation — if the parser mangles anything, the hash diverges.
    "q_meta_parse" -> ((s, dir) => {
      val k = col("o_orderkey")
      val meta = concat(
        lit("Image 1=img_"), k.cast("string"), lit(".tif\n"),
        lit("Group Version=SETSM "), (lit(3) + k % 2).cast("string"),
        lit("."), (k % 5).cast("string"), lit("\n"),
        lit("Output Projection='+proj=longlat +a="), (k % 100).cast("string"),
        lit(" +b=2'\n"),
        lit("Creation Date=2024-01-"), lpad((lit(1) + k % 28).cast("string"), 2, "0"))
      // two-step select: one parse per row (see q_strip_meta_parse)
      val m = graft.parse.MetaParsers.sceneMetaUdf(meta)
      Tables.read(s, dir, "orders").select(k.as("okey"), m.as("__m"))
        .select(col("okey"),
          try_element_at(col("__m"), lit("Image 1")).as("image1"),
          try_element_at(col("__m"), lit("Group Version")).as("group_version"),
          try_element_at(col("__m"), lit("Output Projection")).as("out_proj"),
          try_element_at(col("__m"), lit("Creation Date")).as("cr_date"))
    }),

    // --- S8 parser differential: nested BEGIN_GROUP/END_GROUP mdf doc
    "q_mdf_parse" -> ((s, dir) => {
      val k = col("o_orderkey")
      val mdf = concat(
        lit("BEGIN_GROUP = IMAGE_1\n"),
        lit("  satId = \"WV0"), (lit(1) + k % 3).cast("string"), lit("\";\n"),
        lit("  meanSunEl = "), (k % 90).cast("string"), lit(";\n"),
        lit("END_GROUP = IMAGE_1\n"),
        lit("version = \"28."), (k % 4).cast("string"), lit("\";"))
      // two-step select: one parse per row (see q_strip_meta_parse)
      val m = graft.parse.MetaParsers.mdfUdf(mdf)
      Tables.read(s, dir, "orders").select(k.as("okey"), m.as("__m"))
        .select(col("okey"),
          try_element_at(col("__m"), lit("IMAGE_1_satId")).as("sat_id"),
          try_element_at(col("__m"), lit("IMAGE_1_meanSunEl")).as("mean_sun_el"),
          try_element_at(col("__m"), lit("version")).as("version"))
    }),

    // --- S11: from_json record source (schema-typed JSON decode)
    "q_from_json" -> ((s, dir) => {
      val k = col("o_orderkey")
      val js = concat(lit("{\"a\": "), k % 97, lit(", \"b\": \"v"),
        (k % 13).cast("string"), lit("\", \"nest\": {\"c\": "), k % 7, lit("}}"))
      val parsed = from_json(js, org.apache.spark.sql.types.StructType.fromDDL(
        "a BIGINT, b STRING, nest STRUCT<c: BIGINT>"))
      Tables.read(s, dir, "orders").select(k.as("okey"), parsed.getField("a").as("a"),
        parsed.getField("b").as("b"), parsed.getField("nest").getField("c").as("c"))
    }),

    // --- S5: scaled-int band read (scale/offset except at nodata)
    "q_scaled_band" -> ((s, dir) => {
      val raw = transform(col("embedding"), x => round(x.cast("double") * 1000).cast("long"))
      val scaled = transform(raw, v => when(v =!= 0L, v * 2 + 5))
      Tables.read(s, dir, "embeddings").select(col("vec_id"),
        aggregate(scaled, lit(0L), (acc, v) => acc + coalesce(v, lit(0L))).as("band_sum"),
        size(filter(scaled, v => v.isNull)).cast("long").as("n_nodata"))
    }),

    // --- P10: generic URL template substitution — the reference's
    // release_fileurl/release_s3url <placeholder> replace chain
    // (index_setsm.py:1072-1091) as a codegen replace chain
    "q_url_template" -> ((s, dir) => {
      val k = col("o_orderkey")
      val tmpl = lit("https://data.example.org/<project>/<type>/<version>/<resolution>/<group>/<dem_id>.json")
      val project = when(k % 3 === 0, "arcticdem").when(k % 3 === 1, "rema")
        .otherwise("earthdem")
      val version = concat(lit("s2s04"), (lit(1) + k % 2).cast("string"))
      val res = when(k % 2 === 0, "2m").otherwise("50cm")
      val grp = concat(lit("n"), lpad((k % 90).cast("string"), 2, "0"),
        lit("w"), lpad((k % 180).cast("string"), 3, "0"))
      val demId = concat(lit("SETSM_s2s041_WV01_"), k.cast("string"))
      Tables.read(s, dir, "orders").select(k.as("okey"),
        graft.ops.UrlTemplate.fileUrl(tmpl, project, "strip", version, res, grp, demId)
          .as("fileurl"),
        graft.ops.UrlTemplate.s3Url(tmpl, project, "strip", version, res, grp, demId)
          .as("s3url"))
    }),

    // --- S9 parser differential: reg.txt render → parse → fields
    // (lib/dem.py:1126-1144); field values chosen /8, /4, /2, /16 so the
    // double → string → double round trip is exact in binary
    "q_reg_parse" -> ((s, dir) => {
      val k = col("o_orderkey")
      // two-step select: one parse per row (see q_strip_meta_parse)
      val m = graft.parse.MetaParsers.regUdf(regText(k))
      Tables.read(s, dir, "orders").select(k.as("okey"), m.as("__m"))
        .select(col("okey"),
          try_element_at(col("__m"), lit("dz")).as("dz"),
          try_element_at(col("__m"), lit("dx")).as("dx"),
          try_element_at(col("__m"), lit("dy")).as("dy"),
          try_element_at(col("__m"), lit("num_gcps")).cast("long").as("num_gcps"),
          try_element_at(col("__m"), lit("mean_resid_z")).as("mean_resid_z"))
    }),

    // --- S9 → geometry: registration APPLY — the parsed translation vector
    // shifts the geotransform origin / extent and the DEM values
    // (apply_setsm_registration.py:182-258)
    "q_reg_apply" -> ((s, dir) => {
      val k = col("o_orderkey")
      // three-step select (round 6): the parse UDF and the shifted-extent
      // struct are each a non-collapsible alias, so the parser runs once per
      // row and the extent math once — the single-projection form planned a
      // UDF copy under every extracted field of every struct reference
      val m = graft.parse.MetaParsers.regUdf(regText(k))
      val s1 = Tables.read(s, dir, "orders").select(k.as("okey"), m.as("__m"))
      val ok = col("okey")
      val ext = graft.ops.Registration.shiftedExtent(
        (ok % 360).cast("double") - 180.0, (ok % 170).cast("double") - 85.0,
        try_element_at(col("__m"), lit("dx")), try_element_at(col("__m"), lit("dy")),
        (lit(1000) + ok % 500).cast("double"), (lit(1200) + ok % 400).cast("double"),
        lit(2.0), lit(-2.0))
      s1.select(ok, col("__m"), ext.as("__ext"))
        .select(ok,
          col("__ext").getField("minx").as("minx"), col("__ext").getField("miny").as("miny"),
          col("__ext").getField("maxx").as("maxx"), col("__ext").getField("maxy").as("maxy"),
          graft.ops.Registration.shiftedZ((lit(100) + ok % 50).cast("double"),
            try_element_at(col("__m"), lit("dz"))).as("z_reg"))
    }),

    // --- S10: density cache THROUGH the snapshot layer — first-ever call
    // computes + commits, later calls (same fingerprint) return the
    // committed snapshot; the skip itself is asserted in IceliteSpec, the
    // round-tripped values are oracle-checked here. STABLE cache root (one
    // table per sf dir, reused across invocations — no /tmp leak; bench's
    // timed pass measures the cache-HIT path, which is the operator);
    // the fingerprint folds in the whole derivation's oracle SQL (pages CTE
    // + geocell formula + mask threshold + density math — the oracle IS the
    // computation's spec) AND the input files' Tables.stamp, so either a
    // logic change or regenerated data invalidates the cache instead of
    // serving stale rows against a fresh oracle
    "q_density_cache" -> ((s, dir) => {
      val pages = Pages.fromDocuments(s, dir)
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft-density-cache").toString
      def md5(x: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => "%02x".format(b)).mkString.take(12)
      val fp = s"pages:$dir:${md5(oracleSql("q_density_cache"))}:" +
        md5(Tables.stamp(dir, "documents"))
      graft.ops.Tiling.densityCached(s, pages, root, fp)
    }),

    // --- model/ schema families: the scene ladder conformed onto the
    // reference's DECLARED 35-col scene layer (graft.model.Schemas.scene ←
    // lib/utils.py:333-380) — declared names, declared order, absent
    // attributes as typed NULLs. Timestamps emitted as epoch BIGINTs for
    // oracle parity; SchemasSpec asserts the un-projected conform schema
    // (types + width/precision metadata) field-for-field.
    "q_index_schema" -> ((s, dir) => {
      val conformed = graft.model.Schemas.conform(
        Ladder.scenes(s, dir), graft.model.Schemas.scene)
      conformed.select(conformed.schema.fields.map { f =>
        f.dataType match {
          case org.apache.spark.sql.types.TimestampType =>
            col(f.name).cast("long").as(f.name.toLowerCase)
          case _ => col(f.name).as(f.name.toLowerCase)
        }
      }.toSeq: _*)
    }),

    // --- generalized n×m subtile subdivision (attic/divide_setsm_tiles.py
    // :305-328): same supertile step, 3×5 equal boxes instead of the 2×2
    // quartering — exercises the non-square grid the reference's
    // num_rows/num_cols args allow.
    "q_subtile_grid" -> ((s, dir) =>
      Tiling.subtileStats(Pages.fromDocuments(s, dir), step = 10, nRows = 3, nCols = 5)
        .withColumn("sum_chars", col("sum_chars").cast("long"))),

    // --- ASP record flow (lib/dem.py:1635-1680 AspDem): render an ASP dem
    // filename from order arithmetic, parse it with the REAL asp_strip
    // pattern (the regex IS the spec, lib/dem.py:99-104), and project the
    // parse into the overlap-family fields (OVERLAP = stripid = fn[:-8],
    // ALGM_VER = 'ASP', acqdate = strptime(timestamp)). Differential: the
    // oracle recomputes every field directly — a parser mangle diverges the
    // hash. Pure regexp_extract column expressions, codegen, no UDF.
    "q_asp_index" -> ((s, dir) => {
      val k = col("o_orderkey")
      val fn = concat(
        lit("WV0"), (lit(1) + k % 3).cast("string"), lit("_"),
        lit("202401"), lpad((lit(1) + k % 28).cast("string"), 2, "0"), lit("_"),
        lpad((k % 100000).cast("string"), 16, "0"), lit("_"),
        lpad(((k * 7) % 100000).cast("string"), 16, "0"), lit("_"),
        (lit(1) + k % 8).cast("string"), lit("m-dem.tif"))
      val pat = graft.parse.MetaParsers.Patterns.asp.pattern.pattern()
      // round 6: ONE matcher pass extracts every group (regexp_groups kernel,
      // group-for-group regexp_extract semantics) instead of six
      // regexp_extract calls each re-running the full match per row; the
      // two-step select keeps the array a non-collapsible alias so the
      // kernel evaluates once
      val g = org.apache.spark.sql.graft.TextExpressions.regexp_groups(fn, pat)
      Tables.read(s, dir, "orders").select(k.as("okey"), fn.as("__fn"), g.as("__g"))
        .select(col("okey"),
          element_at(col("__g"), 1).as("pairname"),
          element_at(col("__g"), 2).as("sensor"),
          to_date(element_at(col("__g"), 3), "yyyyMMdd").cast("string").as("acqdate"),
          element_at(col("__g"), 4).as("catalogid1"),
          element_at(col("__g"), 5).as("catalogid2"),
          regexp_replace(element_at(col("__g"), 6), "m$", "").cast("double").as("dem_res"),
          lit("ASP").as("algm_ver"),
          regexp_replace(col("__fn"), "-dem\\.tif$", "").as("overlap"),
          lit(0).as("status"))
    })
  )

  /** Rendered reg.txt body shared by q_reg_parse / q_reg_apply (field values
    * exact in binary so render → parse round-trips bit-for-bit). */
  private def regText(k: Column): Column = concat(
    lit("SETSM registration\n"),
    lit("Translation Vector (dz,dx,dy)(m)= "),
    ((k % 19).cast("double") / 8.0 - 1.0).cast("string"), lit(", "),
    ((k % 23).cast("double") / 4.0 - 2.0).cast("string"), lit(", "),
    ((k % 17).cast("double") / 2.0 - 4.0).cast("string"), lit("\n"),
    lit("Mean Vertical Residual (m)= "),
    ((k % 13).cast("double") / 16.0).cast("string"), lit("\n"),
    lit("# GCPs= "), (k % 40).cast("string"))

  // -------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] = Map(
    "q_geocode" -> withCtes(
      s"""SELECT doc_id, url,
         |       1704067200 + doc_id AS warc_epoch,
         |       lonm, latm, lon, lat, $geocellSql AS geocell
         |FROM pages""".stripMargin, Pages.docPagesCte),

    "q_geocell_counts" -> withCtes(
      s"""SELECT $geocellSql AS geocell, CAST(count(*) AS BIGINT) AS n,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM pages GROUP BY 1""".stripMargin, Pages.docPagesCte),

    "q_li_geocell_counts" -> withCtes(
      s"""SELECT $geocellSql AS geocell, CAST(count(*) AS BIGINT) AS n
         |FROM pages GROUP BY 1""".stripMargin, Pages.lineitemPagesCte),

    "q_pip_shelve" -> withCtes(
      """SELECT doc_id, tile_name FROM (
        |  SELECT p.doc_id, t.tile_name,
        |         count(*) OVER (PARTITION BY p.doc_id) AS nt
        |  FROM pages p JOIN tiles t
        |    ON p.lon >= t.x0 AND p.lon <= t.x1 AND p.lat >= t.y0 AND p.lat <= t.y1
        |) WHERE nt = 1""".stripMargin, Pages.docPagesCte, Pages.tilesCte),

    // Semantically `pages LEFT JOIN tiles ON containment`, but written as
    // candidate-generation + EQUI-joins: DuckDB 1.0.0's multithreaded outer
    // IEJoin can livelock (reproduced in this sandbox: the plain LEFT
    // theta-join form spins at 100% CPU when run on a warm multi-query
    // connection with threads >= 8, while the same SQL completes in <1 s on
    // a fresh connection). Grid candidates come from the point's 3x3
    // neighborhood of 15-degree grid columns/rows (inclusive bounds put a
    // boundary point in up to 4 tiles; the containment recheck against the
    // tiles CTE's own bounds drops spurious neighbors), the two HOT tiles
    // are constant candidates, and null-extension is a doc_id equi-join.
    "q_pip_left" -> withCtes(
      """SELECT p.doc_id, m.tile_name
        |FROM pages p LEFT JOIN (
        |  SELECT c.doc_id, t.tile_name
        |  FROM (
        |    SELECT p2.doc_id, p2.lon, p2.lat,
        |           'T' || CAST((CAST(FLOOR((p2.lat + 90.0) / 15.0) AS INTEGER) + d.dy) * 24
        |                     + (CAST(FLOOR((p2.lon + 180.0) / 15.0) AS INTEGER) + d.dx) AS VARCHAR) AS cname
        |    FROM pages p2 CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) d(dx,dy)
        |    WHERE CAST(FLOOR((p2.lon + 180.0) / 15.0) AS INTEGER) + d.dx BETWEEN 0 AND 23
        |      AND CAST(FLOOR((p2.lat + 90.0) / 15.0) AS INTEGER) + d.dy BETWEEN 0 AND 11
        |    UNION ALL
        |    SELECT p2.doc_id, p2.lon, p2.lat, h.cname
        |    FROM pages p2 CROSS JOIN (VALUES ('HOT_A'),('HOT_B')) h(cname)
        |  ) c JOIN tiles t ON c.cname = t.tile_name
        |  WHERE c.lon >= t.x0 AND c.lon <= t.x1 AND c.lat >= t.y0 AND c.lat <= t.y1
        |) m ON p.doc_id = m.doc_id""".stripMargin,
      Pages.docPagesCte, Pages.tilesCte),

    "q_knn" -> withCtes(
      """SELECT query_id, neighbor_id, dist2, rn FROM (
        |  SELECT query_id, neighbor_id, dist2,
        |         row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id) AS rn
        |  FROM (
        |    SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
        |           least(abs(a.lonm - b.lonm), 360000 - abs(a.lonm - b.lonm)) *
        |           least(abs(a.lonm - b.lonm), 360000 - abs(a.lonm - b.lonm)) +
        |           (a.latm - b.latm) * (a.latm - b.latm) AS dist2
        |    FROM pages a JOIN pages b ON a.doc_id <> b.doc_id
        |  )
        |) WHERE rn <= 5""".stripMargin, Pages.docPagesCte),

    "q_tile_coverage" -> withCtes(
      """SELECT CAST(CAST(floor(lat / 10) AS INT) AS VARCHAR) || '_' ||
        |       CAST(CAST(floor(lon / 10) AS INT) AS VARCHAR) AS supertile,
        |       CAST(CAST(floor((lat / 10 - floor(lat / 10)) * 2) + 1 AS INT) AS VARCHAR) || '_' ||
        |       CAST(CAST(floor((lon / 10 - floor(lon / 10)) * 2) + 1 AS INT) AS VARCHAR) AS quartertile,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(*) / 25.0 AS density
        |FROM pages GROUP BY 1, 2""".stripMargin, Pages.docPagesCte),

    "q_canonical_scene" -> withCtes(
      """SELECT a.scenedemid, a.stripdemid, a.location
        |FROM scenes a
        |JOIN (SELECT substr(b.stripdemid, 1, length(b.stripdemid) - 8) AS strip_nover,
        |             max(b.stripdemid) AS strip_max, b.is_dsp
        |      FROM (SELECT DISTINCT stripdemid, is_dsp FROM scenes) b
        |      GROUP BY strip_nover, b.is_dsp) c
        |  ON a.stripdemid = c.strip_max AND a.is_dsp = c.is_dsp
        |WHERE a.is_dsp = false""".stripMargin, Ladder.scenesCte),

    "q_staging_dedup" -> withCtes(
      """SELECT scenedemid, stripdemid, is_dsp, location, index_date FROM (
        |  SELECT s.*,
        |         row_number() OVER (PARTITION BY s.scenedemid, s.stripdemid, s.is_dsp
        |                            ORDER BY s.location || s.index_date) AS rn
        |  FROM staging s
        |  WHERE NOT EXISTS (SELECT 1 FROM tape t
        |                    WHERE t.scenedemid = s.scenedemid
        |                      AND t.stripdemid = s.stripdemid
        |                      AND t.is_dsp = s.is_dsp)
        |) WHERE rn = 1""".stripMargin, Ladder.scenesCte, Ladder.tapeCte, Ladder.stagingCte),

    "q_scene_all" -> withCtes(
      """SELECT scenedemid, stripdemid, is_dsp, location FROM tape
        |UNION ALL
        |SELECT scenedemid, stripdemid, is_dsp, location FROM (
        |  SELECT s.*,
        |         row_number() OVER (PARTITION BY s.scenedemid, s.stripdemid, s.is_dsp
        |                            ORDER BY s.location || s.index_date) AS rn
        |  FROM staging s
        |  WHERE NOT EXISTS (SELECT 1 FROM tape t
        |                    WHERE t.scenedemid = s.scenedemid
        |                      AND t.stripdemid = s.stripdemid
        |                      AND t.is_dsp = s.is_dsp)
        |) WHERE rn = 1""".stripMargin, Ladder.scenesCte, Ladder.tapeCte, Ladder.stagingCte),

    "q_canonical_strip" -> withCtes(
      """SELECT dem_id, stripdemid, s2s_ver, is_lsf FROM (
        |  SELECT *,
        |    max(stripdemid) OVER (PARTITION BY substr(stripdemid, 1, length(stripdemid) - 8)) AS strip_max,
        |    max(s2s_key) OVER (PARTITION BY stripdemid) AS s2s_max,
        |    min(CAST(is_lsf AS INT)) OVER (PARTITION BY stripdemid, s2s_ver) AS min_lsf
        |  FROM (SELECT *,
        |          array_to_string(list_transform(string_split(s2s_ver, '.'), p -> lpad(p, 4, '0')), '.') AS s2s_key
        |        FROM strips)
        |) WHERE stripdemid = strip_max AND s2s_key = s2s_max AND CAST(is_lsf AS INT) = min_lsf""".stripMargin,
      Ladder.stripsCte),

    "q_gentime_span" -> withCtes(
      """SELECT stripdemid, is_dsp,
        |       CAST(epoch(min(least(gen_time1, gen_time2))) AS BIGINT) AS gen_min_epoch,
        |       CAST(epoch(max(greatest(gen_time1, gen_time2))) AS BIGINT) AS gen_max_epoch
        |FROM scenes GROUP BY stripdemid, is_dsp""".stripMargin, Ladder.scenesCte),

    "q_region_join" -> withCtes(
      """SELECT p.doc_id, d.region_name
        |FROM pages p
        |LEFT JOIN (SELECT n_nationkey, n_name AS region_name FROM nation
        |           WHERE n_nationkey < 20) d
        |  ON p.doc_id % 25 = d.n_nationkey""".stripMargin, Pages.docPagesCte),

    "q_token_count" -> withCtes(
      """SELECT doc_id, CAST(len(t) AS BIGINT) AS n_ws_tokens,
        |       CAST(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM toks""".stripMargin, toksCte),

    "q_quality" -> withCtes(
      """SELECT *, round(stopword_ratio * 2.0 - punct_ratio * 5.0 +
        |         CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END, 6) AS quality_score
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS text_len,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(t, w -> w IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE) / len(t) AS stopword_ratio,
        |    CAST(length(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / length(text) AS punct_ratio,
        |    CAST(length(text) - (len(t) - 1) AS DOUBLE) / len(t) AS avg_token_len
        |  FROM toks
        |)""".stripMargin, toksCte),

    "q_langid" -> withCtes(
      s"""SELECT doc_id,
         |  $predLangSql AS pred_lang,
         |  CAST(m AS BIGINT) AS score
         |FROM ($langScoresSql)""".stripMargin, toksCte),

    "q_fingerprint" -> withCtes(
      s"""SELECT doc_id, md5(text) AS content_hash,
         |       list_min(list_transform(
         |         list_transform(range(1, len(t) - 1),
         |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
         |         sg -> ${h32sql("sg")})) AS fp_min
         |FROM toks""".stripMargin, toksCte),

    "q_dedup_exact" ->
      """SELECT doc_id, md5(text) AS content_hash,
        |       CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_size,
        |       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
        |       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
        |FROM documents""".stripMargin,

    "q_minhash_bands" -> withCtes(
      "SELECT doc_id, band, band_key FROM bands", minhashBandCtes: _*),

    "q_minhash_pairs" -> withCtes(
      "SELECT doc_a, doc_b FROM pairs", minhashPairCtes: _*),

    "q_dedup_clusters" -> withRecursiveCtes(
      """SELECT doc_id, cluster_id,
        |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM cl""".stripMargin, clusterCtes: _*),

    "q_boilerplate" -> withCtes(
      "SELECT doc_id, n_sh, n_boiler, boiler_ratio FROM br",
      (Seq(toksCte, shinglesCte) ++ boilerRatioCtes): _*),

    "q_corpus_select" -> withRecursiveCtes(
      """SELECT k.doc_id, k.cluster_id, CAST(k.n_docs AS BIGINT) AS n_docs,
        |       k.quality_score, br.boiler_ratio, l.pred_lang
        |FROM keepb k
        |JOIN lng l ON l.doc_id = k.doc_id
        |JOIN br ON br.doc_id = k.doc_id
        |WHERE k.quality_score >= 1.1
        |  AND (br.boiler_ratio IS NULL OR br.boiler_ratio <= 0.05)
        |  AND l.pred_lang IN ('en')""".stripMargin,
      (clusterCtes ++ Seq(qualCte, keepbCte, lngCte) ++ boilerRatioCtes): _*),

    "q_sample_mix" ->
      s"""SELECT doc_id, lang, sample_key FROM (
         |  SELECT doc_id, lang,
         |         ${h32sql("'mix1:' || CAST(doc_id AS VARCHAR)")} % 1000 AS sample_key,
         |         CASE WHEN lang = 'en' THEN 500
         |              WHEN lang = 'de' THEN 250
         |              ELSE 100 END AS rate
         |  FROM documents)
         |WHERE sample_key < rate""".stripMargin,

    "q_token_budget" -> withCtes(
      """SELECT doc_id, lang, n_tokens, running_tokens FROM (
        |  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
        |         CAST(sum(len(t)) OVER (PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS running_tokens
        |  FROM toks)
        |WHERE running_tokens <= 2000""".stripMargin, toksCte),

    "q_shuffle_shards" ->
      s"""SELECT doc_id, shard, sort_key,
         |       CAST(row_number() OVER (PARTITION BY shard
         |             ORDER BY sort_key, doc_id) AS BIGINT) AS pos
         |FROM (SELECT doc_id,
         |             ${h32sql("'shuf1:' || CAST(doc_id AS VARCHAR)")} % 16 AS shard,
         |             ${h32sql("'shuf1:' || CAST(doc_id AS VARCHAR)")} AS sort_key
         |      FROM documents)""".stripMargin,

    "q_repetition" -> withCtes(
      """SELECT d.doc_id,
        |       CAST(coalesce(a1.n, 0) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(a1.d, 0) AS BIGINT) AS n_distinct,
        |       CASE WHEN a1.n > 0 THEN round(1.0 - a1.d / CAST(a1.n AS DOUBLE), 6) END AS dup_frac,
        |       CASE WHEN a1.n > 0 THEN round(a1.m / CAST(a1.n AS DOUBLE), 6) END AS top_token_frac,
        |       CASE WHEN a2.nb > 0 THEN round(a2.mb / CAST(a2.nb AS DOUBLE), 6) END AS top_bigram_frac
        |FROM documents d
        |LEFT JOIN a1 USING (doc_id)
        |LEFT JOIN a2 USING (doc_id)""".stripMargin,
      toksCte,
      "c1 AS (SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1, 2)",
      "a1 AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS m FROM c1 GROUP BY 1)",
      "bg AS (SELECT doc_id, list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b FROM toks)",
      "c2 AS (SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(b) AS w FROM bg) GROUP BY 1, 2)",
      "a2 AS (SELECT doc_id, sum(c) AS nb, max(c) AS mb FROM c2 GROUP BY 1)"),

    "q_pii_scrub" -> withCtes(
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(s0, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(s1, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ips,
         |       CAST(len(regexp_extract_all(s2, '${TextOps.LongNumRe}')) AS BIGINT) AS n_nums,
         |       regexp_replace(s2, '${TextOps.LongNumRe}', '<NUM>', 'g') AS clean_text
         |FROM s2t""".stripMargin,
      """dirty AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
        |      WHEN 1 THEN text || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |                  CAST(doc_id % 100 AS VARCHAR) || ' session ' || CAST(doc_id + 1000000 AS VARCHAR)
        |      ELSE text
        |    END AS s0
        |  FROM documents)""".stripMargin,
      s"s1t AS (SELECT doc_id, s0, regexp_replace(s0, '${TextOps.EmailRe}', '<EMAIL>', 'g') AS s1 FROM dirty)",
      s"s2t AS (SELECT doc_id, s0, s1, regexp_replace(s1, '${TextOps.Ipv4Re}', '<IP>', 'g') AS s2 FROM s1t)"),

    "q_chunks" -> withCtes(
      """SELECT doc_id, chunk_id, CAST(len(c) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(c, ' ') AS chunk_text
        |FROM (SELECT doc_id, i AS chunk_id, t[(i*24 + 1):(i*24 + 32)] AS c FROM ch)""".stripMargin,
      toksCte,
      "nc AS (SELECT doc_id, t, 1 + greatest(0, CAST(ceil((len(t) - 32) / 24.0) AS BIGINT)) AS n FROM toks)",
      "ch AS (SELECT doc_id, unnest(range(0, n)) AS i, t FROM nc)"),

    "q_pack_bins" -> withCtes(
      """SELECT lang, bin_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        |FROM (SELECT lang,
        |             CAST(floor((running - n_tokens) / CAST(512 AS DOUBLE)) AS BIGINT) AS bin_id,
        |             n_tokens
        |      FROM runs)
        |GROUP BY 1, 2""".stripMargin,
      toksCte,
      """runs AS (SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
        |         CAST(sum(len(t)) OVER (PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
        |         FROM toks)""".stripMargin),

    "q_decontaminate" -> withCtes(
      """SELECT d.doc_id,
        |       coalesce(pd.n_bench_hits, 0) AS n_bench_hits,
        |       coalesce(pd.max_overlap, 0) AS max_overlap,
        |       coalesce(pd.n_bench_hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin,
      toksCte, shinglesCte,
      s"""exd AS (SELECT DISTINCT doc_id, ${h32sql("sg")} AS s
         |        FROM (SELECT doc_id, unnest(s) AS sg FROM sh))""".stripMargin,
      "bxd AS (SELECT doc_id AS bench_id, s FROM exd WHERE doc_id % 50 = 0)",
      """pp AS (SELECT e.doc_id, b.bench_id, count(*) AS overlap
        |       FROM exd e JOIN bxd b USING (s)
        |       GROUP BY e.doc_id, b.bench_id
        |       HAVING count(*) >= 2)""".stripMargin,
      """pd AS (SELECT doc_id, count(*) AS n_bench_hits, max(overlap) AS max_overlap
        |       FROM pp GROUP BY doc_id)""".stripMargin),

    "q_url_normalize" -> withCtes(
      """SELECT doc_id, url_raw,
        |  CASE WHEN scheme = '' THEN url_raw ELSE
        |    scheme || '://' || host ||
        |    CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |              AND NOT (scheme = 'https' AND port = '443')
        |         THEN ':' || port ELSE '' END ||
        |    path || CASE WHEN q <> '' THEN '?' || q ELSE '' END END AS url_norm,
        |  host,
        |  CASE WHEN len(hl) >= 3 AND (hl[-2] || '.' || hl[-1]) IN ('co.uk','com.au','co.jp','com.br','co.in')
        |         THEN hl[-3] || '.' || hl[-2] || '.' || hl[-1]
        |       WHEN len(hl) >= 2 THEN hl[-2] || '.' || hl[-1]
        |       ELSE host END AS domain
        |FROM (SELECT *, string_split(host, '.') AS hl FROM parts)""".stripMargin,
      """u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN 'HTTP://WWW.Example.org:80/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&b=2&a=1#frag'
        |      WHEN 1 THEN 'https://Example.org:443/' || lang || '/doc-' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN 'https://sub.example.co.uk/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) || '?gclid=xyz'
        |      WHEN 3 THEN 'http://example.org:8080/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) || '/'
        |      ELSE 'https://example.org/' || lang || '/doc-' || CAST(doc_id AS VARCHAR)
        |    END AS url_raw
        |  FROM documents)""".stripMargin,
      """parts AS (
        |  SELECT doc_id, url_raw,
        |    lower(regexp_extract(url_raw, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(lower(regexp_extract(url_raw, '^[^:]+://([^/?#]*)', 1)), ':[0-9]+$', ''), '^www\.', '') AS host,
        |    regexp_extract(url_raw, '^[^:]+://[^/?#]*:([0-9]+)', 1) AS port,
        |    regexp_replace(regexp_extract(url_raw, '^[^:]+://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
        |    array_to_string(list_sort(list_filter(string_split(regexp_extract(url_raw, '\?([^#]*)', 1), '&'),
        |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid)(=|$)'))), '&') AS q
        |  FROM u)""".stripMargin),

    "q_dedup_keep" -> withRecursiveCtes(
      """SELECT cluster_id, doc_id AS keep_id, quality_score AS keep_quality,
        |       CAST(n_docs AS BIGINT) AS n_docs
        |FROM keepb""".stripMargin,
      (clusterCtes ++ Seq(qualCte, keepbCte)): _*),

    "q_simhash" -> {
      val votes = (0 until TextOps.SimhashBits)
        .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v_$i")
        .mkString(",\n         ")
      val sim = (0 until TextOps.SimhashBits)
        .map(i => s"CASE WHEN v_$i > 0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
      withCtes(s"SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM v",
        toksCte,
        s"""hv AS (SELECT doc_id, ${h60sql("wd")} AS h
           |       FROM (SELECT doc_id, unnest(t) AS wd FROM toks))""".stripMargin,
        s"""v AS (SELECT doc_id,
           |        $votes
           |      FROM hv GROUP BY doc_id)""".stripMargin)
    },

    "q_simhash_pairs" -> {
      val votes = (0 until TextOps.SimhashBits)
        .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v_$i")
        .mkString(",\n         ")
      val sim = (0 until TextOps.SimhashBits)
        .map(i => s"CASE WHEN v_$i > 0 THEN ${1L << i} ELSE 0 END")
        .mkString(" + ")
      val blocks = 4 // maxHamming 3 + 1
      val blockBits = TextOps.SimhashBits / blocks
      val keyCols = (0 until blocks)
        .map(b => s"(simhash >> ${b * blockBits}) & ${(1L << blockBits) - 1} AS b$b")
        .mkString(", ")
      val anyBlock = (0 until blocks).map(b => s"a.b$b = b.b$b").mkString(" OR ")
      withCtes(
        s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM keys a JOIN keys b ON a.doc_id < b.doc_id AND ($anyBlock)
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
        toksCte,
        s"""hv AS (SELECT doc_id, ${h60sql("wd")} AS h
           |       FROM (SELECT doc_id, unnest(t) AS wd FROM toks))""".stripMargin,
        s"""v AS (SELECT doc_id,
           |        $votes
           |      FROM hv GROUP BY doc_id)""".stripMargin,
        s"sims AS (SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM v)",
        s"keys AS (SELECT doc_id, simhash, $keyCols FROM sims)")
    },

    "q_jaccard_pairs" -> withCtes(
      """SELECT doc_a, doc_b, n_inter,
        |       CAST(na.n_sh AS BIGINT) AS n_a, CAST(nb.n_sh AS BIGINT) AS n_b,
        |       CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) AS jaccard
        |FROM pairs
        |JOIN szs na ON na.doc_id = doc_a
        |JOIN szs nb ON nb.doc_id = doc_b
        |WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.2""".stripMargin,
      toksCte, shinglesCte,
      s"""ex AS (SELECT DISTINCT doc_id, ${h32sql("sg")} AS sg
         |       FROM (SELECT doc_id, unnest(s) AS sg FROM sh))""".stripMargin,
      "szs AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id)",
      """pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
        |  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)""".stripMargin),

    "q_quant_topk" -> withCtes(
      s"""SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT query_id, neighbor_id, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
         |  FROM (
         |    SELECT query_id, neighbor_id,
         |           CAST(${dotSql("qem", "em")} AS DOUBLE) /
         |           sqrt(CAST(qn2 * n2 AS DOUBLE)) AS cos_sim
         |    FROM (
         |      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id) AS rn8
         |      FROM (
         |        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |               ${dotSql("q.q8", "v.q8")} * q.mx * v.mx AS approx,
         |               v.em AS em, v.n2 AS n2, q.em AS qem, q.n2 AS qn2
         |        FROM q8v v JOIN q8v q ON v.vec_id <> q.vec_id
         |        WHERE q.vec_id < 32
         |      )
         |    ) WHERE rn8 <= 20
         |  )
         |) WHERE rn <= 5""".stripMargin, embCte,
      """q8v AS (
        |  SELECT vec_id, em, n2, mx,
        |         list_transform(em, x -> CAST(round(x * 127.0 / mx) AS BIGINT)) AS q8
        |  FROM (SELECT vec_id, em, n2,
        |               greatest(list_max(list_transform(em, x -> abs(x))), 1) AS mx
        |        FROM emn))""".stripMargin),

    "q_ann_brute" -> withCtes(
      s"""SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT query_id, neighbor_id, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
         |  FROM (
         |    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |           CAST(${dotSql("q.em", "v.em")} AS DOUBLE) /
         |           sqrt(CAST(q.n2 * v.n2 AS DOUBLE)) AS cos_sim
         |    FROM emn q JOIN emn v ON v.vec_id <> q.vec_id
         |    WHERE q.vec_id < 32
         |  )
         |) WHERE rn <= 5""".stripMargin, embCte),

    "q_cosine_pairs" -> withCtes(
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       CAST(${dotSql("a.em", "b.em")} AS DOUBLE) /
         |       sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cos_sim
         |FROM emn a JOIN emn b ON a.vec_id < b.vec_id
         |WHERE CAST(${dotSql("a.em", "b.em")} AS DOUBLE) /
         |      sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) >= 0.2""".stripMargin, embCte),

    "q_lsh_pairs_banded" -> withCtes(
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       CAST(${dotSql("a.em", "b.em")} AS DOUBLE) /
         |       sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cos_sim
         |FROM bk a JOIN bk b ON a.vec_id < b.vec_id
         |  AND (${(0 until Ann.PairBands).map(i => s"a.k$i = b.k$i").mkString(" OR ")})
         |WHERE CAST(${dotSql("a.em", "b.em")} AS DOUBLE) /
         |      sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) >= 0.4""".stripMargin,
      embCte,
      s"bk AS (SELECT vec_id, em, n2, ${(0 until Ann.PairBands).map(i =>
        s"CAST(${bandKeySql(i)} AS BIGINT) AS k$i").mkString(", ")} FROM emn)"),

    "q_lsh_buckets" -> {
      withCtes(s"SELECT vec_id, CAST($lshTermsSql AS BIGINT) AS bucket FROM emn", embCte)
    },

    "q_lsh_pairs" -> withCtes(
      s"""SELECT p.vec_id AS id_a, q.vec_id AS id_b,
         |       CAST(${dotSql("p.em", "q.em")} AS DOUBLE) /
         |       sqrt(CAST(p.n2 * q.n2 AS DOUBLE)) AS cos_sim
         |FROM b p JOIN b q ON p.bucket = q.bucket AND p.vec_id < q.vec_id
         |WHERE CAST(${dotSql("p.em", "q.em")} AS DOUBLE) /
         |      sqrt(CAST(p.n2 * q.n2 AS DOUBLE)) >= 0.2""".stripMargin,
      embCte,
      s"b AS (SELECT vec_id, em, n2, CAST($lshTermsSql AS BIGINT) AS bucket FROM emn)"),

    "q_lsh_topk" -> withCtes(
      s"""SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT query_id, neighbor_id, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
         |  FROM (
         |    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |           CAST(${dotSql("q.em", "v.em")} AS DOUBLE) /
         |           sqrt(CAST(q.n2 * v.n2 AS DOUBLE)) AS cos_sim
         |    FROM b q JOIN b v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
         |    WHERE q.vec_id < 32
         |  )
         |) WHERE rn <= 3""".stripMargin,
      embCte,
      s"b AS (SELECT vec_id, em, n2, CAST($lshTermsSql AS BIGINT) AS bucket FROM emn)"),

    "q_ivf_cells" -> withCtes(
      "SELECT vec_id, ivf_cell FROM ivfc", embCte, ivfCte),

    "q_ivf_topk" -> withCtes(
      s"""SELECT query_id, neighbor_id, cos_sim, rn FROM (
         |  SELECT query_id, neighbor_id, cos_sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
         |  FROM (
         |    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |           CAST(${dotSql("q.em", "v.em")} AS DOUBLE) /
         |           sqrt(CAST(q.n2 * v.n2 AS DOUBLE)) AS cos_sim
         |    FROM ivfc q JOIN ivfc v ON v.ivf_cell = q.ivf_cell AND v.vec_id <> q.vec_id
         |    WHERE q.vec_id < 32
         |  )
         |) WHERE rn <= 3""".stripMargin,
      embCte, ivfCte),

    "q_ivf_multiprobe" -> {
      val dotsList = (0 until Ann.IvfCells).map(c => s"d_$c").mkString(", ")
      withCtes(
        s"""SELECT query_id, neighbor_id, cos_sim, rn FROM (
           |  SELECT query_id, neighbor_id, cos_sim,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
           |  FROM (
           |    SELECT q.query_id, v.vec_id AS neighbor_id,
           |           CAST(${dotSql("q.qem", "v.em")} AS DOUBLE) /
           |           sqrt(CAST(q.qn2 * v.n2 AS DOUBLE)) AS cos_sim
           |    FROM pr q JOIN ivfc v ON v.ivf_cell = q.pcell AND v.vec_id <> q.query_id
           |  )
           |) WHERE rn <= 3""".stripMargin,
        embCte, ivfCte,
        s"""probe AS (SELECT vec_id AS query_id, em AS qem, n2 AS qn2,
           |                 CAST(unnest(range(0, ${Ann.IvfCells})) AS BIGINT) AS pcell,
           |                 unnest([$dotsList]) AS d
           |          FROM ivfd WHERE vec_id < 32)""".stripMargin,
        """pr AS (SELECT query_id, qem, qn2, pcell FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d DESC, pcell) AS prn
          |  FROM probe) WHERE prn <= 2)""".stripMargin)
    },

    "q_event_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr_epoch, event_type,
        |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_props_extract" ->
      """SELECT event_id, CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k
        |FROM events""".stripMargin,

    "q_rollup_extent" -> withCtes(
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
        |       min(lonm) AS min_lonm, max(lonm) AS max_lonm,
        |       min(latm) AS min_latm, max(latm) AS max_latm
        |FROM pages GROUP BY ROLLUP(source, lang)""".stripMargin, Pages.docPagesCte),

    "q_antimeridian" -> withCtes(
      """SELECT doc_id, 'east' AS part,
        |       CASE WHEN x1m > 180000 THEN x0m / 1000.0 ELSE (x0m + 360000) / 1000.0 END AS x0,
        |       180.0 AS x1, y0m / 1000.0 AS y0, y1m / 1000.0 AS y1
        |FROM fp WHERE x1m > 180000 OR x0m < -180000
        |UNION ALL
        |SELECT doc_id, 'west' AS part,
        |       -180.0 AS x0,
        |       CASE WHEN x1m > 180000 THEN (x1m - 360000) / 1000.0 ELSE x1m / 1000.0 END AS x1,
        |       y0m / 1000.0 AS y0, y1m / 1000.0 AS y1
        |FROM fp WHERE x1m > 180000 OR x0m < -180000""".stripMargin,
      Pages.docPagesCte,
      """fp AS (SELECT doc_id, lonm - 400 AS x0m, lonm + 400 AS x1m,
        |              latm - 400 AS y0m, latm + 400 AS y1m FROM pages)""".stripMargin),

    "q_mm_features" -> withCtes(
      """SELECT doc_id, url,
        |       CAST(octet_length(encode('<html><body>' || text || '</body></html>')) AS BIGINT) AS byte_len,
        |       sha256(text) AS text_sha
        |FROM pages""".stripMargin, Pages.docPagesCte),

    // html is the UTF-8 encoding of the wrapper string, so md5(string) here
    // equals Spark's md5(binary html); digest byte i = hex chars 2i+1..2i+2
    "q_mm_decode" -> withCtes(
      """SELECT url,
        |       CAST(octet_length(encode(h)) AS BIGINT) AS byte_len,
        |       'html' AS kind,
        |       64 + ('0x' || substr(md5(h), 17, 2))::BIGINT % 64 AS width,
        |       64 + ('0x' || substr(md5(h), 19, 2))::BIGINT % 64 AS height
        |FROM (SELECT url, '<html><body>' || text || '</body></html>' AS h FROM pages)""".stripMargin,
      Pages.docPagesCte),

    "q_mm_frames" -> withCtes(
      s"""SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
         |       ${h32sql("substr(h, CAST(i * 64 + 1 AS INT), 64)")} AS frame_hash
         |FROM (SELECT doc_id, h,
         |             least(CAST(ceil(length(h) / 64.0) AS INT), 8) AS n,
         |             unnest(range(0, least(CAST(ceil(length(h) / 64.0) AS INT), 8))) AS i
         |      FROM (SELECT doc_id, '<html><body>' || text || '</body></html>' AS h
         |            FROM pages))""".stripMargin, Pages.docPagesCte),

    "q_stac_items" -> withCtes(
      s"""SELECT doc_id,
         |  concat_ws('/', 'webdem', 'strips', 's2s041', '2m', $geocellSql,
         |            CAST(doc_id AS VARCHAR) || '.json') AS item_key,
         |  to_json(struct_pack(id := url, type := 'Feature',
         |                      geocell := $geocellSql,
         |                      lonm := lonm, latm := latm, lang := lang)) AS doc
         |FROM pages""".stripMargin, Pages.docPagesCte),

    "q_stac_tree" -> withCtes(
      s"""SELECT domain, kind, release, res, geocell,
         |       CAST(count(*) AS BIGINT) AS n_items,
         |       min(lonm) AS x0, min(latm) AS y0, max(lonm) AS x1, max(latm) AS y1
         |FROM (SELECT 'webdem' AS domain, 'strips' AS kind, 's2s041' AS release,
         |             '2m' AS res, $geocellSql AS geocell, lonm, latm FROM pages)
         |GROUP BY ROLLUP(domain, kind, release, res, geocell)""".stripMargin,
      Pages.docPagesCte),

    // pad2(x): pad to 2 but never truncate (mirrors Versions.pad2 / '{:02d}')
    "q_verkey" ->
      """SELECT o_orderkey AS okey,
        |  'v' || CASE WHEN length(CAST(3 + o_orderkey % 2 AS VARCHAR)) >= 2
        |              THEN CAST(3 + o_orderkey % 2 AS VARCHAR)
        |              ELSE lpad(CAST(3 + o_orderkey % 2 AS VARCHAR), 2, '0') END ||
        |         CASE WHEN length(CAST(o_orderkey % 5 AS VARCHAR)) >= 2
        |              THEN CAST(o_orderkey % 5 AS VARCHAR)
        |              ELSE lpad(CAST(o_orderkey % 5 AS VARCHAR), 2, '0') END ||
        |         CASE WHEN length(CAST(o_orderkey % 11 AS VARCHAR)) >= 2
        |              THEN CAST(o_orderkey % 11 AS VARCHAR)
        |              ELSE lpad(CAST(o_orderkey % 11 AS VARCHAR), 2, '0') END AS verkey,
        |  's2s' || lpad(string_split(s2s, '.')[1], 2, '0') ||
        |           coalesce(string_split(s2s, '.')[2], '0') AS release_ver
        |FROM (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 4 = 0 THEN '3'
        |             WHEN o_orderkey % 4 = 1 THEN '4'
        |             WHEN o_orderkey % 4 = 2 THEN '4.2' ELSE '4.10' END AS s2s
        |      FROM orders)""".stripMargin,

    "q_dsp_expand" -> withCtes(
      """SELECT scenedemid, stripdemid, rec_mode,
        |       CASE WHEN rec_mode = 'orig' THEN 'tape' ELSE 'online' END AS status
        |FROM (
        |  SELECT scenedemid, stripdemid, is_dsp, 'dsp' AS rec_mode FROM scenes
        |  UNION ALL
        |  SELECT scenedemid, stripdemid, is_dsp, 'orig' AS rec_mode FROM scenes
        |) WHERE rec_mode = 'dsp' OR is_dsp""".stripMargin, Ladder.scenesCte),

    // survivors of the rename (GSD←DEM_RES, SETSM_VER←ALGM_VER, ACQDATE1/2←
    // AVGACQTM1/2 overwrite) + U5 set-difference drop
    "q_release_fields" -> withCtes(
      """SELECT dem_id AS "DEM_ID", stripdemid AS "STRIPDEMID",
        |       pairname AS "PAIRNAME", geocell AS "GEOCELL", s2s_ver AS "S2S_VER",
        |       '2024-' || lpad(CAST(1 + k % 12 AS VARCHAR), 2, '0') || '-15T10:00:00' AS "ACQDATE1",
        |       '2024-' || lpad(CAST(1 + k % 12 AS VARCHAR), 2, '0') || '-16T11:00:00' AS "ACQDATE2",
        |       k % 9 / 4.0 AS "RMSE",
        |       CASE WHEN k % 2 = 0 THEN 2.0 ELSE 8.0 END AS "GSD",
        |       'SETSM 4.' || CAST(k % 13 AS VARCHAR) AS "SETSM_VER"
        |FROM (SELECT *, CAST(substring(dem_id, 3) AS BIGINT) AS k FROM strips)""".stripMargin,
      Ladder.stripsCte),

    "q_custom_paths" -> withCtes(
      """SELECT okey,
        |  concat_ws('/', '/pfx', 'dem-scenes-' || res_str || '-' || string_split(bp_region, '-')[1],
        |            res_dir, substr(pairname, 1, 4), substr(pairname, 6, 4),
        |            substr(pairname, 10, 2), group_id || '.tar') AS bp_scene,
        |  concat_ws('/', '/pfx', pretty, 'region', region, 'scenes',
        |            res_dir, group_id, srcfn) AS pgc_scene,
        |  concat_ws('/', '/pfx', 'scene', res_dir, substr(pairname, 1, 4),
        |            substr(pairname, 6, 4), substr(pairname, 10, 2), group_id, srcfn) AS css_scene,
        |  concat_ws('/', '/pfx', 'dem-strips-' || substr(bp_region, 1, 3),
        |            res_dir, substr(pairname, 1, 4), substr(pairname, 6, 4),
        |            substr(pairname, 10, 2), group_id || '.tar') AS bp_strip,
        |  concat_ws('/', '/pfx', pretty, 'region', region, release_ver,
        |            res_dir, group_id, srcfn) AS pgc_strip,
        |  concat_ws('/', '/pfx', 'strip', 'strips_v' || s2s_version, res_dir,
        |            substr(pairname, 1, 4), substr(pairname, 6, 4),
        |            substr(pairname, 10, 2), group_id, srcfn) AS css_strip
        |FROM cp""".stripMargin,
      """cp AS (
        |  SELECT o_orderkey AS okey,
        |    'WV0' || CAST(1 + o_orderkey % 3 AS VARCHAR) || '_' ||
        |    CAST(2015 + o_orderkey % 9 AS VARCHAR) ||
        |    lpad(CAST(1 + o_orderkey % 12 AS VARCHAR), 2, '0') || '15_' ||
        |    lpad(CAST(o_orderkey AS VARCHAR), 16, '0') || '_' ||
        |    lpad(CAST(o_orderkey + 1 AS VARCHAR), 16, '0') AS pairname,
        |    CASE WHEN o_orderkey % 2 = 0 THEN '2m' ELSE '50cm' END ||
        |    CASE WHEN o_orderkey % 7 = 0 THEN '_dsp' ELSE '' END AS res_dir,
        |    CASE WHEN o_orderkey % 2 = 0 THEN '2m' ELSE '50cm' END AS res_str,
        |    'G' || CAST(o_orderkey AS VARCHAR) AS group_id,
        |    'G' || CAST(o_orderkey AS VARCHAR) || '_meta.txt' AS srcfn,
        |    CASE CAST(o_orderkey % 3 AS INT)
        |      WHEN 0 THEN 'arcticdem_01_iceland'
        |      WHEN 1 THEN 'rema_02_ross' ELSE 'earthdem_03_utah' END AS region,
        |    CASE CAST(o_orderkey % 3 AS INT)
        |      WHEN 0 THEN 'ArcticDEM' WHEN 1 THEN 'REMA' ELSE 'EarthDEM' END AS pretty,
        |    CASE CAST(o_orderkey % 3 AS INT)
        |      WHEN 0 THEN 'arceas-05' WHEN 1 THEN 'anteas-02' ELSE 'nplnam-07' END AS bp_region,
        |    's2s04' || CAST(1 + o_orderkey % 2 AS VARCHAR) AS release_ver,
        |    '4.' || CAST(1 + o_orderkey % 2 AS VARCHAR) AS s2s_version
        |  FROM orders)""".stripMargin),

    "q_strip_meta_parse" ->
      """SELECT o_orderkey AS okey,
        |  '2.' || CAST(o_orderkey % 5 AS VARCHAR) AS s2s_ver,
        |  '2024-02-' || lpad(CAST(1 + o_orderkey % 28 AS VARCHAR), 2, '0') AS cr_date,
        |  '0.' || CAST(o_orderkey % 10 AS VARCHAR) AS align_dz,
        |  'SC' || CAST(o_orderkey AS VARCHAR) || '_s1' AS scene1_name,
        |  'img_' || CAST(o_orderkey AS VARCHAR) || '.tif' AS scene1_img,
        |  '''+proj=longlat +a=' || CAST(o_orderkey % 100 AS VARCHAR) || ' +b=2''' AS scene1_proj,
        |  'SC' || CAST(o_orderkey AS VARCHAR) || '_s2' AS scene2_name
        |FROM orders""".stripMargin,

    "q_distinct_strips" -> withCtes(
      "SELECT DISTINCT stripdemid, is_dsp FROM scenes", Ladder.scenesCte),

    "q_rmse" -> withCtes(
      """SELECT gid,
        |  CASE WHEN coalesce(r, -1.0) = -2.0 THEN -9999.0 ELSE coalesce(r, -1.0) END AS rmse
        |FROM (SELECT gid, avg(CASE WHEN scene_rmse <> 0 THEN scene_rmse END) AS r
        |      FROM aligns GROUP BY gid)""".stripMargin,
      """aligns AS (SELECT l_orderkey AS gid,
        |  CASE WHEN l_orderkey % 97 = 0 THEN -2.0
        |       WHEN l_linenumber % 3 = 0 THEN 0.0
        |       ELSE l_linenumber / 4.0 END AS scene_rmse FROM lineitem)""".stripMargin),

    "q_acq_mean" ->
      """SELECT l_orderkey AS gid,
        |       round(avg(CAST(epoch_us(l_shipdate) AS DOUBLE) / 1000000.0), 4) AS avg_epoch,
        |       min(l_linenumber * 10000000000 + CAST(epoch(l_shipdate) AS BIGINT)) % 10000000000 AS first_epoch
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q_group_means" ->
      """SELECT l_orderkey AS gid,
        |  round(avg(CASE WHEN l_linenumber % 2 = 0 THEN l_quantity END), 6) AS avg_conv_angle,
        |  round(avg(l_discount), 6) AS avg_exp_height_acc,
        |  round(avg(CASE WHEN l_linenumber % 3 = 0 THEN l_tax END), 6) AS avg_sun_el1,
        |  avg(CAST(NULL AS DOUBLE)) AS avg_sun_el2
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q_noncanonical" -> withCtes(
      """SELECT s.scenedemid, s.stripdemid, s.is_dsp
        |FROM scenes s
        |LEFT JOIN m ON s.stripdemid = m.stripdemid AND s.is_dsp = m.is_dsp
        |WHERE m.stripdemid IS NULL""".stripMargin,
      Ladder.scenesCte,
      """m AS (SELECT DISTINCT a.stripdemid, a.is_dsp
        |      FROM scenes a
        |      JOIN (SELECT substr(b.stripdemid, 1, length(b.stripdemid) - 8) AS strip_nover,
        |                   max(b.stripdemid) AS strip_max, b.is_dsp
        |            FROM (SELECT DISTINCT stripdemid, is_dsp FROM scenes) b
        |            GROUP BY strip_nover, b.is_dsp) c
        |        ON a.stripdemid = c.strip_max AND a.is_dsp = c.is_dsp
        |      WHERE a.is_dsp = false)""".stripMargin),

    "q_date_normalize" ->
      """SELECT okey, raw,
        |  CAST(epoch(coalesce(try_strptime(raw, '%d/%m/%Y'),
        |                      try_strptime(raw, '%Y-%m-%d'),
        |                      try_strptime(raw, '%Y-%m-%d %H:%M:%S'))) AS BIGINT) AS norm_epoch
        |FROM (SELECT o_orderkey AS okey,
        |        CASE CAST(o_orderkey % 3 AS INT)
        |          WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |          WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
        |          ELSE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') END AS raw
        |      FROM orders)""".stripMargin,

    "q_package_manifest" ->
      """SELECT item_id,
        |  'pkg/' || CAST(item_id AS VARCHAR) || '.tar.gz' AS archive,
        |  filesz / 1024.0 AS filesz_gb,
        |  CAST(item_id AS VARCHAR) || '_dem.tif' || ',' ||
        |  CAST(item_id AS VARCHAR) || '_meta.txt' AS contents
        |FROM (SELECT l_orderkey * 10 + l_linenumber AS item_id,
        |             l_quantity * 2 AS valid_area,
        |             l_discount + 0.01 AS masked_density,
        |             l_extendedprice AS filesz
        |      FROM lineitem)
        |WHERE valid_area >= 16.0 AND masked_density >= 0.05""".stripMargin,

    "q_sessionize" ->
      """SELECT user_id, sess_id,
        |       min(te) AS start_epoch, max(te) AS end_epoch,
        |       CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) AS sum_value
        |FROM (
        |  SELECT user_id, te, value,
        |         -- DuckDB window SUM(int) returns HUGEINT; Spark emits BIGINT
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY te
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM (
        |    SELECT user_id, te, value,
        |           CASE WHEN prev IS NULL OR te - prev > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |    FROM (SELECT user_id, epoch_us(ts) AS te, value,
        |                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev
        |          FROM events)
        |  )
        |) GROUP BY user_id, sess_id""".stripMargin,

    "q_hex_cells" -> withCtes(
      """SELECT doc_id,
        |  CAST((rx + 1073741824) * 4294967296 + (rz + 1073741824) AS BIGINT) AS cell_hex
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN abs(rx0 - qf) > abs(ry0 - yf) AND abs(rx0 - qf) > abs(rz0 - rf)
        |         THEN -ry0 - rz0 ELSE rx0 END AS rx,
        |    CASE WHEN NOT (abs(rx0 - qf) > abs(ry0 - yf) AND abs(rx0 - qf) > abs(rz0 - rf))
        |          AND NOT (abs(ry0 - yf) > abs(rz0 - rf))
        |         THEN -rx0 - ry0 ELSE rz0 END AS rz
        |  FROM (
        |    SELECT doc_id, qf, rf, -qf - rf AS yf,
        |           CAST(round(qf) AS BIGINT) AS rx0,
        |           CAST(round(-qf - rf) AS BIGINT) AS ry0,
        |           CAST(round(rf) AS BIGINT) AS rz0
        |    FROM (SELECT doc_id,
        |            (sqrt(3) / 3 * lon - 1.0 / 3 * lat) / 2.0 AS qf,
        |            (2.0 / 3 * lat) / 2.0 AS rf
        |          FROM pages)
        |  )
        |)""".stripMargin, Pages.docPagesCte),

    "q_strip_all" -> withCtes(
      """SELECT dem_id, stripdemid, s2s_ver, is_lsf, status FROM strip_staging
        |UNION ALL
        |SELECT sd.dem_id, sd.stripdemid, sd.s2s_ver, sd.is_lsf, 'tape' AS status
        |FROM strip_tape sd
        |WHERE NOT EXISTS (SELECT 1 FROM strip_staging sds
        |                  WHERE sds.dem_id = sd.dem_id
        |                    AND sds.stripdemid = sd.stripdemid)""".stripMargin,
      Ladder.stripsCte, Ladder.stripTapeCte, Ladder.stripStagingCte),

    // single-pass windows are equivalent to the staged form: stage 1 keeps or
    // drops whole stripdemid partitions, stage 2 whole (stripdemid, s2s_ver)
    // partitions, so later-stage window values are unchanged by earlier filters
    "q_strip_master_all" -> withCtes(
      """SELECT dem_id, stripdemid, s2s_ver, is_lsf, status FROM (
        |  SELECT *,
        |    max(stripdemid) OVER (PARTITION BY substr(stripdemid, 1, length(stripdemid) - 8)) AS strip_max,
        |    max(s2s_key) OVER (PARTITION BY stripdemid) AS s2s_max,
        |    min(CAST(is_lsf AS INT)) OVER (PARTITION BY stripdemid, s2s_ver) AS min_lsf
        |  FROM (SELECT *,
        |          array_to_string(list_transform(string_split(s2s_ver, '.'), p -> lpad(p, 4, '0')), '.') AS s2s_key
        |        FROM strip_all)
        |) WHERE stripdemid = strip_max AND s2s_key = s2s_max AND CAST(is_lsf AS INT) = min_lsf""".stripMargin,
      Ladder.stripsCte, Ladder.stripTapeCte, Ladder.stripStagingCte,
      """strip_all AS (
        |  SELECT dem_id, stripdemid, s2s_ver, is_lsf, pairname, geocell, status FROM strip_staging
        |  UNION ALL
        |  SELECT sd.dem_id, sd.stripdemid, sd.s2s_ver, sd.is_lsf, sd.pairname, sd.geocell, 'tape'
        |  FROM strip_tape sd
        |  WHERE NOT EXISTS (SELECT 1 FROM strip_staging sds
        |                    WHERE sds.dem_id = sd.dem_id
        |                      AND sds.stripdemid = sd.stripdemid))""".stripMargin),

    "q_depr_flag" -> withCtes(
      """SELECT m.scenedemid, m.stripdemid, (d.stripdemid IS NOT NULL) AS is_depr
        |FROM m LEFT JOIN depr d ON m.stripdemid = d.stripdemid""".stripMargin,
      Ladder.scenesCte, Ladder.deprecatedCte,
      """m AS (SELECT a.scenedemid, a.stripdemid
        |      FROM scenes a
        |      JOIN (SELECT substr(b.stripdemid, 1, length(b.stripdemid) - 8) AS strip_nover,
        |                   max(b.stripdemid) AS strip_max, b.is_dsp
        |            FROM (SELECT DISTINCT stripdemid, is_dsp FROM scenes) b
        |            GROUP BY strip_nover, b.is_dsp) c
        |        ON a.stripdemid = c.strip_max AND a.is_dsp = c.is_dsp
        |      WHERE a.is_dsp = false)""".stripMargin),

    "q_item_fetch" -> withCtes(
      """SELECT c.collection, c.item_id FROM canonical c
        |WHERE EXISTS (SELECT 1 FROM canonical i
        |              WHERE i.collection = c.collection AND i.item_id = c.item_id
        |                AND CAST(substring(i.item_id, 3) AS BIGINT) % 17 = 0)""".stripMargin,
      Ladder.stripsCte, Ladder.releaseCte,
      """canonical AS (
        |  SELECT project || '-strips-s2s041-2m' AS collection, dem_id AS item_id,
        |         dem_id, stripdemid
        |  FROM release WHERE license = 'public')""".stripMargin),

    "q_stac_assembly" -> withCtes(
      stacAssemblyBody, stacAssemblyCtes: _*),

    "q_stac_union" -> withCtes(
      s"""$stacAssemblyBody
         |UNION ALL
         |SELECT 'webdem-mosaics-v4.1-2m' AS collection, geocell AS item_id,
         |  to_json(struct_pack(id := geocell, type := 'Feature',
         |                      collection := 'webdem-mosaics-v4.1-2m',
         |                      n_items := CAST(count(*) AS BIGINT),
         |                      x0 := min(lonm))) AS doc
         |FROM (SELECT $geocellSql AS geocell, lonm FROM pages)
         |GROUP BY geocell""".stripMargin,
      (stacAssemblyCtes :+ Pages.docPagesCte): _*),

    "q_tile_components" -> withCtes(
      """SELECT CAST(CAST(floor(lat / 10) AS INT) AS VARCHAR) || '_' ||
        |       CAST(CAST(floor(lon / 10) AS INT) AS VARCHAR) AS supertile,
        |       array_to_string(list_sort(list(DISTINCT pairname)), ',') AS pairname_ids,
        |       CAST(count(DISTINCT pairname) AS BIGINT) AS n_pairs,
        |       min(1704067200 + doc_id) AS acq_min_epoch,
        |       max(1704067200 + doc_id) AS acq_max_epoch
        |FROM (SELECT *, 'P' || lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0') AS pairname
        |      FROM pages)
        |GROUP BY 1""".stripMargin, Pages.docPagesCte),

    "q_stac_children" -> withCtes(
      s"""SELECT $geocellSql AS geocell,
         |       CAST(count(*) AS BIGINT) AS n_children,
         |       array_to_string(list_sort(list(DISTINCT url))[1:5], ',') AS first_children
         |FROM pages GROUP BY 1""".stripMargin, Pages.docPagesCte),

    "q_complete" ->
      """SELECT o_orderkey AS okey,
        |  (len(list_filter(dem, x -> x IS NOT NULL)) > 0
        |   AND len(list_filter(dem, x -> x IS NOT NULL AND NOT (x > 0))) = 0
        |   AND len(list_filter(req, x -> x IS NULL OR NOT (x > 0))) = 0
        |   AND len(list_filter(opt, x -> x IS NOT NULL AND NOT (x > 0))) = 0) AS is_complete
        |FROM (SELECT o_orderkey,
        |        [CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey % 5 END,
        |         NULL, o_orderkey % 3] AS dem,
        |        [o_orderkey % 4 + 1,
        |         CASE WHEN o_orderkey % 11 = 0 THEN 0 ELSE 3 END,
        |         CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE 2 END] AS req,
        |        [CASE WHEN o_orderkey % 6 = 0 THEN 0 ELSE NULL END] AS opt
        |      FROM orders)""".stripMargin,

    "q_salted_join" -> withCtes(
      s"""SELECT p.geocell, CAST(count(*) AS BIGINT) AS n,
         |       CAST(max(d.attr) AS BIGINT) AS max_attr
         |FROM pg p JOIN (SELECT DISTINCT geocell, CAST(length(geocell) AS BIGINT) AS attr
         |                FROM pg) d
         |  ON p.geocell = d.geocell
         |GROUP BY p.geocell""".stripMargin,
      Pages.lineitemPagesCte,
      s"pg AS (SELECT *, $geocellSql AS geocell FROM pages)"),

    "q_meta_parse" ->
      """SELECT o_orderkey AS okey,
        |  'img_' || CAST(o_orderkey AS VARCHAR) || '.tif' AS image1,
        |  'SETSM ' || CAST(3 + o_orderkey % 2 AS VARCHAR) || '.' ||
        |    CAST(o_orderkey % 5 AS VARCHAR) AS group_version,
        |  '''+proj=longlat +a=' || CAST(o_orderkey % 100 AS VARCHAR) || ' +b=2''' AS out_proj,
        |  '2024-01-' || lpad(CAST(1 + o_orderkey % 28 AS VARCHAR), 2, '0') AS cr_date
        |FROM orders""".stripMargin,

    "q_mdf_parse" ->
      """SELECT o_orderkey AS okey,
        |  'WV0' || CAST(1 + o_orderkey % 3 AS VARCHAR) AS sat_id,
        |  CAST(o_orderkey % 90 AS VARCHAR) AS mean_sun_el,
        |  '28.' || CAST(o_orderkey % 4 AS VARCHAR) AS version
        |FROM orders""".stripMargin,

    "q_from_json" ->
      """SELECT o_orderkey AS okey,
        |  CAST(o_orderkey % 97 AS BIGINT) AS a,
        |  'v' || CAST(o_orderkey % 13 AS VARCHAR) AS b,
        |  CAST(o_orderkey % 7 AS BIGINT) AS c
        |FROM orders""".stripMargin,

    "q_scaled_band" ->
      """SELECT vec_id,
        |  CAST(list_sum(list_transform(raw, v -> CASE WHEN v <> 0 THEN v * 2 + 5 ELSE 0 END)) AS BIGINT) AS band_sum,
        |  CAST(len(list_filter(raw, v -> v = 0)) AS BIGINT) AS n_nodata
        |FROM (SELECT vec_id,
        |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS raw
        |      FROM embeddings)""".stripMargin,

    "q_url_template" ->
      """WITH v AS (
        |  SELECT o_orderkey,
        |    'https://data.example.org/<project>/<type>/<version>/<resolution>/<group>/<dem_id>.json' AS tmpl,
        |    CASE o_orderkey % 3 WHEN 0 THEN 'ArcticDEM' WHEN 1 THEN 'REMA' ELSE 'EarthDEM' END AS pretty,
        |    CASE o_orderkey % 3 WHEN 0 THEN 'arcticdem' WHEN 1 THEN 'rema' ELSE 'earthdem' END AS raw,
        |    's2s04' || CAST(1 + o_orderkey % 2 AS VARCHAR) AS ver,
        |    CASE WHEN o_orderkey % 2 = 0 THEN '2m' ELSE '50cm' END AS res,
        |    'n' || lpad(CAST(o_orderkey % 90 AS VARCHAR), 2, '0') ||
        |    'w' || lpad(CAST(o_orderkey % 180 AS VARCHAR), 3, '0') AS grp,
        |    'SETSM_s2s041_WV01_' || CAST(o_orderkey AS VARCHAR) AS dem_id
        |  FROM orders)
        |SELECT o_orderkey AS okey,
        |  replace(replace(replace(replace(replace(replace(tmpl,
        |    '<project>', pretty), '<type>', 'strips'), '<version>', ver),
        |    '<resolution>', res), '<group>', grp), '<dem_id>', dem_id) AS fileurl,
        |  replace(replace(replace(replace(replace(replace(tmpl,
        |    '<project>', raw), '<type>', 'strips'), '<version>', ver),
        |    '<resolution>', res), '<group>', grp), '<dem_id>', dem_id) AS s3url
        |FROM v""".stripMargin,

    "q_reg_parse" ->
      """SELECT o_orderkey AS okey,
        |  (o_orderkey % 19) / 8.0 - 1.0 AS dz,
        |  (o_orderkey % 23) / 4.0 - 2.0 AS dx,
        |  (o_orderkey % 17) / 2.0 - 4.0 AS dy,
        |  CAST(o_orderkey % 40 AS BIGINT) AS num_gcps,
        |  (o_orderkey % 13) / 16.0 AS mean_resid_z
        |FROM orders""".stripMargin,

    "q_reg_apply" ->
      """WITH v AS (
        |  SELECT o_orderkey,
        |    (o_orderkey % 19) / 8.0 - 1.0 AS dz,
        |    (o_orderkey % 23) / 4.0 - 2.0 AS dx,
        |    (o_orderkey % 17) / 2.0 - 4.0 AS dy,
        |    (o_orderkey % 360) - 180.0 + (o_orderkey % 23) / 4.0 - 2.0 AS minx,
        |    (o_orderkey % 170) - 85.0 + (o_orderkey % 17) / 2.0 - 4.0 AS maxy,
        |    CAST(1000 + o_orderkey % 500 AS DOUBLE) AS xsize,
        |    CAST(1200 + o_orderkey % 400 AS DOUBLE) AS ysize
        |  FROM orders)
        |SELECT o_orderkey AS okey,
        |  minx, maxy + ysize * (-2.0) AS miny, minx + xsize * 2.0 AS maxx, maxy,
        |  (100 + o_orderkey % 50) + dz AS z_reg
        |FROM v""".stripMargin,

    "q_density_cache" -> withCtes(
      s"""SELECT $geocellSql AS geocell,
         |  CAST(count(*) AS BIGINT) AS n,
         |  count(*) / 1.0 AS density,
         |  CAST(sum(CASE WHEN n_chars >= 40 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS masked_density
         |FROM pages GROUP BY 1""".stripMargin, Pages.docPagesCte),

    "q_index_schema" -> withCtes(
      """SELECT scenedemid, stripdemid,
        |  CAST(NULL AS VARCHAR) AS status,
        |  CAST(NULL AS VARCHAR) AS pairname,
        |  CAST(NULL AS VARCHAR) AS sensor1,
        |  CAST(NULL AS VARCHAR) AS sensor2,
        |  CAST(NULL AS BIGINT) AS acqdate1,
        |  CAST(NULL AS BIGINT) AS acqdate2,
        |  CAST(NULL AS VARCHAR) AS catalogid1,
        |  CAST(NULL AS VARCHAR) AS catalogid2,
        |  CAST(NULL AS VARCHAR) AS scene1,
        |  CAST(NULL AS VARCHAR) AS scene2,
        |  CAST(epoch(gen_time1) AS BIGINT) AS gen_time1,
        |  CAST(epoch(gen_time2) AS BIGINT) AS gen_time2,
        |  CAST(NULL AS DOUBLE) AS cent_lat,
        |  CAST(NULL AS DOUBLE) AS cent_lon,
        |  CAST(NULL AS VARCHAR) AS region,
        |  CAST(NULL AS INTEGER) AS epsg,
        |  CAST(NULL AS VARCHAR) AS proj4,
        |  CAST(NULL AS DOUBLE) AS nd_value,
        |  CAST(NULL AS DOUBLE) AS dem_res,
        |  CAST(NULL AS BIGINT) AS cr_date,
        |  CAST(NULL AS VARCHAR) AS algm_ver,
        |  CAST(NULL AS INTEGER) AS prod_ver,
        |  CAST(NULL AS BOOLEAN) AS has_lsf,
        |  CAST(NULL AS BOOLEAN) AS has_nonlsf,
        |  CAST(NULL AS BOOLEAN) AS is_xtrack,
        |  is_dsp, location,
        |  CAST(NULL AS DOUBLE) AS filesz_dem,
        |  CAST(NULL AS DOUBLE) AS filesz_lsf,
        |  CAST(NULL AS DOUBLE) AS filesz_mt,
        |  CAST(NULL AS DOUBLE) AS filesz_or,
        |  CAST(NULL AS DOUBLE) AS filesz_or2,
        |  CAST(epoch(CAST(index_date AS TIMESTAMP)) AS BIGINT) AS index_date
        |FROM scenes""".stripMargin, Ladder.scenesCte),

    "q_subtile_grid" -> withCtes(
      """SELECT CAST(CAST(floor(lat / 10) AS INT) AS VARCHAR) || '_' ||
        |       CAST(CAST(floor(lon / 10) AS INT) AS VARCHAR) AS supertile,
        |       CAST(CAST(floor((lat / 10 - floor(lat / 10)) * 3) + 1 AS INT) AS VARCHAR) || '_' ||
        |       CAST(CAST(floor((lon / 10 - floor(lon / 10)) * 5) + 1 AS INT) AS VARCHAR) AS subtile,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       count(*) / (10.0 * 10 / 15) AS density
        |FROM pages GROUP BY 1, 2""".stripMargin, Pages.docPagesCte),

    "q_asp_index" ->
      """SELECT o_orderkey AS okey,
        |  'WV0' || CAST(1 + o_orderkey % 3 AS VARCHAR) || '_202401' ||
        |    lpad(CAST(1 + o_orderkey % 28 AS VARCHAR), 2, '0') || '_' ||
        |    lpad(CAST(o_orderkey % 100000 AS VARCHAR), 16, '0') || '_' ||
        |    lpad(CAST((o_orderkey * 7) % 100000 AS VARCHAR), 16, '0') AS pairname,
        |  'WV0' || CAST(1 + o_orderkey % 3 AS VARCHAR) AS sensor,
        |  CAST(CAST(strptime('202401' || lpad(CAST(1 + o_orderkey % 28 AS VARCHAR), 2, '0'),
        |    '%Y%m%d') AS DATE) AS VARCHAR) AS acqdate,
        |  lpad(CAST(o_orderkey % 100000 AS VARCHAR), 16, '0') AS catalogid1,
        |  lpad(CAST((o_orderkey * 7) % 100000 AS VARCHAR), 16, '0') AS catalogid2,
        |  CAST(1 + o_orderkey % 8 AS DOUBLE) AS dem_res,
        |  'ASP' AS algm_ver,
        |  'WV0' || CAST(1 + o_orderkey % 3 AS VARCHAR) || '_202401' ||
        |    lpad(CAST(1 + o_orderkey % 28 AS VARCHAR), 2, '0') || '_' ||
        |    lpad(CAST(o_orderkey % 100000 AS VARCHAR), 16, '0') || '_' ||
        |    lpad(CAST((o_orderkey * 7) % 100000 AS VARCHAR), 16, '0') || '_' ||
        |    CAST(1 + o_orderkey % 8 AS VARCHAR) || 'm' AS overlap,
        |  CAST(0 AS INTEGER) AS status
        |FROM orders""".stripMargin
  )
}
