package graft.pages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The graft input table: Common-Crawl-style web pages
  * `(url, warc_ts, html, text, lang)` per BASELINE.json `input_hint`,
  * deterministically derived from the driver's parquet tables so the DuckDB
  * oracle can reproduce the identical rows (TESTDATA.md: inputs must be the
  * driver tables, not self-synthesized files).
  *
  * Geocoding is pure integer arithmetic on the row key (documented here and
  * mirrored bit-for-bit in SparkEntry.oracleSql):
  *
  * {{{
  * h1      = (key * 48271 + 11) % 2147483647          -- Lehmer-style mix
  * h2      = (h1 * 48271 + 17) % 2147483647
  * cluster = key % 10
  * lonm (millidegrees) =
  *   cluster 0 -> 12000 + h1 % 1000                   -- hot cell (skew)
  *   cluster 1 -> wrap(179500 + h1 % 1000)            -- antimeridian band
  *   else      -> h1 % 360000 - 180000
  * latm =
  *   cluster 0 -> 51000 + h2 % 1000
  *   cluster 1 -> -70000 - h2 % 1000                  -- antarctic
  *   else      -> h2 % 170000 - 85000                 -- poles excluded
  * lon = lonm / 1000.0 ; lat = latm / 1000.0
  * }}}
  *
  * 20% of rows land in two 1-degree hot cells — deliberate skew to exercise
  * salting/AQE (SURVEY.md §7.4). All math stays integral until the final
  * division, so Spark and DuckDB produce bit-identical doubles.
  *
  * `text` is carried through untouched (byte-identical per url invariant);
  * `html` is the deterministic wrapper `<html><body> + text + </body></html>`
  * per FIXTURES.md §2.
  */
object Pages {

  /** Geocoding columns from an integer key column (shared by both sources). */
  private[graft] def withGeo(df: DataFrame, key: String): DataFrame = {
    val h1 = (col(key) * 48271L + 11L) % 2147483647L
    val h2 = (h1 * 48271L + 17L) % 2147483647L
    val cluster = col(key) % 10
    val lonmWrapCand = lit(179500L) + h1 % 1000L
    val lonm = when(cluster === 0, lit(12000L) + h1 % 1000L)
      .when(cluster === 1, when(lonmWrapCand >= 180000L, lonmWrapCand - 360000L).otherwise(lonmWrapCand))
      .otherwise(h1 % 360000L - 180000L)
    val latm = when(cluster === 0, lit(51000L) + h2 % 1000L)
      .when(cluster === 1, lit(-70000L) - h2 % 1000L)
      .otherwise(h2 % 170000L - 85000L)
    df.withColumn("lonm", lonm.cast("long"))
      .withColumn("latm", latm.cast("long"))
      .withColumn("lon", col("lonm") / 1000.0)
      .withColumn("lat", col("latm") / 1000.0)
  }

  /** DuckDB CTE body reproducing [[withGeo]] for a given key expression.
    * Kept adjacent to the Scala so they evolve in lockstep.
    */
  def geoSql(key: String): String =
    s"""(($key * 48271 + 11) % 2147483647) AS h1,
       |((($key * 48271 + 11) % 2147483647) * 48271 + 17) % 2147483647 AS h2,
       |$key % 10 AS cluster""".stripMargin

  val geoSql2: String =
    """CASE WHEN cluster = 0 THEN 12000 + h1 % 1000
      |     WHEN cluster = 1 THEN CASE WHEN 179500 + h1 % 1000 >= 180000
      |                                THEN 179500 + h1 % 1000 - 360000
      |                                ELSE 179500 + h1 % 1000 END
      |     ELSE h1 % 360000 - 180000 END AS lonm,
      |CASE WHEN cluster = 0 THEN 51000 + h2 % 1000
      |     WHEN cluster = 1 THEN -70000 - h2 % 1000
      |     ELSE h2 % 170000 - 85000 END AS latm""".stripMargin

  /** Pages CTE for DuckDB over the documents table. Oracle SQL names the sf
    * tables bare (`documents`), with no directory to substitute: the oracle
    * run registers each sf table as a view under its bare name.
    */
  val docPagesCte: String =
    s"""pages AS (
       |  SELECT doc_id,
       |         'https://example.org/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) AS url,
       |         text, lang, source, n_chars,
       |         lonm, latm,
       |         lonm / 1000.0 AS lon, latm / 1000.0 AS lat
       |  FROM (
       |    SELECT *, $geoSql2
       |    FROM (SELECT *, ${geoSql("doc_id")} FROM documents) t1
       |  ) t2
       |)""".stripMargin

  /** Pages CTE for DuckDB over lineitem (the scaled table: 600k rows at sf0.1). */
  val lineitemPagesCte: String =
    s"""pages AS (
       |  SELECT page_id, lonm, latm,
       |         lonm / 1000.0 AS lon, latm / 1000.0 AS lat
       |  FROM (
       |    SELECT *, $geoSql2
       |    FROM (SELECT l_orderkey * 10 + l_linenumber AS page_id,
       |                 ${geoSql("(l_orderkey * 10 + l_linenumber)")}
       |          FROM lineitem) t1
       |  ) t2
       |)""".stripMargin

  /** The documents → pages derivation, shared by the batch reader and the
    * streaming job (pure narrow column transforms, so it applies to a
    * streaming frame unchanged). */
  def pagesFromDocuments(docs: DataFrame): DataFrame =
    withGeo(docs, "doc_id")
      .withColumn("url", concat(lit("https://example.org/"), col("lang"),
        lit("/doc-"), col("doc_id").cast("string")))
      .withColumn("warc_ts",
        (to_timestamp(lit("2024-01-01 00:00:00")).cast("long") + col("doc_id"))
          .cast("timestamp"))
      .withColumn("html", encode(
        concat(lit("<html><body>"), col("text"), lit("</body></html>")), "UTF-8"))

  /** Web pages from the documents table: full input_hint schema + geocoding. */
  def fromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    pagesFromDocuments(Tables.read(spark, sfDir, "documents"))

  /** Scaled page set from lineitem: (page_id, lonm, latm, lon, lat).
    * `page_id` (l_orderkey·10 + l_linenumber) is not a key on the fixtures:
    * their lineitem repeats (l_orderkey, l_linenumber) pairs, so sf0.01 has
    * 60,000 pages and 45,832 distinct ids (sf0.001: 6,000 and 4,599). A
    * repeated id is a repeated row, since the coordinates derive from the id
    * alone; a join or kNN on `page_id` sees the copies as one point or as
    * many, depending on the operator.
    */
  def fromLineitem(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
      .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("page_id"))
    withGeo(li, "page_id")
  }

  // -------------------------------------------------------------- tiles

  /** Deterministic rectangular shelf-tile dimension table: 24x12 grid of
    * 15-degree tiles minus every 37th (gap -> 0-match skip), plus two
    * overlapping tiles over the hot cell (>1-match skip) — exercising the
    * exactly-one-tile rule of /root/reference/lib/utils.py:694-702.
    */
  def tiles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val grid = spark.range(0, 288).toDF("t")
      .filter(col("t") % 37 =!= 0)
      .select(
        concat(lit("T"), col("t").cast("string")).as("tile_name"),
        (lit(-180.0) + (col("t") % 24) * 15.0).as("x0"),
        (lit(-90.0) + floor(col("t") / lit(24.0)) * 15.0).as("y0"))
      .withColumn("x1", col("x0") + 15.0)
      .withColumn("y1", col("y0") + 15.0)
    val extras = Seq(
      ("HOT_A", 10.0, 50.0, 14.0, 53.0),
      ("HOT_B", 11.0, 50.5, 13.5, 52.5)).toDF("tile_name", "x0", "y0", "x1", "y1")
    grid.unionByName(extras)
  }

  /** DuckDB CTE mirroring [[tiles]]. */
  val tilesCte: String =
    """tiles AS (
      |  SELECT 'T' || CAST(t AS VARCHAR) AS tile_name,
      |         -180.0 + (t % 24) * 15.0 AS x0,
      |         -90.0 + FLOOR(t / 24.0) * 15.0 AS y0,
      |         -180.0 + (t % 24) * 15.0 + 15.0 AS x1,
      |         -90.0 + FLOOR(t / 24.0) * 15.0 + 15.0 AS y1
      |  FROM range(0, 288) r(t) WHERE t % 37 <> 0
      |  UNION ALL SELECT 'HOT_A', 10.0, 50.0, 14.0, 53.0
      |  UNION ALL SELECT 'HOT_B', 11.0, 50.5, 13.5, 52.5
      |)""".stripMargin
}
