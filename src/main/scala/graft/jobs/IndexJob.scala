package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.Cells
import graft.pages.Pages
import graft.sources.Tables
import graft.table.{Icelite, Pipeline}

/** The flagship lifecycle of the reference
  * (/root/reference/index_setsm.py, traced in SURVEY.md §3.1) re-expressed
  * as a resumable Spark pipeline over Icelite snapshots:
  *
  *   scan → parse/geocode → enrich (status, custom path, record id) →
  *   region join (J1) → width-validate (P6) →
  *   group/write snapshot (A1/S12) → read-back check (J11)
  *
  * Each stage commits an Icelite snapshot keyed by an input fingerprint, so
  * a killed run resumes from the last committed stage (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics"). The
  * A13 counts are the snapshots' row counts (`Icelite.historyDf`): total =
  * the `pages` snapshot's, valid = the `index` snapshot's.
  */
object IndexJob {

  /** P8 — status derivation (index_setsm.py:525-532,646): explicit arg wins,
    * 'tape' for BP locations, else 'online'.
    */
  def statusCol(location: Column, statusArg: Option[String]): Column =
    statusArg.map(lit).getOrElse(
      when(location.startsWith("/mnt/pgc/tape"), "tape").otherwise("online"))

  /** P9 (flagship default) — sensor/year/month path from id substrings
    * (sensor = chars 1-4, year = 6-9, month = 10-11 of the pairname-like
    * key). The full reference template family is [[CustomPaths]].
    */
  def customPathCol(pairname: Column): Column =
    concat_ws("/", lit(""), lit("pgc"),
      substring(pairname, 1, 4), substring(pairname, 6, 4), substring(pairname, 10, 2),
      pairname)

  /** P9 — the FULL custom-path template family of the reference
    * (/root/reference/index_setsm.py:715-781 scene mode, 851-920 strip mode):
    * BP (BlackPearl tape buckets), PGC/BW (filesystem tree), CSS. Pure column
    * expressions; `mode` is a plan-time constant like the reference's CLI
    * arg. sensor/year/month are pairname substrings ([:4], [5:9], [9:11]).
    */
  object CustomPaths {

    /** utils.PROJECTS pretty-name map (lib/utils.py:155-159). An unknown
      * project key fails loudly like the reference's `PROJECTS[...]`
      * KeyError — a silent NULL would make concat_ws drop the segment and
      * write a structurally-valid-looking but wrong path into the index.
      */
    def prettyProject(region: Column): Column = {
      val key = split(region, "_").getItem(0)
      when(key === "arcticdem", lit("ArcticDEM"))
        .when(key === "rema", lit("REMA"))
        .when(key === "earthdem", lit("EarthDEM"))
        .otherwise(raise_error(concat(lit("unknown project key: "), key)))
    }

    private def sensor(p: Column) = substring(p, 1, 4)
    private def year(p: Column) = substring(p, 6, 4)
    private def month(p: Column) = substring(p, 10, 2)

    /** BP: scene bucket = `dem-{mode}s-{resStr}-{bpRegion.split('-')[0]}`
      * (index_setsm.py:730-739); strip bucket = `dem-strips-{bpRegion[0:3]}`
      * (index_setsm.py:855-877). Path: bucket/resDir/sensor/year/month/
      * groupid.tar.
      */
    def bp(mode: String, prefix: Column, pairname: Column, resStr: Column,
           resDir: Column, groupId: Column, bpRegion: Column): Column = {
      val bucket =
        if (mode == "strip") concat(lit("dem-strips-"), substring(bpRegion, 1, 3))
        else concat(lit(s"dem-${mode}s-"), resStr, lit("-"),
          split(bpRegion, "-").getItem(0))
      concat_ws("/", prefix, bucket, resDir, sensor(pairname), year(pairname),
        month(pairname), concat(groupId, lit(".tar")))
    }

    /** PGC / BW: prefix/PrettyProject/region/<region>/{scenes|<releaseVer>}/
      * resDir/groupid/srcfn (index_setsm.py:741-765 scene, 879-901 strip —
      * strips swap the literal 'scenes' for the release-version directory).
      */
    def pgc(mode: String, prefix: Column, region: Column, resDir: Column,
            groupId: Column, srcfn: Column, releaseVer: Column): Column = {
      val verDir = if (mode == "strip") releaseVer else lit("scenes")
      concat_ws("/", prefix, prettyProject(region), lit("region"), region,
        verDir, resDir, groupId, srcfn)
    }

    /** CSS: prefix/mode/[strips_v<s2s>/]resDir/sensor/year/month/groupid/
      * srcfn (index_setsm.py:767-777 scene, 903-917 strip).
      */
    def css(mode: String, prefix: Column, pairname: Column, resDir: Column,
            groupId: Column, srcfn: Column, s2sVersion: Column): Column = {
      val tail = Seq(resDir, sensor(pairname), year(pairname), month(pairname),
        groupId, srcfn)
      val parts =
        if (mode == "strip") Seq(prefix, lit(mode), concat(lit("strips_v"), s2sVersion)) ++ tail
        else Seq(prefix, lit(mode)) ++ tail
      concat_ws("/", parts: _*)
    }
  }

  /** P13 — record-id projection (index_setsm.py:56-63): pipe-joined identity
    * used for dedup + the --check verification.
    */
  def recordIdCol(cols: Column*): Column = concat_ws("|", cols: _*)

  /** P6 width predicate shared by the keep/reject paths. */
  def widthOk(widths: Map[String, Int]): Column =
    widths.map { case (c, w) => length(col(c)) <= w }.reduce(_ && _)

  /** P6 — field-width validation (index_setsm.py:1099-1116): rows whose
    * string field exceeds the declared layer width are skipped.
    */
  def validateWidths(df: DataFrame, widths: Map[String, Int]): DataFrame =
    df.filter(widthOk(widths))

  /** P6 driven from a DECLARED schema family (graft.model.Schemas): the
    * width map comes straight off the reference's StandardAttribute
    * declarations instead of a hand-maintained literal, restricted to the
    * columns the frame actually carries (the reference checks only fields
    * present on the record, index_setsm.py:1099-1103). Case-insensitive
    * name match, same as [[graft.model.Schemas.conform]].
    */
  def validateWidths(df: DataFrame, family: Seq[graft.model.Schemas.FieldDef]): DataFrame = {
    val widths = graft.model.Schemas.widthMap(family)
      .flatMap { case (n, w) =>
        df.columns.find(_.equalsIgnoreCase(n)).map(_ -> w) }
    require(widths.nonEmpty,
      s"no declared string-width column of the family is present in [${df.columns.mkString(",")}]")
    validateWidths(df, widths)
  }

  /** O3 — capped error side-output (index_setsm.py:1150-1156: only the first
    * 30 duplicate/invalid errors are logged): the `cap` smallest record ids,
    * so the sample does not depend on partitioning. `limit` over the sort
    * plans a per-partition top-k (TakeOrderedAndProject), so at scale this
    * never materializes the full reject set.
    */
  def errorSample(df: DataFrame, widths: Map[String, Int], cap: Int = 30): DataFrame =
    df.filter(!widthOk(widths))
      .select(col("record_id"),
        lit("value too long for field width").as("error"))
      .orderBy("record_id")
      .limit(cap)

  /** The index row projection: web page → index record (the graft analog of
    * SCENE_ATTRIBUTE_DEFINITIONS, lib/utils.py:329-374 — identity key, group
    * key, centroid, cells, status, location, index date).
    * All-expression projection — the cell encode is the codegen
    * CellExpressions.cell_at, NOT a Scala UDF (no per-row encoder
    * serialization on the flagship path).
    */
  def indexRows(pages: DataFrame): DataFrame = {
    pages.select(
      col("url"),
      col("doc_id"),
      recordIdCol(col("url"), col("lang"), col("doc_id")).as("record_id"),
      col("lon"), col("lat"),
      Cells.geocellCol(col("lon"), col("lat")).as("geocell"),
      org.apache.spark.sql.graft.CellExpressions.cell_at(col("lon"), col("lat"), 12).as("cell_id"),
      customPathCol(concat(col("lang"), lit("_"), col("url"))).as("location"),
      col("lang"), col("source"),
      sha2(col("text"), 256).as("text_sha"),
      current_date().cast("string").as("index_date"))
      .withColumn("status", statusCol(col("location"), None))
  }

  /** The stages' input fingerprint: the documents table's location and its
    * files' stamp, so a rewritten input recomputes instead of resuming. */
  def inputFingerprint(sfDir: String): String =
    s"pages:$sfDir:${Tables.stamp(sfDir, "documents")}"

  /** Run the full job; returns (rows indexed, check diff count — 0 = pass). */
  def run(spark: SparkSession, sfDir: String, workRoot: String): (Long, Long) = {
    val pipe = new Pipeline(spark, workRoot)
    val fp = inputFingerprint(sfDir)

    val widths = Map("url" -> 256, "geocell" -> 7, "record_id" -> 512)
    val rows = indexRows(pipe.stage("pages", fp) { Pages.fromDocuments(spark, sfDir) })
    val valid = validateWidths(rows, widths)
    val index = pipe.stage("index", fp) { valid }
    pipe.stage("geocell_counts", fp) {
      index.groupBy("geocell").agg(count(lit(1)).as("n"))
    }
    // O3: capped invalid-row sample as its own snapshot (30 smallest ids)
    pipe.stage("errors", fp) { errorSample(rows, widths) }
    // J11 --check: committed snapshot vs recomputed projection
    val table = s"$workRoot/index"
    val diff = Icelite.check(spark, valid, table, "record_id")
    (Icelite.readManifest(table, Icelite.currentSnapshotId(table).get).rowCount, diff)
  }
}
