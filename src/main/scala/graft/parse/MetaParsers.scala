package graft.parse

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** The reference's text-metadata parsers (SURVEY.md §2.1 S6-S9),
  * re-implemented as pure Scala functions exposed as UDF columns returning
  * `MapType`/`ArrayType(MapType)` — the Spark-native shape for the
  * reference's attribute dicts.
  *
  * These are per-row narrow transforms: at 100 TB they pipeline inside the
  * scan stage with zero shuffle.
  */
object MetaParsers {

  /** S7 — scene `*_meta.txt` parser (/root/reference/lib/dem.py:477-499):
    * `key=value` lines; the `Output Projection` special case keeps the whole
    * remainder after '='.
    */
  def parseSceneMeta(text: String): Map[String, String] =
    text.linesIterator.flatMap { line =>
      val l = line.trim
      val eq = l.indexOf('=')
      if (eq <= 0) None
      else {
        val k = l.substring(0, eq).trim
        val v = l.substring(eq + 1).trim
        if (k.isEmpty) None else Some(k -> v)
      }
    }.toMap

  /** Parsed strip meta: header fields (incl. `s2s_version` from the
    * `Strip Metadata (vX.X)` title line), per-scene key=value blocks, and
    * the per-scene alignment stats rows — the three outputs of the
    * reference's `_parse_metadata_file` (metad / scene_list / alignment_dct).
    */
  case class StripMeta(header: Map[String, String],
                       scenes: Seq[Map[String, String]],
                       alignment: Map[String, Seq[String]])

  /** S6 — strip `*_meta.txt` parser (/root/reference/lib/dem.py:1476-1548),
    * branch for branch: header section until the literal `Scene Metadata`
    * line — `key: value` pairs, `<scene>.tif <stats...>` alignment rows, and
    * the s2s version title (error when a 'Strip Metadata' line defeats the
    * version regex, dem.py:1516-1520); then scene blocks opened by
    * `scene N=<name>.tif` (stored extension-stripped as `scene_name`),
    * `Output Projection=` keeping the whole remainder, other `key=value`
    * pairs verbatim.
    *
    * DELIBERATE divergence: the reference's `Output Projection` branch
    * computes key/val and then never stores them — a dead assignment
    * (dem.py:1523-1526) that silently discards the projection string. We
    * store it under `Output Projection` because a parser that drops a parsed
    * field is a bug being faithfully reproduced, not a semantic; the
    * q_strip_meta_parse oracle bakes the stored value in.
    */
  // precompiled split patterns (String.split recompiles multi-char patterns
  // on every call — per line, per row, on the UDF hot path)
  private val ColonSp = java.util.regex.Pattern.compile(": ", java.util.regex.Pattern.LITERAL)
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def parseStripMeta(text: String): StripMeta = {
    val header = scala.collection.mutable.Map[String, String]()
    val scenes = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.Map[String, String]]()
    val alignment = scala.collection.mutable.Map[String, Seq[String]]()
    var inHeader = true
    def stripExt(s: String): String = {
      val i = s.lastIndexOf('.'); if (i > 0) s.substring(0, i) else s
    }
    text.linesIterator.foreach { raw =>
      val l = raw.trim
      if (l.nonEmpty) {
        if (l == "Scene Metadata") inHeader = false
        else if (!inHeader && l.startsWith("scene ")) scenes += scala.collection.mutable.Map()
        if (inHeader) {
          if (l.contains(": ")) {
            // the reference's `key,val = l.split(': ')` RAISES on a second
            // ': ' occurrence and stores nothing (dem.py:1503-1506 logs and
            // skips) — mirror the skip, don't keep a first-separator split
            val parts = ColonSp.split(l, -1)
            if (parts.length == 2 && parts(0).trim.nonEmpty)
              header(parts(0).trim) = parts(1).trim
          } else if (l.contains(".tif ")) {
            val stats = Ws.split(l)
            alignment(stripExt(stats(0))) = stats.toSeq.tail
          } else if (l.contains("Strip Metadata")) {
            Patterns.s2sVersion.findPrefixMatchOf(l) match {
              case Some(m) if m.group("s2sversion") != null =>
                header("s2s_version") = m.group("s2sversion")
              case Some(_) => // versionless title: reference stores None
              case None => throw new IllegalArgumentException(
                s"Cannot parse s2s version from strip metadata line '$l'")
            }
          }
        } else if (l.contains("=") && scenes.nonEmpty) {
          if (l.startsWith("Output Projection=")) {
            // keeps the whole remainder — the value itself contains '='
            scenes.last("Output Projection") = l.substring(l.indexOf('=') + 1).trim
          } else {
            // reference `key,val = l.split('=')` raises + skips on a second
            // '=' (dem.py:1527-1530) — mirror the skip
            val parts = l.split("=", -1)
            if (parts.length == 2) {
              val k = parts(0).trim
              val v = parts(1).trim
              if (k.startsWith("scene ")) scenes.last("scene_name") = stripExt(v)
              else if (k.nonEmpty) scenes.last(k) = v
            }
          }
        }
      }
    }
    StripMeta(header.toMap, scenes.map(_.toMap).toSeq, alignment.toMap)
  }

  /** S8 — mdf IMD parser (/root/reference/lib/dem.py:1451-1474):
    * BEGIN_GROUP/END_GROUP nesting flattened to underscore-joined key paths,
    * values stripped of trailing `;` and quotes.
    */
  def parseMdf(text: String): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    val stack = scala.collection.mutable.Stack[String]()
    text.linesIterator.foreach { raw =>
      val line = raw.trim.stripSuffix(";")
      val eq = line.indexOf('=')
      if (eq > 0) {
        val k = line.substring(0, eq).trim
        val v = line.substring(eq + 1).trim.stripPrefix("\"").stripSuffix("\"")
        if (k == "BEGIN_GROUP") stack.push(v)
        else if (k == "END_GROUP") { if (stack.nonEmpty) stack.pop() }
        else {
          val path = (stack.toSeq.reverse :+ k).mkString("_")
          out(path) = v
        }
      }
    }
    out.toMap
  }

  /** S9 — reg.txt parser (/root/reference/lib/dem.py:1126-1144):
    * `Translation Vector (dz,dx,dy)(m)= z, x, y`, GCP count, mean residual.
    */
  // compiled ONCE (object init), not per parsed row: these parsers run as
  // per-row UDFs over the whole table, and java.util.regex.Pattern.compile
  // inside the call was a measurable fraction of the parse stage
  private val RegVec =
    """Translation Vector \(dz,dx,dy\)\(m\)\s*=\s*([-\d.]+),\s*([-\d.]+),\s*([-\d.]+)""".r
  private val RegGcps = """# GCPs\s*=\s*(\d+)""".r
  private val RegRms = """Mean Vertical Residual \(m\)\s*=\s*([-\d.]+)""".r

  def parseReg(text: String): Map[String, Double] = {
    val out = scala.collection.mutable.Map[String, Double]()
    val vec = RegVec
    val gcps = RegGcps
    val rms = RegRms
    vec.findFirstMatchIn(text).foreach { m =>
      out("dz") = m.group(1).toDouble
      out("dx") = m.group(2).toDouble
      out("dy") = m.group(3).toDouble
    }
    gcps.findFirstMatchIn(text).foreach(m => out("num_gcps") = m.group(1).toDouble)
    rms.findFirstMatchIn(text).foreach(m => out("mean_resid_z") = m.group(1).toDouble)
    out.toMap
  }

  // Column wrappers
  val sceneMetaUdf = udf(parseSceneMeta _)
  val mdfUdf = udf(parseMdf _)
  val regUdf = udf(parseReg _)

  /** One-parse wrapper: the whole [[StripMeta]] as a struct column, so a
    * query extracting several fields parses the text once per row (common
    * subexpression elimination merges the identical deterministic UDF
    * calls inside one projection) instead of once per field.
    */
  val stripMetaUdf = udf((s: String) => parseStripMeta(s))

  /** P1 — the reference's filename grammars (lib/dem.py:57-124), reproduced
    * group-for-group (case-insensitive, anchored at the end like `\Z`).
    */
  object Patterns {
    private val pairnameSrc =
      "(?<pairname>(?<sensor>[A-Z][A-Z\\d]{2}\\d)_(?<timestamp>\\d{8})_" +
        "(?<catid1>[A-Z0-9]{16})_(?<catid2>[A-Z0-9]{16}))"

    /** setsm_scene_pattern, lib/dem.py:57-69. */
    val scene = ("(?i)" + pairnameSrc + "_" +
      "(?<tile1>R\\d+C\\d+)?-?(?<order1>\\d{12}_\\d{2}_P\\d{3})_" +
      "(?<tile2>R\\d+C\\d+)?-?(?<order2>\\d{12}_\\d{2}_P\\d{3})_" +
      "(?<res>[0128])(-(?<subtile>\\d{2}))?_meta\\.txt$").r

    /** setsm_strip_pattern, lib/dem.py:71-85. */
    val strip = ("(?i)((?<algorithm>SETSM)_(?<relversion>s2s\\d{3})_)?" + pairnameSrc +
      "_(?<res>(\\d+|0\\.\\d+)c?m)_(lsf_)?(?<partnum>SEG\\d+)_" +
      "((?<relversion2>v[\\d\\.]+)_)?" +
      "(?<suffix>dem(_water-masked|_cloud-masked|_cloud-water-masked|_masked)?\\.(tif|jpg))$").r

    /** asp_strip_pattern, lib/dem.py:99-104. */
    val asp = ("(?i)(?<pairname>(?<sensor>[A-Z]{2}\\d{2})_(?<timestamp>\\d{8})_" +
      "(?<catid1>[A-Z0-9]{16})_(?<catid2>[A-Z0-9]{16}))_?(?<res>\\d+m)?-dem\\.(tif|jpg)$").r

    /** setsm_tile_pattern, lib/dem.py:106-112. */
    val tile = ("(?i)((?<scheme>utm\\d{2}[ns])_)?(?<tile>\\d+_\\d+s?)_" +
      "((?<subtile>\\d+_\\d+)_)?(?<res>(\\d+|0\\.\\d+)c?m)_" +
      "((?<relversion>v[\\d\\.]+)_)?(reg_)?dem\\.tif$").r

    /** xtrack_sensor_pattern, lib/dem.py:123; used at lib/dem.py:268,695. */
    val xtrack = "(?i)[wqg]\\d[wqg]\\d".r
    def isXtrack(sensor: String): Boolean = xtrack.findFirstIn(sensor).isDefined

    /** s2s_version_pattern, lib/dem.py:124. */
    val s2sVersion = "Strip Metadata( \\(v(?<s2sversion>\\d[\\d\\.]*)\\))?".r
  }
}
