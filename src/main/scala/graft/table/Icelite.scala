package graft.table

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LineageWrite
import org.apache.spark.sql.types.{DataType, StructType}

/** "Icelite": a from-scratch Iceberg-style snapshot table layer (no Iceberg
  * runtime in the sandbox — SURVEY.md §7.0). Provides what the north rule
  * requires: checkpointed, resumable batch stages with per-partition lineage
  * and metrics.
  *
  * Layout (local FS; on a cluster this would be an object store — the
  * rename-based commit maps to a conditional PUT of the pointer object):
  * {{{
  * <table>/
  *   data/<snapshotUuid>/part-*.parquet                 -- unsliced data files
  *   data/<snapshotUuid>/__slice=<mod>_<res>/part-*.parquet -- PK-hash slices
  *   meta/snapshot-<id>.json                            -- manifest: segment refs
  *   meta/segment-<md5>.json                            -- file entries, content-addressed
  *   _CURRENT                                           -- atomic pointer
  * }}}
  *
  * Commit protocol: write data to a fresh uuid dir → write the manifest →
  * atomically rename `_CURRENT.tmp` over `_CURRENT`. Readers resolve
  * `_CURRENT` then read only files listed in the manifest, so a crashed
  * half-written commit is invisible (reference precedent: semaphore files
  * `.cogfin` in package_setsm.py:395-438 and the `--check` verification of
  * index_setsm.py:1179-1197).
  *
  * Data files are SELF-DESCRIBING HASH SLICES: a file tagged (mod, res)
  * holds only rows whose PK hash h satisfies `pmod(h, mod) == res`
  * (mod = 0 marks an unsliced file from a full-overwrite [[commit]]). The
  * slice tag is a claim over hash space, not a partition: claims may
  * overlap and need not cover — correctness rests on (a) every row in a
  * file satisfies its file's claim (maintained by construction) and (b) a
  * [[merge]] rewrites EVERY file whose claim intersects the batch's hashes,
  * so a PK collision can never hide in a carried file. Slices let both
  * merge IO *and file size* stay O(batch): a merge rewrites only
  * intersecting files and writes its output at a modulus chosen so no file
  * exceeds `maxRowsPerFile` — at 100 TB a daily metadata upsert rewrites a
  * few bounded files, never a 3 TB bucket (the round-3 layout's one file
  * per fixed bucket grew without bound).
  *
  * Lineage is PER DATA FILE (rows + xor-of-hash checksum — the Iceberg
  * manifest-entry analog; a Spark partition id is ephemeral, the written
  * file IS the durable partition). File-level lineage is what lets
  * [[merge]] carry untouched files into the next snapshot verbatim with
  * their lineage intact.
  *
  * Resume: [[Pipeline.stage]] skips a stage whose table already has a
  * committed snapshot for the same input fingerprint — the Spark analog of
  * the reference's "expected outputs exist" incomplete-task skip
  * (package_setsm.py:160-174).
  */
object Icelite {

  /** Default size bound for one data file, in rows (the lineage unit; byte
    * size tracks rows for a fixed schema). */
  val DefaultMaxRowsPerFile: Long = 4000000L

  /** Zone-map width caps: stats cover the first MaxStatsCols eligible
    * (numeric/string) top-level columns, string bounds truncated to
    * StatsTruncateLen chars — manifests must stay O(files), not O(data). */
  val MaxStatsCols = 16
  val StatsTruncateLen = 24

  /** One immutable data file and its hash-slice claim: holds only rows with
    * `pmod(hash(pk…), mod) == res`; mod = 0 ⇒ unsliced (full-overwrite
    * commit, no claim). Lineage = row count + order-independent
    * xor-of-row-hash checksum.
    *
    * `stats` are per-column zone maps (min, max) — the Iceberg
    * `lower_bounds`/`upper_bounds` manifest-entry analog — for the first
    * [[MaxStatsCols]] numeric/string top-level columns; [[readWhere]] prunes
    * files whose range is disjoint from a predicate BEFORE the scan, so a
    * time- or id-ranged query over a 100 TB table opens only the files that
    * can match. String bounds are truncated to [[StatsTruncateLen]] chars
    * (lower bound: plain prefix; upper bound: prefix with the last kept char
    * incremented — a valid upper bound, exactly Iceberg's truncate(16)
    * transform) so a manifest never carries page-sized values. Absent stats
    * (an all-null column, a bound with no valid truncation) simply mean
    * "never pruned".
    */
  case class FileEntry(path: String, mod: Int, res: Int, rows: Long, checksum: Long,
                       stats: Map[String, (String, String)] = Map.empty)

  /** One manifest-list entry: a content-addressed segment file holding a
    * bucket's [[FileEntry]] list, plus the LIST-LEVEL pruning metadata — its
    * row sum and per-column zone maps aggregated over its entries (a column
    * is bounded only when EVERY entry bounds it; aggregation order follows
    * the schema type, numeric for numeric columns, UTF-8 for strings — the
    * same orders the prune-time compare uses).
    */
  case class SegmentRef(name: String, rows: Long,
                        stats: Map[String, (String, String)] = Map.empty)

  /** `bucketSpec` records the PK columns (comma-joined, order-sensitive) the
    * slice hashes were computed from; a merge with a different PK spec must
    * not trust the slice claims (it takes the full-rewrite path). */
  case class Snapshot(id: Long, uuid: String, files: Seq[FileEntry], rowCount: Long,
                      inputFingerprint: String, nBuckets: Int, bucketSpec: String,
                      schemaJson: String = "") {
    def filePaths: Seq[String] = files.map(_.path)
  }

  /** The rows of committed data `paths`, read with the schema their
    * manifest records: no inference job, and zero paths read back as an
    * empty frame that still has the table's columns, so a downstream
    * `.select`/`.filter` never breaks only on the empty case. A directory
    * path of `__slice=` subdirectories reads with `__slice` appended. */
  private def scan(spark: SparkSession, schemaJson: String, paths: Seq[String]): DataFrame =
    spark.read.schema(structOf(schemaJson)).parquet(paths: _*)

  private def structOf(schemaJson: String): StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Column reference by EXACT name: `col("a.b")` parses the dot as nested
    * field access and fails on a legal flat column named `a.b`; backtick
    * quoting (with doubled backticks) resolves the literal name. Every place
    * Icelite turns a user schema's column NAMES back into Columns goes
    * through this. */
  private def qcol(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  private def metaDir(table: String): Path = Paths.get(table, "meta")
  private def manifestPath(table: String, id: Long): Path =
    metaDir(table).resolve(s"snapshot-$id.json")
  private def currentPtr(table: String): Path = Paths.get(table, "_CURRENT")

  /** Critical-section guard shared by the commit path and [[expireSnapshots]]:
    * a per-table JVM monitor (java.nio file locks are per-process — two
    * threads of one JVM would throw OverlappingFileLockException) wrapping an
    * OS file lock (cross-process). On an object store this maps to the
    * conditional-PUT the pointer swap already models. */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withTableLock[T](table: String)(body: => T): T = {
    val key = Paths.get(table).toAbsolutePath.normalize.toString
    val monitor = tableLocks.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      val lockCh = FileChannel.open(Paths.get(table, "_LOCK"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = lockCh.lock()
        try body finally lock.release()
      } finally lockCh.close()
    }
  }

  def currentSnapshotId(table: String): Option[Long] = {
    val p = currentPtr(table)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  private def currentId(table: String): Long = currentSnapshotId(table).getOrElse(
    throw new IllegalStateException(s"no committed snapshot in $table"))

  /** The manifest codec (the Iceberg spec's manifest list + manifest files).
    * A manifest `snapshot-<id>.json` is one object — `id`, `uuid`,
    * `rowCount`, `inputFingerprint`, `nBuckets`, `bucketSpec`, `schemaJson`
    * (base64 of the Spark schema JSON), `segments` — whose segment refs
    * (`name`, `rows`, optional `stats64`) point at content-addressed segment
    * files, each a JSON array of file entries (`path`, `mod`, `res`, `rows`,
    * `checksum`, optional `stats64`). Zone-map keys and values are base64
    * and written in sorted key order, so a segment's body — and with it its
    * content address — is a pure function of its entries.
    *
    * Every field but `stats64` is required: a manifest or segment that lacks
    * one, or whose rows do not add up, FAILS LOUDLY — proceeding would read
    * the table as empty or partial, a merge would drop the missing rows, and
    * GC would delete their live files.
    */
  private val json = new ObjectMapper()

  private def b64enc(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def b64dec(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  private def withStats(n: ObjectNode, stats: Map[String, (String, String)]): ObjectNode = {
    if (stats.nonEmpty) {
      val s = n.putObject("stats64")
      stats.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        s.putArray(b64enc(c)).add(b64enc(lo)).add(b64enc(hi)) }
    }
    n
  }

  private def entryJson(f: FileEntry): String = json.writeValueAsString(withStats(
    json.createObjectNode().put("path", f.path).put("mod", f.mod).put("res", f.res)
      .put("rows", f.rows).put("checksum", f.checksum), f.stats))

  private def manifestJson(snap: Snapshot, segments: Seq[SegmentRef]): String = {
    val n = json.createObjectNode().put("id", snap.id).put("uuid", snap.uuid)
      .put("rowCount", snap.rowCount).put("inputFingerprint", snap.inputFingerprint)
      .put("nBuckets", snap.nBuckets).put("bucketSpec", snap.bucketSpec)
      .put("schemaJson", b64enc(snap.schemaJson))
    val refs = n.putArray("segments")
    segments.foreach(r => withStats(refs.addObject().put("name", r.name).put("rows", r.rows), r.stats))
    json.writeValueAsString(n)
  }

  private def corrupt(what: String, detail: String) = new IllegalStateException(
    s"$what: $detail — unsupported/corrupt manifest or segment; refusing to read a partial table")

  /** Parse `p` with `body`, turning any malformed content into [[corrupt]]. */
  private def decode[T](p: Path, what: String)(body: JsonNode => T): T = {
    val txt = Files.readString(p)
    try body(json.readTree(txt))
    catch { case NonFatal(e) => throw corrupt(what, e.toString) }
  }

  private def req(n: JsonNode, k: String, ok: JsonNode => Boolean): JsonNode =
    Option(n.get(k)).filter(ok)
      .getOrElse(throw new NoSuchElementException(s"missing or mistyped field '$k'"))
  private def str(n: JsonNode, k: String): String = req(n, k, _.isTextual).textValue
  private def num(n: JsonNode, k: String): Long = req(n, k, _.isIntegralNumber).longValue
  private def items(n: JsonNode): Seq[JsonNode] = {
    if (n == null || !n.isArray) throw new NoSuchElementException("missing or mistyped array")
    n.asScala.toSeq
  }

  private def parseStats(n: JsonNode): Map[String, (String, String)] =
    if (n == null) Map.empty
    else n.properties.asScala.map { e =>
      val Seq(lo, hi) = items(e.getValue).map(_.textValue)
      b64dec(e.getKey) -> (b64dec(lo), b64dec(hi))
    }.toMap

  /** A manifest's snapshot fields (no file entries yet) and its segment
    * refs. The refs must sum to the claimed rowCount; [[loadSegments]] then
    * checks each segment against its ref, so a truncated list or segment
    * can never pass as a smaller table. */
  private def readHeader(table: String, id: Long): (Snapshot, Seq[SegmentRef]) = {
    val what = s"manifest snapshot-$id.json of $table"
    val (snap, refs) = decode(manifestPath(table, id), what) { n =>
      val refs = items(n.get("segments")).map(r =>
        SegmentRef(str(r, "name"), num(r, "rows"), parseStats(r.get("stats64"))))
      (Snapshot(num(n, "id"), str(n, "uuid"), Seq.empty, num(n, "rowCount"),
        str(n, "inputFingerprint"), num(n, "nBuckets").toInt, str(n, "bucketSpec"),
        b64dec(str(n, "schemaJson"))), refs)
    }
    if (snap.rowCount != refs.map(_.rows).sum)
      throw corrupt(what, s"claims ${snap.rowCount} rows but its segment refs sum to " +
        refs.map(_.rows).sum)
    (snap, refs)
  }

  /** The segment refs of manifest `id` — the names segment GC keeps. */
  private[graft] def segmentRefs(table: String, id: Long): Seq[SegmentRef] =
    readHeader(table, id)._2

  /** The file entries of `refs`' segments, each checked against its ref's
    * row count. */
  private def loadSegments(table: String, refs: Seq[SegmentRef]): Seq[FileEntry] =
    refs.flatMap { r =>
      val what = s"segment ${r.name} of $table"
      val es = decode(metaDir(table).resolve(r.name), what)(items(_).map(e =>
        FileEntry(str(e, "path"), num(e, "mod").toInt, num(e, "res").toInt, num(e, "rows"),
          num(e, "checksum"), parseStats(e.get("stats64")))))
      if (es.map(_.rows).sum != r.rows)
        throw corrupt(what, s"claims ${r.rows} rows but its entries sum to ${es.map(_.rows).sum}")
      es
    }

  def readManifest(table: String, id: Long): Snapshot = {
    val (snap, refs) = readHeader(table, id)
    snap.copy(files = loadSegments(table, refs))
  }

  /** Top-level columns eligible for zone maps, each with whether it is a
    * string (else numeric), first [[MaxStatsCols]] in schema order.
    * (Timestamps/dates are excluded: their string casts aren't
    * order-faithful across precisions — callers range on epoch columns,
    * which are numeric.) */
  private def statsEligible(schema: StructType): Seq[(String, Boolean)] = {
    import org.apache.spark.sql.types._
    schema.fields.iterator
      .filter(f => f.name != "__slice")
      .collect {
        case f if f.dataType == StringType => (f.name, true)
        case f if f.dataType.isInstanceOf[NumericType] => (f.name, false)
      }
      .take(MaxStatsCols).toSeq
  }

  /** Iceberg truncate-transform bounds: values longer than
    * [[StatsTruncateLen]] become (prefix(min), prefix(max) with its last CODE
    * POINT incremented). All transforms stay in code-point space — a
    * UTF-16-unit truncation could split a surrogate pair and an incremented
    * unit could be a lone surrogate, which `getBytes("UTF-8")` mangles to
    * `?` on the manifest round-trip, silently shrinking the stored upper
    * bound below real file values (unsound pruning). Cutting at a pair
    * boundary and skipping the surrogate gap keeps the bound a valid string
    * that is strictly greater in code-point (= UTF-8-byte = Spark UTF8String)
    * order. Returns None when no valid upper bound exists (every kept code
    * point is already U+10FFFF) — no stats beats wrong stats. */
  private[graft] def truncateBounds(mn: String, mx: String): Option[(String, String)] = {
    // longest prefix of ≤ StatsTruncateLen UTF-16 units ending on a code
    // point boundary (a prefix is ≤ the original in byte order, so cutting
    // the LOWER bound is always sound)
    def cut(s: String): String =
      if (s.length <= StatsTruncateLen) s
      else s.substring(0,
        if (Character.isHighSurrogate(s.charAt(StatsTruncateLen - 1))) StatsTruncateLen - 1
        else StatsTruncateLen)
    val lo = cut(mn)
    if (mx.length <= StatsTruncateLen) Some((lo, mx))
    else {
      // drop trailing U+10FFFF code points (nothing above them), then bump
      // the last remaining code point past the surrogate gap if needed
      var p = cut(mx)
      while (p.nonEmpty && p.codePointBefore(p.length) >= Character.MAX_CODE_POINT)
        p = p.substring(0, p.length - Character.charCount(p.codePointBefore(p.length)))
      if (p.isEmpty) None
      else {
        val cp = p.codePointBefore(p.length)
        val bumped = if (cp + 1 >= Character.MIN_SURROGATE && cp + 1 <= Character.MAX_SURROGATE)
          Character.MAX_SURROGATE + 1 else cp + 1
        Some((lo, p.substring(0, p.length - Character.charCount(cp))
          + new String(Character.toChars(bumped))))
      }
    }
  }

  private def inflightMarker(table: String, uuid: String): Path =
    Paths.get(table, "_inflight", uuid)

  /** Drop an uncommitted write (a lost race or a stale base): its data dir
    * and its inflight marker. */
  private def abandon(table: String, uuid: String): Unit = {
    deleteRecursively(Paths.get(table, "data", uuid))
    Files.deleteIfExists(inflightMarker(table, uuid))
  }

  /** The non-negative PK hash a file's slice claim is taken over (`__h`). */
  private def sliceHash(pkCols: Seq[String]): Column =
    pmod(hash(pkCols.map(qcol): _*), lit(Int.MaxValue))

  /** The `__slice` partition value `<m>_<__h mod m>` at output modulus `m`. */
  private def sliceOf(m: Int): Column =
    concat_ws("_", lit(m), pmod(col("__h"), lit(m)))

  /** Write `df` into a fresh uuid data dir (slice-partitioned when the
    * `__slice` column is present) and return its per-file lineage entries,
    * collected while the files are written ([[LineageWrite]]): one Spark job,
    * no read-back. `schemaJson` is the logical schema (the `__slice`
    * partition directory column is layout, not data).
    *
    * Zone maps: float bounds come through double. The stored string is then
    * the shortest repr of the exact binary value, so the BigDecimal compare
    * in [[pruneFiles]] is order-isomorphic with the scan filter's
    * float→double upcast; the float's own shortest repr would let a double
    * query bound land in the sub-ulp gap between the repr and the exact
    * value and prune a file the filter keeps. String bounds are truncated
    * here; numeric string forms are kept whole (a truncated "1.23E15" would
    * corrupt the numeric compare at prune time).
    *
    * An `_inflight/<uuid>` marker brackets the write so [[expireSnapshots]]
    * never GCs a live writer's files no matter how long the Spark job runs
    * (the orphan grace window alone cannot protect a write slower than the
    * grace); the caller clears the marker after commit or abort, and a
    * crashed writer's marker ages out under the inflight TTL.
    */
  private def writeData(df: DataFrame, table: String,
                        uuid: String = UUID.randomUUID().toString): (String, Seq[FileEntry], String) = {
    val marker = inflightMarker(table, uuid)
    Files.createDirectories(marker.getParent)
    Files.writeString(marker, "")
    val dataDir = Paths.get(table, "data", uuid).toString
    val schema = StructType(df.schema.fields.filterNot(_.name == "__slice"))
    val statCols = statsEligible(schema)
    val sliced = df.columns.contains("__slice")
    // co-locate each slice into one task before the partitioned write:
    // without it every task writes a file per slice value it holds
    // (#tasks × #slices files per merge — file-count rot at scale); with it
    // a slice is one file
    val written = LineageWrite.parquet(if (sliced) df.repartition(col("__slice")) else df,
      dataDir, if (sliced) Seq("__slice") else Nil, statCols.map(_._1))
    val sliceRe = """__slice=(\d+)_(\d+)""".r
    val entries = written.map { f =>
      val (mod, res) = sliceRe.findFirstMatchIn(f.path)
        .map(m => (m.group(1).toInt, m.group(2).toInt)).getOrElse((0, 0))
      val stats = statCols.flatMap { case (c, isString) =>
        f.bounds.get(c).flatMap { case (mn, mx) =>
          if (isString) truncateBounds(mn, mx).map(c -> _) else Some(c -> (mn, mx))
        }
      }.toMap
      FileEntry(f.path, mod, res, f.rows, f.checksum, stats)
    }
    (uuid, entries.sortBy(_.path), schema.json)
  }

  /** The commit section: id allocation + manifest + pointer swap, serialized
    * by [[withTableLock]] so two concurrent committers can neither compute
    * the same id nor drop each other's committed snapshot.
    * `expectedBase`: when Some(base), commit only if the current snapshot id
    * still equals `base` (optimistic concurrency for [[merge]]) — returns
    * None on a lost race so the caller can recompute from the new base.
    * Manifests are written CREATE_NEW: ids never overwrite.
    */
  private def commitEntries(table: String, uuid: String, entries: Seq[FileEntry],
                            inputFingerprint: String, nBuckets: Int, bucketSpec: String,
                            schemaJson: String,
                            expectedBase: Option[Option[Long]]): Option[Snapshot] = {
    Files.createDirectories(metaDir(table))
    val rowCount = entries.map(_.rows).sum
    withTableLock(table) {
      val cur = currentSnapshotId(table)
      expectedBase match {
        case Some(base) if base != cur => return None // lost the race
        case _ =>
      }
      val segments = writeSegments(table, entries, nBuckets, schemaJson)
      var snap = Snapshot(cur.getOrElse(0L) + 1, uuid, entries, rowCount, inputFingerprint,
        nBuckets, bucketSpec, schemaJson)
      while (!createFile(manifestPath(table, snap.id), manifestJson(snap, segments)))
        snap = snap.copy(id = snap.id + 1)
      // atomic pointer swap — the actual commit
      val tmp = Paths.get(table, s"_CURRENT.tmp.$uuid")
      Files.writeString(tmp, snap.id.toString)
      Files.move(tmp, currentPtr(table), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(inflightMarker(table, uuid)) // write is now durable
      Some(snap)
    }
  }

  /** Write a new file; false when it already exists. */
  private def createFile(p: Path, body: String): Boolean =
    try { Files.writeString(p, body, StandardOpenOption.CREATE_NEW); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }

  /** Commit a DataFrame as the table's next snapshot (full overwrite of the
    * logical content; previous snapshots stay readable via their manifests).
    */
  def commit(spark: SparkSession, df: DataFrame, table: String,
             inputFingerprint: String = ""): Snapshot = {
    val (uuid, entries, schemaJson) = writeData(df, table)
    commitEntries(table, uuid, entries, inputFingerprint, 0, "", schemaJson, None).get
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => "%02x".format(b)).mkString

  /** Write (or reuse) the CONTENT-ADDRESSED manifest segments for `entries`,
    * one per base bucket, returning their file names. This is the Iceberg
    * manifest-list analog that keeps commit METADATA O(changed buckets): a
    * merge touching two slices reproduces identical segment bodies for every
    * untouched bucket, which hash to the already-existing segment files —
    * zero writes — while an inline file list would rewrite O(table-files)
    * JSON on every commit (hundreds of MB at the ~10^6-file design point).
    * Must run under the table lock: segment GC in [[expireSnapshots]] keeps
    * only segments referenced by retained manifests, and an unlocked fresh
    * segment (manifest not yet written) would look unreferenced.
    */
  private def writeSegments(table: String, entries: Seq[FileEntry],
                            nBuckets: Int, schemaJson: String): Seq[SegmentRef] = {
    val base = math.max(1, nBuckets)
    // columns stats-eligible under the persisted schema -> orders numerically
    val statKinds = statsEligible(structOf(schemaJson))
      .map { case (c, isString) => c -> !isString }.toMap
    // Sliced (hash-claim) entries segment BY BASE BUCKET: the grouping is
    // stable across merges, so untouched buckets content-address to the same
    // segment file (commit metadata O(changed buckets)). Their aggregated
    // zone maps rarely prune (hash is uniform over the PK), which is fine —
    // reuse is their job. UNSLICED entries (a clustered full-overwrite
    // commit: the ANN index, a time-ordered event log) segment into ~√n
    // path-sorted chunks instead of one flat list: path order follows the
    // writer's partition order, so each chunk's aggregated bounds are tight
    // and [[readWhere]] prunes whole chunks at the list level — a balanced
    // O(√n)-refs-per-manifest, O(√n)-entries-per-segment hierarchy at any n.
    val (sliced, unsliced) = entries.partition(_.mod > 0)
    val slicedGroups = sliced.groupBy(_.res % base).toSeq.sortBy(_._1).map(_._2)
    val unslicedGroups = {
      val sorted = unsliced.sortBy(_.path)
      if (sorted.isEmpty) Seq.empty
      else {
        val chunk = math.max(1,
          math.ceil(sorted.size / math.ceil(math.sqrt(sorted.size.toDouble))).toInt)
        sorted.grouped(chunk).toSeq
      }
    }
    (slicedGroups ++ unslicedGroups)
      .map { fs =>
        val sorted = fs.sortBy(_.path)
        // one entry per line: the exact bytes earlier commits wrote, so an
        // untouched bucket keeps its content address across versions
        val body = sorted.map(entryJson).mkString("[", ",\n", "]")
        // full 128-bit content hash: this name IS the identity reuse trusts
        // blindly (Files.exists ⇒ skip write), and a collision would commit
        // a manifest pointing at another bucket-state's entries — don't thin
        // the birthday margin to 64 bits to save 16 filename chars
        val name = s"segment-${md5hex(body)}.json"
        val p = metaDir(table).resolve(name)
        if (!Files.exists(p)) createFile(p, body)
        SegmentRef(name, sorted.map(_.rows).sum, aggBounds(sorted, statKinds))
      }
  }

  /** Per-column zone map over a segment's entries: a column is bounded only
    * when every entry bounds it (one stat-less file makes the segment's
    * content unknowable for that column — absent stats = never pruned, same
    * contract as the file level). Numeric columns aggregate by numeric value
    * but keep the ORIGINAL bound strings (re-rendering could round);
    * unparseable numeric bounds (NaN/Infinity) drop the column.
    *
    * Only columns stats-eligible under the CURRENT schema aggregate
    * (`statKinds`, column -> orders numerically): merge-kept entries can
    * carry stats for a column that was since dropped or re-typed, and
    * aggregating such a column as UTF-8 while a reader compares its bounds
    * numerically could unsoundly prune a segment (silent row loss). The
    * aggregation order must match the order [[boundsOverlap]] compares in.
    * Absent list-level stats are always safe. */
  private def aggBounds(fs: Seq[FileEntry],
                        statKinds: Map[String, Boolean]): Map[String, (String, String)] = {
    if (fs.isEmpty) return Map.empty
    val cols = fs.map(_.stats.keySet).reduce(_ intersect _).intersect(statKinds.keySet)
    cols.iterator.flatMap { c =>
      val bs = fs.map(_.stats(c))
      if (statKinds(c))
        try Some(c -> (bs.minBy(b => BigDecimal(b._1))._1,
                       bs.maxBy(b => BigDecimal(b._2))._2))
        catch { case _: NumberFormatException => None }
      else Some(c -> (bs.map(_._1).reduce((a, b) => if (utf8Lt(a, b)) a else b),
                      bs.map(_._2).reduce((a, b) => if (utf8Lt(a, b)) b else a)))
    }.toMap
  }

  /** Smallest `base · 2^d` with `est / it ≤ maxRows` — the modulus for a
    * rewrite of ~`est` rows spread UNIFORMLY over hash space. */
  private def uniformModulus(base: Int, est: Long, maxRows: Long): Int = {
    var m = math.max(1, base)
    while (est / m > maxRows) m *= 2
    m
  }

  /** Smallest `baseMod · 2^j` at which a file of `rows` rows CONCENTRATED in
    * one baseMod-residue splits below `maxRows` per output file (each
    * doubling of the modulus halves the file's rows). */
  private def concentratedModulus(baseMod: Int, rows: Long, maxRows: Long): Int = {
    var m = math.max(1, baseMod)
    var perFile = rows
    while (perFile > maxRows) { m *= 2; perFile = (perFile + 1) / 2 }
    m
  }

  /** The `files` whose hash-slice claim intersects the incoming batch, plus
    * every unsliced file (no claim to prune on). One distributed
    * aggregation: the batch's distinct (mod, res) residues per distinct
    * modulus, equi-joined against the (small) file-entry list — the
    * collected result is ≤ #files rows, never #batch rows.
    */
  private def touchedFiles(spark: SparkSession, incoming: DataFrame,
                           files: Seq[FileEntry]): Seq[FileEntry] = {
    val mods = files.map(_.mod).filter(_ > 0).distinct
    if (mods.isEmpty) return files
    import spark.implicits._
    val pairs = incoming.select(explode(array(mods.map(m =>
        struct(lit(m).as("m"), pmod(col("__h"), lit(m)).as("r"))): _*)).as("p"))
      .select(col("p.m").as("m"), col("p.r").as("r")).distinct()
    val fileDf = files.zipWithIndex
      .collect { case (f, i) if f.mod > 0 => (f.mod, f.res, i) }
      .toDF("m", "r", "idx")
    val hit = pairs.join(fileDf, Seq("m", "r")).select("idx")
      .collect().map(_.getInt(0)).toSet
    files.indices.collect { case i if files(i).mod == 0 || hit(i) => files(i) }
  }

  /** A planned rewrite of a base snapshot: the base files it `replaces`, the
    * `frame` written in their place (with its `__slice` column), and the new
    * snapshot's header. */
  private case class Rewrite(replaces: Seq[FileEntry], frame: DataFrame,
                             inputFingerprint: String, nBuckets: Int, bucketSpec: String)

  /** The optimistic rewrite [[merge]] and [[compact]] share: read the current
    * base, `plan` a rewrite of it (None: nothing to rewrite), write the frame
    * and commit the base's other files plus the new ones only if the base is
    * still current. A lost race drops the write and replans from the
    * winner's snapshot instead of silently dropping its rows. Returns how
    * many base files were replaced and the snapshot the table is left at
    * (the base when there was nothing to rewrite).
    */
  private def rewrite(table: String, op: String)(
      plan: Option[Snapshot] => Option[Rewrite]): (Int, Option[Snapshot]) = {
    var attempt = 0
    while (attempt < 8) {
      attempt += 1
      val baseId = currentSnapshotId(table)
      val uuid = UUID.randomUUID().toString
      try {
        val base = baseId.map(readManifest(table, _))
        plan(base) match {
          case None => return (0, base)
          case Some(rw) =>
            val replaced = rw.replaces.map(_.path).toSet
            val carried = base.fold(Seq.empty[FileEntry])(_.files.filterNot(f => replaced(f.path)))
            // safe to stream from the base: the frame is written to a fresh
            // uuid dir, so the plan's input files are never overwritten mid-scan
            val (_, written, schemaJson) = writeData(rw.frame, table, uuid)
            commitEntries(table, uuid, carried ++ written, rw.inputFingerprint, rw.nBuckets,
              rw.bucketSpec, schemaJson, Some(baseId)) match {
              case Some(snap) => return (replaced.size, Some(snap))
              case None => abandon(table, uuid)
            }
        }
      } catch {
        // a superseded base's manifest and files can be GC'd (expire retains
        // only the newest snapshots) while this attempt still reads them —
        // the failure then means "stale base", not "bad data", so retry from
        // the advanced snapshot. Only non-fatal errors, only when the base
        // demonstrably moved, and never without dropping the attempt's
        // half-written data and marker (the marker would otherwise shield
        // the orphan from GC for a day).
        case NonFatal(e) if currentSnapshotId(table) != baseId =>
          abandon(table, uuid)
          System.err.println(s"[icelite] $op attempt $attempt on $table " +
            s"read a superseded base ($baseId): ${e.getMessage}; retrying")
      }
    }
    throw new IllegalStateException(s"$op on $table lost 8 commit races")
  }

  /** S17 — idempotent upsert, the snapshot-table analog of `INSERT … ON
    * CONFLICT DO UPDATE` (extract_stac_metadata.py:133-198): the batch,
    * deduplicated on `pkCols`, replaces every row whose PK it holds (incoming
    * wins) and commits as the next snapshot. Re-running a merge converges to
    * the same rows; a crash before the pointer swap leaves the previous
    * snapshot intact.
    *
    * O(batch) in IO and file size: only the files whose hash-slice claim
    * intersects the batch are rewritten (the rest carry verbatim, as Iceberg
    * carries untouched data files), at a modulus `nBuckets · 2^d` sized to
    * the rewrite set, not the table — at 100 TB a daily upsert must neither
    * rewrite the table nor leave 3 TB files behind. Claims are trusted only
    * under the same PK spec and `nBuckets`: any other base, an unsliced
    * [[commit]] snapshot included, is rewritten whole, once, rather than
    * trusting claims computed under a different key.
    */
  def merge(spark: SparkSession, df: DataFrame, table: String,
            pkCols: Seq[String], inputFingerprint: String = "",
            nBuckets: Int = 32, maxRowsPerFile: Long = DefaultMaxRowsPerFile): Snapshot = {
    require(!df.columns.contains("__slice") && !df.columns.contains("__h"),
      "__slice and __h are reserved columns")
    val spec = pkCols.mkString(",")
    val hcol = sliceHash(pkCols)
    // the batch is re-scanned per attempt (and per touched-slice probe): pin
    // it for the merge's duration
    graft.Session.pinned(df.dropDuplicates(pkCols).withColumn("__h", hcol)) { incoming =>
      val nIncoming = incoming.count()
      rewrite(table, "merge") { base =>
        val files = base.fold(Seq.empty[FileEntry])(_.files)
        val trusted = base.exists(b => b.bucketSpec == spec && b.nBuckets == nBuckets)
        val hot = if (trusted) touchedFiles(spark, incoming, files) else files
        val merged =
          if (hot.isEmpty) incoming
          else scan(spark, base.get.schemaJson, hot.map(_.path))
            .join(incoming.select(pkCols.map(qcol): _*).distinct(), pkCols, "left_anti")
            .withColumn("__h", hcol)
            .unionByName(incoming)
        // a trusted hot slice's surviving rows stay concentrated in its claim
        // region (m/f.mod residues of the output modulus), so the modulus is
        // at least each such file's concentrated split point — the uniform
        // estimate alone would leave a fat slice's rows in one oversized
        // file. The bound is approximate (hot + uniform parts can stack to
        // ~2×); [[compact]] enforces it strictly.
        val floors =
          if (trusted) hot.map(f => concentratedModulus(f.mod, f.rows, maxRowsPerFile)) else Nil
        val estRows = hot.map(_.rows).sum + nIncoming
        val m = (uniformModulus(nBuckets, estRows, maxRowsPerFile) +: floors).max
        // a USING join puts the key columns first — restore the caller's
        // column order so every data file shares one schema layout
        Some(Rewrite(hot, merged.withColumn("__slice", sliceOf(m))
          .select(df.columns.map(qcol) :+ col("__slice"): _*), inputFingerprint, nBuckets, spec))
      }._2.get
    }
  }

  /** Maintenance, the Iceberg `rewrite_data_files` analog: split files over
    * `maxRowsPerFile` to a finer slice modulus, and coalesce sibling slice
    * pairs ((2p, r), (2p, r+p)) whose rows fit in half the bound back to
    * their parent (p, r) — shrink-deletes leave slivers. Returns
    * (filesRewritten, filesInNewSnapshot).
    */
  def compact(spark: SparkSession, table: String,
              maxRowsPerFile: Long = DefaultMaxRowsPerFile): (Int, Int) = {
    // iterate to a fixed point: one split pass halves an oversized file's
    // rows at least once but hash skew can leave a residue still over the
    // bound, and sibling coalescing may enable further coalescing a level
    // up. Terminates: splits strictly shrink per-file rows, coalesces
    // strictly shrink the modulus (floored at nBuckets), and a split's
    // children can never re-coalesce (their sum exceeds the bound).
    var total = 0
    var last = compactPass(spark, table, maxRowsPerFile)
    while (last._1 > 0) {
      total += last._1
      last = compactPass(spark, table, maxRowsPerFile)
    }
    (total, last._2)
  }

  private def compactPass(spark: SparkSession, table: String,
                          maxRowsPerFile: Long): (Int, Int) = {
    val (rewritten, snap) = rewrite(table, "compact")(_.flatMap { base =>
      if (base.bucketSpec.isEmpty)
        throw new IllegalStateException(
          s"compact($table): table has no PK slice spec (written by commit(), " +
            "not merge()) — re-slice it with a merge first")
      val hcol = sliceHash(base.bucketSpec.split(",").toSeq)
      val baseM = math.max(1, base.nBuckets)
      val oversized = base.files.filter(_.rows > maxRowsPerFile)
      val smallSiblings = base.files
        .filter(f => f.mod > baseM && f.mod % 2 == 0 && f.rows <= maxRowsPerFile)
        .groupBy(f => (f.mod, f.res % (f.mod / 2)))
        .values.toSeq
        .filter(g => g.size == 2 && g.map(_.rows).sum <= maxRowsPerFile / 2)
      val groups =
        oversized.map(f => (Seq(f), concentratedModulus(f.mod, f.rows, maxRowsPerFile))) ++
          smallSiblings.map(g => (g, g.head.mod / 2))
      Option.when(groups.nonEmpty)(Rewrite(groups.flatMap(_._1),
        groups.map { case (fs, target) =>
          scan(spark, base.schemaJson, fs.map(_.path))
            .withColumn("__h", hcol)
            .withColumn("__slice", sliceOf(target))
            .drop("__h")
        }.reduce(_ unionByName _),
        base.inputFingerprint, base.nBuckets, base.bucketSpec))
    })
    (rewritten, snap.fold(0)(_.files.size))
  }

  /** Read the current snapshot's rows (only manifest-listed files — uncommitted
    * data dirs are invisible).
    */
  def read(spark: SparkSession, table: String): DataFrame =
    readAt(spark, table, currentId(table))

  /** Time travel: read snapshot `id` as of its commit (Iceberg
    * `VERSION AS OF` analog). Any still-retained manifest id works — data
    * files are immutable and carried entries keep old snapshots readable
    * until [[expireSnapshots]] drops them.
    */
  def readAt(spark: SparkSession, table: String, id: Long): DataFrame =
    readSnapshot(spark, readManifest(table, id))

  /** The rows of an already-parsed snapshot's files. */
  private[table] def readSnapshot(spark: SparkSession, snap: Snapshot): DataFrame =
    scan(spark, snap.schemaJson, snap.filePaths)

  /** Roll the table back to a retained snapshot (the Iceberg
    * `rollback_to_snapshot` analog): an O(1) pointer swap under the table
    * lock — data files and manifests are immutable, so nothing is copied and
    * the rolled-past snapshots stay readable (and recoverable by rolling
    * forward again) until [[expireSnapshots]] ages them out relative to the
    * NEW current id. The next commit allocates past any existing manifest id
    * (CREATE_NEW loop), so rolled-past ids are never overwritten.
    */
  def rollback(table: String, id: Long): Snapshot = {
    val snap = readManifest(table, id) // throws when missing/expired/corrupt
    withTableLock(table) {
      val tmp = Paths.get(table, s"_CURRENT.tmp.rollback-$id")
      Files.writeString(tmp, id.toString)
      Files.move(tmp, currentPtr(table), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    snap
  }

  /** The table's file-level metadata as a DataFrame (the Iceberg `.files`
    * metadata-table analog): one row per data file with its slice claim,
    * lineage, and zone-map bounds — driver-side manifest only, no data IO.
    * The observability surface a 100 TB operator actually queries: file-size
    * skew, slice refinement depth, stats coverage.
    */
  def filesDf(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    readManifest(table, currentId(table)).files
      .map(f => (f.path, f.mod, f.res, f.rows, f.checksum,
        f.stats.map { case (c, (lo, hi)) => (c, lo, hi) }.toSeq.sortBy(_._1)))
      .toDF("path", "mod", "res", "rows", "checksum", "stats")
  }

  /** The table's snapshot history as a DataFrame (the Iceberg `.snapshots`
    * metadata-table analog): one row per RETAINED manifest with its row
    * count, file count, slice config, fingerprint, and whether it is the
    * current pointer target — the audit surface for rollback decisions and
    * retention tuning. Driver-side manifest reads only, no data IO.
    */
  def historyDf(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val cur = currentSnapshotId(table)
    snapshotIds(table).map { id =>
      val s = readManifest(table, id)
      (id, s.rowCount, s.files.size, s.nBuckets, s.bucketSpec,
        s.inputFingerprint, cur.contains(id))
    }.toDF("id", "row_count", "n_files", "n_buckets", "bucket_spec",
      "input_fingerprint", "is_current")
  }

  private val SnapshotFile = """snapshot-(\d+)\.json""".r

  /** Ids of every retained manifest, ascending. */
  private def snapshotIds(table: String): Seq[Long] =
    list(metaDir(table)).map(_.getFileName.toString)
      .collect { case SnapshotFile(id) => id.toLong }.sorted

  /** Manifest-level data skipping (the Iceberg scan-planning analog): the
    * rows inside every `(column, lo, hi)` range, reading only the files whose
    * zone maps can intersect every range (a range on a stat-less column
    * never prunes). The exact conjunction is applied on top, so pruning is
    * an IO optimization, never a semantics change. Parquet row-group stats
    * prune within a file only after its footer is opened; manifest stats
    * prune the file list on the driver before the scan is planned.
    *
    * Pruning runs at both metadata levels: segments whose aggregated zone
    * map excludes a range are never read (at the 10^6-file design point,
    * parsing only the matching buckets' entry lists), then per-file zone
    * maps within the surviving segments. Integrity holds with segments
    * skipped: the list sums to rowCount and every parsed segment sums to
    * its ref, so a truncated segment still fails loudly.
    */
  def readWhere(spark: SparkSession, table: String,
                ranges: (String, Any, Any)*): DataFrame = {
    require(ranges.nonEmpty, "readWhere needs at least one range")
    val (snap, refs) = readHeader(table, currentId(table))
    val liveRefs = refs.filter(r => ranges.forall { case (c, lo, hi) =>
      r.stats.get(c).forall { case (mn, mx) => boundsOverlap(mn, mx, lo, hi) } })
    val keep = ranges.foldLeft(loadSegments(table, liveRefs)) { case (fs, (c, lo, hi)) =>
      pruneFiles(fs, c, lo, hi) }
    // when everything is pruned the manifest's schema keeps the result
    // typed without opening a footer
    ranges.foldLeft(readSnapshot(spark, snap.copy(files = keep))) { case (df, (c, lo, hi)) =>
      df.where(qcol(c) >= lit(lo) && qcol(c) <= lit(hi))
    }
  }

  /** The manifest-pruning half of [[readWhere]], exposed for tests and scan
    * metrics: the files whose stats cannot exclude `[lo, hi]` on `column`.
    * Bounds compare numerically when the caller's bounds are numbers (stats
    * strings that don't parse — NaN/Infinity — disable pruning for that
    * file), lexically for strings (sound with truncated bounds: the stored
    * upper bound is ≥ every value in the file by construction).
    */
  def pruneFiles(files: Seq[FileEntry], column: String,
                 lo: Any, hi: Any): Seq[FileEntry] =
    files.filter(_.stats.get(column).forall { case (mn, mx) =>
      boundsOverlap(mn, mx, lo, hi) })

  /** Can stored bounds [mn, mx] intersect the query range [lo, hi]?
    * Numeric when the caller's bounds are numbers (unparseable stored
    * bounds — NaN/Infinity — disable pruning), UTF-8-lexical otherwise.
    * Shared by the file level and the manifest-list level so the two prune
    * tiers can never disagree on ordering. */
  private def boundsOverlap(mn: String, mx: String, lo: Any, hi: Any): Boolean =
    if (lo.isInstanceOf[Number] && hi.isInstanceOf[Number]) {
      try !(BigDecimal(mx) < BigDecimal(lo.toString) ||
            BigDecimal(mn) > BigDecimal(hi.toString))
      catch { case _: NumberFormatException => true }
    } else !(utf8Lt(mx, lo.toString) || utf8Lt(hi.toString, mn))

  /** Unsigned UTF-8-byte comparison — Spark's UTF8String (and so its string
    * min/max and filter) ordering, which differs from Java's UTF-16
    * `compareTo` once supplementary characters are involved (surrogate units
    * 0xD800-0xDFFF sort below U+E000..U+FFFF in UTF-16 but the code points
    * they encode sort ABOVE all of them). Pruning with `compareTo` against
    * Spark-computed min/max could wrongly drop files; all string bound
    * comparisons go through this instead. */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Incremental snapshot diff (the Iceberg changelog-scan analog): the rows
    * inserted / updated / deleted between two retained snapshots, tagged in
    * a `__change` column (`insert` / `update` post-image / `delete`
    * pre-image). IO is O(changed slices), not O(table): only the data files
    * the two manifests do NOT share are read ([[merge]] carries untouched
    * files by identical path, so shared files cannot contain a changed row),
    * and rows that merely MOVED files with identical content (slice splits,
    * [[compact]] rewrites) hash-cancel and are emitted as nothing. This is
    * what lets a downstream training pipeline consume a daily metadata
    * upsert as a delta instead of re-reading 100 TB.
    */
  def diffSnapshots(spark: SparkSession, table: String, fromId: Long, toId: Long,
                    pkCols: Seq[String]): DataFrame = {
    val a = readManifest(table, fromId)
    val b = readManifest(table, toId)
    val aPaths = (a.files.toSet -- b.files.toSet).map(_.path).toSeq.sorted
    val bPaths = (b.files.toSet -- a.files.toSet).map(_.path).toSeq.sorted
    // the result's columns are those of the newer side's changed files (the
    // older side's when only deletions changed); a side with no changed
    // files reads as an empty frame of those columns, opening no file
    val src = if (bPaths.nonEmpty || aPaths.isEmpty) b else a
    val cols = structOf(src.schemaJson).fieldNames.toSeq
    def side(snap: Snapshot, paths: Seq[String], tag: String): DataFrame =
      scan(spark, (if (paths.isEmpty) src else snap).schemaJson, paths)
        .select(pkCols.map(qcol) ++ Seq(
          struct(cols.map(qcol): _*).as(s"__row_$tag"),
          xxhash64(cols.map(qcol): _*).as(s"__h_$tag")): _*)
    val joined = side(a, aPaths, "old").join(side(b, bPaths, "new"), pkCols, "full_outer")
    val change = when(col("__h_new").isNull, lit("delete"))
      .when(col("__h_old").isNull, lit("insert"))
      .when(col("__h_old") =!= col("__h_new"), lit("update"))
    val image = when(col("__h_new").isNull, col("__row_old")).otherwise(col("__row_new"))
    joined
      .withColumn("__change", change)
      .filter(col("__change").isNotNull) // unchanged rows that moved files
      .select(cols.map(c => image.getField(c).as(c)) :+ col("__change"): _*)
  }

  /** Lineage verification: recompute the snapshot's content fingerprint from
    * its data files and compare against the manifest's per-file lineage —
    * the independent check that the checksums a commit collected while
    * writing equal what a reader sees.
    * Row hashes xor-combine associatively, so the check is independent of
    * how a re-read re-partitions the files: total rows must equal the
    * manifest rowCount and the global xor of row hashes must equal the xor
    * of the recorded per-file checksums. Detects any lost/duplicated/
    * altered row in a committed snapshot (bit-flip, truncated file, manual
    * tampering) without needing the original partitioning.
    */
  def verifyLineage(spark: SparkSession, table: String): Boolean = {
    val id = currentSnapshotId(table).getOrElse(return false)
    val snap = readManifest(table, id)
    val df = scan(spark, snap.schemaJson, snap.filePaths)
    val row = df.agg(
      count(lit(1)).as("n"),
      bit_xor(xxhash64(df.columns.map(qcol): _*)).as("x")).head()
    val expectedXor = snap.files.map(_.checksum).foldLeft(0L)(_ ^ _)
    // a committed empty DataFrame still writes a schema-only part file:
    // files non-empty, zero rows, and bit_xor over zero rows is NULL —
    // compare the xor only when rows exist
    if (row.getLong(0) == 0L) snap.rowCount == 0L
    else row.getLong(0) == snap.rowCount && row.getLong(1) == expectedXor
  }

  /** The reference's `--check` verification (J11, index_setsm.py:1179-1197):
    * read back the committed snapshot and count, on the record-id column, the
    * rows of either side whose id the other side lacks; any diff ⇒ failure.
    * One action: the two sides are tagged, unioned and grouped by id, so each
    * id's forward count `f` and read-back count `b` give its diff — `f` when
    * `b` is 0, `b` when `f` is 0. A null id matches nothing, so every
    * null-id row counts. This is the sum of the two directions' anti-joins,
    * duplicates included.
    */
  def check(spark: SparkSession, df: DataFrame, table: String, idCol: String): Long = {
    def side(d: DataFrame, fwd: Int) =
      d.select(col(idCol).as("id"), lit(fwd).as("f"), lit(1 - fwd).as("b"))
    val (id, f, b) = (col("id"), col("f"), col("b"))
    side(df, 1).unionByName(side(read(spark, table), 0))
      .groupBy(id).agg(sum(f).as("f"), sum(b).as("b"))
      .agg(coalesce(sum(when(id.isNull, f + b).when(b === 0, f).when(f === 0, b)), lit(0L)))
      .head().getLong(0)
  }

  /** Iceberg `expire_snapshots` analog: keep the newest `retain` snapshot
    * manifests, delete older manifests, then garbage-collect data files no
    * retained manifest references. Runs under the same table lock as the
    * commit section, so it can never interleave with a pointer swap or
    * manifest write. Files referenced by the just-expired manifests are
    * known-dead and deleted unconditionally; UNKNOWN orphans (a data dir
    * with no manifest — possibly an in-flight writer that has not committed
    * yet) are deleted only once older than `orphanGraceMs`, which closes
    * the classic expire-vs-writer race without coordinating with writers.
    * Returns (manifests deleted, data files deleted).
    */
  def expireSnapshots(table: String, retain: Int = 2,
                      orphanGraceMs: Long = 3600000L,
                      inflightTtlMs: Long = 86400000L): (Int, Int) = {
    require(retain >= 1, "must retain at least the current snapshot")
    if (currentSnapshotId(table).isEmpty) return (0, 0)
    withTableLock(table) {
      val cur = currentSnapshotId(table).getOrElse(return (0, 0))
      val (expired, kept) = snapshotIds(table).partition(_ <= cur - retain)
      // canonicalize BOTH sides: manifest paths are the written files'
      // qualified (absolute, normalized) paths while the walk below is
      // prefixed by however the caller spelled `table` — a raw-string compare
      // on a relative table path would see every live file as unreferenced
      // and GC the whole table
      def canon(p: Path): String = p.toAbsolutePath.normalize.toString
      val keptRefs = kept.flatMap(segmentRefs(table, _)).distinct
      val referenced: Set[String] =
        loadSegments(table, keptRefs).map(f => canon(Paths.get(f.path))).toSet
      val knownDead: Set[String] =
        expired.flatMap(id => readManifest(table, id).filePaths)
          .map(f => canon(Paths.get(f))).toSet -- referenced
      // segment GC: keep only manifest segments some retained snapshot
      // references (content-addressing shares segments across snapshots)
      val keptSegs = keptRefs.map(_.name).toSet
      expired.foreach(id => Files.delete(manifestPath(table, id)))
      list(metaDir(table)).filter { p =>
        val name = p.getFileName.toString
        name.startsWith("segment-") && !keptSegs(name)
      }.foreach(Files.deleteIfExists(_))
      // GC: delete unreferenced files under data/, then prune empty dirs
      val dataRoot = Paths.get(table, "data")
      var deleted = 0
      if (Files.isDirectory(dataRoot)) {
        // a .crc sidecar follows its data file's fate
        def inSet(s: Set[String])(p: Path): Boolean = {
          val name = p.getFileName.toString
          s.contains(canon(p)) ||
            (name.startsWith(".") && name.endsWith(".crc") &&
              s.contains(canon(p.getParent.resolve(name.drop(1).dropRight(4)))))
        }
        val now = System.currentTimeMillis()
        // live-writer protection: a data dir whose _inflight/<uuid> marker is
        // younger than the TTL belongs to a write still in progress — the
        // grace window alone cannot protect a Spark job slower than the
        // grace. Stale markers (crashed writers) age out and are removed.
        val inflightDir = Paths.get(table, "_inflight")
        val liveUuids: Set[String] =
          if (!Files.isDirectory(inflightDir)) Set.empty
          else list(inflightDir).flatMap { m =>
            if (now - Files.getLastModifiedTime(m).toMillis > inflightTtlMs) {
              Files.deleteIfExists(m); None
            } else Some(m.getFileName.toString)
          }.toSet
        def inLiveWrite(p: Path): Boolean = {
          val rel = dataRoot.relativize(p)
          rel.getNameCount > 0 && liveUuids.contains(rel.getName(0).toString)
        }
        walk(dataRoot).filter(Files.isRegularFile(_)).foreach { p =>
          if (!inSet(referenced)(p) && !inLiveWrite(p)) {
            val dead = inSet(knownDead)(p) ||
              now - Files.getLastModifiedTime(p).toMillis > orphanGraceMs
            if (dead) { Files.delete(p); deleted += 1 }
          }
        }
        // prune the directories the GC emptied, deepest first
        walk(dataRoot).filter(d => d != dataRoot && Files.isDirectory(d))
          .sortBy(-_.getNameCount).foreach(d => if (list(d).isEmpty) Files.delete(d))
      }
      (expired.size, deleted)
    }
  }

  /** Every path under `root` (root first) to `depth` levels, collected
    * eagerly so the directory stream is closed before callers delete. */
  private def walk(root: Path, depth: Int = Int.MaxValue): Seq[Path] = {
    val s = Files.walk(root, depth)
    try s.iterator().asScala.toSeq finally s.close()
  }
  private def list(dir: Path): Seq[Path] = walk(dir, 1).tail

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) walk(p).sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
}

/** Multi-stage resumable pipeline over Icelite tables. */
class Pipeline(spark: SparkSession, root: String) {

  /** Run (or skip) a stage: if `table` already has a snapshot whose input
    * fingerprint matches, return its data without recomputation — the
    * kill-and-resume semantics of SURVEY.md §7.2 step 8.
    */
  def stage(name: String, inputFingerprint: String)(body: => DataFrame): DataFrame = {
    val table = s"$root/$name"
    // read exactly the snapshot whose fingerprint was checked (or the one
    // just committed) — re-resolving _CURRENT could return a later commit
    val snap = Icelite.currentSnapshotId(table).map(Icelite.readManifest(table, _))
      .filter(_.inputFingerprint == inputFingerprint)
      .getOrElse(Icelite.commit(spark, body, table, inputFingerprint))
    Icelite.readSnapshot(spark, snap)
  }
}
