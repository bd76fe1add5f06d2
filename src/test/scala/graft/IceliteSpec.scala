package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.table.{Icelite, Pipeline}
import graft.jobs.IndexJob

/** Snapshot layer: atomic commit, manifest-scoped reads, lineage, and the
  * kill-and-resume equality guarantee (SURVEY.md §5(g), §7.2 step 8).
  */
class IceliteSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("icelite").toString

  test("commit/read roundtrip with manifest-scoped files") {
    val t = tmpDir() + "/t1"
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val snap = Icelite.commit(spark, df, t)
    assert(snap.rowCount === 100)
    assert(snap.files.map(_.rows).sum === 100)
    val back = Icelite.read(spark, t)
    assert(back.count() === 100)
    assert(back.as[(Long, String)].collect().toSet === df.as[(Long, String)].collect().toSet)
  }

  test("uncommitted data dirs are invisible to readers") {
    val t = tmpDir() + "/t2"
    Icelite.commit(spark, Seq((1L, "a")).toDF("id", "v"), t)
    // simulate a crashed half-commit: stray data dir, no manifest/pointer
    val stray = Paths.get(t, "data", "stray-uuid")
    Seq((99L, "ghost")).toDF("id", "v").write.parquet(stray.toString)
    assert(Icelite.read(spark, t).count() === 1)
  }

  test("snapshot ids advance; old snapshots stay readable via manifest") {
    val t = tmpDir() + "/t3"
    Icelite.commit(spark, Seq((1L, "a")).toDF("id", "v"), t)
    Icelite.commit(spark, Seq((2L, "b"), (3L, "c")).toDF("id", "v"), t)
    assert(Icelite.currentSnapshotId(t) === Some(2L))
    val s1 = Icelite.readManifest(t, 1)
    assert(spark.read.parquet(s1.filePaths: _*).count() === 1)
    assert(Icelite.read(spark, t).count() === 2)
  }

  test("check (J11) catches divergence") {
    val t = tmpDir() + "/t4"
    val df = (1 to 10).map(i => (s"r$i", i)).toDF("record_id", "x")
    Icelite.commit(spark, df, t)
    assert(Icelite.check(spark, df, t, "record_id") === 0)
    val tampered = (2 to 11).map(i => (s"r$i", i)).toDF("record_id", "x")
    assert(Icelite.check(spark, tampered, t, "record_id") === 2) // r11 fwd + r1 back
  }

  test("pipeline resume: stage skipped when fingerprint matches, rerun when not") {
    val root = tmpDir()
    val pipe = new Pipeline(spark, root)
    var ran = 0
    def body = { ran += 1; Seq((1L, "x")).toDF("id", "v") }
    pipe.stage("s1", "fpA")(body)
    pipe.stage("s1", "fpA")(body) // resume: same fingerprint -> skip
    assert(ran === 1)
    pipe.stage("s1", "fpB")(body) // input changed -> recompute
    assert(ran === 2)
  }

  test("kill-and-resume produces output identical to a clean run") {
    val cleanRoot = tmpDir()
    val resumeRoot = tmpDir()
    // clean run
    val (n1, diff1) = IndexJob.run(spark, Sf, cleanRoot)
    assert(diff1 === 0)
    // "killed" run: only the first stage committed
    val pipe = new Pipeline(spark, resumeRoot)
    pipe.stage("pages", IndexJob.inputFingerprint(Sf)) { graft.pages.Pages.fromDocuments(spark, Sf) }
    // resume: full run on the partially-complete root
    val (n2, diff2) = IndexJob.run(spark, Sf, resumeRoot)
    assert(diff2 === 0)
    assert(n1 === n2)
    val a = Icelite.read(spark, s"$cleanRoot/index").select("record_id")
    val b = Icelite.read(spark, s"$resumeRoot/index").select("record_id")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("width validation skips wide rows (P6)") {
    val df = Seq(("short", 1), ("waaaaaaaaaaaaaaay-too-long", 2)).toDF("s", "x")
    val validated = IndexJob.validateWidths(df, Map("s" -> 10))
    assert(validated.count() === 1)
  }

  test("error sample is capped at 30 (O3, index_setsm.py:1150-1156)") {
    val df = (1 to 100).map(i => (s"r$i-${"x" * 20}", i)).toDF("record_id", "x")
    val errs = IndexJob.errorSample(df, Map("record_id" -> 10), cap = 30)
    assert(errs.count() === 30)
    // the sample is the 30 smallest ids, however the rejects are split: fed
    // in descending order over 3 partitions, an unordered limit keeps the
    // largest
    def id(i: Int) = f"r$i%03d-${"x" * 20}"
    val desc = spark.sparkContext.parallelize((100 to 1 by -1).map(i => (id(i), i)), 3)
      .toDF("record_id", "x")
    val kept = IndexJob.errorSample(desc, Map("record_id" -> 10), cap = 30)
      .as[(String, String)].collect().map(_._1)
    assert(kept.toSet === (1 to 30).map(id).toSet)
  }

  /** The two-anti-join J11 check `Icelite.check` replaced: the reference its
    * one-action form must equal. */
  private def antiJoinCheck(df: DataFrame, table: String, idCol: String): Long = {
    val back = Icelite.read(spark, table).select(idCol)
    val fwd = df.select(idCol)
    fwd.join(back, Seq(idCol), "left_anti").count() +
      back.join(fwd, Seq(idCol), "left_anti").count()
  }

  test("check (J11) equals the two-way anti-join count on duplicates, nulls and empty sides") {
    val ids: Seq[Seq[Option[String]]] = Seq(
      Seq(Some("a"), Some("a"), Some("b"), None, None, Some("c")),
      Seq(Some("a"), Some("b"), Some("b"), Some("b"), None, Some("d"), Some("d")),
      Seq(Some("x"), Some("y")),
      Seq(None),
      Seq.empty)
    def frame(s: Seq[Option[String]]) =
      s.zipWithIndex.toDF("record_id", "x").repartition(2)
    for (fwd <- ids; back <- ids) {
      val t = tmpDir() + "/j11"
      Icelite.commit(spark, frame(back), t)
      assert(Icelite.check(spark, frame(fwd), t, "record_id") ===
        antiJoinCheck(frame(fwd), t, "record_id"), s"fwd $fwd, back $back")
    }
  }

  test("check (J11) launches fewer Spark jobs than the two-way anti-join") {
    val t = tmpDir() + "/j11-index"
    val rows = IndexJob.indexRows(graft.pages.Pages.fromDocuments(spark, Sf))
    Icelite.commit(spark, rows, t)
    var (one, two) = (-1L, -1L)
    val oneJobs = jobsDuring { one = Icelite.check(spark, rows, t, "record_id") }
    val twoJobs = jobsDuring { two = antiJoinCheck(rows, t, "record_id") }
    assert(one === 0 && two === 0)
    assert(oneJobs < twoJobs, s"check $oneJobs jobs, anti-join reference $twoJobs")
  }

  test("MERGE upsert: incoming wins on PK collision, novel rows append (S17)") {
    val t = tmpDir() + "/m1"
    Icelite.merge(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, Seq("id"))
    Icelite.merge(spark, Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), t, Seq("id"))
    val got = Icelite.read(spark, t).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("MERGE is idempotent: re-running the same batch converges (S17)") {
    val t = tmpDir() + "/m2"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Icelite.merge(spark, batch, t, Seq("id"))
    val once = Icelite.read(spark, t).as[(Long, String)].collect().toSet
    Icelite.merge(spark, batch, t, Seq("id"))
    val twice = Icelite.read(spark, t).as[(Long, String)].collect().toSet
    assert(once === twice)
    assert(Icelite.currentSnapshotId(t) === Some(2L)) // new snapshot, same rows
  }

  test("MERGE dedups the incoming batch on PK (ON CONFLICT within a batch)") {
    val t = tmpDir() + "/m3"
    Icelite.merge(spark, Seq((1L, "a"), (1L, "a2")).toDF("id", "v"), t, Seq("id"))
    assert(Icelite.read(spark, t).count() === 1)
  }

  test("crash mid-merge (data written, no manifest) leaves table intact; re-run converges") {
    val t = tmpDir() + "/m4"
    Icelite.merge(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq("id"))
    // simulate a crash after the data write but before the manifest/pointer:
    // a stray uuid data dir with rows that must stay invisible
    val stray = Paths.get(t, "data", "crashed-merge-uuid")
    Seq((9L, "ghost")).toDF("id", "v").write.parquet(stray.toString)
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet === Set((1L, "a")))
    // re-running the interrupted merge converges to the intended state
    Icelite.merge(spark, Seq((9L, "g2")).toDF("id", "v"), t, Seq("id"))
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (9L, "g2")))
  }

  test("merge rewrites only claim-intersecting slices; untouched files carry byte-identical (O(batch))") {
    val t = tmpDir() + "/m5"
    val big = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Icelite.merge(spark, big, t, Seq("id"), nBuckets = 16)
    val s1 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s1.nBuckets === 16)
    assert(s1.bucketSpec === "id")
    assert(s1.files.map(f => (f.mod, f.res)).sorted === (0 until 16).map((16, _)))
    // snapshot every file's bytes before the upsert
    val bytesBefore = s1.files.map(f => f.path ->
      java.security.MessageDigest.getInstance("MD5").digest(Files.readAllBytes(Paths.get(f.path))).toSeq).toMap
    // single-row upsert touches exactly one slice
    Icelite.merge(spark, Seq((5L, "V5")).toDF("id", "v"), t, Seq("id"), nBuckets = 16)
    val s2 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    val replaced = s1.files.toSet -- s2.files.toSet
    val replacedSlices = replaced.map(f => (f.mod, f.res))
    assert(replacedSlices.size === 1, s"one slice must be rewritten, got $replacedSlices")
    assert(s1.files.filterNot(f => replacedSlices((f.mod, f.res))).toSet
      .subsetOf(s2.files.toSet), "untouched slices' file entries must carry verbatim")
    assert((s2.files.toSet -- s1.files.toSet).forall(f => replacedSlices((f.mod, f.res))),
      "new files may only land in the touched slice")
    // carried files are BYTE-identical, not just same-path (immutability)
    s2.files.filter(f => bytesBefore.contains(f.path)).foreach { f =>
      val now = java.security.MessageDigest.getInstance("MD5")
        .digest(Files.readAllBytes(Paths.get(f.path))).toSeq
      assert(now === bytesBefore(f.path), s"carried file mutated: ${f.path}")
    }
    // content + lineage still correct
    val got = Icelite.read(spark, t).as[(Long, String)].collect().toSet
    assert(got === (1 to 1000).map(i => (i.toLong, if (i == 5) "V5" else s"v$i")).toSet)
    assert(Icelite.verifyLineage(spark, t))
  }

  test("merge writes one file per slice (no file-count rot across merges)") {
    val t = tmpDir() + "/m7"
    val big = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Icelite.merge(spark, big, t, Seq("id"), nBuckets = 8)
    val s1 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s1.files.groupBy(f => (f.mod, f.res)).forall(_._2.size == 1),
      s"one file per slice expected, got ${s1.files.groupBy(f => (f.mod, f.res)).view.mapValues(_.size).toMap}")
    Icelite.merge(spark, Seq((3L, "x"), (4L, "y")).toDF("id", "v"), t, Seq("id"), nBuckets = 8)
    val s2 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s2.files.groupBy(f => (f.mod, f.res)).forall(_._2.size == 1))
  }

  test("merge splits output past maxRowsPerFile; buckets never grow unbounded") {
    val t = tmpDir() + "/m8"
    val big = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Icelite.merge(spark, big, t, Seq("id"), nBuckets = 4, maxRowsPerFile = 50)
    val s1 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s1.files.forall(_.rows <= 50),
      s"file over bound: ${s1.files.filter(_.rows > 50).map(f => (f.mod, f.res, f.rows))}")
    assert(s1.files.forall(_.mod > 4), "1000 rows over 4 buckets must refine the modulus")
    // a small follow-up merge rewrites only intersecting slices, still bounded
    Icelite.merge(spark, Seq((7L, "X")).toDF("id", "v"), t, Seq("id"),
      nBuckets = 4, maxRowsPerFile = 50)
    val s2 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s2.files.forall(_.rows <= 50))
    assert((s1.files.toSet -- s2.files.toSet).size <= 2, "small batch must not rewrite the table")
    val got = Icelite.read(spark, t).as[(Long, String)].collect().toSet
    assert(got === (1 to 1000).map(i => (i.toLong, if (i == 7) "X" else s"v$i")).toSet)
    assert(Icelite.verifyLineage(spark, t))
  }

  test("compact splits oversized files and coalesces sliver siblings; content intact") {
    val t = tmpDir() + "/c1"
    val big = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    // write fat files (bound effectively off), then tighten the bound
    Icelite.merge(spark, big, t, Seq("id"), nBuckets = 4)
    val s1 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s1.files.exists(_.rows > 50))
    val (rewritten, filesAfter) = Icelite.compact(spark, t, maxRowsPerFile = 50)
    assert(rewritten >= s1.files.count(_.rows > 50))
    val s2 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s2.files.size === filesAfter)
    assert(s2.files.forall(_.rows <= 50),
      s"file over bound after compact: ${s2.files.filter(_.rows > 50).map(f => (f.mod, f.res, f.rows))}")
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet
      === (1 to 1000).map(i => (i.toLong, s"v$i")).toSet)
    assert(Icelite.verifyLineage(spark, t))
    // idempotent: a second compact at the same bound is a no-op
    val (r2, _) = Icelite.compact(spark, t, maxRowsPerFile = 50)
    assert(r2 === 0)
    // relaxing the bound lets compact coalesce fine sibling slices back up
    val (r3, f3) = Icelite.compact(spark, t, maxRowsPerFile = 100000)
    assert(r3 > 0, "sliver siblings must coalesce under a loose bound")
    assert(f3 < s2.files.size)
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet
      === (1 to 1000).map(i => (i.toLong, s"v$i")).toSet)
    assert(Icelite.verifyLineage(spark, t))
  }

  test("merge with a different PK spec refuses stale claims (full re-slice, no dup PKs)") {
    val t = tmpDir() + "/spec1"
    Icelite.merge(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, Seq("id"))
    // same table, different key columns: claims hashed under "id" are
    // untrustworthy for key (v,id) — must full-rewrite, not carry
    Icelite.merge(spark, Seq((2L, "b"), (3L, "c")).toDF("id", "v"), t, Seq("v", "id"))
    val s = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s.bucketSpec === "v,id")
    val got = Icelite.read(spark, t).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "b"), (3L, "c")), "no duplicate/stale PK rows")
    assert(Icelite.verifyLineage(spark, t))
  }

  test("diffSnapshots: insert/update/delete deltas, file-pruned, move-invariant (CDC)") {
    val t = tmpDir() + "/cdc1"
    Icelite.merge(spark, (1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      t, Seq("id"), nBuckets = 4)
    Icelite.merge(spark, Seq((3L, "X3"), (6L, "v6")).toDF("id", "v"), t, Seq("id"),
      nBuckets = 4)
    val d12 = Icelite.diffSnapshots(spark, t, 1, 2, Seq("id"))
      .as[(Long, String, String)].collect().toSet
    assert(d12 === Set((3L, "X3", "update"), (6L, "v6", "insert")))
    // delete via a full-overwrite commit dropping id=1
    Icelite.commit(spark, Icelite.read(spark, t).filter(col("id") =!= 1L), t)
    val d23 = Icelite.diffSnapshots(spark, t, 2, 3, Seq("id"))
      .as[(Long, String, String)].collect().toSet
    assert(d23 === Set((1L, "v1", "delete")))
    // a compaction rewrites files but changes no rows: empty delta
    Icelite.merge(spark, Icelite.read(spark, t), t + "_c", Seq("id"), nBuckets = 2)
    Icelite.compact(spark, t + "_c", maxRowsPerFile = 2)
    val dc = Icelite.diffSnapshots(spark, t + "_c", 1,
      Icelite.currentSnapshotId(t + "_c").get, Seq("id"))
    assert(dc.count() === 0, "moved-but-identical rows must not appear in the delta")
    // identical snapshot ids: empty
    assert(Icelite.diffSnapshots(spark, t, 2, 2, Seq("id")).count() === 0)
  }

  test("commit metadata is O(changed buckets): untouched manifest segments are reused by name") {
    def segRefs(t: String, id: Long): Set[String] = Icelite.segmentRefs(t, id).map(_.name).toSet
    val t = tmpDir() + "/seg1"
    val big = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Icelite.merge(spark, big, t, Seq("id"), nBuckets = 16)
    val s1 = segRefs(t, 1)
    assert(s1.size > 1, "segments must be split by base bucket")
    // single-row upsert: every untouched bucket's segment is the SAME file
    Icelite.merge(spark, Seq((5L, "V5")).toDF("id", "v"), t, Seq("id"), nBuckets = 16)
    val s2 = segRefs(t, 2)
    assert((s1 -- s2).size <= 1 && (s2 -- s1).size <= 1,
      s"one bucket changed -> at most one segment may differ (old-only=${s1 -- s2}, new-only=${s2 -- s1})")
    assert((s1 & s2).nonEmpty)
    // expire drops segments only the expired snapshot referenced
    Icelite.expireSnapshots(t, retain = 1, orphanGraceMs = 0L)
    val liveSegs = {
      val ls = Files.list(Paths.get(t, "meta"))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("segment-")).toSet
      finally ls.close()
    }
    assert(liveSegs === s2, "GC must keep exactly the retained snapshot's segments")
    assert(Icelite.read(spark, t).count() === 1000)
    assert(Icelite.verifyLineage(spark, t))
  }

  test("readWhere prunes whole segments at the manifest-list level (clustered commit)") {
    val t = tmpDir() + "/seglevel1"
    // a range-CLUSTERED full-overwrite commit: 80 part files with disjoint
    // tenx ranges → unsliced entries chunk into ~9 path-ordered segments
    // whose aggregated bounds are tight, so a narrow range keeps one chunk
    val df = (1 to 2000).map(i => (i.toLong, i * 10L)).toDF("id", "tenx")
      .repartitionByRange(80, col("tenx"))
    Icelite.commit(spark, df, t)
    val id1 = Icelite.currentSnapshotId(t).get
    val hit = Icelite.readWhere(spark, t, ("tenx", 550L, 550L))
    assert(hit.as[(Long, Long)].collect().toSet === Set((55L, 550L)))
    val meta = Paths.get(t, "meta")
    val refs = Icelite.segmentRefs(t, id1)
    val segs = refs.map(_.name).distinct
    assert(segs.size > 1, "clustered commit must chunk into multiple segments")
    // the keeper: the segment whose aggregated tenx zone map contains 550
    val keepers = refs.filter(_.stats.get("tenx").exists { case (lo, hi) =>
      BigDecimal(lo) <= 550 && BigDecimal(hi) >= 550 }).map(_.name)
    assert(keepers.size === 1, s"tight chunk bounds must keep exactly one segment, got $keepers")
    // delete every OTHER segment file: a full manifest parse now throws, but
    // the list-level pruned scan never opens them — proof the planner
    // skipped whole segments, not just files
    segs.filterNot(keepers.contains).foreach(s => Files.delete(meta.resolve(s)))
    intercept[Exception](Icelite.read(spark, t).count())
    val pruned = Icelite.readWhere(spark, t, ("tenx", 550L, 550L))
    assert(pruned.as[(Long, Long)].collect().toSet === Set((55L, 550L)))
  }

  test("unsupported legacy manifest fails loudly instead of reading as empty") {
    val t = tmpDir() + "/legacy1"
    Icelite.merge(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq("id"))
    // overwrite the manifest with a pre-round-3 shape: rows claimed, but
    // files as a plain string array no parser accepts
    val manifest = Paths.get(t, "meta", "snapshot-1.json")
    Files.writeString(manifest,
      """{"id":1,"uuid":"u","rowCount":1,"inputFingerprint":"","partitions":[[0,1]],
        |"files":["/some/old/file.parquet"]}""".stripMargin)
    val ex = intercept[IllegalStateException](Icelite.read(spark, t))
    assert(ex.getMessage.contains("unsupported/corrupt manifest"))
  }

  test("manifest strings are JSON-escaped: quoted table dirs, fingerprints and PK specs round-trip") {
    val t = tmpDir() + "/q\"t"
    Icelite.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // a fingerprint with a quote and a backslash must resume, not recompute
    val root = tmpDir()
    val pipe = new Pipeline(spark, root)
    val fp = "shelve:/a\"b\\c"
    var ran = 0
    def body = { ran += 1; Seq((1L, "x")).toDF("id", "v") }
    pipe.stage("s", fp)(body)
    pipe.stage("s", fp)(body)
    assert(ran === 1)
    val s = s"$root/s"
    assert(Icelite.readManifest(s, Icelite.currentSnapshotId(s).get).inputFingerprint === fp)
    // the PK spec is persisted and compared: a quoted PK column keeps the
    // slice-granular merge path (no full re-slice on the second merge)
    val m = tmpDir() + "/pk"
    val pk = "k\"ey"
    val rows = (1 to 40).map(i => (i.toLong, s"v$i"))
    val s1 = Icelite.merge(spark, rows.toDF(pk, "v"), m, Seq(pk), nBuckets = 4)
    val s2 = Icelite.merge(spark, Seq((2L, "B")).toDF(pk, "v"), m, Seq(pk), nBuckets = 4)
    assert(Icelite.readManifest(m, s2.id).bucketSpec === pk)
    assert(s2.files.exists(f => s1.files.map(_.path).contains(f.path)),
      "untouched slices must carry over, not be re-sliced")
    assert(Icelite.read(spark, m).as[(Long, String)].collect().toSet
      === rows.map { case (i, v) => (i, if (i == 2L) "B" else v) }.toSet)
  }

  test("a table written by the previous manifest writer reads back field for field") {
    // src/test/resources/icelite: the metadata (pointer, manifest, two
    // segments) of a 6-row merge into 2 buckets, written by the regex-era
    // writer. Data files are not needed to parse metadata.
    val t = Paths.get(getClass.getResource("/icelite/_CURRENT").toURI).getParent.toString
    assert(Icelite.currentSnapshotId(t) === Some(1L))
    val dir = "/tmp/icelite-compat8609685902722909324/t/data/5e6781ce-4ebf-460d-99c2-83e3d44245a7"
    val part = "part-00000-b91687ae-7961-4c92-8985-96d06ea8e2dc.c000.snappy.parquet"
    val schema = """{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":false,"metadata":{}},""" +
      """{"name":"name","type":"string","nullable":true,"metadata":{}}]}"""
    assert(Icelite.readManifest(t, 1) === Icelite.Snapshot(1L, "5e6781ce-4ebf-460d-99c2-83e3d44245a7",
      Seq(
        Icelite.FileEntry(s"$dir/__slice=2_0/$part", 2, 0, 4L, 5071385811192812117L,
          Map("id" -> ("1", "6"), "name" -> ("alpha", "zeta"))),
        Icelite.FileEntry(s"$dir/__slice=2_1/$part", 2, 1, 2L, -6130174000080021206L,
          Map("id" -> ("2", "3"), "name" -> ("beta", "gamma")))),
      6L, "compat:fixture-v1", 2, "id", schema))
    assert(Icelite.segmentRefs(t, 1) === Seq(
      Icelite.SegmentRef("segment-acfce4d8f6838248a78d31ab822a588c.json", 4L,
        Map("id" -> ("1", "6"), "name" -> ("alpha", "zeta"))),
      Icelite.SegmentRef("segment-a6d0b6625f035714aaf0526acdc49bb8.json", 2L,
        Map("id" -> ("2", "3"), "name" -> ("beta", "gamma")))))
  }

  test("concurrent merge and expire are serialized; no lost rows, no GC'd live files") {
    val t = tmpDir() + "/conc1"
    Icelite.merge(spark, Seq((0L, "seed")).toDF("id", "v"), t, Seq("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val merger = new Thread(() => {
      try (1 to 6).foreach { i =>
        Icelite.merge(spark, Seq((i.toLong, s"m$i")).toDF("id", "v"), t, Seq("id"))
      } catch { case e: Throwable => errs.add(e) }
    })
    val expirer = new Thread(() => {
      try (1 to 6).foreach { _ =>
        Icelite.expireSnapshots(t, retain = 1) // default grace spares in-flight writes
        Thread.sleep(5)
      } catch { case e: Throwable => errs.add(e) }
    })
    merger.start(); expirer.start(); merger.join(); expirer.join()
    assert(errs.isEmpty, s"concurrent merge/expire failed: ${errs.asScala.map(_.toString)}")
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet
      === (0 to 6).map(i => (i.toLong, if (i == 0) "seed" else s"m$i")).toSet)
    assert(Icelite.verifyLineage(spark, t))
    // grace=0 after quiescence still GCs expired data
    val (_, fDel) = Icelite.expireSnapshots(t, retain = 1, orphanGraceMs = 0L)
    assert(fDel >= 0)
    assert(Icelite.verifyLineage(spark, t))
  }

  test("time travel: readAt returns a retained old snapshot's rows") {
    val t = tmpDir() + "/tt1"
    Icelite.merge(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq("id"), nBuckets = 4)
    Icelite.merge(spark, Seq((1L, "A2"), (2L, "b")).toDF("id", "v"), t, Seq("id"), nBuckets = 4)
    assert(Icelite.readAt(spark, t, 1).as[(Long, String)].collect().toSet === Set((1L, "a")))
    assert(Icelite.readAt(spark, t, 2).as[(Long, String)].collect().toSet
      === Set((1L, "A2"), (2L, "b")))
  }

  test("merge onto a legacy unbucketed snapshot re-buckets once") {
    val t = tmpDir() + "/m6"
    Icelite.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t) // nBuckets = 0
    Icelite.merge(spark, Seq((2L, "B")).toDF("id", "v"), t, Seq("id"), nBuckets = 4)
    val s = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s.nBuckets === 4)
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "B")))
    assert(Icelite.verifyLineage(spark, t))
  }

  test("expireSnapshots keeps current reads, drops old manifests, GCs orphans") {
    val t = tmpDir() + "/exp1"
    val base = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Icelite.merge(spark, base, t, Seq("id"), nBuckets = 4)
    Icelite.merge(spark, Seq((1L, "x")).toDF("id", "v"), t, Seq("id"), nBuckets = 4)
    Icelite.merge(spark, Seq((2L, "y")).toDF("id", "v"), t, Seq("id"), nBuckets = 4)
    // stray orphan from a crashed commit
    Seq((99L, "ghost")).toDF("id", "v").write.parquet(t + "/data/orphan-uuid")
    val before = Icelite.read(spark, t).as[(Long, String)].collect().toSet
    // grace = 0: the test's orphan is brand-new; production keeps the default
    // grace so an in-flight writer's uncommitted dir survives GC
    val (mDel, fDel) = Icelite.expireSnapshots(t, retain = 1, orphanGraceMs = 0L)
    assert(mDel === 2)
    assert(fDel > 0)
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet === before)
    assert(Icelite.verifyLineage(spark, t))
    assert(!Files.exists(Paths.get(t, "data", "orphan-uuid")), "orphan dir must be GC'd")
    assert(!Files.exists(Paths.get(t, "meta", "snapshot-1.json")))
    assert(Files.exists(Paths.get(t, "meta", "snapshot-3.json")))
  }

  test("two writers + aggressive expirer: retries converge, nothing lost (multi-writer race)") {
    val t = tmpDir() + "/conc2"
    Icelite.merge(spark, Seq((0L, "seed")).toDF("id", "v"), t, Seq("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(ids: Range) = new Thread(() => {
      try ids.foreach { i =>
        Icelite.merge(spark, Seq((i.toLong, s"m$i")).toDF("id", "v"), t, Seq("id"))
      } catch { case e: Throwable => errs.add(e) }
    })
    val w1 = writer(1 to 5)
    val w2 = writer(6 to 10)
    val expirer = new Thread(() => {
      try (1 to 8).foreach { _ =>
        // retain=1 GCs a lost-race base's files while the loser may still be
        // scanning them — the loser must retry from the winner's snapshot,
        // not fail (grace=default spares in-flight uuid dirs via markers)
        Icelite.expireSnapshots(t, retain = 1)
        Thread.sleep(3)
      } catch { case e: Throwable => errs.add(e) }
    })
    // compact rewrites through the same optimistic loop: a base that the
    // merges supersede and the expirer GCs mid-read must retry, not fail
    val compactor = new Thread(() => {
      try while (w1.isAlive || w2.isAlive) Icelite.compact(spark, t, maxRowsPerFile = 2)
      catch { case e: Throwable => errs.add(e) }
    })
    w1.start(); w2.start(); expirer.start(); compactor.start()
    w1.join(); w2.join(); expirer.join(); compactor.join()
    assert(errs.isEmpty, s"multi-writer merge/compact/expire failed: ${errs.asScala.map(_.toString)}")
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet
      === (0 to 10).map(i => (i.toLong, if (i == 0) "seed" else s"m$i")).toSet)
    assert(Icelite.verifyLineage(spark, t))
  }

  test("compact retries a base that merges and retain = 1 expiry supersede mid-read") {
    val t = tmpDir() + "/conc3"
    val rows = (1 to 1000).map(i => (i.toLong, s"v$i"))
    Icelite.merge(spark, rows.toDF("id", "v"), t, Seq("id"), nBuckets = 4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // each merge changes nBuckets, so it rewrites every file, and the expiry
    // after it deletes them all — under a compact that may still be reading
    // them. Four merges move the base at most four times, so no compact pass
    // can lose all 8 attempts.
    val merger = new Thread(() => {
      try (1 to 4).foreach { k =>
        Icelite.merge(spark, rows.toDF("id", "v"), t, Seq("id"), nBuckets = 4 << (k % 2))
        Icelite.expireSnapshots(t, retain = 1)
      } catch { case e: Throwable => errs.add(e) }
    })
    val compactor = new Thread(() => {
      try while (merger.isAlive) Icelite.compact(spark, t, maxRowsPerFile = 50)
      catch { case e: Throwable => errs.add(e) }
    })
    merger.start(); compactor.start()
    merger.join(); compactor.join()
    assert(errs.isEmpty, s"compact beside merge/expire failed: ${errs.asScala.map(_.toString)}")
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet === rows.toSet)
    assert(Icelite.verifyLineage(spark, t))
  }

  test("expire spares a live writer's uncommitted files via the inflight marker") {
    val t = tmpDir() + "/infl1"
    Icelite.merge(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq("id"))
    // simulate a slow in-flight writer: marker present, data dir aging
    val uuid = "slow-writer-uuid"
    Files.createDirectories(Paths.get(t, "_inflight"))
    Files.writeString(Paths.get(t, "_inflight", uuid), "")
    Seq((9L, "pending")).toDF("id", "v").write.parquet(s"$t/data/$uuid")
    // age the data files past any grace (grace=0), marker stays young
    val (_, fDel) = Icelite.expireSnapshots(t, retain = 1, orphanGraceMs = 0L)
    assert(Files.exists(Paths.get(t, "data", uuid)),
      "live writer's data dir must survive GC even past the orphan grace")
    // crashed writer: marker older than the inflight TTL -> files become GC-able
    val (_, fDel2) = Icelite.expireSnapshots(t, retain = 1,
      orphanGraceMs = 0L, inflightTtlMs = 0L)
    assert(fDel2 > 0 && !Files.exists(Paths.get(t, "data", uuid)),
      "stale marker must age out and release the orphan files")
  }

  test("lineage verification detects tampered snapshot data") {
    val t = tmpDir() + "/lv1"
    val df = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val snap = Icelite.commit(spark, df, t)
    assert(Icelite.verifyLineage(spark, t), "pristine snapshot must verify")
    // tamper: overwrite one data file with different rows (same schema)
    val victim = snap.files.head.path
    val tmp = tmpDir() + "/tampered"
    Seq((9999L, "evil")).toDF("id", "v").coalesce(1).write.parquet(tmp)
    val replacement = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    // drop Hadoop's local .crc sidecar so the read reaches OUR check (an
    // object store has no such sidecar; lineage is the defense there)
    val victimPath = Paths.get(victim)
    Files.deleteIfExists(victimPath.getParent.resolve("." + victimPath.getFileName + ".crc"))
    Files.copy(replacement, victimPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(!Icelite.verifyLineage(spark, t), "tampering must be detected")
  }

  test("empty committed snapshot verifies (zero-row xor is vacuous)") {
    val t = tmpDir() + "/lv2"
    Icelite.commit(spark, Seq.empty[(Long, String)].toDF("id", "v"), t)
    assert(Icelite.verifyLineage(spark, t))
  }

  /** The read-back lineage of the files under `dataDir`: one scan grouped by
    * `input_file_name()`, aggregating rows, `bit_xor(xxhash64(cols…))` and
    * per-column min/max cast to string. Commits computed their entries this
    * way before lineage was collected at write time; it stays here as the
    * reference those entries must equal field for field. */
  private def readBackLineage(dataDir: String, schemaJson: String): Seq[Icelite.FileEntry] = {
    import org.apache.spark.sql.types._
    val written = spark.read.schema(DataType.fromJson(schemaJson).asInstanceOf[StructType])
      .parquet(dataDir)
    def q(c: String) = col("`" + c.replace("`", "``") + "`")
    val dataCols = written.columns.filterNot(_ == "__slice").toSeq
    // 0 = string, 1 = numeric, 2 = float (bounds through double)
    val statCols = written.schema.fields.iterator.filter(_.name != "__slice").collect {
      case f if f.dataType == StringType => (f.name, 0)
      case f if f.dataType == FloatType => (f.name, 2)
      case f if f.dataType.isInstanceOf[NumericType] => (f.name, 1)
    }.take(Icelite.MaxStatsCols).toSeq
    val statAggs = statCols.flatMap { case (c, kind) =>
      val base = if (kind == 2) q(c).cast("double") else q(c)
      Seq(min(base).cast("string"), max(base).cast("string"))
    }
    val sliceRe = """__slice=(\d+)_(\d+)""".r
    written.withColumn("__file", input_file_name()).groupBy("__file")
      .agg(count(lit(1)), (bit_xor(xxhash64(dataCols.map(q): _*)) +: statAggs): _*)
      .collect().map { r =>
        val path = new java.net.URI(r.getString(0)).getPath
        val (mod, res) = sliceRe.findFirstMatchIn(path)
          .map(m => (m.group(1).toInt, m.group(2).toInt)).getOrElse((0, 0))
        val stats = statCols.zipWithIndex.flatMap { case ((c, kind), i) =>
          val (mn, mx) = (r.getString(3 + 2 * i), r.getString(4 + 2 * i))
          if (mn == null || mx == null) None
          else if (kind == 0) Icelite.truncateBounds(mn, mx).map(c -> _)
          else Some(c -> (mn, mx))
        }.toMap
        Icelite.FileEntry(path, mod, res, r.getLong(1), r.getLong(2), stats)
      }.toSeq.sortBy(_.path)
  }

  /** The current snapshot's own entries (its uuid's data dir, not carried
    * files) against the read-back reference over that dir. */
  private def assertLineageMatchesReadBack(t: String): Icelite.Snapshot = {
    val snap = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    val dataDir = Paths.get(t, "data", snap.uuid).toAbsolutePath.normalize
    val own = snap.files.filter(f => Paths.get(f.path).startsWith(dataDir)).sortBy(_.path)
    assert(own === readBackLineage(dataDir.toString, snap.schemaJson))
    snap
  }

  test("write-time lineage equals the read-back reference: commit, sliced merge, compact, empty") {
    val t = tmpDir() + "/wl1"
    val df = (0 until 3000).map(i => (i.toLong, s"name_${i % 97}", i * 0.5, (i % 11).toFloat))
      .toDF("id", "name", "x", "f").repartition(3)
    Icelite.commit(spark, df, t)
    assert(assertLineageMatchesReadBack(t).files.size === 3)
    // sliced merge: every slice file is written, none carried
    val m = tmpDir() + "/wl2"
    Icelite.merge(spark, df, m, Seq("id"), nBuckets = 4)
    val s1 = assertLineageMatchesReadBack(m)
    assert(s1.files.size === 4 && s1.files.forall(_.mod == 4))
    // a merge touching one slice writes it next to carried files
    Icelite.merge(spark, Seq((7L, "upd", 1.0, 2.0f)).toDF("id", "name", "x", "f"), m, Seq("id"),
      nBuckets = 4)
    assert(assertLineageMatchesReadBack(m).files.size === 4)
    // compact splits the oversized slices into finer ones
    assert(Icelite.compact(spark, m, maxRowsPerFile = 400)._1 > 0)
    val s3 = assertLineageMatchesReadBack(m)
    assert(s3.files.exists(_.mod > 4) && s3.rowCount === 3000)
    // an empty commit records no entries, as the read-back never groups one
    val e = tmpDir() + "/wl3"
    Icelite.commit(spark, Seq.empty[(Long, String)].toDF("id", "v"), e)
    assert(assertLineageMatchesReadBack(e).files.isEmpty)
  }

  test("write-time lineage equals the read-back reference on edge values") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val n = Icelite.StatsTruncateLen
    val emoji = new String(Character.toChars(0x1F600))
    val top = new String(Character.toChars(0x10FFFF))
    val strings = Seq(
      "a" * (n - 1) + emoji + "tail", // the cut lands inside a surrogate pair
      top * (n / 2 + 3),              // a U+10FFFF run: no upper bound exists
      "b" * 40, "", "\uE000", emoji, null)
    val doubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, Double.MinPositiveValue, null)
    val floats = Seq(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity, Float.MinPositiveValue,
      0.1f, -2.7f, Float.MaxValue, null)
    val zeros = Seq(-0.0, 0.0, null)
    val decimals = Seq("-12345.67891", "0.00001", "99999999999999.99999", null)
      .map(v => if (v == null) null else new java.math.BigDecimal(v))
    val extra = (0 until 8).map(j => StructField(s"x$j", IntegerType))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("s", StringType),
      StructField("d", DoubleType), StructField("f", FloatType), StructField("z", DoubleType),
      StructField("dec", DecimalType(20, 5)), StructField("none", StringType),
      StructField("b", ByteType), StructField("sh", ShortType), StructField("flag", BooleanType),
      StructField("ts", TimestampType), StructField("arr", ArrayType(DoubleType))) ++ extra)
    def at[T](xs: Seq[T], i: Int): T = xs(i % xs.size)
    val rows = (0 until 120).map { i =>
      Row.fromSeq(Seq(i.toLong, at(strings, i), at(doubles, i), at(floats, i), at(zeros, i / 3),
        at(decimals, i), null, (i % 7 - 3).toByte, (i * 31 % 500 - 250).toShort, i % 2 == 0,
        new java.sql.Timestamp(1700000000000L + i), if (i % 5 == 0) null else Seq(i * 0.25, -0.0))
        ++ extra.indices.map(j => if ((i + j) % 9 == 0) null else Integer.valueOf(i * j - 40)))
    }
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(4)
    val t = tmpDir() + "/wl4"
    Icelite.commit(spark, df, t)
    val snap = assertLineageMatchesReadBack(t)
    // the cases the frame must reach: x7 is the 17th eligible column, "none"
    // is all null, d's max is NaN, z ties -0.0 with 0.0, and a U+10FFFF
    // run as a string max leaves no valid upper bound
    val stats = snap.files.map(_.stats)
    assert(stats.forall(st => !st.contains("x7") && !st.contains("none")))
    assert(stats.exists(_.contains("x6")))
    assert(stats.exists(_.get("d").exists(_._2 == "NaN")))
    assert(stats.exists(_.get("f").exists(_._1 == (-2.7f).toDouble.toString)))
    assert(stats.exists(_.get("z").exists(b => b._1 == "-0.0" || b._2 == "-0.0")))
    assert(stats.exists(!_.contains("s")))
    val m = tmpDir() + "/wl5"
    Icelite.merge(spark, df, m, Seq("id"), nBuckets = 2)
    assert(assertLineageMatchesReadBack(m).files.forall(_.mod == 2))
  }

  test("re-merging the compat fixture's rows reproduces its entries (rows, checksum, stats)") {
    val fixture = Paths.get(getClass.getResource("/icelite/_CURRENT").toURI).getParent.toString
    val t = tmpDir() + "/wl6"
    val rows = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"), (5L, "epsilon"),
      (6L, "zeta"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromTuple)),
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT NOT NULL, name STRING"))
    Icelite.merge(spark, df, t, Seq("id"), inputFingerprint = "compat:fixture-v1", nBuckets = 2)
    def key(f: Icelite.FileEntry) = (f.mod, f.res, f.rows, f.checksum, f.stats)
    val want = Icelite.readManifest(fixture, 1)
    val got = assertLineageMatchesReadBack(t)
    assert(got.files.map(key).sortBy(_._2) === want.files.map(key).sortBy(_._2))
    assert(got.copy(id = 0, uuid = "", files = Nil) === want.copy(id = 0, uuid = "", files = Nil))
  }

  test("a commit is one Spark job; a merge launches no job after its write") {
    val t = tmpDir() + "/wl7"
    // a local frame: no exchange, so the write is the only job
    val df = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    assert(jobsRun(Icelite.commit(spark, df, t)) === Seq(true))
    val m = tmpDir() + "/wl8"
    Icelite.merge(spark, df, m, Seq("id"), nBuckets = 2)
    val jobs = jobsRun(Icelite.merge(spark, Seq((3L, "w")).toDF("id", "v"), m, Seq("id"),
      nBuckets = 2))
    assert(jobs.nonEmpty && jobs.last, s"the merge's last job must be its write: $jobs")
    assert(jobs.count(identity) === 1)
  }

  test("density cache: recompute skipped on matching fingerprint (S10)") {
    val root = tmpDir()
    val pages = graft.pages.Pages.fromDocuments(spark, Sf)
    val first = graft.ops.Tiling.densityCached(spark, pages, root, s"pages:$Sf")
      .as[(String, Long, Double, Double)].collect().toSet
    val firstSnap = Icelite.currentSnapshotId(s"$root/density")
    // second call with the same fingerprint must NOT commit a new snapshot
    val second = graft.ops.Tiling.densityCached(spark, pages, root, s"pages:$Sf")
      .as[(String, Long, Double, Double)].collect().toSet
    assert(Icelite.currentSnapshotId(s"$root/density") === firstSnap)
    assert(first === second)
    // and the cached values equal a direct computation
    val direct = graft.ops.Tiling.densityStats(pages)
      .as[(String, Long, Double, Double)].collect().toSet
    assert(first === direct)
  }

  test("path-list source expands txt lists, dirs, and single files (S3)") {
    val root = Files.createTempDirectory("pathlist")
    val sub = Files.createDirectories(root.resolve("sub"))
    Files.writeString(root.resolve("a_dem.tif"), "x")
    Files.writeString(sub.resolve("b_dem.tif"), "x")
    Files.writeString(sub.resolve("c_meta.txt"), "x")
    val list = root.resolve("paths.txt")
    Files.writeString(list,
      s"""# comment
         |${root.resolve("a_dem.tif")}
         |$sub
         |${root.resolve("a_dem.tif")}
         |not-matching.bin
         |""".stripMargin)
    val got = graft.sources.PathList.expand(spark, list.toString, "_dem.tif")
      .as[String].collect().toSet
    assert(got === Set(root.resolve("a_dem.tif").toString, sub.resolve("b_dem.tif").toString))
    // dir mode
    val dirGot = graft.sources.PathList.expand(spark, root.toString, "_dem.tif")
      .as[String].collect().toSet
    assert(dirGot === got)
    // single-file mode
    assert(graft.sources.PathList.expand(spark, root.resolve("a_dem.tif").toString, "_dem.tif")
      .count() === 1)
    // S1 depth bound: maxDepth=1 sees only the root level, not sub/
    val shallow = graft.sources.PathList.expand(spark, root.toString, "_dem.tif", maxDepth = 1)
      .as[String].collect().toSet
    assert(shallow === Set(root.resolve("a_dem.tif").toString))
    // S1 lower bound: minDepth=2 sees only sub/, not the root level
    val deep = graft.sources.PathList.expand(spark, root.toString, "_dem.tif", minDepth = 2)
      .as[String].collect().toSet
    assert(deep === Set(sub.resolve("b_dem.tif").toString))
  }
}

/** Per-file zone maps (Iceberg lower/upper-bounds analog) + manifest-level
  * data skipping. */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("zonemap").toString

  test("readWhere prunes range scans at the manifest level; results exact") {
    val t = tmpDir() + "/z1"
    val df = (0 until 20000).map(i => (i.toLong, 1700000000L + i, s"name_$i"))
      .toDF("id", "ts", "name")
      .repartitionByRange(8, col("ts")) // time-clustered files, like an append-by-day table
    Icelite.commit(spark, df, t)
    val snap = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(snap.files.size === 8)
    assert(snap.files.forall(_.stats.contains("ts")))
    val keep = Icelite.pruneFiles(snap.files, "ts", 1700005000L, 1700007000L)
    assert(keep.size < snap.files.size, s"pruning must drop files (kept ${keep.size}/8)")
    val got = Icelite.readWhere(spark, t, ("ts", 1700005000L, 1700007000L))
      .as[(Long, Long, String)].collect().toSet
    val want = Icelite.read(spark, t)
      .filter(col("ts") >= 1700005000L && col("ts") <= 1700007000L)
      .as[(Long, Long, String)].collect().toSet
    assert(got === want)
    assert(got.size === 2001)
    // fully-out-of-range scan: zero files, empty result, schema preserved
    val none = Icelite.readWhere(spark, t, ("ts", 0L, 10L))
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("id", "ts", "name"))
  }

  test("string bounds are truncated soundly (prefix lower, incremented upper)") {
    val t = tmpDir() + "/z2"
    val longPfx = "a" * 30 // longer than StatsTruncateLen
    val df = (0 until 100).map(i => (i.toLong, f"$longPfx$i%03d")).toDF("id", "s")
      .repartitionByRange(4, col("s"))
    Icelite.commit(spark, df, t)
    val snap = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    val st = snap.files.flatMap(_.stats.get("s"))
    assert(st.nonEmpty)
    assert(st.forall { case (lo, hi) =>
      lo.length <= Icelite.StatsTruncateLen && hi.length <= Icelite.StatsTruncateLen })
    // truncated bounds stay sound: an exact-value range query still finds its row
    val got = Icelite.readWhere(spark, t, ("s", s"${longPfx}042", s"${longPfx}042"))
      .as[(Long, String)].collect()
    assert(got.toSeq === Seq((42L, s"${longPfx}042")))
  }

  test("merge carries stats on untouched files; rewritten slices get fresh stats") {
    val t = tmpDir() + "/z3"
    val b1 = (0 until 4000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Icelite.merge(spark, b1, t, Seq("id"), nBuckets = 4)
    val s1 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(s1.files.forall(f => f.stats.contains("id") && f.stats.contains("v")))
    // touch ONE id: only its slice rewrites; carried entries keep stats verbatim
    val b2 = Seq((17L, "updated")).toDF("id", "v")
    Icelite.merge(spark, b2, t, Seq("id"), nBuckets = 4)
    val s2 = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    val carried = s2.files.filter(f => s1.files.exists(_.path == f.path))
    assert(carried.nonEmpty)
    carried.foreach { f =>
      assert(f.stats === s1.files.find(_.path == f.path).get.stats) }
    assert(s2.files.forall(_.stats.contains("id")))
    // pruning on the PK: hash slices span the full range, so nothing prunes —
    // but nothing is WRONGLY pruned either
    val got = Icelite.readWhere(spark, t, ("id", 17L, 17L))
      .as[(Long, String)].collect()
    assert(got.toSeq === Seq((17L, "updated")))
  }

  test("entries without stats are never pruned (legacy manifests)") {
    val legacy = Seq(
      Icelite.FileEntry("/x/a.parquet", 0, 0, 10, 1L),
      Icelite.FileEntry("/x/b.parquet", 0, 0, 10, 2L, Map("id" -> ("0", "5"))))
    val kept = Icelite.pruneFiles(legacy, "id", 100L, 200L)
    assert(kept.map(_.path) === Seq("/x/a.parquet"))
    // stats on a different column don't affect pruning on this one
    assert(Icelite.pruneFiles(legacy, "other", 1L, 2L).size === 2)
  }

  test("readWhere prunes on the conjunction of ranges; results exact") {
    val t = tmpDir() + "/z7"
    val df = (0 until 20000).map(i => (i.toLong, 1700000000L + i, s"n_$i"))
      .toDF("id", "ts", "name")
      .repartitionByRange(8, col("ts"))
    Icelite.commit(spark, df, t)
    val snap = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    // both columns are range-clustered (id tracks ts), so the conjunction
    // prunes at least as hard as either single range
    val single = Icelite.pruneFiles(snap.files, "ts", 1700005000L, 1700007000L)
    val both = Icelite.pruneFiles(single, "id", 5000L, 5500L)
    assert(both.size <= single.size && both.size < snap.files.size)
    val got = Icelite.readWhere(spark, t,
        ("ts", 1700005000L, 1700007000L), ("id", 5000L, 5500L))
      .as[(Long, Long, String)].collect().toSet
    val want = Icelite.read(spark, t)
      .filter(col("ts") >= 1700005000L && col("ts") <= 1700007000L
        && col("id") >= 5000L && col("id") <= 5500L)
      .as[(Long, Long, String)].collect().toSet
    assert(got === want && got.size === 501)
  }

  test("string pruning uses UTF-8 byte order (Spark's), not UTF-16 compareTo") {
    // U+E000 vs U+1F600: Java compareTo says emoji <  (surrogate units
    // sort low); Spark min/max and filters order by UTF-8 bytes, where the
    // emoji is GREATER. A compareTo-based pruner would drop this file.
    val e000 = ""
    val emoji = new String(Character.toChars(0x1F600))
    assert(emoji.compareTo(e000) < 0, "fixture must expose the ordering split")
    assert(Icelite.utf8Lt(e000, emoji), "UTF-8 order: E000 < U+1F600")
    val entry = Icelite.FileEntry("/x/c.parquet", 0, 0, 2, 1L,
      Map("s" -> (e000, emoji))) // Spark-computed bounds (UTF-8 min/max)
    assert(Icelite.pruneFiles(Seq(entry), "s", e000, e000).nonEmpty,
      "file containing the exact value must never be pruned")
    // end-to-end: commit rows with both values, range-read each back
    val t = tmpDir() + "/z4"
    Icelite.commit(spark, Seq((1L, e000), (2L, emoji)).toDF("id", "s"), t)
    assert(Icelite.readWhere(spark, t, ("s", e000, e000))
      .as[(Long, String)].collect().toSeq === Seq((1L, e000)))
    assert(Icelite.readWhere(spark, t, ("s", emoji, emoji))
      .as[(Long, String)].collect().toSeq === Seq((2L, emoji)))
  }

  test("truncateBounds never splits surrogate pairs; bounds survive the b64 roundtrip") {
    val n = Icelite.StatsTruncateLen
    // 24th UTF-16 unit is the HIGH surrogate of an emoji: a unit-level cut
    // would strand it and b64's UTF-8 encode would mangle it to '?'
    val risky = "a" * (n - 1) + new String(Character.toChars(0x1F600)) + "tail"
    val Some((lo, hi)) = Icelite.truncateBounds("a" * (n + 5), risky)
    Seq(lo, hi).foreach { b =>
      // a lone surrogate would encode to '?' and fail this roundtrip
      assert(new String(b.getBytes("UTF-8"), "UTF-8") === b,
        s"bound must survive the UTF-8 manifest roundtrip byte-identically: $b")
    }
    // upper bound soundness in UTF-8 byte order: hi > risky
    assert(Icelite.utf8Lt(risky, hi), "incremented upper bound must exceed the value")
    // lower bound: plain prefix, <= original
    assert(!Icelite.utf8Lt("a" * (n + 5), lo))
    // increment never lands in the surrogate gap
    val preGap = "b" * (n - 1) + "퟿" + "tail"
    val Some((_, hi2)) = Icelite.truncateBounds("b", preGap)
    assert(hi2.last == '', "bump past the surrogate range, not into it")
    // all-U+10FFFF: no valid upper bound exists -> no stats
    val top = new String(Character.toChars(0x10FFFF)) * (n / 2 + 2)
    assert(Icelite.truncateBounds("a", top).isEmpty)
  }

  test("exotic column names keep zone maps (keys are b64 in the manifest)") {
    val t = tmpDir() + "/z5"
    val weird = "a\"b}:,\\"
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", weird)
    Icelite.commit(spark, df, t)
    val snap = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(f => f.stats.contains("id") && f.stats.contains(weird)),
      "JSON-structural chars in a column name must not cost its zone map")
    assert(Icelite.read(spark, t).count() === 2)
    assert(Icelite.pruneFiles(snap.files, weird, "x", "x").nonEmpty)
    assert(Icelite.pruneFiles(snap.files, weird, "zz", "zz").isEmpty)
  }

  test("dotted column names commit, keep zone maps, and merge (exact-name resolution)") {
    val t = tmpDir() + "/z8"
    // col("a.b") would parse as nested access — lineage/merge must resolve
    // the literal flat name
    Icelite.commit(spark, Seq((1L, "x"), (2L, "y")).toDF("id", "a.b"), t)
    val snap = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(snap.files.forall(f => f.stats.contains("id") && f.stats.contains("a.b")))
    assert(Icelite.read(spark, t).count() === 2)
    Icelite.merge(spark, Seq((3L, "z")).toDF("id", "a.b"), t, Seq("id"))
    assert(Icelite.read(spark, t).count() === 3)
    assert(Icelite.verifyLineage(spark, t))
  }
}

/** Schema persistence: zero-file snapshots must read back typed. */
class EmptySnapshotSchemaSpec extends SparkSpec {
  import spark.implicits._

  test("empty commit keeps its schema through read/readWhere/diffSnapshots") {
    val t = Files.createTempDirectory("emptyschema").toString + "/t"
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    Icelite.commit(spark, empty, t)
    val back = Icelite.read(spark, t)
    assert(back.columns.toSeq === Seq("id", "v"))
    assert(back.schema("id").dataType.typeName === "long")
    // downstream ops that name columns work on the empty table
    assert(back.select("v").filter(col("id") > 0).count() === 0)
    assert(Icelite.readWhere(spark, t, ("id", 1L, 2L)).columns.toSeq === Seq("id", "v"))
    // identical snapshots diff to an empty-but-typed changelog
    Icelite.commit(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val d = Icelite.diffSnapshots(spark, t, 2, 2, Seq("id"))
    assert(d.columns.contains("__change"))
    assert(d.filter(col("__change") === "insert").count() === 0)
  }
}

/** Snapshot rollback + files metadata view. */
class RollbackSpec extends SparkSpec {
  import spark.implicits._

  test("rollback is an O(1) pointer swap; content restored, roll-forward works") {
    val t = Files.createTempDirectory("rollback").toString + "/r1"
    Icelite.merge(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, Seq("id"))
    Icelite.merge(spark, Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), t, Seq("id"))
    val v2 = Icelite.read(spark, t).as[(Long, String)].collect().toSet
    assert(v2 === Set((1L, "a"), (2L, "B2"), (3L, "c")))
    Icelite.rollback(t, 1)
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    // a merge on the rolled-back state allocates a FRESH id (no overwrite)
    Icelite.merge(spark, Seq((9L, "z")).toDF("id", "v"), t, Seq("id"))
    assert(Icelite.currentSnapshotId(t).get === 3L)
    assert(Icelite.read(spark, t).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (9L, "z")))
    // snapshot 2 is untouched and still readable (roll-forward)
    assert(Icelite.readAt(spark, t, 2).as[(Long, String)].collect().toSet === v2)
    // rollback to an unknown id fails loudly
    intercept[Exception] { Icelite.rollback(t, 99) }
  }

  test("historyDf lists retained snapshots with the current flag; expire shrinks it") {
    val t = Files.createTempDirectory("rollback").toString + "/r3"
    Icelite.merge(spark, Seq((1L, "a")).toDF("id", "v"), t, Seq("id"))
    Icelite.merge(spark, Seq((2L, "b")).toDF("id", "v"), t, Seq("id"))
    Icelite.merge(spark, Seq((3L, "c")).toDF("id", "v"), t, Seq("id"))
    val h = Icelite.historyDf(spark, t).collect().sortBy(_.getLong(0))
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L)) // cumulative row counts
    assert(h.count(_.getBoolean(6)) === 1 && h.last.getBoolean(6))
    assert(h.forall(_.getString(4) == "id"))
    Icelite.expireSnapshots(t, retain = 2)
    val h2 = Icelite.historyDf(spark, t).collect().map(_.getLong(0)).sorted
    assert(h2.toSeq === Seq(2L, 3L))
  }

  test("filesDf exposes slice claims, lineage, and zone maps without data IO") {
    val t = Files.createTempDirectory("rollback").toString + "/r2"
    Icelite.merge(spark, (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      t, Seq("id"), nBuckets = 4)
    val fdf = Icelite.filesDf(spark, t)
    val rows = fdf.collect()
    assert(rows.length === 4)
    assert(fdf.columns.toSeq === Seq("path", "mod", "res", "rows", "checksum", "stats"))
    assert(rows.map(_.getAs[Long]("rows")).sum === 100L)
    // every file carries id + v bounds
    assert(rows.forall(_.getAs[Seq[org.apache.spark.sql.Row]]("stats")
      .map(_.getString(0)).toSet === Set("id", "v")))
  }
}
