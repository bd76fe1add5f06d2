package org.apache.spark.sql.graft

import java.util.UUID
import scala.annotation.switch
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, Literal, SortOrder,
  UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.{FileFormat, FileFormatWriter, V1WriteCommand,
  V1WritesUtils, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.SchemaUtils

/** The lineage of one written data file: its row count, the xor of Spark's
  * `xxhash64` (seed 42) over its data columns per row, and the rendered
  * (min, max) of each stats column that holds a non-null value. */
case class FileLineage(path: String, rows: Long, checksum: Long,
                       bounds: Map[String, (String, String)])

/** Parquet writes that collect each file's [[FileLineage]] while the rows are
  * written, so a commit needs no second pass over its own files. */
object LineageWrite {

  /** Write `df` as parquet under `outputPath`, partitioned by `partitionBy`,
    * and return the lineage of every file that received a row, with its
    * committed path as `input_file_name()` reads it back (the qualified
    * path's `toUri.getPath`).
    * The write runs as one command, so it gets an SQL execution id and the
    * listener events that complete an `Observation` on `df`. */
  def parquet(df: DataFrame, outputPath: String, partitionBy: Seq[String],
              statCols: Seq[String]): Seq[FileLineage] = {
    val session = df.sparkSession.asInstanceOf[SparkSession]
    val out = new Path(outputPath)
    val root = out.getFileSystem(session.sessionState.newHadoopConf()).makeQualified(out)
    val query = df.queryExecution.analyzed
    val dataSchema = StructType(df.schema.filterNot(f => partitionBy.contains(f.name)))
    val tracker = new LineageJobTracker(dataSchema, statCols, partitionBy.size)
    val cmd = LineageWriteCommand(root.toString,
      partitionBy.map(n => query.output.find(_.name == n).get), query,
      query.output.map(_.name), tracker)
    session.sessionState.executePlan(cmd).assertCommandExecuted()
    tracker.files.map(f => f.copy(path = new Path(root, f.path).toUri.getPath))
  }
}

/** A parquet write through `FileFormatWriter`, modelled on
  * `InsertIntoHadoopFsRelationCommand` into a fresh directory: the same
  * planned write (a `V1WriteCommand`, so partitioned rows are sorted inside
  * the adaptive plan), committer and `__slice=` layout, plus `lineage`
  * beside the basic write stats. */
case class LineageWriteCommand(outputPath: String, partitionColumns: Seq[Attribute],
                               query: LogicalPlan, outputColumnNames: Seq[String],
                               lineage: LineageJobTracker) extends V1WriteCommand {
  override val fileFormat: FileFormat = new ParquetFileFormat
  override def staticPartitions: Map[String, String] = Map.empty
  override def bucketSpec: Option[BucketSpec] = None
  override def options: Map[String, String] = Map.empty
  override def requiredOrdering: Seq[SortOrder] =
    V1WritesUtils.getSortOrder(outputColumns, partitionColumns, bucketSpec, options)

  override def run(session: SparkSession, child: SparkPlan): Seq[Row] = {
    // parquet cannot hold two columns of one name
    SchemaUtils.checkColumnNameDuplication(outputColumnNames,
      session.sessionState.conf.caseSensitiveAnalysis)
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val committer = FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID().toString, outputPath = outputPath)
    FileFormatWriter.write(session, child, fileFormat, committer,
      FileFormatWriter.OutputSpec(outputPath, Map.empty, outputColumns), hadoopConf,
      partitionColumns, bucketSpec, Seq(basicWriteJobStatsTracker(hadoopConf), lineage),
      options)
    Seq.empty
  }

  override protected def withNewChildInternal(newChild: LogicalPlan): LineageWriteCommand =
    copy(query = newChild)
}

/** Collects [[FileLineage]] per written file. The rows a writer hands its
  * trackers hold the data columns in `dataSchema` order (partition columns
  * are directories, not data). Each file's stats are what the aggregate
  * `count(1)`, `bit_xor(xxhash64(cols…))`, `min(c).cast("string")` and
  * `max(c).cast("string")` would read back from it:
  *   - min/max compare under Spark's ordering for the type, so NaN sorts
  *     highest and -0.0 ties 0.0 (the first seen is kept, as `least` does);
  *   - a FloatType column compares and renders through double, so the
  *     stored bound is the exact binary value (Icelite's numeric prune
  *     compare then agrees with a filter's float→double upcast).
  * The tasks see staging paths, so a file is keyed by its path relative to
  * the output root: its last `partitionDepth` directories and its name (a
  * task reuses one part-file name in every partition directory it writes).
  * The instance the write was planned with collects every task's files
  * when the job commits. */
class LineageJobTracker(dataSchema: StructType, statCols: Seq[String], partitionDepth: Int)
    extends WriteJobStatsTracker {
  @transient private var collected: Seq[FileLineage] = Seq.empty

  def files: Seq[FileLineage] = collected

  override def newTaskInstance(): WriteTaskStatsTracker =
    new LineageTaskTracker(dataSchema, statCols, partitionDepth)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap(_.asInstanceOf[LineageTaskStats].files)
}

private case class LineageTaskStats(files: Seq[FileLineage]) extends WriteTaskStats

private class LineageTaskTracker(dataSchema: StructType, statCols: Seq[String],
                                 partitionDepth: Int) extends WriteTaskStatsTracker {
  // the constructor SQL `xxhash64(cols…)` resolves to (seed 42), generated
  // once per schema: interpreted, it costs several times the generated form
  private val hash = UnsafeProjection.create(Seq(new XxHash64(dataSchema.fields.toSeq
    .zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, nullable = true) })))
  private val ordinals = statCols.map(dataSchema.fieldIndex).toArray
  private val types = ordinals.map(dataSchema(_).dataType)
  // how each stats column is read and compared without boxing: integral
  // types as long, FloatType and DoubleType as double, the rest (strings,
  // decimals) under Spark's ordering for the type
  private val kinds = types.map {
    case ByteType => 0
    case ShortType => 1
    case IntegerType => 2
    case LongType => 3
    case FloatType => 4
    case DoubleType => 5
    case _ => 6
  }
  private val orderings = types.map(PhysicalDataType.ordering)

  private final class Acc {
    var rows = 0L
    var checksum = 0L
    val seen = new Array[Boolean](ordinals.length)
    val lLo = new Array[Long](ordinals.length)
    val lHi = new Array[Long](ordinals.length)
    val dLo = new Array[Double](ordinals.length)
    val dHi = new Array[Double](ordinals.length)
    val oLo = new Array[Any](ordinals.length)
    val oHi = new Array[Any](ordinals.length)

    def addLong(i: Int, v: Long): Unit =
      if (!seen(i)) { seen(i) = true; lLo(i) = v; lHi(i) = v }
      else if (v < lLo(i)) lLo(i) = v
      else if (v > lHi(i)) lHi(i) = v

    def addDouble(i: Int, v: Double): Unit =
      if (!seen(i)) { seen(i) = true; dLo(i) = v; dHi(i) = v }
      else if (SQLOrderingUtil.compareDoubles(v, dLo(i)) < 0) dLo(i) = v
      else if (SQLOrderingUtil.compareDoubles(v, dHi(i)) > 0) dHi(i) = v

    def addOther(i: Int, v: Any): Unit =
      if (!seen(i)) { seen(i) = true; oLo(i) = InternalRow.copyValue(v); oHi(i) = oLo(i) }
      else if (orderings(i).lt(v, oLo(i))) oLo(i) = InternalRow.copyValue(v)
      else if (orderings(i).gt(v, oHi(i))) oHi(i) = InternalRow.copyValue(v)

    /** The rendered (min, max) of stats column `i`, None when all null. */
    def bounds(i: Int): Option[(String, String)] =
      if (!seen(i)) None
      // an integral value casts to the same digits from any integral type
      else if (kinds(i) <= 3) Some((render(lLo(i), LongType), render(lHi(i), LongType)))
      else if (kinds(i) <= 5) Some((render(dLo(i), DoubleType), render(dHi(i), DoubleType)))
      else Some((render(oLo(i), types(i)), render(oHi(i), types(i))))
  }
  private val files = mutable.LinkedHashMap.empty[String, Acc]
  private var curPath: String = _
  private var cur: Acc = _

  override def newPartition(partitionValues: InternalRow): Unit = ()
  override def newFile(filePath: String): Unit = ()
  override def closeFile(filePath: String): Unit = ()

  override def newRow(filePath: String, row: InternalRow): Unit = {
    if (filePath != curPath) {
      cur = files.getOrElseUpdate(relative(filePath), new Acc)
      curPath = filePath
    }
    cur.rows += 1
    cur.checksum ^= hash(row).getLong(0)
    var i = 0
    while (i < ordinals.length) {
      val o = ordinals(i)
      // the first value seen is kept on a tie (-0.0 against 0.0), as the
      // `least`/`greatest` behind min/max keep it
      if (!row.isNullAt(o)) (kinds(i): @switch) match {
        case 0 => cur.addLong(i, row.getByte(o))
        case 1 => cur.addLong(i, row.getShort(o))
        case 2 => cur.addLong(i, row.getInt(o))
        case 3 => cur.addLong(i, row.getLong(o))
        case 4 => cur.addDouble(i, row.getFloat(o).toDouble)
        case 5 => cur.addDouble(i, row.getDouble(o))
        case _ => cur.addOther(i, row.get(o, types(i)))
      }
      i += 1
    }
  }

  private def relative(filePath: String): String = {
    var p = new Path(filePath)
    var key = p.getName
    for (_ <- 1 to partitionDepth) { p = p.getParent; key = s"${p.getName}/$key" }
    key
  }

  private def render(v: Any, t: DataType): String =
    Cast(Literal(v, t), StringType).eval().toString

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    LineageTaskStats(files.iterator.map { case (key, a) =>
      val bounds = statCols.indices.flatMap(i => a.bounds(i).map(statCols(i) -> _)).toMap
      FileLineage(key, a.rows, a.checksum, bounds)
    }.toSeq)
}
