package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The input tables of a scale-factor directory: `<sfDir>/<name>.parquet`,
  * one parquet file or a directory of part files.
  *
  * Every input read goes through [[read]], which hands Spark the table's
  * schema up front. `spark.read.parquet(path)` alone would start one Spark
  * job per read just to infer that schema; here the schema comes from one
  * footer read on the driver, converted by Spark's own converter, so it is
  * the schema inference would have found — a missing column is still an
  * analysis error, never a silent column of NULLs.
  */
object Tables {

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** The table `name` of `sfDir`, read with its file schema and no job. */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = path(sfDir, name)
    spark.read.schema(schema(spark, p)).parquet(p)
  }

  /** The Spark schema of the parquet table at `path`, from the footer of its
    * first data file in name order — the one file Spark's non-merging
    * inference reads. */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val st = files(path, conf).headOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }

  /** The sorted (file name, size, mtime) of the data files of table `name`:
    * it changes whenever the table is rewritten, so resumable stages fold it
    * into their input fingerprints. */
  def stamp(sfDir: String, name: String): String =
    files(path(sfDir, name))
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString(",")

  /** The data files of the table at `path`: the file itself, or the
    * non-hidden `.parquet` files of its directory in name order. */
  def files(path: String, conf: Configuration = new Configuration()): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(p).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
  }
}
