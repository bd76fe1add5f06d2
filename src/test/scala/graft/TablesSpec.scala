package graft

import java.nio.file.Files
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.jobs.IndexJob
import graft.pages.Pages
import graft.sources.Tables
import graft.table.Icelite

/** The input-table reader: the schema it hands Spark is the one inference
  * finds, and building a read starts no Spark job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureTables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  test("every fixture table reads with the schema inference would find") {
    fixtureTables.foreach { t =>
      assert(Tables.read(spark, Sf, t).schema === spark.read.parquet(Tables.path(Sf, t)).schema, t)
    }
  }

  test("a directory of part files reads with its first part's schema") {
    val dir = Files.createTempDirectory("tables").toString
    spark.range(30).select(col("id"), col("id").cast("string").as("s"),
        lit(java.time.LocalDateTime.of(2024, 1, 1, 0, 0)).as("ts"))
      .repartition(3).write.parquet(Tables.path(dir, "t"))
    val read = Tables.read(spark, dir, "t")
    assert(read.schema === spark.read.parquet(Tables.path(dir, "t")).schema)
    assert(read.count() === 30)
  }

  test("building input and snapshot reads starts no Spark job") {
    val root = Files.createTempDirectory("tables-jobs").toString
    Icelite.commit(spark, (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), s"$root/full")
    Icelite.commit(spark, Seq.empty[(Long, String)].toDF("id", "v"), s"$root/empty")
    var empty: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      Tables.read(spark, Sf, "documents")
      Icelite.read(spark, s"$root/full")
      empty = Icelite.read(spark, s"$root/empty")
      Icelite.readWhere(spark, s"$root/full", ("id", 2L, 4L))
      Pages.fromDocuments(spark, Sf)
    }
    assert(jobs === 0)
    assert(empty.columns.toSeq === Seq("id", "v"))
  }

  test("selecting a column the file lacks still fails at analysis") {
    intercept[AnalysisException] {
      Tables.read(spark, Sf, "nation").select("no_such_column")
    }
  }

  test("IndexJob recomputes its stages when its input table is rewritten") {
    val sf = Files.createTempDirectory("tables-sf").toString
    val root = Files.createTempDirectory("tables-index").toString
    def writeDocs(n: Int): Unit =
      spark.read.parquet(Tables.path(Sf, "documents")).orderBy("doc_id").limit(n)
        .coalesce(1).write.mode("overwrite").parquet(Tables.path(sf, "documents"))
    writeDocs(100)
    assert(IndexJob.run(spark, sf, root) === (100L, 0L))
    writeDocs(50)
    assert(IndexJob.run(spark, sf, root) === (50L, 0L))
    assert(Icelite.read(spark, s"$root/pages").count() === 50)
    assert(Icelite.read(spark, s"$root/index").count() === 50)
  }

  test("IndexJob's A13 counts are its snapshots' row counts; O3 keeps the smallest ids") {
    val sf = Files.createTempDirectory("tables-sf").toString
    val root = Files.createTempDirectory("tables-index").toString
    // 40 of 100 docs get a lang long enough for a 300-char url, over the
    // 256-char url width (url = https://example.org/<lang>/doc-<doc_id>)
    spark.read.parquet(Tables.path(Sf, "documents")).orderBy("doc_id").limit(100)
      .withColumn("lang", when(col("doc_id") % 5 < 2,
        expr("rpad(lang, 275 - length(cast(doc_id as string)), 'x')")).otherwise(col("lang")))
      .coalesce(1).write.parquet(Tables.path(sf, "documents"))
    assert(IndexJob.run(spark, sf, root) === (60L, 0L))
    def rowCount(t: String) = Icelite.historyDf(spark, s"$root/$t")
      .filter(col("is_current")).select("row_count").as[Long].head()
    assert(rowCount("pages") - rowCount("index") === 40)
    val invalid = Icelite.read(spark, s"$root/pages").filter(length(col("url")) > 256)
    assert(invalid.select(length(col("url"))).as[Int].collect().toSeq === Seq.fill(40)(300))
    val smallest = invalid
      .select(concat_ws("|", col("url"), col("lang"), col("doc_id")).as("id"))
      .as[String].collect().sorted.take(30)
    val errors = Icelite.read(spark, s"$root/errors").select("record_id").as[String].collect()
    assert(errors.sorted === smallest)
    assert(!Files.exists(java.nio.file.Paths.get(root, "metrics")))
  }
}
