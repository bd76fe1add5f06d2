package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Tiling
import graft.pages.Pages

/** Differential tests of the degree-grid aggregates. They group on int grid
  * keys and name each tile after the aggregate; the string-key form they
  * replaced, which names both tiles per page and groups on the names, is
  * kept here as the reference. Both forms must give the same schema,
  * nullability included, and the same rows.
  */
class TilingSpec extends SparkSpec {

  // ---------------------------------------------- the string-key reference

  private def supertileName(step: Int): Column =
    concat(floor(col("lat") / step).cast("int").cast("string"), lit("_"),
      floor(col("lon") / step).cast("int").cast("string"))

  private def refSubtileStats(pages: DataFrame, step: Int, nRows: Int, nCols: Int): DataFrame = {
    val fi = (col("lat") / step - floor(col("lat") / step)) * nRows
    val fj = (col("lon") / step - floor(col("lon") / step)) * nCols
    pages
      .withColumn("supertile", supertileName(step))
      .withColumn("subtile", concat((floor(fi) + 1).cast("int").cast("string"), lit("_"),
        (floor(fj) + 1).cast("int").cast("string")))
      .groupBy("supertile", "subtile").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        (count(lit(1)) / lit(step.toDouble * step / (nRows * nCols))).as("density"))
  }

  private def refCoverageStats(pages: DataFrame): DataFrame =
    refSubtileStats(pages, 10, 2, 2).withColumnRenamed("subtile", "quartertile")

  private def refTileComponents(pages: DataFrame): DataFrame =
    pages
      .withColumn("supertile", supertileName(10))
      .withColumn("pairname",
        concat(lit("P"), lpad((col("doc_id") % 40).cast("string"), 2, "0")))
      .groupBy("supertile")
      .agg(
        array_join(array_sort(collect_set(col("pairname"))), ",").as("pairname_ids"),
        countDistinct(col("pairname")).as("n_pairs"),
        min(col("warc_ts").cast("long")).as("acq_min_epoch"),
        max(col("warc_ts").cast("long")).as("acq_max_epoch"))

  /** (name, int-key form, string-key reference) of every degree-grid aggregate. */
  private val forms: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("coverageStats", p => Tiling.coverageStats(p), refCoverageStats),
    ("subtileStats 3x5", p => Tiling.subtileStats(p, step = 10, nRows = 3, nCols = 5),
      p => refSubtileStats(p, 10, 3, 5)),
    ("tileComponents", Tiling.tileComponents, refTileComponents))

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, what)
    assert(got.count() > 0, s"$what is empty")
    val (extra, missing) = (got.exceptAll(want).collect(), want.exceptAll(got).collect())
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: rows only in the int-key form ${extra.take(5).toSeq}, only in the reference ${missing.take(5).toSeq}")
  }

  // --------------------------------------------------------------- inputs

  private lazy val pages = Pages.fromDocuments(spark, Sf)

  /** Every (lat, lon) pair of `lats` × `lons`, None as null; null lang and
    * n_chars on some rows. Typed as the sf0.001 pages. */
  private def frame(lats: Seq[Option[Double]], lons: Seq[Option[Double]]): DataFrame = {
    val langs = Seq("en", "de", null, "fr")
    val data = lats.flatMap(a => lons.map(a -> _)).zipWithIndex.map { case ((lat, lon), i) =>
      Row(i.toLong, lat.map(Double.box).orNull, lon.map(Double.box).orNull, langs(i % langs.size),
        if (i % 5 == 4) null else Long.box(100L * i), new Timestamp(1704067200000L + 1000L * i))
    }
    val schema = StructType(Seq("doc_id" -> LongType, "lat" -> DoubleType, "lon" -> DoubleType,
      "lang" -> StringType, "n_chars" -> LongType, "warc_ts" -> TimestampType)
      .map { case (n, t) => StructField(n, t) })
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .select(schema.fieldNames.map(n => col(n).cast(pages.schema(n).dataType)): _*)
  }

  /** Lat/lon on multiples of the step (±0.0 included), just below zero, off
    * the grid, NaN and null; the poles for lat and the antimeridian for lon. */
  private lazy val edgeRows = {
    val edges = Seq(-10.0, 0.0, -0.0, 10.0, -1e-12, 5.5, -15.25, Double.NaN).map(Some(_)) :+ None
    frame(edges ++ Seq(Some(90.0), Some(-90.0)), edges ++ Seq(Some(180.0), Some(-180.0)))
  }

  // ---------------------------------------------------------------- tests

  test("int-key tile aggregates equal the string-key form on the sf0.001 pages") {
    for ((name, form, ref) <- forms) assertSame(form(pages), ref(pages), name)
  }

  test("int-key tile aggregates equal the string-key form on step edges, poles, NaN and nulls") {
    // the edge frame reaches every null pattern of the keys
    assert(edgeRows.filter(col("lat").isNull && col("lon").isNotNull).count() > 1)
    assert(edgeRows.filter(col("lon").isNull && col("lat").isNotNull).count() > 1)
    for ((name, form, ref) <- forms) assertSame(form(edgeRows), ref(edgeRows), s"$name on edges")
  }

  test("both forms fail on an infinite coordinate (the int cast overflows), the other one null or not") {
    for (inf <- Seq(Double.PositiveInfinity, Double.NegativeInfinity);
         other <- Seq(Some(1.0), None); latInf <- Seq(true, false)) {
      val (lat, lon) = if (latInf) (Some(inf), other) else (other, Some(inf))
      val df = frame(Seq(lat), Seq(lon))
      for ((name, form, ref) <- forms; (side, f) <- Seq("int keys" -> form, "reference" -> ref)) {
        val e = intercept[Exception](f(df).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains("OVERFLOW")),
          s"$name ($side) at lat $lat lon $lon: ${e.getMessage}")
      }
    }
  }
}
