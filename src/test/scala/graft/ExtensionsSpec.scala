package graft

/** SQL-text access to the engine's expressions via SparkSessionExtensions,
  * which every graft session carries. */
class ExtensionsSpec extends SparkSpec {

  test("graft_* functions are callable from SQL") {
    val row = spark.sql(
      """SELECT graft_cell_at(12.5d, 51.5d, 8) AS cell,
        |       graft_st_contains(array(0d,0d, 10d,0d, 10d,10d, 0d,10d), 5d, 5d) AS pip,
        |       graft_tile_id(-45.0d, 75.0d) AS tile,
        |       graft_dot_longs(array(1L,2L,3L), array(4L,5L,6L)) AS dot,
        |       graft_geocell(-55.5d, 67.2d) AS gc,
        |       graft_h32('hello world') AS h,
        |       graft_shingle_hashes(array('a','b','c','d'), 3) AS sh,
        |       graft_minhash_sig(array(7L, 11L), 16) AS mh,
        |       graft_simhash_sig(array(7L, 11L), 24) AS sim,
        |       graft_proj_roundtrip_err(-45.0d, 75.0d) AS rt,
        |       graft_repetition_counts(array('a','a','b','a','a')) AS rep
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) === graft.cells.Cells.cellAt(12.5, 51.5, 8))
    assert(row.getBoolean(1))
    assert(row.getString(2) === graft.cells.Cells.tileId(-45.0, 75.0))
    assert(row.getLong(3) === 32L)
    assert(row.getString(4) === graft.cells.Cells.geocell(-55.5, 67.2))
    assert(row.getLong(5) ===
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest("hello world".getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString, 16))
    assert(row.getSeq[Long](6).length === 2) // shingles 'a b c', 'b c d'
    assert(row.getSeq[Long](7).length === 16)
    assert(row.getLong(8) >= 0L)
    assert(row.getDouble(9) < 1e-6) // roundtrip residual is tiny
    // a a b a a: 5 tokens, 2 distinct, top 4; bigrams aa ab ba aa -> top 2
    assert(row.getSeq[Long](10) === Seq(5L, 2L, 4L, 4L, 2L))
  }

  test("graft_* functions cast integer and decimal arguments") {
    val row = spark.sql(
      """SELECT graft_cell_at(12.5, 51.5, 8) AS cell,
        |       graft_cell_at(12, 51, 8) AS cell_int,
        |       graft_geocell(-55.5, 67.2) AS gc,
        |       graft_tile_id(-45, 75) AS tile,
        |       graft_st_contains(array(0,0, 10,0, 10,10, 0,10), 5, 5) AS pip
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) === graft.cells.Cells.cellAt(12.5, 51.5, 8))
    assert(row.getLong(1) === graft.cells.Cells.cellAt(12.0, 51.0, 8))
    assert(row.getString(2) === graft.cells.Cells.geocell(-55.5, 67.2))
    assert(row.getString(3) === graft.cells.Cells.tileId(-45.0, 75.0))
    assert(row.getBoolean(4) ===
      graft.geom.Geom.contains(Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0), 5.0, 5.0))
  }
}
