package graft

import org.apache.spark.sql.Row

import graft.table.{ColStats, GraftTable, PruneFilter, EqString}

/** Manifest stats come from the footer each write task's Parquet writer
  * returns ([[graft.table.FooterStats]]); the distributed `collectStats`
  * aggregation (test code) is their reference. */
class FooterStatsSpec extends GraftSuite {

  test("footer stats equal the distributed stats pass: rows, sizes, min/max/nullCount") {
    val root = TestFixtures.workRoot.resolve("footer-stats").toString
    val t = GraftTable.create(root, spark,
      schemaDdl = "id STRING, bytes BINARY, n INT, big BIGINT, note STRING")
    val rows = (0 until 60).map { i =>
      Row(f"k-$i%03d", Array[Byte](i.toByte),
        if (i % 7 == 0) null else Int.box(i * 13 - 300),
        if (i % 5 == 0) null else Long.box(i.toLong * 1000000007L - 9000000000L),
        // One file holds notes only as nulls; non-ASCII and a
        // supplementary-plane key exercise byte-order extrema.
        if (i < 20) null else Seq("été", "zed", "😀", "Apple")(i % 4))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), t.schema)
    // Partition 0 (rows 0-19) writes the all-null note file.
    val written = t.writeDataFiles(df)
    assert(written.size == 3)
    assert(written.map(_.rowCount).sum == rows.size)
    assert(written.exists(_.stats("note") == ColStats(None, None, 20L)))
    assert(written.exists(_.stats("note").max.contains("😀")))
    assert(footerFields(written) == footerFields(collectStats(t, written)))
  }

  test("a string column whose extrema reach 4 KiB carries no bounds, so lookups keep its file") {
    val root = TestFixtures.workRoot.resolve("footer-stats-long").toString
    val t = GraftTable.create(root, spark, schemaDdl = "id STRING, note STRING")
    val long = "x" * 5000
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("a", long), Row("b", "short")), 1), t.schema)
    val Seq(f) = t.writeDataFiles(df)
    assert(f.stats("note") == ColStats(None, None, 0L))
    assert(f.stats("id") == ColStats(Some("a"), Some("b"), 0L))
    assert(PruneFilter.mayMatch(f, EqString("note", long)))
    t.commit("append", Seq(f), Set.empty)
    assert(t.scanWhere(Seq(EqString("note", long))).count() == 1)
  }
}
