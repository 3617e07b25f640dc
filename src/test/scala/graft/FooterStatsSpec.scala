package graft

import java.nio.file.Paths

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.table.GraftTable

/** Manifest stats come from Parquet footers ([[graft.table.FooterStats]]);
  * the distributed `collectStats` aggregation is their reference. */
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
    val footer = t.footerStats(Paths.get(written.head.path).getParent.toString)
    val distributed = t.collectStats(written)
    assert(footer.map(_.rowCount).sum == rows.size)
    assert(footer.exists(_.stats("note") == graft.table.ColStats(None, None, 20L)))
    assert(footer == distributed)
  }
}
