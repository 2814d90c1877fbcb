package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TpchGraph

/** TpchGraph.table's schema memo must never serve a stale schema. */
class TpchGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("schema memo: a part file overwritten in place inside a " +
      "multi-file table directory yields the new schema") {
    val sf = Files.createTempDirectory("graft_tpch_memo_").toFile
    val table = new java.io.File(sf, "t.parquet")
    (0L until 10L).map(i => (i, s"v$i")).toDF("id", "old_col")
      .repartition(2).write.parquet(table.getPath)
    // no checksum sidecars: the in-place rewrite below would fail them
    def files(d: java.io.File) = d.listFiles.toSeq
    files(table).filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val parts = files(table).filter(_.getName.endsWith(".parquet"))
    assert(parts.size == 2)
    assert(TpchGraph.table(spark, sf.getPath, "t").columns.toSeq ==
      Seq("id", "old_col"))

    // regenerate the table with a different column, rewriting each part
    // file's bytes in place: the directory's own mtime does not change
    val fresh = Files.createTempDirectory("graft_tpch_fresh_").toFile
    (0L until 10L).map(i => (i, i * 2.0)).toDF("id", "new_col")
      .coalesce(1).write.mode("overwrite").parquet(fresh.getPath)
    val bytes = Files.readAllBytes(
      files(fresh).find(_.getName.endsWith(".parquet")).get.toPath)
    val dirMtime = table.lastModified
    Thread.sleep(1100) // past any coarse filesystem mtime granularity
    parts.foreach { p =>
      val out = new java.io.FileOutputStream(p) // truncate, same inode
      try out.write(bytes) finally out.close()
    }
    assert(table.lastModified == dirMtime)
    assert(TpchGraph.table(spark, sf.getPath, "t").columns.toSeq ==
      Seq("id", "new_col"))
  }
}
