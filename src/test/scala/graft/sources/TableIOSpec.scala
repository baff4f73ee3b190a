package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The byte-sizing rule shared by every sized writer, the live-snapshot
  * byte walk behind it, and the `readStatic` schema cache's invalidation:
  * a rewrite must be read with its new schema and must replace, not add,
  * the path's cache entry. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def entriesFor(path: String): Int =
    TableIO.staticSchemas.keySet.asScala.count(_.endsWith(s":$path"))

  test("filesFor: max(1, ceil(bytes / target)), 128 MiB by default") {
    assert(TableIO.filesFor(0L) == 1)
    assert(TableIO.filesFor(1L) == 1)
    assert(TableIO.filesFor(128L << 20) == 1)
    assert(TableIO.filesFor((128L << 20) + 1) == 2)
    assert(TableIO.filesFor(1L << 40) == 8192)
    assert(TableIO.filesFor(10L, targetBytes = 4L) == 3)
    assert(TableIO.filesFor(12L, targetBytes = 4L) == 3)
  }

  test("liveBytes sums the live version's parquet files only") {
    val root = Files.createTempDirectory("graft_livebytes").toString
    ManagedTable.overwrite(root, spark.range(1000).toDF("a").repartition(3))
    ManagedTable.overwrite(root, spark.range(10).toDF("a").repartition(2))
    val live = Files.list(Paths.get(root, s"v${ManagedTable.currentVersion(root)}"))
    val want =
      try live.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally live.close()
    assert(want > 0 && ManagedTable.liveBytes(root) == want)
  }

  test("readStatic: a path that cannot be stat'ed (a file: URI) is read " +
      "bare — a rewrite with an added column is seen, nothing is cached") {
    val dir = Files.createTempDirectory("graft_static_uri").toString
    val uri = s"file:$dir/t"
    spark.range(3).toDF("a").write.mode("overwrite").parquet(uri)
    assert(TableIO.readStatic(spark, uri).columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(uri)
    val df = TableIO.readStatic(spark, uri)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.selectExpr("sum(b)").head().getLong(0) == 6L)
    assert(entriesFor(uri) == 0)
  }

  test("readStatic: ten rewrites of one path leave one cache entry, " +
      "each read seeing that rewrite's schema") {
    val path = s"${Files.createTempDirectory("graft_static_rw")}/t"
    (1 to 10).foreach { i =>
      spark.range(2).selectExpr((1 to i).map(c => s"id AS c$c"): _*)
        .write.mode("overwrite").parquet(path)
      // pin a distinct mtime per rewrite: two writes within one clock
      // tick must not be mistaken for the same version
      Files.setLastModifiedTime(Paths.get(path), FileTime.fromMillis(i * 1000L))
      assert(TableIO.readStatic(spark, path).columns.length == i)
      // a second read of the same version is a cache hit, same schema
      assert(TableIO.readStatic(spark, path).columns.length == i)
    }
    assert(entriesFor(path) == 1)
  }
}
