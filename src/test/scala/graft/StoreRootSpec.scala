package graft.ext

import java.nio.file.{Files, Path}
import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Store-root resolution over awkward source dirs: a space in the path
  * and a source file that vanishes between listing and stat. */
class StoreRootSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = "graft-storeroot")

  private def docs(dir: Path, ids: Range): Unit = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"doc $i")).toDF("id", "content")
      .coalesce(1).write.mode("append").parquet(dir.toString)
  }

  private val table = (s: SparkSession, d: String) => s.read.parquet(d)

  test("a source dir with a space resolves to the same root twice, the second from the manifest") {
    val base = Files.createTempDirectory("graft store root")
    val src = base.resolve("source dir")
    docs(src, 0 until 10)
    val parent = base.resolve("stores").toString
    val first = StoreRoot.resolveUnder(spark, parent, src.toString, table, "id", "content")
    val manifests = Files.list(base.resolve("stores")).toArray
      .map(_.toString).filter(_.endsWith(".manifest"))
    assert(manifests.length == 1, s"first resolve must record a manifest: ${manifests.toSeq}")
    assert(StoreRoot.sourceMeta(table(spark, src.toString)).isDefined,
      "a space in the path must not stop the metadata read")
    val second = StoreRoot.resolveUnder(spark, parent, src.toString, table, "id", "content")
    assert(second == first)
  }

  test("listed file names map to local paths with or without URI escapes") {
    val want = java.nio.file.Paths.get("/tmp/a b/c%20d/x.parquet")
    assert(StoreRoot.localPath("file:///tmp/a%20b/c%2520d/x.parquet") == want)
    assert(StoreRoot.localPath("file:/tmp/a b/c%20d/x.parquet") == want)
  }

  test("a file that vanishes between listing and stat yields no metadata, not an exception") {
    val src = Files.createTempDirectory("graft-storeroot-vanish").resolve("src")
    docs(src, 0 until 5)
    docs(src, 5 until 10)
    val listed: DataFrame = table(spark, src.toString)
    val parts = Files.list(src).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parts.length == 2)
    Files.delete(parts.head)
    assert(StoreRoot.sourceMeta(listed).isEmpty)
  }
}
