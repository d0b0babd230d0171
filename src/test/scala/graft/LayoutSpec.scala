package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Layout

class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("manifest schema parser keeps a nested schema object whole") {
    val nested = """{"id":"string","s":{"x":"bigint","y":{"z":"string"}},"q}":"int"}"""
    val manifest = s"""{"stage":"t","rows":3,"files":1,"schema":$nested,""" +
      """"partition_by":["batch"],"partitions":{"0":3},"v":"u"}"""
    assert(Layout.manifestSchema(manifest) == nested)
    assert(Layout.manifestSchema("""{"stage":"t","rows":0}""") == "{}")
    assert(Layout.manifestSchema("") == "{}")

    // a real partitioned stage with a struct column: dropping a partition
    // rewrites the manifest and must carry the schema over unchanged
    import spark.implicits._
    val root = "target/layout-spec"
    val dir = Paths.get(root)
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    for (b <- Seq("0", "1"))
      Layout.runStagePartition(spark, root, "s", Seq("batch"), b)(
        Seq(("a", 1L), ("b", 2L)).toDF("id", "x")
          .select(col("id"), struct(col("x"), struct(col("id").as("z")).as("y")).as("s"))
          .withColumn("batch", lit(b)))
    val before = Layout.manifestSchema(Layout.manifestStamp(root, "s"))
    assert(before.contains("struct<"), before)
    Layout.dropPartition(root, "s", "batch", "1")
    assert(Layout.manifestSchema(Layout.manifestStamp(root, "s")) == before)
    assert(Layout.manifestRows(root, "s") == 2L)
  }
}
