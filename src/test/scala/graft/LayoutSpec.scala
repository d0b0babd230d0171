package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Layout

class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fresh(root: String): String = {
    val dir = Paths.get(root)
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    root
  }

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

  test("Layout.read builds a complete stage's frame without a Spark job") {
    import spark.implicits._
    val root = fresh("target/layout-spec-read")
    Layout.runStage(spark, root, "t", Seq("batch"), Some("0"))(
      Seq(("a", 1L), ("b", 2L)).toDF("id", "x").withColumn("batch", lit("0")))
    var cols = Seq.empty[String]
    assert(SparkTestSession.jobsOf { cols = Layout.read(spark, root, "t").columns.toSeq }.isEmpty)
    assert(cols == Seq("id", "x", "batch"))
  }

  test("manifest read schema == inferred schema: partition column mid-row, array<struct>") {
    import spark.implicits._
    val root = fresh("target/layout-spec-schema")
    // the low_quality shape: `batch` is written before `status`, but
    // discovery puts the partition column last
    Layout.runStage(spark, root, "low_quality", Seq("batch"), Some("0"))(
      Seq(("a", "cap", Seq("short"), 0.5, "low"), ("b", null, Seq.empty[String], 0.0, "low"))
        .toDF("image_id", "caption", "issues", "quality_score", "quality_severity")
        .withColumn("batch", lit("0"))
        .withColumn("status", lit("pending")))
    // the decisions shape: top_matches is array<struct<match_id, score>>
    Layout.runStage(spark, root, "decisions")(
      Seq(("a", Seq(("b", 0.9), ("c", 0.7)), true), ("b", Seq.empty[(String, Double)], false))
        .toDF("image_id", "tm", "is_recurring")
        .select(col("image_id"),
          transform(col("tm"), x => struct(x("_1").as("match_id"), x("_2").as("score")))
            .as("top_matches"),
          col("is_recurring")))
    for (stage <- Seq("low_quality", "decisions")) {
      val built = Layout.readSchema(Layout.manifestStamp(root, stage))
      assert(built.isDefined, s"$stage: manifest schema did not parse")
      val inferred = spark.read.parquet(s"$root/$stage").schema
      assert(built.get == inferred, s"$stage:\n${built.get.treeString}\nvs\n${inferred.treeString}")
      assert(Layout.read(spark, root, stage).schema == inferred)
    }
    assert(Layout.read(spark, root, "low_quality").columns.last == "batch")
    assert(Layout.read(spark, root, "decisions").select(col("top_matches.match_id"))
      .as[Seq[String]].collect().toSet == Set(Seq("b", "c"), Seq.empty))
  }

  test("partition values with JSON syntax round-trip through the manifest") {
    import spark.implicits._
    val root = fresh("target/layout-spec-partvalues")
    val odd = "a,b}\"c:1"
    for (b <- Seq("0", odd))
      Layout.runStagePartition(spark, root, "t", Seq("batch"), b)(
        Seq(("x", 1L), ("y", 2L), ("z", 3L)).toDF("id", "v").where(col("v") <= (if (b == "0") 1 else 3))
          .withColumn("batch", lit(b)))
    assert(Layout.partitionRows(root, "t") == Map("0" -> 1L, odd -> 3L))
    assert(Layout.completePartitions(root, "t") == Set("0", odd))
    assert(Layout.manifestRows(root, "t") == 4L)
    assert(Layout.readSchema(Layout.manifestStamp(root, "t")).isDefined)
  }
}
