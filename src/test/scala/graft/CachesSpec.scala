package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.config.DedupConfig
import graft.gen.Synth
import graft.util.Caches

class CachesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("append's chain persists register under the caller's Caches owner") {
    val root = "target/caches-spec"
    val dir = Paths.get(root)
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    val all = Synth.corpus(spark, 360).toDF()
    def ids(from: Int, to: Int) =
      all.where(col("image_id") >= f"img-$from%010d" && col("image_id") < f"img-$to%010d")
    Dedup.runCheckpointed(spark, ids(0, 300), root, DedupConfig.default)
    // unscoped: the cohort's pool may start its threads here, under "global"
    Incremental.append(spark, root, ids(300, 330), "1", DedupConfig.default)

    // other suites register global persists concurrently; frames of THIS
    // root are told apart by the files they scan
    def ofRoot(frames: Seq[DataFrame]) = frames.filter(_.queryExecution.analyzed.exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains("caches-spec"))
        case _ => false
      }
      case _ => false
    })
    val globalBefore = Caches.registered(Caches.GlobalOwner).toSet
    // the driver-side cohort persists nothing; with no budget the cohort
    // falls back to the distributed generators, which persist
    Caches.scoped("x") {
      Incremental.append(spark, root, ids(330, 360), "2", DedupConfig.default.copy(driverBudget = 0))
    }
    val scoped = ofRoot(Caches.registered("x"))
    assert(scoped.nonEmpty, "the scoped append's chain persists are not under \"x\"")
    val leaked = ofRoot(Caches.registered(Caches.GlobalOwner).filterNot(globalBefore))
    assert(leaked.isEmpty, s"${leaked.size} chain persist(s) of the scoped append went to global")

    // so the scoped release covers them
    Caches.release("x")
    assert(scoped.forall(_.storageLevel == StorageLevel.NONE))
    ofRoot(Caches.registered(Caches.GlobalOwner)).foreach(_.unpersist(false))
  }
}
