package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine code takes its settings from `DedupConfig` and its callers, never
  * from the environment: an env read deep in the engine is an option that
  * no signature shows and no test sets. */
class KnobsSpec extends AnyFunSuite {

  private val src = Paths.get("src/main/scala/graft")

  /** Where environment reads belong: the entry points, the dev tools and
    * the deployment settings of the session builder. */
  private def allowed(p: Path): Boolean = {
    val rel = src.relativize(p).toString.replace('\\', '/')
    Set("Bench.scala", "Verify.scala", "RunDedup.scala", "ScalingBench.scala",
      "util/Sessions.scala")(rel) || rel.startsWith("tools/")
  }

  test("engine code reads no environment variable outside the entry points, tools/ and util/Sessions") {
    val files = Files.walk(src).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Dedup.scala"), s"no engine sources under $src")
    val reads = for {
      f <- files if !allowed(f)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield s"${src.relativize(f)}:${i + 1}: ${line.trim}"
    assert(reads.isEmpty, reads.mkString("\n"))
  }
}
