package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** No A/B-only switches in the library: the environment it reads is the
  * deployment settings and nothing else, and the benchmark mains take no
  * path-selecting arguments.
  */
class SwitchesSpec extends AnyFunSuite {

  private val deploymentSettings =
    Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY", "GRAFT_MEDIA_DIR")

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("src/main reads only the four deployment environment variables") {
    val access = """sys\.env|System\.getenv""".r
    val keyed = """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\(\s*"([^"]+)"""".r
    val srcs = mainSources.map(p => p -> Files.readString(p))
    assert(srcs.nonEmpty)
    // every access names its variable literally, so the key set below is complete
    srcs.foreach { case (p, s) =>
      assert(access.findAllIn(s).size == keyed.findAllIn(s).size,
        s"$p reads the environment without a literal key")
    }
    val keys = srcs.flatMap { case (_, s) => keyed.findAllMatchIn(s).map(_.group(1)) }.toSet
    assert(keys == deploymentSettings)
  }

  test("ScalingBench rejects an extra argument with a usage message") {
    val e = intercept[IllegalArgumentException] {
      graft.jobs.ScalingBench.main(Array("4", "100", "1", "native"))
    }
    assert(e.getMessage.contains("usage"))
  }
}
