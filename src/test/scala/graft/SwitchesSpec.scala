package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** No A/B-only switches in the library: the environment it reads is the
  * deployment settings and nothing else, the benchmark mains take no
  * path-selecting arguments, every main gets its session from the one
  * factory, and the tooling names only mains that exist.
  */
class SwitchesSpec extends AnyFunSuite {

  private val deploymentSettings =
    Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY", "GRAFT_MEDIA_DIR")

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private val keyed =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\(\s*"([^"]+)"""".r

  test("src/main reads only the four deployment environment variables") {
    val access = """sys\.env|System\.getenv""".r
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

  test("only ExtractJob.session and the two driver instruments build a session or read the core count") {
    val owners = Set("ExtractJob.scala", "Bench.scala", "Verify.scala")
    val srcs = mainSources.map(p => p.getFileName.toString -> Files.readString(p))
    val builders = srcs.collect { case (f, s) if s.contains("SparkSession.builder") => f }.toSet
    val coreReaders = srcs.collect {
      case (f, s) if keyed.findAllMatchIn(s).exists(_.group(1) == "SPARK_GRAFT_CPUS") => f
    }.toSet
    assert(builders == owners)
    assert(coreReaders == owners)
  }

  test("one commit protocol: only ExtractJob.resumable and CompactJob commit lineage or overwrite partitions") {
    val commit = """Lineage\.append\(|partitionOverwriteMode""".r
    val member = """^  (?:private )?def (\w+).*""".r
    val sites = mainSources.flatMap { p =>
      val lines = Files.readAllLines(p).asScala
      lines.indices.filter(i => commit.findFirstIn(lines(i)).isDefined).map { i =>
        // the nearest object member defined above the match names the site
        val owner = (i to 0 by -1).iterator.map(lines(_)).collectFirst { case member(name) => name }
        s"${p.getFileName}:${owner.getOrElse("?")}"
      }
    }.toSet
    assert(sites.contains("ExtractJob.scala:resumable"))
    assert(sites.forall(s => s == "ExtractJob.scala:resumable" || s.startsWith("CompactJob.scala:")), sites)
  }

  /** Source text with comments (nested block comments too), string and
    * character literals each blanked to one space: only code is left.
    */
  private def codeOnly(s: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(p: String) = s.startsWith(p, i)
    def skipQuoted(q: Char): Unit = { // from the opening quote to past the closing one
      i += 1
      while (i < s.length && s(i) != q && s(i) != '\n') i += (if (s(i) == '\\') 2 else 1)
      i += 1
    }
    while (i < s.length) {
      val start = i
      if (at("//")) while (i < s.length && s(i) != '\n') i += 1
      else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < s.length)
      } else if (at("\"\"\"")) {
        val end = s.indexOf("\"\"\"", i + 3)
        i = if (end < 0) s.length else end + 3
        while (i < s.length && s(i) == '"') i += 1
      } else if (s(i) == '"') skipQuoted('"')
      else if (s(i) == '\'' && i + 2 < s.length && (s(i + 1) == '\\' || s(i + 2) == '\'')) skipQuoted('\'')
      else i += 1
      out.append(if (i == start + 1) s(start) else ' ')
    }
    out.toString
  }

  test("every src/main file has a main or a top-level type another src/main file names") {
    val topLevel =
      """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r
    val code = mainSources.map(p => p -> codeOnly(Files.readString(p)))
    val orphans = code.collect {
      case (p, src) if !src.contains("def main(") &&
          !topLevel.findAllMatchIn(src).map(_.group(1)).exists { name =>
            val word = s"\\b$name\\b".r
            code.exists { case (q, other) => q != p && word.findFirstIn(other).isDefined }
          } => Paths.get("src/main/scala").relativize(p).toString
    }
    assert(orphans.isEmpty, s"no runtime caller: ${orphans.sorted.mkString(", ")}")
  }

  test("every graft main named in the tooling scripts and the verify notes exists") {
    val scripts = {
      val ls = Files.list(Paths.get("tools"))
      try ls.iterator().asScala.filter(_.toString.endsWith(".sh")).toList finally ls.close()
    }
    val docs = scripts :+ Paths.get(".claude/skills/verify/SKILL.md")
    val named = """\bgraft\.(?:[a-z]\w*\.)*[A-Z]\w*""".r
    val mains = docs.flatMap(p => named.findAllIn(Files.readString(p))).toSet
    assert(mains.contains("graft.jobs.ScalingBench") && mains.contains("graft.Verify"))
    mains.foreach { m =>
      val main = scala.util.Try(
        Class.forName(m, false, getClass.getClassLoader).getMethod("main", classOf[Array[String]]))
      assert(main.isSuccess && java.lang.reflect.Modifier.isStatic(main.get.getModifiers),
        s"$m has no static main(Array[String])")
    }
  }

  test("ScalingBench rejects an extra argument with a usage message") {
    val e = intercept[IllegalArgumentException] {
      graft.jobs.ScalingBench.main(Array("probeonce", "1", "native"))
    }
    assert(e.getMessage.contains("usage"))
  }

  test("one profiler: only metrics/Profile.scala subclasses SparkListener or QueryExecutionListener") {
    val listener = """\b(?:extends|with|new)\s+(?:SparkListener|QueryExecutionListener)\b""".r
    val owners = mainSources.collect {
      case p if listener.findFirstIn(codeOnly(Files.readString(p))).isDefined =>
        Paths.get("src/main/scala/graft").relativize(p).toString
    }
    assert(owners == Seq("metrics/Profile.scala"), owners)
  }

  test("Tier rejects a fourth argument with a usage message") {
    val e = intercept[IllegalArgumentException] {
      graft.jobs.Tier.main(Array("dedup", "100", "1", "debug"))
    }
    assert(e.getMessage.contains("usage"))
  }
}
