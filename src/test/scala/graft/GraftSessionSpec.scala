package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every main builds its session through [[GraftSession]], so the bench,
  * the oracle gate and the decade gate cannot drift onto different
  * planner settings again. Source-level checks: no Spark session runs.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val mainSrc = Paths.get("src/main/scala")

  private def text(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** `.config("key", "value")` pairs whose value is a string literal. */
  private def literalConfigs(src: String): Set[(String, String)] =
    """\.config\("([^"]+)",\s*"([^"]*)"\)""".r.findAllMatchIn(src)
      .map(m => m.group(1) -> m.group(2)).toSet

  test("SparkSession.builder is called only inside GraftSession") {
    assert(Files.isDirectory(mainSrc), s"run from the repo root: $mainSrc")
    val files = Files.walk(mainSrc).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val calls = for {
      f <- files if f.getFileName.toString != "GraftSession.scala"
      (line, i) <- text(f).split("\n").zipWithIndex
      if line.contains("SparkSession.builder") && !isComment(line)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(calls.isEmpty, calls.mkString("\n"))
  }

  test("library code writes no session settings outside ControlPlane " +
      "and JobProfile") {
    // ControlPlane sets its two settings on the session it is given;
    // JobProfile applies the settings named on its command line
    val allowed = Set("control/ControlPlane.scala", "tools/JobProfile.scala")
    val root = mainSrc.resolve("graft")
    val files = Files.walk(mainSrc).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val writes = for {
      f <- files if !allowed(root.relativize(f).toString)
      (line, i) <- text(f).split("\n").zipWithIndex
      if !isComment(line) && Seq("spark.conf.set", "conf.set(",
        "setConfString").exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(writes.isEmpty, writes.mkString("\n"))
  }

  test("GraftSession pins the planner settings perfbench's session pins") {
    val ours = literalConfigs(text(mainSrc.resolve("graft/GraftSession.scala")))
    val bench = literalConfigs(text(
      Paths.get("perfbench/src/main/scala/perfbench/Main.scala")))
    assert(ours.contains(
      "spark.sql.constraintPropagation.enabled" -> "false"))
    assert(ours == bench)
  }
}
