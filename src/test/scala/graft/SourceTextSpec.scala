package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-level hygiene checks over `src/**/*.scala`: no Spark session
  * runs.
  */
class SourceTextSpec extends AnyFunSuite {
  private val src = Paths.get("src")

  // a literal NUL makes grep and ripgrep treat the whole file as
  // binary ("binary file matches") — write `\u0000` instead
  test("no Scala source file contains a NUL byte") {
    assert(Files.isDirectory(src), s"run from the repo root: $src")
    val hits = Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val bytes = Files.readAllBytes(f)
        val at = bytes.indexOf(0.toByte)
        if (at < 0) None
        else Some(s"$f:${bytes.take(at).count(_ == '\n'.toByte) + 1}")
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
