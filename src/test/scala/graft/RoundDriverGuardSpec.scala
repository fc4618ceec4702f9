package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `operators.Bsp` the only round driver: round timing and the
  * `[tag] round N …` stderr line live there, so no other operator
  * source may read the clock or write to stderr itself. */
class RoundDriverGuardSpec extends AnyFunSuite {

  test("only Bsp.scala times rounds or writes to stderr") {
    val dir = Paths.get("src/main/scala/graft/operators")
    val sources = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "Bsp.scala"),
      s"no Bsp.scala under $dir")
    val offenders = sources
      .filter(_.getFileName.toString != "Bsp.scala")
      .filter { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        text.contains("System.err") || text.contains("nanoTime")
      }
      .map(_.getFileName.toString).sorted
    assert(offenders.isEmpty,
      s"round loops outside Bsp: ${offenders.mkString(", ")}")
  }
}
