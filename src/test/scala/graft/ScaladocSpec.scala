package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source hygiene: a scaladoc documents the definition right below it, so
  * a doc block that sits directly on top of another documents nothing and
  * the definition it describes is left without one.
  */
class ScaladocSpec extends AnyFunSuite {

  test("no scaladoc block sits directly on top of another in src/main/scala") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no sources found under src/main/scala")
    val hits = for {
      f <- files
      lines = Files.readAllLines(f).asScala.map(_.trim)
      i <- 1 until lines.size
      if lines(i - 1).endsWith("*/") && lines(i).startsWith("/**")
    } yield s"$f:${i + 1}"
    assert(hits.isEmpty, s"scaladoc blocks on top of another: ${hits.sorted.mkString(", ")}")
  }
}
