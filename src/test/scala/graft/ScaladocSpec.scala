package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source hygiene: a scaladoc documents the definition right below it, so
  * a doc block that sits directly on top of another documents nothing and
  * the definition it describes is left without one; and a `[[link]]` to a
  * definition that was deleted points nowhere.
  */
class ScaladocSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "no sources found under src/main/scala")
    files.map(f => f -> new String(Files.readAllBytes(f), "UTF-8"))
  }

  test("no scaladoc block sits directly on top of another in src/main/scala") {
    val hits = for {
      (f, text) <- sources
      lines = text.split("\n", -1).map(_.trim)
      i <- 1 until lines.length
      if lines(i - 1).endsWith("*/") && lines(i).startsWith("/**")
    } yield s"$f:${i + 1}"
    assert(hits.isEmpty, s"scaladoc blocks on top of another: ${hits.sorted.mkString(", ")}")
  }

  test("every [[link]] in src/main/scala names a definition or package there") {
    val Def = """\b(?:def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)""".r
    val Type = """\b(?:object|class|trait)\s+([A-Za-z_]\w*)""".r
    val Pkg = """(?m)^package\s+([\w.]+)""".r
    val Link = """\[\[([^\]]+)\]\]""".r
    val defs = sources.map { case (f, s) =>
      f -> Def.findAllMatchIn(s).map(_.group(1)).toSet }.toMap
    val homes = (for {
      (f, s) <- sources
      m <- Type.findAllMatchIn(s)
    } yield m.group(1) -> f).groupMap(_._1)(_._2)
    val pkgs = (for {
      (_, s) <- sources
      m <- Pkg.findAllMatchIn(s)
      parts = m.group(1).split('.')
      i <- 1 to parts.length
    } yield parts.take(i).mkString(".")).toSet
    // `a.b.Obj.member`: strip the package prefix, then the first name is a
    // type or object and the rest are definitions in a file declaring it;
    // an unqualified name is defined in the linking file or is a type
    def resolves(f: Path, link: String): Boolean = {
      val segs = link.split('.').toSeq
      val pkgLen = (1 to segs.length).takeWhile(i =>
        pkgs.contains(segs.take(i).mkString("."))).lastOption.getOrElse(0)
      segs.drop(pkgLen) match {
        case Seq() => true
        case Seq(name) if pkgLen == 0 => defs(f)(name) || homes.contains(name)
        case owner +: members =>
          homes.getOrElse(owner, Nil).exists(h => members.forall(defs(h)))
      }
    }
    val links = for {
      (f, s) <- sources
      m <- Link.findAllMatchIn(s)
    } yield (f, s.substring(0, m.start).count(_ == '\n') + 1, m.group(1))
    assert(links.nonEmpty, "no [[links]] found under src/main/scala")
    val dangling = links.collect { case (f, line, l) if !resolves(f, l) => s"$f:$line [[$l]]" }
    assert(dangling.isEmpty, s"links to no definition: ${dangling.sorted.mkString(", ")}")
  }
}
