package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** A comment may cite only numbers that live in a committed artifact. An
  * artifact is named `NAME_rNN…` (a round number after an upper-case
  * name) and lives at the project root. Every one cited under `src/`,
  * `scripts/` or in `README.md` must exist there: a name with its
  * extension as that file, a name without one as the prefix of some file
  * (`NAME_rNN.json`, `NAME_rNN_27x.json`). */
class CitedArtifactsSpec extends AnyFunSuite {
  private val cited =
    ("\\b([A-Z][A-Z0-9]*(?:_[A-Z0-9]+)*_r\\d+(?:_[A-Za-z0-9]+)*)" +
      "(\\.(?:txt|json|md))?").r

  private def files(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.exists(dir), s"run from the project root: no $root")
    val walk = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector
    } finally walk.close()
  }

  test("every artifact cited under src/, scripts/ and README.md is committed") {
    val committed = {
      val ls = Files.list(Paths.get("."))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString).toSet
      } finally ls.close()
    }
    def exists(name: String, ext: Option[String]): Boolean = ext match {
      case Some(e) => committed(name + e)
      case None => committed.exists(f =>
        f.startsWith(name + ".") || f.startsWith(name + "_"))
    }
    val missing = (files("src") ++ files("scripts") :+ Paths.get("README.md"))
      .flatMap { f =>
        cited.findAllMatchIn(Files.readString(f))
          .filterNot(m => exists(m.group(1), Option(m.group(2))))
          .map(m => s"$f: ${m.matched}")
      }.distinct
    assert(missing.isEmpty, missing.mkString("\n"))
  }
}
