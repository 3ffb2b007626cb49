package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Messages and log lines under `src/main` stay ASCII where punctuation is
  * concerned: the JVM's default console encoding prints an em dash as `?`
  * (a TInt escalation line read "default mapping ? fiat2 TInt is
  * unbounded Z"). Comments may use any character; only string literals
  * are scanned. */
class SourceTextSpec extends AnyFunSuite {
  private val EmDash = '—'

  /** 1-based line numbers of the string literals in `src` that contain
    * `c`. A small lexer: it skips line and (nested) block comments and
    * character literals, and reads plain and triple-quoted strings, the
    * interpolated ones included. */
  private def literalLinesWith(src: String, c: Char): Seq[Int] = {
    val out = Vector.newBuilder[Int]
    val n = src.length
    var i = 0
    var line = 1
    def lineAt(j: Int): Int = line + src.substring(i, j).count(_ == '\n')
    while (i < n) {
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        line = lineAt(j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j
        while (j + 3 < n && src.charAt(j + 3) == '"') j += 1
        val end = math.min(n, j + 3)
        (i until end).filter(src.charAt(_) == c).foreach(k => out += lineAt(k))
        line = lineAt(end); i = end
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        if (src.substring(i, math.min(n, j + 1)).indexOf(c) >= 0) out += line
        i = j + 1
      } else if (src.charAt(i) == '\'' && i + 2 < n &&
          (src.charAt(i + 1) == '\\' || src.charAt(i + 2) == '\'')) {
        val j = src.indexOf('\'', i + (if (src.charAt(i + 1) == '\\') 3 else 2))
        i = if (j < 0) n else j + 1
      } else {
        if (src.charAt(i) == '\n') line += 1
        i += 1
      }
    }
    out.result().distinct
  }

  test("the string-literal scan finds a literal's em dash and skips comments") {
    val q3 = "\"" * 3
    val src = Seq(
      s"// a $EmDash comment",
      "/* a /* nested */ " + EmDash + " block */ val q = '\"'",
      "val a = \"plain " + EmDash + " literal\"",
      "val b = s\"${x} ok\" + " + q3 + "multi",
      "line " + EmDash + q3).mkString("\n")
    assert(literalLinesWith(src, EmDash) == Seq(3, 5))
  }

  test("no string literal under src/main contains an em dash") {
    val root = Paths.get("src/main")
    assert(Files.exists(root), "run from the project root: no src/main")
    val walk = Files.walk(root)
    val sources: Seq[Path] = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .toVector
    } finally walk.close()
    assert(sources.nonEmpty)
    val hits = sources.flatMap(f =>
      literalLinesWith(Files.readString(f), EmDash).map(l => s"$f:$l"))
    assert(hits.isEmpty,
      s"em dash (U+2014) in a string literal; use ASCII:\n${hits.mkString("\n")}")
  }
}
