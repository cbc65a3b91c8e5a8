package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over `src/main`: no copy-pasted block seen three
  * times, and no raw control byte that makes text tools read a source as
  * binary. */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), "run tests from the repo root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
  }

  test("no 6-line window occurs 3 or more times under src/main") {
    // the rules of tools/dup_windows.py: stripped lines, skipping blanks,
    // comment lines, imports and lines that only close brackets
    val closer = """[\s)\]}]*[,;]?[\s)\]}]*""".r
    val skip = Seq("//", "*", "/*", "import ")
    val places = scalaFiles("src/main").flatMap { p =>
      val kept = Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (l.strip, i + 1) }
        .filterNot { case (l, _) =>
          l.isEmpty || skip.exists(l.startsWith) || closer.matches(l)
        }
      kept.sliding(6).filter(_.size == 6)
        .map(w => w.map(_._1).mkString("\n") -> s"${p.getFileName}:${w.head._2}")
    }
    val frequent = places.groupBy(_._1).values.filter(_.size >= 3)
      .map(_.map(_._2).mkString(", ")).toSeq.sorted
    assert(frequent.isEmpty,
      s"6-line windows written 3 or more times (make each one fragment): " +
        frequent.mkString("; "))
  }

  test("no raw control byte in a Scala source") {
    val hits = (scalaFiles("src/main") ++ scalaFiles("src/test/scala")).filter { p =>
      Files.readAllBytes(p).exists(b => b >= 0 && b < 0x20 && b != '\n' && b != '\r' && b != '\t')
    }
    assert(hits.isEmpty,
      s"raw control bytes (write them as escapes): ${hits.mkString(", ")}")
  }
}
