package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards over `src/main`: no copy-pasted block seen three
  * times (twice within one file of the source layer), and no raw control
  * byte that makes text tools read a source as binary. */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), "run tests from the repo root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
  }

  /** Every 6-line window of the Scala files under `dir` as (text, file,
    * first line), by the rules of tools/dup_windows.py: stripped lines,
    * skipping blanks, comment lines, imports and lines that only close
    * brackets. */
  private def windows(dir: String): Seq[(String, Path, Int)] = {
    val closer = """[\s)\]}]*[,;]?[\s)\]}]*""".r
    val skip = Seq("//", "*", "/*", "import ")
    scalaFiles(dir).flatMap { p =>
      val kept = Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (l.strip, i + 1) }
        .filterNot { case (l, _) =>
          l.isEmpty || skip.exists(l.startsWith) || closer.matches(l)
        }
      kept.sliding(6).filter(_.size == 6)
        .map(w => (w.map(_._1).mkString("\n"), p, w.head._2))
    }
  }

  /** The places of each window that `key` groups `min` or more times. */
  private def repeated(ws: Seq[(String, Path, Int)], min: Int)(
      key: ((String, Path, Int)) => Any): Seq[String] =
    ws.groupBy(key).values.filter(_.size >= min)
      .map(_.map { case (_, p, n) => s"${p.getFileName}:$n" }.mkString(", "))
      .toSeq.sorted

  test("no 6-line window occurs 3 or more times under src/main") {
    val frequent = repeated(windows("src/main"), 3)(_._1)
    assert(frequent.isEmpty,
      s"6-line windows written 3 or more times (make each one fragment): " +
        frequent.mkString("; "))
  }

  test("no 6-line window occurs twice within one source-layer file") {
    val twice = repeated(windows("src/main/scala/graft/sources"), 2) {
      case (text, p, _) => (text, p)
    }
    assert(twice.isEmpty,
      s"6-line windows written twice in one file under graft/sources " +
        s"(make each one helper): ${twice.mkString("; ")}")
  }

  test("no raw control byte in a Scala source") {
    val hits = (scalaFiles("src/main") ++ scalaFiles("src/test/scala")).filter { p =>
      Files.readAllBytes(p).exists(b => b >= 0 && b < 0x20 && b != '\n' && b != '\r' && b != '\t')
    }
    assert(hits.isEmpty,
      s"raw control bytes (write them as escapes): ${hits.mkString(", ")}")
  }
}
