package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registry invariant: each query is defined once, as one [[Query]]
  * that carries its own oracle, and a name registered twice fails loudly
  * instead of silently replacing the earlier entry. */
class QueryRegistrySpec extends AnyFunSuite {

  private val never: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("never built")

  test("a registry with a repeated name throws and names the duplicate") {
    val e = intercept[IllegalArgumentException] {
      Query.registry(Seq(Query("qa_one", None)(never), Query("qb_two", Some("SELECT 1"))(never),
        Query("qa_one", Some("SELECT 2"))(never)))
    }
    assert(e.getMessage.contains("qa_one"), e.getMessage)
    assert(!e.getMessage.contains("qb_two"), e.getMessage)
  }

  test("SparkEntry.queries has 350 entries") {
    assert(SparkEntry.registry.size == 350)
    assert(SparkEntry.queries.size == 350)
  }

  test("each query name is written exactly once as a string literal under graft/queries") {
    val dir = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(dir), "run tests from the repo root")
    // ISO-8859-1 maps every byte to one char, so raw control bytes in a
    // source file cannot fail the decode
    val sources = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p), "ISO-8859-1")).toSeq
    def literals(name: String): Int = sources.map { src =>
      val lit = "\"" + name + "\""
      Iterator.iterate(src.indexOf(lit))(i => src.indexOf(lit, i + 1))
        .takeWhile(_ >= 0).size
    }.sum
    val wrong = SparkEntry.queries.keySet.toSeq.sorted
      .map(n => n -> literals(n)).filter(_._2 != 1)
    assert(wrong.isEmpty, s"query names not written exactly once: ${wrong.mkString(", ")}")
  }

  test("one event-time unit: no nanos conversion is written under src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "run tests from the repo root")
    // `ts` leaves the events scan as epoch micros; a nanos helper, the
    // nanos parquet option or a nanos-to-micros `div` is a second unit
    val secondUnit = "tsNanos|nanosAsLong|ts div 1000(?!\\d)".r
    val hits = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "ISO-8859-1")
        secondUnit.findAllIn(src).map(m => s"$p: $m")
      }.distinct
    assert(hits.isEmpty, hits.mkString("; "))
  }
}
