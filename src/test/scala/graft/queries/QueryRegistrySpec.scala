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

  /** Every `*.scala` source under `dir`, as (path, text). ISO-8859-1 maps
    * every byte to one char, so raw control bytes in a source file cannot
    * fail the decode. */
  private def sources(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), "run tests from the repo root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.toString -> new String(Files.readAllBytes(p), "ISO-8859-1"))
  }

  /** How often `text` occurs in `src`, overlapping occurrences included. */
  private def occurrences(src: String, text: String): Int =
    Iterator.iterate(src.indexOf(text))(i => src.indexOf(text, i + 1))
      .takeWhile(_ >= 0).size

  test("each query name is written exactly once as a string literal under graft/queries") {
    val srcs = sources("src/main/scala/graft/queries").map(_._2)
    def literals(name: String): Int = srcs.map(occurrences(_, "\"" + name + "\"")).sum
    val wrong = SparkEntry.queries.keySet.toSeq.sorted
      .map(n => n -> literals(n)).filter(_._2 != 1)
    assert(wrong.isEmpty, s"query names not written exactly once: ${wrong.mkString(", ")}")
  }

  test("one event-time unit: no nanos conversion is written under src/main/scala") {
    // `ts` leaves the events scan as epoch micros; a nanos helper, the
    // nanos parquet option or a nanos-to-micros `div` is a second unit, and
    // reading micros back from `ets` (= timestamp_micros(ts), only the
    // watermark, window and session column) is a round trip to `ts`
    val secondUnit = "tsNanos|nanosAsLong|ts div 1000(?!\\d)|unix_micros\\(col\\(\"ets\"\\)\\)".r
    val hits = sources("src/main/scala")
      .flatMap { case (p, src) => secondUnit.findAllIn(src).map(m => s"$p: $m") }.distinct
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("each shared oracle CTE and Spark build is written once under graft/queries") {
    // margins dropped and whitespace collapsed, so re-wrapping a copied
    // line cannot hide it
    def flat(s: String): String = s.replaceAll("\\n\\s*\\|", " ").replaceAll("\\s+", " ")
    val srcs = sources("src/main/scala/graft/queries").map(p => flat(p._2))
    def count(line: String): Int = srcs.map(occurrences(_, flat(line))).sum
    // one distinctive line per fragment: a second copy of any of them is a
    // copy-pasted block that belongs in the fragment
    val fragmentLines = Seq(
      "bits AS (SELECT doc_id, b,", // TextOps simhash chain
      "bands AS (SELECT doc_id, md5('0' || mh0 || mh1) AS band FROM sig", // TextOps MinHash bands
      "bands AS (SELECT doc_id, 'l' || CAST(simhash % 256 AS VARCHAR) AS band FROM sig",
      "qt AS (SELECT unnest(['spark', 'join', 'window', 'dup']) AS tok),", // TextOps BM25
      "okg AS (SELECT g FROM cg GROUP BY g HAVING COUNT(*) <= 50),", // TextOps contamination
      "graft.operators.Text.bm25TopK(docs, \"text\", \"doc_id\", terms, k = 30)",
      "planes AS (SELECT vec_id, p, qe,", // VectorOps LSH buckets
      "pairs AS (SELECT a.vec_id AS src, b.vec_id AS nbr,", // VectorOps k-NN graph
      "resid AS (SELECT id, cid,", // VectorOps residual IVF-PQ
      // VectorOps quantized embeddings, their norms and the coarse centroids
      "AS (SELECT vec_id, list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q FROM embeddings)",
      "nemb AS (SELECT vec_id, q, list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS qq FROM emb)",
      "cents AS (SELECT vec_id AS cid, q AS cq, qq AS cc FROM nemb",
      "* CAST(16 ** (13 - j) AS BIGINT)", // Relational.hex52
      // co-purchase oracle (order parts, both-ways edges, walk steps) and build
      "AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem WHERE l_orderkey %",
      "edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0)",
      "adj AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0)",
      "col(\"a.o\") === col(\"b.o\") && col(\"a.p\") < col(\"b.p\")",
      "md5('ab_exp1_'", // qa18 experiment arm, oracle
      "lit(\"ab_exp1_\")", // and Spark
      "ORDER BY COUNT(*) DESC, p.lbl ASC", // label propagation rounds
      "col(\"asof_err_value\").as(\"err_value\")") // as-of output
    val wrong = fragmentLines.map(l => l -> count(l)).filter(_._2 != 1)
    assert(wrong.isEmpty, s"fragment lines not written exactly once: ${wrong.mkString("; ")}")
  }
}
