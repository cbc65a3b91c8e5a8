package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table — thin oracle-gated
  * wrappers over the public [[graft.operators.Similarity]] API (see its
  * scaladoc for the determinism and scale rationale).
  */
object VectorOps {
  import Relational.t

  // Fully-TRAINED residual IVF+PQ — the production FAISS composition
  // (KMeans coarse cells + per-subspace Lloyd codebooks over
  // residuals). No static oracle (KMeans isn't SQL-expressible, and
  // the exact-degenerate config would need an O(corpus) training
  // collect): its oracle is generated once it has run
  // (generatedOracleSql); exactness/recall/determinism are
  // spec-anchored (SimilaritySpec). Held in its own val so the generated
  // oracle can name it.
  private val trainedResidual = Query("qv15_ivfpq_trained_res", None) { (s, d) =>
    graft.operators.Similarity.ivfPqTopKTrainedResidual(
      t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L,
      k = 10, m = 8, nCells = 8, nprobe = 3, nCodes = 64, trainRows = 512)
  }

  /** el → planes → signs → buckets: each vector's 8-bit random-hyperplane
    * LSH bucket (`Similarity.lshBuckets`, md5-derived +/-1 plane
    * components over the 1e4-quantized embedding). No trailing comma. */
  private def lshBucketCtes: String =
    """el AS (SELECT vec_id, CAST(i - 1 AS INT) AS i, q[i] AS qe
      | FROM (SELECT vec_id,
      |   list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
      |  FROM embeddings), unnest(range(1, 65)) t(i)),
      |planes AS (SELECT vec_id, p, qe,
      |  CASE WHEN instr('0123456789abcdef', substr(md5(p || '_' || i), 1, 1)) - 1 < 8
      |    THEN 1 ELSE -1 END AS comp
      | FROM el, (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS p)),
      |signs AS (SELECT vec_id, p, SUM(comp * qe) AS proj FROM planes
      |  GROUP BY vec_id, p),
      |buckets AS (SELECT vec_id,
      |  CAST(SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
      | FROM signs GROUP BY vec_id)""".stripMargin

  /** The CTE `name` of (vec_id, q): each vector's embedding quantized to
    * 1e4 integer steps. */
  private[queries] def quantizedCte(name: String = "emb"): String =
    s"""$name AS (SELECT vec_id,
       |   list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
       |  FROM embeddings)""".stripMargin

  /** [[quantizedCte]] `emb` → nemb: each quantized vector with its squared
    * norm `qq`. No trailing comma. */
  private def normedCtes: String =
    s"""${quantizedCte()},
       |nemb AS (SELECT vec_id, q,
       |  list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS qq FROM emb)""".stripMargin

  /** cents: the 64 coarse IVF centroids (every vector with vec_id % 53 = 0,
    * lowest ids first) as (cid, cq, cc) from `nemb`. */
  private def centsCte: String =
    """cents AS (SELECT vec_id AS cid, q AS cq, qq AS cc FROM nemb
      |  WHERE vec_id % 53 = 0 ORDER BY vec_id LIMIT 64)""".stripMargin

  /** [[lshBucketCtes]] → q → bc → v → pairs → r: the `Similarity.knnGraph`
    * bucket-mate pairs, ranked per `src` by exact cosine (rank 1 =
    * nearest). Buckets over 10000 vectors are skipped. */
  private def lshKnnCtes: String =
    s"""$lshBucketCtes,
       |${quantizedCte("q")},
       |bc AS (SELECT bucket FROM buckets GROUP BY bucket
       |  HAVING COUNT(*) <= 10000),
       |v AS (SELECT b.vec_id, b.bucket, q.q,
       |    sqrt(CAST(CAST(list_sum(list_transform(q.q, x -> x * x)) AS BIGINT) AS DOUBLE)) AS nrm
       |  FROM buckets b JOIN bc ON bc.bucket = b.bucket
       |  JOIN q ON q.vec_id = b.vec_id),
       |pairs AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
       |    CAST(CAST(list_sum(list_transform(range(1, 65),
       |      i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE) / (a.nrm * b.nrm) AS cos
       |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT src, nbr, cos,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rank
       |  FROM pairs)""".stripMargin

  /** The qv10 and qv13 PQ oracle: 64 centroids taken in id order from
    * the vectors `centFilter` keeps, 8 sub-quantizer codes per vector,
    * and the query's ADC distance from a per-(sub-space, centroid) LUT. */
  private def pqAdcOracle(centFilter: String): String =
    s"""WITH ${quantizedCte()},
       |cents AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, q AS cq
       |  FROM (SELECT vec_id, q FROM emb $centFilter
       |        ORDER BY vec_id LIMIT 64)),
       |codes AS (SELECT vec_id, j, c AS code FROM (
       |  SELECT e.vec_id, s.j, ct.c,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.j ORDER BY
       |      list_sum(list_transform(range(1, 9), t ->
       |        (e.q[s.j*8 + t] - ct.cq[s.j*8 + t]) * (e.q[s.j*8 + t] - ct.cq[s.j*8 + t]))), ct.c) AS rn
       |  FROM emb e, (SELECT unnest(range(0, 8)) AS j) s, cents ct) WHERE rn = 1),
       |query AS (SELECT q AS xq FROM emb WHERE vec_id = 0),
       |lut AS (SELECT s.j, ct.c,
       |    CAST(list_sum(list_transform(range(1, 9), t ->
       |      (query.xq[s.j*8 + t] - ct.cq[s.j*8 + t]) * (query.xq[s.j*8 + t] - ct.cq[s.j*8 + t]))) AS BIGINT) AS d2
       |  FROM (SELECT unnest(range(0, 8)) AS j) s, cents ct, query),
       |adist AS (SELECT cd.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adist
       |  FROM codes cd JOIN lut l ON l.j = cd.j AND l.c = cd.code
       |  GROUP BY cd.vec_id)
       |SELECT vec_id, adist FROM adist WHERE vec_id <> 0
       |ORDER BY adist, vec_id LIMIT 12""".stripMargin

  /** assigned → resid: each vector's nearest `cents` centroid (cid, cq;
    * cc = |cq|², from `nemb` rows with qq = |q|²) and its residual `r`.
    * Shared by the residual IVF-PQ oracles qv14 and qv15. */
  private def residualAssignCtes: String =
    """assigned AS (SELECT vec_id AS id, q, cid, cq FROM (
      |  SELECT e.vec_id, e.q, ct.cid, ct.cq,
      |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |      e.qq + ct.cc - 2 * list_sum(list_transform(range(1, 65), i -> e.q[i] * ct.cq[i])),
      |      ct.cid) AS rn
      |  FROM nemb e, cents ct) WHERE rn = 1),
      |resid AS (SELECT id, cid,
      |  list_transform(range(1, 65), i -> q[i] - cq[i]) AS r FROM assigned)""".stripMargin

  /** query → probed → codes → lut, then the top 10 by ADC distance: the
    * residual IVF-PQ search over [[residualAssignCtes]] and the residual
    * codebook `cb` (c, cr), probing the query's 3 nearest cells. */
  private def residualAdcTail: String =
    """query AS (SELECT q AS xq, qq AS xqq FROM nemb WHERE vec_id = 0),
      |probed AS (SELECT cid, cq FROM cents, query
      |  ORDER BY xqq + cc - 2 * list_sum(list_transform(range(1, 65), i -> cq[i] * xq[i])), cid
      |  LIMIT 3),
      |codes AS (SELECT id, cid, j, c AS code FROM (
      |  SELECT t.id, t.cid, s.j, cb.c,
      |    ROW_NUMBER() OVER (PARTITION BY t.id, s.j ORDER BY
      |      list_sum(list_transform(range(1, 9), u ->
      |        (t.r[s.j*8 + u] - cb.cr[s.j*8 + u]) * (t.r[s.j*8 + u] - cb.cr[s.j*8 + u]))), cb.c) AS rn
      |  FROM resid t JOIN probed USING (cid), (SELECT unnest(range(0, 8)) AS j) s, cb) WHERE rn = 1),
      |lut AS (SELECT p.cid, s.j, cb.c,
      |    CAST(list_sum(list_transform(range(1, 9), u ->
      |      (query.xq[s.j*8 + u] - p.cq[s.j*8 + u] - cb.cr[s.j*8 + u])
      |      * (query.xq[s.j*8 + u] - p.cq[s.j*8 + u] - cb.cr[s.j*8 + u]))) AS BIGINT) AS d2
      |  FROM (SELECT unnest(range(0, 8)) AS j) s, cb, probed p, query)
      |SELECT cd.id AS vec_id, CAST(SUM(l.d2) AS BIGINT) AS adist
      |FROM codes cd JOIN lut l ON l.cid = cd.cid AND l.j = cd.j AND l.c = cd.code
      |WHERE cd.id <> 0
      |GROUP BY cd.id ORDER BY adist, vec_id LIMIT 10""".stripMargin

  val queries: Seq[Query] = Seq(
    // Brute-force cosine top-k against a query vector (vec_id = 0),
    // broadcast nested-loop over the quantized grid.
    Query("qv01_knn_cosine", Some(
      s"""WITH ${quantizedCte()},
        |qv AS (SELECT q AS v FROM emb WHERE vec_id = 0),
        |scored AS (SELECT e.vec_id,
        |  CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * qv.v[i])) AS DOUBLE) /
        |   (SQRT(CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * e.q[i])) AS DOUBLE)) *
        |    SQRT(CAST(list_sum(list_transform(range(1, 65), i -> qv.v[i] * qv.v[i])) AS DOUBLE))) AS cos_sim
        | FROM emb e, qv WHERE e.vec_id <> 0)
        |SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.topKCosine(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L, k = 20)
    },
    // Pairwise cosine stats within each label group (blocked all-pairs —
    // the exact near-dup-by-embedding pattern, block-bounded).
    Query("qv02_cosine_blocked", Some(
      """WITH emb AS (SELECT label, vec_id,
        |  list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
        | FROM embeddings),
        |nemb AS (SELECT label, vec_id, q,
        |  SQRT(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
        | FROM emb),
        |pairs AS (SELECT a.label,
        |  CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm) AS cos
        | FROM nemb a JOIN nemb b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, COUNT(*) AS n_pairs, MAX(cos) AS max_cos,
        | CAST(SUM(CAST(cos AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS avg_cos,
        | CAST(SUM(CASE WHEN cos > 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup
        |FROM pairs GROUP BY label ORDER BY label""".stripMargin)) { (s, d) =>
      graft.operators.Similarity
        .blockedCosinePairs(t(s, d, "embeddings"), "embedding", "vec_id", "label")
        .groupBy(col("block").as("label"))
        .agg(count(lit(1)).as("n_pairs"), max("cos").as("max_cos"),
          (sum(col("cos").cast("decimal(20,10)")).cast("double") / count(lit(1))).as("avg_cos"),
          sum(when(col("cos") > 0.8, 1L).otherwise(0L)).as("n_near_dup"))
        .orderBy("label")
    },
    // IVF-style ANN: coarse centroids (deterministic id-sample, SIZE-
    // CAPPED at 64 so the broadcast is O(1) in the corpus), exact-
    // integer L2 cell assignment, then top-k cosine within the nprobe=2
    // cells nearest the query. The scale path: search cost is
    // |cells probed| / |cells| of brute force, and every stage is a
    // hash-partitioned join/window - no driver-side index.
    Query("qv04_ivf_ann", Some(
      s"""WITH $normedCtes,
        |$centsCte,
        |assigned AS (SELECT vec_id, q, qq, cid FROM (
        |  SELECT e.vec_id, e.q, e.qq, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      e.qq + c.cc - 2 * list_sum(list_transform(range(1, 65), i -> e.q[i] * c.cq[i])),
        |      c.cid) AS rn
        |  FROM nemb e, cents c) WHERE rn = 1),
        |query AS (SELECT q AS xq, qq AS xqq FROM nemb WHERE vec_id = 0),
        |probed AS (SELECT cid FROM cents, query
        |  ORDER BY xqq + cc - 2 * list_sum(list_transform(range(1, 65), i -> cq[i] * xq[i])), cid
        |  LIMIT 2)
        |SELECT a.vec_id,
        |  CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * query.xq[i])) AS DOUBLE) /
        |   (SQRT(CAST(a.qq AS DOUBLE)) * SQRT(CAST(query.xqq AS DOUBLE))) AS cos_sim
        |FROM assigned a JOIN probed USING (cid), query
        |WHERE a.vec_id <> 0
        |ORDER BY cos_sim DESC, a.vec_id LIMIT 10""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.ivfTopK(t(s, d, "embeddings"),
        "embedding", "vec_id", queryId = 0L, k = 10, sampleMod = 53, nprobe = 2,
        maxCentroids = 64)
    },
    // IVF with MLlib-KMeans-TRAINED centroids (seed 42). Probing ALL
    // nCells makes the result provably equal to brute-force top-k
    // whatever the learned centroids are — the oracle checks that
    // invariant (engine-independent), while partial-probe recall is
    // covered by SimilaritySpec on clustered data.
    Query("qv05_ivf_trained", Some(
      s"""WITH ${quantizedCte()},
        |qv AS (SELECT q AS v FROM emb WHERE vec_id = 0),
        |scored AS (SELECT e.vec_id,
        |  CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * qv.v[i])) AS DOUBLE) /
        |   (SQRT(CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * e.q[i])) AS DOUBLE)) *
        |    SQRT(CAST(list_sum(list_transform(range(1, 65), i -> qv.v[i] * qv.v[i])) AS DOUBLE))) AS cos_sim
        | FROM emb e, qv WHERE e.vec_id <> 0)
        |SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.ivfTopKTrained(t(s, d, "embeddings"),
        "embedding", "vec_id", queryId = 0L, k = 10, nCells = 8, nprobe = 8)
    },
    // Random-hyperplane LSH bucketing: 8 sign bits from md5-derived +/-1
    // hyperplane components; bucket histogram (candidate-generation stage).
    Query("qv03_lsh_buckets", Some(
      s"""WITH $lshBucketCtes
        |SELECT bucket, COUNT(*) AS n_vecs FROM buckets GROUP BY bucket ORDER BY bucket""".stripMargin)) { (s, d) =>
      graft.operators.Similarity
        .lshBuckets(t(s, d, "embeddings"), "embedding", "vec_id",
          numPlanes = 8, dim = 64)
        .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
        .orderBy("bucket")
    },
    // Approximate k-NN GRAPH: every vector's 5 nearest bucket-mates —
    // the whole-graph batch shape (one call = one graph), bucket-bounded
    // pair fan-out, exact integer dot products under the oracle.
    Query("qv20_knn_graph", Some(
      s"""WITH $lshKnnCtes
        |SELECT src, nbr, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
        |ORDER BY src, rank""".stripMargin)) { (s, d) =>
      graft.operators.Similarity
        .knnGraph(t(s, d, "embeddings"), "embedding", "vec_id", k = 5)
        .orderBy("src", "rank")
    },
    // Multi-probe LSH (VLDB'07): probe the query's bucket plus the two
    // nearest-margin bit flips, exact-cosine re-rank — recall without
    // stacking hash tables.
    Query("qv38_multiprobe", Some(
      s"""WITH $lshBucketCtes,
        |${quantizedCte("q")},
        |qp AS (SELECT p, CAST(proj AS BIGINT) AS proj FROM signs
        |  WHERE vec_id = 0),
        |qb AS (SELECT CAST(SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << p)
        |    ELSE 0 END) AS BIGINT) AS bucket FROM qp),
        |fl AS (SELECT xor(qb.bucket, (1::BIGINT << p)) AS bucket
        |  FROM (SELECT p, ROW_NUMBER() OVER (ORDER BY ABS(proj), p) AS rnk
        |        FROM qp), qb
        |  WHERE rnk <= 2),
        |pr AS (SELECT bucket FROM qb UNION ALL SELECT bucket FROM fl),
        |qv AS (SELECT q.q,
        |    sqrt(CAST(CAST(list_sum(list_transform(q.q, x -> x * x)) AS BIGINT) AS DOUBLE)) AS qn
        |  FROM q WHERE vec_id = 0),
        |cand AS (SELECT b.vec_id, b.bucket FROM buckets b
        |  JOIN pr ON pr.bucket = b.bucket WHERE b.vec_id <> 0)
        |SELECT c.vec_id,
        |  CAST(CAST(list_sum(list_transform(range(1, 65),
        |    i -> a.q[i] * qv.q[i])) AS BIGINT) AS DOUBLE)
        |  / (sqrt(CAST(CAST(list_sum(list_transform(a.q, x -> x * x)) AS BIGINT) AS DOUBLE)) * qv.qn)
        |    AS cos_sim,
        |  c.bucket
        |FROM cand c JOIN q a ON a.vec_id = c.vec_id, qv
        |ORDER BY cos_sim DESC, c.vec_id LIMIT 10""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.multiProbeTopK(t(s, d, "embeddings"),
        "embedding", "vec_id", queryId = 0L, k = 10, probes = 3)
    },
    // Filtered-ANN strategy audit: exact pre-filter top-k vs
    // overfetch-then-filter post-filter top-k on a label predicate —
    // the recall a shared unfiltered index loses when the filter is
    // selective, quantified on this corpus/query.
    Query("qv39_filtered_ann", Some(
      """WITH emb AS (SELECT vec_id, label,
        |  list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
        | FROM embeddings),
        |qv AS (SELECT q AS v FROM emb WHERE vec_id = 0),
        |scored AS (SELECT e.vec_id, e.label % 3 = 0 AS elig,
        |  CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * qv.v[i])) AS DOUBLE) /
        |   (SQRT(CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * e.q[i])) AS DOUBLE)) *
        |    SQRT(CAST(list_sum(list_transform(range(1, 65), i -> qv.v[i] * qv.v[i])) AS DOUBLE))) AS cos
        | FROM emb e, qv WHERE e.vec_id <> 0),
        |truth AS (SELECT vec_id FROM scored WHERE elig
        |  ORDER BY cos DESC, vec_id LIMIT 10),
        |post AS (SELECT vec_id FROM
        |  (SELECT vec_id, elig, cos FROM scored ORDER BY cos DESC, vec_id
        |   LIMIT 30)
        |  WHERE elig ORDER BY cos DESC, vec_id LIMIT 10),
        |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_eligible
        |  FROM scored WHERE elig),
        |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM truth JOIN post USING (vec_id))
        |SELECT CAST(10 AS INT) AS k, CAST(30 AS INT) AS m, n_eligible,
        |  hits, (hits * 1000000) // 10 AS recall_ppm
        |FROM ne, h""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.filteredTopKAudit(t(s, d, "embeddings"),
        "embedding", "vec_id", queryId = 0L, k = 10, overfetch = 30,
        eligible = col("label") % 3 === 0)
    },
    // One NN-descent round over the qv20 bucket graph (WWW'11): the
    // undirected two-hop candidate expansion re-scored with the exact
    // cosine; is_new marks the recall the LSH buckets missed.
    Query("qv37_nn_descent", Some(
      s"""WITH $lshKnnCtes,
        |g AS (SELECT src, nbr FROM r WHERE rank <= 5),
        |planesb AS (SELECT vec_id, p, qe,
        |  CASE WHEN instr('0123456789abcdef', substr(md5('b_' || p || '_' || i), 1, 1)) - 1 < 8
        |    THEN 1 ELSE -1 END AS comp
        | FROM el, (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS p)),
        |signsb AS (SELECT vec_id, p, SUM(comp * qe) AS proj FROM planesb
        |  GROUP BY vec_id, p),
        |bucketsb AS (SELECT vec_id,
        |  CAST(SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
        | FROM signsb GROUP BY vec_id),
        |bcb AS (SELECT bucket FROM bucketsb GROUP BY bucket
        |  HAVING COUNT(*) <= 10000),
        |vb AS (SELECT b.vec_id, b.bucket, q.q,
        |    sqrt(CAST(CAST(list_sum(list_transform(q.q, x -> x * x)) AS BIGINT) AS DOUBLE)) AS nrm
        |  FROM bucketsb b JOIN bcb ON bcb.bucket = b.bucket
        |  JOIN q ON q.vec_id = b.vec_id),
        |pairsb AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
        |    CAST(CAST(list_sum(list_transform(range(1, 65),
        |      i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE) / (a.nrm * b.nrm) AS cos
        |  FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |rb AS (SELECT src, nbr, cos,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rank
        |  FROM pairsb),
        |gb AS (SELECT src, nbr FROM rb WHERE rank <= 5),
        |seed AS (SELECT src, nbr FROM g UNION ALL SELECT src, nbr FROM gb),
        |und AS (SELECT src, nbr FROM seed
        |  UNION SELECT nbr AS src, src AS nbr FROM seed),
        |two AS (SELECT x.src AS src, y.nbr AS nbr FROM und x
        |  JOIN und y ON x.nbr = y.src WHERE x.src <> y.nbr),
        |cand AS (SELECT src, nbr FROM und UNION SELECT src, nbr FROM two),
        |v2 AS (SELECT vec_id, q.q,
        |    sqrt(CAST(CAST(list_sum(list_transform(q.q, x -> x * x)) AS BIGINT) AS DOUBLE)) AS nrm
        |  FROM q),
        |sc AS (SELECT c.src, c.nbr,
        |    CAST(CAST(list_sum(list_transform(range(1, 65),
        |      i -> a.q[i] * b.q[i])) AS BIGINT) AS DOUBLE) / (a.nrm * b.nrm) AS cos
        |  FROM cand c JOIN v2 a ON a.vec_id = c.src
        |  JOIN v2 b ON b.vec_id = c.nbr),
        |ref AS (SELECT src, nbr, cos,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, nbr) AS rank
        |  FROM sc)
        |SELECT rf.src, rf.nbr, rf.cos, CAST(rf.rank AS INT) AS rank,
        |  (g.src IS NULL) AS is_new
        |FROM ref rf LEFT JOIN g ON g.src = rf.src AND g.nbr = rf.nbr
        |WHERE rf.rank <= 5 ORDER BY rf.src, rf.rank""".stripMargin)) { (s, d) =>
      graft.operators.Similarity
        .nnDescentRound(t(s, d, "embeddings"), "embedding", "vec_id", k = 5)
        .orderBy("src", "rank")
    },
    // Embedding-space drift between the even and odd vec_id halves:
    // exact integer mean-vector dot/norms + the cosine between means
    // (an encoder swap or topic shift moves cos_mean off ~1).
    Query("qv21_embedding_drift", Some(
      """WITH ga AS (SELECT list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |gb AS (SELECT list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |sa AS (SELECT i, CAST(SUM(q[i]) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ga, unnest(range(1, 65)) t(i) GROUP BY i),
        |sb AS (SELECT i, CAST(SUM(q[i]) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM gb, unnest(range(1, 65)) t(i) GROUP BY i),
        |ma AS (SELECT i, (s - ((s % n) + n) % n) // n AS m, n FROM sa),
        |mb AS (SELECT i, (s - ((s % n) + n) % n) // n AS m, n FROM sb),
        |j AS (SELECT ma.i, ma.m AS xa, mb.m AS xb, ma.n AS na, mb.n AS nb
        |  FROM ma JOIN mb ON ma.i = mb.i)
        |SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
        |  CAST(SUM(xa * xb) AS BIGINT) AS dot_ab,
        |  CAST(SUM(xa * xa) AS BIGINT) AS norm2_a,
        |  CAST(SUM(xb * xb) AS BIGINT) AS norm2_b,
        |  CAST(SUM((xa - xb) * (xa - xb)) AS BIGINT) AS l2_diff2,
        |  CAST(SUM(xa * xb) AS DOUBLE) /
        |    (SQRT(CAST(SUM(xa * xa) AS DOUBLE)) *
        |     SQRT(CAST(SUM(xb * xb) AS DOUBLE))) AS cos_mean
        |FROM j""".stripMargin)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.embeddingDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "embedding")
    },
    // Label-centroid purity: integer sum-vector centroids, signed-ppm
    // nearest-centroid argmax, per-label accuracy.
    Query("qv22_centroid_purity", Some(
      """WITH emb AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |ex AS (SELECT vec_id, label, i, q[i] AS v
        |  FROM emb, unnest(range(1, 65)) t(i)),
        |cent AS (SELECT label AS clabel, i, CAST(SUM(v) AS BIGINT) AS cv
        |  FROM ex GROUP BY 1, 2),
        |nc2 AS (SELECT clabel, CAST(SUM(cv * cv) AS BIGINT) AS nc2
        |  FROM cent GROUP BY 1),
        |nx2 AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nx2
        |  FROM ex GROUP BY 1),
        |dots AS (SELECT e.vec_id, e.label, c.clabel,
        |    CAST(SUM(e.v * c.cv) AS BIGINT) AS dot
        |  FROM ex e JOIN cent c ON c.i = e.i GROUP BY 1, 2, 3),
        |sc AS (SELECT d.vec_id, d.label, d.clabel,
        |    CASE WHEN d.dot < 0 THEN
        |      -CAST(FLOOR(CAST(d.dot AS DOUBLE) * CAST(d.dot AS DOUBLE)
        |        / (CAST(x.nx2 AS DOUBLE) * CAST(c.nc2 AS DOUBLE))
        |        * 1000000.0) AS BIGINT)
        |    ELSE CAST(FLOOR(CAST(d.dot AS DOUBLE) * CAST(d.dot AS DOUBLE)
        |        / (CAST(x.nx2 AS DOUBLE) * CAST(c.nc2 AS DOUBLE))
        |        * 1000000.0) AS BIGINT) END AS score
        |  FROM dots d JOIN nx2 x ON x.vec_id = d.vec_id
        |  JOIN nc2 c ON c.clabel = d.clabel),
        |best AS (SELECT vec_id, label, clabel,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score DESC, clabel) AS rk FROM sc)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  COALESCE(CAST(SUM(CASE WHEN clabel = label THEN 1 END) AS BIGINT), 0)
        |    AS n_correct,
        |  (COALESCE(CAST(SUM(CASE WHEN clabel = label THEN 1 END) AS BIGINT), 0)
        |    * 1000000) // COUNT(*) AS acc_ppm
        |FROM best WHERE rk = 1 GROUP BY label ORDER BY label""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.centroidPurity(
          t(s, d, "embeddings"), "embedding", "label", "vec_id")
        .orderBy("label")
    },
    // ANN recall calibration: sign-sketch Hamming top-10 vs exact cosine
    // top-10 for the id%97 query panel — measured recall@k per query.
    Query("qv23_hamming_recall", Some(
      """WITH emb AS (SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, q AS xq, embedding AS xe
        |  FROM emb WHERE vec_id % 97 = 0),
        |ex0 AS (SELECT qs.query_id, e.vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> e.q[i] * qs.xq[i])) AS DOUBLE) /
        |     (SQRT(CAST(list_sum(list_transform(range(1, 65),
        |        i -> e.q[i] * e.q[i])) AS DOUBLE)) *
        |      SQRT(CAST(list_sum(list_transform(range(1, 65),
        |        i -> qs.xq[i] * qs.xq[i])) AS DOUBLE))) AS cos_sim
        |  FROM emb e, qs WHERE e.vec_id <> qs.query_id),
        |exact AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rk FROM ex0) WHERE rk <= 10),
        |ap0 AS (SELECT qs.query_id, e.vec_id,
        |    CAST(len(list_filter(range(1, 65), i ->
        |      (CAST(e.embedding[i] AS DOUBLE) > 0)
        |        <> (CAST(qs.xe[i] AS DOUBLE) > 0))) AS BIGINT) AS hamming
        |  FROM emb e, qs WHERE e.vec_id <> qs.query_id),
        |approx AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY hamming, vec_id) AS rk FROM ap0) WHERE rk <= 10),
        |h AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM exact e JOIN approx a ON a.query_id = e.query_id
        |    AND a.vec_id = e.vec_id
        |  GROUP BY e.query_id)
        |SELECT q.query_id, COALESCE(h.hits, 0) AS hits,
        |  (COALESCE(h.hits, 0) * 1000000) // 10 AS recall_ppm
        |FROM (SELECT DISTINCT query_id FROM qs) q
        |LEFT JOIN h ON h.query_id = q.query_id
        |ORDER BY q.query_id""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.hammingRecall(
          t(s, d, "embeddings"), "embedding", "vec_id", queryMod = 97L,
          k = 10)
        .orderBy("query_id")
    },
    // IVF index-balance audit: per-cell population of the qv04 coarse
    // cells, empty cells included.
    Query("qv24_ivf_balance", Some(
      s"""WITH $normedCtes,
        |$centsCte,
        |assigned AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      e.qq + c.cc - 2 * list_sum(list_transform(range(1, 65),
        |        i -> e.q[i] * c.cq[i])),
        |      c.cid) AS rn
        |  FROM nemb e, cents c) WHERE rn = 1),
        |per AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM assigned
        |  GROUP BY cid),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM per)
        |SELECT c.cid AS cell, COALESCE(per.n, 0) AS n_vecs,
        |  (COALESCE(per.n, 0) * 1000000) // tot AS share_ppm
        |FROM cents c LEFT JOIN per ON per.cid = c.cid CROSS JOIN tot
        |ORDER BY cell""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.ivfCellBalance(
          t(s, d, "embeddings"), "embedding", "vec_id")
        .orderBy("cell")
    },
    // Embedding norm profile: octave histogram of quantized norm^2,
    // zero vectors in bucket 0.
    Query("qv25_norm_profile", Some(
      s"""WITH ${quantizedCte()},
        |n AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i]))
        |    AS BIGINT) AS n2
        | FROM emb)
        |SELECT CASE WHEN n2 = 0 THEN 0
        |    ELSE CAST(len(bin(n2)) AS BIGINT) END AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(MIN(n2) AS BIGINT) AS min_n2,
        |  CAST(MAX(n2) AS BIGINT) AS max_n2
        |FROM n GROUP BY 1 ORDER BY bucket""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.normProfile(
          t(s, d, "embeddings"), "embedding", "vec_id")
        .orderBy("bucket")
    },
    // Label-noise screen: majority-disagreeing k-NN neighborhoods flag
    // suspect labels, per label.
    Query("qv26_label_noise", Some(
      s"""WITH $lshKnnCtes,
        |g AS (SELECT src, nbr FROM r WHERE rank <= 5),
        |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
        |per AS (SELECT g.src, ls.lbl AS ls, CAST(COUNT(*) AS BIGINT) AS n_nbrs,
        |    COALESCE(CAST(SUM(CASE WHEN ln.lbl <> ls.lbl THEN 1 END)
        |      AS BIGINT), 0) AS n_dis
        |  FROM g JOIN lb ls ON ls.vec_id = g.src
        |  JOIN lb ln ON ln.vec_id = g.nbr
        |  GROUP BY g.src, ls.lbl),
        |sus AS (SELECT ls AS label,
        |    CASE WHEN n_dis * 2 > n_nbrs THEN 1 ELSE 0 END AS s FROM per)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(s) AS BIGINT) AS n_suspect,
        |  (CAST(SUM(s) AS BIGINT) * 1000000) // COUNT(*) AS suspect_ppm
        |FROM sus GROUP BY label ORDER BY label""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.labelNoise(
          t(s, d, "embeddings"), "embedding", "label", "vec_id", k = 5)
        .orderBy("label")
    },
    // Exact-duplicate vector groups over the quantized grid, with
    // injected clones so every SF has real duplicates.
    Query("qv27_dup_vectors", Some(
      """WITH all_v AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings
        |  WHERE vec_id % 37 = 0),
        |h AS (SELECT md5(array_to_string(list_transform(embedding,
        |    e -> COALESCE(CAST(CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)
        |      AS VARCHAR), chr(1))), ',')) AS h
        |  FROM all_v),
        |c AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS cnt FROM h GROUP BY h)
        |SELECT CAST(SUM(cnt) AS BIGINT) AS n_vecs,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(cnt) AS BIGINT) - CAST(COUNT(*) AS BIGINT) AS n_dup_vecs,
        |  CAST(MAX(cnt) AS BIGINT) AS max_group,
        |  ((CAST(SUM(cnt) AS BIGINT) - CAST(COUNT(*) AS BIGINT)) * 1000000)
        |    // GREATEST(1, CAST(SUM(cnt) AS BIGINT)) AS dup_ppm
        |FROM c""".stripMargin)) { (s, d) =>
      val e = t(s, d, "embeddings")
      val withClones = e.unionAll(e.filter(col("vec_id") % 37 === 0)
        .withColumn("vec_id", col("vec_id") + 100000L))
      graft.operators.Similarity.duplicateVectorGroups(
        withClones, "embedding")
    },
    // IVF cost/recall curve: scanned share and recall@10 at nprobe
    // 1/2/4/8 over the qv04 coarse cells.
    Query("qv34_ivf_probe_sweep", Some(
      s"""WITH ${quantizedCte()},
        |nemb AS (SELECT vec_id, q,
        |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qq
        |  FROM emb),
        |$centsCte,
        |assigned AS (SELECT vec_id, q, qq, cid FROM (
        |  SELECT e.vec_id, e.q, e.qq, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      e.qq + c.cc - 2 * list_sum(list_transform(range(1, 65),
        |        i -> e.q[i] * c.cq[i])),
        |      c.cid) AS rn
        |  FROM nemb e, cents c) WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, q AS xq, qq AS xqq FROM nemb
        |  WHERE vec_id % 97 = 0),
        |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qs),
        |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM nemb),
        |crank AS (SELECT query_id, cid, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY d2, cid) AS crk
        |  FROM (SELECT qs.query_id, c.cid,
        |      qs.xqq + c.cc - 2 * list_sum(list_transform(range(1, 65),
        |        i -> qs.xq[i] * c.cq[i])) AS d2
        |    FROM qs, cents c)),
        |np AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS nprobe),
        |probed AS (SELECT np.nprobe, crank.query_id, crank.cid
        |  FROM crank, np WHERE crank.crk <= np.nprobe),
        |cand AS (SELECT p.nprobe, p.query_id, a.vec_id, a.q, a.qq
        |  FROM assigned a JOIN probed p ON p.cid = a.cid
        |  WHERE a.vec_id <> p.query_id),
        |sc AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS scanned
        |  FROM cand GROUP BY 1),
        |ap AS (SELECT nprobe, query_id, vec_id FROM (
        |  SELECT c.nprobe, c.query_id, c.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY c.nprobe, c.query_id
        |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
        |          i -> c.q[i] * qs.xq[i])) AS DOUBLE) /
        |        (SQRT(CAST(c.qq AS DOUBLE)) * SQRT(CAST(qs.xqq AS DOUBLE)))
        |        DESC, c.vec_id) AS rk
        |  FROM cand c JOIN qs ON qs.query_id = c.query_id) WHERE rk <= 10),
        |ex AS (SELECT query_id, vec_id FROM (
        |  SELECT qs.query_id, e.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY qs.query_id
        |      ORDER BY CAST(list_sum(list_transform(range(1, 65),
        |          i -> e.q[i] * qs.xq[i])) AS DOUBLE) /
        |        (SQRT(CAST(e.qq AS DOUBLE)) * SQRT(CAST(qs.xqq AS DOUBLE)))
        |        DESC, e.vec_id) AS rk
        |  FROM nemb e, qs WHERE e.vec_id <> qs.query_id) WHERE rk <= 10),
        |h AS (SELECT a.nprobe, CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM ap a JOIN ex ON ex.query_id = a.query_id
        |    AND ex.vec_id = a.vec_id
        |  GROUP BY 1)
        |SELECT np.nprobe, nq.n_queries,
        |  COALESCE(sc.scanned, 0) AS scanned,
        |  (COALESCE(sc.scanned, 0) * 1000000)
        |    // GREATEST(1, nq.n_queries * (nv.n_vecs - 1)) AS scanned_ppm,
        |  COALESCE(h.hits, 0) AS hits,
        |  (COALESCE(h.hits, 0) * 1000000)
        |    // GREATEST(1, nq.n_queries * 10) AS recall_ppm
        |FROM np LEFT JOIN sc ON sc.nprobe = np.nprobe
        |LEFT JOIN h ON h.nprobe = np.nprobe, nq, nv
        |ORDER BY np.nprobe""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.ivfProbeSweep(
          t(s, d, "embeddings"), "embedding", "vec_id")
        .orderBy("nprobe")
    },
    // Matryoshka truncation sweep: retained energy + recall@10 when the
    // index serves only the first 8/16/32/64 dims.
    Query("qv33_mrl_truncation", Some(
      s"""WITH ${quantizedCte()},
        |nemb AS (SELECT vec_id, q,
        |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qq
        |  FROM emb),
        |dl AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS dims),
        |en AS (SELECT dl.dims, CAST(SUM(e.qq) AS BIGINT) AS tot,
        |    CAST(SUM(list_sum(list_transform(
        |      range(1, CAST(dl.dims AS INT) + 1),
        |      i -> e.q[i] * e.q[i]))) AS BIGINT) AS ptot
        |  FROM nemb e CROSS JOIN dl GROUP BY 1),
        |qs AS (SELECT vec_id AS query_id, q AS xq, qq AS xqq
        |  FROM nemb WHERE vec_id % 97 = 0),
        |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qs),
        |pf AS (SELECT query_id, vec_id, q, xq,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_full DESC, vec_id) AS rk_full
        |  FROM (SELECT qs.query_id, e.vec_id, e.q, qs.xq,
        |      CAST(list_sum(list_transform(range(1, 65),
        |        i -> e.q[i] * qs.xq[i])) AS DOUBLE) /
        |       (SQRT(CAST(e.qq AS DOUBLE)) * SQRT(CAST(qs.xqq AS DOUBLE)))
        |        AS cos_full
        |    FROM nemb e, qs WHERE e.vec_id <> qs.query_id)),
        |pd AS (SELECT dl.dims, pf.query_id, pf.vec_id, pf.rk_full,
        |    CAST(list_sum(list_transform(range(1, CAST(dl.dims AS INT) + 1),
        |      i -> pf.q[i] * pf.xq[i])) AS BIGINT) AS pd,
        |    CAST(list_sum(list_transform(range(1, CAST(dl.dims AS INT) + 1),
        |      i -> pf.q[i] * pf.q[i])) AS BIGINT) AS pqq,
        |    CAST(list_sum(list_transform(range(1, CAST(dl.dims AS INT) + 1),
        |      i -> pf.xq[i] * pf.xq[i])) AS BIGINT) AS pxqq
        |  FROM pf CROSS JOIN dl),
        |pr AS (SELECT dims, query_id, vec_id, rk_full,
        |    ROW_NUMBER() OVER (PARTITION BY dims, query_id
        |      ORDER BY cos_p DESC, vec_id) AS rk_p
        |  FROM (SELECT dims, query_id, vec_id, rk_full,
        |      CASE WHEN pqq = 0 OR pxqq = 0 THEN -2.0
        |        ELSE CAST(pd AS DOUBLE) /
        |          (SQRT(CAST(pqq AS DOUBLE)) * SQRT(CAST(pxqq AS DOUBLE)))
        |      END AS cos_p
        |    FROM pd)),
        |h AS (SELECT dims, CAST(COUNT(*) AS BIGINT) AS hits FROM pr
        |  WHERE rk_p <= 10 AND rk_full <= 10 GROUP BY 1)
        |SELECT en.dims,
        |  (en.ptot * 1000000) // GREATEST(1, en.tot) AS energy_ppm,
        |  nq.n_queries, COALESCE(h.hits, 0) AS hits,
        |  (COALESCE(h.hits, 0) * 1000000)
        |    // GREATEST(1, nq.n_queries * 10) AS recall_ppm
        |FROM en LEFT JOIN h ON h.dims = en.dims, nq
        |ORDER BY en.dims""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.mrlTruncationSweep(
          t(s, d, "embeddings"), "embedding", "vec_id",
          dims = Seq(8, 16, 32, 64), queryMod = 97L, k = 10)
        .orderBy("dims")
    },
    // Per-dimension clip calibration: the [p01, p99] ranges a scalar
    // quantizer clips to before assigning bits.
    Query("qv32_clip_calibration", Some(
      """WITH el AS (SELECT CAST(i - 1 AS INT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS v
        |  FROM embeddings, unnest(range(1, 65)) t(i))
        |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(v) AS BIGINT) AS min_v,
        |  quantile_cont(v, 0.01) AS p01,
        |  quantile_cont(v, 0.5) AS p50,
        |  quantile_cont(v, 0.99) AS p99,
        |  CAST(MAX(v) AS BIGINT) AS max_v
        |FROM el GROUP BY dim ORDER BY dim""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.clipCalibration(
          t(s, d, "embeddings"), "embedding")
        .orderBy("dim")
    },
    // Scalar-quantization distortion sweep: energy dropped at 4/6/8/10
    // bits per grid coordinate — the "how many bits do we need" curve.
    Query("qv31_sq_sweep", Some(
      """WITH emb AS (SELECT
        |  list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q
        | FROM embeddings),
        |base AS (SELECT q,
        |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qq
        |  FROM emb),
        |b AS (SELECT bits, (1::BIGINT << CAST(13 - bits AS INT)) AS m
        |  FROM (SELECT CAST(unnest([4, 6, 8, 10]) AS BIGINT) AS bits)),
        |d AS (SELECT b.bits, base.qq,
        |    CAST(list_sum(list_transform(base.q, x ->
        |      ((x % b.m + b.m) % b.m) * ((x % b.m + b.m) % b.m)))
        |      AS BIGINT) AS dist2
        |  FROM base CROSS JOIN b)
        |SELECT bits, CAST(SUM(qq) AS BIGINT) AS total_qq,
        |  CAST(SUM(dist2) AS BIGINT) AS total_dist2,
        |  CAST(MAX(dist2) AS BIGINT) AS max_dist2,
        |  (CAST(SUM(dist2) AS BIGINT) * 1000000)
        |    // GREATEST(1, CAST(SUM(qq) AS BIGINT)) AS distortion_ppm
        |FROM d GROUP BY bits ORDER BY bits""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.sqDistortionSweep(
          t(s, d, "embeddings"), "embedding", bits = Seq(4, 6, 8, 10))
        .orderBy("bits")
    },
    // k-NN hubness: in-degree histogram of the qv20 graph including the
    // never-retrieved zero bucket — the retrieval-health screen.
    Query("qv30_hubness", Some(
      s"""WITH $lshKnnCtes,
        |g AS (SELECT src, nbr FROM r WHERE rank <= 5),
        |ind AS (SELECT e.vec_id AS id, COALESCE(c.cnt, 0) AS in_degree
        |  FROM embeddings e LEFT JOIN (SELECT nbr,
        |      CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY nbr) c
        |    ON c.nbr = e.vec_id)
        |SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM ind GROUP BY in_degree ORDER BY in_degree""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.hubnessAudit(
          t(s, d, "embeddings"), "embedding", "vec_id", k = 5)
        .orderBy("in_degree")
    },
    // Embedding-space decontamination: best cosine of every corpus
    // vector against the id%97 eval panel, banded dup/near/clean — the
    // paraphrase-leak screen n-gram scans (qd22/qd68) can't give.
    // Bands data-scaled for the synthetic near-random corpus (best-cos
    // tops out ~0.40 here; production defaults are 0.95/0.99).
    Query("qv36_embedding_decontam", Some(
      s"""WITH $normedCtes,
        |panel AS (SELECT q AS eq, qq AS ecc FROM nemb WHERE vec_id % 97 = 0),
        |best AS (SELECT e.vec_id,
        |    MAX(CAST(FLOOR(CAST(list_sum(list_transform(range(1, 65),
        |        i -> e.q[i] * p.eq[i])) AS DOUBLE)
        |      / (SQRT(CAST(e.qq AS DOUBLE)) * SQRT(CAST(p.ecc AS DOUBLE)))
        |      * 1000000.0) AS BIGINT)) AS m
        |  FROM nemb e CROSS JOIN panel p WHERE e.vec_id % 97 <> 0
        |  GROUP BY e.vec_id)
        |SELECT CASE WHEN m >= 350000 THEN 'dup'
        |    WHEN m >= 250000 THEN 'near' ELSE 'clean' END AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_vectors, MAX(m) AS max_cos_ppm
        |FROM best GROUP BY 1 ORDER BY band""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.embeddingDecontam(
          t(s, d, "embeddings"), "embedding", "vec_id", evalMod = 97,
          dupPpm = 350000L, nearPpm = 250000L)
        .orderBy("band")
    },
    // Simplified silhouette per cell: separation between centroids —
    // qv22 asks "labels agree?", qv28 "members resemble the centroid?",
    // this asks "are the cells distinct from EACH OTHER?".
    Query("qv35_silhouette", Some(
      s"""WITH $normedCtes,
        |cents AS (SELECT vec_id AS cid, q AS cq,
        |  list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS cc
        |  FROM nemb WHERE vec_id % 53 = 0 ORDER BY vec_id LIMIT 64),
        |d AS (SELECT vec_id, cid, d2, rn FROM (
        |  SELECT e.vec_id, c.cid,
        |    e.qq + c.cc
        |      - 2 * list_sum(list_transform(range(1, 65), i -> e.q[i] * c.cq[i])) AS d2,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      e.qq + c.cc
        |        - 2 * list_sum(list_transform(range(1, 65), i -> e.q[i] * c.cq[i])),
        |      c.cid) AS rn
        |  FROM nemb e, cents c) WHERE rn <= 2),
        |ab AS (SELECT vec_id,
        |    MAX(CASE WHEN rn = 1 THEN cid END) AS cid,
        |    MAX(CASE WHEN rn = 1 THEN d2 END) AS a2,
        |    MAX(CASE WHEN rn = 2 THEN d2 END) AS b2
        |  FROM d GROUP BY vec_id),
        |s AS (SELECT cid, CASE WHEN GREATEST(a2, b2) = 0 THEN 0
        |    ELSE CAST(FLOOR((1000000.0 * CAST(b2 - a2 AS DOUBLE))
        |      / CAST(GREATEST(a2, b2) AS DOUBLE)) AS BIGINT) END AS sppm
        |  FROM ab)
        |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(sppm) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
        |    AS mean_sil_ppm,
        |  MIN(sppm) AS min_sil_ppm
        |FROM s GROUP BY cid ORDER BY cid""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.silhouette(
          t(s, d, "embeddings"), "embedding", "vec_id",
          sampleMod = 53, maxCentroids = 64)
        .orderBy("cid")
    },
    // Coreset coverage: per non-empty cell, how well members resemble
    // their centroid (worst + summed cos ppm) — qv24's balance audit
    // answers "even cells?", this answers "representative centroids?".
    Query("qv28_coreset_coverage", Some(
      s"""WITH $normedCtes,
        |cents AS (SELECT vec_id AS cid, q AS cq,
        |  list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS cc
        |  FROM nemb WHERE vec_id % 53 = 0 ORDER BY vec_id LIMIT 64),
        |assigned AS (SELECT cid, cc, qq,
        |    list_sum(list_transform(range(1, 65), i -> q[i] * cq[i])) AS dp
        |  FROM (
        |    SELECT e.vec_id, e.q, e.qq, c.cid, c.cq, c.cc,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        e.qq + c.cc
        |          - 2 * list_sum(list_transform(range(1, 65), i -> e.q[i] * c.cq[i])),
        |        c.cid) AS rn
        |    FROM nemb e, cents c) WHERE rn = 1),
        |p AS (SELECT cid, CAST(FLOOR(CAST(dp AS DOUBLE)
        |    / (SQRT(CAST(qq AS DOUBLE)) * SQRT(CAST(cc AS DOUBLE)))
        |    * 1000000.0) AS BIGINT) AS ppm FROM assigned)
        |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned,
        |  MIN(ppm) AS min_cos_ppm, CAST(SUM(ppm) AS BIGINT) AS sum_cos_ppm
        |FROM p GROUP BY cid ORDER BY cid""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.coresetCoverage(
          t(s, d, "embeddings"), "embedding", "vec_id",
          sampleMod = 53, maxCentroids = 64)
        .orderBy("cid")
    },
    // PQ reconstruction distortion: the relative L2² energy the m=8
    // encoding throws away, one corpus scan, one row.
    Query("qv29_pq_distortion", Some(
      s"""WITH $normedCtes,
        |cents AS (SELECT q AS cq FROM nemb WHERE vec_id % 53 = 0
        |  ORDER BY vec_id LIMIT 64),
        |sd AS (SELECT e.vec_id, s.j,
        |    MIN(list_sum(list_transform(range(s.j * 8 + 1, s.j * 8 + 9),
        |      i -> (e.q[i] - c.cq[i]) * (e.q[i] - c.cq[i])))) AS d2
        |  FROM nemb e, cents c,
        |       (SELECT unnest(generate_series(0, 7)) AS j) s
        |  GROUP BY e.vec_id, s.j),
        |per AS (SELECT vec_id, CAST(SUM(d2) AS BIGINT) AS dist2
        |  FROM sd GROUP BY vec_id),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    CAST(SUM(qq) AS BIGINT) AS total_qq FROM nemb),
        |agg AS (SELECT CAST(SUM(dist2) AS BIGINT) AS total_dist2,
        |    CAST(MAX(dist2) AS BIGINT) AS max_dist2 FROM per)
        |SELECT CAST(8 AS BIGINT) AS m, n_vecs, total_qq, total_dist2,
        |  max_dist2,
        |  (total_dist2 * 1000000) // GREATEST(1, total_qq) AS distortion_ppm
        |FROM tot, agg""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.pqDistortion(
        t(s, d, "embeddings"), "embedding", "vec_id", m = 8)
    },
    // Binary-quantized ANN: 64-dim float32 -> one sign-bit bigint per
    // row, top-k by codegen'd bit_count(xor) Hamming scan (no float math
    // in the hot path; the index is 32x smaller than the vectors).
    Query("qv08_hamming_ann", Some(
      """WITH sk AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |    CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > 0
        |      THEN (CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |            ELSE (CAST(1 AS BIGINT) << i) END)
        |      ELSE 0 END)) AS BIGINT) AS s
        | FROM embeddings),
        |q AS (SELECT s AS qs FROM sk WHERE vec_id = 7)
        |SELECT vec_id, CAST(bit_count(xor(s, qs)) AS BIGINT) AS hamming
        |FROM sk, q WHERE vec_id <> 7
        |ORDER BY hamming, vec_id LIMIT 15""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.hammingTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 7L, k = 15)
    },
    // Product-quantization ANN: vectors compress to 8 codes (nearest
    // id-sample centroid per 8-dim subvector, native pq_encode kernel);
    // query scored via an inlined asymmetric-distance LUT — per-row
    // arithmetic over codes, no vector touched at query time.
    Query("qv10_pq_ann", Some(pqAdcOracle("WHERE vec_id % 53 = 0"))) { (s, d) =>
      graft.operators.Similarity.pqTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L,
        k = 12, m = 8, sampleMod = 53, maxCentroids = 64)
    },
    // Two-stage retrieval: binary-sketch Hamming scan proposes 60
    // candidates, exact integer-cosine re-ranks to top-10 — coarse
    // filter + precise re-rank in one corpus scan.
    Query("qv11_rerank", Some(
      """WITH emb AS (SELECT vec_id,
        |  list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 10000) AS BIGINT)) AS q,
        |  CAST(list_sum(list_transform(range(0, 64), i ->
        |    CASE WHEN CAST(embedding[i + 1] AS DOUBLE) > 0
        |      THEN (CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |            ELSE (CAST(1 AS BIGINT) << i) END)
        |      ELSE 0 END)) AS BIGINT) AS sk
        | FROM embeddings),
        |query AS (SELECT q AS xq, sk AS xsk FROM emb WHERE vec_id = 3),
        |cands AS (SELECT e.vec_id, e.q FROM emb e, query
        |  WHERE e.vec_id <> 3
        |  ORDER BY bit_count(xor(e.sk, query.xsk)), e.vec_id LIMIT 60)
        |SELECT c.vec_id,
        |  CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * query.xq[i])) AS DOUBLE) /
        |   (SQRT(CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * c.q[i])) AS DOUBLE)) *
        |    SQRT(CAST(list_sum(list_transform(range(1, 65), i -> query.xq[i] * query.xq[i])) AS DOUBLE))) AS cos_sim
        |FROM cands c, query
        |ORDER BY cos_sim DESC, c.vec_id LIMIT 10""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.rerankTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 3L,
        k = 10, candidates = 60)
    },
    // IVF+PQ (FAISS IVFPQ shape): coarse cells filter to nprobe=3,
    // PQ ADC scores only the probed cells — index = (cell, 8 codes)/vec.
    Query("qv12_ivfpq", Some(
      s"""WITH $normedCtes,
        |cents AS (SELECT cid, cq, cc, ROW_NUMBER() OVER (ORDER BY cid) - 1 AS c
        |  FROM (SELECT vec_id AS cid, q AS cq, qq AS cc FROM nemb
        |        WHERE vec_id % 53 = 0 ORDER BY vec_id LIMIT 64)),
        |assigned AS (SELECT vec_id AS id, q, cid FROM (
        |  SELECT e.vec_id, e.q, ct.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      e.qq + ct.cc - 2 * list_sum(list_transform(range(1, 65), i -> e.q[i] * ct.cq[i])),
        |      ct.cid) AS rn
        |  FROM nemb e, cents ct) WHERE rn = 1),
        |query AS (SELECT q AS xq, qq AS xqq FROM nemb WHERE vec_id = 0),
        |probed AS (SELECT cid FROM cents, query
        |  ORDER BY xqq + cc - 2 * list_sum(list_transform(range(1, 65), i -> cq[i] * xq[i])), cid
        |  LIMIT 3),
        |codes AS (SELECT id, j, c AS code FROM (
        |  SELECT a.id, s.j, ct.c,
        |    ROW_NUMBER() OVER (PARTITION BY a.id, s.j ORDER BY
        |      list_sum(list_transform(range(1, 9), t ->
        |        (a.q[s.j*8 + t] - ct.cq[s.j*8 + t]) * (a.q[s.j*8 + t] - ct.cq[s.j*8 + t]))), ct.c) AS rn
        |  FROM assigned a JOIN probed USING (cid), (SELECT unnest(range(0, 8)) AS j) s, cents ct) WHERE rn = 1),
        |lut AS (SELECT s.j, ct.c,
        |    CAST(list_sum(list_transform(range(1, 9), t ->
        |      (query.xq[s.j*8 + t] - ct.cq[s.j*8 + t]) * (query.xq[s.j*8 + t] - ct.cq[s.j*8 + t]))) AS BIGINT) AS d2
        |  FROM (SELECT unnest(range(0, 8)) AS j) s, cents ct, query)
        |SELECT cd.id AS vec_id, CAST(SUM(l.d2) AS BIGINT) AS adist
        |FROM codes cd JOIN lut l ON l.j = cd.j AND l.c = cd.code
        |WHERE cd.id <> 0
        |GROUP BY cd.id ORDER BY adist, vec_id LIMIT 10""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.ivfPqTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L,
        k = 10, m = 8, sampleMod = 53, nprobe = 3, maxCentroids = 64)
    },
    // TRAINED PQ (real Jégou layout: one k-means codebook per subspace,
    // driver-side Lloyd on a BOUNDED first-trainRows sample — training
    // cost and codebook size O(1) in the corpus). Gate pins the
    // nCodes >= trainRows invariance (every training point its own
    // center, in id order => deterministic, SQL-expressible ADC); the
    // partial-K trained path is spec-anchored on clustered data.
    Query("qv13_pq_trained", Some(pqAdcOracle(""))) { (s, d) =>
      graft.operators.Similarity.pqTopKTrained(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L,
        k = 12, m = 8, nCodes = 64, trainRows = 64)
    },
    // RESIDUAL-encoded IVF+PQ (the actual FAISS IVFPQ layout): codes
    // quantize vector - cell centroid, ADC uses a per-probed-cell LUT.
    // Deterministic variant: capped id-sample cells + first-64-residual
    // codebook, replayed exactly by the oracle.
    Query("qv14_ivfpq_residual", Some(
      s"""WITH $normedCtes,
        |$centsCte,
        |$residualAssignCtes,
        |cb AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS c, r AS cr
        |  FROM (SELECT id, r FROM resid ORDER BY id LIMIT 64)),
        |$residualAdcTail""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.ivfPqTopKResidual(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L,
        k = 10, m = 8, sampleMod = 53, nprobe = 3, maxCentroids = 64,
        nCodes = 64)
    },
    trainedResidual,
    // Scalar-quantized int8 ANN (FAISS SQ8): per-vector symmetric scale,
    // 1-byte codes, asymmetric full-precision-query scoring. The whole
    // encode+score is one exchange-free scan; fully SQL-expressible
    // (correctly-rounded IEEE division + half-away rounding in both
    // engines), so the oracle replays the quantization bit-for-bit.
    Query("qv16_sq_ann", Some(
      s"""WITH ${quantizedCte()},
        |sc AS (SELECT vec_id, q,
        |  GREATEST(1, CAST(ceil(CAST(list_max(list_transform(q, e -> abs(e))) AS DOUBLE) / 127.0) AS BIGINT)) AS scale
        | FROM emb),
        |codes AS (SELECT vec_id,
        |  list_transform(q, e -> CAST(round(CAST(e AS DOUBLE) / scale) AS BIGINT)) AS c
        | FROM sc),
        |qv AS (SELECT q AS v FROM emb WHERE vec_id = 0),
        |scored AS (SELECT codes.vec_id,
        |  CAST(list_sum(list_transform(range(1, 65), i -> codes.c[i] * qv.v[i])) AS DOUBLE) /
        |   (SQRT(CAST(list_sum(list_transform(range(1, 65), i -> codes.c[i] * codes.c[i])) AS DOUBLE)) *
        |    SQRT(CAST(list_sum(list_transform(range(1, 65), i -> qv.v[i] * qv.v[i])) AS DOUBLE))) AS cos_approx
        | FROM codes, qv WHERE codes.vec_id <> 0)
        |SELECT vec_id, cos_approx FROM scored
        |ORDER BY cos_approx DESC, vec_id LIMIT 10""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.sqTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L, k = 10)
    },
    // SemDeDup semantic dedup: coarse cells from the deterministic
    // id-sample centroids, within-cell cosine >= tau evicts the higher
    // id. Output = dropped rows with their retained representative.
    Query("qv09_semantic_dedup", Some(
      s"""WITH $normedCtes,
        |cents AS (SELECT vec_id AS cid, q AS cq FROM nemb
        |  WHERE vec_id % 53 = 0 ORDER BY vec_id LIMIT 64),
        |assigned AS (SELECT vec_id AS id, q, SQRT(CAST(qq AS DOUBLE)) AS nrm, cid FROM (
        |  SELECT e.vec_id, e.q, e.qq, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      e.qq + list_sum(list_transform(range(1, 65), i -> c.cq[i] * c.cq[i]))
        |        - 2 * list_sum(list_transform(range(1, 65), i -> e.q[i] * c.cq[i])),
        |      c.cid) AS rn
        |  FROM nemb e, cents c) WHERE rn = 1),
        |pairs AS (SELECT a.id AS id_a, b.id AS id_b
        | FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.id < b.id
        | WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
        |    / (a.nrm * b.nrm) >= 0.4)
        |SELECT id_b AS id, MIN(id_a) AS rep_id FROM pairs GROUP BY id_b""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.semanticDedup(
        t(s, d, "embeddings"), "embedding", "vec_id",
        sampleMod = 53, tau = 0.4, maxCell = 10000, maxCentroids = 64)
    },
    // MMR diversity rerank: one corpus scan builds the 40-vector pool,
    // then the inherently-sequential greedy selection runs over the
    // bounded collected pool; the oracle unrolls all 8 picks as CTEs.
    Query("qv17_mmr_rerank", Some(mmrOracle(k = 8, poolSize = 40))) { (s, d) =>
      graft.operators.Similarity.mmrRerank(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L,
        k = 8, poolSize = 40, lambda = 0.7)
    },
    // JL dimension reduction: 64 -> 16 dims via an inlined md5-derived
    // +/-1 matrix, then top-k cosine in the projected space — one
    // exchange-free corpus scan (16 codegen'd dot_longs per row).
    // qv18: the identical +/-1 JL projection replayed from the same md5
    // coin (seed 7, 16x64), exact BIGINT projections, double only in the
    // final cosine ratio — same a / (b * c) association as the operator.
    Query("qv18_jl_project", Some(
      s"""WITH ${quantizedCte()},
        |r AS MATERIALIZED (SELECT j, list_transform(range(0, 64), i ->
        |    CASE WHEN instr('0123456789abcdef', substr(md5(7 || '_' || j || '_' || i), 1, 1)) - 1 < 8
        |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS comp
        |  FROM (SELECT CAST(unnest(generate_series(0, 15)) AS INT) AS j)),
        |proj AS MATERIALIZED (SELECT e.vec_id, r.j,
        |    list_sum(list_transform(range(1, 65), i -> e.q[i] * r.comp[i])) AS p
        |  FROM emb e, r),
        |pv AS MATERIALIZED (SELECT vec_id, list(p ORDER BY j) AS pv
        |  FROM proj GROUP BY vec_id),
        |qv AS (SELECT pv AS v,
        |  SQRT(CAST(list_sum(list_transform(range(1, 17), i -> pv[i] * pv[i])) AS DOUBLE)) AS n
        | FROM pv WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(list_sum(list_transform(range(1, 17), i -> e.pv[i] * qv.v[i])) AS DOUBLE)
        |    / (SQRT(CAST(list_sum(list_transform(range(1, 17), i -> e.pv[i] * e.pv[i])) AS DOUBLE)) * qv.n) AS pcos
        |FROM pv e, qv WHERE e.vec_id <> 0
        |ORDER BY pcos DESC, e.vec_id LIMIT 10""".stripMargin)) { (s, d) =>
      graft.operators.Similarity.jlProjectTopK(
        t(s, d, "embeddings"), "embedding", "vec_id", queryId = 0L,
        k = 10, outDim = 16, dim = 64, seed = 7)
    },
    // Margin-based bitext mining: even vec_ids as corpus A, odd as
    // corpus B; LSH-bucketed candidates, unit-integer cosines, ratio
    // margin — the best-margin b per a, fully replayed in SQL.
    // full replay: quantize -> unit-integer grid -> shared-plane LSH
    // buckets -> within-bucket scaled-cosine candidates -> top-k sums ->
    // integer ratio margin -> best-margin b per a
    Query("qv19_bitext_mining", Some(
      s"""WITH ${quantizedCte("q")},
        |q2 AS (SELECT vec_id, q,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS BIGINT) AS qq
        |  FROM q),
        |u AS (SELECT vec_id, q,
        |    list_transform(q, x -> CAST(round(x * 10000 / sqrt(qq)) AS BIGINT)) AS u
        |  FROM q2 WHERE qq > 0),
        |el AS (SELECT vec_id, CAST(i - 1 AS INT) AS i, q[i] AS qe
        |  FROM q, unnest(range(1, 65)) t(i)),
        |pl AS (SELECT vec_id, p, qe,
        |    CASE WHEN instr('0123456789abcdef', substr(md5(p || '_' || i), 1, 1)) - 1 < 8
        |      THEN 1 ELSE -1 END AS comp
        |  FROM el, (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS p)),
        |proj AS (SELECT vec_id, p, SUM(comp * qe) AS pr FROM pl GROUP BY 1, 2),
        |bkt AS (SELECT vec_id,
        |    CAST(SUM(CASE WHEN pr >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id),
        |ba AS (SELECT vec_id AS id_a, bucket FROM bkt WHERE vec_id % 2 = 0
        |  QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= 4096),
        |bb AS (SELECT vec_id AS id_b, bucket FROM bkt WHERE vec_id % 2 = 1
        |  QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= 4096),
        |cand AS (SELECT id_a, id_b,
        |    CAST(list_sum(list_transform(range(1, 65), i -> ua.u[i] * ub.u[i])) AS BIGINT) AS s
        |  FROM ba JOIN bb USING (bucket)
        |  JOIN u ua ON ua.vec_id = id_a JOIN u ub ON ub.vec_id = id_b),
        |pos AS (SELECT * FROM cand WHERE s > 0),
        |rk AS (SELECT id_a, id_b, s,
        |    ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY s DESC, id_b) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY s DESC, id_a) AS rb
        |  FROM pos),
        |fwd AS (SELECT id_a, CAST(SUM(s) AS BIGINT) AS sumA,
        |    CAST(COUNT(*) AS BIGINT) AS cntA FROM rk WHERE rf <= 4 GROUP BY 1),
        |bwd AS (SELECT id_b, CAST(SUM(s) AS BIGINT) AS sumB,
        |    CAST(COUNT(*) AS BIGINT) AS cntB FROM rk WHERE rb <= 4 GROUP BY 1),
        |m AS (SELECT p.id_a, p.id_b, p.s,
        |    (2 * p.s * 1000000) // ((sumA // cntA) + (sumB // cntB)) AS margin_scaled
        |  FROM pos p JOIN fwd USING (id_a) JOIN bwd USING (id_b)),
        |best AS (SELECT id_a, id_b, s, margin_scaled,
        |    ROW_NUMBER() OVER (PARTITION BY id_a
        |      ORDER BY margin_scaled DESC, id_b) AS r
        |  FROM m)
        |SELECT id_a, id_b, s AS cos_scaled, margin_scaled
        |FROM best WHERE r = 1 ORDER BY id_a""".stripMargin)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.mineParallelPairs(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "embedding", "vec_id", k = 4, numPlanes = 4, dim = 64)
        .orderBy("id_a")
    }
  )

  /** qv15's oracle is GENERATED, not static: KMeans training isn't
    * SQL-expressible, but the SEARCH stage is, so the oracle inlines the
    * exact cells + residual codebook the qv15 query trained this session
    * ([[graft.operators.Similarity.lastTrainedResidual]]) as literal
    * tables and replays assignment, probe choice, PQ encoding, and ADC
    * in DuckDB — the qv14 formulation with literals in place of the
    * SQL-derived structures. Absent until the query has run in this JVM;
    * graft.Verify runs every query before dumping oracle SQL, so the
    * driver's dump always carries it. */
  def generatedOracleSql: Map[String, String] =
    graft.operators.Similarity.lastTrainedResidual.map { case (cids, cb0, cbRows) =>
      trainedResidual.name -> trainedResidualSql(cids, cb0, cbRows)
    }.toMap

  private def trainedResidualSql(cids: Array[Long], cb0: Array[Array[Long]],
      cbRows: Array[Array[Long]]): String = {
    def row(id: Long, v: Array[Long]) = s"($id, ${v.mkString("[", ",", "]")})"
    val cents = cids.zip(cb0).map { case (c, v) => row(c, v) }.mkString(", ")
    val cb = cbRows.zipWithIndex.map { case (v, c) => row(c.toLong, v) }.mkString(", ")
    s"""WITH $normedCtes,
       |cents0(cid, cq0) AS (VALUES $cents),
       |cents AS (SELECT cid, list_transform(cq0, e -> CAST(e AS BIGINT)) AS cq,
       |  list_sum(list_transform(cq0, e -> CAST(e AS BIGINT) * e)) AS cc FROM cents0),
       |cb0(c, cr0) AS (VALUES $cb),
       |cb AS (SELECT c, list_transform(cr0, e -> CAST(e AS BIGINT)) AS cr FROM cb0),
       |$residualAssignCtes,
       |$residualAdcTail""".stripMargin
  }

  /** The qv17 oracle: the identical greedy MMR selection unrolled as one
    * CTE per pick. λ = 0.7 enters as `CAST(0.7 AS DOUBLE)` and 1−λ as
    * `CAST(1 AS DOUBLE) − CAST(0.7 AS DOUBLE)` — the exact doubles the
    * operator computes (`1.0 - 0.7` ≠ the literal `0.3` by 1 ulp).
    * Every CTE is `AS MATERIALIZED`: each sel$t is referenced 3× by the
    * next step, so DuckDB's default inline expansion re-evaluates the
    * chain ~3^k times (minutes at k=8); materialization makes it linear. */
  private def mmrOracle(k: Int, poolSize: Int): String = {
    val lam = "CAST(0.7 AS DOUBLE)"
    val mu = s"(CAST(1 AS DOUBLE) - $lam)"
    val steps = (2 to k).map { t =>
      s"""s$t AS MATERIALIZED (SELECT CAST($t AS INT) AS rank, p.vec_id, p.rel,
         |    $lam * p.rel - $mu * ms.m AS mmr
         |  FROM pool p JOIN (SELECT pc.ia, MAX(pc.cos) AS m FROM pc
         |      WHERE pc.ib IN (SELECT vec_id FROM sel${t - 1}) GROUP BY pc.ia) ms
         |    ON ms.ia = p.vec_id
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |  ORDER BY mmr DESC, p.vec_id LIMIT 1),
         |sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${quantizedCte()},
       |nrm AS (SELECT vec_id, q,
       |  SQRT(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE)) AS n
       | FROM emb),
       |qv AS (SELECT q AS v, n FROM nrm WHERE vec_id = 0),
       |pool AS MATERIALIZED (SELECT e.vec_id, e.q, e.n,
       |  CAST(list_sum(list_transform(range(1, 65), i -> e.q[i] * qv.v[i])) AS DOUBLE)
       |    / (e.n * qv.n) AS rel
       | FROM nrm e, qv WHERE e.vec_id <> 0
       | ORDER BY rel DESC, e.vec_id LIMIT $poolSize),
       |pc AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
       |  CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
       |    / (a.n * b.n) AS cos
       | FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |s1 AS (SELECT CAST(1 AS INT) AS rank, vec_id, rel, $lam * rel AS mmr
       |  FROM pool ORDER BY mmr DESC, vec_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT * FROM s1),
       |$steps
       |SELECT rank, vec_id, rel, mmr FROM sel$k ORDER BY rank""".stripMargin
  }
}
