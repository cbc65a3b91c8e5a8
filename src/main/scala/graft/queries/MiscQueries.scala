package graft.queries

import graft.operators.AsOfJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Breadth beyond the core checklist: as-of join (custom operator),
  * exact percentiles, grouping sets. */
object MiscQueries {
  import Relational.{hex52, t}

  /** The co-purchase graph's vertices: every order sampled by
    * `l_orderkey % m = 0` with each of its distinct parts, as (o, p). */
  private def orderParts(s: SparkSession, d: String, m: Int): DataFrame =
    t(s, d, "lineitem").filter(col("l_orderkey") % m === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()

  /** The co-purchase graph: one edge per two parts (a.p < b.p) bought in
    * the same order of `pp` ([[orderParts]]), as columns `a`, `b`. */
  private def coPurchaseEdges(pp: DataFrame, a: String = "pa",
      b: String = "pb"): DataFrame =
    pp.as("a").join(pp.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as(a), col("b.p").as(b))

  /** The oracle twin of [[orderParts]]: the CTE `name` of sampled (o, p).
    * No trailing comma. */
  private def orderPartsCte(m: Int, name: String = "pp"): String =
    s"""$name AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |  WHERE l_orderkey % $m = 0)""".stripMargin

  /** pp → edges: the oracle twin of [[orderParts]] and [[coPurchaseEdges]],
    * each edge once as (u < v) in the CTE named `edges`. No trailing comma. */
  private def coPurchaseCtes(m: Int, edges: String = "edges"): String =
    s"""${orderPartsCte(m)},
       |$edges AS (SELECT DISTINCT LEAST(a.p, b.p) AS u, GREATEST(a.p, b.p) AS v
       |  FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p)""".stripMargin

  /** pp → e0 (each edge once, u < v) → edges (both directions): the graph
    * the qg18/qg09 BFS oracles walk. No trailing comma. */
  private def coPurchaseBothWaysCtes: String =
    s"""${orderPartsCte(50)},
       |e0 AS (SELECT a.p AS u, b.p AS v FROM pp a JOIN pp b
       |  ON a.o = b.o AND a.p < b.p),
       |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0)""".stripMargin

  /** pp → e0 → adj (both directions) → r (each neighbour's rank `rn` and
    * the degree `deg` of `s`): the walk table of the qg19/qg20 oracles.
    * No trailing comma. */
  private def walkStepCtes: String =
    s"""${orderPartsCte(50)},
       |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM pp a JOIN pp b
       |  ON a.o = b.o AND a.p < b.p),
       |adj AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
       |r AS (SELECT s, t, ROW_NUMBER() OVER (PARTITION BY s ORDER BY t) AS rn,
       |    COUNT(*) OVER (PARTITION BY s) AS deg FROM adj)""".stripMargin

  /** The qa18 experiment's arm test over `user_id` (true = arm A): the md5
    * of `ab_exp1_<user_id>` read as a 52-bit integer is even. */
  private def abArm: Column =
    conv(substring(md5(concat(lit("ab_exp1_"), col("user_id").cast("string"))), 1, 13),
      16, 10).cast("long") % 2 === 0

  /** The oracle twin of [[abArm]]. */
  private def abArmSql: String =
    s"""${hex52("md5('ab_exp1_' || CAST(user_id AS VARCHAR))")} % 2 = 0"""

  /** The inputs of the as-of joins qa01, qa03 and qa04: purchases
    * (event_id, user_id, ts, value) and errors (user_id, rts, err_value). */
  private def asofInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("rts"), col("value").as("err_value"))
    (purchases, errors)
  }

  /** An as-of join of [[asofInputs]] in the oracles' columns and order. */
  private def asofOutput(joined: DataFrame): DataFrame =
    joined.select(col("event_id"), col("user_id"),
        col("ts").as("ts_us"),
        col("asof_err_value").as("err_value"),
        col("asof_rts").as("err_ts_us"))
      .orderBy("event_id")

  /** The closing select of a pairwise correlation oracle: r² in ppm and
    * the sign of r for each `pairs` row (col_a, col_b, n, cov, vv). */
  private def corrPairsSelect: String =
    """SELECT col_a, col_b, n,
      |  CASE WHEN vv = 0 THEN NULL
      |    ELSE CAST(FLOOR(cov * cov / vv * 1000000.0) AS BIGINT)
      |  END AS r2_ppm,
      |  CAST(SIGN(cov) AS BIGINT) AS sgn
      |FROM pairs ORDER BY col_a, col_b""".stripMargin

  /** The Spearman tail of qq40 and qq47 over `rows0` (vq, vp, vd): exact
    * 2x average ranks per column, their moments and the pairwise r². */
  private def spearmanOracleTail: String = {
    def rank(c: String) =
      s"""g$c AS (SELECT v$c, CAST(COUNT(*) AS BIGINT) AS c FROM rows0 GROUP BY 1),
         |r$c AS (SELECT v$c, 2 * COALESCE(CAST(SUM(c) OVER (ORDER BY v$c
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |    + c + 1 AS r FROM g$c)""".stripMargin
    s"""${rank("q")},
       |${rank("p")},
       |${rank("d")},
       |jn AS (SELECT rq.r AS xq, rp.r AS xp, rd.r AS xd
       |  FROM rows0 JOIN rq USING (vq) JOIN rp USING (vp) JOIN rd USING (vd)),
       |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(COUNT(*) AS BIGINT) AS nb,
       |    CAST(SUM(xq) AS DOUBLE) AS sq, CAST(SUM(xp) AS DOUBLE) AS sp,
       |    CAST(SUM(xd) AS DOUBLE) AS sd,
       |    CAST(SUM(xq*xq) AS DOUBLE) AS sqq, CAST(SUM(xp*xp) AS DOUBLE) AS spp,
       |    CAST(SUM(xd*xd) AS DOUBLE) AS sdd,
       |    CAST(SUM(xq*xp) AS DOUBLE) AS sqp, CAST(SUM(xq*xd) AS DOUBLE) AS sqd,
       |    CAST(SUM(xp*xd) AS DOUBLE) AS spd
       |  FROM jn),
       |pairs AS (
       |  SELECT 'qty' AS col_a, 'price' AS col_b, nb AS n,
       |    n*sqp - sq*sp AS cov, (n*sqq - sq*sq) * (n*spp - sp*sp) AS vv FROM m
       |  UNION ALL SELECT 'qty', 'disc', nb,
       |    n*sqd - sq*sd, (n*sqq - sq*sq) * (n*sdd - sd*sd) FROM m
       |  UNION ALL SELECT 'price', 'disc', nb,
       |    n*spd - sp*sd, (n*spp - sp*sp) * (n*sdd - sd*sd) FROM m)
       |$corrPairsSelect""".stripMargin
  }

  /** The qq11 audit of one functional dependency `keys -> dep` on
    * lineitem: per key group its rows and distinct `dep` values (NULL
    * counted as a value) in `f<i>`, the violation summary in `a<i>`. */
  private def fdAuditCtes(i: Int, dep: String, keys: String): String =
    s"""f$i AS (SELECT CAST(COUNT(*) AS BIGINT) AS nrows,
       |    CAST(COUNT(DISTINCT $dep)
       |      + MAX(CASE WHEN $dep IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nd
       |  FROM lineitem GROUP BY $keys),
       |a$i AS (SELECT '${keys.replace(" ", "")}->$dep' AS fd,
       |    CAST(COUNT(*) AS BIGINT) AS n_groups,
       |    CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 END), 0) AS BIGINT)
       |      AS violating_groups,
       |    CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN nrows END), 0) AS BIGINT)
       |      AS violating_rows,
       |    CAST(MAX(nd) AS BIGINT) AS max_distinct_dep
       |  FROM f$i)""".stripMargin

  val queries: Seq[Query] = Seq(
    // Custom operator: backward as-of join (purchases <- latest prior
    // error per user), checked against DuckDB's native ASOF JOIN.
    Query("qa01_asof_join", Some(
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        | r.value AS err_value, epoch_us(r.ts) AS err_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin)) { (s, d) =>
      val (purchases, errors) = asofInputs(s, d)
      asofOutput(AsOfJoin.asofBackward(purchases, errors, Seq("user_id"), "ts", "rts",
        Seq("err_value", "rts")))
    },
    // Salted skew join under the oracle: the salt fan-out/fan-in must be
    // invisible in the result — checked against a plain SQL join/agg.
    Query("qa02_salted_join", Some(
      """SELECT (user_id % 7) AS k, (user_id % 7) * 100 AS w, COUNT(*) AS n
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY k""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("event_id"), (col("user_id") % 7).as("k"))
      val dim = s.range(7).select(col("id").as("k"), (col("id") * 100).as("w"))
      graft.operators.SkewJoin.saltedJoin(ev, dim, Seq("k"), nSalts = 8)
        .groupBy("k", "w").agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
    // Exact interpolated percentiles (sort-based, per group).
    Query("qp01_percentiles", Some(
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_extendedprice, 0.9) AS p90_price,
        | quantile_cont(l_discount, 0.25) AS p25_discount
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
          expr("percentile(l_discount, 0.25)").as("p25_discount"))
        .orderBy("l_returnflag")
    },
    // GROUPING SETS with grouping() disambiguation.
    Query("qp02_grouping_sets", Some(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)) { (s, d) =>
      t(s, d, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |  COUNT(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
    },
    // Pivot (wide conditional aggregation).
    Query("qp03_pivot", Some(
      """SELECT o_orderpriority,
        | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        | COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
        .orderBy("o_orderpriority")
    },
    // N-gram (word-bigram) Jaccard near-dup, source-blocked (the bounded
    // all-pairs pattern; shingles are 2-grams rather than qd07's unigrams).
    Query("qd09_ngram_jaccard", Some(
      """WITH docs AS (SELECT source, doc_id, str_split(text, ' ') AS tk FROM documents),
        |gd AS (SELECT source, doc_id,
        |  list_distinct(list_transform(range(1, len(tk)), j -> tk[j] || ' ' || tk[j + 1])) AS grams
        | FROM docs),
        |g AS (SELECT source, doc_id, len(grams) AS ng, unnest(grams) AS gram FROM gd),
        |inter AS (SELECT a.source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  COUNT(*) AS inter, ANY_VALUE(a.ng) AS na, ANY_VALUE(b.ng) AS nb
        | FROM g a JOIN g b ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
        | GROUP BY a.source, a.doc_id, b.doc_id),
        |j AS (SELECT source, CAST(inter AS DOUBLE) / (na + nb - inter) AS jacc FROM inter)
        |SELECT source, COUNT(*) AS n_overlapping_pairs, MAX(jacc) AS max_jacc
        |FROM j GROUP BY source ORDER BY source""".stripMargin)) { (s, d) =>
      // Public operator (graft.operators.Dedup.bigramJaccardPairs): native
      // bigram_hashes/packed_pairs kernels keep the whole mid-pipeline
      // fixed-width longs; per-doc sizes rejoin via shuffle-hash join
      // (the sizes relation is O(corpus) — never broadcast).
      graft.operators.Dedup
        .bigramJaccardPairs(t(s, d, "documents"), "text", "doc_id", "source")
        .groupBy(col("block").as("source"))
        .agg(count(lit(1)).as("n_overlapping_pairs"), max("jacc").as("max_jacc"))
        .orderBy("source")
    },
    // Binned range join: purchase/error event pairs of the same user
    // within 10 minutes — bounded work per (key, bin) instead of the
    // quadratic same-key blowup of a raw range predicate.
    Query("qr01_range_join", Some(
      """SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id
        | AND e.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts + INTERVAL 10 MINUTE
        |ORDER BY purchase_id, error_id""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("ets"))
      graft.operators.RangeJoin.binnedRangeJoin(
          purchases, errors, Seq("user_id"), "ts", "ets", 600L * 1000 * 1000)
        .select("user_id", "purchase_id", "error_id")
        .orderBy("purchase_id", "error_id")
    },
    // As-of join WITH TOLERANCE (pandas merge_asof semantics): the match
    // is still the most recent error, but one older than 5 minutes
    // doesn't count — its values null out as a unit.
    Query("qa03_asof_tolerance", Some(
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        | CASE WHEN l.ts - r.ts <= INTERVAL 5 MINUTE THEN r.value END AS err_value,
        | CASE WHEN l.ts - r.ts <= INTERVAL 5 MINUTE THEN epoch_us(r.ts) END AS err_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin)) { (s, d) =>
      val (purchases, errors) = asofInputs(s, d)
      asofOutput(AsOfJoin.asofBackward(purchases, errors, Seq("user_id"),
          "ts", "rts", Seq("err_value", "rts"),
          tolerance = Some(300L * 1000 * 1000))) // 5 min in micros
    },
    // FORWARD as-of join (pandas merge_asof direction='forward'): the
    // EARLIEST error at-or-after each purchase, vs DuckDB's native
    // forward ASOF (l.ts <= r.ts).
    Query("qa04_asof_forward", Some(
      """SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
        | r.value AS err_value, epoch_us(r.ts) AS err_ts_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id""".stripMargin)) { (s, d) =>
      val (purchases, errors) = asofInputs(s, d)
      asofOutput(AsOfJoin.asofForward(purchases, errors, Seq("user_id"), "ts", "rts",
        Seq("err_value", "rts")))
    },
    // Sketch aggregates (approximate - no cross-engine oracle; the driver
    // records a rows-only check for these by design).
    Query("qx01_sketches", None) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_median_price"))
        .orderBy("l_returnflag")
    },
    // KMV distinct sketch — the ORACLE-CHECKABLE approximate distinct
    // count (unlike HLL++ above, the estimate is a pure function of md5
    // hashes, reproduced exactly by DuckDB): per returnflag, the exact
    // distinct part count alongside the k=64 KMV estimate.
    Query("qx02_kmv_distinct", Some(
      s"""WITH d AS (SELECT DISTINCT l_returnflag AS grp,
        |  md5(CAST(l_partkey AS VARCHAR)) AS h FROM lineitem),
        |r AS (SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM d),
        |kk AS (SELECT grp, ${hex52("h")} AS hi
        |  FROM r WHERE rn <= 64),
        |sk AS (SELECT grp, CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
        |    ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(MAX(hi) AS DOUBLE)
        |  END AS est_distinct
        |  FROM kk GROUP BY grp),
        |ex AS (SELECT l_returnflag AS grp,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
        |  FROM lineitem GROUP BY 1)
        |SELECT ex.grp AS l_returnflag, ex.exact_distinct, sk.est_distinct
        |FROM ex JOIN sk ON sk.grp = ex.grp ORDER BY l_returnflag""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.kmvDistinct(
          t(s, d, "lineitem"), "l_partkey", "l_returnflag", k = 64)
        .orderBy("l_returnflag")
    },
    // Declarative data-quality audit (Deequ-style contract checks):
    // row-local rules fold into ONE aggregate pass; uniqueness rides its
    // key's own shuffle; referential integrity is a distinct-keys
    // anti-join. The unique rule genuinely fires on this data (duplicate
    // (orderkey, linenumber) pairs exist).
    Query("qq01_quality_audit", Some(
      """SELECT 'not_null' AS rule, 'l_orderkey' AS target,
        |  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |  COUNT(*) AS checked FROM lineitem
        |UNION ALL SELECT 'non_negative', 'l_quantity',
        |  CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM lineitem
        |UNION ALL SELECT 'in_set', 'l_returnflag',
        |  CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM lineitem
        |UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber',
        |  CAST(SUM(n - 1) AS BIGINT), CAST(SUM(n) AS BIGINT) FROM (
        |    SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |UNION ALL SELECT 'ref_integrity', 'l_orderkey->o_orderkey',
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) c
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = c.l_orderkey)),
        |  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)
        |ORDER BY rule, target""".stripMargin)) { (s, d) =>
      val li = t(s, d, "lineitem")
      graft.operators.Quality.audit(li,
          notNull = Seq("l_orderkey"),
          nonNegative = Seq("l_quantity"),
          inSet = Map("l_returnflag" -> Seq("A", "N", "R")),
          unique = Seq(Seq("l_orderkey", "l_linenumber")))
        .unionAll(graft.operators.Quality.refIntegrity(
          li, "l_orderkey", t(s, d, "orders"), "o_orderkey"))
        .orderBy("rule", "target")
    },
    // Bounds + regex rules (the Deequ hasMin/hasMax/hasPattern core),
    // still ONE aggregate pass per table: price cap and priority format
    // on orders; length band and language pattern on documents. Every
    // rule fires on real violations in the synthetic data.
    Query("qq02_quality_bounds", Some(
      """SELECT 'bounds' AS rule, 'o_totalprice' AS target,
        |  CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |  COUNT(*) AS checked FROM orders
        |UNION ALL SELECT 'regex', 'o_orderpriority',
        |  CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-3]-') THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM orders
        |UNION ALL SELECT 'bounds', 'n_chars',
        |  CAST(SUM(CASE WHEN n_chars < 100 OR n_chars > 1000 THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM documents
        |UNION ALL SELECT 'regex', 'lang',
        |  CAST(SUM(CASE WHEN NOT regexp_matches(lang, '^(en|fr|de)$') THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM documents
        |ORDER BY rule, target""".stripMargin)) { (s, d) =>
      graft.operators.Quality.audit(t(s, d, "orders"),
          bounds = Map("o_totalprice" -> (0.0, 100000.0)),
          matches = Map("o_orderpriority" -> "^[1-3]-"))
        .unionAll(graft.operators.Quality.audit(t(s, d, "documents"),
          bounds = Map("n_chars" -> (100.0, 1000.0)),
          matches = Map("lang" -> "^(en|fr|de)$")))
        .orderBy("rule", "target")
    },
    // Robust per-group statistics: median, MAD (median absolute
    // deviation), interquartile range — exact interpolated percentiles,
    // two passes sharing one partitioning on the group key.
    Query("qp04_robust_stats", Some(
      """WITH med AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, MIN(m.med_qty) AS median_qty,
        | quantile_cont(abs(l.l_quantity - m.med_qty), 0.5) AS mad_qty,
        | quantile_cont(l.l_extendedprice, 0.75) - quantile_cont(l.l_extendedprice, 0.25) AS iqr_price
        |FROM lineitem l JOIN med m USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, d) =>
      val li = t(s, d, "lineitem")
      val med = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"))
      li.join(med, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(first("med_qty").as("median_qty"),
          expr("percentile(abs(l_quantity - med_qty), 0.5)").as("mad_qty"),
          expr("percentile(l_extendedprice, 0.75) - percentile(l_extendedprice, 0.25)").as("iqr_price"))
        .orderBy("l_returnflag")
    },
    // KMV set-operation estimates: union/intersection/Jaccard of the
    // part sets bought under returnflag A vs R, from two mergeable
    // bottom-k hash summaries (pure md5 functions — oracle-exact).
    Query("qx04_kmv_setops", Some(
      """WITH ha AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
        |  FROM lineitem WHERE l_returnflag = 'A'),
        |hb AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |merged AS (SELECT h, MAX(inA) AS inA, MAX(inB) AS inB FROM (
        |  SELECT h, 1 AS inA, 0 AS inB FROM ha
        |  UNION ALL SELECT h, 0, 1 FROM hb) GROUP BY h),
        |bottom AS (SELECT h, inA, inB,
        |  (SELECT CAST(SUM(CAST(instr('0123456789abcdef', substr(b2.h, CAST(j AS INT), 1)) - 1 AS DOUBLE)
        |     * (CAST(16 AS DOUBLE) ** CAST(13 - j AS INT))) AS BIGINT)
        |   FROM unnest(generate_series(1, 13)) t(j)) AS hi
        |  FROM (SELECT * FROM merged ORDER BY h LIMIT 64) b2),
        |est AS (SELECT
        |  CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
        |       ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(MAX(hi) AS DOUBLE) END AS union_est,
        |  CAST(SUM(inA * inB) AS DOUBLE) / COUNT(*) AS jaccard_est
        | FROM bottom),
        |ex AS (SELECT COUNT(*) AS union_exact,
        |  CAST(SUM(inA * inB) AS BIGINT) AS inter_exact FROM merged)
        |SELECT ex.union_exact, est.union_est, ex.inter_exact,
        | est.jaccard_est * est.union_est AS inter_est, est.jaccard_est
        |FROM ex, est""".stripMargin)) { (s, d) =>
      val li = t(s, d, "lineitem")
      graft.operators.Sketches.kmvSetOps(
        li.filter(col("l_returnflag") === "A").select("l_partkey"),
        li.filter(col("l_returnflag") === "R").select("l_partkey"),
        "l_partkey", k = 64)
    },
    // Exact triangle count over the co-purchase graph (parts sharing an
    // order), degree-ordered orientation bounding wedge fan-out — the
    // "curse of the last reducer" fix, under the oracle.
    // Double-sweep diameter: BFS from the min vertex, re-BFS from the
    // farthest reached — the standard two-sweep lower bound.
    Query("qg18_diameter", Some(
      s"""WITH RECURSIVE ${coPurchaseBothWaysCtes},
        |s0 AS (SELECT MIN(u) AS n FROM e0),
        |r1(n, dd) AS (SELECT n, 0 FROM s0
        |  UNION SELECT e.v, r.dd + 1 FROM r1 r JOIN edges e ON e.u = r.n
        |  WHERE r.dd < 10),
        |d1 AS (SELECT n, MIN(dd) AS dist FROM r1 GROUP BY n),
        |far1 AS (SELECT n, dist FROM d1 ORDER BY dist DESC, n LIMIT 1),
        |r2(n, dd) AS (SELECT n, 0 FROM far1
        |  UNION SELECT e.v, r.dd + 1 FROM r2 r JOIN edges e ON e.u = r.n
        |  WHERE r.dd < 10),
        |d2 AS (SELECT n, MIN(dd) AS dist FROM r2 GROUP BY n),
        |far2 AS (SELECT n, dist FROM d2 ORDER BY dist DESC, n LIMIT 1)
        |SELECT CAST((SELECT n FROM s0) AS BIGINT) AS start_n,
        |  CAST((SELECT n FROM far1) AS BIGINT) AS sweep1_far,
        |  CAST((SELECT dist FROM far1) AS BIGINT) AS sweep1_ecc,
        |  CAST((SELECT n FROM far2) AS BIGINT) AS sweep2_far,
        |  CAST((SELECT dist FROM far2) AS BIGINT) AS diameter_lb,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d2) AS n_reached""".stripMargin)) { (s, d) =>
      // materialized once (r11 opt): the seed gather and BOTH BFS sweeps
      // consume this relation — left lazy, the lineitem scan + self-join
      // ran 3x per query (guide §2.4: remove repeated subtree execution)
      val edges = coPurchaseEdges(orderParts(s, d, 50))
        .localCheckpoint()
      // bounded 1-row gather picks the deterministic start vertex
      val seed = edges.agg(min("pa")).head().getLong(0)
      graft.operators.Graphs.doubleSweepDiameter(edges, "pa", "pb", seed,
        maxHops = 10)
    },
    // Slice completeness: null-share per audited column per event type —
    // the per-feed completeness board.
    Query("qq29_completeness", Some(
      """WITH g AS (SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    COALESCE(CAST(SUM(CASE WHEN user_id IS NOT NULL THEN 1 END)
        |      AS BIGINT), 0) AS nn_u,
        |    COALESCE(CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 END)
        |      AS BIGINT), 0) AS nn_v,
        |    COALESCE(CAST(SUM(CASE WHEN props IS NOT NULL THEN 1 END)
        |      AS BIGINT), 0) AS nn_p
        |  FROM events GROUP BY 1)
        |SELECT grp, n_rows, 'user_id' AS col_name, nn_u AS n_nonnull,
        |  (nn_u * 1000000) // GREATEST(1, n_rows) AS nonnull_ppm FROM g
        |UNION ALL SELECT grp, n_rows, 'value', nn_v,
        |  (nn_v * 1000000) // GREATEST(1, n_rows) FROM g
        |UNION ALL SELECT grp, n_rows, 'props', nn_p,
        |  (nn_p * 1000000) // GREATEST(1, n_rows) FROM g
        |ORDER BY grp, col_name""".stripMargin)) { (s, d) =>
      graft.operators.Quality.completenessMatrix(t(s, d, "events"),
          "event_type", Seq("user_id", "value", "props"))
        .orderBy("grp", "col_name")
    },
    // k-truss backbone: 2 fixed peeling rounds at k=4 (edges must close
    // >= 2 triangles with surviving edges); output = survivors with
    // their support in the FINAL graph.
    Query("qg17_ktruss", Some(
      s"""WITH ${coPurchaseCtes(20, "e0")},
        |a0 AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
        |s0 AS (SELECT e.u, e.v, COUNT(*) AS sup
        |  FROM e0 e JOIN a0 x ON x.s = e.u
        |  JOIN a0 y ON y.s = e.v AND y.t = x.t
        |  GROUP BY e.u, e.v),
        |e1 AS (SELECT u, v FROM s0 WHERE sup >= 2),
        |a1 AS (SELECT u AS s, v AS t FROM e1 UNION ALL SELECT v, u FROM e1),
        |s1 AS (SELECT e.u, e.v, COUNT(*) AS sup
        |  FROM e1 e JOIN a1 x ON x.s = e.u
        |  JOIN a1 y ON y.s = e.v AND y.t = x.t
        |  GROUP BY e.u, e.v),
        |e2 AS (SELECT u, v FROM s1 WHERE sup >= 2),
        |a2 AS (SELECT u AS s, v AS t FROM e2 UNION ALL SELECT v, u FROM e2),
        |s2 AS (SELECT e.u, e.v, COUNT(*) AS sup
        |  FROM e2 e JOIN a2 x ON x.s = e.u
        |  JOIN a2 y ON y.s = e.v AND y.t = x.t
        |  GROUP BY e.u, e.v)
        |SELECT e.u, e.v, COALESCE(s.sup, 0) AS support
        |FROM e2 e LEFT JOIN s2 s ON s.u = e.u AND s.v = e.v
        |ORDER BY e.u, e.v""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 20))
      graft.operators.Graphs.kTruss(edges, "pa", "pb", k = 4, iters = 2)
        .orderBy("u", "v")
    },
    // Neyman budget allocation: 1000 inspection samples split across
    // order priorities proportional to N_h * sd_h, exact integer
    // largest-remainder apportionment (sums to the budget).
    // Deterministic weighted corpus sample (Duffield-Lund-Thorup JACM'07
    // priority sampling, md5 coin): 100 documents drawn with selection
    // odds proportional to length — the data-mixing shard draw.
    Query("qx20_priority_sample", Some(
      s"""SELECT key, weight, priority FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS key,
        |    CAST(n_chars AS BIGINT) AS weight,
        |    ${hex52("md5('ps:' || CAST(doc_id AS VARCHAR))")}
        |      // CAST(n_chars AS BIGINT) AS priority
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0)
        |ORDER BY priority, key LIMIT 100""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.prioritySample(t(s, d, "documents"),
        col("doc_id"), col("n_chars"), k = 100)
    },
    Query("qx17_neyman_alloc", Some(
      """WITH m AS (SELECT o_orderpriority AS stratum,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS HUGEINT) AS sx,
        |    SUM(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS HUGEINT)
        |      * CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS HUGEINT)) AS sxx
        |  FROM orders GROUP BY 1),
        |w0 AS (SELECT stratum, n_rows,
        |    CAST(FLOOR(SQRT(CAST(CAST(n_rows AS HUGEINT) * sxx - sx * sx
        |        AS DOUBLE)
        |      / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))) * 1000.0)
        |      AS BIGINT) AS sd_x1000
        |  FROM m),
        |w1 AS (SELECT stratum, n_rows, sd_x1000,
        |    GREATEST(n_rows * sd_x1000, 1) AS w FROM w0),
        |w2 AS (SELECT stratum, n_rows, sd_x1000, w,
        |    SUM(w) OVER () AS total_w FROM w1),
        |w3 AS (SELECT stratum, n_rows, sd_x1000,
        |    (1000 * w) // GREATEST(1, total_w) AS base,
        |    (1000 * w) % GREATEST(1, total_w) AS rem FROM w2),
        |w4 AS (SELECT stratum, n_rows, sd_x1000, base, rem,
        |    1000 - SUM(base) OVER () AS left_over,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rrank
        |  FROM w3)
        |SELECT stratum, n_rows, sd_x1000,
        |  CAST(base + CASE WHEN rrank <= left_over THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM w4 ORDER BY stratum""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.neymanAllocation(t(s, d, "orders"),
          "o_orderpriority", floor(col("o_totalprice")), budget = 1000L)
        .orderBy("stratum")
    },
    // AMS F2 sketch: self-join size of orders on custkey from 5x8 +/-1
    // counters, exact F2 beside the estimate.
    Query("qx18_ams_f2", Some(
      """WITH freq AS (SELECT CAST(o_custkey AS VARCHAR) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS f
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |cnt AS (SELECT j, CAST(SUM(CASE WHEN substr(md5('ams:'
        |      || CAST(j AS VARCHAR) || ':' || v), 1, 1)
        |      IN ('0','2','4','6','8','a','c','e') THEN f ELSE -f END)
        |    AS BIGINT) AS z
        |  FROM freq, unnest(range(0, 40)) tt(j) GROUP BY j),
        |mm AS (SELECT j % 5 AS r, CAST(SUM(z * z) AS BIGINT) // 8 AS m
        |  FROM cnt GROUP BY 1),
        |med AS (SELECT m AS f2_est FROM mm ORDER BY m LIMIT 1 OFFSET 2),
        |ex AS (SELECT CAST(SUM(f) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(f * f) AS BIGINT) AS f2_exact FROM freq)
        |SELECT ex.n_rows, ex.n_distinct, ex.f2_exact, med.f2_est,
        |  abs(med.f2_est - ex.f2_exact) * 1000000
        |    // GREATEST(1, ex.f2_exact) AS err_ppm
        |FROM ex, med""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.amsF2(t(s, d, "orders"), "o_custkey",
        depth = 5, width = 8)
    },
    // DeepWalk training corpus: 2 deterministic 3-step random walks from
    // every vertex of the co-purchase graph.
    Query("qg19_random_walks", Some(
      s"""WITH RECURSIVE ${walkStepCtes},
        |seeds AS (SELECT DISTINCT s FROM r),
        |wk(walk_id, seed, step, node) AS (
        |  SELECT s * 2 + w, s, 0, s FROM seeds, unnest([0, 1]) tt(w)
        |  UNION ALL
        |  SELECT wk.walk_id, wk.seed, wk.step + 1, r.t
        |  FROM wk JOIN r ON r.s = wk.node
        |    AND r.rn = 1 + (${hex52("md5('rw:' || CAST(wk.walk_id AS VARCHAR) || ':' || CAST(wk.step + 1 AS VARCHAR))")}
        |      % r.deg)
        |  WHERE wk.step < 3)
        |SELECT walk_id, seed, CAST(step AS BIGINT) AS step, node
        |FROM wk ORDER BY walk_id, step""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.randomWalks(edges, "pa", "pb",
          len = 3, walksPerNode = 2)
        .orderBy("walk_id", "step")
    },
    // node2vec corpus: deterministic second-order biased walks (return 1,
    // triangle 4, outward 2) over the co-purchase graph.
    Query("qg20_node2vec", Some(
      s"""WITH RECURSIVE ${walkStepCtes},
        |cu AS (SELECT CAST(-1 AS BIGINT) AS prev, s AS cur, t,
        |    CAST(1 AS BIGINT) AS w, CAST(rn AS BIGINT) AS cum,
        |    CAST(deg AS BIGINT) AS tot FROM r),
        |c2w AS (SELECT pe.s AS prev, pe.t AS cur, r.t AS t,
        |    CASE WHEN r.t = pe.s THEN 1
        |      WHEN f.s IS NOT NULL THEN 4 ELSE 2 END AS w
        |  FROM adj pe JOIN r ON r.s = pe.t
        |  LEFT JOIN adj f ON f.s = pe.s AND f.t = r.t),
        |c2 AS (SELECT prev, cur, t, CAST(w AS BIGINT) AS w,
        |    CAST(SUM(w) OVER (PARTITION BY prev, cur ORDER BY t)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(w) OVER (PARTITION BY prev, cur) AS BIGINT) AS tot
        |  FROM c2w),
        |cand AS (SELECT * FROM cu UNION ALL SELECT * FROM c2),
        |seeds AS (SELECT DISTINCT s FROM r),
        |wk(walk_id, seed, step, prev, node) AS (
        |  SELECT s, s, 0, CAST(-1 AS BIGINT), s FROM seeds
        |  UNION ALL
        |  SELECT wk.walk_id, wk.seed, wk.step + 1, wk.node, c.t
        |  FROM wk JOIN cand c ON c.cur = wk.node AND c.prev = wk.prev
        |    AND (${hex52("md5('n2v:' || CAST(wk.walk_id AS VARCHAR) || ':' || CAST(wk.step + 1 AS VARCHAR))")}
        |      % c.tot) >= c.cum - c.w
        |    AND (${hex52("md5('n2v:' || CAST(wk.walk_id AS VARCHAR) || ':' || CAST(wk.step + 1 AS VARCHAR))")}
        |      % c.tot) < c.cum
        |  WHERE wk.step < 3)
        |SELECT walk_id, seed, CAST(step AS BIGINT) AS step, node
        |FROM wk ORDER BY walk_id, step""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.node2vecWalks(edges, "pa", "pb",
          len = 3, walksPerNode = 1, wReturn = 1, wCommon = 4, wOut = 2)
        .orderBy("walk_id", "step")
    },
    // Hellinger drift gate: one bounded score per feature between the
    // first and second half of the event-time range.
    Query("qq31_hellinger_gate", Some(
      """WITH e AS (SELECT event_type, epoch_us(ts) * 1000 AS tsn, value
        |  FROM events),
        |mid AS (SELECT (MIN(tsn) + MAX(tsn)) // 2 AS m FROM e),
        |ea AS (SELECT * FROM e, mid WHERE tsn < m),
        |eb AS (SELECT * FROM e, mid WHERE tsn >= m),
        |na AS (SELECT COUNT(*) AS n FROM ea),
        |nb AS (SELECT COUNT(*) AS n FROM eb),
        |f1a AS (SELECT COALESCE(event_type, chr(1) || 'null') AS value,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM ea GROUP BY 1),
        |f1b AS (SELECT COALESCE(event_type, chr(1) || 'null') AS value,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM eb GROUP BY 1),
        |f2a AS (SELECT COALESCE(CAST((tsn // 3600000000000) % 24 AS VARCHAR),
        |  chr(1) || 'null') AS value, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ea GROUP BY 1),
        |f2b AS (SELECT COALESCE(CAST((tsn // 3600000000000) % 24 AS VARCHAR),
        |  chr(1) || 'null') AS value, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM eb GROUP BY 1),
        |f3a AS (SELECT COALESCE(CAST(CAST(GREATEST(FLOOR(value), 0)
        |  AS BIGINT) // 20 AS VARCHAR), chr(1) || 'null') AS value,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM ea GROUP BY 1),
        |f3b AS (SELECT COALESCE(CAST(CAST(GREATEST(FLOOR(value), 0)
        |  AS BIGINT) // 20 AS VARCHAR), chr(1) || 'null') AS value,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM eb GROUP BY 1),
        |h1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(CAST(round(
        |    (sqrt(CAST(pa AS DOUBLE)) - sqrt(CAST(pb AS DOUBLE)))
        |    * (sqrt(CAST(pa AS DOUBLE)) - sqrt(CAST(pb AS DOUBLE))))
        |    AS BIGINT)) AS BIGINT) AS t2
        |  FROM (SELECT (COALESCE(f1a.c, 0) * 1000000)
        |      // GREATEST(1, (SELECT n FROM na)) AS pa,
        |    (COALESCE(f1b.c, 0) * 1000000)
        |      // GREATEST(1, (SELECT n FROM nb)) AS pb
        |    FROM f1a FULL JOIN f1b USING (value))),
        |h2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(CAST(round(
        |    (sqrt(CAST(pa AS DOUBLE)) - sqrt(CAST(pb AS DOUBLE)))
        |    * (sqrt(CAST(pa AS DOUBLE)) - sqrt(CAST(pb AS DOUBLE))))
        |    AS BIGINT)) AS BIGINT) AS t2
        |  FROM (SELECT (COALESCE(f2a.c, 0) * 1000000)
        |      // GREATEST(1, (SELECT n FROM na)) AS pa,
        |    (COALESCE(f2b.c, 0) * 1000000)
        |      // GREATEST(1, (SELECT n FROM nb)) AS pb
        |    FROM f2a FULL JOIN f2b USING (value))),
        |h3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(CAST(round(
        |    (sqrt(CAST(pa AS DOUBLE)) - sqrt(CAST(pb AS DOUBLE)))
        |    * (sqrt(CAST(pa AS DOUBLE)) - sqrt(CAST(pb AS DOUBLE))))
        |    AS BIGINT)) AS BIGINT) AS t2
        |  FROM (SELECT (COALESCE(f3a.c, 0) * 1000000)
        |      // GREATEST(1, (SELECT n FROM na)) AS pa,
        |    (COALESCE(f3b.c, 0) * 1000000)
        |      // GREATEST(1, (SELECT n FROM nb)) AS pb
        |    FROM f3a FULL JOIN f3b USING (value)))
        |SELECT 'event_type' AS feature, n_buckets, t2 // 2 AS h2_ppm FROM h1
        |UNION ALL SELECT 'hour_of_day', n_buckets, t2 // 2 FROM h2
        |UNION ALL SELECT 'value_bucket', n_buckets, t2 // 2 FROM h3
        |ORDER BY feature""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val mid = graft.streaming.EventStream.midpointMicros(ev)
      graft.operators.Quality.hellingerGate(
        ev.filter(col("ts") < mid), ev.filter(col("ts") >= mid), Seq(
          "event_type" -> col("event_type"),
          "hour_of_day" -> expr("(ts div 3600000000L) % 24"),
          "value_bucket" ->
            expr("cast(greatest(floor(value), 0L) as bigint) div 20")))
        .orderBy("feature")
    },
    // Krippendorff alpha: do an order's line items "agree" on the return
    // flag? (any-number-of-raters agreement, units = orders)
    Query("qq33_krippendorff", Some(
      """WITH uc AS (SELECT CAST(l_orderkey AS VARCHAR) AS u,
        |    CAST(l_returnflag AS VARCHAR) AS c,
        |    CAST(COUNT(*) AS BIGINT) AS nuc
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
        |  GROUP BY 1, 2),
        |units AS (SELECT u, CAST(SUM(nuc) AS BIGINT) AS mu,
        |    CAST(SUM(nuc * nuc) AS BIGINT) AS sq
        |  FROM uc GROUP BY 1 HAVING SUM(nuc) >= 2),
        |duo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(SUM(((mu * mu - sq) * 720720) // (mu - 1)) AS BIGINT)
        |      AS do_scaled,
        |    CAST(SUM(mu) AS BIGINT) AS n_pairable
        |  FROM units),
        |vals AS (SELECT c, CAST(SUM(nuc) AS BIGINT) AS nc FROM uc
        |  WHERE u IN (SELECT u FROM units) GROUP BY 1),
        |de AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
        |    CAST(SUM(nc) AS BIGINT) AS n,
        |    CAST(SUM(nc * nc) AS BIGINT) AS ncsq
        |  FROM vals)
        |SELECT duo.n_units, de.n_values, duo.n_pairable, duo.do_scaled,
        |  de.n * de.n - de.ncsq AS de,
        |  CAST(FLOOR(1000000.0 * (1.0 -
        |    (CAST((duo.n_pairable - 1) * duo.do_scaled AS DOUBLE) /
        |     CAST(720720 * GREATEST(1, de.n * de.n - de.ncsq) AS DOUBLE))))
        |  AS BIGINT) AS alpha_ppm
        |FROM duo, de""".stripMargin)) { (s, d) =>
      graft.operators.Quality.krippendorffAlpha(t(s, d, "lineitem"),
        "l_orderkey", "l_returnflag")
    },
    // Hash-block jackknife CI for the mean extended price, micro-units.
    Query("qq34_jackknife", Some(
      s"""WITH rows0 AS (SELECT
        |    ${hex52("md5('jk:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))")} % 32 AS blk,
        |    CAST(l_extendedprice * 1000000 AS BIGINT) AS v
        |  FROM lineitem),
        |b AS (SELECT blk, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(v) AS BIGINT) AS sb
        |  FROM rows0 WHERE v IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS n,
        |    CAST(SUM(sb) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS bn FROM b),
        |ps AS (SELECT tot.n, tot.s, tot.bn,
        |    CAST(FLOOR(
        |      CAST(tot.bn AS DOUBLE) *
        |        (CAST(tot.s AS DOUBLE) / CAST(tot.n AS DOUBLE)) -
        |      CAST(tot.bn - 1 AS DOUBLE) *
        |        (CAST(tot.s - b.sb AS DOUBLE) /
        |         CAST(tot.n - b.nb AS DOUBLE))
        |    ) AS BIGINT) - tot.s // tot.n AS ci
        |  FROM b, tot WHERE tot.n > b.nb),
        |ag AS (SELECT n, s, bn, CAST(COUNT(*) AS BIGINT) AS bused,
        |    CAST(SUM(ci) AS BIGINT) AS sc,
        |    SUM(CAST(ci AS HUGEINT) * ci) AS scsq
        |  FROM ps GROUP BY 1, 2, 3),
        |fin AS (SELECT n, s, bused,
        |    CAST(s // n AS DOUBLE) + CAST(sc AS DOUBLE) / bused AS jm,
        |    sqrt(GREATEST(0.0,
        |      (CAST(scsq AS DOUBLE) / bused -
        |       (CAST(sc AS DOUBLE) / bused) * (CAST(sc AS DOUBLE) / bused))
        |      / (bused - 1))) AS se
        |  FROM ag)
        |SELECT n, s // n AS mean_micros,
        |  CAST(FLOOR(jm) AS BIGINT) AS jk_mean_micros,
        |  CAST(FLOOR(se) AS BIGINT) AS se_micros,
        |  CAST(FLOOR(jm - 1.96 * se) AS BIGINT) AS ci_lo_micros,
        |  CAST(FLOOR(jm + 1.96 * se) AS BIGINT) AS ci_hi_micros
        |FROM fin""".stripMargin)) { (s, d) =>
      graft.operators.Quality.jackknifeCi(t(s, d, "lineitem"),
        expr("concat(l_orderkey, ':', l_linenumber)"),
        expr("cast(l_extendedprice * 1000000 as bigint)"), blocks = 32)
    },
    // Deterministic block-bootstrap percentile CI for the mean extended
    // price — the skew-seeing complement to qq34's jackknife.
    Query("qq39_bootstrap_ci", Some(
      s"""WITH rows0 AS (SELECT
        |    ${hex52("md5('jk:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))")} % 32 AS blk,
        |    CAST(ROUND(l_extendedprice * 1000000) AS BIGINT) AS v
        |  FROM lineitem),
        |b AS (SELECT blk, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(v) AS BIGINT) AS sb
        |  FROM rows0 WHERE v IS NOT NULL GROUP BY 1),
        |ranked AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY blk) - 1 AS BIGINT)
        |    AS rk, nb, sb FROM b),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS p,
        |    CAST(SUM(nb) AS BIGINT) AS n, CAST(SUM(sb) AS BIGINT) AS s
        |  FROM ranked),
        |draws AS (SELECT r.r, p.n, p.s,
        |    CAST(list_sum(list_transform(generate_series(1, 13),
        |      k -> CAST(instr('0123456789abcdef', substr(md5('bs:'
        |          || CAST(r.r AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)),
        |          CAST(k AS INT), 1)) - 1
        |        AS BIGINT) * CAST(16 ** (13 - k) AS BIGINT))) AS BIGINT)
        |      % GREATEST(p.p, 1) AS rk
        |  FROM generate_series(1, 200) AS r(r)
        |  CROSS JOIN generate_series(0, 31) AS j(j), p
        |  WHERE j.j < GREATEST(p.p, 1)),
        |means AS (SELECT r, n, s,
        |    CAST(SUM(sb) AS BIGINT) // GREATEST(CAST(SUM(nb) AS BIGINT), 1)
        |      AS mr
        |  FROM draws JOIN ranked USING (rk) GROUP BY 1, 2, 3),
        |rk2 AS (SELECT n, s, mr,
        |    ROW_NUMBER() OVER (ORDER BY mr, r) AS rnk FROM means)
        |SELECT FIRST(n) AS n, FIRST(s) // GREATEST(FIRST(n), 1) AS mean_micros,
        |  CAST(200 AS BIGINT) AS r,
        |  MIN(mr) AS ci_lo_micros, MAX(mr) AS ci_hi_micros
        |FROM rk2 WHERE rnk = 5 OR rnk = 196""".stripMargin)) { (s, d) =>
      graft.operators.Quality.bootstrapCi(t(s, d, "lineitem"),
        expr("concat(l_orderkey, ':', l_linenumber)"),
        expr("cast(round(l_extendedprice * 1000000) as bigint)"),
        blocks = 32, resamples = 200)
    },
    // Spearman rank correlation over the qq20 feature set: monotone
    // association, outlier-immune, exact 2x-rank integers.
    Query("qq40_spearman", Some(
      s"""WITH rows0 AS (SELECT
        |    CAST(ROUND(l_quantity * 1000000) AS BIGINT) AS vq,
        |    CAST(ROUND(l_extendedprice * 1000000) AS BIGINT) AS vp,
        |    CAST(ROUND(l_discount * 1000000) AS BIGINT) AS vd
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |$spearmanOracleTail""".stripMargin)) { (s, d) =>
      graft.operators.Quality.spearmanMatrix(t(s, d, "lineitem"), Seq(
          "qty" -> expr("cast(round(l_quantity * 1000000) as bigint)"),
          "price" -> expr("cast(round(l_extendedprice * 1000000) as bigint)"),
          "disc" -> expr("cast(round(l_discount * 1000000) as bigint)")))
        .orderBy("col_a", "col_b")
    },
    // Spearman at scale: equi-width 1024-bucket quantization BEFORE
    // ranking keeps ranks <= 2048, so the corrMatrix BIGINT contract
    // holds to ~2e12 rows — measured at the 10x corpus where raw qq40
    // fails its loud ANSI overflow (ROUND11 §5). Monotone statistics
    // are bucket-stable.
    Query("qq47_spearman_bucketed", Some(
      s"""WITH raw0 AS (SELECT
        |    CAST(ROUND(l_quantity * 1000000) AS BIGINT) AS wq,
        |    CAST(ROUND(l_extendedprice * 1000000) AS BIGINT) AS wp,
        |    CAST(ROUND(l_discount * 1000000) AS BIGINT) AS wd
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL),
        |mm AS (SELECT MIN(wq) AS loq, MAX(wq) AS hiq, MIN(wp) AS lop,
        |    MAX(wp) AS hip, MIN(wd) AS lod, MAX(wd) AS hid FROM raw0),
        |rows0 AS (SELECT
        |    LEAST(1023, ((wq - loq) * 1024) // GREATEST(hiq - loq + 1, 1))
        |      AS vq,
        |    LEAST(1023, ((wp - lop) * 1024) // GREATEST(hip - lop + 1, 1))
        |      AS vp,
        |    LEAST(1023, ((wd - lod) * 1024) // GREATEST(hid - lod + 1, 1))
        |      AS vd
        |  FROM raw0, mm),
        |$spearmanOracleTail""".stripMargin)) { (s, d) =>
      graft.operators.Quality.spearmanBucketed(t(s, d, "lineitem"), Seq(
          "qty" -> expr("cast(round(l_quantity * 1000000) as bigint)"),
          "price" -> expr("cast(round(l_extendedprice * 1000000) as bigint)"),
          "disc" -> expr("cast(round(l_discount * 1000000) as bigint)")),
          buckets = 1024)
        .orderBy("col_a", "col_b")
    },
    // Cronbach's alpha over three fee-like measurements of a line item:
    // are the "parallel" signals one signal? (Scales keep n * sum(t^2)
    // inside BIGINT — the operator's documented moment bound.)
    Query("qq42_cronbach", Some(
      """WITH rows0 AS (SELECT
        |    CAST(ROUND(l_quantity * 10) AS BIGINT) AS xq,
        |    CAST(ROUND(l_discount * 1000) AS BIGINT) AS xd,
        |    CAST(ROUND(l_tax * 1000) AS BIGINT) AS xt
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_tax IS NOT NULL),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(xq + xd + xt) AS BIGINT) AS st,
        |    CAST(SUM((xq + xd + xt) * (xq + xd + xt)) AS BIGINT) AS stt,
        |    CAST(SUM(xq) AS BIGINT) AS sq, CAST(SUM(xq * xq) AS BIGINT) AS sqq,
        |    CAST(SUM(xd) AS BIGINT) AS sd, CAST(SUM(xd * xd) AS BIGINT) AS sdd,
        |    CAST(SUM(xt) AS BIGINT) AS sx, CAST(SUM(xt * xt) AS BIGINT) AS sxx
        |  FROM rows0),
        |v AS (SELECT n,
        |    (n * sqq - sq * sq) + (n * sdd - sd * sd) + (n * sxx - sx * sx)
        |      AS vsum,
        |    n * stt - st * st AS vtot
        |  FROM m)
        |SELECT CAST(3 AS BIGINT) AS k, n,
        |  CASE WHEN vtot = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(FLOOR(1000000.0 * (CAST(3.0 AS DOUBLE) / CAST(2.0 AS DOUBLE))
        |      * (1.0 - CAST(vsum AS DOUBLE) / CAST(vtot AS DOUBLE)))
        |      AS BIGINT)
        |  END AS alpha_ppm
        |FROM v""".stripMargin)) { (s, d) =>
      graft.operators.Quality.cronbachAlpha(t(s, d, "lineitem"), Seq(
        "qty" -> expr("cast(round(l_quantity * 10) as bigint)"),
        "disc" -> expr("cast(round(l_discount * 1000) as bigint)"),
        "tax" -> expr("cast(round(l_tax * 1000) as bigint)")))
    },
    // Functional-dependency audit: does the declared lhs -> rhs hold?
    // Exact violation accounting — and an honest demo: the synthetic
    // lineitem VIOLATES its own nominal (orderkey, linenumber) key
    // (254k ppm of groups carry >1 quantity at sf0.1), which is
    // precisely the ingest bug this audit exists to catch.
    Query("qq45_fd_audit", Some(
      """WITH k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    COALESCE(CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT), 0) AS violating_groups,
        |    COALESCE(CAST(MAX(d) AS BIGINT), 0) AS max_rhs_per_lhs
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM
        |    (SELECT DISTINCT l_orderkey, l_linenumber, l_quantity
        |     FROM lineitem) GROUP BY l_orderkey, l_linenumber)),
        |o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    COALESCE(CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT), 0) AS violating_groups,
        |    COALESCE(CAST(MAX(d) AS BIGINT), 0) AS max_rhs_per_lhs
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM
        |    (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)
        |    GROUP BY l_orderkey)),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    COALESCE(CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT), 0) AS violating_groups,
        |    COALESCE(CAST(MAX(d) AS BIGINT), 0) AS max_rhs_per_lhs
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM
        |    (SELECT DISTINCT l_partkey,
        |       CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
        |     FROM lineitem) GROUP BY l_partkey))
        |SELECT dep, n_groups, violating_groups, max_rhs_per_lhs,
        |  (violating_groups * 1000000) // GREATEST(n_groups, 1)
        |    AS violation_ppm
        |FROM (
        |  SELECT 'key_to_qty' AS dep, * FROM k
        |  UNION ALL SELECT 'order_to_returnflag', * FROM o
        |  UNION ALL SELECT 'part_to_price', * FROM p)
        |ORDER BY dep""".stripMargin)) { (s, d) =>
      graft.operators.Quality.fdAudit(t(s, d, "lineitem"), Seq(
        ("key_to_qty", Seq(col("l_orderkey"), col("l_linenumber")),
          col("l_quantity")),
        ("order_to_returnflag", Seq(col("l_orderkey")), col("l_returnflag")),
        ("part_to_price", Seq(col("l_partkey")),
          expr("cast(round(l_extendedprice * 100) as bigint)"))))
        .orderBy("dep")
    },
    // Robust MAD outlier gate on extended-price cents: median/MAD fences
    // in EXACT 2x/4x integers (med2 = 2*median, mad4 = 4*MAD, gate
    // 2*dev2 > k*mad4) — zero doubles, zero libm.
    Query("qq43_mad_outliers", Some(
      """WITH base AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    AS v FROM lineitem),
        |c1 AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY v),
        |r1 AS (SELECT v, c, CAST(COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS below FROM c1),
        |t1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c1),
        |m1 AS (SELECT n, CAST(
        |    COALESCE(SUM(CASE WHEN below < (n + 1) // 2
        |      AND below + c >= (n + 1) // 2 THEN v END), 0)
        |    + COALESCE(SUM(CASE WHEN below < n // 2 + 1
        |      AND below + c >= n // 2 + 1 THEN v END), 0) AS BIGINT) AS med2
        |  FROM r1, t1 GROUP BY n),
        |d AS (SELECT ABS(v * 2 - med2) AS d2 FROM base, m1),
        |c2 AS (SELECT d2, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY d2),
        |r2 AS (SELECT d2, c, CAST(COALESCE(SUM(c) OVER (ORDER BY d2
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS below FROM c2),
        |m2 AS (SELECT CAST(
        |    COALESCE(SUM(CASE WHEN below < (n + 1) // 2
        |      AND below + c >= (n + 1) // 2 THEN d2 END), 0)
        |    + COALESCE(SUM(CASE WHEN below < n // 2 + 1
        |      AND below + c >= n // 2 + 1 THEN d2 END), 0) AS BIGINT) AS mad4
        |  FROM r2, t1 GROUP BY n)
        |SELECT t1.n AS n, m1.med2, m2.mad4,
        |  COALESCE(CAST(SUM(CASE WHEN d.d2 * 2 > 3 * m2.mad4
        |    THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_outliers,
        |  (COALESCE(CAST(SUM(CASE WHEN d.d2 * 2 > 3 * m2.mad4
        |    THEN 1 ELSE 0 END) AS BIGINT), 0) * 1000000)
        |    // GREATEST(t1.n, 1) AS outlier_ppm
        |FROM d, m1, m2, t1 GROUP BY 1, 2, 3""".stripMargin)) { (s, d) =>
      graft.operators.Quality.madOutliers(t(s, d, "lineitem"),
        expr("cast(round(l_extendedprice * 100) as bigint)"), k = 3)
    },
    // Benford first-digit audit of extended-price cents: per-digit
    // observed vs log10(1+1/d) expectation, chi-square terms ppm-floored
    // from literal-inlined constants (no runtime ln).
    Query("qq44_benford", Some(
      """WITH base AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |    AS v FROM lineitem),
        |pos AS (SELECT v FROM base WHERE v IS NOT NULL AND v > 0),
        |obs AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit, CAST(COUNT(*) AS BIGINT) AS o FROM pos GROUP BY 1),
        |digits AS (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT)
        |    AS digit),
        |filled AS (SELECT digits.digit, COALESCE(obs.o, 0) AS o
        |  FROM digits LEFT JOIN obs USING (digit)),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM filled),
        |pd AS (SELECT digit, o, n,
        |    CASE digit WHEN 1 THEN 0.3010299956639812
        |      WHEN 2 THEN 0.17609125905568124 WHEN 3 THEN 0.12493873660829992
        |      WHEN 4 THEN 0.09691001300805642 WHEN 5 THEN 0.07918124604762482
        |      WHEN 6 THEN 0.06694678963061322 WHEN 7 THEN 0.05799194697768673
        |      WHEN 8 THEN 0.05115252244738129 ELSE 0.04575749056067514
        |    END AS p
        |  FROM filled, tot)
        |SELECT digit, o AS obs,
        |  (o * 1000000) // GREATEST(n, 1) AS obs_ppm,
        |  CAST(FLOOR(p * 1000000.0) AS BIGINT) AS exp_ppm,
        |  CASE WHEN n = 0 THEN NULL ELSE
        |    CAST(FLOOR(((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |    * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |    / (CAST(n AS DOUBLE) * p)) * 1000000.0) AS BIGINT) END AS term_ppm
        |FROM pd ORDER BY digit""".stripMargin)) { (s, d) =>
      graft.operators.Quality.benfordAudit(t(s, d, "lineitem"),
          expr("cast(round(l_extendedprice * 100) as bigint)"))
        .orderBy("digit")
    },
    // Kendall's tau-b between quantity (integral, ~50 levels) and
    // discount (11 cent-levels): exact pair concordance over the dense
    // 2-D value grid — C/D/tie terms all BIGINT, one IEEE tree at the
    // end. The naturally tiny grid needs no quantization.
    Query("qq48_kendall", Some(
      """WITH base AS (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        |cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM base GROUP BY 1, 2),
        |xs AS (SELECT DISTINCT x FROM cells),
        |ys AS (SELECT DISTINCT y FROM cells),
        |dense AS (SELECT xs.x, ys.y, COALESCE(cl.c, 0) AS c
        |  FROM xs CROSS JOIN ys LEFT JOIN cells cl USING (x, y)),
        |g AS (SELECT x, y, c,
        |    SUM(c) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
        |  FROM dense),
        |h AS (SELECT x, y, c,
        |    COALESCE(SUM(cy) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS a,
        |    COALESCE(SUM(c) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS e
        |  FROM g),
        |xt AS (SELECT x, SUM(c) AS tx FROM cells GROUP BY x),
        |xb AS (SELECT x, COALESCE(SUM(tx) OVER (ORDER BY x
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS bx
        |  FROM xt),
        |cd AS (SELECT
        |    CAST(COALESCE(SUM(h.c * (xb.bx - h.a)), 0) AS BIGINT)
        |      AS concordant,
        |    CAST(COALESCE(SUM(h.c * (h.a - h.e)), 0) AS BIGINT)
        |      AS discordant
        |  FROM h JOIN xb USING (x)),
        |tx1 AS (SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT)
        |    AS tie_x FROM (SELECT SUM(c) AS t FROM cells GROUP BY x)),
        |ty1 AS (SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT)
        |    AS tie_y FROM (SELECT SUM(c) AS t FROM cells GROUP BY y)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base)
        |SELECT n, n * (n - 1) // 2 AS n_pairs, tie_x, tie_y,
        |  concordant, discordant,
        |  CASE WHEN n * (n - 1) // 2 - tie_x <= 0
        |      OR n * (n - 1) // 2 - tie_y <= 0 THEN NULL
        |    ELSE CAST(FLOOR(1000000.0
        |      * CAST(concordant - discordant AS DOUBLE)
        |      / sqrt(CAST(n * (n - 1) // 2 - tie_x AS DOUBLE)
        |        * CAST(n * (n - 1) // 2 - tie_y AS DOUBLE))) AS BIGINT)
        |    END AS tau_b_ppm
        |FROM cd, tx1, ty1, nn WHERE n > 0""".stripMargin)) { (s, d) =>
      graft.operators.Quality.kendallTauB(t(s, d, "lineitem"),
        expr("cast(round(l_quantity) as bigint)"),
        expr("cast(round(l_discount * 100) as bigint)"))
    },
    // Isotonic sanity check: does the return rate move one way with the
    // discount? Equi-width ppm buckets, exact adjacent-step counts.
    Query("qq41_monotonicity", Some(
      """WITH base AS (SELECT CAST(ROUND(l_discount * 1000000) AS BIGINT) AS f,
        |    (l_returnflag = 'R') AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
        |mm AS (SELECT CAST(MIN(f) AS BIGINT) AS lo,
        |    CAST(MAX(f) AS BIGINT) AS hi FROM base),
        |rates AS (SELECT
        |    LEAST(CAST(9 AS BIGINT),
        |      ((f - lo) * 10) // GREATEST(hi - lo + 1, 1)) AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM base, mm GROUP BY 1),
        |r2 AS (SELECT b, n, (pos * 1000000) // n AS rate_ppm FROM rates),
        |st AS (SELECT
        |    CAST(SUM(CASE WHEN rate_ppm > prev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up,
        |    CAST(SUM(CASE WHEN rate_ppm < prev THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_down,
        |    CAST(COUNT(prev) AS BIGINT) AS n_steps
        |  FROM (SELECT rate_ppm, LAG(rate_ppm) OVER (ORDER BY b) AS prev
        |        FROM r2)
        |  WHERE prev IS NOT NULL),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows FROM r2)
        |SELECT tt.n_buckets, tt.n_rows, st.n_steps,
        |  COALESCE(st.n_up, 0) AS n_up, COALESCE(st.n_down, 0) AS n_down,
        |  CASE WHEN COALESCE(st.n_up, 0) >= COALESCE(st.n_down, 0)
        |    THEN 'up' ELSE 'down' END AS dir,
        |  LEAST(COALESCE(st.n_up, 0), COALESCE(st.n_down, 0))
        |    AS n_violations,
        |  (LEAST(COALESCE(st.n_up, 0), COALESCE(st.n_down, 0)) = 0)
        |    AS monotone
        |FROM st, tt""".stripMargin)) { (s, d) =>
      graft.operators.Quality.monotonicityAudit(t(s, d, "lineitem"),
        expr("cast(round(l_discount * 1000000) as bigint)"),
        expr("l_returnflag = 'R'"), buckets = 10)
    },
    // Simpson's-paradox audit: does the urgent-vs-other fulfillment-rate
    // comparison reverse inside any order-year slice?
    Query("qq32_simpsons", Some(
      """WITH per AS (SELECT
        |    COALESCE(CAST(year(o_orderdate) AS VARCHAR), chr(1) || 'null')
        |      AS slice,
        |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS succ_a,
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS succ_b
        |  FROM orders GROUP BY 1),
        |r AS (SELECT slice, n_a, succ_a, n_b, succ_b,
        |    (succ_a * 1000000) // GREATEST(1, n_a) AS rate_a_ppm,
        |    (succ_b * 1000000) // GREATEST(1, n_b) AS rate_b_ppm
        |  FROM per),
        |rs AS (SELECT *, CASE WHEN rate_a_ppm > rate_b_ppm THEN 1
        |    WHEN rate_a_ppm < rate_b_ppm THEN -1 ELSE 0 END AS sign
        |  FROM r),
        |ov AS (SELECT CAST(SUM(n_a) AS BIGINT) AS n_a,
        |    CAST(SUM(succ_a) AS BIGINT) AS succ_a,
        |    CAST(SUM(n_b) AS BIGINT) AS n_b,
        |    CAST(SUM(succ_b) AS BIGINT) AS succ_b
        |  FROM per),
        |ovr AS (SELECT 'OVERALL' AS slice, n_a, succ_a, n_b, succ_b,
        |    (succ_a * 1000000) // GREATEST(1, n_a) AS rate_a_ppm,
        |    (succ_b * 1000000) // GREATEST(1, n_b) AS rate_b_ppm
        |  FROM ov),
        |ovs AS (SELECT *, CASE WHEN rate_a_ppm > rate_b_ppm THEN 1
        |    WHEN rate_a_ppm < rate_b_ppm THEN -1 ELSE 0 END AS sign
        |  FROM ovr)
        |SELECT rs.slice, rs.n_a, rs.succ_a, rs.n_b, rs.succ_b,
        |  rs.rate_a_ppm, rs.rate_b_ppm, CAST(rs.sign AS BIGINT) AS sign,
        |  rs.sign * ovs.sign < 0 AS reverses
        |FROM rs, ovs
        |UNION ALL
        |SELECT slice, n_a, succ_a, n_b, succ_b, rate_a_ppm, rate_b_ppm,
        |  CAST(sign AS BIGINT) AS sign, FALSE AS reverses
        |FROM ovs
        |ORDER BY slice""".stripMargin)) { (s, d) =>
      graft.operators.Quality.simpsonsAudit(t(s, d, "orders"),
        expr("cast(year(o_orderdate) as string)"),
        expr("o_orderpriority in ('1-URGENT', '2-HIGH')"),
        expr("o_orderstatus = 'F'"))
        .orderBy("slice")
    },
    Query("qg01_triangles", Some(
      s"""WITH ${coPurchaseCtes(20)},
        |deg AS (SELECT x AS n, COUNT(*) AS d FROM (
        |  SELECT u AS x FROM edges UNION ALL SELECT v FROM edges) GROUP BY x),
        |ori AS (SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS s,
        |               CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS t
        |  FROM edges e JOIN deg da ON da.n = e.u JOIN deg db ON db.n = e.v),
        |wedge AS (SELECT a.s, a.t AS x, b.t AS y
        |  FROM ori a JOIN ori b ON a.s = b.s AND a.t < b.t),
        |tri AS (SELECT COUNT(*) AS nt FROM wedge w JOIN edges e ON e.u = w.x AND e.v = w.y)
        |SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
        |       (SELECT COUNT(*) FROM wedge) AS n_wedges,
        |       (SELECT nt FROM tri) AS n_triangles""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 20))
      graft.operators.Graphs.triangleStats(edges, "pa", "pb")
    },
    // The connected-components operator REUSED beyond dedup: components
    // of a (sparser) co-purchase graph via the same Boruvka contraction
    // that resolves duplicate clusters; oracle = recursive closure.
    Query("qg03_graph_components", Some(
      s"""WITH RECURSIVE ${coPurchaseCtes(50)},
        |und AS (SELECT u AS a, v AS b FROM edges UNION SELECT v, u FROM edges),
        |reach AS (
        |  SELECT a, a AS b FROM (SELECT DISTINCT a FROM und)
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
        |SELECT a AS n, MIN(b) AS component FROM reach GROUP BY a ORDER BY n""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50), "id_a", "id_b").distinct()
      graft.operators.Dedup.duplicateClusters(edges)
        .select(col("id").as("n"), col("comp").as("component"))
        .orderBy("n")
    },
    // Per-vertex local clustering coefficients over the same graph —
    // triangle attribution via a 3-way explode of the closed wedges
    // (cost ∝ triangles, not wedges).
    Query("qg02_clustering_coeff", Some(
      s"""WITH ${coPurchaseCtes(20)},
        |deg AS (SELECT x AS n, COUNT(*) AS d FROM (
        |  SELECT u AS x FROM edges UNION ALL SELECT v FROM edges) GROUP BY x),
        |ori AS (SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS s,
        |               CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS t
        |  FROM edges e JOIN deg da ON da.n = e.u JOIN deg db ON db.n = e.v),
        |wedge AS (SELECT a.s, a.t AS x, b.t AS y
        |  FROM ori a JOIN ori b ON a.s = b.s AND a.t < b.t),
        |tri AS (SELECT w.s, w.x, w.y FROM wedge w JOIN edges e ON e.u = w.x AND e.v = w.y),
        |perv AS (SELECT z, COUNT(*) AS triangles FROM (
        |  SELECT s AS z FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri) GROUP BY z)
        |SELECT deg.n, deg.d AS degree, COALESCE(perv.triangles, 0) AS triangles,
        |  CASE WHEN deg.d < 2 THEN 0.0
        |       ELSE 2.0 * COALESCE(perv.triangles, 0) / (deg.d * (deg.d - 1)) END AS coeff
        |FROM deg LEFT JOIN perv ON perv.z = deg.n ORDER BY deg.n""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 20))
      graft.operators.Graphs.clusteringCoefficients(edges, "pa", "pb")
        .orderBy("n")
    },
    // Z-order clustering value under the oracle: Morton-interleave
    // (l_partkey, l_suppkey) quantized to 8 bits each, histogram the
    // top-8-bit cells — the layout key zorderByRange partitions on so
    // parquet min/max prunes on EITHER column.
    Query("qx03_zorder", Some(
      """WITH q AS (SELECT (l_partkey * 255) // 1999 AS qa,
        |  (l_suppkey * 255) // 99 AS qb FROM lineitem),
        |z AS (SELECT CAST(list_sum(list_transform(range(0, 8), i ->
        |    ((qa >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
        |    + ((qb >> i) & 1) * (CAST(1 AS BIGINT) << (2*i+1)))) AS BIGINT) AS z
        | FROM q)
        |SELECT z >> 8 AS zbucket, COUNT(*) AS n FROM z
        |GROUP BY 1 ORDER BY zbucket""".stripMargin)) { (s, d) =>
      graft.functions.TextHashes.register(s)
      t(s, d, "lineitem")
        .select(graft.operators.Layout.zValue2(
          col("l_partkey"), col("l_suppkey"), aMax = 1999, bMax = 99,
          bits = 8).as("z"))
        .groupBy(shiftright(col("z"), 8).as("zbucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("zbucket")
    },
    // Fixed-iteration PageRank over the sparse co-purchase graph, in
    // scaled integer arithmetic — bit-exact under an oracle that
    // unrolls the same five power-iteration rounds.
    Query("qg04_pagerank", Some(pageRankOracle(iters = 5, scale = 1000000000000L))) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.pageRank(edges, "pa", "pb", iters = 5)
        .withColumnRenamed("rank", "pagerank")
        .orderBy("n")
    },
    // Deterministic synchronous label propagation (most-frequent
    // neighbour label, ties to the smallest), 4 rounds, checked against
    // an unrolled ROW_NUMBER oracle.
    Query("qg05_label_prop", Some(labelPropOracle(iters = 4))) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.labelPropagation(edges, "pa", "pb", iters = 4)
        .orderBy("n")
    },
    // One synchronized Louvain sweep from singletons on the co-purchase
    // graph: exact-integer merge gains (min-degree target, least-label
    // coalescing), modularity of the resulting partition.
    Query("qg21_louvain", Some(
      s"""WITH ${orderPartsCte(50)},
        |e0 AS (SELECT a.p AS pa, b.p AS pb FROM pp a
        |  JOIN pp b ON a.o = b.o AND a.p < b.p),
        |edges AS (SELECT DISTINCT LEAST(pa, pb) AS u, GREATEST(pa, pb) AS v
        |  FROM e0 WHERE pa <> pb),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM
        |  (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY 1),
        |adj AS (SELECT a.i, a.j, dj.deg AS kj FROM
        |  (SELECT u AS i, v AS j FROM edges
        |   UNION ALL SELECT v, u FROM edges) a
        |  JOIN deg dj ON dj.n = a.j),
        |ch0 AS (SELECT i, j, kj,
        |    ROW_NUMBER() OVER (PARTITION BY i ORDER BY kj, j) AS rn
        |  FROM adj),
        |choice AS (SELECT c.i AS n,
        |    CASE WHEN 4 * m.m - 2 * di.deg * c.kj > 0
        |      THEN LEAST(c.i, c.j) ELSE c.i END AS c,
        |    (4 * m.m - 2 * di.deg * c.kj > 0) AS merged
        |  FROM ch0 c JOIN deg di ON di.n = c.i, m WHERE c.rn = 1),
        |tagged AS (SELECT e.u, e.v, cu.c AS cu, cv.c AS cv FROM edges e
        |  JOIN choice cu ON cu.n = e.u JOIN choice cv ON cv.n = e.v),
        |ein AS (SELECT cu AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        |  FROM tagged WHERE cu = cv GROUP BY 1),
        |dsum AS (SELECT c.c AS community, CAST(SUM(d.deg) AS BIGINT) AS d_sum
        |  FROM choice c JOIN deg d ON d.n = c.n GROUP BY 1),
        |perc AS (SELECT ds.community,
        |    (COALESCE(e.e_in, 0) * 1000000) // GREATEST(1, m.m)
        |      - (ds.d_sum * ds.d_sum * 1000000) // GREATEST(1, 4 * m.m * m.m)
        |      AS contrib
        |  FROM dsum ds LEFT JOIN ein e ON e.community = ds.community, m),
        |qq AS (SELECT CAST(SUM(contrib) AS BIGINT) AS modularity_ppm
        |  FROM perc),
        |mv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
        |    CAST(SUM(CASE WHEN merged THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_merged,
        |    CAST(COUNT(DISTINCT c) AS BIGINT) AS n_communities
        |  FROM choice)
        |SELECT mv.n_vertices, m.m AS n_edges, mv.n_merged,
        |  mv.n_communities, qq.modularity_ppm
        |FROM mv, m, qq""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.louvainSweep(edges, "pa", "pb")
    },
    // Fixed-round 3-core peeling on the same co-purchase graph; the
    // oracle unrolls the identical peel rounds.
    Query("qg06_kcore", Some(kCoreOracle(k = 3, rounds = 3))) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.kCore(edges, "pa", "pb", k = 3, rounds = 3)
        .orderBy("n")
    },
    // Resource-allocation link prediction on the co-purchase graph:
    // non-adjacent pairs scored by common neighbours + Σ scale/deg(z),
    // hubs above maxDeg excluded as intermediates (the scale bound).
    Query("qg07_link_pred", Some(
      s"""WITH ${coPurchaseCtes(50)},
        |dir AS (SELECT u AS z, v AS n FROM edges UNION ALL SELECT v, u FROM edges),
        |deg AS (SELECT z, COUNT(*) AS deg FROM dir GROUP BY z),
        |nb AS (SELECT d.z, d.n, g.deg FROM dir d JOIN deg g USING (z)
        |  WHERE g.deg <= 64),
        |pr AS (SELECT x.n AS u, y.n AS v, COUNT(*) AS common,
        |    CAST(SUM(1000000 // x.deg) AS BIGINT) AS ra_score
        |  FROM nb x JOIN nb y ON x.z = y.z AND x.n < y.n GROUP BY 1, 2)
        |SELECT u, v, common, ra_score FROM pr
        |WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = pr.u AND e.v = pr.v)
        |ORDER BY u, v""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.linkPrediction(edges, "pa", "pb",
          scale = 1000000L, maxDeg = 64)
        .orderBy("u", "v")
    },
    // Multi-source BFS on the co-purchase graph: hop distance from the
    // %97 seed parts, 4 hops max — frontier expansion with per-round
    // checkpoints, vs a recursive-CTE min-distance oracle.
    Query("qg09_bfs_hops", Some(
      s"""WITH RECURSIVE ${coPurchaseBothWaysCtes},
        |seeds AS (SELECT DISTINCT u AS n FROM edges WHERE u % 97 = 0),
        |reach(n, dd) AS (SELECT n, 0 FROM seeds
        |  UNION SELECT e.v, r.dd + 1 FROM reach r JOIN edges e ON e.u = r.n
        |  WHERE r.dd < 4)
        |SELECT n, MIN(dd) AS dist FROM reach GROUP BY n ORDER BY n""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      val seeds = edges.select(col("pa").as("n"))
        .unionAll(edges.select(col("pb").as("n")))
        .filter(col("n") % 97 === 0).distinct()
      graft.operators.Graphs.shortestHops(edges, "pa", "pb", seeds, "n",
          maxHops = 4)
        .orderBy("n")
    },
    // Fuzzy record-linkage join: a deterministically-corrupted customer
    // feed (one digit deleted mid-name) relinked to the master table —
    // last-4-digit blocking the corruption cannot move, then the
    // threshold-banded Levenshtein gate.
    Query("qd56_fuzzy_join", Some(
      """WITH clean AS (SELECT c_custkey AS id_l, c_name AS name_l,
        |    right(c_name, 4) AS blk FROM customer),
        |dirty AS (SELECT c_custkey + 1000000 AS id_r,
        |    substring(c_name, 1, CAST(9 + c_custkey % 5 AS INT))
        |      || substring(c_name, CAST(11 + c_custkey % 5 AS INT)) AS name_r
        |  FROM customer),
        |dirty2 AS (SELECT id_r, name_r, right(name_r, 4) AS blk FROM dirty),
        |p AS (SELECT c.id_l, d.id_r,
        |    CAST(levenshtein(c.name_l, d.name_r) AS BIGINT) AS dist,
        |    greatest(length(c.name_l), length(d.name_r), 1) AS len
        |  FROM clean c JOIN dirty2 d ON d.blk = c.blk)
        |SELECT id_l, id_r, dist, (dist * 1000000) // len AS dist_ppm
        |FROM p WHERE (dist * 1000000) // len <= 100000
        |ORDER BY id_l, id_r""".stripMargin)) { (s, d) =>
      val cust = t(s, d, "customer")
      val clean = cust.select(col("c_custkey").as("id_l"), col("c_name").as("name_l"))
        .withColumn("blk_l", expr("right(name_l, 4)"))
      val dirty = cust.select((col("c_custkey") + 1000000).as("id_r"),
          expr("concat(substring(c_name, 1, 9 + c_custkey % 5), " +
            "substring(c_name, 11 + c_custkey % 5))").as("name_r"))
        .withColumn("blk_r", expr("right(name_r, 4)"))
      graft.operators.Dedup.fuzzyJoin(clean, dirty, "id_l", "name_l", "blk_l",
          "id_r", "name_r", "blk_r", maxDistPpm = 100000L)
        .orderBy("id_l", "id_r")
    },
    // First-order Markov transition matrix over per-user event
    // sequences: counts + row-conditional probabilities in ppm.
    Query("qa06_markov", Some(
      """WITH seq AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
        |  FROM events),
        |nx AS (SELECT event_type, LEAD(event_type) OVER (
        |    PARTITION BY user_id ORDER BY tsu, event_id) AS next_type FROM seq),
        |c AS (SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY 1)
        |SELECT c.event_type, c.next_type, c.n, (c.n * 1000000) // t.row_n AS p_ppm
        |FROM c JOIN t USING (event_type)
        |ORDER BY c.event_type, c.next_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.transitionMatrix(t(s, d, "events"))
        .orderBy("event_type", "next_type")
    },
    // Personalized PageRank from the %97 seed parts: random walk with
    // restart, scaled-integer power iteration, unrolled-SQL oracle.
    Query("qg10_ppr", Some(pprOracle(iters = 4, scale = 1000000000000L))) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      val seeds = edges.select(col("pa").as("n"))
        .unionAll(edges.select(col("pb").as("n")))
        .filter(col("n") % 97 === 0).distinct()
      graft.operators.Graphs.personalizedPageRank(edges, "pa", "pb",
          seeds, "n", iters = 4)
        .withColumnRenamed("rank", "ppr")
        .orderBy("n")
    },
    // Rand-index agreement between two bucketings of the documents
    // (char-length centads vs token-count vigesimals) — pair counting
    // from the contingency table, no pair relation ever materialized.
    Query("qq07_cluster_agreement", Some(
      """WITH l AS (SELECT n_chars // 100 AS a,
        |    len(str_split(text, ' ')) // 20 AS b FROM documents),
        |cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij FROM l GROUP BY 1, 2),
        |p AS (SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS p,
        |    CAST(SUM(nij) AS BIGINT) AS n FROM cells),
        |a2 AS (SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS a2
        |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY a)),
        |b2 AS (SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS b2
        |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY b))
        |SELECT n, (n * (n - 1)) // 2 AS total_pairs, p AS both_pairs, a2, b2,
        |  (n * (n - 1)) // 2 + 2 * p - a2 - b2 AS agree_pairs,
        |  (((n * (n - 1)) // 2 + 2 * p - a2 - b2) * 1000000)
        |    // greatest((n * (n - 1)) // 2, 1) AS rand_ppm
        |FROM p, a2, b2""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents")
        .withColumn("a", expr("n_chars div 100"))
        .withColumn("b", expr("size(split(text, ' ')) div 20"))
      graft.operators.Quality.clusterAgreement(docs, "a", "b")
    },
    // First/last-touch conversion attribution: every purchase attributed
    // to the same user's touches in the trailing 24 h — the binned
    // interval join bounds the pair fan-out; endpoints come from one
    // min/max-of-struct aggregation, no window over raw events.
    Query("qa05_attribution", Some(
      """WITH conv AS (SELECT event_id AS conv_id, user_id, epoch_us(ts) AS tsu
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type,
        |    epoch_us(ts) AS ttsu FROM events WHERE event_type <> 'purchase'),
        |p AS (SELECT c.conv_id, t.touch_type, t.ttsu, t.touch_id
        |  FROM conv c JOIN tch t ON t.user_id = c.user_id
        |    AND t.ttsu < c.tsu AND t.ttsu >= c.tsu - 86400000000),
        |r AS (SELECT conv_id, touch_type, ttsu,
        |  ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ttsu, touch_id) AS rna,
        |  ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ttsu DESC, touch_id DESC) AS rnd
        |  FROM p),
        |a AS (SELECT conv_id, COUNT(*) AS n_touches FROM p GROUP BY conv_id)
        |SELECT c.conv_id, c.user_id, c.tsu AS ts_us,
        |  COALESCE(a.n_touches, 0) AS n_touches,
        |  ff.touch_type AS first_touch, ff.ttsu AS first_ts_us,
        |  fl.touch_type AS last_touch, fl.ttsu AS last_ts_us
        |FROM conv c
        |LEFT JOIN a ON a.conv_id = c.conv_id
        |LEFT JOIN (SELECT conv_id, touch_type, ttsu FROM r WHERE rna = 1) ff
        |  ON ff.conv_id = c.conv_id
        |LEFT JOIN (SELECT conv_id, touch_type, ttsu FROM r WHERE rnd = 1) fl
        |  ON fl.conv_id = c.conv_id
        |ORDER BY c.conv_id""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.attribution(
          t(s, d, "events"), "purchase", lookbackMinutes = 1440)
        .orderBy("conv_id")
    },
    // Count-Min-Sketch heavy hitters over lineitem parts: the
    // d x w counter table is THE sketch (O(d·w) rows regardless of input
    // cardinality); estimates are md5-deterministic, so the oracle
    // replays every digit. est >= exact always (no false negatives).
    Query("qx06_cms_heavy", Some(
      s"""WITH vals AS (SELECT CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
        |b AS (SELECT v, i,
        |    ${hex52("md5('c' || i || '_' || v)")} % 256 AS bkt
        |  FROM vals CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)),
        |counters AS (SELECT i, bkt, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |probe AS (SELECT DISTINCT v, i, bkt FROM b),
        |est AS (SELECT v, MIN(c) AS cms_est FROM probe
        |  JOIN counters USING (i, bkt) GROUP BY v),
        |exact AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS exact_count
        |  FROM vals GROUP BY v)
        |SELECT exact.v AS l_partkey, exact_count, cms_est
        |FROM exact JOIN est USING (v) WHERE cms_est >= 50
        |ORDER BY l_partkey""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.cmsHeavyHitters(
          t(s, d, "lineitem"), "l_partkey",
          depth = 3, width = 256, minEst = 50L)
        .orderBy("l_partkey")
    },
    // Deterministic-sample quantiles of the price distribution: the
    // md5-bottom-k sample is a pure function of the id set, so the
    // oracle draws the identical sample and lands on identical values
    // (the engine-portable alternative to approx_percentile/KLL).
    // identical md5-bottom-k sample, identical (value, hash) order,
    // identical nearest-rank pick — every digit reproduces
    Query("qx07_sample_quantiles", Some(
      """WITH s AS (SELECT md5('sq_' || (l_orderkey || '_' || l_linenumber)) AS h,
        |    l_extendedprice AS v
        |  FROM lineitem ORDER BY h LIMIT 1024),
        |r AS (SELECT v, h, ROW_NUMBER() OVER (ORDER BY v, h) AS rn,
        |    COUNT(*) OVER () AS n FROM s),
        |q AS (SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS q)
        |SELECT q.q AS q, r.v AS value, r.n AS sample_n
        |FROM q JOIN r ON r.rn = GREATEST(1, CAST(CEIL(q.q * r.n) AS BIGINT))
        |ORDER BY q""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.sampleQuantiles(
        t(s, d, "lineitem")
          .withColumn("lid",
            concat_ws("_", col("l_orderkey"), col("l_linenumber"))),
        "l_extendedprice", "lid",
        quantiles = Seq(0.25, 0.5, 0.75, 0.9, 0.99), k = 1024)
    },
    // Deterministic weighted priority sample: 100 documents drawn with
    // probability ∝ n_chars via the md5-priority trick — a pure function
    // of the (id, weight) set, so the oracle draws the identical rows.
    Query("qx08_priority_sample", Some(
      s"""WITH w AS (SELECT CAST(doc_id AS VARCHAR) AS id,
        |    CAST(n_chars AS BIGINT) AS weight FROM documents),
        |u AS (SELECT id, weight,
        |  ${hex52("md5('ps_' || id)")} AS uv FROM w)
        |SELECT id, weight, uv // greatest(weight, 1) AS priority FROM u
        |ORDER BY priority, id LIMIT 100""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.prioritySample(
        t(s, d, "documents"), "doc_id", "n_chars", k = 100)
    },
    // Semi-structured profiler over a synthesized three-variant JSON
    // column: per top-level key, row coverage + distinct/min/max of the
    // extracted text — the "what is actually in this props blob" view.
    // JSON value-type inference over the qq05 blobs plus a
    // decimal-as-string amount (the number-shipped-as-string case type
    // inference exists for): the narrowest safe extraction type per key.
    Query("qq30_json_types", Some(
      """WITH c AS (SELECT event_id, user_id, event_type,
        |    ABS(CAST(ROUND(value * 100) AS BIGINT)) AS cents FROM events),
        |j AS (SELECT CASE
        |    WHEN event_id % 3 = 0 THEN
        |      '{"uid": ' || user_id || ', "type": "' || event_type
        |        || '", "amt": "' || (cents // 100) || '.'
        |        || lpad(CAST(cents % 100 AS VARCHAR), 2, '0') || '"}'
        |    WHEN event_id % 3 = 1 THEN '{"uid": ' || user_id || '}'
        |    ELSE '{"uid": ' || user_id || ', "type": "' || event_type
        |      || '", "flag": true}' END AS js
        |  FROM c),
        |keys AS (SELECT js, unnest(json_keys(js)) AS key FROM j),
        |kv AS (SELECT key, js ->> key AS v FROM keys WHERE js ->> key
        |  IS NOT NULL),
        |f AS (SELECT key,
        |    CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN 1 ELSE 0 END
        |      AS is_i,
        |    CASE WHEN regexp_matches(v,
        |      '^-?[0-9]+(\.[0-9]+)?([eE][-+]?[0-9]+)?$') THEN 1 ELSE 0 END
        |      AS is_d,
        |    CASE WHEN v IN ('true', 'false') THEN 1 ELSE 0 END AS is_b
        |  FROM kv),
        |g AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_values,
        |    CAST(SUM(is_i) AS BIGINT) AS n_int,
        |    CAST(SUM(is_d) AS BIGINT) AS n_double,
        |    CAST(SUM(is_b) AS BIGINT) AS n_bool
        |  FROM f GROUP BY key)
        |SELECT key, n_values, n_int, n_double, n_bool,
        |  CASE WHEN n_int = n_values THEN 'bigint'
        |    WHEN n_double = n_values THEN 'double'
        |    WHEN n_bool = n_values THEN 'boolean'
        |    ELSE 'varchar' END AS suggested
        |FROM g ORDER BY key""".stripMargin)) { (s, d) =>
      val cents = abs(round(col("value") * 100)).cast("long")
      val js = when(col("event_id") % 3 === 0,
          format_string(
            "{\"uid\": %d, \"type\": \"%s\", \"amt\": \"%d.%02d\"}",
            col("user_id"), col("event_type"),
            expr("abs(cast(round(value * 100) as bigint)) div 100"),
            pmod(cents, lit(100L))))
        .when(col("event_id") % 3 === 1,
          format_string("{\"uid\": %d}", col("user_id")))
        .otherwise(format_string(
          "{\"uid\": %d, \"type\": \"%s\", \"flag\": true}",
          col("user_id"), col("event_type")))
      graft.operators.Quality.jsonTypeInference(
          t(s, d, "events").select(js.as("j")), "j")
        .orderBy("key")
    },
    Query("qq05_json_profile", Some(
      """WITH j AS (SELECT CASE
        |    WHEN event_id % 3 = 0 THEN
        |      '{"uid": ' || user_id || ', "type": "' || event_type || '"}'
        |    WHEN event_id % 3 = 1 THEN '{"uid": ' || user_id || '}'
        |    ELSE '{"uid": ' || user_id || ', "type": "' || event_type
        |      || '", "flag": true}' END AS js
        |  FROM events),
        |keys AS (SELECT js, unnest(json_keys(js)) AS key FROM j),
        |kv AS (SELECT key, js ->> key AS v FROM keys)
        |SELECT key, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
        |  MIN(v) AS min_v, MAX(v) AS max_v
        |FROM kv GROUP BY key ORDER BY key""".stripMargin)) { (s, d) =>
      val js = when(col("event_id") % 3 === 0,
          format_string("{\"uid\": %d, \"type\": \"%s\"}",
            col("user_id"), col("event_type")))
        .when(col("event_id") % 3 === 1,
          format_string("{\"uid\": %d}", col("user_id")))
        .otherwise(format_string(
          "{\"uid\": %d, \"type\": \"%s\", \"flag\": true}",
          col("user_id"), col("event_type")))
      graft.operators.Quality.jsonKeyProfile(
          t(s, d, "events").select(js.as("j")), "j")
        .orderBy("key")
    },
    // Key-skew diagnostics on the lineitem supplier key: top-20 heavy
    // keys with ppm shares plus the global HHI concentration index —
    // the salt-or-not decision input for every shuffle on this key.
    Query("qq06_key_skew", Some(
      """WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq FROM c)
        |SELECT key, cnt, (cnt * 1000000) // n_rows AS share_ppm,
        |  n_keys, n_rows, (sum_sq * 1000000) // (n_rows * n_rows) AS hhi_ppm
        |FROM c, g ORDER BY cnt DESC, key LIMIT 20""".stripMargin)) { (s, d) =>
      graft.operators.Quality.keySkew(
        t(s, d, "lineitem"), "l_suppkey", topK = 20)
    },
    // HITS hubs/authorities over the bipartite order->part purchase
    // graph (orders negated so the two id spaces can't collide), in
    // L-infinity-normalized scaled integers; oracle unrolls the same
    // three iterations.
    Query("qg08_hits", Some(hitsOracle(iters = 3, scale = 1000000L))) { (s, d) =>
      val ev = t(s, d, "lineitem").filter(col("l_orderkey") % 50 === 0)
        .select((-col("l_orderkey")).as("src"), col("l_partkey").as("dst"))
      graft.operators.Graphs.hits(ev, "src", "dst", iters = 3)
        .orderBy("n")
    },
    // Column profile: one aggregate pass over lineitem summarizes four
    // numeric columns (the ANALYZE step before publishing a snapshot).
    Query("qq03_profile", Some(
      """SELECT * FROM (
        |  SELECT 'l_quantity' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(l_quantity) AS BIGINT) AS n_nonnull,
        |    CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
        |    CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
        |    CAST(MAX(l_quantity) AS DOUBLE) AS max_val FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(l_extendedprice) AS BIGINT),
        |    CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
        |    CAST(MIN(l_extendedprice) AS DOUBLE),
        |    CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(l_discount) AS BIGINT),
        |    CAST(COUNT(DISTINCT l_discount) AS BIGINT),
        |    CAST(MIN(l_discount) AS DOUBLE),
        |    CAST(MAX(l_discount) AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linenumber', CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(l_linenumber) AS BIGINT),
        |    CAST(COUNT(DISTINCT l_linenumber) AS BIGINT),
        |    CAST(MIN(l_linenumber) AS DOUBLE),
        |    CAST(MAX(l_linenumber) AS DOUBLE) FROM lineitem)
        |ORDER BY "column"""".stripMargin)) { (s, d) =>
      graft.operators.Quality.profile(t(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_linenumber"))
        .orderBy("column")
    },
    // Windowed rate-spike monitor: hourly counts per event_type scored
    // against the trailing-3-window mean as an integer ratio.
    Query("qw02_rate_spikes", Some(
      """WITH counts AS (SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS wstart_us,
        |    event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |tr AS (SELECT wstart_us, event_type, n,
        |    CAST(SUM(n) OVER w AS BIGINT) AS trail_sum,
        |    COUNT(*) OVER w AS trail_n
        |  FROM counts
        |  WINDOW w AS (PARTITION BY event_type ORDER BY wstart_us
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
        |SELECT wstart_us, event_type, n, trail_sum,
        |  (n * 3 * 1000000) // GREATEST(1, trail_sum) AS spike_ratio_scaled
        |FROM tr WHERE trail_n = 3
        |ORDER BY wstart_us, event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.rateSpikes(
          t(s, d, "events"), windowMinutes = 60, trailing = 3)
        .orderBy("wstart_us", "event_type")
    },
    // Equi-width histogram of the price column (20 bins over [0, 60k));
    // out-of-range rows clamp to the edge buckets so totals reconcile.
    Query("qq04_histogram", Some(
      """SELECT LEAST(19, GREATEST(0,
        |    CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - 0.0) * 20 / 60000.0) AS BIGINT)
        |  )) AS bucket, CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin)) { (s, d) =>
      graft.operators.Quality.histogram(t(s, d, "lineitem"),
        "l_extendedprice", minVal = 0.0, maxVal = 60000.0, nbins = 20)
    },
    // Language-mix drift between the even and odd document halves:
    // integer chi-square-shaped contributions per language.
    Query("qd44_distribution_drift", Some(
      """WITH a AS (SELECT CAST(lang AS VARCHAR) AS value FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT CAST(lang AS VARCHAR) AS value FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_a FROM a GROUP BY 1),
        |cb AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS n_b FROM b GROUP BY 1),
        |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM a),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM b),
        |j AS (SELECT COALESCE(ca.value, cb.value) AS value,
        |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |  FROM ca FULL OUTER JOIN cb ON ca.value = cb.value),
        |p AS (SELECT value, n_a, n_b,
        |    (n_a * 1000000) // GREATEST(1, na) AS pa_ppm,
        |    (n_b * 1000000) // GREATEST(1, nb) AS pb_ppm
        |  FROM j CROSS JOIN na CROSS JOIN nb)
        |SELECT value, n_a, n_b, pa_ppm, pb_ppm,
        |  ((pa_ppm - pb_ppm) * (pa_ppm - pb_ppm)) // GREATEST(1, pa_ppm + pb_ppm) AS contrib
        |FROM p ORDER BY value""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.Quality.distributionDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang")
        .orderBy("value")
    },
    // Newman modularity of the partkey%16 hash partitioning over the
    // co-purchase graph — the community-quality score (a hash null
    // model scores near zero; real communities score positive).
    Query("qg11_modularity", Some(
      s"""WITH ${coPurchaseCtes(50)},
        |asg AS (SELECT DISTINCT p AS n, p % 16 AS c FROM pp),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        |ein AS (SELECT au.c AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        |  FROM edges e JOIN asg au ON au.n = e.u JOIN asg av ON av.n = e.v
        |  WHERE au.c = av.c GROUP BY 1),
        |deg AS (SELECT x AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS x FROM edges UNION ALL SELECT v FROM edges) GROUP BY x),
        |ds AS (SELECT asg.c AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(deg) AS BIGINT) AS d_sum
        |  FROM deg JOIN asg ON asg.n = deg.n GROUP BY 1),
        |per AS (SELECT ds.community, ds.n_nodes, COALESCE(e_in, 0) AS e_in, ds.d_sum,
        |    (COALESCE(e_in, 0) * 1000000) // GREATEST(1, m) AS intra_ppm,
        |    (ds.d_sum * ds.d_sum * 1000000) // GREATEST(1, 4 * m * m) AS exp_ppm
        |  FROM ds LEFT JOIN ein ON ein.community = ds.community CROSS JOIN m),
        |g AS (SELECT *, intra_ppm - exp_ppm AS contrib_ppm FROM per)
        |SELECT community, n_nodes, e_in, d_sum, intra_ppm, exp_ppm, contrib_ppm,
        |  (SELECT CAST(SUM(contrib_ppm) AS BIGINT) FROM g) AS modularity_ppm
        |FROM g ORDER BY community""".stripMargin)) { (s, d) =>
      val pp = orderParts(s, d, 50)
      val edges = coPurchaseEdges(pp)
      val assign = pp.select(col("p").as("n")).distinct()
        .withColumn("c", col("n") % 16)
      graft.operators.Graphs.modularity(edges, "pa", "pb", assign, "n", "c")
        .orderBy("community")
    },
    // k-anonymity audit on the (lang, source, length-bin) quasi-
    // identifier tuple: how much of the snapshot sits in groups smaller
    // than k=5 (each such row re-identifiable to within its group).
    Query("qq08_k_anonymity", Some(
      """WITH g AS (SELECT lang, source, n_chars // 200 AS len_bin,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2, 3),
        |a AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(COALESCE(SUM(CASE WHEN cnt < 5 THEN 1 END), 0) AS BIGINT) AS small_groups,
        |    CAST(COALESCE(SUM(CASE WHEN cnt < 5 THEN cnt END), 0) AS BIGINT) AS rows_at_risk,
        |    CAST(MIN(cnt) AS BIGINT) AS min_group_size
        |  FROM g)
        |SELECT CAST(5 AS BIGINT) AS k, n_rows, n_groups, small_groups,
        |  rows_at_risk, min_group_size,
        |  (rows_at_risk * 1000000) // GREATEST(1, n_rows) AS risk_ppm
        |FROM a""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents").select(col("lang"), col("source"),
        expr("n_chars div 200").as("len_bin"))
      graft.operators.Quality.kAnonymity(
        docs, Seq("lang", "source", "len_bin"), k = 5)
    },
    // Cohen's kappa between the gold language label and a synthetic
    // 80%-faithful annotator (doc_id-keyed disagreement injects the
    // source tag) — chance-corrected agreement in integer ppm.
    Query("qq09_kappa", Some(
      """WITH l AS (SELECT lang AS a,
        |    CASE WHEN doc_id % 10 < 8 THEN lang ELSE source END AS b
        |  FROM documents),
        |cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij FROM l GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
        |    CAST(COALESCE(SUM(CASE WHEN a = b THEN nij END), 0) AS BIGINT) AS agree
        |  FROM cells),
        |am AS (SELECT a, CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY a),
        |bm AS (SELECT b, CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY b),
        |ab AS (SELECT CAST(COALESCE(SUM(ai * bj), 0) AS BIGINT) AS sum_ab
        |  FROM am JOIN bm ON am.a = bm.b),
        |p AS (SELECT n, agree,
        |    (agree * 1000000) // GREATEST(1, n) AS po_ppm,
        |    (sum_ab * 1000000) // GREATEST(1, n * n) AS pe_ppm
        |  FROM t CROSS JOIN ab)
        |SELECT n, agree, po_ppm, pe_ppm,
        |  ((po_ppm - pe_ppm) * 1000000) // GREATEST(1, 1000000 - pe_ppm) AS kappa_ppm
        |FROM p""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents").select(col("lang").as("gold"),
        when(col("doc_id") % 10 < 8, col("lang")).otherwise(col("source"))
          .as("pred"))
      graft.operators.Quality.cohenKappa(docs, "gold", "pred")
    },
    // Half-life-decayed trending: hourly buckets, 24-bucket half-life —
    // power-of-two decay so the oracle replays every shift.
    Query("qw03_decayed_counts", Some(
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT MAX(bucket) AS ref_bucket FROM c),
        |a AS (SELECT event_type, n,
        |    LEAST((ref_bucket - bucket) // 24, 62) AS age_hl
        |  FROM c CROSS JOIN r)
        |SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_total,
        |  CAST(SUM((n * 1000000) >> CAST(age_hl AS INTEGER)) AS BIGINT)
        |    AS decayed_scaled
        |FROM a GROUP BY event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.decayedCounts(t(s, d, "events"),
        windowMinutes = 60, halflifeBuckets = 24)
    },
    // Per-user bot/burst fingerprint: minimum inter-arrival gap +
    // hottest minute, with the machine-cadence flag.
    Query("qa07_bot_signals", Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |g AS (SELECT user_id, tus, event_type,
        |    tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |      AS gap_us
        |  FROM e),
        |pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |    CAST(MAX(tus) - MIN(tus) AS BIGINT) AS span_us,
        |    CAST(MIN(gap_us) AS BIGINT) AS min_gap_us
        |  FROM g GROUP BY user_id),
        |b AS (SELECT user_id, CAST(MAX(m) AS BIGINT) AS max_per_min FROM (
        |    SELECT user_id, tus // 60000000 AS minute, COUNT(*) AS m
        |    FROM e GROUP BY 1, 2) GROUP BY user_id)
        |SELECT pu.user_id, n_events, n_types, span_us, min_gap_us, max_per_min,
        |  CAST(CASE WHEN COALESCE(min_gap_us < 1000000, FALSE)
        |         OR max_per_min >= 10 THEN 1 ELSE 0 END AS INTEGER) AS bot
        |FROM pu JOIN b ON pu.user_id = b.user_id
        |ORDER BY pu.user_id""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.botSignals(t(s, d, "events"),
          minGapUs = 1000000L, burstPerMin = 10L)
        .orderBy("user_id")
    },
    // Benford first-digit audit of the price column vs the inlined
    // log10(1+1/d) ppm expectations, with the total-variation distance.
    Query("qq10_benford", Some(
      """WITH e(digit, exp_ppm) AS (VALUES (1, 301030), (2, 176091),
        |  (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992),
        |  (8, 51153), (9, 45757)),
        |c AS (SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1
        |  GROUP BY 1),
        |o AS (SELECT CAST(e.digit AS BIGINT) AS digit,
        |    CAST(e.exp_ppm AS BIGINT) AS exp_ppm, COALESCE(n, 0) AS n
        |  FROM e LEFT JOIN c ON c.digit = e.digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_checked FROM o),
        |dv AS (SELECT digit, n,
        |    (n * 1000000) // GREATEST(1, n_checked) AS obs_ppm, exp_ppm,
        |    n_checked
        |  FROM o CROSS JOIN t),
        |d2 AS (SELECT digit, n, obs_ppm, exp_ppm,
        |    ABS(obs_ppm - exp_ppm) AS dev_ppm, n_checked FROM dv),
        |tv AS (SELECT CAST(SUM(dev_ppm) // 2 AS BIGINT) AS tvd_ppm FROM d2)
        |SELECT digit, n, obs_ppm, exp_ppm, dev_ppm, tvd_ppm, n_checked
        |FROM d2 CROSS JOIN tv ORDER BY digit""".stripMargin)) { (s, d) =>
      graft.operators.Quality.benford(t(s, d, "lineitem"), "l_extendedprice")
    },
    // Functional-dependency audit: does partkey determine suppkey, is
    // (orderkey, linenumber) really a key for partkey, does the order
    // pin its line status — violation accounting per declared FD.
    Query("qq11_fd_audit", Some(
      s"""WITH ${fdAuditCtes(1, "l_suppkey", "l_partkey")},
        |${fdAuditCtes(2, "l_partkey", "l_orderkey, l_linenumber")},
        |${fdAuditCtes(3, "l_linestatus", "l_orderkey")}
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
        |ORDER BY fd""".stripMargin)) { (s, d) =>
      graft.operators.Quality.fdViolations(t(s, d, "lineitem"), Seq(
          (Seq("l_partkey"), "l_suppkey"),
          (Seq("l_orderkey", "l_linenumber"), "l_partkey"),
          (Seq("l_orderkey"), "l_linestatus")))
        .orderBy("fd")
    },
    // Audience-overlap matrix: pairwise Jaccard between event types'
    // user sets, estimated from per-type bottom-128 KMV summaries the
    // oracle redraws identically.
    Query("qx09_group_jaccard", Some(
      """WITH hs AS (SELECT DISTINCT event_type AS g,
        |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |bk AS (SELECT g, h FROM (SELECT g, h,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS r FROM hs)
        |  WHERE r <= 128),
        |gs AS (SELECT DISTINCT g FROM bk),
        |p AS (SELECT x.g AS ga, y.g AS gb FROM gs x JOIN gs y ON x.g < y.g),
        |tagged AS (
        |  SELECT p.ga, p.gb, bk.h, 1 AS ia, 0 AS ib
        |  FROM p JOIN bk ON bk.g = p.ga
        |  UNION ALL
        |  SELECT p.ga, p.gb, bk.h, 0 AS ia, 1 AS ib
        |  FROM p JOIN bk ON bk.g = p.gb),
        |m AS (SELECT ga, gb, h, MAX(ia) AS ia, MAX(ib) AS ib
        |  FROM tagged GROUP BY 1, 2, 3),
        |mr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS r
        |  FROM m),
        |kept AS (SELECT * FROM mr WHERE r <= 128),
        |agg AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS kk,
        |    CAST(COALESCE(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 END), 0)
        |      AS BIGINT) AS inter
        |  FROM kept GROUP BY ga, gb)
        |SELECT ga, gb, kk, inter,
        |  (inter * 1000000) // GREATEST(1, kk) AS jaccard_ppm
        |FROM agg ORDER BY ga, gb""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.crossGroupJaccard(
          t(s, d, "events"), "event_type", "user_id", k = 128)
        .orderBy("ga", "gb")
    },
    // Degree assortativity of the co-purchase graph: do popular parts
    // co-purchase with other popular parts (r > 0) or with long-tail
    // ones (r < 0)? All-integer Pearson over the orientation list.
    Query("qg12_assortativity", Some(
      s"""WITH ${coPurchaseCtes(50)},
        |ori AS (SELECT u AS s, v AS t FROM edges
        |  UNION ALL SELECT v AS s, u AS t FROM edges),
        |deg AS (SELECT s AS n, CAST(COUNT(*) AS BIGINT) AS d FROM ori GROUP BY s),
        |terms AS (SELECT ds.d AS x, dt.d AS y FROM ori
        |  JOIN deg ds ON ds.n = ori.s JOIN deg dt ON dt.n = ori.t),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    CAST(SUM(x) AS BIGINT) AS sum_x,
        |    CAST(SUM(x * y) AS BIGINT) AS sum_xy,
        |    CAST(SUM(x * x) AS BIGINT) AS sum_x2 FROM terms),
        |nd AS (SELECT n_terms, sum_x, sum_xy, sum_x2,
        |    CAST(n_terms * sum_xy - sum_x * sum_x AS BIGINT) AS num,
        |    CAST(n_terms * sum_x2 - sum_x * sum_x AS BIGINT) AS den FROM agg)
        |SELECT n_terms, sum_x, sum_xy, sum_x2, num, den,
        |  (num * 1000 - ((num * 1000 % GREATEST(1, den)) + GREATEST(1, den))
        |    % GREATEST(1, den)) // GREATEST(1, den) AS r_milli
        |FROM nd""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.degreeAssortativity(edges, "pa", "pb")
    },
    // Time-in-state: how long users dwell in each event type before
    // their next action (lead window on the user partitioning).
    Query("qa08_dwell_times", Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |g AS (SELECT event_type,
        |    LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus
        |      AS dwell_us
        |  FROM e),
        |f AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_stays,
        |    CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
        |    CAST(MAX(dwell_us) AS BIGINT) AS max_dwell_us
        |  FROM g WHERE dwell_us IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_stays, total_dwell_us,
        |  total_dwell_us // n_stays AS mean_dwell_us, max_dwell_us
        |FROM f ORDER BY event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.dwellTimes(t(s, d, "events"))
        .orderBy("event_type")
    },
    // Heaps-law vocabulary growth across 10 id-range corpus slices:
    // new/cumulative vocabulary per slice — the crawl-saturation read.
    Query("qq12_heaps_growth", Some(
      """WITH b AS (SELECT doc_id, text,
        |    ((doc_id - lo) * 10) // (hi - lo + 1) AS bucket
        |  FROM documents CROSS JOIN
        |    (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents)),
        |ds AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS bucket_tokens
        |  FROM b GROUP BY bucket),
        |fs AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types FROM (
        |    SELECT token, MIN(bucket) AS bucket FROM (
        |      SELECT bucket, unnest(str_split(text, ' ')) AS token FROM b)
        |    GROUP BY token)
        |  GROUP BY bucket),
        |j AS (SELECT ds.bucket, n_docs, bucket_tokens,
        |    COALESCE(new_types, 0) AS new_types
        |  FROM ds LEFT JOIN fs ON fs.bucket = ds.bucket)
        |SELECT bucket, n_docs, bucket_tokens, new_types,
        |  CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types,
        |  CAST(SUM(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens
        |FROM j ORDER BY bucket""".stripMargin)) { (s, d) =>
      graft.operators.Quality.heapsGrowth(
          t(s, d, "documents"), "text", "doc_id", nBuckets = 10)
        .orderBy("bucket")
    },
    // Gini concentration of token mass: is the corpus's token
    // distribution near-uniform or winner-takes-all (all-integer
    // Lorenz/Gini over the vocabulary summary).
    Query("qq13_gini", Some(
      """WITH tok AS (SELECT unnest(str_split(text, ' ')) AS k FROM documents),
        |c AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY k),
        |r AS (SELECT k, cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt, k) AS BIGINT) AS i FROM c),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS total,
        |    CAST(SUM(i * cnt) AS BIGINT) AS rank_mass FROM r)
        |SELECT n_keys, total, rank_mass,
        |  ((2 * rank_mass - (n_keys + 1) * total) * 1000000)
        |    // GREATEST(1, n_keys * total) AS gini_ppm
        |FROM a""".stripMargin)) { (s, d) =>
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      graft.operators.Quality.giniConcentration(toks, "token")
    },
    // Frequent 3-step journeys: the top whole paths users walk
    // (stacked leads on the user partitioning, |types|^3-bounded count).
    Query("qa09_top_paths", Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |g AS (SELECT event_type AS t0,
        |    LEAD(event_type, 1) OVER w AS t1,
        |    LEAD(event_type, 2) OVER w AS t2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |p AS (SELECT t0 || '>' || t1 || '>' || t2 AS path FROM g
        |  WHERE t1 IS NOT NULL AND t2 IS NOT NULL),
        |c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY path),
        |r AS (SELECT path, n,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INT) AS rank
        |  FROM c)
        |SELECT path, n, rank FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.topPaths(
          t(s, d, "events"), pathLen = 3, topK = 20)
        .orderBy("rank")
    },
    // RFM lifecycle segmentation over purchases: per-user recency/
    // frequency/monetary quintiles + the 3-digit segment label.
    Query("qa10_rfm", Some(
      """WITH b AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events
        |  WHERE event_type = 'purchase'),
        |r AS (SELECT MAX(tus) AS ref_tus FROM b),
        |pu AS (SELECT user_id, CAST(MAX(tus) AS BIGINT) AS last_tus,
        |    CAST(COUNT(*) AS BIGINT) AS freq,
        |    SUM(CAST(value AS DECIMAL(30,2))) AS mon
        |  FROM b GROUP BY user_id),
        |qn AS (SELECT user_id, ref_tus - last_tus AS recency_us, freq,
        |    CAST(mon AS DOUBLE) AS monetary,
        |    NTILE(5) OVER (ORDER BY last_tus, user_id) AS r_q,
        |    NTILE(5) OVER (ORDER BY freq, user_id) AS f_q,
        |    NTILE(5) OVER (ORDER BY mon, user_id) AS m_q
        |  FROM pu CROSS JOIN r)
        |SELECT user_id, recency_us, freq, monetary, r_q, f_q, m_q,
        |  CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR)
        |    AS segment
        |FROM qn ORDER BY user_id""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.rfmSegments(t(s, d, "events"), "purchase")
        .orderBy("user_id")
    },
    // Integer Chebyshev outlier gate on per-key event volume: a third
    // of events collapse onto key 999 against a 7-key base, which must
    // flag as the one high-side outlier at every SF — no sqrt, every
    // digit engine-exact.
    Query("qq14_outliers", Some(
      """WITH keyed AS (SELECT CAST(CASE WHEN event_id % 3 = 0 THEN 999
        |    ELSE user_id % 7 END AS VARCHAR) AS key FROM events),
        |c AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM keyed GROUP BY key),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(cnt) AS BIGINT) AS sx,
        |    CAST(SUM(cnt * cnt) AS BIGINT) AS sxx FROM c)
        |SELECT key, cnt,
        |  CASE WHEN n_keys * cnt - sx > 0 THEN 'high' ELSE 'low' END AS side,
        |  CAST((n_keys * cnt - sx) * (n_keys * cnt - sx) AS BIGINT) AS lhs,
        |  CAST(4 * (n_keys * sxx - sx * sx) AS BIGINT) AS rhs, n_keys
        |FROM c CROSS JOIN m
        |WHERE (n_keys * cnt - sx) * (n_keys * cnt - sx)
        |  > 4 * (n_keys * sxx - sx * sx)
        |ORDER BY cnt DESC, key""".stripMargin)) { (s, d) =>
      val keyed = t(s, d, "events").select(
        when(col("event_id") % 3 === 0, 999L).otherwise(col("user_id") % 7)
          .as("uk"))
      graft.operators.Quality.populationOutliers(keyed, "uk", k = 2)
    },
    // Market-basket association rules over co-purchased parts: top-50
    // directed rules by support with integer confidence and lift.
    Query("qa11_assoc_rules", Some(
      """WITH bi0 AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem WHERE l_orderkey % 20 = 0),
        |sz AS (SELECT b FROM bi0 GROUP BY b HAVING COUNT(*) <= 100),
        |bi AS (SELECT bi0.b, bi0.i FROM bi0 JOIN sz USING (b)),
        |occ AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS occ FROM bi GROUP BY i),
        |nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM bi),
        |p AS (SELECT x.i AS ante, y.i AS cons, CAST(COUNT(*) AS BIGINT) AS support
        |  FROM bi x JOIN bi y ON x.b = y.b AND x.i <> y.i GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2),
        |sc AS (SELECT ante, cons, support, oa.occ AS occ_a, oc.occ AS occ_c,
        |    n_baskets,
        |    (support * 1000000) // oa.occ AS confidence_ppm,
        |    (support * n_baskets * 1000000) // (oa.occ * oc.occ) AS lift_ppm
        |  FROM p JOIN occ oa ON oa.i = p.ante JOIN occ oc ON oc.i = p.cons
        |  CROSS JOIN nb),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY support DESC,
        |    confidence_ppm DESC, ante, cons) AS INT) AS rank FROM sc)
        |SELECT ante, cons, support, occ_a, occ_c, n_baskets,
        |  confidence_ppm, lift_ppm, rank
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin)) { (s, d) =>
      val bi = t(s, d, "lineitem").filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      graft.operators.Graphs.associationRules(bi, "b", "i",
          minSupport = 2L, topK = 50)
        .orderBy("rank")
    },
    // CUSUM change-point per event type: where the hourly rate's most
    // sustained upward level shift ends (integer drawup, earliest tie).
    Query("qw04_changepoint", Some(
      """WITH c AS (SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS w,
        |    CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx FROM c GROUP BY event_type),
        |d AS (SELECT c.event_type, w, n, n * x - sx AS dev
        |  FROM c JOIN st USING (event_type)),
        |s AS (SELECT event_type, w, n,
        |    CAST(SUM(dev) OVER win AS BIGINT) AS s
        |  FROM d WINDOW win AS (PARTITION BY event_type ORDER BY w
        |    ROWS UNBOUNDED PRECEDING)),
        |du AS (SELECT event_type, w, n,
        |    s - MIN(s) OVER (PARTITION BY event_type ORDER BY w
        |      ROWS UNBOUNDED PRECEDING) AS drawup
        |  FROM s),
        |pk AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_windows,
        |    CAST(MAX(drawup) AS BIGINT) AS peak FROM du GROUP BY event_type)
        |SELECT du.event_type, pk.n_windows, pk.peak AS peak_drawup,
        |  CAST(MIN(du.w) AS BIGINT) AS w_at_peak_us
        |FROM du JOIN pk ON pk.event_type = du.event_type
        |  AND du.drawup = pk.peak
        |GROUP BY du.event_type, pk.n_windows, pk.peak
        |ORDER BY du.event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.changePoints(
          t(s, d, "events"), windowMinutes = 60)
        .orderBy("event_type")
    },
    // JSON schema drift: a synthetic v2 field rolls out at the id
    // midpoint and an experiment flag at the 80% mark — each must
    // surface as new keys in exactly those buckets.
    Query("qq15_schema_drift", Some(
      """WITH bd AS (SELECT MIN(event_id) AS lo, MAX(event_id) AS hi
        |  FROM events),
        |j AS (SELECT event_id,
        |    CASE WHEN event_id >= lo + (hi - lo + 1) * 4 // 5 THEN
        |      '{"uid": ' || CAST(user_id AS VARCHAR) || ', "k": 1, "exp_flag": true}'
        |    WHEN event_id >= lo + (hi - lo + 1) // 2 THEN
        |      '{"uid": ' || CAST(user_id AS VARCHAR) || ', "k": 1, "v2_field": "x"}'
        |    ELSE '{"uid": ' || CAST(user_id AS VARCHAR) || ', "k": 1}' END AS js,
        |    ((event_id - lo) * 10) // (hi - lo + 1) AS bucket
        |  FROM events CROSS JOIN bd),
        |rw AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM j GROUP BY bucket),
        |ks AS (SELECT key, MIN(bucket) AS bucket FROM (
        |    SELECT bucket, unnest(json_keys(js)) AS key FROM j) GROUP BY key),
        |fs AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_keys,
        |    string_agg(key, ',' ORDER BY key) AS first_keys
        |  FROM ks GROUP BY bucket),
        |jn AS (SELECT rw.bucket, n_rows, COALESCE(new_keys, 0) AS new_keys,
        |    COALESCE(first_keys, '') AS first_keys
        |  FROM rw LEFT JOIN fs ON fs.bucket = rw.bucket)
        |SELECT bucket, n_rows, new_keys, first_keys,
        |  CAST(SUM(new_keys) OVER (ORDER BY bucket) AS BIGINT) AS cum_keys
        |FROM jn ORDER BY bucket""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val b = broadcast(ev.agg(min("event_id").as("lo"),
        max("event_id").as("hi")))
      val js = ev.crossJoin(b).select(col("event_id"),
        when(expr("event_id >= lo + (hi - lo + 1) * 4 div 5"),
          format_string("{\"uid\": %d, \"k\": 1, \"exp_flag\": true}",
            col("user_id")))
        .when(expr("event_id >= lo + (hi - lo + 1) div 2"),
          format_string("{\"uid\": %d, \"k\": 1, \"v2_field\": \"x\"}",
            col("user_id")))
        .otherwise(format_string("{\"uid\": %d, \"k\": 1}", col("user_id")))
        .as("j"))
      graft.operators.Quality.schemaDrift(js, "j", "event_id", nBuckets = 10)
        .orderBy("bucket")
    },
    // Deterministic negative sampling: per customer, the 5 unseen
    // catalog-slice parts with the smallest md5(user_item) — the
    // contrastive-training negative set any engine redraws identically.
    Query("qx10_negative_samples", Some(
      """WITH inter AS (SELECT DISTINCT o_custkey AS uid, l_partkey AS item
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey % 10 = 0),
        |us AS (SELECT DISTINCT uid FROM inter),
        |cat AS (SELECT DISTINCT p_partkey AS item FROM part
        |  WHERE p_partkey % 100 = 0),
        |cand AS (SELECT us.uid, cat.item,
        |    md5(CAST(us.uid AS VARCHAR) || '_' || CAST(cat.item AS VARCHAR)) AS h
        |  FROM us CROSS JOIN cat
        |  WHERE NOT EXISTS (SELECT 1 FROM inter i
        |    WHERE i.uid = us.uid AND i.item = cat.item)),
        |r AS (SELECT uid, item, CAST(ROW_NUMBER() OVER (PARTITION BY uid
        |    ORDER BY h) AS INT) AS rank FROM cand)
        |SELECT uid AS user_id, item, rank FROM r WHERE rank <= 5
        |ORDER BY user_id, rank""".stripMargin)) { (s, d) =>
      val inter = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("it"))
        .filter(col("u") % 10 === 0)
      val catalog = t(s, d, "part").filter(col("p_partkey") % 100 === 0)
      graft.operators.Sketches.negativeSamples(inter, "u", "it",
          catalog, "p_partkey", k = 5)
        .orderBy("user_id", "rank")
    },
    // Integer least-squares trend per event type over daily buckets:
    // is each metric growing, and how fast (milli-events/day).
    Query("qw05_trend", Some(
      """WITH c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS x,
        |    CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM c GROUP BY event_type),
        |nd AS (SELECT event_type, n_windows,
        |    CAST(n_windows * sxy - sx * sy AS BIGINT) AS num,
        |    CAST(n_windows * sxx - sx * sx AS BIGINT) AS den FROM m)
        |SELECT event_type, n_windows, num, den,
        |  (num * 1000 - ((num * 1000 % GREATEST(1, den)) + GREATEST(1, den))
        |    % GREATEST(1, den)) // GREATEST(1, den) AS slope_milli
        |FROM nd ORDER BY event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.trendSlopes(
          t(s, d, "events"), windowMinutes = 1440)
        .orderBy("event_type")
    },
    // Gini-Simpson behavioral diversity per user: 0 = does one thing
    // (bot smell), higher = varied — the ln()-free entropy stand-in.
    Query("qa12_behavior_diversity", Some(
      """WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS nt
        |  FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(SUM(nt) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(nt * nt) AS BIGINT) AS ssq
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n_events, n_types,
        |  1000000 - (ssq * 1000000) // (n_events * n_events) AS simpson_ppm
        |FROM u ORDER BY user_id""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.behaviorDiversity(t(s, d, "events"))
        .orderBy("user_id")
    },
    // Two-sample KS distance between even docs and odd docs shifted
    // +200 chars: the exact CDF max-gap must see the injected shift.
    Query("qq16_ks_test", Some(
      """WITH a AS (SELECT n_chars AS v FROM documents
        |  WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        |b AS (SELECT n_chars + 200 AS v FROM documents
        |  WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS ca FROM a GROUP BY v),
        |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cb FROM b GROUP BY v),
        |mg AS (SELECT COALESCE(ca.v, cb.v) AS v, COALESCE(ca, 0) AS ca,
        |    COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b FROM mg),
        |cm AS (SELECT v, CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
        |    CAST(SUM(cb) OVER w AS BIGINT) AS cumb
        |  FROM mg WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |gp AS (SELECT v, ABS(cuma * n_b - cumb * n_a) AS gap
        |  FROM cm CROSS JOIN tt),
        |mx AS (SELECT MAX(gap) AS g FROM gp)
        |SELECT tt.n_a, tt.n_b,
        |  (mx.g * 1000000) // GREATEST(1, tt.n_a * tt.n_b) AS d_ppm,
        |  CAST(MIN(gp.v) AS BIGINT) AS at_value
        |FROM gp JOIN mx ON gp.gap = mx.g CROSS JOIN tt
        |GROUP BY tt.n_a, tt.n_b, mx.g""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.Quality.ksTest(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1)
          .select((col("n_chars") + 200).as("n_chars")),
        "n_chars")
    },
    // Cramér's V² between document language and source: the soft
    // association strength behind the hard FD audit.
    Query("qq17_cramers_v2", Some(
      """WITH cells AS (SELECT lang AS a, source AS b,
        |    CAST(COUNT(*) AS BIGINT) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY a),
        |ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY b),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
        |    CAST(COUNT(DISTINCT b) AS BIGINT) AS nc FROM cells),
        |grid AS (SELECT rt.a, ct.b, rt.rt, ct.ct FROM rt CROSS JOIN ct),
        |filled AS (SELECT grid.a, grid.b, COALESCE(cells.o, 0) AS o,
        |    grid.rt, grid.ct
        |  FROM grid LEFT JOIN cells ON cells.a = grid.a AND cells.b = grid.b),
        |con AS (SELECT ((d * d) // (rt * ct)) * 1000000 // n AS contrib,
        |    n, nr, nc FROM (
        |  SELECT o * n - rt * ct AS d, rt, ct, n, nr, nc
        |  FROM filled CROSS JOIN tot)),
        |agg AS (SELECT MAX(n) AS n, MAX(nr) AS n_rows_cat,
        |    MAX(nc) AS n_cols_cat,
        |    CAST(SUM(contrib) AS BIGINT) AS chi2_scaled FROM con)
        |SELECT n, n_rows_cat, n_cols_cat, chi2_scaled,
        |  chi2_scaled // GREATEST(1, n * (LEAST(n_rows_cat, n_cols_cat) - 1))
        |    AS v2_ppm
        |FROM agg""".stripMargin)) { (s, d) =>
      graft.operators.Quality.cramersV2(t(s, d, "documents"),
        "lang", "source")
    },
    // Log2-bucketed inter-arrival spectrum per event type: which
    // octaves the gaps live in (no float log — binary string length).
    Query("qa13_gap_histogram", Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |g AS (SELECT event_type,
        |    tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |      AS gap_us
        |  FROM e),
        |o AS (SELECT event_type,
        |    CASE WHEN gap_us <= 0 THEN 0
        |         ELSE CAST(len(bin(gap_us)) AS BIGINT) END AS octave
        |  FROM g WHERE gap_us IS NOT NULL),
        |c AS (SELECT event_type, octave, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM o GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot FROM c
        |  GROUP BY event_type)
        |SELECT c.event_type, octave, n, (n * 1000000) // tot AS pct_ppm
        |FROM c JOIN t ON t.event_type = c.event_type
        |ORDER BY c.event_type, octave""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.interArrivalHistogram(t(s, d, "events"))
        .orderBy("event_type", "octave")
    },
    // Equi-depth histogram of document length: deterministic-sample bin
    // edges (pass 1) + one corpus scan (pass 2) — skew-proof bins.
    Query("qq18_equidepth_hist", Some(
      """WITH smp AS (SELECT md5('sq_' || CAST(doc_id AS VARCHAR)) AS h,
        |    n_chars AS v
        |  FROM documents ORDER BY h LIMIT 256),
        |rk AS (SELECT v, h, ROW_NUMBER() OVER (ORDER BY v, h) AS rn,
        |    COUNT(*) OVER () AS n FROM smp),
        |qs AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |    AS q),
        |ed AS (SELECT CAST(v AS DOUBLE) AS e
        |  FROM rk JOIN qs ON rk.rn = GREATEST(1, CEIL(q * n))),
        |b AS (SELECT CAST(n_chars AS DOUBLE) AS v,
        |    (SELECT COUNT(*) FROM ed WHERE CAST(b0.n_chars AS DOUBLE) >= ed.e)
        |      AS bin
        |  FROM documents b0 WHERE n_chars IS NOT NULL)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, MIN(v) AS lo, MAX(v) AS hi
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin)) { (s, d) =>
      graft.operators.Quality.equiDepthHistogram(
          t(s, d, "documents"), "n_chars", "doc_id",
          nbins = 10, sampleK = 256)
        .orderBy("bin")
    },
    // KMV rollup by merge: per-(type, day) distinct-user summaries
    // merged up to per-type estimates — digit-identical to the
    // single-pass sketch, which IS the oracle (mergeability invariant).
    Query("qx11_kmv_rollup", Some(
      s"""WITH d AS (SELECT DISTINCT event_type AS grp,
        |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
        |r AS (SELECT grp, h,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM d),
        |kk AS (SELECT grp, ${hex52("h")} AS hi
        |  FROM r WHERE rn <= 64),
        |sk AS (SELECT grp, CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
        |    ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
        |      / CAST(MAX(hi) AS DOUBLE)
        |  END AS est_distinct
        |  FROM kk GROUP BY grp),
        |np AS (SELECT event_type AS grp,
        |    CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
        |      AS n_fine_parts
        |  FROM events GROUP BY event_type)
        |SELECT np.grp, n_fine_parts, est_distinct
        |FROM np JOIN sk ON sk.grp = np.grp ORDER BY np.grp""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
        .withColumn("day", expr("ts div 86400000000"))
      graft.operators.Sketches.kmvMergeRollup(ev, "user_id", "day",
          "event_type", k = 64)
        .orderBy("grp")
    },
    // Golden-record capstone: corrupted feed fuzzy-relinks to master
    // (D22), pairs close into clusters (D8), and the COMPLETEST copy
    // ships (D16 by name length, id tie-break) — entity resolution
    // end-to-end from public operators only.
    Query("qd67_golden_record", Some(
      """WITH RECURSIVE clean AS (SELECT c_custkey AS id_l, c_name AS name_l,
        |    right(c_name, 4) AS blk FROM customer),
        |dirty AS (SELECT c_custkey + 1000000 AS id_r,
        |    substring(c_name, 1, CAST(9 + c_custkey % 5 AS INT))
        |      || substring(c_name, CAST(11 + c_custkey % 5 AS INT)) AS name_r
        |  FROM customer),
        |dirty2 AS (SELECT id_r, name_r, right(name_r, 4) AS blk FROM dirty),
        |p AS (SELECT c.id_l, d.id_r,
        |    CAST(levenshtein(c.name_l, d.name_r) AS BIGINT) AS dist,
        |    greatest(length(c.name_l), length(d.name_r), 1) AS len
        |  FROM clean c JOIN dirty2 d ON d.blk = c.blk),
        |e AS (SELECT id_l AS a, id_r AS b FROM p
        |  WHERE (dist * 1000000) // len <= 100000),
        |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach AS (
        |  SELECT a, a AS b FROM (SELECT DISTINCT a FROM und)
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |comp AS (SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a),
        |sc AS (SELECT id_l AS id, CAST(length(name_l) AS INT) AS len FROM clean
        |  UNION ALL
        |  SELECT id_r, CAST(length(name_r) AS INT) FROM dirty),
        |j AS (SELECT comp.id, comp.comp, sc.len,
        |    ROW_NUMBER() OVER (PARTITION BY comp.comp
        |      ORDER BY sc.len DESC, comp.id) AS rk
        |  FROM comp JOIN sc ON sc.id = comp.id)
        |SELECT id, comp, len FROM j WHERE rk = 1 ORDER BY comp""".stripMargin)) { (s, d) =>
      val cust = t(s, d, "customer")
      val clean = cust.select(col("c_custkey").as("id_l"),
          col("c_name").as("name_l"))
        .withColumn("blk_l", expr("right(name_l, 4)"))
      val dirty = cust.select((col("c_custkey") + 1000000).as("id_r"),
          expr("concat(substring(c_name, 1, 9 + c_custkey % 5), " +
            "substring(c_name, 11 + c_custkey % 5))").as("name_r"))
        .withColumn("blk_r", expr("right(name_r, 4)"))
      val pairs = graft.operators.Dedup.fuzzyJoin(clean, dirty,
          "id_l", "name_l", "blk_l", "id_r", "name_r", "blk_r",
          maxDistPpm = 100000L)
        .select(col("id_l").as("id_a"), col("id_r").as("id_b"))
      val clusters = graft.operators.Dedup.duplicateClusters(pairs)
      val scores = clean.select(col("id_l").as("id"),
          length(col("name_l")).as("len"))
        .unionAll(dirty.select(col("id_r").as("id"),
          length(col("name_r")).as("len")))
      graft.operators.Dedup.keepBestPerCluster(clusters, scores, "id", "len")
        .filter(col("keep"))
        .select("id", "comp", "len")
        .orderBy("comp")
    },
    // Closeness/harmonic centrality of the 3 lowest-id co-purchase
    // parts: per-seed BFS, reached/sum-hops/integer harmonic.
    Query("qg13_closeness", Some(
      s"""WITH RECURSIVE ${orderPartsCte(50)},
        |edges AS (SELECT DISTINCT a.p AS pa, b.p AS pb
        |  FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),
        |und AS (SELECT pa AS a, pb AS b FROM edges
        |  UNION SELECT pb, pa FROM edges),
        |seeds AS (SELECT n FROM (SELECT DISTINCT a AS n FROM und)
        |  ORDER BY n LIMIT 3),
        |walk(seed, n, dist) AS (
        |  SELECT n, n, 0 FROM seeds
        |  UNION
        |  SELECT w.seed, u.b, w.dist + 1 FROM walk w JOIN und u ON u.a = w.n
        |  WHERE w.dist < 6),
        |md AS (SELECT seed, n, MIN(dist) AS dist FROM walk GROUP BY seed, n)
        |SELECT seed, CAST(COUNT(*) AS BIGINT) AS reached,
        |  CAST(SUM(dist) AS BIGINT) AS sum_hops,
        |  CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_scaled
        |FROM md WHERE dist > 0 GROUP BY seed ORDER BY seed""".stripMargin)) { (s, d) =>
      // materialized once (r11 opt): the seed gather + 3 per-seed BFS
      // runs each re-executed the lineitem scan + self-join (4x total)
      val edges = coPurchaseEdges(orderParts(s, d, 50))
        .localCheckpoint()
      val seeds = graft.streaming.Replay.bounded(
          edges.select(col("pa").as("n"))
            .unionAll(edges.select(col("pb").as("n")))
            .distinct().orderBy("n").limit(3), max = 3)
        .map(_.getLong(0)).toSeq
      graft.operators.Graphs.closenessFromSeeds(edges, "pa", "pb", seeds,
          maxHops = 6)
        .orderBy("seed")
    },
    // Funnel timing: signup -> first purchase latency distribution as
    // exact interpolated percentiles (the qp04 cross-engine parity).
    Query("qa14_conversion_latency", Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |f AS (SELECT user_id, MIN(tus) AS s FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |l AS (SELECT e.user_id, MIN(e.tus) - MIN(f.s) AS latency_us
        |  FROM e JOIN f ON f.user_id = e.user_id AND e.tus >= f.s
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |  quantile_cont(latency_us, 0.25) AS p25_us,
        |  quantile_cont(latency_us, 0.5) AS p50_us,
        |  quantile_cont(latency_us, 0.75) AS p75_us,
        |  quantile_cont(latency_us, 0.9) AS p90_us,
        |  CAST(MAX(latency_us) AS BIGINT) AS max_us
        |FROM l""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.conversionLatency(
        t(s, d, "events"), "signup", "purchase")
    },
    // Weekday seasonality per event type: pure epoch arithmetic dow,
    // share vs the uniform 1/7.
    Query("qw06_weekday_profile", Some(
      """WITH c AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot FROM c
        |  GROUP BY event_type)
        |SELECT c.event_type, dow, n, (n * 1000000) // tot AS share_ppm,
        |  ABS((n * 1000000) // tot - 142857) AS dev_ppm
        |FROM c JOIN t ON t.event_type = c.event_type
        |ORDER BY c.event_type, dow""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.weekdayProfile(t(s, d, "events"))
        .orderBy("event_type", "dow")
    },
    // Id-space continuity audit of a filtered partition: bucketed
    // two-level gap scan (no global-sort window).
    Query("qq19_seq_gaps", Some(
      """WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderstatus = 'F'),
        |g AS (SELECT k, k - lag(k) OVER (ORDER BY k) - 1 AS gap FROM k)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(MIN(k) AS BIGINT) AS min_key,
        |  CAST(MAX(k) AS BIGINT) AS max_key,
        |  CAST(MAX(k) - MIN(k) + 1 - COUNT(*) AS BIGINT) AS missing,
        |  COALESCE(CAST(SUM(CASE WHEN gap > 0 THEN 1 END) AS BIGINT), 0) AS n_gaps,
        |  CAST(COALESCE(MAX(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT) AS max_gap
        |FROM g""".stripMargin)) { (s, d) =>
      graft.operators.Quality.sequenceGaps(
        t(s, d, "orders").filter(col("o_orderstatus") === "F"),
        "o_orderkey", bucketSize = 512)
    },
    // Pairwise Pearson r² (ppm) over integer-scaled lineitem features:
    // one moment pass, pairs unrolled via inline.
    Query("qq20_corr_matrix", Some(
      s"""WITH f AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS q,
        |    CAST(FLOOR(l_extendedprice / 10) AS BIGINT) AS p,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
        |    CAST(ROUND(l_tax * 100) AS BIGINT) AS t
        |  FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(q) AS DOUBLE) AS sq, CAST(SUM(p) AS DOUBLE) AS sp,
        |    CAST(SUM(d) AS DOUBLE) AS sd, CAST(SUM(t) AS DOUBLE) AS st,
        |    CAST(SUM(q*q) AS DOUBLE) AS sqq, CAST(SUM(p*p) AS DOUBLE) AS spp,
        |    CAST(SUM(d*d) AS DOUBLE) AS sdd, CAST(SUM(t*t) AS DOUBLE) AS stt,
        |    CAST(SUM(q*p) AS DOUBLE) AS sqp, CAST(SUM(q*d) AS DOUBLE) AS sqd,
        |    CAST(SUM(q*t) AS DOUBLE) AS sqt, CAST(SUM(p*d) AS DOUBLE) AS spd,
        |    CAST(SUM(p*t) AS DOUBLE) AS spt, CAST(SUM(d*t) AS DOUBLE) AS sdt
        |  FROM f),
        |pairs AS (
        |  SELECT 'qty' AS col_a, 'price10' AS col_b, nb AS n,
        |    n*sqp - sq*sp AS cov, (n*sqq - sq*sq) * (n*spp - sp*sp) AS vv FROM m
        |  UNION ALL SELECT 'qty', 'disc100', nb,
        |    n*sqd - sq*sd, (n*sqq - sq*sq) * (n*sdd - sd*sd) FROM m
        |  UNION ALL SELECT 'qty', 'tax100', nb,
        |    n*sqt - sq*st, (n*sqq - sq*sq) * (n*stt - st*st) FROM m
        |  UNION ALL SELECT 'price10', 'disc100', nb,
        |    n*spd - sp*sd, (n*spp - sp*sp) * (n*sdd - sd*sd) FROM m
        |  UNION ALL SELECT 'price10', 'tax100', nb,
        |    n*spt - sp*st, (n*spp - sp*sp) * (n*stt - st*st) FROM m
        |  UNION ALL SELECT 'disc100', 'tax100', nb,
        |    n*sdt - sd*st, (n*sdd - sd*sd) * (n*stt - st*st) FROM m)
        |$corrPairsSelect""".stripMargin)) { (s, d) =>
      graft.operators.Quality.corrMatrix(t(s, d, "lineitem"), Seq(
          "qty" -> col("l_quantity"),
          "price10" -> floor(col("l_extendedprice") / 10),
          "disc100" -> round(col("l_discount") * 100),
          "tax100" -> round(col("l_tax") * 100)))
        .orderBy("col_a", "col_b")
    },
    // Leakage-safe point-in-time training features: one cumulative
    // window per user, strictly-earlier frame.
    Query("qr03_pit_features", Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |w AS (SELECT event_id, user_id, tus, event_type,
        |    COALESCE(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER pw AS BIGINT), 0) AS prior_views,
        |    COALESCE(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER pw AS BIGINT), 0) AS prior_clicks,
        |    COALESCE(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      OVER pw AS BIGINT), 0) AS prior_errors,
        |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER pw AS BIGINT), 0) AS prior_purchases,
        |    COALESCE(tus - MAX(tus) OVER pw, -1) AS us_since_prev
        |  FROM e
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, tus AS ts_us, prior_views, prior_clicks,
        |  prior_errors, prior_purchases, us_since_prev
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.pitFeatures(t(s, d, "events"))
        .orderBy("event_id")
    },
    // Signup-cohort LTV curves by week offset, decimal-exact revenue.
    Query("qa15_ltv_cohorts", Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
        |    event_type, value FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_week FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT c.cohort_week, e.wk - c.cohort_week AS week_offset,
        |    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_buyers,
        |    SUM(CAST(value AS DECIMAL(30,4))) AS rev_dec
        |  FROM e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_buyers,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(SUM(rev_dec) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS cum_revenue
        |FROM p ORDER BY cohort_week, week_offset""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.ltvCohorts(t(s, d, "events"))
        .orderBy("cohort_week", "week_offset")
    },
    // Power-user curve: distinct active days per user -> histogram.
    Query("qa16_activity_curve", Some(
      """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS days_active FROM d
        |  GROUP BY user_id)
        |SELECT days_active, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM u GROUP BY days_active ORDER BY days_active""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.activityHistogram(t(s, d, "events"))
        .orderBy("days_active")
    },
    // Item-item CF "also bought" table: basket-capped co-occurrence,
    // cosine^2-ppm on counts, top-3 per item.
    Query("qg14_item_cf", Some(
      s"""WITH ${orderPartsCte(20, "bi")},
        |sz AS (SELECT o, COUNT(*) AS bs FROM bi GROUP BY o),
        |bd AS (SELECT bi.o, bi.p FROM bi JOIN sz ON sz.o = bi.o AND sz.bs <= 16),
        |fr AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM bd GROUP BY p),
        |pr AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM bd a JOIN bd b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |sym AS (SELECT pa AS item, pb AS rec, c_ab FROM pr
        |  UNION ALL SELECT pb, pa, c_ab FROM pr),
        |sc AS (SELECT s.item, s.rec, s.c_ab,
        |    (s.c_ab * s.c_ab * 1000000) // (fa.c * fb.c) AS score_ppm
        |  FROM sym s JOIN fr fa ON fa.p = s.item JOIN fr fb ON fb.p = s.rec),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
        |    ORDER BY score_ppm DESC, c_ab DESC, rec) AS rank FROM sc)
        |SELECT item, rec, c_ab, score_ppm, rank FROM rk WHERE rank <= 3
        |ORDER BY item, rank""".stripMargin)) { (s, d) =>
      val baskets = t(s, d, "lineitem").filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      graft.operators.Graphs.itemCf(baskets, "o", "p", k = 3, maxBasket = 16)
        .orderBy("item", "rank")
    },
    // Bloom filter FPR calibration: members = parts seen on F-status
    // orders; probes = the complement of the part id space.
    Query("qx12_bloom_fpr", Some(
      s"""WITH seen AS (SELECT DISTINCT l.l_partkey AS pk FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |    AND o.o_orderstatus = 'F'),
        |probes AS (SELECT p_partkey AS pk FROM part
        |  WHERE p_partkey NOT IN (SELECT pk FROM seen)),
        |mb AS (SELECT DISTINCT i,
        |    ${hex52("md5('bf' || i || '_' || CAST(pk AS VARCHAR))")} % 1024 AS b
        |  FROM seen CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)),
        |pb AS (SELECT pk, i,
        |    ${hex52("md5('bf' || i || '_' || CAST(pk AS VARCHAR))")} % 1024 AS b
        |  FROM probes CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)),
        |fp AS (SELECT pb.pk FROM pb JOIN mb ON mb.i = pb.i AND mb.b = pb.b
        |  GROUP BY pb.pk HAVING COUNT(*) = 3)
        |SELECT CAST(1024 AS BIGINT) AS m, CAST(3 AS BIGINT) AS k,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM seen) AS n_members,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM mb) AS n_set_bits,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n_false_pos,
        |  ((SELECT CAST(COUNT(*) AS BIGINT) FROM fp) * 1000000)
        |    // GREATEST(1, (SELECT COUNT(*) FROM probes)) AS fpr_ppm""".stripMargin)) { (s, d) =>
      val seen = t(s, d, "lineitem")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"))
        .select(col("l_partkey").as("pk"))
      val probes = t(s, d, "part").select(col("p_partkey").as("pk"))
        .join(seen, Seq("pk"), "left_anti")
      graft.operators.Sketches.bloomFpr(seen, probes, "pk", m = 1024, k = 3)
    },
    // Event-time disorder audit (watermark sizing): arrival order =
    // event_id, lateness vs the per-user running max event time.
    Query("qs13_disorder_audit", Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |l AS (SELECT event_type,
        |    GREATEST(COALESCE(MAX(tus) OVER (PARTITION BY user_id
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - tus, 0), 0)
        |      AS late_us
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  COALESCE(CAST(SUM(CASE WHEN late_us > 0 THEN 1 END) AS BIGINT), 0)
        |    AS n_late,
        |  (COALESCE(CAST(SUM(CASE WHEN late_us > 0 THEN 1 END) AS BIGINT), 0)
        |    * 1000000) // COUNT(*) AS late_ppm,
        |  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
        |  CAST(SUM(late_us) AS BIGINT) AS sum_late_us
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.disorderAudit(t(s, d, "events"))
        .orderBy("event_type")
    },
    // Weekday-adjusted daily volume anomalies: >10% off the type's own
    // dow baseline, pure integer epoch arithmetic.
    Query("qw07_seasonal_anomaly", Some(
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, (day + 3) % 7 AS dow FROM daily),
        |b AS (SELECT event_type, dow, CAST(SUM(n) AS BIGINT) AS base_num,
        |    CAST(COUNT(*) AS BIGINT) AS base_den FROM d2 GROUP BY 1, 2)
        |SELECT d2.event_type, day, d2.dow, n, base_num, base_den,
        |  ABS((n * base_den * 1000000) // base_num - 1000000) AS dev_ppm
        |FROM d2 JOIN b ON b.event_type = d2.event_type AND b.dow = d2.dow
        |WHERE ABS((n * base_den * 1000000) // base_num - 1000000) > 100000
        |ORDER BY d2.event_type, day""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.seasonalAnomaly(
          t(s, d, "events"), thresholdPpm = 100000L)
        .orderBy("event_type", "day")
    },
    // Heavy-user frequency cap: deterministic md5-rank downsampling,
    // per-type attrition report.
    Query("qx13_freq_capped_sample", Some(
      """WITH r AS (SELECT event_id, user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY md5('fc_' || CAST(event_id AS VARCHAR)), event_id) AS rk
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_before,
        |  COALESCE(CAST(SUM(CASE WHEN rk <= 40 THEN 1 END) AS BIGINT), 0)
        |    AS n_after,
        |  (COALESCE(CAST(SUM(CASE WHEN rk <= 40 THEN 1 END) AS BIGINT), 0)
        |    * 1000000) // COUNT(*) AS kept_ppm
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.freqCappedSample(t(s, d, "events"), cap = 40)
        .orderBy("event_type")
    },
    // Candidate-key discovery over orders: uniqueness ppm per combo.
    Query("qq21_key_candidates", Some(
      """WITH c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM orders
        |    GROUP BY o_orderkey),
        |c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM orders
        |    GROUP BY o_custkey),
        |c3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM orders
        |    GROUP BY o_orderdate),
        |c4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM orders
        |    GROUP BY o_custkey, o_orderdate),
        |u AS (
        |  SELECT 'o_orderkey' AS candidate, CAST(SUM(nr) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups FROM c1
        |  UNION ALL SELECT 'o_custkey', CAST(SUM(nr) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM c2
        |  UNION ALL SELECT 'o_orderdate', CAST(SUM(nr) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM c3
        |  UNION ALL SELECT 'o_custkey,o_orderdate', CAST(SUM(nr) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) FROM c4)
        |SELECT candidate, n_rows, n_groups, n_rows - n_groups AS dup_rows,
        |  (n_groups * 1000000) // n_rows AS unique_ppm,
        |  CASE WHEN n_rows = n_groups THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS is_key
        |FROM u ORDER BY candidate""".stripMargin)) { (s, d) =>
      graft.operators.Quality.keyCandidates(t(s, d, "orders"), Seq(
          Seq("o_orderkey"), Seq("o_custkey"), Seq("o_orderdate"),
          Seq("o_custkey", "o_orderdate")))
        .orderBy("candidate")
    },
    // Alert debouncing: consecutive anomalous days coalesce into
    // episodes (gaps-and-islands).
    // Order-independent content checksum per status: xor + mod-sum of
    // 52-bit row hashes over integer-stable renderings — the two-sided
    // migration fingerprint.
    Query("qq28_content_checksum", Some(
      s"""WITH r AS (SELECT o_orderstatus AS grp,
        |    md5(CAST(o_orderkey AS VARCHAR) || '|'
        |      || CAST(o_custkey AS VARCHAR) || '|'
        |      || CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |           AS VARCHAR)) AS h
        |  FROM orders),
        |hi AS (SELECT grp,
        |    ${hex52("h")} AS hv
        |  FROM r)
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(hv) AS BIGINT) AS xor_hash,
        |  CAST(SUM(hv % 1000003) AS BIGINT) AS sum_mod
        |FROM hi GROUP BY grp ORDER BY grp""".stripMargin)) { (s, d) =>
      graft.operators.Quality.contentChecksum(t(s, d, "orders"),
          "o_orderstatus",
          Seq(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long")))
        .orderBy("grp")
    },
    // SRE error-budget burn: trailing 1h/6h error-rate ppm over hourly
    // buckets (RANGE frames — silent hours count as elapsed time), page
    // when both windows exceed budget.
    Query("qw11_burn_rate", Some(
      """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS tot,
        |    COALESCE(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 END)
        |      AS BIGINT), 0) AS err
        |  FROM events GROUP BY 1),
        |w AS (SELECT hr,
        |    CAST(SUM(err) OVER (ORDER BY hr
        |      RANGE BETWEEN 0 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS err_short,
        |    CAST(SUM(tot) OVER (ORDER BY hr
        |      RANGE BETWEEN 0 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS tot_short,
        |    CAST(SUM(err) OVER (ORDER BY hr
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS err_long,
        |    CAST(SUM(tot) OVER (ORDER BY hr
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS tot_long
        |  FROM h)
        |SELECT hr, err_short, tot_short, err_long, tot_long,
        |  (err_short * 1000000) // GREATEST(1, tot_short) AS short_ppm,
        |  (err_long * 1000000) // GREATEST(1, tot_long) AS long_ppm,
        |  CAST(CASE WHEN (err_short * 1000000) // GREATEST(1, tot_short)
        |      > 100000
        |    AND (err_long * 1000000) // GREATEST(1, tot_long) > 50000
        |    THEN 1 ELSE 0 END AS BIGINT) AS page
        |FROM w ORDER BY hr""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.burnRate(t(s, d, "events"))
        .orderBy("hr")
    },
    // Growth-accounting grid: weekly new/retained/resurrected/churned
    // decomposition — the canonical growth dashboard, exact integers.
    Query("qa23_growth_accounting", Some(
      """WITH uw AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) // 86400000000) // 7 AS wk FROM events),
        |mx AS (SELECT MAX(wk) AS last_wk FROM uw),
        |f AS (SELECT user_id, wk,
        |    MIN(wk) OVER (PARTITION BY user_id ORDER BY wk
        |      ROWS UNBOUNDED PRECEDING) AS first_wk,
        |    LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
        |    LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
        |  FROM uw)
        |SELECT wk, CAST(COUNT(*) AS BIGINT) AS n_active,
        |  COALESCE(CAST(SUM(CASE WHEN wk = first_wk THEN 1 END)
        |    AS BIGINT), 0) AS n_new,
        |  COALESCE(CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 END)
        |    AS BIGINT), 0) AS n_retained,
        |  COALESCE(CAST(SUM(CASE WHEN prev_wk IS NOT NULL
        |      AND prev_wk < wk - 1 THEN 1 END) AS BIGINT), 0)
        |    AS n_resurrected,
        |  COALESCE(CAST(SUM(CASE WHEN wk < (SELECT last_wk FROM mx)
        |      AND (next_wk IS NULL OR next_wk > wk + 1) THEN 1 END)
        |    AS BIGINT), 0) AS n_churned_next
        |FROM f GROUP BY wk ORDER BY wk""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.growthAccounting(t(s, d, "events"))
        .orderBy("wk")
    },
    // Zero-traffic outage scan: gaps of silent minutes in the event
    // stream — the missing-data windows qw08's episode debouncer can't
    // see (it debounces alerts; this finds the silence).
    Query("qw10_outage_scan", Some(
      """WITH mins AS (SELECT DISTINCT epoch_us(ts) // 60000000 AS m
        |  FROM events),
        |l AS (SELECT m, LAG(m) OVER (ORDER BY m) AS prev FROM mins)
        |SELECT prev + 1 AS gap_start_min, m - 1 AS gap_end_min,
        |  m - prev - 1 AS missing_minutes
        |FROM l WHERE prev IS NOT NULL AND m - prev > 1
        |ORDER BY gap_start_min""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.outageScan(t(s, d, "events"),
          minMissing = 1)
        .orderBy("gap_start_min")
    },
    Query("qw08_alert_episodes", Some(
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, (day + 3) % 7 AS dow FROM daily),
        |b AS (SELECT event_type, dow, CAST(SUM(n) AS BIGINT) AS base_num,
        |    CAST(COUNT(*) AS BIGINT) AS base_den FROM d2 GROUP BY 1, 2),
        |fl AS (SELECT d2.event_type, day,
        |    ABS((n * base_den * 1000000) // base_num - 1000000) AS dev_ppm
        |  FROM d2 JOIN b ON b.event_type = d2.event_type AND b.dow = d2.dow
        |  WHERE ABS((n * base_den * 1000000) // base_num - 1000000) > 100000),
        |isl AS (SELECT event_type, day, dev_ppm,
        |    day - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS island
        |  FROM fl)
        |SELECT event_type, CAST(MIN(day) AS BIGINT) AS start_day,
        |  CAST(MAX(day) AS BIGINT) AS end_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MAX(dev_ppm) AS BIGINT) AS peak_dev_ppm
        |FROM isl GROUP BY event_type, island
        |ORDER BY event_type, start_day""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.alertEpisodes(
          t(s, d, "events"), thresholdPpm = 100000L)
        .orderBy("event_type", "start_day")
    },
    // Quantity-weighted median price per return flag: integer cumulative
    // weights over the collapsed distinct-value list.
    Query("qp05_weighted_median", Some(
      """WITH b AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT g, v, w,
        |    CAST(SUM(w) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cumw,
        |    CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS total FROM b)
        |SELECT g AS l_returnflag, MIN(v) AS median_price,
        |  CAST(MAX(total) AS BIGINT) AS total_w
        |FROM c WHERE cumw * 1000000 >= 500000 * total
        |GROUP BY g ORDER BY g""".stripMargin)) { (s, d) =>
      graft.operators.Quality.weightedPercentile(t(s, d, "lineitem"),
          "l_extendedprice", "l_quantity", Seq("l_returnflag"))
        .select(col("l_returnflag"), col("wpct").as("median_price"),
          col("total_w"))
        .orderBy("l_returnflag")
    },
    // Freshness/staleness SLA audit per event type.
    Query("qq22_freshness_lag", Some(
      """WITH p AS (SELECT event_type,
        |    CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
        |    CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type),
        |g AS (SELECT CAST(MAX(last_us) AS BIGINT) AS gmax FROM p)
        |SELECT event_type, first_us, last_us,
        |  last_us - first_us AS span_us, gmax - last_us AS lag_us, n
        |FROM p, g ORDER BY event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.freshnessLag(t(s, d, "events"))
        .orderBy("event_type")
    },
    // Smoothed target encoding of order priority vs F-status rate.
    Query("qa17_target_encoding", Some(
      """WITH per AS (SELECT o_orderpriority AS category,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END)
        |      AS BIGINT), 0) AS n_pos
        |  FROM orders GROUP BY 1),
        |pr AS (SELECT (CAST(SUM(n_pos) AS BIGINT) * 1000000)
        |    // CAST(SUM(n) AS BIGINT) AS prior_ppm FROM per)
        |SELECT category, n, n_pos, prior_ppm,
        |  (n_pos * 1000000 + 10 * prior_ppm) // (n + 10) AS enc_ppm
        |FROM per, pr ORDER BY category""".stripMargin)) { (s, d) =>
      graft.operators.Quality.targetEncode(t(s, d, "orders"),
          "o_orderpriority", col("o_orderstatus") === "F", alpha = 10L)
        .orderBy("category")
    },
    // Deterministic edge-sample fidelity: degree-octave histogram of the
    // co-purchase graph, full vs md5-kept half.
    Query("qg15_edge_sample_audit", Some(
      s"""WITH ${orderPartsCte(50)},
        |edges AS (SELECT DISTINCT LEAST(a.p, b.p) AS u,
        |    GREATEST(a.p, b.p) AS v
        |  FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
        |  WHERE a.p <> b.p),
        |samp AS (SELECT u, v FROM edges
        |  WHERE ${hex52("md5('es_' || CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR))")} % 1000000
        |    < 500000),
        |df AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY n),
        |ds AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM
        |  (SELECT u AS n FROM samp UNION ALL SELECT v FROM samp)
        |  GROUP BY n),
        |hf AS (SELECT CAST(len(bin(d)) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS nodes_full FROM df GROUP BY 1),
        |hs AS (SELECT CAST(len(bin(d)) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS nodes_sample FROM ds GROUP BY 1)
        |SELECT COALESCE(hf.bucket, hs.bucket) AS bucket,
        |  COALESCE(nodes_full, 0) AS nodes_full,
        |  COALESCE(nodes_sample, 0) AS nodes_sample
        |FROM hf FULL OUTER JOIN hs ON hs.bucket = hf.bucket
        |ORDER BY bucket""".stripMargin)) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.edgeSampleAudit(edges, "pa", "pb",
          keepPpm = 500000L)
        .orderBy("bucket")
    },
    // Benjamini-Hochberg FDR gate over the event-type metric panel:
    // which per-user reach deltas between the qa18 arms survive
    // multiple-testing control? (Chebyshev p-proxy, step-up rule.)
    Query("qa27_fdr_gate", Some(
      s"""WITH armed AS (SELECT user_id, event_type,
        |    ($abArmSql) AS arm
        |  FROM events),
        |tot AS (SELECT
        |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM (SELECT DISTINCT user_id, arm FROM armed)),
        |x AS (SELECT metric,
        |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS xa,
        |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS xb
        |  FROM (SELECT DISTINCT event_type AS metric, user_id, arm
        |        FROM armed)
        |  GROUP BY 1),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM x),
        |scored AS (SELECT metric, na, nb, xa, xb, m,
        |    CASE WHEN na = 0 OR nb = 0 OR (xa + xb) = 0
        |        OR (xa + xb) = (na + nb) OR (xa * nb - xb * na) = 0
        |      THEN CAST(1000000 AS BIGINT)
        |      ELSE CAST(FLOOR(LEAST(1000000.0,
        |        (1000000.0 * (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |          * CAST(xa + xb AS DOUBLE)
        |          * CAST(na + nb - xa - xb AS DOUBLE))
        |        / (CAST(na + nb AS DOUBLE)
        |          * CAST(xa * nb - xb * na AS DOUBLE)
        |          * CAST(xa * nb - xb * na AS DOUBLE)))) AS BIGINT)
        |    END AS p_ppm
        |  FROM x, tot, mm),
        |ranked AS (SELECT *,
        |    ROW_NUMBER() OVER (ORDER BY p_ppm, metric) AS rnk FROM scored),
        |ks AS (SELECT COALESCE(MAX(rnk), 0) AS kstar FROM ranked
        |  WHERE p_ppm * m <= 50000 * rnk)
        |SELECT metric, na AS n_a, nb AS n_b, xa AS x_a, xb AS x_b,
        |  p_ppm, rnk, (rnk <= ks.kstar) AS discovery
        |FROM ranked, ks ORDER BY rnk""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.fdrGate(t(s, d, "events"),
        alphaPpm = 50000L)
    },
    // Is traffic periodic? Hourly-volume autocorrelation at lags
    // 1/24/168 over the DENSIFIED series (silent hours are zeros).
    Query("qa30_autocorrelation", Some(
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hc),
        |dense AS (SELECT t.h, COALESCE(hc.c, CAST(0 AS BIGINT)) AS c
        |  FROM (SELECT UNNEST(generate_series((SELECT lo FROM b),
        |    (SELECT hi FROM b))) AS h) t
        |  LEFT JOIN hc ON hc.h = t.h),
        |lg AS (SELECT c,
        |    LAG(c, 1) OVER (ORDER BY h) AS x1,
        |    LAG(c, 24) OVER (ORDER BY h) AS x24,
        |    LAG(c, 168) OVER (ORDER BY h) AS x168
        |  FROM dense),
        |m AS (SELECT
        |    CAST(COUNT(x1) AS BIGINT) AS n1b,
        |    CAST(COUNT(x1) AS DOUBLE) AS n1,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL THEN c END) AS DOUBLE) AS sy1,
        |    CAST(SUM(x1) AS DOUBLE) AS sx1,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL THEN c * c END) AS DOUBLE) AS syy1,
        |    CAST(SUM(x1 * x1) AS DOUBLE) AS sxx1,
        |    CAST(SUM(c * x1) AS DOUBLE) AS sxy1,
        |    CAST(COUNT(x24) AS BIGINT) AS n24b,
        |    CAST(COUNT(x24) AS DOUBLE) AS n24,
        |    CAST(SUM(CASE WHEN x24 IS NOT NULL THEN c END) AS DOUBLE) AS sy24,
        |    CAST(SUM(x24) AS DOUBLE) AS sx24,
        |    CAST(SUM(CASE WHEN x24 IS NOT NULL THEN c * c END) AS DOUBLE) AS syy24,
        |    CAST(SUM(x24 * x24) AS DOUBLE) AS sxx24,
        |    CAST(SUM(c * x24) AS DOUBLE) AS sxy24,
        |    CAST(COUNT(x168) AS BIGINT) AS n168b,
        |    CAST(COUNT(x168) AS DOUBLE) AS n168,
        |    CAST(SUM(CASE WHEN x168 IS NOT NULL THEN c END) AS DOUBLE) AS sy168,
        |    CAST(SUM(x168) AS DOUBLE) AS sx168,
        |    CAST(SUM(CASE WHEN x168 IS NOT NULL THEN c * c END) AS DOUBLE) AS syy168,
        |    CAST(SUM(x168 * x168) AS DOUBLE) AS sxx168,
        |    CAST(SUM(c * x168) AS DOUBLE) AS sxy168
        |  FROM lg),
        |pairs AS (
        |  SELECT CAST(1 AS BIGINT) AS lag_hours, n1b AS n_pairs,
        |    n1 * sxy1 - sx1 * sy1 AS cov,
        |    (n1 * sxx1 - sx1 * sx1) * (n1 * syy1 - sy1 * sy1) AS vv FROM m
        |  UNION ALL SELECT CAST(24 AS BIGINT), n24b,
        |    n24 * sxy24 - sx24 * sy24,
        |    (n24 * sxx24 - sx24 * sx24) * (n24 * syy24 - sy24 * sy24) FROM m
        |  UNION ALL SELECT CAST(168 AS BIGINT), n168b,
        |    n168 * sxy168 - sx168 * sy168,
        |    (n168 * sxx168 - sx168 * sx168) * (n168 * syy168 - sy168 * sy168)
        |    FROM m)
        |SELECT lag_hours, n_pairs,
        |  CASE WHEN vv = 0 THEN NULL
        |    ELSE CAST(FLOOR(cov * cov / vv * 1000000.0) AS BIGINT)
        |  END AS r2_ppm,
        |  CAST(SIGN(cov) AS BIGINT) AS sgn
        |FROM pairs ORDER BY lag_hours""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.autocorrelation(t(s, d, "events"))
    },
    // Trustworthy ratio-metric readout (KDD'18 delta method): CI for
    // revenue-per-event per md5 arm — the variance the naive per-user
    // t-interval gets wrong for ratios of sums.
    Query("qa31_ratio_metric", Some(
      s"""WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(30,6)) * 1000000 AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS yu,
        |    CAST(COUNT(*) AS BIGINT) AS nu
        |  FROM events GROUP BY 1),
        |a AS (SELECT CASE WHEN $abArmSql THEN 'A' ELSE 'B' END AS arm, yu, nu FROM u),
        |g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(yu) AS BIGINT) AS sy, CAST(SUM(nu) AS BIGINT) AS sn,
        |    SUM(CAST(yu AS HUGEINT) * yu) AS syy,
        |    SUM(CAST(nu AS HUGEINT) * nu) AS snn,
        |    SUM(CAST(yu AS HUGEINT) * nu) AS syn
        |  FROM a GROUP BY 1),
        |f AS (SELECT arm, k, sy, sn,
        |    CAST(FLOOR(sqrt(GREATEST(0.0,
        |      ((CAST(syy AS DOUBLE) / k
        |          - (CAST(sy AS DOUBLE) / k) * (CAST(sy AS DOUBLE) / k))
        |        - 2.0 * (CAST(sy AS DOUBLE) / CAST(sn AS DOUBLE))
        |          * (CAST(syn AS DOUBLE) / k
        |            - (CAST(sy AS DOUBLE) / k) * (CAST(sn AS DOUBLE) / k))
        |        + (CAST(sy AS DOUBLE) / CAST(sn AS DOUBLE))
        |          * (CAST(sy AS DOUBLE) / CAST(sn AS DOUBLE))
        |          * (CAST(snn AS DOUBLE) / k
        |            - (CAST(sn AS DOUBLE) / k) * (CAST(sn AS DOUBLE) / k)))
        |      / (CAST(k AS DOUBLE)
        |        * (CAST(sn AS DOUBLE) / k) * (CAST(sn AS DOUBLE) / k))))
        |    ) AS BIGINT) AS se_ppm
        |  FROM g)
        |SELECT arm, k AS k_users, sy AS sum_y_micros, sn AS sum_n,
        |  sy // GREATEST(sn, 1) AS ratio_ppm, se_ppm,
        |  sy // GREATEST(sn, 1)
        |    - CAST(CEIL(CAST(1.96 AS DOUBLE) * se_ppm) AS BIGINT)
        |    AS ci_lo_ppm,
        |  sy // GREATEST(sn, 1)
        |    + CAST(CEIL(CAST(1.96 AS DOUBLE) * se_ppm) AS BIGINT)
        |    AS ci_hi_ppm
        |FROM f ORDER BY arm""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.ratioMetricCi(t(s, d, "events"))
    },
    // Experiment-design readout: per metric, the smallest absolute rate
    // delta detectable at alpha=5%/power=80% with the qa18 arms.
    Query("qa28_power", Some(
      s"""WITH armed AS (SELECT user_id, event_type,
        |    ($abArmSql) AS arm
        |  FROM events),
        |tot AS (SELECT
        |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM (SELECT DISTINCT user_id, arm FROM armed)),
        |x AS (SELECT metric, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM (SELECT DISTINCT event_type AS metric, user_id FROM armed)
        |  GROUP BY 1)
        |SELECT metric, na AS n_a, nb AS n_b, x,
        |  (x * 1000000) // GREATEST(na + nb, 1) AS p_ppm,
        |  CASE WHEN na = 0 OR nb = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(FLOOR(1000000.0 * (CAST(2.8016 AS DOUBLE) * sqrt(
        |      (CAST(x AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |      * (1.0 - CAST(x AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |      * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))
        |    ))) AS BIGINT) END AS mde_ppm
        |FROM x, tot ORDER BY metric""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.powerReadout(t(s, d, "events"))
    },
    // Sample-ratio-mismatch gate on the qa18 md5 assignment: chi-square
    // goodness-of-fit of per-arm user counts against the intended 1:1
    // allocation, in exact integer ppm terms (the read-BEFORE-metrics
    // experiment health check).
    Query("qa32_srm_check", Some(
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
        |armed AS (SELECT CASE WHEN $abArmSql THEN 'A' ELSE 'B' END AS arm FROM u),
        |obs AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM armed GROUP BY arm),
        |wt AS (SELECT 'A' AS arm, CAST(1 AS BIGINT) AS w
        |  UNION ALL SELECT 'B', CAST(1 AS BIGINT)),
        |j AS (SELECT wt.arm, wt.w, COALESCE(obs.o, 0) AS o
        |  FROM wt LEFT JOIN obs USING (arm)),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    CAST(SUM(w) AS BIGINT) AS bigw,
        |    CAST(COUNT(*) AS BIGINT) AS n_arms FROM j)
        |SELECT n_arms, n AS n_total, n_arms - 1 AS df,
        |  CAST(SUM(CASE WHEN n = 0 THEN NULL ELSE
        |    (1000000 * (bigw * o - n * w) * (bigw * o - n * w))
        |    // (bigw * GREATEST(n, 1) * w) END) AS BIGINT) AS chi2_ppm
        |FROM j, tot GROUP BY n_arms, n""".stripMargin)) { (s, d) =>
      val armed = t(s, d, "events").select(col("user_id")).distinct()
        .withColumn("arm",
          when(abArm, "A").otherwise("B"))
      graft.operators.Quality.srmCheck(armed, col("arm"),
        Seq("A" -> 1L, "B" -> 1L))
    },
    // Welch's unequal-variance t-test on per-user revenue between the
    // qa18 arms — the parametric mean readout beside qa29's rank test;
    // exact BIGINT moments, t and Welch-Satterthwaite df floored to ppm.
    Query("qa33_welch_ttest", Some(
      s"""WITH u AS (SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(30,2)) * 100) AS BIGINT) AS v
        |  FROM events GROUP BY user_id),
        |armed AS (SELECT CASE WHEN $abArmSql THEN 'A' ELSE 'B' END AS g, v FROM u),
        |rawg AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS rg FROM armed),
        |byg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(v) AS BIGINT) AS s_g, CAST(SUM(v * v) AS BIGINT) AS ss_g
        |  FROM armed GROUP BY g HAVING COUNT(*) >= 2),
        |dd AS (SELECT g, n_g, s_g, n_g * ss_g - s_g * s_g AS dd_g FROM byg),
        |paired AS (SELECT g AS g_a, n_g AS n_a, s_g AS sum_a, dd_g AS dd_a,
        |    LEAD(g) OVER (ORDER BY g) AS g_b,
        |    LEAD(n_g) OVER (ORDER BY g) AS n_b,
        |    LEAD(s_g) OVER (ORDER BY g) AS sum_b,
        |    LEAD(dd_g) OVER (ORDER BY g) AS dd_b,
        |    COUNT(*) OVER () AS ngroups
        |  FROM dd),
        |vv AS (SELECT g_a, g_b, n_a, n_b, sum_a, sum_b, dd_a, dd_b,
        |    CAST(dd_a AS DOUBLE) / CAST(n_a * n_a * (n_a - 1) AS DOUBLE) AS va,
        |    CAST(dd_b AS DOUBLE) / CAST(n_b * n_b * (n_b - 1) AS DOUBLE) AS vb
        |  FROM paired, rawg WHERE g_b IS NOT NULL AND ngroups = 2
        |    AND rg = 2)
        |SELECT g_a, g_b, n_a, n_b, sum_a, sum_b, dd_a, dd_b,
        |  CASE WHEN dd_a = 0 AND dd_b = 0 THEN CAST(NULL AS BIGINT)
        |  ELSE CAST(FLOOR(((CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt(va + vb)) * 1000000) AS BIGINT) END AS t_ppm,
        |  CASE WHEN dd_a = 0 AND dd_b = 0 THEN CAST(NULL AS BIGINT)
        |  ELSE CAST(FLOOR((((va + vb) * (va + vb))
        |    / (va * va / CAST(n_a - 1 AS DOUBLE)
        |      + vb * vb / CAST(n_b - 1 AS DOUBLE))) * 1000000) AS BIGINT)
        |    END AS df_ppm
        |FROM vv""".stripMargin)) { (s, d) =>
      val perUser = t(s, d, "events").groupBy("user_id")
        .agg(sum(col("value").cast("decimal(30,2)") * 100).cast("long")
          .as("cents"))
        .withColumn("g",
          when(abArm, "A").otherwise("B"))
      graft.operators.Quality.welchTTest(perUser, col("g"), col("cents"))
        .withColumn("t_ppm", floor(col("t") * 1000000).cast("long"))
        .withColumn("df_ppm", floor(col("df") * 1000000).cast("long"))
        .drop("t", "df")
    },
    // Mann-Whitney U rank-sum readout of per-user revenue between the
    // qa18 md5 arms — the nonparametric complement to qa24's CUPED mean
    // (revenue is skewed; rank stats don't care). 2x-rank exact
    // integers; z floored to ppm for cross-engine digit identity.
    // (The id reuses the qa29 numbering gap — r9 verdict item #5.)
    Query("qa29_mannwhitney", Some(
      s"""WITH u AS (SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(30,2)) * 100) AS BIGINT) AS v
        |  FROM events GROUP BY user_id),
        |armed AS (SELECT CASE WHEN $abArmSql THEN 'A' ELSE 'B' END AS g, v FROM u),
        |counts AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM armed GROUP BY v),
        |ranks AS (SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + c + 1 AS r2
        |  FROM counts),
        |tie AS (SELECT CAST(COALESCE(SUM(c*c*c - c), 0) AS BIGINT)
        |    AS tie_term FROM counts),
        |byg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(r2) AS BIGINT) AS r2sum
        |  FROM armed JOIN ranks USING (v) GROUP BY g),
        |paired AS (SELECT g AS g_a, n_g AS n_a, r2sum AS r2_a,
        |    LEAD(g) OVER (ORDER BY g) AS g_b,
        |    LEAD(n_g) OVER (ORDER BY g) AS n_b,
        |    LEAD(r2sum) OVER (ORDER BY g) AS r2_b,
        |    COUNT(*) OVER () AS ngroups
        |  FROM byg)
        |SELECT g_a, g_b, n_a, n_b,
        |  r2_a - n_a * (n_a + 1) AS u2x_a,
        |  r2_b - n_b * (n_b + 1) AS u2x_b,
        |  tie_term,
        |  CASE WHEN (n_a + n_b + 1) * (n_a + n_b) * (n_a + n_b - 1)
        |      - tie_term <= 0 THEN CAST(NULL AS BIGINT)
        |  ELSE CAST(FLOOR((
        |    (CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
        |      - CAST(n_a * n_b AS DOUBLE)) /
        |    sqrt(CAST(n_a * n_b AS DOUBLE)
        |      * CAST((n_a + n_b + 1) * (n_a + n_b) * (n_a + n_b - 1)
        |          - tie_term AS DOUBLE)
        |      / CAST(3 * (n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))
        |  ) * 1000000) AS BIGINT) END AS z_ppm
        |FROM paired, tie WHERE g_b IS NOT NULL AND ngroups = 2""".stripMargin)) { (s, d) =>
      val perUser = t(s, d, "events").groupBy("user_id")
        .agg(sum(col("value").cast("decimal(30,2)") * 100).cast("long")
          .as("cents"))
        .withColumn("g",
          when(abArm, "A").otherwise("B"))
      graft.operators.Quality.mannWhitneyU(perUser, col("g"), col("cents"))
        .withColumn("z_ppm", floor(col("z") * 1000000).cast("long"))
        .drop("z")
    },
    // Deterministic salted-md5 A/B assignment + conversion readout.
    Query("qa18_ab_assignment", Some(
      s"""WITH u AS (SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY user_id),
        |a AS (SELECT CASE WHEN $abArmSql THEN 'A' ELSE 'B' END AS arm, converted FROM u)
        |SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  (CAST(SUM(converted) AS BIGINT) * 1000000) // COUNT(*) AS conv_ppm
        |FROM a GROUP BY arm ORDER BY arm""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.abAssignment(t(s, d, "events"))
        .orderBy("arm")
    },
    // CUPED variance-reduced A/B readout: pre-period activity as the
    // covariate, arms from the qa18 md5 coin.
    Query("qa24_cuped", Some(
      s"""WITH e AS (SELECT user_id, epoch_us(ts) * 1000 AS tsn FROM events),
        |mid AS (SELECT (MIN(tsn) + MAX(tsn)) // 2 AS m FROM e),
        |u0 AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN tsn < (SELECT m FROM mid) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN tsn >= (SELECT m FROM mid) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM e GROUP BY user_id),
        |u AS (SELECT *, CASE WHEN $abArmSql THEN 'A' ELSE 'B' END AS arm FROM u0),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM u),
        |ar AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(x) AS BIGINT) AS sum_x,
        |    CAST(SUM(y) AS BIGINT) AS sum_y,
        |    CAST(SUM(x * x) AS BIGINT) AS axx,
        |    CAST(SUM(y * y) AS BIGINT) AS ayy,
        |    CAST(SUM(x * y) AS BIGINT) AS axy
        |  FROM u GROUP BY arm),
        |th AS (SELECT ar.*, g.n, g.sx, g.sy,
        |    CAST(g.sxx AS DOUBLE) / g.n -
        |      (CAST(g.sx AS DOUBLE) / g.n) * (CAST(g.sx AS DOUBLE) / g.n)
        |      AS varx_g
        |  FROM ar, g),
        |t2 AS (SELECT *, CASE WHEN varx_g <= 0.0 THEN 0.0
        |    ELSE (CAST(sxy AS DOUBLE) / n -
        |      (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) / varx_g
        |    END AS theta,
        |    CAST(sum_x AS DOUBLE) / n_users AS mx,
        |    CAST(sum_y AS DOUBLE) / n_users AS my
        |  FROM (SELECT th.*, g2.sxy FROM th, (SELECT sxy FROM g) g2)),
        |t3 AS (SELECT *,
        |    CAST(ayy AS DOUBLE) / n_users - my * my AS vy,
        |    CAST(axx AS DOUBLE) / n_users - mx * mx AS vx,
        |    CAST(axy AS DOUBLE) / n_users - mx * my AS cxy
        |  FROM t2),
        |t4 AS (SELECT *,
        |    vy - 2.0 * theta * cxy + theta * theta * vx AS vc
        |  FROM t3)
        |SELECT arm, n_users, sum_x, sum_y,
        |  CAST(FLOOR(theta * 1000000.0) AS BIGINT) AS theta_ppm,
        |  CAST(FLOOR(my * 1000000.0) AS BIGINT) AS mean_y_micros,
        |  CAST(FLOOR((my - theta * (mx - CAST(sx AS DOUBLE) / n))
        |    * 1000000.0) AS BIGINT) AS mean_cuped_micros,
        |  CAST(FLOOR(1000000.0 * (1.0 -
        |    CASE WHEN vy <= 0.0 THEN 1.0 ELSE vc / vy END)) AS BIGINT)
        |    AS reduction_ppm
        |FROM t4 ORDER BY arm""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val mid = graft.streaming.EventStream.midpointMicros(ev)
      graft.streaming.EventStream.cuped(ev, mid).orderBy("arm")
    },
    // Top-20 leaderboard drift between the two event-time halves:
    // rank-biased overlap + churn.
    Query("qq35_rbo_drift", Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) * 1000 AS tsn FROM events
        |  WHERE user_id IS NOT NULL),
        |mid AS (SELECT (MIN(tsn) + MAX(tsn)) // 2 AS m FROM e),
        |ta AS (SELECT CAST(user_id AS VARCHAR) AS key,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM e, mid WHERE tsn < m GROUP BY 1
        |  ORDER BY cnt DESC, key LIMIT 20),
        |tb AS (SELECT CAST(user_id AS VARCHAR) AS key,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM e, mid WHERE tsn >= m GROUP BY 1
        |  ORDER BY cnt DESC, key LIMIT 20),
        |ra AS (SELECT key, ROW_NUMBER() OVER (ORDER BY cnt DESC, key)
        |  AS r_a FROM ta),
        |rb AS (SELECT key, ROW_NUMBER() OVER (ORDER BY cnt DESC, key)
        |  AS r_b FROM tb),
        |j AS (SELECT ra.key AS ka, rb.key AS kb, ra.r_a, rb.r_b
        |  FROM ra FULL JOIN rb ON rb.key = ra.key),
        |churn AS (SELECT
        |    COALESCE(CAST(SUM(CASE WHEN r_a IS NOT NULL AND r_b IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_stay,
        |    COALESCE(CAST(SUM(CASE WHEN r_a IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT), 0) AS n_entered,
        |    COALESCE(CAST(SUM(CASE WHEN r_b IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT), 0) AS n_exited
        |  FROM j),
        |mm AS (SELECT GREATEST(r_a, r_b) AS m FROM j
        |  WHERE r_a IS NOT NULL AND r_b IS NOT NULL),
        |dd AS (SELECT CAST(unnest(range(1, 21)) AS BIGINT) AS d),
        |ov AS (SELECT dd.d, CAST(COUNT(mm.m) AS BIGINT) AS ov
        |  FROM dd LEFT JOIN mm ON mm.m <= dd.d GROUP BY 1),
        |rbo AS (SELECT COALESCE(CAST(SUM((1000000 * ov)
        |    // (d * (1::BIGINT << CAST(d AS INT)))) AS BIGINT), 0)
        |  AS rbo_ppm FROM ov)
        |SELECT CAST(20 AS BIGINT) AS k, churn.n_stay, churn.n_entered,
        |  churn.n_exited, rbo.rbo_ppm
        |FROM churn, rbo""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val mid = graft.streaming.EventStream.midpointMicros(ev)
      graft.operators.Quality.rboTopkDrift(
        ev.filter(col("ts") < mid), ev.filter(col("ts") >= mid),
        "user_id", k = 20)
    },
    // Reliability table + ECE: does a first-half rate table's score MEAN
    // its value on the second half (calibration, beside qa21's ranking)?
    Query("qa25_calibration", Some(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) * 1000 AS tsn
        |  FROM events),
        |mid AS (SELECT (MIN(tsn) + MAX(tsn)) // 2 AS m FROM e),
        |tr AS (SELECT user_id,
        |    LEAST(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT), 20) AS fb,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM e, mid WHERE tsn < m GROUP BY user_id),
        |te AS (SELECT user_id,
        |    LEAST(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT), 20) AS fb,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM e, mid WHERE tsn >= m GROUP BY user_id),
        |r AS (SELECT fb, (1000000 * CAST(SUM(y) AS BIGINT))
        |    // CAST(COUNT(*) AS BIGINT) AS rate_ppm
        |  FROM tr GROUP BY fb),
        |g AS (SELECT (1000000 * CAST(SUM(y) AS BIGINT))
        |    // GREATEST(1, CAST(COUNT(*) AS BIGINT)) AS g_ppm FROM tr),
        |sc AS (SELECT te.y, COALESCE(r.rate_ppm, g.g_ppm) AS pred_ppm
        |  FROM te LEFT JOIN r USING (fb) CROSS JOIN g),
        |b AS (SELECT pred_ppm // 100000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(pred_ppm) AS BIGINT) AS sum_pred,
        |    CAST(SUM(y) AS BIGINT) AS pos
        |  FROM sc GROUP BY 1),
        |b2 AS (SELECT b, n_users, sum_pred // n_users AS conf_ppm,
        |    (1000000 * pos) // n_users AS acc_ppm FROM b),
        |b3 AS (SELECT b, n_users, conf_ppm, acc_ppm,
        |    ABS(conf_ppm - acc_ppm) AS gap_ppm FROM b2),
        |ov AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_users,
        |    CAST(SUM(n_users * conf_ppm) AS BIGINT)
        |      // GREATEST(1, CAST(SUM(n_users) AS BIGINT)) AS conf_ppm,
        |    CAST(SUM(n_users * acc_ppm) AS BIGINT)
        |      // GREATEST(1, CAST(SUM(n_users) AS BIGINT)) AS acc_ppm,
        |    CAST(SUM(n_users * gap_ppm) AS BIGINT)
        |      // GREATEST(1, CAST(SUM(n_users) AS BIGINT)) AS gap_ppm
        |  FROM b3)
        |SELECT 'b' || lpad(CAST(b AS VARCHAR), 2, '0') AS bin, n_users,
        |  conf_ppm, acc_ppm, gap_ppm FROM b3
        |UNION ALL
        |SELECT 'overall' AS bin, n_users, conf_ppm, acc_ppm, gap_ppm
        |FROM ov ORDER BY bin""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events")
      val mid = graft.streaming.EventStream.midpointMicros(ev)
      graft.streaming.EventStream.calibration(ev, mid).orderBy("bin")
    },
    // Discrete survival curve with right-censoring: per-lifetime risk
    // set, hazard, and Nelson-Aalen cumulative hazard.
    Query("qa26_survival", Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) * 1000 AS tsn FROM events),
        |u AS (SELECT user_id, MIN(tsn) AS f, MAX(tsn) AS l
        |  FROM e GROUP BY user_id),
        |ed AS (SELECT MAX(l) AS g_max FROM u),
        |d AS (SELECT (l - f) // 86400000000000 AS duration_days,
        |    CASE WHEN l < g_max - 7 * 86400000000000 THEN 1 ELSE 0 END
        |      AS churned
        |  FROM u CROSS JOIN ed),
        |dd AS (SELECT duration_days, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(churned) AS BIGINT) AS n_churned
        |  FROM d GROUP BY 1),
        |r AS (SELECT *, CAST(SUM(n_users) OVER (ORDER BY duration_days
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |    AS n_risk FROM dd),
        |h AS (SELECT *, (1000000 * n_churned) // n_risk AS hazard_ppm
        |  FROM r)
        |SELECT duration_days, n_users, n_churned, n_risk, hazard_ppm,
        |  CAST(SUM(hazard_ppm) OVER (ORDER BY duration_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_hazard_ppm
        |FROM h ORDER BY duration_days""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.survivalCurve(t(s, d, "events"))
        .orderBy("duration_days")
    },
    // Inclusion-dependency discovery: containment of each key column's
    // distinct values in every other — the FK-candidate scan.
    Query("qq37_fk_candidates", Some(
      """WITH vals AS (
        |  SELECT 'nation.n_nationkey' AS rel, CAST(n_nationkey AS BIGINT)
        |    AS value, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM nation WHERE n_nationkey IS NOT NULL GROUP BY 2
        |  UNION ALL
        |  SELECT 'nation.n_regionkey', CAST(n_regionkey AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT)
        |  FROM nation WHERE n_regionkey IS NOT NULL GROUP BY 2
        |  UNION ALL
        |  SELECT 'region.r_regionkey', CAST(r_regionkey AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT)
        |  FROM region WHERE r_regionkey IS NOT NULL GROUP BY 2
        |  UNION ALL
        |  SELECT 'customer.c_custkey', CAST(c_custkey AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT)
        |  FROM customer WHERE c_custkey IS NOT NULL GROUP BY 2
        |  UNION ALL
        |  SELECT 'customer.c_nationkey', CAST(c_nationkey AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT)
        |  FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 2
        |  UNION ALL
        |  SELECT 'orders.o_custkey', CAST(o_custkey AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT)
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 2
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey', CAST(s_nationkey AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT)
        |  FROM supplier WHERE s_nationkey IS NOT NULL GROUP BY 2),
        |stats AS (SELECT rel, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(MAX(cnt) AS BIGINT) AS max_cnt
        |  FROM vals GROUP BY rel),
        |matched AS (SELECT a.rel AS child, b.rel AS parent,
        |    CAST(COUNT(*) AS BIGINT) AS n_matched
        |  FROM vals a JOIN vals b ON b.value = a.value
        |  WHERE a.rel <> b.rel GROUP BY 1, 2),
        |grid AS (SELECT c.rel AS child, c.n_distinct AS n_child_distinct,
        |    p.rel AS parent,
        |    CASE WHEN p.max_cnt = 1 THEN 1 ELSE 0 END AS parent_unique
        |  FROM stats c CROSS JOIN stats p WHERE c.rel <> p.rel)
        |SELECT g.child, g.parent, g.n_child_distinct,
        |  COALESCE(m.n_matched, 0) AS n_matched,
        |  (COALESCE(m.n_matched, 0) * 1000000) // g.n_child_distinct
        |    AS containment_ppm,
        |  CAST(g.parent_unique AS BIGINT) AS parent_unique
        |FROM grid g LEFT JOIN matched m
        |  ON m.child = g.child AND m.parent = g.parent
        |ORDER BY g.child, g.parent""".stripMargin)) { (s, d) =>
      graft.operators.Quality.fkCandidates(Seq(
        ("nation.n_nationkey", t(s, d, "nation"), "n_nationkey"),
        ("nation.n_regionkey", t(s, d, "nation"), "n_regionkey"),
        ("region.r_regionkey", t(s, d, "region"), "r_regionkey"),
        ("customer.c_custkey", t(s, d, "customer"), "c_custkey"),
        ("customer.c_nationkey", t(s, d, "customer"), "c_nationkey"),
        ("orders.o_custkey", t(s, d, "orders"), "o_custkey"),
        ("supplier.s_nationkey", t(s, d, "supplier"), "s_nationkey")))
        .orderBy("child", "parent")
    },
    // l-diversity audit: the constant-sensitive-value group k-anonymity
    // misses (qq08's companion gate).
    Query("qq36_l_diversity", Some(
      """WITH c AS (SELECT lang, n_chars // 500 AS len_bin,
        |    COALESCE(CAST(source AS VARCHAR), 'null') AS sv,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (SELECT lang, len_bin, CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(MAX(cnt) AS BIGINT) AS top_cnt
        |  FROM c GROUP BY 1, 2)
        |SELECT CAST(3 AS BIGINT) AS l,
        |  COALESCE(CAST(SUM(n) AS BIGINT), 0) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  COALESCE(CAST(SUM(CASE WHEN n_distinct < 3 THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS weak_groups,
        |  COALESCE(CAST(SUM(CASE WHEN n_distinct < 3 THEN n ELSE 0 END)
        |    AS BIGINT), 0) AS rows_at_risk,
        |  COALESCE(CAST(MIN(n_distinct) AS BIGINT), 0) AS min_distinct,
        |  COALESCE(CAST(MAX((top_cnt * 1000000) // n) AS BIGINT), 0)
        |    AS max_topshare_ppm
        |FROM g""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents").select(col("lang"),
        expr("n_chars div 500").as("len_bin"), col("source"))
      graft.operators.Quality.lDiversity(
        docs, Seq("lang", "len_bin"), "source", l = 3)
    },
    // t-closeness audit: the skewed-but-distinct sensitive distribution
    // l-diversity misses — per-group EMD vs the global source mix.
    Query("qq38_t_closeness", Some(
      """WITH c AS (SELECT
        |    COALESCE(CAST(lang AS VARCHAR), chr(1) || 'null') AS q0,
        |    COALESCE(CAST(n_chars // 2000 AS VARCHAR), chr(1) || 'null')
        |      AS q1,
        |    COALESCE(CAST(source AS VARCHAR), chr(1) || 'null') AS sv,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2, 3),
        |gl AS (SELECT sv, CAST(SUM(cnt) AS BIGINT) AS gcnt
        |  FROM c GROUP BY 1),
        |glr AS (SELECT sv, gcnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY sv) AS BIGINT) AS rnk,
        |    CAST(SUM(gcnt) OVER () AS BIGINT) AS n_tot,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM gl),
        |g AS (SELECT q0, q1, CAST(SUM(cnt) AS BIGINT) AS ng
        |  FROM c GROUP BY 1, 2),
        |dd AS (SELECT g.q0, g.q1, g.ng, r.rnk, r.m, r.n_tot,
        |    COALESCE(c.cnt, 0) * r.n_tot - r.gcnt * g.ng AS d
        |  FROM g CROSS JOIN glr r LEFT JOIN c
        |    ON c.q0 = g.q0 AND c.q1 = g.q1 AND c.sv = r.sv),
        |cum AS (SELECT q0, q1, ng, m, n_tot,
        |    CAST(SUM(d) OVER (PARTITION BY q0, q1 ORDER BY rnk)
        |      AS BIGINT) AS cd FROM dd),
        |emd AS (SELECT q0, q1, ng,
        |    (CAST(SUM(ABS(cd)) AS BIGINT) * 1000000)
        |      // (GREATEST(m - 1, 1) * ng * GREATEST(n_tot, 1))
        |      AS emd_ppm
        |  FROM cum GROUP BY q0, q1, ng, m, n_tot)
        |SELECT CAST(200000 AS BIGINT) AS t_ppm,
        |  COALESCE(CAST(SUM(ng) AS BIGINT), 0) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  COALESCE(CAST(SUM(CASE WHEN emd_ppm > 200000 THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS weak_groups,
        |  COALESCE(CAST(SUM(CASE WHEN emd_ppm > 200000 THEN ng ELSE 0 END)
        |    AS BIGINT), 0) AS rows_at_risk,
        |  COALESCE(CAST(MAX(emd_ppm) AS BIGINT), 0) AS max_emd_ppm
        |FROM emd""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents").select(col("lang"),
        expr("n_chars div 2000").as("len_bin"), col("source"))
      graft.operators.Quality.tCloseness(
        docs, Seq("lang", "len_bin"), "source", tPpm = 200000L)
    },
    // Horvitz-Thompson stratified expansion: census purchases, thin the
    // bulk; the estimator audit behind every sampled revenue dashboard.
    Query("qx19_ht_estimator", Some(
      s"""WITH f AS (SELECT event_type AS stratum,
        |    CAST(CASE event_type WHEN 'purchase' THEN 1000000
        |      WHEN 'click' THEN 100000 ELSE 50000 END AS BIGINT)
        |      AS rate_ppm,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
        |    CASE WHEN ${hex52("md5('ht_' || CAST(event_id AS VARCHAR))")} % 1000000
        |      < CASE event_type WHEN 'purchase' THEN 1000000
        |        WHEN 'click' THEN 100000 ELSE 50000 END
        |    THEN 1 ELSE 0 END AS s
        |  FROM events),
        |g AS (SELECT stratum, rate_ppm, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(s) AS BIGINT) AS n_sampled,
        |    CAST(SUM(cents) AS BIGINT) AS exact_cents,
        |    CAST(SUM(s * cents) AS BIGINT) AS s_cents
        |  FROM f GROUP BY 1, 2)
        |SELECT stratum, rate_ppm, n, n_sampled, exact_cents,
        |  (s_cents * 1000000) // rate_ppm AS ht_cents,
        |  (ABS((s_cents * 1000000) // rate_ppm - exact_cents) * 1000000)
        |    // GREATEST(1, ABS(exact_cents)) AS err_ppm
        |FROM g ORDER BY stratum""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.htStratifiedTotal(t(s, d, "events"),
          "event_id", "event_type", "value",
          Map("purchase" -> 1000000L, "click" -> 100000L),
          defaultRatePpm = 50000L)
        .orderBy("stratum")
    },
    // Majority-successor baseline: how predictable is the next event.
    Query("qa19_markov_accuracy", Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |s AS (SELECT event_type AS prev,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id) AS next
        |  FROM e),
        |bi AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS c FROM s
        |  WHERE next IS NOT NULL GROUP BY 1, 2),
        |rk AS (SELECT prev, next, c,
        |    CAST(SUM(c) OVER (PARTITION BY prev) AS BIGINT) AS total,
        |    ROW_NUMBER() OVER (PARTITION BY prev ORDER BY c DESC, next) AS r
        |  FROM bi)
        |SELECT prev, next AS top_next, c AS top_count, total,
        |  (c * 1000000) // total AS acc_ppm
        |FROM rk WHERE r = 1 ORDER BY prev""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.markovAccuracy(t(s, d, "events"))
        .orderBy("prev")
    },
    // Disguised-missing-value audit: modal value share + zero/negative
    // counts per numeric column.
    Query("qq23_sentinel_audit", Some(
      """WITH t1 AS (
        |  SELECT 'l_discount' AS col0, CAST(l_discount AS DOUBLE) AS v
        |    FROM lineitem WHERE l_discount IS NOT NULL
        |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
        |    WHERE l_tax IS NOT NULL
        |  UNION ALL SELECT 'l_quantity', CAST(l_quantity AS DOUBLE)
        |    FROM lineitem WHERE l_quantity IS NOT NULL),
        |sc AS (SELECT col0, CAST(COUNT(*) AS BIGINT) AS n_nonnull,
        |    COALESCE(CAST(SUM(CASE WHEN v = 0 THEN 1 END) AS BIGINT), 0)
        |      AS n_zero,
        |    COALESCE(CAST(SUM(CASE WHEN v < 0 THEN 1 END) AS BIGINT), 0)
        |      AS n_negative
        |  FROM t1 GROUP BY col0),
        |cnt AS (SELECT col0, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM t1
        |  GROUP BY col0, v),
        |top AS (SELECT col0, v, cnt FROM (SELECT col0, v, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY col0
        |      ORDER BY cnt DESC, CAST(v AS VARCHAR)) AS r FROM cnt)
        |  WHERE r = 1)
        |SELECT sc.col0 AS "column", n_nonnull, n_zero, n_negative,
        |  CAST(top.v AS VARCHAR) AS top_value, top.cnt AS top_n,
        |  (top.cnt * 1000000) // n_nonnull AS top_ppm
        |FROM sc JOIN top ON top.col0 = sc.col0 ORDER BY sc.col0""".stripMargin)) { (s, d) =>
      graft.operators.Quality.sentinelAudit(t(s, d, "lineitem"),
          Seq("l_discount", "l_tax", "l_quantity"))
        .orderBy("column")
    },
    // Community conductance over the qg05 label-prop communities.
    Query("qg16_conductance", Some(conductanceOracle(iters = 4))) { (s, d) =>
      val edges = coPurchaseEdges(orderParts(s, d, 50))
      graft.operators.Graphs.communityConductance(edges, "pa", "pb",
          iters = 4)
        .orderBy("community")
    },
    // DAU / trailing-7-day WAU / stickiness per day.
    Query("qa20_dau_wau", Some(
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY day),
        |sp AS (SELECT DISTINCT user_id, day + g AS day FROM ud,
        |  (SELECT unnest(generate_series(0, 6)) AS g)),
        |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM sp
        |  GROUP BY day)
        |SELECT dau.day, dau, wau, (dau * 1000000) // wau AS stickiness_ppm
        |FROM dau JOIN wau ON wau.day = dau.day ORDER BY dau.day""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.dauWau(t(s, d, "events"))
        .orderBy("day")
    },
    // Sampling-accuracy audit: 10% md5 sample estimates vs exact counts.
    Query("qx14_sample_accuracy", Some(
      s"""WITH f AS (SELECT event_type AS "group",
        |    CASE WHEN ${hex52("md5('sa_' || CAST(event_id AS VARCHAR))")} % 1000000
        |      < 100000
        |    THEN 1 ELSE 0 END AS s
        |  FROM events)
        |SELECT "group", CAST(COUNT(*) AS BIGINT) AS exact_n,
        |  CAST(SUM(s) AS BIGINT) AS sample_n,
        |  (CAST(SUM(s) AS BIGINT) * 1000000) // 100000 AS est_n,
        |  (ABS((CAST(SUM(s) AS BIGINT) * 1000000) // 100000 - COUNT(*))
        |    * 1000000) // GREATEST(1, COUNT(*)) AS err_ppm
        |FROM f GROUP BY "group" ORDER BY "group"""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.sampleAccuracy(t(s, d, "events"),
          "event_id", "event_type", ratePpm = 100000L)
        .orderBy("group")
    },
    // Seasonal-naive backtest: predict today = same weekday last week;
    // WAPE in ppm per type.
    Query("qw09_naive_backtest", Some(
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(ABS(a.n - p.n)) AS BIGINT) AS sum_abs_err,
        |  CAST(SUM(a.n) AS BIGINT) AS sum_actual,
        |  (CAST(SUM(ABS(a.n - p.n)) AS BIGINT) * 1000000)
        |    // GREATEST(1, CAST(SUM(a.n) AS BIGINT)) AS wape_ppm
        |FROM daily a JOIN daily p ON p.event_type = a.event_type
        |  AND p.day = a.day - 7
        |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.naiveBacktest(t(s, d, "events"))
        .orderBy("event_type")
    },
    // Watermark loss sweep: events dropped per candidate watermark.
    Query("qs15_watermark_sweep", Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |l AS (SELECT event_type,
        |    GREATEST(COALESCE(MAX(tus) OVER (PARTITION BY user_id
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - tus, 0), 0)
        |      AS late_us
        |  FROM e),
        |c AS (SELECT unnest([0, 1000000, 10000000, 60000000, 600000000])
        |  AS watermark_us)
        |SELECT event_type, watermark_us, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  COALESCE(CAST(SUM(CASE WHEN late_us > watermark_us THEN 1 END)
        |    AS BIGINT), 0) AS n_dropped,
        |  (COALESCE(CAST(SUM(CASE WHEN late_us > watermark_us THEN 1 END)
        |    AS BIGINT), 0) * 1000000) // COUNT(*) AS drop_ppm
        |FROM l CROSS JOIN c GROUP BY event_type, watermark_us
        |ORDER BY event_type, watermark_us""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.watermarkSweep(t(s, d, "events"))
        .orderBy("event_type", "watermark_us")
    },
    // Exact Mann-Whitney AUC of prior-view count predicting purchase.
    Query("qa21_feature_auc", Some(
      """WITH u AS (SELECT user_id,
        |    COALESCE(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 END)
        |      AS BIGINT), 0) AS f,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY user_id),
        |per AS (SELECT f AS v, CAST(SUM(y) AS BIGINT) AS np,
        |    CAST(SUM(1 - y) AS BIGINT) AS nn FROM u GROUP BY f),
        |pre AS (SELECT v, np, nn,
        |    COALESCE(CAST(SUM(nn) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS neg_below
        |  FROM per)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |  CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  CAST(SUM(np * neg_below) AS BIGINT) AS wins,
        |  CAST(SUM(np * nn) AS BIGINT) AS ties,
        |  ((2 * CAST(SUM(np * neg_below) AS BIGINT)
        |    + CAST(SUM(np * nn) AS BIGINT)) * 1000000)
        |    // GREATEST(1, 2 * CAST(SUM(np) AS BIGINT)
        |      * CAST(SUM(nn) AS BIGINT)) AS auc_ppm
        |FROM pre""".stripMargin)) { (s, d) =>
      val perUser = t(s, d, "events").groupBy("user_id").agg(
        coalesce(sum(when(col("event_type") === "view", 1L)), lit(0L))
          .as("f"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("yy"))
      graft.operators.Quality.featureAuc(perUser, "f", col("yy") === 1L)
    },
    // Pseudonymization collision audit: 10-bit hash space over custkeys.
    Query("qq24_pseudonym_audit", Some(
      s"""WITH k AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |p AS (SELECT ${hex52("md5('pn_' || k)")} % 1024 AS p
        |  FROM k),
        |c AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY p)
        |SELECT CAST(1024 AS BIGINT) AS space,
        |  CAST(SUM(cnt) AS BIGINT) AS n_keys,
        |  CAST(COUNT(*) AS BIGINT) AS n_pseudonyms,
        |  CAST(SUM(cnt) AS BIGINT) - CAST(COUNT(*) AS BIGINT)
        |    AS n_collisions,
        |  CAST(MAX(cnt) AS BIGINT) AS max_bucket,
        |  ((CAST(SUM(cnt) AS BIGINT) - CAST(COUNT(*) AS BIGINT)) * 1000000)
        |    // GREATEST(1, CAST(SUM(cnt) AS BIGINT)) AS collision_ppm
        |FROM c""".stripMargin)) { (s, d) =>
      graft.operators.Quality.pseudonymAudit(t(s, d, "orders"),
        "o_custkey", bits = 10)
    },
    // Mergeable quantile-sketch rollup: per-returnflag bottom-k samples
    // merged globally; the oracle draws the direct global sample (the
    // mergeability invariant makes them identical).
    Query("qx15_quantile_rollup", Some(
      """WITH s AS (SELECT md5('sq_' || CAST(uid AS VARCHAR)) AS h, v FROM
        |  (SELECT l_orderkey * 10 + l_linenumber AS uid,
        |     l_extendedprice AS v FROM lineitem)
        |  ORDER BY h LIMIT 512),
        |r AS (SELECT v, h, ROW_NUMBER() OVER (ORDER BY v, h) AS rv,
        |    COUNT(*) OVER () AS n FROM s),
        |np AS (SELECT CAST(COUNT(DISTINCT l_returnflag) AS BIGINT)
        |  AS n_parts FROM lineitem)
        |SELECT q, v AS value, CAST(n AS BIGINT) AS sample_n, n_parts
        |FROM r, (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q), np
        |WHERE rv = GREATEST(1, CAST(ceil(q * n) AS BIGINT))
        |ORDER BY q""".stripMargin)) { (s, d) =>
      val li = t(s, d, "lineitem").withColumn("uid",
        col("l_orderkey") * 10 + col("l_linenumber"))
      graft.operators.Sketches.quantileRollup(li, "l_extendedprice",
        "uid", "l_returnflag", Seq(0.25, 0.5, 0.75, 0.95), k = 512)
    },
    // Header-vs-detail reconciliation: o_totalprice against the exact
    // µ-unit lineitem charge sum, per order status (synthetic totals
    // do NOT reconcile — the audit reports the real divergence).
    Query("qq27_reconcile", Some(
      """WITH ls AS (SELECT l_orderkey AS k,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
        |      * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) AS BIGINT) AS s
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT o.o_orderstatus AS grp,
        |    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 10000 AS total,
        |    ls.s AS s
        |  FROM orders o LEFT JOIN ls ON ls.k = o.o_orderkey)
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_headers,
        |  COALESCE(CAST(SUM(CASE WHEN s IS NULL THEN 1 END) AS BIGINT), 0)
        |    AS n_no_detail,
        |  COALESCE(CAST(SUM(CASE WHEN ABS(total - s) > 0 THEN 1 END)
        |    AS BIGINT), 0) AS n_mismatch,
        |  COALESCE(MAX(ABS(total - s)), 0) AS max_abs_diff_micros
        |FROM j GROUP BY grp ORDER BY grp""".stripMargin)) { (s, d) =>
      val totalMicros =
        round(col("o_totalprice") * 100).cast("long") * lit(10000L)
      val chargeMicros = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long")) *
        (lit(100L) + round(col("l_tax") * 100).cast("long"))
      graft.operators.Quality.reconcile(
          t(s, d, "orders"), "o_orderkey", totalMicros, "o_orderstatus",
          t(s, d, "lineitem"), "l_orderkey", chargeMicros)
        .orderBy("grp")
    },
    // Train/test support coverage over (type, value-bucket) features.
    Query("qq25_support_coverage", Some(
      """WITH ev AS (SELECT user_id, event_type,
        |    CAST(FLOOR(value) AS BIGINT) AS vb FROM events),
        |tr AS (SELECT DISTINCT COALESCE(event_type, chr(1) || 'null')
        |    || '|' || COALESCE(CAST(vb AS VARCHAR), chr(1) || 'null')
        |  AS bk FROM ev WHERE user_id % 5 <> 0),
        |te AS (SELECT COALESCE(event_type, chr(1) || 'null')
        |    || '|' || COALESCE(CAST(vb AS VARCHAR), chr(1) || 'null') AS bk
        |  FROM ev WHERE user_id % 5 = 0)
        |SELECT CAST((SELECT COUNT(*) FROM te) AS BIGINT) AS n_test,
        |  CAST((SELECT COUNT(*) FROM te WHERE bk IN (SELECT bk FROM tr))
        |    AS BIGINT) AS n_covered,
        |  CAST((SELECT COUNT(*) FROM te) AS BIGINT)
        |    - CAST((SELECT COUNT(*) FROM te
        |        WHERE bk IN (SELECT bk FROM tr)) AS BIGINT) AS n_unseen,
        |  (CAST((SELECT COUNT(*) FROM te WHERE bk IN (SELECT bk FROM tr))
        |    AS BIGINT) * 1000000)
        |    // GREATEST(1, (SELECT COUNT(*) FROM te)) AS coverage_ppm,
        |  CAST((SELECT COUNT(*) FROM tr) AS BIGINT) AS n_train_buckets,
        |  CAST((SELECT COUNT(DISTINCT bk) FROM te) AS BIGINT)
        |    AS n_test_buckets""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events").select(col("user_id"), col("event_type"),
        floor(col("value")).cast("long").as("vb"))
      graft.operators.Quality.supportCoverage(
        ev.filter(col("user_id") % 5 =!= 0),
        ev.filter(col("user_id") % 5 === 0),
        Seq("event_type", "vb"))
    },
    // CMS ranking fidelity: top-10 by estimate vs top-10 by exact count
    // under a deliberately collision-heavy 2x64 sketch.
    Query("qx16_cms_recall", Some(
      s"""WITH vals AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events),
        |b AS (SELECT v, i,
        |    ${hex52("md5('c' || i || '_' || v)")} % 64 AS bkt
        |  FROM vals CROSS JOIN (SELECT unnest([0, 1]) AS i)),
        |counters AS (SELECT i, bkt, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2),
        |probe AS (SELECT DISTINCT v, i, bkt FROM b),
        |est AS (SELECT v, MIN(c) AS cms_est FROM probe
        |  JOIN counters USING (i, bkt) GROUP BY v),
        |exact AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS exact_count
        |  FROM vals GROUP BY v),
        |hh AS (SELECT exact.v, exact_count, cms_est FROM exact
        |  JOIN est USING (v)),
        |et AS (SELECT v FROM hh ORDER BY exact_count DESC, v LIMIT 10),
        |at AS (SELECT v FROM hh ORDER BY cms_est DESC, v LIMIT 10),
        |h2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM et
        |  WHERE v IN (SELECT v FROM at)),
        |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM et)
        |SELECT k, hits, (hits * 1000000) // GREATEST(1, k) AS recall_ppm
        |FROM kk, h2""".stripMargin)) { (s, d) =>
      graft.operators.Sketches.cmsTopKRecall(t(s, d, "events"),
        "user_id", k = 10, depth = 2, width = 64)
    },
    // Conversion-time CDF: share of signups converted within each
    // whole-day offset.
    Query("qa22_conversion_curve", Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type
        |  FROM events),
        |f AS (SELECT user_id, MIN(tus) AS s FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signups FROM f),
        |d AS (SELECT e.user_id,
        |    MIN((e.tus - f.s) // 86400000000) AS day_offset
        |  FROM e JOIN f ON f.user_id = e.user_id AND e.tus >= f.s
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |pd AS (SELECT day_offset, CAST(COUNT(*) AS BIGINT) AS n_new FROM d
        |  GROUP BY day_offset)
        |SELECT CAST(day_offset AS BIGINT) AS day_offset, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_converted,
        |  (CAST(SUM(n_new) OVER (ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    * 1000000) // n_signups AS cdf_ppm
        |FROM pd CROSS JOIN ns ORDER BY day_offset""".stripMargin)) { (s, d) =>
      graft.streaming.EventStream.conversionCurve(t(s, d, "events"))
        .orderBy("day_offset")
    },
    // Join fan-out audit of orders -> lineitem.
    Query("qq26_fanout_audit", Some(
      """WITH pk AS (SELECT DISTINCT o_orderkey AS k FROM orders),
        |counts AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY l_orderkey),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
        |    CAST(SUM(c) AS BIGINT) AS n_children,
        |    CAST(MAX(c) AS BIGINT) AS max_per_parent
        |  FROM counts WHERE k IN (SELECT k FROM pk)),
        |cl AS (SELECT CAST(COUNT(*) AS BIGINT) AS childless_parents FROM pk
        |  WHERE k NOT IN (SELECT k FROM counts)),
        |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parents FROM pk)
        |SELECT 'orders->lineitem' AS rel, n_parents,
        |  COALESCE(n_children, 0) AS n_children, childless_parents,
        |  (COALESCE(n_children, 0) * 100) // GREATEST(1, n_matched)
        |    AS avg_x100,
        |  COALESCE(max_per_parent, 0) AS max_per_parent
        |FROM np, m, cl""".stripMargin)) { (s, d) =>
      graft.operators.Quality.fanoutAudit(
        t(s, d, "orders"), "o_orderkey",
        t(s, d, "lineitem"), "l_orderkey", "orders->lineitem")
    }
  )

  /** The qg08 oracle: the identical L∞-normalized integer HITS
    * iterations unrolled — authority from hubs, normalize, hub from the
    * fresh authorities, normalize; non-negative operands make `//`
    * Spark's `div`. */
  private def hitsOracle(iters: Int, scale: Long): String = {
    val steps = (1 to iters).map { i =>
      s"""a${i}r AS (SELECT e.dst AS n, CAST(SUM(h.h) AS BIGINT) AS a
         |  FROM h${i - 1} h JOIN e ON e.src = h.n GROUP BY e.dst),
         |a$i AS (SELECT n, (a * $scale) // (SELECT MAX(a) FROM a${i}r) AS a
         |  FROM a${i}r),
         |h${i}r AS (SELECT e.src AS n, CAST(SUM(a.a) AS BIGINT) AS h
         |  FROM a$i a JOIN e ON e.dst = a.n GROUP BY e.src),
         |h$i AS (SELECT n, (h * $scale) // (SELECT MAX(h) FROM h${i}r) AS h
         |  FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT -l_orderkey AS src, l_partkey AS dst
       |  FROM lineitem WHERE l_orderkey % 50 = 0),
       |nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT n, $scale AS h FROM nodes),
       |$steps
       |SELECT nodes.n,
       |  CAST(COALESCE(hf.h, 0) AS BIGINT) AS hub,
       |  CAST(COALESCE(af.a, 0) AS BIGINT) AS auth
       |FROM nodes LEFT JOIN h$iters hf ON hf.n = nodes.n
       |LEFT JOIN a$iters af ON af.n = nodes.n
       |ORDER BY nodes.n""".stripMargin
  }

  /** The qg04 oracle: the identical scaled-integer power iteration
    * unrolled as one CTE per round. SUMs are cast back to BIGINT (DuckDB
    * types SUM(BIGINT) as HUGEINT — the qd36 lesson) and every division
    * is `//`, matching Spark's `div` on the all-non-negative operands. */
  private def pageRankOracle(iters: Int, scale: Long): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (SELECT nd.n,
         |    (($scale * 15) // 100) // nn.cnt
         |      + (85 * COALESCE(c.s, 0)) // 100 AS r
         |  FROM nodes nd CROSS JOIN nn
         |  LEFT JOIN (SELECT dir.dst AS n, CAST(SUM(p.r // od.d) AS BIGINT) AS s
         |    FROM r${k - 1} p JOIN dir ON dir.src = p.n
         |    JOIN outdeg od ON od.src = p.n
         |    GROUP BY dir.dst) c ON c.n = nd.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${coPurchaseCtes(50)},
       |dir AS (SELECT u AS src, v AS dst FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |outdeg AS (SELECT src, COUNT(*) AS d FROM dir GROUP BY src),
       |nodes AS (SELECT src AS n FROM outdeg),
       |nn AS (SELECT COUNT(*) AS cnt FROM nodes),
       |r0 AS (SELECT n, $scale // nn.cnt AS r FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT n, r AS pagerank FROM r$iters ORDER BY n""".stripMargin
  }

  /** The qg10 oracle: [[pageRankOracle]] with the teleport mass landing
    * only on the %97 seed vertices — the identical unrolled recurrence. */
  private def pprOracle(iters: Int, scale: Long): String = {
    val steps = (1 to iters).map { kk =>
      s"""r$kk AS (SELECT nd.n,
         |    CASE WHEN sd.n IS NOT NULL
         |      THEN (($scale * 15) // 100) // ns.scnt ELSE 0 END
         |      + (85 * COALESCE(c.s, 0)) // 100 AS r
         |  FROM nodes nd CROSS JOIN ns
         |  LEFT JOIN seeds sd ON sd.n = nd.n
         |  LEFT JOIN (SELECT dir.dst AS n, CAST(SUM(p.r // od.d) AS BIGINT) AS s
         |    FROM r${kk - 1} p JOIN dir ON dir.src = p.n
         |    JOIN outdeg od ON od.src = p.n
         |    GROUP BY dir.dst) c ON c.n = nd.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${coPurchaseCtes(50)},
       |dir AS (SELECT u AS src, v AS dst FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |outdeg AS (SELECT src, COUNT(*) AS d FROM dir GROUP BY src),
       |nodes AS (SELECT src AS n FROM outdeg),
       |seeds AS (SELECT n FROM nodes WHERE n % 97 = 0),
       |ns AS (SELECT COUNT(*) AS scnt FROM seeds),
       |r0 AS (SELECT nd.n,
       |    CASE WHEN sd.n IS NOT NULL THEN $scale // ns.scnt ELSE 0 END AS r
       |  FROM nodes nd CROSS JOIN ns LEFT JOIN seeds sd ON sd.n = nd.n),
       |$steps
       |SELECT n, r AS ppr FROM r$iters ORDER BY n""".stripMargin
  }

  /** The synchronous label propagation of qg05 and qg16: `dir` holds both
    * directions of each co-purchase edge, `l0` gives every vertex its own
    * label, and each of the `iters` rounds `l1`.. moves a vertex to the
    * label most of its neighbours hold, ties to the smallest (ROW_NUMBER
    * = 1 over count DESC, label ASC is the operator's
    * `min_by(lbl, (-count, lbl))`). No trailing comma. */
  private def labelPropCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""l$k AS (SELECT n, lbl FROM (
         |  SELECT dir.dst AS n, p.lbl,
         |    ROW_NUMBER() OVER (PARTITION BY dir.dst
         |      ORDER BY COUNT(*) DESC, p.lbl ASC) AS rn
         |  FROM l${k - 1} p JOIN dir ON dir.src = p.n
         |  GROUP BY dir.dst, p.lbl) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""dir AS (SELECT u AS src, v AS dst FROM edges
       |  UNION ALL SELECT v, u FROM edges),
       |l0 AS (SELECT DISTINCT src AS n, src AS lbl FROM dir),
       |$steps""".stripMargin
  }

  /** The qg16 oracle: the identical unrolled label propagation (the qg05
    * oracle's steps verbatim) followed by conductance algebra on the
    * converged communities. */
  private def conductanceOracle(iters: Int): String = {
    s"""WITH ${coPurchaseCtes(50)},
       |${labelPropCtes(iters)},
       |comm AS (SELECT n, lbl FROM l$iters),
       |deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d FROM dir
       |  GROUP BY src),
       |vol AS (SELECT c.lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(deg.d) AS BIGINT) AS volume
       |  FROM comm c JOIN deg ON deg.n = c.n GROUP BY c.lbl),
       |m2 AS (SELECT CAST(SUM(volume) AS BIGINT) AS total_vol FROM vol),
       |ce AS (SELECT cu.lbl AS lu, cv.lbl AS lv FROM edges e
       |  JOIN comm cu ON cu.n = e.u JOIN comm cv ON cv.n = e.v
       |  WHERE cu.lbl <> cv.lbl),
       |cut AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS cut FROM (
       |    SELECT lu AS community FROM ce UNION ALL SELECT lv FROM ce)
       |  GROUP BY community)
       |SELECT v.community, n_nodes, volume, COALESCE(cut.cut, 0) AS cut,
       |  (COALESCE(cut.cut, 0) * 1000000) //
       |    GREATEST(1, LEAST(volume, total_vol - volume)) AS conductance_ppm
       |FROM vol v CROSS JOIN m2 LEFT JOIN cut ON cut.community = v.community
       |ORDER BY v.community""".stripMargin
  }

  /** The qg05 oracle: [[labelPropCtes]] read out per vertex. */
  private def labelPropOracle(iters: Int): String = {
    s"""WITH ${coPurchaseCtes(50)},
       |${labelPropCtes(iters)}
       |SELECT n, lbl AS label FROM l$iters ORDER BY n""".stripMargin
  }

  /** The qg06 oracle: the identical fixed-round k-core peel unrolled —
    * each round keeps vertices whose degree inside the surviving
    * subgraph is >= k; the tail recomputes survivor-subgraph degrees. */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    def degWithin(alive: String): String =
      s"""SELECT x AS n, COUNT(*) AS deg FROM (
         |    SELECT e.u AS x FROM edges e
         |      JOIN $alive p ON e.u = p.n JOIN $alive q ON e.v = q.n
         |    UNION ALL
         |    SELECT e.v FROM edges e
         |      JOIN $alive p ON e.u = p.n JOIN $alive q ON e.v = q.n)
         |  GROUP BY x""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""a$r AS (SELECT n FROM (
         |${degWithin(s"a${r - 1}")}) WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${coPurchaseCtes(50)},
       |a0 AS (SELECT u AS n FROM edges UNION SELECT v FROM edges),
       |$steps
       |SELECT n, deg FROM (
       |${degWithin(s"a$rounds")}) ORDER BY n""".stripMargin
  }
}
