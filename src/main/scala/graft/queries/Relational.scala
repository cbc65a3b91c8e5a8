package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational query surface verified against the DuckDB oracle (SURVEY §2.6).
  *
  * Determinism rule for cross-engine hash parity: never emit an
  * order-dependent floating-point aggregate. Double measures are cast to an
  * exact decimal *before* SUM (order-independent), then cast back to double
  * (deterministic nearest-double), so Spark and DuckDB agree bit-for-bit.
  */
object Relational {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // the one event-time unit: events.ts leaves the scan as long epoch
    // micros, what every oracle reads as epoch_us(ts)
    if (name == "events") graft.streaming.EventStream.tsMicros(df) else df
  }

  /** In oracle SQL, a hex string's first 13 digits as a non-negative 52-bit
    * integer: the twin of Spark's `conv(substring(h, 1, 13), 16, 10)
    * .cast("long")`, with which the query modules turn an md5 into a
    * deterministic hash. `hex` is a DuckDB expression such as `md5(...)`. */
  private[queries] def hex52(hex: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 13), j ->
       |    CAST(instr('0123456789abcdef', substr($hex, CAST(j AS INT), 1)) - 1 AS BIGINT)
       |      * CAST(16 ** (13 - j) AS BIGINT))) AS BIGINT)""".stripMargin

  /** SUM(measure) with exact decimal accumulation, emitted as double. */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(30,$scale)")).cast("double")

  /** Money expressions: cast each factor to decimal BEFORE multiplying so
    * the per-row product is exact decimal arithmetic in both engines (a
    * double product cast to decimal can round differently across engines
    * at the target scale). Inputs have <= 2 true decimal digits. */
  private def m(name: String): Column = col(name).cast("decimal(10,2)")
  private def revenue: Column = m("l_extendedprice") * (lit(1).cast("decimal(10,2)") - m("l_discount"))
  private def charge: Column = revenue * (lit(1).cast("decimal(10,2)") + m("l_tax"))

  val queries: Seq[Query] = Seq(
    // Q1-style pricing summary: scan -> partial/final hash agg, 4-way.
    Query("q01_pricing_summary", Some(
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2))) * (CAST(1 AS DECIMAL(10,2)) + CAST(l_tax AS DECIMAL(10,2)))) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          sum(revenue).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // Q6-style filtered global agg: predicate pushdown to parquet scan.
    Query("q02_filtered_revenue", Some(
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin)) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(sum(m("l_extendedprice") * m("l_discount")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },
    // Q3-style join + agg + deterministic top-k.
    Query("q03_join_topk", Some(
      """SELECT l_orderkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * (CAST(1 AS DECIMAL(10,2)) - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)) { (s, d) =>
      val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    // Left-semi join (EXISTS).
    Query("q04_semi_join", Some(
      """SELECT o_orderstatus, COUNT(*) AS n_orders FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) { (s, d) =>
      val o = t(s, d, "orders")
      val flagged = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey"))
      o.join(flagged, Seq("o_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    },
    // Left-anti join (NOT EXISTS).
    Query("q05_anti_join", Some(
      """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)) { (s, d) =>
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    },
    // Window: top-2 orders per customer by price (row_number).
    Query("q06_window_topn", Some(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin)) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
    // Window: lag + running count per customer ordered by date.
    Query("q07_window_lag", Some(
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_orders
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("run_orders",
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("o_custkey") < 200)
        .select("o_custkey", "o_orderkey", "prev_price", "run_orders")
        .orderBy("o_custkey", "o_orderkey")
    },
    // Rollup over two dims.
    Query("q08_rollup", Some(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)) { (s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
    // Cube over two small dims.
    Query("q09_cube", Some(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)) { (s, d) =>
      t(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
    // Exact distinct aggregation (expand + two-phase agg).
    Query("q10_count_distinct", Some(
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
    // Set operations: nations having customers vs suppliers.
    Query("q11_set_ops", Some(
      """SELECT nationkey, which FROM (
        |  SELECT nationkey, 'both' AS which FROM
        |    (SELECT c_nationkey AS nationkey FROM customer
        |     INTERSECT SELECT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT nationkey, 'customer_only' AS which FROM
        |    (SELECT c_nationkey AS nationkey FROM customer
        |     EXCEPT SELECT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT nationkey, 'supplier_only' AS which FROM
        |    (SELECT s_nationkey AS nationkey FROM supplier
        |     EXCEPT SELECT c_nationkey FROM customer)
        |) ORDER BY which, nationkey""".stripMargin)) { (s, d) =>
      val cn = t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      val sn = t(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
      cn.intersect(sn).withColumn("which", lit("both"))
        .unionAll(cn.except(sn).withColumn("which", lit("customer_only")))
        .unionAll(sn.except(cn).withColumn("which", lit("supplier_only")))
        .orderBy("which", "nationkey")
    },
    // Q12-style conditional aggregation over a join.
    Query("q12_case_agg", Some(
      """SELECT o_orderpriority,
        | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        | CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_other
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_quantity > 30
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, d) =>
      val o = t(s, d, "orders")
      val l = t(s, d, "lineitem").filter(col("l_quantity") > 30)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_finished"),
          sum(when(col("o_orderstatus") =!= "F", 1).otherwise(0)).as("n_other"))
        .orderBy("o_orderpriority")
    },
    // String function breadth.
    Query("q13_string_funcs", Some(
      """SELECT p_partkey, UPPER(p_name) AS uname, CAST(LENGTH(p_name) AS INT) AS name_len,
        | SUBSTR(p_name, 1, 5) AS name_pfx,
        | p_brand || '/' || p_type AS brand_type,
        | REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS no_vowels,
        | STR_SPLIT(p_name, ' ')[1] AS first_word
        |FROM part WHERE p_partkey < 500 ORDER BY p_partkey""".stripMargin)) { (s, d) =>
      t(s, d, "part").filter(col("p_partkey") < 500)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 5).as("name_pfx"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("no_vowels"),
          split(col("p_name"), " ").getItem(0).as("first_word"))
        .orderBy("p_partkey")
    },
    // Date/time function breadth.
    Query("q14_date_funcs", Some(
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        | CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS o_month,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""".stripMargin)) { (s, d) =>
      t(s, d, "orders")
        .groupBy(
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_year", "o_month")
    },
    // JSON extraction on events.props.
    Query("q15_json_extract", Some(
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
        | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin)) { (s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .orderBy("k_bucket")
    },
    // Scalar subquery: parts above exact global mean price.
    Query("q16_scalar_subquery", Some(
      """SELECT p_brand, COUNT(*) AS n_above FROM part
        |WHERE p_retailprice > (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) FROM part)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)) { (s, d) =>
      val p = t(s, d, "part")
      val stats = p.agg(
        (sum(col("p_retailprice").cast("decimal(30,2)")).cast("double") /
          count(lit(1))).as("mean_price"))
      p.join(broadcast(stats))
        .filter(col("p_retailprice") > col("mean_price"))
        .groupBy("p_brand").agg(count(lit(1)).as("n_above"))
        .orderBy("p_brand")
    },
    // Correlated-EXISTS chain as semi joins: suppliers of large parts.
    Query("q17_exists_chain", Some(
      """SELECT s_suppkey, s_name FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_suppkey = s.s_suppkey AND p.p_size >= 45)
        |ORDER BY s_suppkey""".stripMargin)) { (s, d) =>
      val bigParts = t(s, d, "part").filter(col("p_size") >= 45)
        .select(col("p_partkey").as("l_partkey"))
      val li = t(s, d, "lineitem").join(broadcast(bigParts), Seq("l_partkey"), "left_semi")
        .select(col("l_suppkey").as("s_suppkey"))
      t(s, d, "supplier").join(li, Seq("s_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },
    // Two-level aggregation: distribution of orders-per-customer.
    Query("q18_nested_agg", Some(
      """SELECT n_orders, COUNT(*) AS n_customers FROM (
        |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey)
        |GROUP BY n_orders ORDER BY n_orders""".stripMargin)) { (s, d) =>
      t(s, d, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
        .orderBy("n_orders")
    },
    // Broadcast dimension chain: region -> nation -> customer.
    Query("q19_dim_join", Some(
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)) { (s, d) =>
      val r = t(s, d, "region")
      val n = t(s, d, "nation")
      val c = t(s, d, "customer")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal"), 2).as("sum_acctbal"))
        .orderBy("r_name", "n_name")
    },
    // Deterministic global sort + limit.
    Query("q20_sort_limit", Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin)) { (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },
    // Lateral explode (generator) + frequency top-k with tie-break.
    Query("q21_explode_tokens", Some(
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 25""".stripMargin)) { (s, d) =>
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(25)
    },
    // Distribution window functions: ntile / percent_rank / cume_dist.
    Query("q22_distribution_windows", Some(
      """SELECT o_orderkey, o_orderstatus,
        | CAST(NTILE(4) OVER w AS INT) AS quartile,
        | PERCENT_RANK() OVER w AS pct_rank,
        | CUME_DIST() OVER w AS cume
        |FROM orders WHERE o_orderkey < 800
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)) { (s, d) =>
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders").filter(col("o_orderkey") < 800)
        .select(col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("o_orderkey")
    },
    // Time-series gap-fill resample: zero-filled hourly buckets per user
    // between each user's first and last event (sequence + explode — the
    // distributed densify pattern; no driver-side calendar).
    Query("q24_gap_fill", Some(
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 3600000000 AS bkt
        |  FROM events WHERE user_id < 40),
        |per AS (SELECT user_id, bkt, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(bkt) AS b0, MAX(bkt) AS b1 FROM ev GROUP BY 1),
        |al AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bkt FROM span)
        |SELECT a.user_id, a.bkt, COALESCE(p.n, 0) AS n
        |FROM al a LEFT JOIN per p ON p.user_id = a.user_id AND p.bkt = a.bkt
        |ORDER BY a.user_id, a.bkt""".stripMargin)) { (s, d) =>
      val ev = t(s, d, "events").filter(col("user_id") < 40)
        .withColumn("bkt", expr("ts div 3600000000"))
      val per = ev.groupBy("user_id", "bkt").agg(count(lit(1)).as("n"))
      val span = ev.groupBy("user_id").agg(min("bkt").as("b0"), max("bkt").as("b1"))
      span.select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("bkt"))
        .join(per, Seq("user_id", "bkt"), "left")
        .na.fill(0L, Seq("n"))
        .orderBy("user_id", "bkt")
    },
    // Statistical aggregates (corr / covar_samp / stddev_samp) computed
    // from EXACT decimal component sums (n, sum x, sum y, sum xy, sum x2,
    // sum y2): the only floating point is the final scalar formula over
    // exact components, which is a fixed IEEE expression tree identical in
    // any engine — unlike built-in corr()/stddev(), whose running-state
    // accumulation is order-dependent and engine-specific.
    Query("q25_exact_stats", Some(
      """WITH s AS (SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(14,2)) * 100 AS BIGINT) AS xs,
        |  CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS ys
        | FROM lineitem),
        |c AS (SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(xs) AS sx, SUM(ys) AS sy,
        |  SUM(xs * ys) AS sxy, SUM(xs * xs) AS sxx, SUM(ys * ys) AS syy
        | FROM s GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |   (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) / 10000.0 AS covar_samp,
        | sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |   (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100.0 AS stddev_qty,
        | sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |   (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100.0 AS stddev_price,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |   (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price
        |FROM c ORDER BY l_returnflag""".stripMargin)) { (s, d) =>
      // INTEGER-scaled inputs (x100: both measures have <= 2 true decimal
      // digits) so every component sum is an exact INTEGER. The sums go to
      // double via one correctly-rounded int->double conversion in both
      // engines — a decimal-with-scale -> double cast instead would
      // double-round in DuckDB (exact-int conversion already rounds past
      // 2^53, then the 10^-scale division rounds again) and came out 1 ulp
      // off Spark's correctly-rounded BigDecimal cast at sf0.001. The
      // constant 100/10000 descale divisions happen LAST, on identical
      // doubles in both engines.
      val x = (col("l_quantity").cast("decimal(14,2)") * 100).cast("long")
      val y = (col("l_extendedprice").cast("decimal(14,2)") * 100).cast("long")
      def dd(n: String) = col(n).cast("double")
      t(s, d, "lineitem")
        .select(col("l_returnflag"), x.as("xs"), y.as("ys"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("xs")).as("sx"), sum(col("ys")).as("sy"),
          sum((col("xs") * col("ys")).cast("decimal(38,0)")).as("sxy"),
          sum((col("xs") * col("xs")).cast("decimal(38,0)")).as("sxx"),
          sum((col("ys") * col("ys")).cast("decimal(38,0)")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((dd("n") * dd("sxy") - dd("sx") * dd("sy")) /
            (dd("n") * (dd("n") - 1)) / 10000.0).as("covar_samp"),
          (sqrt((dd("n") * dd("sxx") - dd("sx") * dd("sx")) /
            (dd("n") * (dd("n") - 1))) / 100.0).as("stddev_qty"),
          (sqrt((dd("n") * dd("syy") - dd("sy") * dd("sy")) /
            (dd("n") * (dd("n") - 1))) / 100.0).as("stddev_price"),
          ((dd("n") * dd("sxy") - dd("sx") * dd("sy")) /
            (sqrt(dd("n") * dd("sxx") - dd("sx") * dd("sx")) *
              sqrt(dd("n") * dd("syy") - dd("sy") * dd("sy")))).as("corr_qty_price"))
        .orderBy("l_returnflag")
    },
    // Rolling 30-day time-RANGE window per customer (value-based frame,
    // not row-based): every order sees the count/sum of that customer's
    // orders in the preceding 30 days. Integer-millisecond frame bounds so
    // both engines compare the identical quantity.
    Query("q26_rolling_window", Some(
      """SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS ms,
        | COUNT(*) OVER w AS n_30d,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE) AS sum_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
        |  RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("ms"))
        .rangeBetween(-30L * 86400 * 1000, 0)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          // o_orderdate reads as TIMESTAMP_NTZ; cast through TIMESTAMP in
          // the UTC session so unix_millis == DuckDB epoch_ms
          unix_millis(col("o_orderdate").cast("timestamp")).as("ms"),
          col("o_totalprice").cast("decimal(14,2)").as("p"))
        .withColumn("n_30d", count(lit(1)).over(w))
        .withColumn("sum_30d", sum(col("p")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "ms", "n_30d", "sum_30d")
        .orderBy("o_custkey", "o_orderkey")
    },
    // Unpivot/melt: wide measure columns -> (measure, val) long format via
    // stack() — the transpose half of qp03's pivot.
    Query("q27_unpivot", Some(
      """SELECT l_orderkey, l_linenumber, 'qty' AS measure, l_quantity AS val
        |FROM lineitem WHERE l_orderkey < 300
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
        |FROM lineitem WHERE l_orderkey < 300
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'disc', l_discount
        |FROM lineitem WHERE l_orderkey < 300
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)) { (s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") < 300)
        .selectExpr("l_orderkey", "l_linenumber",
          """stack(3, 'qty', l_quantity, 'price', l_extendedprice,
            |  'disc', l_discount) AS (measure, val)""".stripMargin)
        .orderBy("l_orderkey", "l_linenumber", "measure")
    },
    // Correlated LATERAL subquery (top lineitem per order) — exercises
    // Catalyst's lateral-join decorrelation; DuckDB runs the identical
    // SQL shape.
    Query("q29_lateral", Some(
      """SELECT o.o_orderkey, o.o_totalprice, l.top_qty, l.top_part
        |FROM orders o, LATERAL (
        |  SELECT l_quantity AS top_qty, l_partkey AS top_part
        |  FROM lineitem WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_quantity DESC, l_linenumber, l_partkey LIMIT 1) l
        |WHERE o.o_orderkey < 500
        |ORDER BY o.o_orderkey""".stripMargin)) { (s, d) =>
      t(s, d, "orders").createOrReplaceTempView("orders_lat")
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_lat")
      s.sql(
        """SELECT o.o_orderkey, o.o_totalprice, l.top_qty, l.top_part
          |FROM orders_lat o, LATERAL (
          |  SELECT l_quantity AS top_qty, l_partkey AS top_part
          |  FROM lineitem_lat WHERE l_orderkey = o.o_orderkey
          |  ORDER BY l_quantity DESC, l_linenumber, l_partkey LIMIT 1) l
          |WHERE o.o_orderkey < 500
          |ORDER BY o.o_orderkey""".stripMargin)
    },
    // The remaining rank-family window functions: percent_rank, cume_dist,
    // ntile, nth_value — rank-arithmetic doubles, engine-identical.
    Query("q28_rank_functions", Some(
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cdist,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | nth_value(l_quantity, 3) OVER (PARTITION BY l_returnflag
        |   ORDER BY l_quantity, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_qty
        |FROM lineitem WHERE l_orderkey < 2000
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber)
        |ORDER BY l_returnflag, l_quantity, l_orderkey, l_linenumber""".stripMargin)) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      t(s, d, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).as("quartile"),
          nth_value(col("l_quantity"), 3).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("third_qty"))
        .orderBy("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
    },
    // Regex scalar functions: extract + global replace.
    Query("q23_regex_funcs", Some(
      """SELECT p_partkey,
        | regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        | regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
        | CAST(length(regexp_replace(p_name, '[^ ]', '', 'g')) AS INT) AS n_spaces
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin)) { (s, d) =>
      t(s, d, "part").filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
          length(regexp_replace(col("p_name"), "[^ ]", "")).as("n_spaces"))
        .orderBy("p_partkey")
    }
  )
}
