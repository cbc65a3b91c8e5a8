package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality audit — the Deequ-style contract checks a
  * production 100 TB ingest runs before publishing a snapshot: violation
  * COUNTS (never row samples — those are a debugging follow-up query),
  * uniform output `(rule, target, violations, checked)` so downstream
  * gating is one filter.
  *
  * Scale shape: every row-local rule (not-null, non-negative, set
  * membership) folds into ONE aggregate pass over the table — adding a
  * rule adds a column to the same partial agg, not a scan. Uniqueness is
  * one groupBy per key set (count over the key's own shuffle);
  * referential integrity is a distinct-keys anti-join, never a row-level
  * join.
  */
object Quality {

  /** Row-local + uniqueness rules.
    * @param notNull      columns that must be non-null
    * @param nonNegative  numeric columns that must be >= 0
    * @param inSet        column -> allowed values
    * @param unique       key sets that must be duplicate-free (a key set
    *                     with n occurrences of a key counts n-1 violations)
    * @param bounds       column -> inclusive (min, max) numeric range
    * @param matches      column -> regex the value must match (Spark
    *                     `rlike` / DuckDB `regexp_matches` semantics:
    *                     unanchored — anchor with ^...$ for a full match)
    *
    * Null discipline for bounds/matches/inSet/nonNegative: a NULL value
    * is NOT a violation (null comparisons fall to the otherwise-0 branch)
    * — nullability is `notNull`'s job, so one bad row doesn't double-count
    * across rules. An empty input (or zero rules) reports zero violations
    * (empty result for zero rules), never an error — an ingest gate must
    * pass a legitimately empty snapshot. */
  def audit(df: DataFrame, notNull: Seq[String] = Nil,
      nonNegative: Seq[String] = Nil,
      inSet: Map[String, Seq[String]] = Map.empty,
      unique: Seq[Seq[String]] = Nil,
      bounds: Map[String, (Double, Double)] = Map.empty,
      matches: Map[String, String] = Map.empty): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rowLocal: Seq[(String, String, Column)] =
      notNull.map(c => ("not_null", c,
        sum(when(col(c).isNull, 1L).otherwise(0L)))) ++
      nonNegative.map(c => ("non_negative", c,
        sum(when(col(c) < 0, 1L).otherwise(0L)))) ++
      inSet.toSeq.sortBy(_._1).map { case (c, allowed) =>
        ("in_set", c, sum(when(!col(c).isin(allowed: _*), 1L).otherwise(0L)))
      } ++
      bounds.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        // an inverted band would flag every non-null row with no hint the
        // RULE is malformed — fail loudly at build time instead
        require(lo <= hi, s"bounds rule for '$c' is inverted: lo=$lo > hi=$hi")
        ("bounds", c, sum(when(col(c) < lo || col(c) > hi, 1L).otherwise(0L)))
      } ++
      matches.toSeq.sortBy(_._1).map { case (c, re) =>
        ("regex", c, sum(when(!col(c).rlike(re), 1L).otherwise(0L)))
      }
    val locals: Seq[DataFrame] =
      if (rowLocal.isEmpty) Nil
      else {
        val aggs = rowLocal.map { case (r, c, e) => e.as(s"${r}__$c") } :+
          count(lit(1)).as("__checked")
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        // sum(...) over zero rows is NULL; count is 0 — report 0 violations
        val checked = row.getLong(rowLocal.size)
        rowLocal.zipWithIndex.map { case ((r, c, _), i) =>
          Seq((r, c, if (row.isNullAt(i)) 0L else row.getLong(i), checked))
            .toDF("rule", "target", "violations", "checked")
        }
      }
    val uniques: Seq[DataFrame] = unique.map { keys =>
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") - 1), lit(0L)).as("violations"),
          coalesce(sum("n"), lit(0L)).as("checked"))
        .select(lit("unique").as("rule"),
          lit(keys.mkString(",")).as("target"),
          col("violations"), col("checked"))
    }
    val all = locals ++ uniques
    if (all.isEmpty)
      Seq.empty[(String, String, Long, Long)]
        .toDF("rule", "target", "violations", "checked")
    else all.reduce(_ unionAll _)
  }

  /** Referential integrity: child keys with no matching parent —
    * (rule, target, violations = orphan DISTINCT keys, checked = child's
    * distinct keys). Distinct-keys anti-join: the join input is the key
    * cardinality, never the row count. */
  def refIntegrity(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val ck = child.select(col(childKey).as("k")).distinct()
    val pk = parent.select(col(parentKey).as("k")).distinct()
    val orphans = ck.join(pk, Seq("k"), "left_anti")
      .agg(count(lit(1)).as("violations"))
    ck.agg(count(lit(1)).as("checked")).crossJoin(orphans)
      .select(lit("ref_integrity").as("rule"),
        lit(s"$childKey->$parentKey").as("target"),
        col("violations"), col("checked"))
  }

  /** Column profile — the ANALYZE step before publishing a snapshot:
    * one row per requested NUMERIC column with
    * (column, n_rows, n_nonnull, n_distinct, min_val, max_val), min/max
    * as doubles (exact for the integer/decimal columns they summarize
    * here; the deterministic cast either way).
    *
    * Scale shape: ONE aggregate pass computes every column's stats —
    * profiling another column adds agg expressions, not a scan (Catalyst
    * expands the multi-distinct into its standard expand+partial-agg
    * plan); the single result row then unpivots driver-free via an
    * inline explode. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(cols.map(c => struct(
        lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_nonnull"), col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_val"), col(s"__mx_$c").as("max_val"))): _*))
        .as("p"))
      .select("p.*")
  }

  /** Equi-width histogram of a numeric column over [minVal, maxVal):
    * (bucket, n) with bucket = floor((v−min)·nbins/(max−min)) clamped to
    * [0, nbins−1] — out-of-range values land in the edge buckets, so
    * totals reconcile with the row count; NULLs are skipped. The
    * arithmetic is one deterministic double expression, identical in any
    * engine. One aggregation on the bucket key; empty buckets emit no
    * row (join against a `sequence` if a dense axis is needed). */
  def histogram(df: DataFrame, valueCol: String, minVal: Double,
      maxVal: Double, nbins: Int): DataFrame = {
    require(nbins >= 1 && nbins <= 100000, s"nbins out of range: $nbins")
    require(maxVal > minVal, "maxVal must exceed minVal")
    val v = col(valueCol).cast("double")
    val raw = floor((v - lit(minVal)) * nbins / (lit(maxVal) - lit(minVal)))
    df.filter(v.isNotNull)
      .select(least(lit(nbins - 1L), greatest(lit(0L),
        raw.cast("long"))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** Categorical distribution drift between two corpus slices — the
    * monitoring check for "did the source mix / language mix / label mix
    * move between snapshots": per value, both sides' counts and
    * proportions (ppm, integer `c·scale div n`), and a chi-square-shaped
    * contribution `(pa−pb)² div max(1, pa+pb)` in pure integer
    * arithmetic (engine-exact; PSI's ln() is not). Sum the contribution
    * column for a single drift score; values missing from a side count
    * as zero. Output: (value, n_a, n_b, pa_ppm, pb_ppm, contrib).
    *
    * Scale shape: two count aggregations on the value key, a full-outer
    * hash join of the (category-sized) count tables, and two one-row
    * total broadcasts — raw rows are scanned once per side. */
  def distributionDrift(a: DataFrame, b: DataFrame, valueCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1 && scale <= 1000000000L)
    def counts(df: DataFrame, tag: String) =
      df.select(col(valueCol).cast("string").as("value"))
        .groupBy("value").agg(count(lit(1)).as(s"n_$tag"))
    val na = broadcast(a.agg(count(lit(1)).as("na")))
    val nb = broadcast(b.agg(count(lit(1)).as("nb")))
    counts(a, "a").join(counts(b, "b"), Seq("value"), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
      .crossJoin(na).crossJoin(nb)
      .select(col("value"), col("n_a"), col("n_b"),
        expr(s"(n_a * ${scale}L) div greatest(1L, na)").as("pa_ppm"),
        expr(s"(n_b * ${scale}L) div greatest(1L, nb)").as("pb_ppm"))
      .withColumn("contrib", expr(
        "((pa_ppm - pb_ppm) * (pa_ppm - pb_ppm)) div greatest(1L, pa_ppm + pb_ppm)"))
  }

  /** Semi-structured (JSON) column profiler — the schema-inference view
    * over an events/props-style string column: one row per TOP-LEVEL key
    * with how many rows carry it, how many distinct values it takes, and
    * the lexicographic min/max of its extracted text (numbers and
    * booleans extract as their unquoted JSON literals — identical in any
    * engine — so min/max are byte-comparable). Malformed/NULL JSON rows
    * contribute nothing. The operational answer to "what is actually in
    * this props blob, and is anyone sneaking new fields in".
    *
    * Scale shape: one scan explodes each row into its key list
    * (`json_object_keys` + per-row `get_json_object`, all codegen-able
    * built-ins), then ONE partial-aggregated groupBy on the key — output
    * cardinality = the live schema's key count, however many rows. */
  def jsonKeyProfile(df: DataFrame, jsonCol: String): DataFrame =
    df.select(col(jsonCol).as("j"))
      .filter(col("j").isNotNull)
      .select(explode(json_object_keys(col("j"))).as("key"), col("j"))
      .withColumn("v", expr("get_json_object(j, concat('$.', key))"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("v")).as("n_distinct"),
        min("v").as("min_v"), max("v").as("max_v"))

  /** Pair-counting clustering agreement — the Rand index between two
    * labelings of the same rows (e.g. yesterday's dedup clusters vs
    * today's, LSH clusters vs SimHash clusters), computed WITHOUT
    * materializing any pairs: from the (a, b) contingency table,
    *   agree = C(n,2) + 2·ΣᵢⱼC(nᵢⱼ,2) − ΣᵢC(aᵢ,2) − ΣⱼC(bⱼ,2)
    * (pairs both labelings group together, plus pairs both separate),
    * `rand_ppm = agree·scale div C(n,2)` — all integer, engine-exact.
    * Returns one row: (n, total_pairs, both_pairs, a2, b2, agree_pairs,
    * rand_ppm). 10⁶ ppm = the labelings induce identical partitions.
    *
    * Scale shape: one groupBy on the label pair (contingency-table-
    * sized output), two marginal re-aggregations of that table, three
    * one-row aggregates crossed — raw rows are scanned once; no pair
    * relation ever exists. Overflow: `agree·scale < 2⁶³` needs
    * n ≲ 4·10⁶ at ppm scale — use scale 10³ beyond that. */
  def clusterAgreement(df: DataFrame, aCol: String, bCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1 && scale <= 1000000000L, s"scale out of range: $scale")
    val cells = df.select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("nij"))
    val p = cells.agg(sum(expr("(nij * (nij - 1)) div 2")).as("p"),
      sum("nij").as("n"))
    val a2 = cells.groupBy("a").agg(sum("nij").as("ai"))
      .agg(sum(expr("(ai * (ai - 1)) div 2")).as("a2"))
    val b2 = cells.groupBy("b").agg(sum("nij").as("bj"))
      .agg(sum(expr("(bj * (bj - 1)) div 2")).as("b2"))
    p.crossJoin(a2).crossJoin(b2)
      .select(col("n"), expr("(n * (n - 1)) div 2").as("total_pairs"),
        col("p").as("both_pairs"), col("a2"), col("b2"),
        expr("(n * (n - 1)) div 2 + 2 * p - a2 - b2").as("agree_pairs"))
      .withColumn("rand_ppm",
        expr(s"(agree_pairs * ${scale}L) div greatest(total_pairs, 1L)"))
  }

  /** Key-skew diagnostics — the pre-mortem for every shuffle in this
    * library: per-key row counts for the `topK` heaviest keys, each with
    * its share in ppm, alongside the global key count, row count, and
    * the Herfindahl–Hirschman concentration index in ppm
    * (`Σcᵢ²·scale div n²` — 1 000 000 = one key owns everything,
    * `scale div n_keys` = perfectly uniform). The number that says
    * whether a groupBy/join on this key needs salting ([[SkewJoin]])
    * before it needs a bigger cluster.
    *
    * Scale shape: one partial-aggregated count groupBy on the key, a
    * one-row global aggregate broadcast back over the (key-cardinality-
    * sized) count table, and a TakeOrdered top-k — the raw relation is
    * scanned once. Overflow bound: Σcᵢ² ≤ n², so n·scale must stay
    * under 2⁶³ — at the default ppm scale that is n < 9·10¹², beyond
    * any single table this engine will meet. */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 20,
      scale: Long = 1000000L): DataFrame = {
    require(topK >= 1 && topK <= 100000, s"topK out of range: $topK")
    require(scale >= 1 && scale <= 1000000000L, s"scale out of range: $scale")
    val counts = df.select(col(keyCol).cast("string").as("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
    val g = broadcast(counts.agg(
      count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
      sum(col("cnt") * col("cnt")).as("sum_sq")))
    counts.crossJoin(g)
      .select(col("key"), col("cnt"),
        expr(s"(cnt * ${scale}L) div n_rows").as("share_ppm"),
        col("n_keys"), col("n_rows"),
        expr(s"(sum_sq * ${scale}L) div (n_rows * n_rows)").as("hhi_ppm"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(topK)
  }

  /** k-anonymity audit — the release gate a training-data snapshot with
    * user-adjacent columns runs before publication: group rows by their
    * quasi-identifier combination and report how much of the table sits
    * in groups smaller than `k` (every such row is re-identifiable to
    * within its group). One summary row:
    * (k, n_rows, n_groups, small_groups, rows_at_risk, min_group_size,
    * risk_ppm = rows_at_risk·scale div n_rows). NULL quasi-identifier
    * values form their own group (SQL GROUP BY semantics) — a null
    * column does not hide a row from the audit.
    *
    * Scale shape: one partial-aggregated count groupBy on the
    * quasi-identifier tuple, then a one-row re-aggregation of the
    * (group-cardinality-sized) count table — the raw relation is
    * scanned once, nothing driver-side. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Int,
      scale: Long = 1000000L): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one column")
    require(k >= 2 && k <= 1000000, s"k out of range: $k")
    require(scale >= 1 && scale <= 1000000000L, s"scale out of range: $scale")
    df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("cnt") < k, 1L)), lit(0L)).as("small_groups"),
        coalesce(sum(when(col("cnt") < k, col("cnt"))), lit(0L))
          .as("rows_at_risk"),
        min("cnt").as("min_group_size"))
      .select(lit(k).cast("long").as("k"), col("n_rows"), col("n_groups"),
        col("small_groups"), col("rows_at_risk"), col("min_group_size"),
        expr(s"(rows_at_risk * ${scale}L) div greatest(1L, n_rows)")
          .as("risk_ppm"))
  }

  /** Cohen's kappa — chance-corrected agreement between two labelings of
    * the same rows (two annotators, a model vs gold, yesterday's
    * classifier vs today's). From the contingency table:
    *   po = Σᵢnᵢᵢ/n (observed agreement),
    *   pe = Σ_c aᶜ·bᶜ/n² (agreement expected from the marginals alone),
    *   κ = (po − pe)/(1 − pe),
    * all in integer ppm (`po_ppm = agree·scale div n`, `pe_ppm =
    * Σab·scale div n²`, `kappa_ppm = (po_ppm − pe_ppm)·scale div
    * (scale − pe_ppm)`) — engine-exact. One row: (n, agree, po_ppm,
    * pe_ppm, kappa_ppm). Degenerate case pe = scale (both annotators
    * constant and equal): po = pe, kappa reports 0 via the
    * greatest(1, ·) guard — flagging "no evidence beyond chance",
    * the standard reading.
    *
    * Scale shape: one groupBy on the label pair (contingency-sized
    * output); marginals re-aggregate that table and join on the
    * category value (category-cardinality relation, broadcast-sized);
    * raw rows are scanned once, no pair relation ever exists. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1 && scale <= 1000000000L, s"scale out of range: $scale")
    val cells = df.select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("nij"))
    val top = cells.agg(sum("nij").as("n"),
      coalesce(sum(when(col("a") <=> col("b"), col("nij"))), lit(0L))
        .as("agree"))
    val am = cells.groupBy("a").agg(sum("nij").as("ai"))
    val bm = cells.groupBy("b").agg(sum("nij").as("bj"))
    val ab = am.join(bm, am("a") <=> bm("b"))
      .agg(coalesce(sum(col("ai") * col("bj")), lit(0L)).as("sum_ab"))
    top.crossJoin(ab)
      .select(col("n"), col("agree"),
        expr(s"(agree * ${scale}L) div greatest(1L, n)").as("po_ppm"),
        expr(s"(sum_ab * ${scale}L) div greatest(1L, n * n)").as("pe_ppm"))
      .withColumn("kappa_ppm", expr(
        s"((po_ppm - pe_ppm) * ${scale}L) div greatest(1L, ${scale}L - pe_ppm)"))
  }

  /** Benford first-digit ppm expectations for digits 1..9 —
    * round(log10(1 + 1/d)·10⁶), inlined as LITERALS on both engine and
    * oracle sides so no runtime log10 has to agree across engines. */
  val BenfordPpm: Seq[Long] = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** Benford's-law first-digit audit — the fabricated-numbers smell test
    * for financial/metric columns: the distribution of the first
    * significant digit of `valueCol` (rows with value < 1 or NULL are
    * excluded — their first digit is scale-dependent) against the
    * Benford expectation, plus the total-variation distance between the
    * two in ppm. The first digit comes from `substring(cast(floor(v) as
    * bigint), 1, 1)` — floor-to-bigint then string, identical in every
    * engine, no float log10. Returns one row per observed digit:
    * (digit, n, obs_ppm, exp_ppm, dev_ppm = |obs−exp|) with the shared
    * (tvd_ppm = Σdev div 2, n_checked) columns repeated on each row.
    *
    * Scale shape: one count aggregation on the 9-value digit key; the
    * global total and TVD re-aggregate the 9-row table (broadcast
    * cross join). The raw relation is scanned once. */
  def benford(df: DataFrame, valueCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1 && scale <= 1000000000L, s"scale out of range: $scale")
    val exp9 = BenfordPpm.zipWithIndex
      .map { case (p, i) => (i + 1L, p * scale / 1000000L) }
    val spark = df.sparkSession
    import spark.implicits._
    val expDf = exp9.toDF("digit", "exp_ppm")
    val counts = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 1)
      .select(substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val obs = expDf.join(counts, Seq("digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val tot = obs.agg(sum("n").as("n_checked"))
    val dev = obs.join(broadcast(tot))
      .withColumn("obs_ppm",
        expr(s"(n * ${scale}L) div greatest(1L, n_checked)"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
    val tvd = dev.agg((sum("dev_ppm") / 2).cast("long").as("tvd_ppm"))
    dev.join(broadcast(tvd))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        col("dev_ppm"), col("tvd_ppm"), col("n_checked"))
      .orderBy("digit")
  }

  /** Heaps-law vocabulary growth — does the corpus still surface new
    * vocabulary, or has crawling saturated (the diminishing-returns
    * signal behind "do we need more of this source")? Documents bucket
    * into `nBuckets` id-RANGE slices (`(id − min)·nB div (max − min + 1)`
    * — O(1) per row, no global sort; ≈ ingestion order when ids are
    * ingestion-ordered, which is the deployment contract); each distinct
    * token is charged to the FIRST bucket it appears in. Returns one row
    * per non-empty bucket: (bucket, n_docs, bucket_tokens, new_types,
    * cum_types, cum_tokens) — the V(n) curve read directly.
    *
    * Scale shape: one token explode → min-bucket groupBy on the token
    * key (distinct-postings shuffle); doc/token totals per bucket ride
    * the same explode; the cumulative window runs over nBuckets rows.
    * No global ranking anywhere. */
  def heapsGrowth(df: DataFrame, textCol: String, idCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 10000)
    val bounds = broadcast(df.agg(
      min(col(idCol).cast("long")).as("lo"),
      max(col(idCol).cast("long")).as("hi")))
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol))
      .crossJoin(bounds)
      .withColumn("bucket",
        expr(s"((id - lo) * $nBuckets) div (hi - lo + 1)"))
    val docStats = base
      .withColumn("ntok", size(split(col(textCol), " ")).cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("bucket_tokens"))
    val firstSeen = base
      .select(col("bucket"), explode(split(col(textCol), " ")).as("token"))
      .groupBy("token").agg(min("bucket").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docStats.join(firstSeen, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
      .withColumn("cum_types", sum("new_types").over(w))
      .withColumn("cum_tokens", sum("bucket_tokens").over(w))
      .select("bucket", "n_docs", "bucket_tokens", "new_types",
        "cum_types", "cum_tokens")
  }

  /** Gini concentration of row mass over a key — how unequal is the
    * corpus's distribution over domains/sources/tokens (G = 0 uniform,
    * → 1 winner-takes-all; the "is one domain eating the crawl" gate):
    * with per-key counts x₁ ≤ … ≤ xₙ ranked ascending (key tie-break),
    *   G = 2·Σ(i·xᵢ) / (n·Σx) − (n+1)/n,
    * reported as gini_ppm = (2·Σ(i·xᵢ) − (n+1)·Σx)·10⁶ div (n·Σx) —
    * all-integer, engine-exact. One row:
    * (n_keys, total, rank_mass, gini_ppm). SCALE CONTRACT: the ranked
    * relation is the KEY summary (vocabulary-sized), so the global rank
    * sorts only that table — the T11 discipline; at extreme key
    * cardinality Σ(i·xᵢ)·10⁶ needs decimal headroom — counts here stay
    * far inside BIGINT.
    *
    * Single-key degenerate case (n = 1): G = 2 − 2 = 0 — correct, one
    * key holding everything is "equality among keys". */
  def giniConcentration(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("k"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("i", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("cnt"), col("k"))))
    ranked.agg(count(lit(1)).as("n_keys"), sum("cnt").as("total"),
        sum(col("i") * col("cnt")).as("rank_mass"))
      .withColumn("gini_ppm", expr(
        "((2 * rank_mass - (n_keys + 1) * total) * 1000000L) div " +
          "greatest(1L, n_keys * total)"))
  }

  /** JSON schema drift over time — when did new payload keys APPEAR
    * (the producer-deploy detector: a v2 field shows up as a new key in
    * the slice where the rollout landed): rows bucket into `nBuckets`
    * value-range slices of `orderCol` (the [[heapsGrowth]] O(1)
    * bucketing — no global sort); each distinct top-level JSON key is
    * charged to its first bucket. Returns per bucket: (bucket, n_rows,
    * new_keys, first_keys = comma-joined sorted names, cum_keys).
    *
    * Scale shape: one `json_object_keys` explode → min-bucket groupBy on
    * the key name; row counts per bucket ride the same scan; the
    * key-name collect is bounded by the LIVE KEY COUNT (schema-sized,
    * not row-sized); the cumulative window runs over nBuckets rows. */
  def schemaDrift(df: DataFrame, jsonCol: String, orderCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 10000)
    val bounds = broadcast(df.agg(
      min(col(orderCol).cast("long")).as("lo"),
      max(col(orderCol).cast("long")).as("hi")))
    val base = df.select(col(orderCol).cast("long").as("o"),
        col(jsonCol).as("j"))
      .crossJoin(bounds)
      .withColumn("bucket", expr(s"((o - lo) * $nBuckets) div (hi - lo + 1)"))
    val rows = base.groupBy("bucket").agg(count(lit(1)).as("n_rows"))
    val firstSeen = base
      .select(col("bucket"), explode(json_object_keys(col("j"))).as("key"))
      .groupBy("key").agg(min("bucket").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("new_keys"),
        array_join(sort_array(collect_list("key")), ",").as("first_keys"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    rows.join(firstSeen, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_keys")).na.fill("", Seq("first_keys"))
      .withColumn("cum_keys", sum("new_keys").over(w))
      .select("bucket", "n_rows", "new_keys", "first_keys", "cum_keys")
  }

  /** Cramér's V² association between two categorical columns — how
    * strongly does one column determine the other (0 = independent,
    * 10⁶ ppm = perfect association; [[fdViolations]] is the hard yes/no,
    * this is the soft strength): from the contingency table with cell
    * counts O, row totals rT, column totals cT and n rows, each cell
    * contributes (in deliberately TWO-STEP integer division so both
    * engines land on identical digits — documented approximation, not
    * IEEE chi-square)
    *   contrib = ((O·n − rT·cT)² div (rT·cT)) · 10⁶ div n,
    * chi2_scaled = Σ contrib ≈ χ²·10⁶, and
    * v2_ppm = chi2_scaled div (n·(min(r,c) − 1)). One row:
    * (n, n_rows_cat, n_cols_cat, chi2_scaled, v2_ppm). A single-category
    * side (min(r,c) = 1) reports v2 = 0 via the guard.
    *
    * Scale shape: one groupBy on the (a, b) pair (contingency-sized);
    * marginals re-aggregate that table and rejoin on the category
    * value; no pair relation over raw rows ever exists. */
  def cramersV2(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val rt = cells.groupBy("a").agg(sum("o").as("rt"))
    val ct = cells.groupBy("b").agg(sum("o").as("ct"))
    val tot = broadcast(cells.agg(sum("o").as("n"),
      countDistinct("a").as("nr"), countDistinct("b").as("nc")))
    // the FULL category grid: chi-square charges empty cells too
    // (O = 0 where E > 0) — without them association under-reads.
    // Constant-key broadcast equi-join, not a CartesianProduct: both
    // sides are category summaries, the row side broadcast-sized.
    broadcast(rt.withColumn("one", lit(1)))
      .join(ct.withColumn("one", lit(1)), "one").drop("one")
      .join(cells, Seq("a", "b"), "left").na.fill(0L, Seq("o"))
      .crossJoin(tot)
      .withColumn("d", expr("o * n - rt * ct"))
      .withColumn("contrib", expr("((d * d) div (rt * ct)) * 1000000L div n"))
      .groupBy()
      .agg(max("n").as("n"), max("nr").as("n_rows_cat"),
        max("nc").as("n_cols_cat"), sum("contrib").as("chi2_scaled"))
      .select(col("n"), col("n_rows_cat"), col("n_cols_cat"),
        col("chi2_scaled"),
        expr("chi2_scaled div greatest(1L, n * (least(n_rows_cat, n_cols_cat) - 1))")
          .as("v2_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov distance — did a numeric column's
    * DISTRIBUTION move between two corpus slices (the drift test that
    * catches shape changes chi-square-on-categories can't): the KS D is
    * the maximum gap between the two empirical CDFs, computed exactly
    * over the merged distinct-value ladder as
    *   D_ppm = max |cumA·n_b − cumB·n_a| · 10⁶ div (n_a·n_b)
    * — all-integer, no sorting of raw rows. Returns one row:
    * (n_a, n_b, d_ppm, at_value = the SMALLEST value attaining the max).
    *
    * Scale shape: one count-per-value aggregation per side, a full-outer
    * merge on the value, and cumulative windows over the DISTINCT-VALUE
    * summary (value-cardinality-sized — the T11 summary-sort
    * discipline); raw rows are scanned once per side. */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def cnts(df: DataFrame, out: String) =
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).cast("long").as("v"))
        .agg(count(lit(1)).as(out))
    val merged = cnts(a, "ca").join(cnts(b, "cb"), Seq("v"), "full")
      .na.fill(0L, Seq("ca", "cb"))
    val totals = broadcast(merged.agg(sum("ca").as("n_a"),
      sum("cb").as("n_b")))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    merged
      .withColumn("cuma", sum("ca").over(wCum))
      .withColumn("cumb", sum("cb").over(wCum))
      .crossJoin(totals)
      .withColumn("gap", abs(expr("cuma * n_b - cumb * n_a")))
      .groupBy()
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        max(struct(col("gap").as("g"), (-col("v")).as("negv"))).as("__pk"))
      .select(col("n_a"), col("n_b"),
        expr("(__pk.g * 1000000L) div greatest(1L, n_a * n_b)").as("d_ppm"),
        (-col("__pk.negv")).as("at_value"))
  }

  /** Equi-DEPTH histogram — the two-pass shape every planner statistic
    * at 100 TB uses: pass 1 draws the deterministic md5-bottom-k sample
    * ([[Sketches.sampleQuantiles]] — a pure function of the id set, so
    * any engine redraws it) and takes its nearest-rank quantiles as bin
    * edges (a ≤ nbins−1 driver-side collect, the MMR bounded-pool
    * discipline); pass 2 inlines the edges as a literal array and
    * assigns `bin = #edges ≤ v` inside ONE corpus scan. Equal-frequency
    * bins resolve skew equi-WIDTH ([[histogram]]) flattens into one fat
    * bucket. NULL values are skipped. Returns per non-empty bin:
    * (bin, n, lo, hi — the bin's observed value range).
    *
    * Scale shape: sample pass = TakeOrdered(k) on the hash; corpus pass
    * = one projection + count aggregation on the nbins-valued key. */
  def equiDepthHistogram(df: DataFrame, valueCol: String, idCol: String,
      nbins: Int = 10, sampleK: Int = 1024): DataFrame = {
    require(nbins >= 2 && nbins <= 1000, s"nbins out of range: $nbins")
    require(sampleK >= nbins, "sampleK >= nbins")
    val qs = (1 until nbins).map(_.toDouble / nbins)
    val edges = Sketches.sampleQuantiles(df, valueCol, idCol, qs, sampleK)
      .orderBy("q").collect()
      .map(r => r.get(r.fieldIndex("value")).toString.toDouble)
    val arr = array(edges.map(lit(_)): _*)
    val v = col(valueCol).cast("double")
    df.filter(col(valueCol).isNotNull)
      .select(v.as("v"),
        size(filter(arr, e => v >= e)).cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
  }

  /** Integer Chebyshev outlier gate — which keys carry a row count more
    * than `k` population standard deviations from the mean, WITHOUT any
    * square root (so every engine agrees digit-for-digit): with
    * per-key counts x over n keys, Σx and Σx²,
    *   (x − μ)² > k²σ²  ⇔  (n·x − Σx)² > k²·(n·Σx² − (Σx)²),
    * entirely in BIGINT. Flags both directions (hyperactive bots AND
    * near-dead keys); `side` says which. Returns flagged keys:
    * (key, cnt, side, lhs, rhs, n_keys) ordered by cnt desc, key.
    * SCALE CONTRACT: the squared terms need (n·max_cnt)² inside BIGINT —
    * holds to ~3·10⁹ key·count product; beyond that go decimal.
    *
    * Scale shape: one count groupBy on the key; the (n, Σx, Σx²)
    * moments are a one-row broadcast; the flag is a per-summary-row
    * filter. Raw rows are scanned once. */
  def populationOutliers(df: DataFrame, keyCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val moments = broadcast(counts.agg(count(lit(1)).as("n_keys"),
      sum("cnt").as("sx"), sum(col("cnt") * col("cnt")).as("sxx")))
    counts.crossJoin(moments)
      .withColumn("dev", expr("n_keys * cnt - sx"))
      .withColumn("lhs", expr("dev * dev"))
      .withColumn("rhs", expr(s"${k.toLong * k}L * (n_keys * sxx - sx * sx)"))
      .filter(col("lhs") > col("rhs"))
      .select(col("key"), col("cnt"),
        when(col("dev") > 0, "high").otherwise("low").as("side"),
        col("lhs"), col("rhs"), col("n_keys"))
      .orderBy(col("cnt").desc, col("key"))
  }

  /** Key-space continuity audit — is a supposedly dense id sequence
    * actually dense (dropped ingest batches, compaction holes, retention
    * bugs all surface as id gaps): over the DISTINCT keys of `keyCol`,
    * one row `(n_keys, min_key, max_key, missing, n_gaps, max_gap)`
    * where `missing = span − n_keys` (ids the range says should exist),
    * `n_gaps` counts maximal runs of absent ids and `max_gap` the widest.
    *
    * Scale shape: adjacency needs a sort, but NEVER a global one — keys
    * bucket by `key div bucketSize`, the lag window runs per bucket
    * (bounded ≤ bucketSize rows), and only the per-bucket summary table
    * (n_keys / bucketSize rows) crosses a second, tiny window that
    * stitches boundary gaps (bucket b's min vs the previous NON-EMPTY
    * bucket's max — empty buckets are interior to the stitched gap).
    * Raw rows are touched once, in the distinct. */
  def sequenceGaps(df: DataFrame, keyCol: String,
      bucketSize: Long = 1 << 20): DataFrame = {
    require(bucketSize >= 2, s"bucketSize out of range: $bucketSize")
    import org.apache.spark.sql.expressions.Window
    val keys = df.select(col(keyCol).cast("long").as("k"))
      .filter(col("k").isNotNull).distinct()
      .withColumn("b", expr(s"k div ${bucketSize}L"))
    val inB = Window.partitionBy("b").orderBy("k")
    val perBucket = keys
      .withColumn("gap", col("k") - lag("k", 1).over(inB) - 1)
      .groupBy("b")
      .agg(count(lit(1)).as("cnt"), min("k").as("bmin"), max("k").as("bmax"),
        coalesce(sum(when(col("gap") > 0, 1L)), lit(0L)).as("in_gaps"),
        coalesce(max(when(col("gap") > 0, col("gap"))), lit(0L)).as("in_max"))
    val across = Window.orderBy("b")
    perBucket
      .withColumn("xgap", col("bmin") - lag("bmax", 1).over(across) - 1)
      .agg(sum("cnt").as("n_keys"), min("bmin").as("min_key"),
        max("bmax").as("max_key"),
        (sum("in_gaps") +
          coalesce(sum(when(col("xgap") > 0, 1L)), lit(0L))).as("n_gaps"),
        greatest(max("in_max"), coalesce(max("xgap"), lit(0L))).as("max_gap"))
      .select(col("n_keys"), col("min_key"), col("max_key"),
        (col("max_key") - col("min_key") + 1 - col("n_keys")).as("missing"),
        col("n_gaps"), col("max_gap"))
  }

  /** Pairwise Pearson correlation of integer-valued feature expressions —
    * the feature-redundancy screen before training (two features with
    * r² ≈ 1 are one feature): for every unordered pair, one row
    * `(col_a, col_b, n, r2_ppm, sgn)` with r² in parts-per-million and
    * the covariance sign, from the moment identity
    *   r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²)).
    *
    * Determinism contract: inputs must be INTEGER-valued expressions
    * (the caller scales/floors doubles first); the moments accumulate
    * exactly in DECIMAL(38,0) — the same exact integers a SQL engine's
    * HUGEINT SUM produces, so the final double tree gets identical
    * inputs on every engine — and the final ratio is evaluated in
    * double with the identical expression shape the oracle uses.
    * (Round 11: the moments were BIGINT sums before, whose
    * n·max(x)² < 2⁶³ bound the 10× scale measurement tripped at 6 M
    * ranked rows; exact decimal sums push the bound to Σx² < 10³⁸ —
    * ~10¹² rows of 2n-scale ranks. The per-row products stay in
    * codegen'd BIGINT for speed, so |x| must stay ≤ 3×10⁹ — ranks of
    * up to 1.5 G rows — failing LOUDLY past that.)
    *
    * Scale shape: ONE aggregate pass computes every Σx/Σx²/Σxy — adding
    * a feature adds agg columns, not a scan; the pair table then unrolls
    * from the single moment row driver-free via `inline`. */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least two columns")
    val named = cols.map { case (n, c) => n -> c.cast("long") }
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // per-row products stay in codegen'd BIGINT (loud ANSI overflow at
    // |x| > 3×10⁹ — ranks of up to 1.5 G rows, features to ±3 G); only
    // the ACCUMULATION pays the decimal path
    val aggs = Seq(count(lit(1)).as("__n")) ++
      named.flatMap { case (n, c) =>
        Seq(sum(dec(c)).as(s"__sx_$n"),
          sum(dec(c * c)).as(s"__sxx_$n")) } ++
      named.combinations(2).toSeq.map { case Seq((a, ca), (b, cb)) =>
        sum(dec(ca * cb)).as(s"__sxy_${a}_$b") }
    val pairRows = named.combinations(2).toSeq.map { case Seq((a, _), (b, _)) =>
      val cov = col("__n").cast("double") * col(s"__sxy_${a}_$b").cast("double") -
        col(s"__sx_$a").cast("double") * col(s"__sx_$b").cast("double")
      def varOf(n: String) =
        col("__n").cast("double") * col(s"__sxx_$n").cast("double") -
          col(s"__sx_$n").cast("double") * col(s"__sx_$n").cast("double")
      // Zero-variance guard: a constant column makes vv = 0 and the
      // ratio NaN — Spark's cast would silently emit 0 while DuckDB's
      // CAST(FLOOR(NaN)) errors. NULL is the honest answer on both.
      val vv = varOf(a) * varOf(b)
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("__n").as("n"),
        when(vv === 0d, lit(null).cast("long"))
          .otherwise(floor(cov * cov / vv * 1e6).cast("long")).as("r2_ppm"),
        signum(cov).cast("long").as("sgn"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(inline(array(pairRows: _*)))
  }

  /** Join fan-out audit — the cardinality profile of a parent→child
    * relationship BEFORE you join on it (a hidden 10 000-row hub parent
    * turns a "1:few" join into a skew incident): one row
    * (rel, n_parents, n_children, childless_parents, avg_x100,
    * max_per_parent) where avg counts children per MATCHED parent,
    * ×100 fixed point.
    *
    * Scale shape: one count groupBy on the child FK, one distinct-key
    * anti-join for childless parents, two 1-row rollups. Never a
    * row-level parent×child join. */
  def fanoutAudit(parent: DataFrame, parentKey: String,
      child: DataFrame, childKey: String, rel: String): DataFrame = {
    val pk = parent.select(col(parentKey).cast("long").as("k")).distinct()
    val counts = child.select(col(childKey).cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
    val matched = counts.join(pk, Seq("k"), "left_semi")
      .agg(count(lit(1)).as("n_matched"), sum("c").as("n_children"),
        max("c").as("max_per_parent"))
    val childless = pk.join(counts, Seq("k"), "left_anti")
      .agg(count(lit(1)).as("childless_parents"))
    val nP = pk.agg(count(lit(1)).as("n_parents"))
    nP.crossJoin(matched).crossJoin(childless)
      .select(lit(rel).as("rel"), col("n_parents"),
        coalesce(col("n_children"), lit(0L)).as("n_children"),
        col("childless_parents"),
        expr("(coalesce(n_children, 0L) * 100L) div greatest(1L, n_matched)")
          .as("avg_x100"),
        coalesce(col("max_per_parent"), lit(0L)).as("max_per_parent"))
  }

  /** Train/test support coverage — how much of the evaluation slice
    * lives on feature territory the training slice actually covered
    * (rows on unseen buckets are extrapolation, and their metrics are
    * fiction): bucket the feature columns, then per bucket-presence:
    * one row (n_test, n_covered, n_unseen, coverage_ppm, n_train_buckets,
    * n_test_buckets).
    *
    * Scale shape: two distinct-bucket relations + one semi-join on the
    * bucket key; the test rows rejoin their bucket's coverage flag via
    * one hash join. No row-level train×test join. */
  def supportCoverage(train: DataFrame, test: DataFrame,
      bucketCols: Seq[String]): DataFrame = {
    require(bucketCols.nonEmpty, "supportCoverage needs bucket columns")
    // NULL bucket values are encoded with an explicit sentinel: concat_ws
    // silently SKIPS nulls, which would coalesce (NULL,"x") and ("x")
    // into one key — a spurious coverage match the ||-propagating oracle
    // would disagree with; the \u0001 prefix cannot occur in cast output.
    def b(df: DataFrame) = df.select(
      concat_ws("|", bucketCols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0001null"))): _*)
        .as("bk"))
    val trainB = b(train).distinct()
    val testRows = b(test)
    val covered = testRows.join(trainB.hint("shuffle_hash"),
      Seq("bk"), "left_semi")
    val s1 = testRows.agg(count(lit(1)).as("n_test"))
    val s2 = covered.agg(count(lit(1)).as("n_covered"))
    val s3 = trainB.agg(count(lit(1)).as("n_train_buckets"))
    val s4 = testRows.distinct().agg(count(lit(1)).as("n_test_buckets"))
    s1.crossJoin(s2).crossJoin(s3).crossJoin(s4)
      .select(col("n_test"), col("n_covered"),
        (col("n_test") - col("n_covered")).as("n_unseen"),
        expr("(n_covered * 1000000L) div greatest(1L, n_test)")
          .as("coverage_ppm"),
        col("n_train_buckets"), col("n_test_buckets"))
  }

  /** Pseudonymization collision audit — before shipping hashed ids as
    * the privacy layer, measure what the hash space actually does to
    * key identity (a collision silently MERGES two users' histories):
    * pseudonym = 52-bit md5 prefix mod 2^bits; one row
    * (space, n_keys, n_pseudonyms, n_collisions, max_bucket,
    * collision_ppm) where `n_collisions = n_keys − n_pseudonyms` (keys
    * that lost a distinct identity) and `max_bucket` is the worst
    * pseudonym's key count.
    *
    * Scale shape: one distinct over keys, one count groupBy on the
    * pseudonym, one one-row rollup. The mapping is a pure function —
    * re-running on any engine reproduces the identical pseudonyms. */
  def pseudonymAudit(df: DataFrame, keyCol: String,
      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 52, s"bits out of range: $bits")
    val space = 1L << bits
    val keys = df.select(col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull).distinct()
      .withColumn("p",
        conv(substring(md5(concat(lit("pn_"), col("k"))), 1, 13), 16, 10)
          .cast("long") % space)
    keys.groupBy("p").agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").as("n_keys"), count(lit(1)).as("n_pseudonyms"),
        max("cnt").as("max_bucket"))
      .select(lit(space).as("space"), col("n_keys"), col("n_pseudonyms"),
        (col("n_keys") - col("n_pseudonyms")).as("n_collisions"),
        col("max_bucket"),
        expr("((n_keys - n_pseudonyms) * 1000000L) div greatest(1L, n_keys)")
          .as("collision_ppm"))
  }

  /** Single-feature ranking power — the exact Mann-Whitney AUC of an
    * integer feature against a binary label (the "is this feature worth
    * anything" screen before training; AUC 0.5 = noise): with per-value
    * positive/negative counts and W = concordant (pos > neg) pairs,
    * T = tied pairs,
    *   AUC = (W + T/2) / (n₁·n₀)  →  auc_ppm = (2W + T)·10⁶ div (2·n₁·n₀)
    * — all BIGINT, no ranks, no floats. Returns one row
    * (n_pos, n_neg, wins, ties, auc_ppm).
    *
    * Scale shape: one (value) count groupBy collapses the data to its
    * distinct feature values; the concordance prefix runs over THAT
    * table (bounded by feature cardinality — for count-valued features,
    * tiny); the closing Σ is one row. */
  def featureAuc(df: DataFrame, featureCol: String,
      label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.select(col(featureCol).cast("long").as("v"),
        when(label, 1L).otherwise(0L).as("y"))
      .groupBy("v")
      .agg(coalesce(sum("y"), lit(0L)).as("np"),
        sum(lit(1L) - col("y")).as("nn"))
    val prefix = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("neg_below", coalesce(sum("nn").over(prefix), lit(0L)))
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np") * col("neg_below")).as("wins"),
        sum(col("np") * col("nn")).as("ties"))
      .withColumn("auc_ppm", expr(
        "((2L * wins + ties) * 1000000L) div greatest(1L, 2L * n_pos * n_neg)"))
  }

  /** Sentinel / disguised-missing-value audit — the scan that catches
    * -1s, 0-defaults and magic numbers masquerading as data (a column
    * whose mode covers 40% of rows is usually hiding NULLs): per
    * requested numeric column, one row
    * (column, n_nonnull, n_zero, n_negative, top_value, top_n, top_ppm)
    * where top_value is the modal value (rendered as string; ties break
    * to the smallest value string).
    *
    * Scale shape: per column, the scalar counts are ONE partial agg over
    * the raw values; the mode is a (value) count groupBy taken by
    * TakeOrdered (per-partition top-1 + a 1-row merge — never a global
    * sort); the two 1-row frames cross driver-free. */
  def sentinelAudit(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "sentinelAudit needs at least one column")
    cols.map { c =>
      val vals = df.select(col(c).cast("double").as("v"))
        .filter(col("v").isNotNull)
      val scalars = vals.agg(count(lit(1)).as("n_nonnull"),
        coalesce(sum(when(col("v") === 0d, 1L)), lit(0L)).as("n_zero"),
        coalesce(sum(when(col("v") < 0d, 1L)), lit(0L)).as("n_negative"))
      val top = vals.groupBy("v").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("v").cast("string"))
        .limit(1)
      scalars.crossJoin(top)
        .select(lit(c).as("column"), col("n_nonnull"), col("n_zero"),
          col("n_negative"), col("v").cast("string").as("top_value"),
          col("cnt").as("top_n"),
          expr("(cnt * 1000000L) div n_nonnull").as("top_ppm"))
    }.reduce(_ unionAll _)
  }

  /** Smoothed target encoding — the mean-encoding feature transform for
    * high-cardinality categoricals (Micci-Barreca 2001): per category,
    * the target rate shrunk toward the GLOBAL prior by `alpha`
    * pseudo-counts, all in integer ppm:
    *   enc_ppm = (pos·10⁶ + alpha·prior_ppm) div (n + alpha),
    *   prior_ppm = global_pos·10⁶ div global_n.
    * Rare categories sit near the prior; popular ones near their own
    * rate — the standard leakage-resistant encoding for tree models.
    * Returns (category, n, n_pos, prior_ppm, enc_ppm).
    *
    * Scale shape: one count groupBy on the category, a one-row broadcast
    * global prior, a per-summary-row formula. One corpus scan. */
  def targetEncode(df: DataFrame, catCol: String, target: Column,
      alpha: Long = 10L): DataFrame = {
    require(alpha >= 0, s"alpha out of range: $alpha")
    val per = df.select(col(catCol).cast("string").as("category"),
        when(target, 1L).otherwise(0L).as("y"))
      .groupBy("category")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val prior = broadcast(per.agg(
      expr("(sum(n_pos) * 1000000L) div sum(n)").as("prior_ppm")))
    per.crossJoin(prior)
      .select(col("category"), col("n"), col("n_pos"), col("prior_ppm"),
        expr(s"(n_pos * 1000000L + ${alpha}L * prior_ppm) div (n + ${alpha}L)")
          .as("enc_ppm"))
  }

  /** Weighted percentile — the percentile of a value distribution where
    * each row counts `weightCol` times (unit-weighted percentiles
    * misstate volume-weighted questions: "the median shipped DOLLAR went
    * out at what price?"): per group, the smallest value v whose
    * cumulative weight reaches `pPpm` of the group's total
    * (cumw·10⁶ ≥ p·total — all integer, no interpolation). Returns
    * (group..., wpct, total_w).
    *
    * Scale shape: equal values collapse FIRST via a (group, value)
    * partial-aggregated groupBy — the window then runs over the DISTINCT
    * value list per group (bounded by value cardinality, tie-order
    * irrelevant by construction), one cumulative frame, one filter. */
  def weightedPercentile(df: DataFrame, valueCol: String, weightCol: String,
      groupCols: Seq[String], pPpm: Long = 500000L): DataFrame = {
    require(pPpm >= 1 && pPpm <= 1000000L, s"pPpm out of range: $pPpm")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .select(groupCols.map(col) ++
        Seq(col(valueCol).as("v"), col(weightCol).cast("long").as("wt")): _*)
      .groupBy(groupCols.map(col) :+ col("v"): _*)
      .agg(sum("wt").as("w"))
    val cum = Window.partitionBy(groupCols.map(col): _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(groupCols.map(col): _*)
    base
      .withColumn("cumw", sum("w").over(cum))
      .withColumn("total", sum("w").over(tot))
      .filter(col("cumw") * 1000000L >= lit(pPpm) * col("total"))
      .groupBy(groupCols.map(col): _*)
      .agg(min("v").as("wpct"), max("total").as("total_w"))
  }

  /** Candidate-key discovery — which column combinations actually
    * identify rows (the schema-on-read step before declaring a primary
    * key or choosing a join/bucketing key): per candidate combo, one row
    * (candidate, n_rows, n_groups, dup_rows, unique_ppm, is_key).
    * `dup_rows = n_rows − n_groups` counts the rows that would collide
    * under that key; `is_key` = 1 iff the combo is duplicate-free. NULLs
    * group as a value of their own (SQL GROUP BY semantics — a "key"
    * with two all-NULL rows is NOT unique).
    *
    * Scale shape: one partial-aggregated count groupBy per candidate on
    * ITS OWN key (different keys cannot share a shuffle), each collapsing
    * to a one-row summary before the tiny union. Nothing driver-side. */
  def keyCandidates(df: DataFrame, combos: Seq[Seq[String]]): DataFrame = {
    require(combos.nonEmpty, "keyCandidates needs at least one combo")
    combos.map { cols =>
      require(cols.nonEmpty, "candidate column list must be non-empty")
      df.groupBy(cols.map(col): _*)
        .agg(count(lit(1)).as("nrows"))
        .agg(sum("nrows").as("n_rows"), count(lit(1)).as("n_groups"))
        .select(lit(cols.mkString(",")).as("candidate"),
          col("n_rows"), col("n_groups"),
          (col("n_rows") - col("n_groups")).as("dup_rows"),
          expr("(n_groups * 1000000L) div n_rows").as("unique_ppm"),
          when(col("n_rows") === col("n_groups"), 1L).otherwise(0L)
            .as("is_key"))
    }.reduce(_ unionAll _)
  }

  /** Functional-dependency audit — does `det → dep` actually hold in the
    * data (the schema-on-read reality check behind normalization and
    * join-key trust): per declared dependency, the number of determinant
    * groups, the groups carrying MORE than one distinct dependent value
    * (violations), the rows inside those groups, and the worst group's
    * distinct-dependent count. NULL dependent values count as a value of
    * their own (a group mixing NULL and non-NULL is a violation).
    * Returns one row per dependency:
    * (fd, n_groups, violating_groups, violating_rows, max_distinct_dep).
    *
    * Scale shape: each dependency is one partial-aggregated
    * (rows, distinct-dep) groupBy on ITS OWN determinant key — different
    * keys cannot share a shuffle, so cost is one count-distinct
    * aggregation per declared FD — followed by a one-row re-aggregation
    * of the group-cardinality table. Nothing driver-side. */
  def fdViolations(df: DataFrame,
      fds: Seq[(Seq[String], String)]): DataFrame = {
    require(fds.nonEmpty, "fdViolations needs at least one dependency")
    fds.map { case (det, dep) =>
      require(det.nonEmpty, "determinant column list must be non-empty")
      val name = det.mkString(",") + "->" + dep
      df.groupBy(det.map(col): _*)
        .agg(count(lit(1)).as("nrows"),
          // count_distinct skips NULLs; add the null bucket back so a
          // NULL-vs-value mix inside one group reads as two values
          (countDistinct(col(dep)) +
            max(when(col(dep).isNull, 1L).otherwise(0L))).as("nd"))
        .agg(count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("nd") > 1, 1L)), lit(0L))
            .as("violating_groups"),
          coalesce(sum(when(col("nd") > 1, col("nrows"))), lit(0L))
            .as("violating_rows"),
          max("nd").as("max_distinct_dep"))
        .select(lit(name).as("fd"), col("n_groups"), col("violating_groups"),
          col("violating_rows"), col("max_distinct_dep"))
    }.reduce(_ unionAll _)
  }

  /** JSON value-type inference — the types half of schema-on-read
    * ([[jsonKeyProfile]] answers which keys exist; this answers what
    * COLUMN TYPE each key's values support, so the extraction select
    * can be written with casts that won't silently null): per key,
    * (key, n_values, n_int, n_double, n_bool, suggested) where the
    * classes are REGEX-decided ('^-?[0-9]+$' etc. — deliberately not
    * try_cast, whose string→int semantics differ across engines:
    * some round '1.5', some reject it), integers count as doubles, and
    * `suggested` is the narrowest type every value fits (bigint →
    * double → boolean → varchar).
    *
    * Scale shape: one key explode + one key groupBy — same plan class
    * as the key profiler. */
  def jsonTypeInference(df: DataFrame, jsonCol: String): DataFrame = {
    val intRe = "^-?[0-9]+$"
    val dblRe = "^-?[0-9]+(\\.[0-9]+)?([eE][-+]?[0-9]+)?$"
    df.select(col(jsonCol).as("j"))
      .filter(col("j").isNotNull)
      .select(explode(json_object_keys(col("j"))).as("key"), col("j"))
      .withColumn("v", expr("get_json_object(j, concat('$.', key))"))
      .filter(col("v").isNotNull)
      .groupBy("key")
      .agg(count(lit(1)).as("n_values"),
        coalesce(sum(col("v").rlike(intRe).cast("long")), lit(0L))
          .as("n_int"),
        coalesce(sum(col("v").rlike(dblRe).cast("long")), lit(0L))
          .as("n_double"),
        coalesce(sum(col("v").isin("true", "false").cast("long")), lit(0L))
          .as("n_bool"))
      .withColumn("suggested",
        when(col("n_int") === col("n_values"), "bigint")
          .when(col("n_double") === col("n_values"), "double")
          .when(col("n_bool") === col("n_values"), "boolean")
          .otherwise("varchar"))
  }

  /** Slice completeness matrix — null-share per column PER SLICE (a
    * column that is 99% complete globally but empty for one source is a
    * broken upstream feed, invisible to the global profile): long
    * format (grp, col_name, n_rows, n_nonnull, nonnull_ppm), one row
    * per (slice, audited column).
    *
    * Scale shape: ONE group aggregation computes every column's
    * non-null count (columns add agg expressions, not scans); the long
    * format unrolls from the group row via `inline`. */
  def completenessMatrix(df: DataFrame, groupCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "completenessMatrix needs audited columns")
    val agg = df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        cols.map(c => coalesce(sum(col(c).isNotNull.cast("long")), lit(0L))
          .as(s"__nn_$c")): _*)
    agg.select(col("grp"), col("n_rows"), inline(array(cols.map(c =>
      struct(lit(c).as("col_name"), col(s"__nn_$c").as("n_nonnull"),
        expr(s"(__nn_$c * 1000000L) div greatest(1L, n_rows)")
          .as("nonnull_ppm"))): _*)))
  }

  /** Order-independent content checksum — the migration/replication
    * fingerprint (run it on both sides of a copy and compare three
    * numbers per group instead of rows): per `groupCol`,
    * (grp, n_rows, xor_hash, sum_mod) where each row canonicalizes to
    * the \u0001-null-sentineled '|' join of `cols` (caller-chosen and
    * ORDER-SIGNIFICANT — pass integers/strings, not raw doubles or
    * timestamps, whose text renderings are engine-specific), hashes to
    * its 52-bit md5 prefix, and folds by XOR (order-independent,
    * overflow-free) plus the sum of `h mod 1000003` (catches the
    * paired-duplicate changes XOR cancels; exact while
    * rows·10⁶ < 2⁶³).
    *
    * Scale shape: one projection + one group aggregation with map-side
    * combine. The checksum never leaves the engine as more than
    * 3 numbers per group. */
  def contentChecksum(df: DataFrame, groupCol: String,
      cols: Seq[Column]): DataFrame = {
    require(cols.nonEmpty, "contentChecksum needs content columns")
    val rowStr = concat_ws("|", cols.map(c =>
      coalesce(c.cast("string"), lit("\u0001null"))): _*)
    val h = conv(substring(md5(rowStr), 1, 13), 16, 10).cast("long")
    df.select(col(groupCol).as("grp"), h.as("__h"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_hash"),
        sum(pmod(col("__h"), lit(1000003L))).as("sum_mod"))
  }

  /** Cross-table reconciliation — does the header's stored total equal
    * the sum of its detail rows (the invoice-vs-lines audit every
    * warehouse runs before trusting either table): per `groupCol`, how
    * many headers reconcile within `tolMicros` (µ-units) of their
    * detail-sum, the worst absolute divergence, and headers with no
    * detail rows at all (counted separately — a missing-children header
    * is a different defect than a wrong total). One row per group:
    * (grp, n_headers, n_no_detail, n_mismatch, max_abs_diff_micros).
    *
    * Determinism contract: `headerTotal` and `detailAmount` must be
    * INTEGER µ-unit expressions (scale-and-round BIGINT, the disc100
    * idiom — NOT decimals: a decimal product that outgrows width 38
    * silently degrades to double in some engines), so the per-header
    * sum and the diff are exact 64-bit integers everywhere.
    *
    * Shape: detail pre-aggregates to one row per header key on its own
    * shuffle (map-side combine), then ONE left hash join against the
    * header relation and a groups-sized aggregate. Never a row-level
    * header×detail comparison. */
  def reconcile(header: DataFrame, headerKey: String, headerTotal: Column,
      groupCol: String, detail: DataFrame, detailKey: String,
      detailAmount: Column, tolMicros: Long = 0L): DataFrame = {
    require(tolMicros >= 0, s"tolMicros out of range: $tolMicros")
    val sums = detail.groupBy(col(detailKey).as("__k"))
      .agg(sum(detailAmount.cast("long")).as("__detail_sum"))
    header.select(col(headerKey).as("__k"), col(groupCol).as("grp"),
        headerTotal.cast("long").as("__total"))
      .join(sums.hint("shuffle_hash"), Seq("__k"), "left_outer")
      .withColumn("__diff_micros",
        abs(col("__total") - col("__detail_sum")))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_headers"),
        coalesce(sum(when(col("__detail_sum").isNull, 1L)), lit(0L))
          .as("n_no_detail"),
        coalesce(sum(when(col("__diff_micros") > tolMicros, 1L)), lit(0L))
          .as("n_mismatch"),
        coalesce(max(col("__diff_micros")), lit(0L))
          .as("max_abs_diff_micros"))
  }

  /** Multi-feature Hellinger drift gate — ONE bounded score per feature
    * between a reference slice and a current slice: H²·10⁶ where
    * H²(P,Q) = ½·Σ(√p−√q)², the [0,1]-bounded distance a monitoring
    * threshold wants ("alert any feature past 0.05"). Complements
    * [[distributionDrift]], which details ONE feature per-category with
    * an unbounded chi-square-shaped contribution; this is the
    * cross-feature scoreboard. PSI's ln() is not engine-exact, but √ is
    * IEEE-754 correctly rounded everywhere, and each bucket's term is
    * rounded to an integer BEFORE the sum — the score is bit-identical
    * in any engine. NULL buckets are coalesced to an explicit sentinel
    * (the qq25 lesson: a silently skipped NULL diverges engines).
    * Output: (feature, n_buckets, h2_ppm), one row per feature.
    *
    * Scale shape: per feature, two partial-aggregated counts on the
    * bucket key, a full-outer join of the two category-sized count
    * tables, and two one-row total broadcasts; raw rows are scanned once
    * per side per feature. Output is |features| rows. */
  def hellingerGate(a: DataFrame, b: DataFrame,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "at least one feature")
    val sentinel = lit("\u0001null")
    features.map { case (name, f) =>
      def counts(df: DataFrame, tag: String) =
        df.select(coalesce(f.cast("string"), sentinel).as("value"))
          .groupBy("value").agg(count(lit(1)).as(s"n_$tag"))
      val na = broadcast(a.agg(count(lit(1)).as("na")))
      val nb = broadcast(b.agg(count(lit(1)).as("nb")))
      counts(a, "a").join(counts(b, "b"), Seq("value"), "full_outer")
        .na.fill(0L, Seq("n_a", "n_b"))
        .crossJoin(na).crossJoin(nb)
        .select(
          expr("(n_a * 1000000L) div greatest(1L, na)").as("pa_ppm"),
          expr("(n_b * 1000000L) div greatest(1L, nb)").as("pb_ppm"))
        .select(expr(
          """cast(round(
            |  (sqrt(cast(pa_ppm as double)) - sqrt(cast(pb_ppm as double)))
            |  * (sqrt(cast(pa_ppm as double)) - sqrt(cast(pb_ppm as double)))
            |) as bigint)""".stripMargin).as("term"))
        .agg(count(lit(1)).as("n_buckets"), sum("term").as("t2"))
        .select(lit(name).as("feature"), col("n_buckets"),
          expr("t2 div 2L").as("h2_ppm"))
    }.reduce(_ unionAll _)
  }

  /** Simpson's-paradox audit — does the aggregate A-vs-B rate comparison
    * REVERSE inside slices (Simpson 1951; the canonical Berkeley-admissions
    * trap)? The eval-data hazard it guards: a model "better overall" that
    * is worse in every slice because the slice mix differs between arms.
    * Per slice: both arms' counts and exact integer success rates
    * (succ·10⁶ div n), the slice's comparison sign, and `reverses` — true
    * when the slice sign strictly opposes the OVERALL sign. The OVERALL
    * row is appended with slice = 'OVERALL'. Rows with NULL group or
    * success predicates count as arm B / failure (two-valued gates, the
    * audit's contract); NULL slice keys get the explicit sentinel bucket
    * (the qq25 lesson). Exact integers end to end.
    *
    * Scale shape: ONE slice-key groupBy with map-side combine carries
    * every count; the overall row re-aggregates the |slices|-row table
    * and rides a whitelisted 1-row broadcast into the reverses flag. */
  def simpsonsAudit(df: DataFrame, slice: Column, groupA: Column,
      success: Column): DataFrame = {
    val per = df
      .select(coalesce(slice.cast("string"), lit("\u0001null")).as("slice"),
        coalesce(groupA, lit(false)).as("ga"),
        coalesce(success, lit(false)).as("ok"))
      .groupBy("slice")
      .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("ga") && col("ok"), 1L).otherwise(0L)).as("succ_a"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("ga") && col("ok"), 1L).otherwise(0L)).as("succ_b"))
    def withRates(d: DataFrame): DataFrame = d
      .withColumn("rate_a_ppm",
        expr("(succ_a * 1000000L) div greatest(1L, n_a)"))
      .withColumn("rate_b_ppm",
        expr("(succ_b * 1000000L) div greatest(1L, n_b)"))
      .withColumn("sign",
        expr("cast(sign(rate_a_ppm - rate_b_ppm) as bigint)"))
    val overall = withRates(per.agg(sum("n_a").as("n_a"),
      sum("succ_a").as("succ_a"), sum("n_b").as("n_b"),
      sum("succ_b").as("succ_b")))
    val cols = Seq("slice", "n_a", "succ_a", "n_b", "succ_b",
      "rate_a_ppm", "rate_b_ppm", "sign", "reverses").map(col)
    withRates(per)
      .crossJoin(broadcast(overall.select(col("sign").as("osign"))))
      .withColumn("reverses", col("sign") * col("osign") < 0)
      .select(cols: _*)
      .unionByName(overall
        .withColumn("slice", lit("OVERALL"))
        .withColumn("reverses", lit(false))
        .select(cols: _*))
  }

  /** Krippendorff's alpha, nominal scale — the inter-annotator agreement
    * coefficient that, unlike [[cohenKappa]], handles ANY number of
    * raters per unit and missing ratings (Krippendorff, "Content
    * Analysis", ch. 12): alpha = 1 − D_o/D_e with D_o the within-unit
    * pairwise disagreement Σ_u Σ_c n_uc(m_u−n_uc)/(m_u−1) and D_e its
    * chance expectation from the pooled value counts. Units with one
    * rating are excluded (nothing pairable). Per-unit terms are scaled
    * by 720720 (lcm 1..16) so the division by m_u−1 is EXACT for up to
    * 17 ratings per unit and deterministic integer-truncated beyond;
    * the final ratio is evaluated in double over exact integer moments
    * — identical in any engine. One row: (n_units, n_values,
    * n_pairable, do_scaled, de, alpha_ppm).
    *
    * Scale shape: one (unit, value) count groupBy, one unit-level
    * rollup, one value-level rollup — all map-side-combined; every
    * other relation is one row. BIGINT moments hold to ~10⁹ pairable
    * ratings; widen to decimal beyond. */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
      labelCol: String): DataFrame = {
    val scale = 720720L
    val uc = df.select(col(unitCol).cast("string").as("u"),
        col(labelCol).cast("string").as("c"))
      .filter(col("u").isNotNull && col("c").isNotNull)
      .groupBy("u", "c").agg(count(lit(1)).as("nuc"))
    val units = uc.groupBy("u")
      .agg(sum("nuc").as("mu"), sum(col("nuc") * col("nuc")).as("sq"))
      .filter(col("mu") >= 2)
    // S_u = Σ_c n_uc(m_u − n_uc) = m_u² − Σ_c n_uc²
    val duo = units
      .select(expr(s"((mu * mu - sq) * ${scale}L) div (mu - 1L)").as("t"),
        col("mu"))
      .agg(count(lit(1)).as("n_units"), sum("t").as("do_scaled"),
        sum("mu").as("n_pairable"))
    val vals = uc.join(units.select("u"), Seq("u"), "left_semi")
      .groupBy("c").agg(sum("nuc").as("nc"))
    val de = vals.agg(count(lit(1)).as("n_values"), sum("nc").as("n"),
      sum(col("nc") * col("nc")).as("ncsq"))
    duo.crossJoin(broadcast(de))
      .select(col("n_units"), col("n_values"), col("n_pairable"),
        col("do_scaled"), (col("n") * col("n") - col("ncsq")).as("de"),
        expr(s"""cast(floor(1000000.0d * (1.0d -
          |  (cast((n_pairable - 1) * do_scaled as double) /
          |   cast(${scale}L * greatest(1L, n * n - ncsq) as double))))
          |as bigint)""".stripMargin).as("alpha_ppm"))
  }

  /** Delete-one-block jackknife confidence interval for a mean
    * (Quenouille 1956 / Tukey 1958 — the variance machinery a
    * distributed engine can run without ANY randomness: blocks come
    * from an md5 hash of the row key, so the interval replays
    * bit-identically anywhere): rows land in `blocks` hash blocks;
    * each leave-one-block-out mean yields a pseudovalue
    * B·mean − (B−1)·mean₋ᵦ; the jackknife SE is the pseudovalue
    * standard error. Values enter as exact integer micro-units; the
    * final means/SE are doubles over exact integer sums floored to
    * micro-units — deterministic in any engine. One row:
    * (n, mean_micros, jk_mean_micros, se_micros, ci_lo_micros,
    * ci_hi_micros) at ±1.96·SE.
    *
    * Scale shape: ONE pass builds the B-row block table (map-side
    * combine on the block key); the global totals re-aggregate those B
    * rows; every later relation is ≤ B rows. */
  def jackknifeCi(df: DataFrame, key: Column, valueMicros: Column,
      blocks: Int = 32): DataFrame = {
    require(blocks >= 2 && blocks <= 4096, s"blocks out of range: $blocks")
    val b = df
      .select((conv(substring(md5(concat_ws(":", lit("jk"),
          key.cast("string"))), 1, 13), 16, 10).cast("long") % blocks)
        .as("blk"), valueMicros.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("blk").agg(count(lit(1)).as("nb"), sum("v").as("sb"))
    val tot = broadcast(b.agg(sum("nb").as("n"), sum("sb").as("s"),
      count(lit(1)).as("bn")))
    // each block's pseudovalue double is built from exact integers by one
    // fixed expression tree — bit-identical in any engine — and is then
    // FLOORED to integer micros and centered on the global mean, so the
    // cross-block moments are exact integer/decimal sums (a raw double
    // sum is summation-order-dependent across engines; the ≤1 micro
    // quantization is noise against any real CI width)
    val pseudo = b.crossJoin(tot)
      .filter(col("n") > col("nb")) // a block holding everything can't leave
      .select(col("n"), col("s"), col("bn"),
        (expr("""cast(floor(
          |  cast(bn as double) * (cast(s as double) / cast(n as double)) -
          |  cast(bn - 1 as double) *
          |    (cast(s - sb as double) / cast(n - nb as double))
          |) as bigint)""".stripMargin) - expr("s div n")).as("ci"))
    pseudo.groupBy("n", "s", "bn")
      .agg(count(lit(1)).as("bused"), sum("ci").as("sc"),
        sum(col("ci").cast("decimal(38,0)") * col("ci")).as("scsq"))
      .withColumn("jm",
        expr("cast(s div n as double) + cast(sc as double) / bused"))
      .withColumn("se", expr("""sqrt(greatest(0.0d,
        |  (cast(scsq as double) / bused -
        |   (cast(sc as double) / bused) * (cast(sc as double) / bused))
        |  / (bused - 1)))""".stripMargin))
      .select(col("n"),
        expr("s div n").as("mean_micros"),
        expr("cast(floor(jm) as bigint)").as("jk_mean_micros"),
        expr("cast(floor(se) as bigint)").as("se_micros"),
        expr("cast(floor(jm - 1.96d * se) as bigint)").as("ci_lo_micros"),
        expr("cast(floor(jm + 1.96d * se) as bigint)").as("ci_hi_micros"))
  }

  /** Rank-biased-overlap top-k drift — Webber, Moffat & Zobel, TOIS 2010:
    * how much did the top-k leaderboard (keys ranked by count) change
    * between two slices? Truncated RBO at persistence p = ½ — each depth
    * d contributes overlap@d/(d·2^d), so agreement NEAR THE TOP dominates
    * (the property set-Jaccard lacks: swapping ranks 1 and 20 matters,
    * swapping 19 and 20 barely does). Per-depth terms are exact integer
    * divisions — deterministic anywhere. Also reports the plain churn:
    * keys that stayed, entered, and exited the top-k. One row:
    * (k, n_stay, n_entered, n_exited, rbo_ppm). Ranks tie-break by key.
    *
    * Scale shape: each side is ONE count groupBy collapsed by a
    * TakeOrdered top-k (never a global sort); everything after — the
    * rank windows, the full-outer join, the depth fan-out — runs on ≤ k
    * rows (the ≤ k² depth expansion is a whitelisted bounded BNLJ). */
  def rboTopkDrift(a: DataFrame, b: DataFrame, keyCol: String,
      k: Int = 20): DataFrame = {
    require(k >= 1 && k <= 60, s"k out of range: $k")
    def topk(df: DataFrame, tag: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("key"))
      df.select(col(keyCol).cast("string").as("key"))
        .filter(col("key").isNotNull)
        .groupBy("key").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("key")).limit(k)
        .select(col("key"), row_number().over(w).as(s"r_$tag"))
    }
    val joined = topk(a, "a").join(topk(b, "b"), Seq("key"), "full_outer")
    val churn = joined.agg(
      coalesce(sum(when(col("r_a").isNotNull && col("r_b").isNotNull, 1L)
        .otherwise(0L)), lit(0L)).as("n_stay"),
      coalesce(sum(when(col("r_a").isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_entered"),
      coalesce(sum(when(col("r_b").isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_exited"))
    val m = joined.filter(col("r_a").isNotNull && col("r_b").isNotNull)
      .select(greatest(col("r_a"), col("r_b")).cast("long").as("m"))
    val depths = a.sparkSession.range(1, k + 1)
      .select((col("id")).as("d"))
    val rbo = depths.join(m, col("m") <= col("d"), "left_outer")
      .groupBy("d").agg(count(col("m")).as("ov"))
      .select(expr("(1000000L * ov) div (d * shiftleft(1L, int(d)))")
        .as("term"))
      .agg(coalesce(sum("term"), lit(0L)).as("rbo_ppm"))
    churn.crossJoin(broadcast(rbo))
      .select(lit(k.toLong).as("k"), col("n_stay"), col("n_entered"),
        col("n_exited"), col("rbo_ppm"))
  }

  /** l-diversity audit — Machanavajjhala et al., ICDE 2006: k-anonymity's
    * [[kAnonymity]] blind spot is a large quasi-identifier group whose
    * SENSITIVE value is constant (group size 50, every row the same
    * diagnosis — re-identification discloses it anyway). Per quasi group
    * this measures distinct-l (how many distinct sensitive values) and the
    * top sensitive value's share; a group is weak when distinct < l. One
    * summary row mirroring kAnonymity's gate shape: (l, n_rows, n_groups,
    * weak_groups, rows_at_risk, min_distinct, max_topshare_ppm) — all
    * exact integers, the share an integer div.
    *
    * NULL sensitive values coalesce to a sentinel (a NULL "value" is
    * itself a disclosure class, and concat/grouping must not silently
    * merge it with an empty string — the qq25 lesson).
    *
    * Scale shape: two stacked groupBys, both map-side combined — (quasi,
    * sensitive) counts, then quasi rollup — and a 1-row final aggregate.
    * Group count is bounded by quasi-space cardinality, never row count. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs at least one quasi column")
    require(l >= 2 && l <= 1000000, s"l out of range: $l")
    val cells = df
      .withColumn("__sv", coalesce(col(sensitiveCol).cast("string"),
        lit("\u0001null")))
      .groupBy((quasiCols.map(col) :+ col("__sv")): _*)
      .agg(count(lit(1)).as("cnt"))
    val groups = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum("cnt").as("n"), count(lit(1)).as("n_distinct"),
        max("cnt").as("top_cnt"))
    groups.agg(
      coalesce(sum("n"), lit(0L)).as("n_rows"),
      count(lit(1)).as("n_groups"),
      coalesce(sum(when(col("n_distinct") < l, 1L).otherwise(0L)), lit(0L))
        .as("weak_groups"),
      coalesce(sum(when(col("n_distinct") < l, col("n")).otherwise(0L)),
        lit(0L)).as("rows_at_risk"),
      min("n_distinct").as("min_distinct"),
      max(expr("(top_cnt * 1000000L) div n")).as("max_topshare_ppm"))
      .select(lit(l.toLong).as("l"), col("n_rows"), col("n_groups"),
        col("weak_groups"), col("rows_at_risk"),
        coalesce(col("min_distinct"), lit(0L)).as("min_distinct"),
        coalesce(col("max_topshare_ppm"), lit(0L)).as("max_topshare_ppm"))
  }

  /** Inclusion-dependency / foreign-key-candidate discovery — the SINDY
    * (Kruse et al., BTW 2015) question over a declared candidate list:
    * for every ordered column pair, what share of the child column's
    * DISTINCT values exists in the parent column? containment_ppm =
    * 1 000 000 with parent_unique = 1 is a foreign-key candidate — the
    * join-graph discovery step schema-less lakes need before qq11's FD
    * audit or qq26's fan-out audit can run. Every ordered pair appears
    * (zero-match pairs included), NULLs excluded on both sides (SQL FK
    * semantics). Output: (child, parent, n_child_distinct, n_matched,
    * containment_ppm, parent_unique) — all exact integers.
    *
    * Scale shape: each column collapses to its DISTINCT values + a
    * max-multiplicity flag FIRST (one map-side-combined groupBy per
    * column — domain-sized, not row-sized); the stacked value relation
    * self-joins on value (fan-out per value ≤ |cols|², cols capped at
    * 16); the complete pair grid is a ≤ 16×16 broadcast cross of the
    * 1-row-per-column stats relation. */
  def fkCandidates(cols: Seq[(String, DataFrame, String)]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 16,
      s"fkCandidates needs 2..16 columns, got ${cols.size}")
    require(cols.map(_._1).distinct.size == cols.size,
      "fkCandidates needs distinct column labels")
    val vals = cols.map { case (name, df, c) =>
      df.filter(col(c).isNotNull)
        .groupBy(col(c).cast("long").as("value"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit(name).as("rel"), col("value"), col("cnt"))
    }.reduce(_ unionByName _)
    val stats = vals.groupBy("rel").agg(count(lit(1)).as("n_distinct"),
      max("cnt").as("max_cnt"))
    val matched = vals.select(col("rel").as("child"), col("value"))
      .join(vals.select(col("rel").as("parent"), col("value")), Seq("value"))
      .filter(col("child") =!= col("parent"))
      .groupBy("child", "parent").agg(count(lit(1)).as("n_matched"))
    val grid = stats.select(col("rel").as("child"),
        col("n_distinct").as("n_child_distinct"))
      .crossJoin(broadcast(stats.select(col("rel").as("parent"),
        when(col("max_cnt") === 1L, 1L).otherwise(0L).as("parent_unique"))))
      .filter(col("child") =!= col("parent"))
    grid.join(matched, Seq("child", "parent"), "left_outer")
      .select(col("child"), col("parent"), col("n_child_distinct"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        expr("(coalesce(n_matched, 0L) * 1000000L) div n_child_distinct")
          .as("containment_ppm"),
        col("parent_unique"))
  }

  /** t-closeness audit — Li, Li & Venkatasubramanian, ICDE 2007: the
    * [[lDiversity]] blind spot is a quasi group whose sensitive values
    * are DISTINCT but skewed (10 distinct diagnoses, 95% of the group is
    * one of them — distinct-l passes, disclosure remains). Per quasi
    * group this measures the earth-mover's distance between the group's
    * sensitive-value distribution and the GLOBAL one over the value
    * ordering (Li's ordered-attribute EMD: mean |cumulative p−q|), all
    * in exact integers — per value d = cnt·N − gcnt·n_g, cumulative-sum
    * over the global value order, emd_ppm = Σ|cum|·10⁶ div
    * ((m−1)·n_g·N). One gate row mirroring [[kAnonymity]]/[[lDiversity]]:
    * (t_ppm, n_rows, n_groups, weak_groups, rows_at_risk, max_emd_ppm).
    *
    * NULLs: the sensitive value AND every quasi column coalesce to a
    * \u0001null sentinel (the qq25 lesson, and here quasi NULLs would
    * otherwise silently miss the grid join's null-unsafe equality and
    * inflate every EMD).
    *
    * Scale shape: one map-side-combined (quasi, sv) count; the global
    * value distribution is a bounded, LOUDLY capped (≤ maxValues,
    * require) driver gather — domain-sized, never row-sized — replayed
    * into the plan as a literal array explode, so the group×value grid
    * needs NO cross join; then one left join + one window + one rollup,
    * all on the quasi key's own shuffle. Exact-integer window: the ppm
    * multiply needs (m−1)·max(n_g)·N < 9.2×10¹²; past that (≈10⁶ rows
    * at m=1000), quantize the global distribution to ppm first. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, tPpm: Long, maxValues: Int = 1024): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness needs at least one quasi column")
    require(tPpm >= 0 && tPpm <= 1000000L, s"tPpm out of range: $tPpm")
    val nullS = "\u0001null" // qq25 sentinel: never collides with a real "null"
    val qKeys = quasiCols.indices.map(i => s"__q$i")
    val keyed = df.select(
      quasiCols.zip(qKeys).map { case (c, k) =>
        coalesce(col(c).cast("string"), lit(nullS)).as(k)
      } :+ coalesce(col(sensitiveCol).cast("string"), lit(nullS)).as("__sv"): _*)
    val cells = keyed.groupBy((qKeys.map(col) :+ col("__sv")): _*)
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused by the glob gather AND the grid join
    val globRows = cells.groupBy("__sv").agg(sum("cnt").as("gcnt"))
      .orderBy("__sv").collect() // bounded: sensitive-value domain, capped
    require(globRows.length <= maxValues,
      s"tCloseness: sensitive cardinality ${globRows.length} exceeds " +
        s"maxValues=$maxValues — bin the sensitive column first")
    val n = globRows.map(_.getLong(1)).sum
    val m = globRows.length.toLong
    val valueArr = array(globRows.zipWithIndex.map { case (r, i) =>
      struct(lit(i.toLong).as("rnk"), lit(r.getString(0)).as("__sv"),
        lit(r.getLong(1)).as("gcnt"))
    }: _*)
    val groups = cells.groupBy(qKeys.map(col): _*).agg(sum("cnt").as("ng"))
    val grid =
      if (m == 0) groups.withColumn("rnk", lit(0L))
        .withColumn("__sv", lit(nullS)).withColumn("gcnt", lit(0L))
        .filter(lit(false))
      else groups.select(qKeys.map(col) :+ col("ng") :+
          explode(valueArr).as("v"): _*)
        .select(qKeys.map(col) :+ col("ng") :+ col("v.rnk").as("rnk") :+
          col("v.__sv").as("__sv") :+ col("v.gcnt").as("gcnt"): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qKeys.map(col): _*).orderBy("rnk")
    val emd = grid.join(cells, (qKeys :+ "__sv").toSeq, "left_outer")
      .withColumn("d", coalesce(col("cnt"), lit(0L)) * n - col("gcnt") * col("ng"))
      .withColumn("cd", sum("d").over(w))
      .groupBy((qKeys.map(col) :+ col("ng")): _*)
      .agg(sum(abs(col("cd"))).as("s_abs"))
      .withColumn("emd_ppm",
        expr(s"(s_abs * 1000000L) div (${math.max(m - 1, 1)}L * ng * " +
          s"greatest(${n}L, 1L))"))
    emd.agg(
        coalesce(sum("ng"), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_groups"),
        coalesce(sum(when(col("emd_ppm") > tPpm, 1L).otherwise(0L)), lit(0L))
          .as("weak_groups"),
        coalesce(sum(when(col("emd_ppm") > tPpm, col("ng")).otherwise(0L)),
          lit(0L)).as("rows_at_risk"),
        coalesce(max("emd_ppm"), lit(0L)).as("max_emd_ppm"))
      .select(lit(tPpm).as("t_ppm"), col("n_rows"), col("n_groups"),
        col("weak_groups"), col("rows_at_risk"), col("max_emd_ppm"))
  }

  /** Deterministic block-bootstrap percentile CI for a mean — the
    * resampling complement to [[jackknifeCi]] (jackknife is cheap but
    * symmetric-normal by construction; the bootstrap sees skew). Zero
    * RNG anywhere: rows land in `blocks` md5-hash blocks; resample r
    * draws p block indexes via md5("bs:r:j") over the p PRESENT
    * blocks (ranked by block id — p = blocks unless the input has
    * fewer distinct hash blocks than requested, in which case each
    * resample is exactly p draws so its size matches the block count),
    * and each resample mean is an exact
    * integer division of exact BIGINT block sums — so the whole
    * resample distribution, and therefore the nearest-rank percentile
    * interval, replays bit-identically on any engine. One row:
    * (n, mean_micros, r, ci_lo_micros, ci_hi_micros) at the 2.5 %/97.5 %
    * nearest ranks (lo rank = ⌈R/40⌉, hi rank = R+1−lo).
    *
    * Scale shape: ONE pass builds the ≤ `blocks`-row block table
    * (map-side combine on the block key); the draw grid is a constant
    * R·blocks rows joined to the ranked block table by index; every
    * later relation is ≤ R rows. Raw data is scanned exactly once. */
  def bootstrapCi(df: DataFrame, key: Column, valueMicros: Column,
      blocks: Int = 32, resamples: Int = 200): DataFrame = {
    require(blocks >= 2 && blocks <= 4096, s"blocks out of range: $blocks")
    require(resamples >= 40 && resamples <= 10000,
      s"resamples out of range: $resamples")
    val spark = df.sparkSession
    val b = df
      .select((conv(substring(md5(concat_ws(":", lit("jk"),
          key.cast("string"))), 1, 13), 16, 10).cast("long") % blocks)
        .as("blk"), valueMicros.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("blk").agg(count(lit(1)).as("nb"), sum("v").as("sb"))
    val wb = org.apache.spark.sql.expressions.Window.orderBy("blk")
    val ranked = b.select((row_number().over(wb) - 1).cast("long").as("rk"),
      col("nb"), col("sb"))
    val p = broadcast(ranked.agg(count(lit(1)).as("p"),
      sum("nb").as("n"), sum("sb").as("s")))
    // p draws per resample over the p present blocks; greatest(p, 1)
    // guards the empty-input degenerate case IDENTICALLY in both engines
    // (Spark's % 0 is a silent NULL where DuckDB's raises — the
    // cross-engine divergence class this file pins): p = 0 yields an
    // empty join and one all-NULL CI row on both sides
    val draws = spark.range(1, resamples + 1L).select(col("id").as("r"))
      .crossJoin(p)
      .select(col("r"), col("n"), col("s"), col("p"),
        explode(expr("sequence(0L, greatest(p, 1L) - 1L)")).as("j"))
      .select(col("r"), col("n"), col("s"),
        (conv(substring(md5(concat_ws(":", lit("bs"), col("r"), col("j"))),
          1, 13), 16, 10).cast("long") % greatest(col("p"), lit(1L)))
          .as("rk"))
    val means = draws.join(broadcast(ranked), Seq("rk"))
      .groupBy("r", "n", "s")
      .agg(expr("sum(sb) div greatest(sum(nb), 1L)").as("mr"))
    val loRank = (resamples + 39) / 40 // ceil(R/40) = 2.5 % nearest rank
    val hiRank = resamples + 1 - loRank
    val wr = org.apache.spark.sql.expressions.Window.orderBy("mr", "r")
    means.select(col("n"), col("s"), col("mr"),
        row_number().over(wr).as("rnk"))
      .filter(col("rnk") === loRank || col("rnk") === hiRank)
      .agg(first("n").as("n"), first("s").as("s"),
        min("mr").as("lo"), max("mr").as("hi"))
      .select(col("n"), expr("s div greatest(n, 1L)").as("mean_micros"),
        lit(resamples.toLong).as("r"), col("lo").as("ci_lo_micros"),
        col("hi").as("ci_hi_micros"))
  }

  /** Cronbach's alpha — Cronbach, Psychometrika 1951: do k parallel
    * measurements of the same thing actually agree? (redundant quality
    * scores, repeated rater passes, near-duplicate feature columns —
    * the "are my k signals one signal" question [[krippendorffAlpha]]
    * answers for categorical labels, here for numeric items):
    * α = k/(k−1) · (1 − Σᵢvar(xᵢ) / var(Σᵢxᵢ)). Every variance enters
    * as the exact integer n·Σx² − (Σx)², the biased/population scaling
    * cancels in the ratio, and the final α is one fixed IEEE expression
    * over those BIGINTs — engine-identical digits. Rows with a NULL in
    * ANY item are dropped so all items see the same row set. One row:
    * (k, n, alpha_ppm); a zero total variance (items cancel or constant
    * total) yields NULL, not a fake 0.
    *
    * Scale shape: ONE aggregate pass computes every per-item and total
    * moment — adding an item adds agg columns, not a scan (the
    * corrMatrix contract). BIGINT holds while n·max(Σitems)² < 2⁶³. */
  def cronbachAlpha(df: DataFrame, items: Seq[(String, Column)])
      : DataFrame = {
    require(items.size >= 2, "cronbachAlpha needs at least two items")
    val named = items.map { case (n, c) => n -> c.cast("long") }
    var rows = df.select(named.map { case (n, c) => c.as(s"__x_$n") }: _*)
    named.foreach { case (n, _) =>
      rows = rows.filter(col(s"__x_$n").isNotNull) }
    rows = rows.withColumn("__t",
      named.map { case (n, _) => col(s"__x_$n") }.reduce(_ + _))
    val aggs = Seq(count(lit(1)).as("__n"),
        sum(col("__t")).as("__st"), sum(col("__t") * col("__t")).as("__stt")) ++
      named.flatMap { case (n, _) =>
        Seq(sum(col(s"__x_$n")).as(s"__s_$n"),
          sum(col(s"__x_$n") * col(s"__x_$n")).as(s"__ss_$n")) }
    val k = items.size
    val varSum = named.map { case (n, _) =>
      col("__n") * col(s"__ss_$n") - col(s"__s_$n") * col(s"__s_$n") }
      .reduce(_ + _)
    val varTot = col("__n") * col("__stt") - col("__st") * col("__st")
    rows.agg(aggs.head, aggs.tail: _*)
      .select(lit(k.toLong).as("k"), col("__n").as("n"),
        when(varTot === 0L, lit(null).cast("long"))
          .otherwise(floor(lit(1000000.0d) *
            (lit(k.toDouble) / lit((k - 1).toDouble)) *
            (lit(1.0d) - varSum.cast("double") / varTot.cast("double")))
            .cast("long")).as("alpha_ppm"))
  }

  /** Monotonicity audit — the isotonic sanity check behind "this
    * feature should only ever push the outcome one way" (price ↑ →
    * conversion ↓; quality score ↑ → accept rate ↑): equi-width-bucket
    * the feature, compute each bucket's exact outcome rate, and count
    * adjacent-bucket steps with and against the dominant direction. A
    * feature a model treats as monotone that ISN'T (or vice versa) is
    * a modelling bug this row catches before training does. One row:
    * (n_buckets, n_rows, n_steps, n_up, n_down, dir, n_violations,
    * monotone) — all exact integers, dir the majority step direction,
    * violations the steps against it.
    *
    * RANGE CONTRACT: the bucket index is (f − lo) · buckets div width,
    * so (hi − lo) · buckets must stay below 2⁶³ — Spark wraps BIGINT
    * overflow silently where DuckDB raises (the cross-engine divergence
    * class this file pins). With the 10 000-bucket cap that bounds the
    * feature SPAN at ~9.2 × 10¹⁴ (epoch-micros spans of ~29 years are
    * fine; raw epoch-micro VALUES are fine too since lo is subtracted
    * first — only a span wider than ~2⁶³/buckets breaks the contract).
    * Pre-scale wider features (e.g. div to millis) before auditing.
    *
    * Scale shape: one min/max rollup (1-row broadcast), ONE bucket
    * groupBy with map-side combine, then a lag window + rollup over the
    * ≤ `buckets`-row rate table. */
  def monotonicityAudit(df: DataFrame, featureCol: Column,
      outcomeCol: Column, buckets: Int = 20): DataFrame = {
    require(buckets >= 2 && buckets <= 10000,
      s"buckets out of range: $buckets")
    val base = df.select(featureCol.cast("long").as("f"),
        outcomeCol.cast("boolean").as("y"))
      .filter(col("f").isNotNull && col("y").isNotNull)
    val mm = broadcast(base.agg(min("f").as("lo"), max("f").as("hi")))
    val rates = base.crossJoin(mm)
      .select(expr(s"least(CAST(${buckets - 1} AS BIGINT), " +
        s"((f - lo) * ${buckets}L) div greatest(hi - lo + 1, 1L))").as("b"),
        col("y"))
      .groupBy("b").agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
      .withColumn("rate_ppm", expr("(pos * 1000000L) div n"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
    val steps = rates.withColumn("prev", lag("rate_ppm", 1).over(w))
      .filter(col("prev").isNotNull)
      .agg(
        coalesce(sum(when(col("rate_ppm") > col("prev"), 1L).otherwise(0L)),
          lit(0L)).as("n_up"),
        coalesce(sum(when(col("rate_ppm") < col("prev"), 1L).otherwise(0L)),
          lit(0L)).as("n_down"),
        count(col("prev")).as("n_steps"))
    val tot = broadcast(rates.agg(count(lit(1)).as("n_buckets"),
      coalesce(sum("n"), lit(0L)).as("n_rows")))
    steps.crossJoin(tot)
      .select(col("n_buckets"), col("n_rows"), col("n_steps"),
        col("n_up"), col("n_down"),
        when(col("n_up") >= col("n_down"), "up").otherwise("down").as("dir"),
        least(col("n_up"), col("n_down")).as("n_violations"),
        (least(col("n_up"), col("n_down")) === 0L).as("monotone"))
  }

  /** Spearman rank correlation matrix — [[corrMatrix]]'s Pearson answers
    * "linear?"; Spearman answers "monotone?" and shrugs at outliers
    * (one 10⁹-valued corruption row saturates Pearson but moves a rank
    * by 1). Ranks use the standard mid-rank tie treatment, carried as
    * 2×rank so they stay exact integers: rank2(v) = 2·(#strictly
    * smaller) + (#equal) + 1. Rows with a NULL in ANY column are
    * dropped first so every column ranks the same row set. Output
    * mirrors corrMatrix: (col_a, col_b, n, r2_ppm, sgn) where r2_ppm is
    * ⌊10⁶·ρ²⌋ and sgn the sign of ρ — exact integer moments, one IEEE
    * expression shape at the end.
    *
    * Scale shape: per column, ONE distinct-value count groupBy + a
    * cumulative window over the value domain (never raw rows), then one
    * hash join back on the value key; the final corrMatrix pass is a
    * single aggregate whose moments accumulate in exact DECIMAL(38,0)
    * (round 11 — the old BIGINT moments bound ranked rows at
    * n ≈ 1.9 M, measured failing at the 10× corpus; decimal moments
    * hold to ~10¹² rows of 2n-scale ranks). The remaining scale knob is
    * the VALUE DOMAIN (the cumulative window is |distinct values|
    * rows): quantize first when it is huge — [[spearmanBucketed]] is
    * that path packaged. */
  def spearmanMatrix(df: DataFrame, cols: Seq[(String, Column)])
      : DataFrame = {
    require(cols.size >= 2, "spearmanMatrix needs at least two columns")
    val named = cols.map { case (n, c) => n -> c.cast("long") }
    var base = df.select(named.map { case (n, c) => c.as(s"__v_$n") }: _*)
    named.foreach { case (n, _) =>
      base = base.filter(col(s"__v_$n").isNotNull) }
    // r11 opt: every column's rank table derives from the SAME filtered
    // base, not from the progressively rank-joined chain — the old form
    // nested each join inside the next column's groupBy subtree, so the
    // executed plan re-ran column k's rank pipeline once per later column
    // (3 columns planned 9 joins / 36 Exchanges; now 3 joins, and the
    // row side pipelines through all of them in one stage). Rank values
    // are identical: the rank joins are 1:1 on the value key, so counts
    // over the joined chain equal counts over base.
    val rankTables = named.map { case (n, _) =>
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(s"__v_$n"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      base.groupBy(s"__v_$n").agg(count(lit(1)).as("__c"))
        .select(col(s"__v_$n"),
          (coalesce(sum("__c").over(w), lit(0L)) * 2 + col("__c") + 1)
            .as(s"__r_$n"))
    }
    var rows = base
    rankTables.foreach { rt => rows = rows.join(rt, Seq(rt.columns.head)) }
    corrMatrix(rows, named.map { case (n, _) => n -> col(s"__r_$n") })
  }

  /** [[spearmanMatrix]]'s value-domain scale path as a TESTED API:
    * equi-width-bucket every column first (the [[monotonicityAudit]]
    * bucketing formula), then rank the BUCKET ids. The rank pipeline's
    * single-partition cumulative window runs over |distinct values|
    * rows — raw micro-scaled amounts make that corpus-sized; bucketing
    * caps it at `buckets` rows per column REGARDLESS of corpus scale.
    * Monotone statistics are bucket-stable: bucketing is an
    * order-preserving transform, so ρ degrades only through the ties
    * merging introduces (when buckets ≥ the value span, the result is
    * BIT-IDENTICAL to the raw matrix — spec-pinned). RANGE CONTRACT
    * (the monotonicityAudit one): (hi − lo + 1)·buckets < 2⁶³ —
    * pre-scale wider domains.
    *
    * Scale shape: ONE min/max rollup broadcast (all columns in a
    * single pass), a bucket projection, then [[spearmanMatrix]]'s
    * distinct-value rank pipeline over ≤ `buckets` distinct values per
    * column; the moment pass inherits corrMatrix's exact DECIMAL(38,0)
    * accumulation (measured green at the 10× corpus, ROUND11 §5). */
  def spearmanBucketed(df: DataFrame, cols: Seq[(String, Column)],
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 2 && buckets <= 1000000,
      s"buckets out of range: $buckets")
    require(cols.size >= 2, "spearmanBucketed needs at least two columns")
    val named = cols.map { case (n, c) => n -> c.cast("long") }
    var rows = df.select(named.map { case (n, c) => c.as(s"__v_$n") }: _*)
    named.foreach { case (n, _) =>
      rows = rows.filter(col(s"__v_$n").isNotNull) }
    val aggs = named.flatMap { case (n, _) => Seq(
      min(col(s"__v_$n")).as(s"__lo_$n"),
      max(col(s"__v_$n")).as(s"__hi_$n")) }
    val mm = broadcast(rows.agg(aggs.head, aggs.tail: _*))
    val bucketed = rows.crossJoin(mm).select(named.map { case (n, _) =>
      expr(s"least(CAST(${buckets - 1} AS BIGINT), " +
        s"((__v_$n - __lo_$n) * ${buckets}L) div " +
        s"greatest(__hi_$n - __lo_$n + 1, 1L))").as(s"__b_$n")
    }: _*)
    spearmanMatrix(bucketed, named.map { case (n, _) =>
      n -> col(s"__b_$n") })
  }

  /** Kendall's τ-b — Kendall 1938, with the tie correction (τ-b):
    * the pair-concordance rank correlation. [[spearmanMatrix]] asks
    * "do the RANKS move together"; τ asks "of all pairs, how many are
    * concordant vs discordant" — the statistic practitioners reach for
    * on heavily-tied low-cardinality pairs (star ratings vs tiers,
    * bucketed scores), where its interpretation (P(concordant) −
    * P(discordant)) is direct. ENTIRELY exact integers up to the one
    * final IEEE tree: over the distinct-value 2-D grid,
    * C = Σ_cells c(x,y)·|{x' > x, y' > y}| and
    * D = Σ_cells c(x,y)·|{x' > x, y' < y}| count every unordered pair
    * exactly once from its lower-x cell; tie terms n₁ = Σ tₓ(tₓ−1)/2,
    * n₂ = Σ t_y(t_y−1)/2, n₀ = n(n−1)/2; τ_b = (C − D)/√((n₀−n₁)·
    * (n₀−n₂)), ppm-floored, NULL when either axis is constant. One
    * row: (n, n_pairs, tie_x, tie_y, concordant, discordant,
    * tau_b_ppm).
    *
    * Scale shape + GRID CONTRACT: raw rows are scanned ONCE into
    * (x, y) cell counts; everything after runs on the DENSE
    * |distinct x| × |distinct y| grid (built as a distributed-x ×
    * broadcast-y expansion — never a cell² pair join), with the
    * suffix/cumulative sums as windows partitioned by one axis and
    * ordered by the other. Quantize first when a raw axis is wide
    * (the [[spearmanBucketed]] bucketing): the grid must be
    * materializable and the y level set broadcastable (≤ ~10⁶
    * levels). BIGINT: C, D ≤ n²/2 — n ≲ 4.3 G rows. */
  def kendallTauB(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val cells = base.groupBy("x", "y").agg(count(lit(1)).as("c"))
    val xs = cells.select("x").distinct()
    val ys = cells.select("y").distinct()
    // dense grid: windows below need every (x-level, y-level) cell so
    // suffix sums see x' levels that are absent at this y
    val dense = xs.crossJoin(broadcast(ys))
      .join(cells, Seq("x", "y"), "left_outer")
      .select(col("x"), col("y"), coalesce(col("c"), lit(0L)).as("c"))
    val wy = Window.partitionBy("x").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wxAfter = Window.partitionBy("y").orderBy("x")
      .rowsBetween(1, Window.unboundedFollowing)
    val g = dense
      .withColumn("cy", sum("c").over(wy)) // cnt(x, y' <= y)
      .withColumn("a", coalesce(sum("cy").over(wxAfter), lit(0L)))
      .withColumn("e", coalesce(sum("c").over(wxAfter), lit(0L)))
    // per-x totals and their strict suffix: |{x' > x}|
    val xtot = cells.groupBy("x").agg(sum("c").as("tx"))
      .withColumn("bx", coalesce(sum("tx").over(
        Window.orderBy("x").rowsBetween(1, Window.unboundedFollowing)),
        lit(0L)))
    val scored = g.join(xtot.select(col("x"), col("bx")).hint("shuffle_hash"),
        Seq("x"))
      // G = |{x'>x}| − |{x'>x, y'<=y}|; L = |{x'>x, y'<=y}| − |{x'>x, y'=y}|
      .select(col("c"),
        (col("bx") - col("a")).as("gg"),
        (col("a") - col("e")).as("ll"))
      .agg(coalesce(sum(col("c") * col("gg")), lit(0L)).as("concordant"),
        coalesce(sum(col("c") * col("ll")), lit(0L)).as("discordant"))
    val ties = broadcast(cells.groupBy("x").agg(sum("c").as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)).as("tie_x"))
      .crossJoin(cells.groupBy("y").agg(sum("c").as("t"))
        .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)).as("tie_y")))
      .crossJoin(base.agg(count(lit(1)).as("n"))))
    scored.crossJoin(ties)
      .select(col("n"), expr("n * (n - 1) div 2").as("n_pairs"),
        col("tie_x"), col("tie_y"), col("concordant"), col("discordant"),
        // one fixed IEEE tree over exact BIGINTs; NULL when either
        // axis is fully tied (variance term 0 — τ undefined)
        expr("CASE WHEN n * (n - 1) div 2 - tie_x <= 0 " +
          "OR n * (n - 1) div 2 - tie_y <= 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST(FLOOR(1000000.0d * " +
          "CAST(concordant - discordant AS DOUBLE) / " +
          "sqrt(CAST(n * (n - 1) div 2 - tie_x AS DOUBLE) * " +
          "CAST(n * (n - 1) div 2 - tie_y AS DOUBLE))) AS BIGINT) END")
          .as("tau_b_ppm"))
      .filter(col("n") > 0) // zero rows on empty input (grouped-SQL shape)
  }

  /** Functional-dependency audit — the single-table complement to
    * [[fkCandidates]]' cross-column inclusion dependencies (TANE,
    * Huhtala et al. Comp. J. 1999, scoped to DECLARED candidate
    * dependencies rather than lattice search): does lhs → rhs hold,
    * and if not, how badly? A dependency the schema claims ("order
    * date is determined by order key") but the data violates is an
    * upstream-join or ingest bug this row catches before training
    * does. One row per dependency: (dep, n_groups,
    * violating_groups = lhs groups with > 1 distinct rhs,
    * max_rhs_per_lhs, violation_ppm = 10⁶·violating div groups) — all
    * exact integers.
    *
    * Scale shape: one map-side-combined (lhs, rhs) DISTINCT + lhs
    * re-aggregate per dependency (the two-level exact
    * count-distinct shape), each riding its own lhs partitioning;
    * results union as |deps| single rows. NULL rhs counts as a value
    * (a NULL-vs-value split IS a violation); NULL lhs rows are one
    * group per the groupBy's NULL key semantics, identical in both
    * engines. */
  def fdAudit(df: DataFrame,
      deps: Seq[(String, Seq[Column], Column)]): DataFrame = {
    require(deps.nonEmpty, "fdAudit needs at least one dependency")
    deps.map { case (name, lhs, rhs) =>
      require(lhs.nonEmpty, s"dependency $name has an empty lhs")
      val pairs = df
        .select((lhs.zipWithIndex.map { case (c, i) => c.as(s"__l$i") } :+
          rhs.as("__r")): _*)
        .distinct()
      pairs.groupBy(lhs.indices.map(i => col(s"__l$i")): _*)
        .agg(count(lit(1)).as("__d"))
        .agg(count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("__d") > 1, 1L).otherwise(0L)), lit(0L))
            .as("violating_groups"),
          coalesce(max("__d"), lit(0L)).as("max_rhs_per_lhs"))
        .select(lit(name).as("dep"), col("n_groups"),
          col("violating_groups"), col("max_rhs_per_lhs"),
          expr("(violating_groups * 1000000L) div greatest(n_groups, 1L)")
            .as("violation_ppm"))
    }.reduce(_ unionAll _)
  }

  /** Sample-ratio-mismatch (SRM) check — the chi-square goodness-of-fit
    * on assignment counts that every experimentation platform runs
    * BEFORE reading a metric (Fabijan et al., KDD 2019 "Diagnosing
    * Sample Ratio Mismatch"): if the arms don't hold their intended
    * ratio, the randomizer (or a filter downstream of it) is broken and
    * every readout on the experiment is invalid. `weights` are the
    * intended integer allocation (e.g. A→1, B→1 for 50/50); arms with
    * ZERO observed rows still enter the statistic (a vanished arm is
    * the loudest SRM there is). Exact integer arithmetic throughout:
    * with W = Σw, each arm's χ² term is
    * (W·o_g − n·w_g)² / (W·n·w_g), emitted as the ppm floor
    * 10⁶·(W·o_g − n·w_g)² div (W·n·w_g) — and the total χ²_ppm is the
    * exact BIGINT SUM of those integer terms, so there is no
    * order-dependent double accumulation anywhere. One row:
    * (n_arms, n_total, df, chi2_ppm). Compare chi2_ppm against the
    * caller's critical value (3 841 459 ≈ χ²₀.₀₅,df=1).
    *
    * Scale shape: ONE map-side-combined groupBy on the arm column,
    * the |weights|-row allocation table left-joined to it (and broadcast
    * into the unweighted-arm anti join), one 1-row total broadcast, one
    * ≤ |weights|-row rollup. BIGINT
    * contract: 10⁶·(W·n)² < 2⁶³ — W·n ≲ 3 M assignment rows; past
    * that, divide counts by a common factor first (the ratio is
    * scale-free). */
  def srmCheck(df: DataFrame, armCol: Column,
      weights: Seq[(String, Long)]): DataFrame = {
    require(weights.size >= 2, "srmCheck needs at least two arms")
    require(weights.forall(_._2 > 0), "allocation weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate arm in weights")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toDF("arm", "w")
    val obs = df.select(armCol.cast("string").as("arm"))
      .filter(col("arm").isNotNull)
      .groupBy("arm").agg(count(lit(1)).as("o"))
    // weights LEFT join obs: a zero-count arm stays in the statistic;
    // an OBSERVED arm with no weight is an assignment bug — surface it
    // as a NULL-weight row the chi2 sum turns NULL (loud, not dropped)
    val joined = wdf.join(obs, Seq("arm"), "left_outer")
      .select(col("arm"), col("w"), coalesce(col("o"), lit(0L)).as("o"))
      .unionByName(obs.join(broadcast(wdf), Seq("arm"), "left_anti")
        .select(col("arm"), lit(null).cast("long").as("w"), col("o")))
    val tot = broadcast(joined.agg(sum("o").as("n"),
      sum("w").as("bigw"), count(lit(1)).as("n_arms")))
    joined.crossJoin(tot)
      .select(col("n_arms"), col("n"),
        // n = 0 guard: zero observed rows make every term 0/0 — Spark's
        // integer div resolves that to a silent NULL where DuckDB raises
        // (the bootstrapCi divergence class); chi-square over an empty
        // assignment is undefined, so emit NULL explicitly on both
        expr("CASE WHEN n = 0 THEN CAST(NULL AS BIGINT) ELSE " +
          "(1000000L * (bigw * o - n * w) * (bigw * o - n * w)) div " +
          "(bigw * greatest(n, 1L) * w) END").as("term_ppm"))
      .groupBy("n_arms", "n")
      // SUM skips NULLs in both engines, so the stray-arm NULL term must
      // be propagated explicitly or the broken assignment reads healthy
      .agg(sum("term_ppm").as("__s"),
        sum(when(col("term_ppm").isNull, 1L).otherwise(0L)).as("__nulls"))
      .select(col("n_arms"), col("n").as("n_total"),
        (col("n_arms") - 1).as("df"),
        when(col("__nulls") > 0, lit(null).cast("long"))
          .otherwise(col("__s")).as("chi2_ppm"))
  }

  /** Welch's unequal-variance t-test — Welch, Biometrika 1947: the
    * two-sample mean comparison that does NOT assume equal arm
    * variances (Student's pooled test silently inflates false positives
    * when a treatment changes the variance too — almost always, for
    * revenue metrics). The parametric complement to [[mannWhitneyU]]:
    * MW-U asks "does one distribution dominate", this asks "do the
    * MEANS differ" with full efficiency when normality roughly holds.
    * Every moment is exact BIGINT (n, Σx, n·Σx² − (Σx)² per arm); the
    * t statistic and the Welch–Satterthwaite degrees of freedom are
    * each ONE fixed IEEE tree over those integers — engine-identical
    * digits. One row: (g_a, g_b, n_a, n_b, sum_a, sum_b, dd_a, dd_b,
    * t, df) with dd_g = n_g·Σx² − (Σx)² and
    * v_g/n_g = dd_g / (n_g²·(n_g−1)). EXACTLY two groups required
    * (the [[mannWhitneyU]] guard); each arm needs n ≥ 2.
    *
    * Scale shape: ONE aggregate pass per arm (map-side combine on the
    * 2-row group key), a 2-row pairing window, zero joins on raw rows.
    * BIGINT contract: n·max(x)² < 2⁶³ (the corrMatrix bound). */
  def welchTTest(df: DataFrame, groupCol: Column, valueCol: Column)
      : DataFrame = {
    val base = df
      .select(groupCol.cast("string").as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // RAW group count taken BEFORE the n_g >= 2 viability filter: a
    // 3-group input with a singleton arm must yield ZERO rows (the
    // documented loud-failure contract), never a two-arm statistic
    // quietly computed over the survivors
    val byG = base.groupBy("g").agg(count(lit(1)).as("n_g"),
        sum("v").as("s_g"), sum(col("v") * col("v")).as("ss_g"))
      .withColumn("__rawgroups", count(lit(1)).over(wAll))
      .filter(col("n_g") >= 2)
      .withColumn("dd_g", col("n_g") * col("ss_g") - col("s_g") * col("s_g"))
    val wg = org.apache.spark.sql.expressions.Window.orderBy("g")
    val paired = byG
      .select(col("g").as("g_a"), col("n_g").as("n_a"),
        col("s_g").as("sum_a"), col("dd_g").as("dd_a"),
        lead("g", 1).over(wg).as("g_b"),
        lead("n_g", 1).over(wg).as("n_b"),
        lead("s_g", 1).over(wg).as("sum_b"),
        lead("dd_g", 1).over(wg).as("dd_b"),
        count(lit(1)).over(wAll).as("__ngroups"),
        col("__rawgroups"))
      .filter(col("g_b").isNotNull && col("__ngroups") === 2 &&
        col("__rawgroups") === 2)
      .drop("__ngroups", "__rawgroups")
    // va = v_a/n_a and vb = v_b/n_b as fixed IEEE subtrees shared by t
    // and df — both engines must build the IDENTICAL tree shape
    val va = col("dd_a").cast("double") /
      (col("n_a") * col("n_a") * (col("n_a") - 1)).cast("double")
    val vb = col("dd_b").cast("double") /
      (col("n_b") * col("n_b") * (col("n_b") - 1)).cast("double")
    // Degenerate guard: both arms constant (dd_a = dd_b = 0) makes
    // va + vb = 0 and t/df 0/0 — emit NULL explicitly on both engines
    // rather than let Spark's NaN→cast meet DuckDB's CAST error
    val degenerate = col("dd_a") === 0 && col("dd_b") === 0
    paired.select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
      col("sum_a"), col("sum_b"), col("dd_a"), col("dd_b"),
      when(degenerate, lit(null).cast("double"))
        .otherwise((col("sum_a").cast("double") / col("n_a").cast("double") -
          col("sum_b").cast("double") / col("n_b").cast("double")) /
          sqrt(va + vb)).as("t"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(((va + vb) * (va + vb)) /
          (va * va / (col("n_a") - 1).cast("double") +
            vb * vb / (col("n_b") - 1).cast("double"))).as("df"))
  }

  /** Robust MAD outlier gate — the median/MAD z-score replacement for
    * mean/stddev outlier fences (one corrupt 10⁹ row drags a mean fence
    * to uselessness; the median doesn't move): flag values with
    * |x − median| > k·MAD. ENTIRELY exact integer arithmetic via the
    * 2× trick ([[spearmanMatrix]]'s discipline): the interpolated
    * median is carried as med2 = v(⌈n/2⌉) + v(⌊n/2⌋+1) = 2·median
    * (exact BIGINT), per-row deviations as dev2 = |2v − med2| =
    * 2·|x − med|, the MAD as mad4 = 2×median of dev2 = 4·MAD, and the
    * gate as the EXACT comparison 2·dev2 > k·mad4 — zero doubles, zero
    * libm, digit-identical on any engine. One row:
    * (n, med2, mad4, n_outliers, outlier_ppm); ZERO rows on empty input
    * (matching a grouped SQL twin, which emits no groups — a global
    * Spark agg would otherwise emit one degenerate row).
    *
    * Scale shape: each median comes from a distinct-VALUE count groupBy
    * + a cumulative window over the value domain (never a raw-row
    * global sort) + one conditional-sum rollup; the per-row gate is a
    * 1-row broadcast comparison. Two value-domain passes total. The
    * cumulative window is a single partition of |distinct values| rows
    * — the spearmanMatrix contract: when the value domain itself is
    * huge (raw micros), quantize first (cents, millis); the median is
    * bucket-stable. */
  def madOutliers(df: DataFrame, valueCol: Column, k: Long = 3)
      : DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    val base = df.select(valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
    // med2 of an integer column: values at 1-based positions (n+1) div 2
    // and n div 2 + 1 of the sorted multiset, summed
    def med2Of(rows: DataFrame, c: String): DataFrame = {
      val counts = rows.groupBy(c).agg(count(lit(1)).as("__c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(c)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val ranked = counts.select(col(c).as("__v"), col("__c"),
        coalesce(sum("__c").over(w), lit(0L)).as("__below"))
      val tot = broadcast(counts.agg(sum("__c").as("__n")))
      ranked.crossJoin(tot)
        .select(col("__v"), col("__c"), col("__below"), col("__n"),
          expr("(__n + 1) div 2").as("__lo"),
          expr("__n div 2 + 1").as("__hi"))
        .agg(first(col("__n")).as("n"),
          (coalesce(sum(when(col("__below") < col("__lo") &&
              col("__below") + col("__c") >= col("__lo"), col("__v"))),
            lit(0L)) +
           coalesce(sum(when(col("__below") < col("__hi") &&
              col("__below") + col("__c") >= col("__hi"), col("__v"))),
            lit(0L))).as("m2"))
    }
    val med = broadcast(med2Of(base, "v")
      .select(col("n"), col("m2").as("med2")))
    val devs = base.crossJoin(med)
      .select(abs(col("v") * 2 - col("med2")).as("d2"), col("med2"))
    val mad = broadcast(med2Of(devs.select(col("d2")), "d2")
      .select(col("m2").as("mad4")))
    devs.crossJoin(mad)
      .agg(count(lit(1)).as("n"), first(col("med2")).as("med2"),
        first(col("mad4")).as("mad4"),
        coalesce(sum(when(col("d2") * 2 > lit(k) * col("mad4"), 1L)
          .otherwise(0L)), lit(0L)).as("n_outliers"))
      .select(col("n"), col("med2"), col("mad4"), col("n_outliers"),
        expr("(n_outliers * 1000000L) div greatest(n, 1L)")
          .as("outlier_ppm"))
      // empty-input alignment: a Spark global agg over zero rows emits
      // one degenerate all-NULL/zero row where a grouped SQL twin emits
      // none — drop it so both shapes agree (zero rows = no data)
      .filter(col("n") > 0)
  }

  /** Benford first-digit audit — Newcomb 1881/Benford 1938, the
    * fraud/data-quality classic: naturally-occurring positive amounts
    * have leading digit d with probability log₁₀(1 + 1/d); fabricated
    * or truncated columns don't. Nine rows (digit, obs, obs_ppm,
    * exp_ppm, term_ppm): obs/obs_ppm exact integers, exp_ppm and each
    * χ² term floor-ppm'd from a fixed IEEE tree whose only
    * transcendental inputs are the nine log₁₀ values INLINED AS SOURCE
    * LITERALS — identical bytes in the Spark expression and the oracle
    * SQL, so no runtime libm call can drift an ulp between engines (the
    * qa28 z-sum precedent; this file bans runtime ln/log everywhere).
    * χ² = Σ term_ppm/10⁶ against χ²₀.₀₅,df=8 ≈ 15.507. Zero and
    * negative values are excluded (Benford applies to positive
    * magnitudes; the caller scales decimals to integers first).
    *
    * Scale shape: one first-digit projection + ONE map-side-combined
    * 9-key groupBy, a 9-row digit table left-joined to it (zero-count
    * digits stay in the statistic), a 1-row total broadcast. */
  def benfordAudit(df: DataFrame, valueCol: Column): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull && col("v") > 0)
    val obs = base
      .select(expr("CAST(substring(CAST(v AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("o"))
    val digits = spark.range(1, 10).select(col("id").as("digit"))
    val filled = digits.join(obs, Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("o"), lit(0L)).as("o"))
    val tot = broadcast(filled.agg(sum("o").as("n")))
    val p = "CASE digit WHEN 1 THEN 0.3010299956639812d " +
      "WHEN 2 THEN 0.17609125905568124d WHEN 3 THEN 0.12493873660829992d " +
      "WHEN 4 THEN 0.09691001300805642d WHEN 5 THEN 0.07918124604762482d " +
      "WHEN 6 THEN 0.06694678963061322d WHEN 7 THEN 0.05799194697768673d " +
      "WHEN 8 THEN 0.05115252244738129d ELSE 0.04575749056067514d END"
    filled.crossJoin(tot)
      .select(col("digit"), col("o").as("obs"),
        expr("(o * 1000000L) div greatest(n, 1L)").as("obs_ppm"),
        expr(s"CAST(floor(($p) * 1000000.0d) AS BIGINT)").as("exp_ppm"),
        // n = 0 guard: an empty positive-value set makes every term
        // 0.0/0.0 — Spark casts the NaN silently where DuckDB's
        // CAST(NaN AS BIGINT) raises; the chi-square is undefined at
        // n = 0, so emit NULL explicitly on both engines
        expr(s"CASE WHEN n = 0 THEN CAST(NULL AS BIGINT) ELSE " +
          s"CAST(floor(((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * ($p)) " +
          s"* (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * ($p)) " +
          s"/ (CAST(n AS DOUBLE) * ($p))) * 1000000.0d) AS BIGINT) END")
          .as("term_ppm"))
  }

  /** Mann–Whitney U rank-sum test — Mann & Whitney, Ann. Math. Stat.
    * 1947: the nonparametric two-sample readout ([[spearmanMatrix]]'s
    * rank discipline applied to an A/B comparison). Does one arm's
    * metric distribution stochastically dominate the other's, without
    * assuming normality — the robust complement to a t-test/CUPED mean
    * readout when the metric is skewed (revenue, latency). Ranks use
    * the standard mid-rank tie treatment carried as 2×rank so they stay
    * exact integers (rank2(v) = 2·(#strictly smaller) + (#equal) + 1),
    * so U itself is carried as 2U = Σrank2 − n₁(n₁+1) — exact BIGINT.
    * The tie-corrected normal approximation
    * z = (U − n₁n₂/2) / √(n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1))))
    * is emitted as ONE fixed IEEE expression over exact BIGINT inputs —
    * engine-identical digits. One row: (g_a, g_b, n_a, n_b, u2x_a,
    * u2x_b, tie_term, z). EXACTLY two groups required: any other group
    * count yields zero rows (a total-count guard on the pairing window)
    * — loud downstream, never a silently mispaired statistic.
    *
    * Scale shape: ranks come from ONE distinct-value groupBy + a
    * cumulative window over the VALUE DOMAIN (never raw rows), one hash
    * join back, one two-row group rollup. BIGINT contract: the exact
    * tie/variance terms need (n+1)·n·(n−1) < 2⁶³ — n ≲ 2.1 M ranked
    * rows; past that, rank equi-depth buckets instead (the
    * [[spearmanMatrix]] guidance). */
  def mannWhitneyU(df: DataFrame, groupCol: Column, valueCol: Column)
      : DataFrame = {
    val base = df
      .select(groupCol.cast("string").as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val counts = base.groupBy("v").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val ranks = counts.select(col("v"),
      (coalesce(sum("c").over(w), lit(0L)) * 2 + col("c") + 1).as("r2"))
    val tie = broadcast(counts.agg(
      coalesce(sum(col("c") * col("c") * col("c") - col("c")), lit(0L))
        .as("tie_term")))
    val byG = base.join(ranks, Seq("v"))
      .groupBy("g").agg(count(lit(1)).as("n_g"), sum("r2").as("r2sum"))
    val wg = org.apache.spark.sql.expressions.Window.orderBy("g")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    byG
      .select(col("g").as("g_a"), col("n_g").as("n_a"),
        col("r2sum").as("r2_a"),
        lead("g", 1).over(wg).as("g_b"),
        lead("n_g", 1).over(wg).as("n_b"),
        lead("r2sum", 1).over(wg).as("r2_b"),
        count(lit(1)).over(wAll).as("__ngroups"))
      .filter(col("g_b").isNotNull && col("__ngroups") === 2)
      .drop("__ngroups")
      .crossJoin(tie)
      .withColumn("u2x_a", col("r2_a") - col("n_a") * (col("n_a") + 1))
      .withColumn("u2x_b", col("r2_b") - col("n_b") * (col("n_b") + 1))
      .withColumn("n", col("n_a") + col("n_b"))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        col("u2x_a"), col("u2x_b"), col("tie_term"),
        // z over 2U: Var(2U) = n₁n₂·((n+1)n(n−1) − T) / (3n(n−1)) —
        // every inner term exact BIGINT, one fixed IEEE tree at the end.
        // Degenerate guard: (n+1)n(n−1) − T = 0 iff EVERY ranked value is
        // identical (T maxes at n³−n), making z 0/0 — emit NULL
        // explicitly on both engines rather than let Spark's NaN→cast
        // meet DuckDB's CAST error (the cross-engine divergence class)
        when((col("n") + 1) * col("n") * (col("n") - 1) -
            col("tie_term") > 0,
          (col("u2x_a").cast("double") - (col("n_a") * col("n_b"))
              .cast("double")) /
            sqrt((col("n_a") * col("n_b")).cast("double") *
              ((col("n") + 1) * col("n") * (col("n") - 1) - col("tie_term"))
                .cast("double") /
              (lit(3L) * col("n") * (col("n") - 1)).cast("double")))
          .otherwise(lit(null).cast("double"))
          .as("z"))
  }
}
