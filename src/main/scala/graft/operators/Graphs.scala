package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph primitives over plain edge DataFrames. Connected
  * components (duplicate clustering) live in [[Dedup.duplicateClusters]];
  * this file holds the counting side.
  */
object Graphs {

  /** Each undirected edge of `edges0` once, as longs `u < v`; self-loops
    * and null endpoints dropped. */
  private def canonicalEdges(edges0: DataFrame, aCol: String,
      bCol: String): DataFrame =
    edges0
      .select(least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .distinct()

  /** [[canonicalEdges]] in both directions, as columns (`a`, `b`). */
  private def bothWays(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(col("u").as(a), col("v").as(b))
      .unionAll(edges.select(col("v").as(a), col("u").as(b)))

  /** Exact triangle statistics via degree-ordered edge orientation (Suri
    * & Vassilvitskii 2011, "Counting triangles and the curse of the last
    * reducer", WWW '11): orient every edge from its lower (degree, id)
    * endpoint, enumerate wedges only from each vertex's OUT-edges, close
    * them against the canonical edge set. Returns one row
    * (n_edges, n_wedges, n_triangles).
    *
    * Why the orientation matters at 100 TB: the naive wedge join fans out
    * as Σ deg(v)² — one celebrity hub with 10M neighbors generates 10¹⁴
    * wedges on a single key ("the last reducer"). Degree-ordering bounds
    * every out-degree by O(√E), so total wedges are at most E^1.5 and no
    * single join key is a hot spot; every stage is a hash join on vertex
    * ids (the O(V) degree relation rejoins via shuffle-hash, never
    * broadcast). Self-loops are dropped; input edges may be listed in
    * either direction and repeatedly. */
  def triangleStats(edges0: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (edges, _, wedge) = orientedWedges(edges0, aCol, bCol)
    val nTri = wedge.join(edges,
        col("x") === col("u") && col("y") === col("v"))
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedge.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(nTri)
  }

  /** Per-vertex triangle participation and local clustering coefficient
    * `2T(v) / (d(v)·(d(v)−1))` — (n, degree, triangles, coeff), every
    * vertex included (isolated-in-triangle vertices at coeff 0; degree-1
    * vertices at 0 by convention). Same oriented-wedge plan as
    * [[triangleStats]]; each closed triangle is attributed to its three
    * vertices by an explode, so the extra cost over the count is one
    * 3×-triangles shuffle — triangles, not wedges, and triangle counts
    * are sparse in real graphs. */
  def clusteringCoefficients(edges0: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val (edges, deg, wedge) = orientedWedges(edges0, aCol, bCol)
    val tri = wedge.join(edges,
      col("x") === col("u") && col("y") === col("v"))
    val perVertex = tri
      .select(explode(array(col("s"), col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    deg.join(perVertex.hint("shuffle_hash"), Seq("n"), "left")
      .select(col("n"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("coeff",
        when(col("degree") < 2, lit(0.0)).otherwise(
          lit(2.0) * col("triangles") / (col("degree") * (col("degree") - 1))))
  }

  /** Shared skeleton: canonical u<v edges, the degree table, and the
    * degree-ordered oriented wedges carrying their apex `s`. */
  private def orientedWedges(edges0: DataFrame, aCol: String,
      bCol: String): (DataFrame, DataFrame, DataFrame) = {
    val edges = canonicalEdges(edges0, aCol, bCol)
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("n").as("u"), col("d").as("du"))
        .hint("shuffle_hash"), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv"))
        .hint("shuffle_hash"), "v")
    val fromU = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val ori = withDeg.select(
      when(fromU, col("u")).otherwise(col("v")).as("s"),
      when(fromU, col("v")).otherwise(col("u")).as("t"))
    // wedges from out-edges only: (s; x < y) — already canonical, so the
    // closing lookup is a single equi-join against the u<v edge set
    val wedge = ori.as("a").join(ori.as("b"),
        col("a.s") === col("b.s") && col("a.t") < col("b.t"))
      .select(col("a.s").as("s"), col("a.t").as("x"), col("b.t").as("y"))
    (edges, deg, wedge)
  }

  /** k-truss peeling — the community backbone stronger than k-core (an
    * edge survives only while it closes ≥ k−2 triangles with OTHER
    * survivors; spam link-farms and crawl artifacts dissolve, dense
    * communities keep their skeleton): `iters` FIXED peeling rounds —
    * each recomputes per-edge triangle support over the current
    * survivors and drops edges below k−2. Fixed-round semantics make
    * the result engine-deterministic with or without convergence; a
    * round that drops nothing exits early (identical result — the
    * remaining rounds are no-ops). Returns the surviving edges with
    * their support IN THE FINAL GRAPH: (u, v, support).
    *
    * Scale shape: per round, one degree-oriented wedge join (the
    * [[triangleStats]] plan — wedges from the low-degree endpoint, so
    * hub vertices never fan out quadratically) + one explode(3) +
    * support groupBy; survivors are `localCheckpoint`ed every round
    * (the kCore lesson: linear lineage, one bounded job per round,
    * exact size stats for AQE). */
  def kTruss(edges0: DataFrame, aCol: String, bCol: String, k: Int,
      iters: Int = 3): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    def support(edges: DataFrame): DataFrame = {
      val (e, _, wedge) = orientedWedges(edges, "u", "v")
      wedge.join(e, col("x") === col("u") && col("y") === col("v"))
        .select(explode(array(
          struct(least(col("s"), col("x")).as("u"),
            greatest(col("s"), col("x")).as("v")),
          struct(least(col("s"), col("y")).as("u"),
            greatest(col("s"), col("y")).as("v")),
          struct(col("x").as("u"), col("y").as("v")))).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("support"))
    }
    var cur = canonicalEdges(edges0, aCol, bCol)
      .localCheckpoint(true)
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      val before = cur.count()
      val kept = cur.join(
          support(cur).filter(col("support") >= (k - 2).toLong)
            .select("u", "v").hint("shuffle_hash"),
          Seq("u", "v"), "left_semi")
        .localCheckpoint(true)
      converged = kept.count() == before
      cur = kept
      i += 1
    }
    cur.join(support(cur).hint("shuffle_hash"), Seq("u", "v"), "left_outer")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Fixed-iteration PageRank over an undirected edge list, in scaled
    * 64-bit integer arithmetic so the result is bit-identical across
    * engines: ranks are longs in units of `1/scale`, every division is
    * integer `div` (truncating; all operands non-negative so truncation
    * == floor in Spark and DuckDB alike), and long addition is exact in
    * any order — no float accumulation-order drift. The recurrence is
    * the standard damped walk, d = 85/100:
    *
    *   r₀(v)    = scale div n
    *   rₖ₊₁(v) = ((scale·15) div 100) div n
    *             + (85 · Σ_{u~v} (rₖ(u) div deg(u))) div 100
    *
    * Undirected edges walk both directions, so every vertex has
    * out-degree ≥ 1 and there are no dangling-mass corrections.
    * Returns (n, rank) for every vertex, rank the scaled long.
    *
    * SCALE CONTRACT — how this runs at 100 TB: each iteration is the
    * Pregel step every distributed PageRank pays — one hash join of the
    * O(V) rank table against the edge list on the source vertex and one
    * aggregation by destination, both partitioned on vertex id; nothing
    * is ever collected to the driver (the vertex count enters the plan
    * as a broadcast one-row aggregate). The degree-annotated directed
    * edge table is built once and persisted across all `iters` scans.
    * For deep iteration counts (>~20) on a real cluster, cut the
    * growing lineage with `localCheckpoint` on the rank table every few
    * rounds; at the fixed shallow depths used here the plain
    * composed plan is both correct and AQE-optimizable end-to-end. */
  def pageRank(edges0: DataFrame, aCol: String, bCol: String,
      iters: Int = 5, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0 && iters <= 50, s"iters out of range: $iters")
    val edges = canonicalEdges(edges0, aCol, bCol)
    // directed both ways + out-degree, built once, scanned every round
    val dir = bothWays(edges, "src", "dst")
    val outdeg = dir.groupBy("src").agg(count(lit(1)).as("d"))
    val dirDeg = dir.join(outdeg.hint("shuffle_hash"), "src").persist()
    val nodes = outdeg.select(col("src").as("n"))
    val nn = broadcast(nodes.agg(count(lit(1)).as("cnt")))
    var ranks = nodes.crossJoin(nn)
      .select(col("n"), expr(s"${scale}L div cnt").as("r"))
    for (_ <- 1 to iters) {
      val sums = ranks.join(dirDeg, col("n") === col("src"))
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      ranks = nodes
        .join(sums.withColumnRenamed("dst", "n").hint("shuffle_hash"),
          Seq("n"), "left")
        .crossJoin(nn)
        .select(col("n"),
          expr(s"((${scale}L * 15) div 100) div cnt" +
            " + (85 * coalesce(s, 0L)) div 100").as("r"))
    }
    ranks.select(col("n"), col("r").as("rank"))
  }

  /** Personalized PageRank (random walk with restart to a SEED set) —
    * the "similar nodes to these" primitive behind related-item
    * recommendation and seed-expansion labeling. Same scaled-integer
    * power iteration as [[pageRank]], except the teleport mass lands
    * only on the seeds:
    *   rₖ₊₁(v) = [v ∈ S]·((scale·15) div 100) div |S|
    *             + (85 · Σ_{u~v} (rₖ(u) div deg(u))) div 100
    * with r₀ = scale div |S| on seeds, 0 elsewhere. Engine-exact integer
    * arithmetic; an unrolled SQL oracle replays every digit. Returns
    * (n, rank) for every vertex (vertices the walk never reaches stay 0).
    *
    * SCALE CONTRACT: identical to [[pageRank]] — one Pregel-shaped hash
    * join + aggregation per iteration on the persisted degree-annotated
    * edge table; the seed set joins as an O(|S|) relation on the same
    * vertex partitioning, |S| enters as a broadcast one-row aggregate. */
  def personalizedPageRank(edges0: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0 && iters <= 50, s"iters out of range: $iters")
    val edges = canonicalEdges(edges0, aCol, bCol)
    val dir = bothWays(edges, "src", "dst")
    val outdeg = dir.groupBy("src").agg(count(lit(1)).as("d"))
    val dirDeg = dir.join(outdeg.hint("shuffle_hash"), "src").persist()
    val nodes = outdeg.select(col("src").as("n"))
    // seeds restricted to graph vertices, so |S| matches the mass placed
    val seedSet = seeds.select(col(seedCol).cast("long").as("n")).distinct()
      .join(nodes, "n").withColumn("is_seed", lit(1))
    val ns = broadcast(seedSet.agg(count(lit(1)).as("scnt")))
    var ranks = nodes
      .join(seedSet.hint("shuffle_hash"), Seq("n"), "left").crossJoin(ns)
      .select(col("n"),
        when(col("is_seed") === 1, expr(s"${scale}L div scnt"))
          .otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      val sums = ranks.join(dirDeg, col("n") === col("src"))
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      ranks = nodes
        .join(sums.withColumnRenamed("dst", "n").hint("shuffle_hash"),
          Seq("n"), "left")
        .join(seedSet.hint("shuffle_hash"), Seq("n"), "left")
        .crossJoin(ns)
        .select(col("n"),
          (when(col("is_seed") === 1,
            expr(s"((${scale}L * 15) div 100) div scnt")).otherwise(lit(0L))
            + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    ranks.select(col("n"), col("r").as("rank"))
  }

  /** Fixed-iteration synchronous label propagation (community detection):
    * labels start as the vertex id; each round every vertex adopts the
    * most frequent label among its neighbours, ties to the SMALLEST label
    * — fully deterministic (the async/random-order variants of classic
    * LPA are not), so the result is engine-reproducible and an unrolled
    * SQL oracle replays it exactly. Fixed `iters` sidesteps the
    * bipartite-oscillation non-termination of synchronous LPA. Returns
    * (n, label) for every vertex.
    *
    * SCALE CONTRACT: each round is one hash join of the O(V) label table
    * against the directed edge list plus one (dst, label) count
    * aggregation and a per-dst argmin — all partitioned on vertex id;
    * nothing is collected to the driver. The directed edge table is
    * built once and persisted across rounds. Same deep-iteration
    * lineage note as [[pageRank]]. */
  def labelPropagation(edges0: DataFrame, aCol: String, bCol: String,
      iters: Int = 5): DataFrame = {
    require(iters >= 0 && iters <= 50, s"iters out of range: $iters")
    val edges = canonicalEdges(edges0, aCol, bCol)
    val dir = bothWays(edges, "src", "dst")
      .persist()
    var labels = dir.select(col("src").as("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
    for (_ <- 1 to iters) {
      labels = labels.join(dir, col("n") === col("src"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        // per-dst argmin of (-count, label): highest count, smallest label
        .groupBy(col("dst").as("n"))
        .agg(min_by(col("lbl"), struct(-col("c"), col("lbl"))).as("lbl"))
    }
    labels.select(col("n"), col("lbl").as("label"))
  }

  /** Fixed-round k-core peeling: starting from all vertices, each round
    * drops every vertex whose degree within the surviving subgraph is
    * < k; after `rounds` rounds, returns (n, deg) for the survivors with
    * their within-subgraph degree. With enough rounds this converges to
    * the classic k-core; a fixed round count keeps the operator
    * deterministic, oracle-replayable, and bounded — each round deletes
    * at least one vertex until fixpoint, and real corpus graphs reach the
    * core in few rounds.
    *
    * SCALE CONTRACT: each round is one semi-join of the edge list
    * against the surviving vertex set (hash join on vertex id) and one
    * degree aggregation — work shrinks monotonically as vertices drop;
    * nothing is driver-side. The surviving vertex set is
    * localCheckpoint'ed each round (the [[Dedup.duplicateClusters]]
    * discipline): `degIn` references `alive` on BOTH join sides, so an
    * unmaterialized loop would double the logical plan per round —
    * 2^rounds copies of the base subtree by the end. Checkpointing makes
    * every round one bounded job over a materialized vertex list. */
  def kCore(edges0: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int = 5): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    require(rounds >= 1 && rounds <= 50, s"rounds out of range: $rounds")
    val edges = canonicalEdges(edges0, aCol, bCol)
      .persist()
    def degIn(alive: DataFrame): DataFrame = {
      // no join-strategy hint: `alive` is a localCheckpoint'ed vertex
      // list with exact size stats, so AQE broadcasts it while it fits
      // (the common case — vertices << edges) and falls back to a
      // shuffled join when a billion-vertex survivor set genuinely
      // cannot ship to every executor
      val live = edges
        .join(alive.select(col("n").as("u")), "u")
        .join(alive.select(col("n").as("v")), "v")
      live.select(col("u").as("n"))
        .unionAll(live.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
    }
    var alive = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n"))).distinct()
      .localCheckpoint()
    // fixpoint early-exit: a round that drops no vertex changes nothing
    // in any later round, so stopping there returns the identical result
    // with fewer jobs (the count is a cheap scan of the checkpointed
    // vertex list)
    var n = alive.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      alive = degIn(alive).filter(col("deg") >= k).select("n")
        .localCheckpoint()
      val n2 = alive.count()
      if (n2 == n) converged = true else n = n2
    }
    // survivors reported with their degree INSIDE the survivor subgraph
    degIn(alive)
  }

  /** Link prediction over an undirected graph: for every NON-adjacent
    * vertex pair (u < v) with at least one common neighbour, the
    * common-neighbour count and the resource-allocation index
    * (Zhou/Lü/Zhang 2009) Σ_z 1/deg(z) — in scaled integer arithmetic
    * (`scale div deg(z)`) so the score is bit-identical in any engine;
    * RA is the integer-friendly cousin of Adamic-Adar (1/deg instead of
    * 1/log deg) and outperforms it on most benchmark graphs. Returns
    * (u, v, common, ra_score).
    *
    * SCALE CONTRACT: the pair fan-out routes through each common
    * neighbour z — C(deg(z), 2) pairs per z — so hubs with
    * deg > `maxDeg` are EXCLUDED as intermediates (the standard
    * bound; a 1 M-degree hub would otherwise emit 5·10¹¹ pairs, and
    * hubs carry ~zero RA weight anyway: each contributes 1/deg → 0).
    * With the cap, work is Σ_z min(deg z, maxDeg)² — linear in edges
    * for bounded maxDeg. One self-join of the neighbour list on z, one
    * (u,v) aggregation, one anti-join against the edge list; all
    * hash-partitioned, nothing driver-side. */
  def linkPrediction(edges0: DataFrame, aCol: String, bCol: String,
      scale: Long = 1000000L, maxDeg: Int = 64): DataFrame = {
    require(maxDeg >= 2, s"maxDeg >= 2: $maxDeg")
    require(scale >= 1 && scale <= 1000000000000L, s"scale out of range: $scale")
    val edges = canonicalEdges(edges0, aCol, bCol)
    val dir = bothWays(edges, "z", "n")
    val deg = dir.groupBy("z").agg(count(lit(1)).as("deg"))
    val nbrs = dir.join(deg.filter(col("deg") <= maxDeg), "z")
    nbrs.as("x").join(nbrs.as("y"),
        col("x.z") === col("y.z") && col("x.n") < col("y.n"))
      .select(col("x.n").as("u"), col("y.n").as("v"), col("x.deg").as("dz"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common"),
        sum(expr(s"${scale}L div dz")).as("ra_score"))
      .join(edges, Seq("u", "v"), "left_anti")
  }

  /** Fixed-iteration HITS (Kleinberg 1999) over a DIRECTED edge list, in
    * scaled integer arithmetic: authority(v) = Σ_{u→v} hub(u), then
    * hub(u) = Σ_{u→v} authority(v), each half-step L∞-normalized to
    * `scale` (score · scale div max — integer-exact, so every engine
    * lands on identical longs; Kleinberg's L2 norm needs sqrt and is
    * not cross-engine reproducible). Scores start at `scale`. Returns
    * (n, hub, auth) for every vertex; a vertex with no out-edges has
    * hub 0, no in-edges auth 0.
    *
    * SCALE CONTRACT: each half-step is one hash join of the O(V) score
    * table against the edge list plus one aggregation — the Pregel
    * shape, partitioned on vertex id throughout; the max enters as a
    * broadcast one-row aggregate. Score tables are localCheckpoint'ed
    * per half-step ([[kCore]] discipline): normalization references the
    * fresh scores twice (values + max), so an unmaterialized loop would
    * compound the plan ~4× per round. */
  def hits(edges0: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters out of range: $iters")
    require(scale >= 1 && scale <= 1000000000L, s"scale out of range: $scale")
    val edges = edges0
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist()
    val nodes = edges.select(col("src").as("n"))
      .unionAll(edges.select(col("dst").as("n"))).distinct()
      .localCheckpoint()
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val mx = broadcast(scores.agg(max(col(c)).as("mx")))
      scores.crossJoin(mx)
        .select(col("n"), expr(s"($c * ${scale}L) div mx").as(c))
    }
    var hubs = nodes.select(col("n"), lit(scale).as("h"))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = edges.join(hubs.withColumnRenamed("n", "src"), "src")
        .groupBy(col("dst").as("n")).agg(sum("h").as("a"))
      auths = normalized(aRaw, "a").localCheckpoint()
      val hRaw = edges.join(auths.withColumnRenamed("n", "dst"), "dst")
        .groupBy(col("src").as("n")).agg(sum("a").as("h"))
      hubs = normalized(hRaw, "h").localCheckpoint()
    }
    nodes
      .join(hubs.hint("shuffle_hash"), Seq("n"), "left")
      .join(auths.hint("shuffle_hash"), Seq("n"), "left")
      .select(col("n"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
  }

  /** Multi-source BFS over an undirected edge list: the minimum hop
    * distance from ANY seed vertex, up to `maxHops` — (n, dist) for every
    * vertex reached (seeds at dist 0); unreached vertices are absent.
    * The "distance to nearest labeled example" primitive behind
    * label-spreading QA, blast-radius analysis, and seed-expansion
    * crawls.
    *
    * Classic frontier BFS: each round expands only the LAST round's
    * frontier through the edge list and anti-joins the already-visited
    * set, so a vertex is claimed exactly once, at its first (= shortest)
    * hop count. An empty frontier ends the loop early.
    *
    * SCALE CONTRACT: per round, one hash join of the frontier (≤ V rows,
    * shrinking once the wave passes the graph's bulk) against the edge
    * list and one anti-join against visited — all partitioned on vertex
    * id; total work across rounds is O(E · 1) amortized since each edge
    * fires only when its source enters the frontier. Frontier and
    * visited are localCheckpoint'ed per round ([[kCore]] discipline):
    * `visited` feeds both the anti-join and the next union, so an
    * unmaterialized loop would double the plan per round. */
  def shortestHops(edges0: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, s"maxHops out of range: $maxHops")
    val edges0s = edges0
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
    val edges = edges0s
      .unionAll(edges0s.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .persist()
    var frontier = seeds.select(col(seedCol).cast("long").as("n")).distinct()
      .withColumn("dist", lit(0))
      .localCheckpoint()
    // (r11 note: replacing the per-round visited checkpoint with a lazy
    // union over the checkpointed frontiers was MEASURED SLOWER on qg18 —
    // 3.4 s -> 7.2 s min-of-6: the growing union defeats the anti-join's
    // runtime stats and replans every round. Kept materialized.)
    var visited = frontier
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = frontier.select(col("n").as("u"))
        .join(edges, "u")
        .select(col("v").as("n")).distinct()
        .join(visited.select("n"), Seq("n"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint()
      visited = visited.unionAll(frontier).localCheckpoint()
    }
    edges.unpersist()
    visited
  }

  /** Double-sweep diameter estimate — the standard two-BFS lower bound
    * (Magnien-Latapy-Habib): BFS from a seed, take the farthest reached
    * vertex (ties to the smaller id), BFS again from there; the second
    * eccentricity is a diameter lower bound that is exact on trees and
    * empirically tight on real graphs. One row: (start_n, sweep1_far,
    * sweep1_ecc, sweep2_far, diameter_lb, n_reached) — n_reached from
    * the second sweep (the seed's component size within `maxHops`).
    *
    * Scale shape: two [[shortestHops]] runs (frontier BFS, checkpointed
    * rounds, O(E) amortized) + two bounded 1-row driver gathers for the
    * argmax hand-off between sweeps. Distances cap at `maxHops` — size
    * it above the expected diameter or read the bound as "≥ cap". */
  def doubleSweepDiameter(edges: DataFrame, aCol: String, bCol: String,
      seed: Long, maxHops: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def seedDf(n: Long) = spark.createDataFrame(
      java.util.Arrays.asList(Row(n)),
      StructType(Seq(StructField("n", LongType))))
    def farthest(d: DataFrame): (Long, Long) = {
      val r = d.orderBy(col("dist").desc, col("n")).limit(1).head()
      (r.getLong(0), r.getAs[Number]("dist").longValue())
    }
    val d1 = shortestHops(edges, aCol, bCol, seedDf(seed), "n", maxHops)
    val (far1, ecc1) = farthest(d1)
    val d2 = shortestHops(edges, aCol, bCol, seedDf(far1), "n", maxHops)
    val (far2, ecc2) = farthest(d2)
    val nReached = d2.count()
    spark.createDataFrame(
      java.util.Arrays.asList(Row(seed, far1, ecc1, far2, ecc2, nReached)),
      StructType(Seq(StructField("start_n", LongType),
        StructField("sweep1_far", LongType), StructField("sweep1_ecc", LongType),
        StructField("sweep2_far", LongType), StructField("diameter_lb", LongType),
        StructField("n_reached", LongType))))
  }

  /** Newman modularity of a candidate partitioning — the score that says
    * whether a community assignment (label propagation, connected
    * components, a hash-bucket null model) beats random chance on this
    * graph: Q = Σ_c [ e_c/m − (d_c/2m)² ], in integer ppm with the two
    * terms divided SEPARATELY before subtracting (`intra_ppm = e_c·scale
    * div m`, `exp_ppm = d_c²·scale div 4m²`) so no integer division ever
    * sees a negative operand — engine-exact, truncate-vs-floor safe.
    * Returns one row per community (community, n_nodes, e_in, d_sum,
    * intra_ppm, exp_ppm, contrib_ppm) with the global `modularity_ppm =
    * Σcontrib` stamped on every row. Unassigned endpoints (nodes absent
    * from `assign`) count toward no community's e_c/d_c — feed a total
    * assignment for the textbook score. Q ranges over (−scale/2, scale).
    *
    * Scale shape: undirected-canonical edge dedup, one degree
    * aggregation, two hash joins of the edge list against the O(V)
    * assignment relation, then community-sized aggregations and a
    * one-row global broadcast — nothing quadratic, nothing driver-side.
    * Overflow: d_c² ≤ 4m², so contrib needs m·scale < 2⁶³ — at ppm
    * scale that is m < 9·10¹², beyond any edge list this engine meets. */
  def modularity(edges0: DataFrame, aCol: String, bCol: String,
      assign: DataFrame, nodeCol: String, commCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1 && scale <= 1000000000L, s"scale out of range: $scale")
    val edges = canonicalEdges(edges0, aCol, bCol)
    val asg = assign.select(col(nodeCol).cast("long").as("n"),
      col(commCol).cast("long").as("c")).distinct()
    val m = broadcast(edges.agg(count(lit(1)).as("m")))
    // within-community edges: both endpoints tagged, equal community
    val tagged = edges
      .join(asg.select(col("n").as("u"), col("c").as("cu")), Seq("u"))
      .join(asg.select(col("n").as("v"), col("c").as("cv")), Seq("v"))
    val eIn = tagged.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("e_in"))
    // degree = endpoint multiplicity in the undirected edge list
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val dSum = deg.join(asg, Seq("n"))
      .groupBy(col("c").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_sum"))
    val perC = dSum.join(eIn, Seq("community"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(m)
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_sum"),
        expr(s"(e_in * ${scale}L) div greatest(1L, m)").as("intra_ppm"),
        expr(s"(d_sum * d_sum * ${scale}L) div greatest(1L, 4 * m * m)")
          .as("exp_ppm"))
      .withColumn("contrib_ppm", expr("intra_ppm - exp_ppm"))
    perC.crossJoin(broadcast(
        perC.agg(sum("contrib_ppm").as("modularity_ppm"))))
  }

  /** One synchronized Louvain sweep from singletons — Blondel et al.,
    * J.Stat.Mech 2008, round one: every vertex weighs moving into a
    * neighbour's community by the exact modularity gain. From singleton
    * communities that gain reduces to ΔQ·4m² = 4m·A_ij − 2·k_i·k_j, so
    * the best target is the MINIMUM-degree neighbour (ties to the
    * smallest id) and the merge happens iff 4m − 2·k_i·k_j > 0 — pure
    * integer arithmetic, deterministic in any engine (the sequential
    * visit order classic Louvain depends on is gone: all vertices move
    * simultaneously against the singleton state). A merging vertex
    * takes community id least(i, j) — mutual choices COALESCE instead
    * of swapping labels past each other, the synchronized-round
    * artifact that leaves every pair in distinct communities. The
    * resulting partition is scored with [[modularity]]'s exact scaled
    * terms. One row: (n_vertices, n_edges, n_merged, n_communities,
    * modularity_ppm).
    *
    * Scale shape: one degree groupBy; the per-vertex argmin is a rank
    * window on the adjacency's own partitioning; the edge count m is a
    * 1-row broadcast; scoring reuses modularity's two hash joins.
    * BIGINT holds while 2·k_i·k_j < 2⁶³ (degrees to ~2·10⁹). */
  def louvainSweep(edges0: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    // materialized once (r11 opt): the raw edge subtree fed m, both deg
    // branches, both adj branches, AND [[modularity]]'s internal edge/
    // degree pipelines — the executed plan re-ran the input self-join
    // ~10x (125 parquet scans / 436 Exchanges in qg21's final plan)
    val edges = canonicalEdges(edges0, aCol, bCol)
      .localCheckpoint()
    val m = broadcast(edges.agg(count(lit(1)).as("m")))
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val adj = bothWays(edges, "i", "j")
      .join(deg.select(col("n").as("j"), col("deg").as("kj"))
        .hint("shuffle_hash"), "j")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("i").orderBy(col("kj"), col("j"))
    // also materialized: the assignment feeds modularity's TWO endpoint
    // tag joins, its volume join, and the mv rollup — 4 consumers of the
    // whole window pipeline when lazy
    val choice = adj.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(deg.select(col("n").as("i"), col("deg").as("ki"))
        .hint("shuffle_hash"), "i")
      .crossJoin(m)
      .select(col("i").as("n"),
        when(lit(4L) * col("m") - lit(2L) * col("ki") * col("kj") > 0,
          least(col("i"), col("j"))).otherwise(col("i")).as("c"),
        (lit(4L) * col("m") - lit(2L) * col("ki") * col("kj") > 0)
          .as("merged"))
      .localCheckpoint()
    val q = modularity(edges, "u", "v", choice.select("n", "c"), "n", "c")
      .agg(max("modularity_ppm").as("modularity_ppm"))
    val mv = choice
      .agg(count(lit(1)).as("n_vertices"),
        sum(when(col("merged"), 1L).otherwise(0L)).as("n_merged"),
        count_distinct(col("c")).as("n_communities"))
    mv.crossJoin(m).crossJoin(broadcast(q))
      .select(col("n_vertices"), col("m").as("n_edges"), col("n_merged"),
        col("n_communities"), col("modularity_ppm"))
  }

  /** Market-basket association rules — directed `ante → cons` pairs
    * with support, confidence, and lift in integer ppm (the co-purchase
    * recommender and the data-curation "which sources co-occur" view):
    *   confidence = support·10⁶ div occ(ante),
    *   lift = support·n_baskets·10⁶ div (occ(ante)·occ(cons))
    * — lift > 10⁶ means the pair co-occurs beyond independence. Top
    * `topK` rules by (support desc, confidence desc, ante, cons).
    *
    * Scale shape: baskets larger than `maxBasket` are dropped BEFORE
    * pair expansion (the fan-out per basket is k·(k−1) — one pathological
    * mega-basket would otherwise dominate the job); pair counts
    * aggregate on the basket join's own output; item occurrence tables
    * rejoin shuffle-hash (item space is catalog-sized, never broadcast);
    * the rank sorts only the ≥ minSupport rule table. */
  def associationRules(baskets: DataFrame, basketCol: String,
      itemCol: String, minSupport: Long = 2L, topK: Int = 50,
      maxBasket: Int = 100): DataFrame = {
    require(minSupport >= 1 && topK >= 1 && topK <= 100000)
    require(maxBasket >= 2, "maxBasket >= 2")
    val bi0 = baskets.select(col(basketCol).cast("long").as("b"),
      col(itemCol).cast("long").as("i")).distinct()
    val sizes = bi0.groupBy("b").agg(count(lit(1)).as("bs"))
    val bi = bi0.join(sizes.filter(col("bs") <= maxBasket)
      .select("b").hint("shuffle_hash"), "b")
    val occ = bi.groupBy("i").agg(count(lit(1)).as("occ"))
    val nB = broadcast(bi.agg(countDistinct("b").as("n_baskets")))
    val pairs = bi.as("x").join(bi.as("y"),
        col("x.b") === col("y.b") && col("x.i") =!= col("y.i"))
      .groupBy(col("x.i").as("ante"), col("y.i").as("cons"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(occ.select(col("i").as("ante"), col("occ").as("occ_a"))
        .hint("shuffle_hash"), "ante")
      .join(occ.select(col("i").as("cons"), col("occ").as("occ_c"))
        .hint("shuffle_hash"), "cons")
      .crossJoin(nB)
      .withColumn("confidence_ppm", expr("(support * 1000000L) div occ_a"))
      .withColumn("lift_ppm",
        expr("(support * n_baskets * 1000000L) div (occ_a * occ_c)"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("support").desc,
          col("confidence_ppm").desc, col("ante"), col("cons"))))
      .filter(col("rank") <= topK)
      .select("ante", "cons", "support", "occ_a", "occ_c", "n_baskets",
        "confidence_ppm", "lift_ppm", "rank")
  }

  /** Closeness/harmonic centrality for a BOUNDED seed list — how close
    * is each anchor vertex to the rest of the graph (the "which catalog
    * item is most central" read; all-pairs closeness is O(V·E) and not
    * a single-query shape, so this is the honest bounded variant): per
    * seed, one [[shortestHops]] BFS, then reached count, hop sum, and
    * integer harmonic centrality Σ(10⁶ div hop) — the variant that
    * handles disconnected remainders gracefully. Returns per seed:
    * (seed, reached, sum_hops, harmonic_scaled).
    *
    * Scale shape: |seeds| BFS runs (driver loop over the bounded seed
    * list — require ≤ 16), each the qg09 frontier shape with
    * localCheckpoint rounds; per-seed results union. */
  def closenessFromSeeds(edges: DataFrame, aCol: String, bCol: String,
      seeds: Seq[Long], maxHops: Int = 10): DataFrame = {
    require(seeds.nonEmpty && seeds.size <= 16, "1..16 seeds")
    val spark = edges.sparkSession
    import spark.implicits._
    // r11 opt: ONE (seed, n)-labeled multi-source BFS instead of |seeds|
    // sequential [[shortestHops]] loops — a labeled frontier is |seeds|
    // independent BFS runs sharing the same jobs, so round count drops
    // from |seeds|·maxHops to maxHops and the edge list symmetrizes once.
    // Per-seed distances (and therefore reached/sum_hops/harmonic) are
    // identical: the anti-join is keyed on (seed, n).
    val e0 = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
    val und = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().persist()
    var frontier = seeds.distinct.toDF("seed")
      .select(col("seed"), col("seed").as("n"))
      .withColumn("dist", lit(0))
      .localCheckpoint()
    var visited = frontier
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = frontier.select(col("seed"), col("n").as("u"))
        .join(und, "u")
        .select(col("seed"), col("v").as("n")).distinct()
        .join(visited.select("seed", "n"), Seq("seed", "n"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint()
      visited = visited.unionAll(frontier).localCheckpoint()
    }
    und.unpersist()
    val agg = visited.filter(col("dist") > 0)
      .groupBy("seed")
      .agg(count(lit(1)).as("reached"), sum("dist").as("sum_hops"),
        coalesce(sum(expr("1000000L div dist")), lit(0L))
          .as("harmonic_scaled"))
    // a seed reaching nothing must still emit its zero row (the per-seed
    // global-agg shape of the sequential form)
    seeds.toDF("seed").join(agg, Seq("seed"), "left")
      .select(col("seed"), coalesce(col("reached"), lit(0L)).as("reached"),
        coalesce(col("sum_hops"), lit(0L)).as("sum_hops"),
        coalesce(col("harmonic_scaled"), lit(0L)).as("harmonic_scaled"))
  }

  /** Newman degree assortativity — does the graph wire hubs to hubs
    * (r > 0, social shape) or hubs to leaves (r < 0, infrastructure
    * shape)? Over the DIRECTED orientation list (every undirected edge
    * counted both ways, n = 2m terms with x = deg(src), y = deg(dst)),
    * the marginals of x and y are identical, so Pearson's r collapses to
    * the all-integer form
    *   r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)
    * — no square root. Reported in milli-units via engine-portable floor
    * division (`(a − pmod(a, b)) div b` ≡ DuckDB `//`; the numerator CAN
    * be negative, where a truncating div would disagree). Milli not ppm:
    * num·1000 stays far inside BIGINT where num·10⁶ can overflow on
    * large graphs. One row: (n_terms, sum_x, sum_xy, sum_x2, num, den,
    * r_milli). A degree-regular graph has den = 0 — r reports 0 via the
    * greatest(1, ·) guard (assortativity is undefined, "no evidence").
    *
    * Scale shape: edge canonicalization is one distinct; degrees come
    * from the orientation list's own groupBy; the (src, dst, x, y) join
    * is two hash joins on the vertex key; the closing Σ is one
    * partial-agg row. Nothing driver-side, no pair blowup — cost ∝
    * edges. */
  def degreeAssortativity(edges0: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val edges = canonicalEdges(edges0, aCol, bCol)
    val ori = bothWays(edges, "s", "t")
    val deg = ori.groupBy(col("s").as("n")).agg(count(lit(1)).as("d"))
    ori
      .join(deg.select(col("n").as("s"), col("d").as("x")), Seq("s"))
      .join(deg.select(col("n").as("t"), col("d").as("y")), Seq("t"))
      .agg(count(lit(1)).as("n_terms"), sum("x").as("sum_x"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"))
      .withColumn("num",
        expr("n_terms * sum_xy - sum_x * sum_x"))
      .withColumn("den",
        expr("n_terms * sum_x2 - sum_x * sum_x"))
      .withColumn("r_milli", expr(
        "(num * 1000L - pmod(num * 1000L, greatest(1L, den))) div greatest(1L, den)"))
  }

  /** Community conductance — how well-separated the detected
    * communities actually are (label propagation finds SOMETHING; this
    * says whether it found structure): per community from
    * [[labelPropagation]] after `iters` rounds,
    *   φ(C) = cut(C) / min(vol(C), vol(G) − vol(C))
    * in ppm, with `cut` the edges leaving C and `vol` the summed
    * degrees of C's members. Low φ = real community; φ → 1 = noise.
    * Returns (community, n_nodes, volume, cut, conductance_ppm).
    *
    * Scale shape: labels come from the fixed-round propagation (one
    * shuffle per round); degrees are one groupBy; cut is two hash joins
    * of the edge list against the label table; everything after runs on
    * the |communities|-row summary. */
  def communityConductance(edges0: DataFrame, aCol: String, bCol: String,
      iters: Int = 4): DataFrame = {
    // materialized once (r11 opt): `edges` feeds the degree path AND the
    // cut path, and `labels` — the whole `iters`-round propagation
    // pipeline — is consumed THREE times (volumes + both cut-join sides).
    // Left lazy, the propagation subtree executed 3x per query and the
    // executed plan was ~400 KB of repeated lineage (guide §2.4).
    val edges = canonicalEdges(edges0, aCol, bCol)
      .localCheckpoint()
    // propagate over the SAME materialized canonical edge list (least/
    // greatest/distinct re-canonicalization is idempotent on it), not the
    // raw edges0 subtree — that was one more full rebuild of the input
    val labels = labelPropagation(edges, "u", "v", iters)
      .localCheckpoint()
    val dir = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
    val deg = dir.groupBy("n").agg(count(lit(1)).as("d"))
    val vol = labels.join(deg.hint("shuffle_hash"), "n")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("volume"))
    val tot = broadcast(vol.agg(sum("volume").as("total_vol")))
    val crossEdges = edges
      .join(labels.select(col("n").as("u"), col("label").as("lu"))
        .hint("shuffle_hash"), "u")
      .join(labels.select(col("n").as("v"), col("label").as("lv"))
        .hint("shuffle_hash"), "v")
      .filter(col("lu") =!= col("lv"))
    val cut = crossEdges.select(col("lu").as("community"))
      .unionAll(crossEdges.select(col("lv").as("community")))
      .groupBy("community").agg(count(lit(1)).as("cut"))
    vol.join(cut, Seq("community"), "left_outer").crossJoin(tot)
      .select(col("community"), col("n_nodes"), col("volume"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        expr("(coalesce(cut, 0L) * 1000000L) div " +
          "greatest(1L, least(volume, total_vol - volume))")
          .as("conductance_ppm"))
  }

  /** Edge-sampling fidelity audit — what a deterministic edge sample
    * does to the degree structure (the check before training a GNN or
    * estimating graph stats on a subsample): keep an edge when
    * `md5('es_' || u || '_' || v)`'s 52-bit prefix mod 10⁶ < `keepPpm`
    * (a pure function of the edge, so every engine and every run keeps
    * the SAME edges), then compare the degree-octave histograms
    * (bucket = bit length of degree, the qa13 binary-log) of the full
    * vs sampled graph. Returns
    * (bucket, nodes_full, nodes_sample), full-outer per bucket.
    *
    * Scale shape: the sample is a per-edge filter; each side's degrees
    * are one groupBy; the histograms are octave-keyed counts (≤ 64
    * rows) joined full-outer. Nothing quadratic. */
  def edgeSampleAudit(edges0: DataFrame, aCol: String, bCol: String,
      keepPpm: Long = 500000L): DataFrame = {
    require(keepPpm >= 0 && keepPpm <= 1000000L,
      s"keepPpm out of range: $keepPpm")
    val edges = canonicalEdges(edges0, aCol, bCol)
    val sampled = edges.filter(
      conv(substring(md5(concat(lit("es_"), col("u").cast("string"),
        lit("_"), col("v").cast("string"))), 1, 13), 16, 10)
        .cast("long") % 1000000L < keepPpm)
    def octaves(e: DataFrame, out: String) =
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .select(length(bin(col("d"))).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(out))
    octaves(edges, "nodes_full")
      .join(octaves(sampled, "nodes_sample"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("nodes_full"), lit(0L)).as("nodes_full"),
        coalesce(col("nodes_sample"), lit(0L)).as("nodes_sample"))
  }

  /** Item-item collaborative filtering — the "customers also bought"
    * serving table from co-occurrence alone (Linden et al. 2003,
    * Amazon item-to-item CF): over (basket, item) pairs, each item's
    * top-`k` neighbors by cosine²-on-counts in ppm,
    * cos²(a,b) = c_ab² · 10⁶ div (c_a · c_b), where c_ab counts shared
    * baskets and c_x item frequency. Deterministic rank tie-break
    * (score desc, c_ab desc, neighbor asc). Returns
    * (item, rec, c_ab, score_ppm, rank).
    *
    * Scale shape: baskets larger than `maxBasket` are dropped BEFORE
    * pairing (one count groupBy), so the self-join fan-out is
    * ≤ maxBasket²/2 per basket — never quadratic in a hub basket. Item
    * frequencies rejoin via two hash joins on the item key; top-k is a
    * rank window on the item partitioning. */
  def itemCf(baskets: DataFrame, basketCol: String, itemCol: String,
      k: Int = 5, maxBasket: Int = 64): DataFrame = {
    require(k >= 1 && k <= 1000, s"k out of range: $k")
    require(maxBasket >= 2, s"maxBasket out of range: $maxBasket")
    val bi = baskets
      .select(col(basketCol).cast("long").as("o"), col(itemCol).cast("long").as("p"))
      .distinct()
    val sizes = bi.groupBy("o").agg(count(lit(1)).as("bs"))
    val bounded = bi.join(sizes.filter(col("bs") <= maxBasket), Seq("o"))
      .select("o", "p")
    val freq = bounded.groupBy("p").agg(count(lit(1)).as("c"))
    val pairs = bounded.as("a").join(bounded.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("c_ab"))
    val sym = pairs.select(col("pa").as("item"), col("pb").as("rec"), col("c_ab"))
      .unionAll(pairs.select(col("pb").as("item"), col("pa").as("rec"), col("c_ab")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("item")
      .orderBy(col("score_ppm").desc, col("c_ab").desc, col("rec"))
    sym
      .join(freq.select(col("p").as("item"), col("c").as("ca")), Seq("item"))
      .join(freq.select(col("p").as("rec"), col("c").as("cb")), Seq("rec"))
      .withColumn("score_ppm", expr("(c_ab * c_ab * 1000000L) div (ca * cb)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("item", "rec", "c_ab", "score_ppm", "rank")
  }

  /** Deterministic random-walk corpus — DeepWalk's training-data step
    * (Perozzi et al. 2014: truncated random walks become the "sentences"
    * a skip-gram embedding trains on): `walksPerNode` fixed-length walks
    * from every vertex, the step-i successor drawn by an md5 hash of
    * (walk id, step) over the current vertex's SORTED neighbor list — a
    * pure function of the graph, so any engine replays the identical
    * corpus (no RNG state, resumable, audit-friendly). Returns
    * (walk_id, seed, step, node); step 0 is the seed;
    * walk_id = seed·walksPerNode + walk index.
    *
    * Scale shape: the adjacency gets (rank, degree) in ONE window pass
    * over the mirrored edge relation; each of the `len` steps is ONE
    * equi-join of the frontier (≤ nodes × walksPerNode rows — no per-walk
    * state beyond the current vertex) against (source, rank), with the
    * hash-pick as a residual predicate on the source's partition. The
    * walk length is a constant, so the plan has bounded depth — no
    * fixpoint iteration, no driver state. Undirected mirroring means
    * every reachable vertex has degree ≥ 1: walks never dead-end. */
  def randomWalks(edges0: DataFrame, aCol: String, bCol: String,
      len: Int = 4, walksPerNode: Int = 2): DataFrame = {
    require(len >= 1 && len <= 16, s"len out of range: $len")
    require(walksPerNode >= 1 && walksPerNode <= 64,
      s"walksPerNode out of range: $walksPerNode")
    val canon = canonicalEdges(edges0, aCol, bCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy("t")
    val adj = bothWays(canon, "s", "t")
      .select(col("s"), col("t"), row_number().over(w).as("rn"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("s"))
          .as("deg"))
    val start = adj.select(col("s").as("seed")).distinct()
      .select(col("seed"),
        explode(array((0 until walksPerNode).map(i => lit(i.toLong)): _*))
          .as("wk"))
      .select((col("seed") * walksPerNode + col("wk")).as("walk_id"),
        col("seed"), col("seed").as("node"))
    val steps = Iterator.iterate((start, 0)) { case (cur, i) =>
      val step = i + 1
      val pick = conv(substring(md5(concat_ws(":", lit("rw"),
        col("walk_id"), lit(step))), 1, 13), 16, 10).cast("long")
      val next = cur.join(adj, col("node") === col("s") &&
          col("rn") === pick % col("deg") + 1)
        .select(col("walk_id"), col("seed"), col("t").as("node"))
      (next, step)
    }.take(len + 1).toSeq
    steps.map { case (df, i) =>
      df.select(col("walk_id"), col("seed"), lit(i.toLong).as("step"),
        col("node"))
    }.reduce(_ unionAll _)
  }

  /** Deterministic node2vec walk corpus — Grover & Leskovec, KDD 2016:
    * second-order biased walks whose next hop weighs each candidate `t`
    * by where it sits relative to the PREVIOUS vertex: `wReturn` when
    * t is the previous vertex itself (node2vec's 1/p), `wCommon` when t
    * closes a triangle with it (distance 1), `wOut` otherwise (1/q) —
    * BFS-ish exploration for wCommon-heavy settings, DFS-ish for
    * wOut-heavy. Integer weights; the draw at step i is the md5 hash of
    * (walk id, step) mod the candidate weight total over the SORTED
    * neighbor list, so the corpus is a pure function of the graph (the
    * [[randomWalks]] replay discipline — the first hop, with no
    * previous vertex, is uniform). Returns (walk_id, seed, step, node);
    * step 0 is the seed.
    *
    * Scale shape: each of the `len` steps is ONE frontier equi-join on
    * the current vertex plus ONE equi-join of the candidate set against
    * the edge relation on the composite (prev, t) key (the triangle
    * flag — never a wedge materialization: the Σdeg² blowup stays out
    * of the plan), then two frontier-partitioned windows for the
    * cumulative-weight pick. Bounded plan depth, no driver state;
    * frontier ≤ nodes × walksPerNode rows throughout. */
  def node2vecWalks(edges0: DataFrame, aCol: String, bCol: String,
      len: Int = 4, walksPerNode: Int = 1, wReturn: Int = 1,
      wCommon: Int = 4, wOut: Int = 2): DataFrame = {
    require(len >= 1 && len <= 12, s"len out of range: $len")
    require(walksPerNode >= 1 && walksPerNode <= 64,
      s"walksPerNode out of range: $walksPerNode")
    require(wReturn >= 1 && wCommon >= 1 && wOut >= 1,
      s"weights must be positive: $wReturn/$wCommon/$wOut")
    val canon = canonicalEdges(edges0, aCol, bCol)
    val adj = bothWays(canon, "s", "t")
    val flag = adj.select(col("s").as("fp"), col("t").as("ft"),
      lit(true).as("prev_adj"))
    val start = adj.select(col("s").as("seed")).distinct()
      .select(col("seed"),
        explode(array((0 until walksPerNode).map(i => lit(i.toLong)): _*))
          .as("wk"))
      .select((col("seed") * walksPerNode + col("wk")).as("walk_id"),
        col("seed"), lit(-1L).as("prev"), col("seed").as("node"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("walk_id").orderBy("t")
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy("walk_id")
    val steps = Iterator.iterate((start, 0)) { case (cur, i) =>
      val step = i + 1
      val draw = conv(substring(md5(concat_ws(":", lit("n2v"),
        col("walk_id"), lit(step))), 1, 13), 16, 10).cast("long")
      val next = cur.join(adj, col("node") === col("s"))
        .join(flag,
          col("prev") === col("fp") && col("t") === col("ft"), "left_outer")
        .withColumn("w",
          when(col("prev") < 0, lit(1L))
            .when(col("t") === col("prev"), lit(wReturn.toLong))
            .when(col("prev_adj").isNotNull, lit(wCommon.toLong))
            .otherwise(lit(wOut.toLong)))
        .withColumn("cum", sum("w").over(wCum))
        .withColumn("tot", sum("w").over(wTot))
        .withColumn("draw", draw % col("tot"))
        .filter(col("draw") >= col("cum") - col("w") &&
          col("draw") < col("cum"))
        .select(col("walk_id"), col("seed"), col("node").as("prev"),
          col("t").as("node"))
      (next, step)
    }.take(len + 1).toSeq
    steps.map { case (df, i) =>
      df.select(col("walk_id"), col("seed"), lit(i.toLong).as("step"),
        col("node"))
    }.reduce(_ unionAll _)
  }
}
