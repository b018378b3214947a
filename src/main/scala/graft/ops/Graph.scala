package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over a directed edge list — the graph-centrality sibling of
  * [[Components]]: dedup wants "which vertices are the same", corpus
  * curation wants "which vertices matter". The canonical use in an
  * LLM-data pipeline is link-graph quality weighting (Common-Crawl-style
  * harvests carry a page/host link graph; rank is a standard prior for
  * sampling weight), and the same kernel ranks any co-occurrence graph
  * (part↔supplier, user↔item).
  *
  * All arithmetic is FIXED-POINT INTEGER: ranks live in `q` units
  * (micro-units by default) as BIGINT, every division is floor division,
  * and every sum is an exact integer sum — so the result is bit-identical
  * across runs, partitionings, and engines (a DuckDB oracle reproduces it
  * value-for-value; float power iteration would differ in the last ulps
  * under shuffle reordering). The cost: each iteration floors away at most
  * 1 unit per edge and per damping multiply, an absolute rank error
  * bounded by `iters * (indegree + 1)` units — at q = 1e6 that is
  * noise-level for ranking purposes.
  *
  * Per iteration: one join of the (cached, degree-annotated) edge list
  * with the current ranks on `src` + one sum-aggregate keyed by `dst` +
  * one left join back to the vertex set — all shuffles keyed by vertex,
  * volume O(edges), map-side combinable. That is the Pregel cost shape
  * expressed as DataFrame joins, so Catalyst/AQE handle skew (hub
  * vertices) and partition sizing; iterations = caller-fixed (power
  * iteration converges geometrically; 10–20 suffices in practice).
  * Lineage is truncated with an eager localCheckpoint per round, freed as
  * soon as the next round materializes (same discipline as
  * [[Components.connectedComponents]]).
  *
  * Dangling vertices (appearing only as destinations) leak their mass —
  * the standard simplified formulation. Callers that need conservation
  * symmetrize the edge list (as the co-occurrence gate does) or add
  * self-loops.
  */
object Graph {

  /** Lay a loop-invariant edge frame out on its per-round join key:
    * hash-partitioned and sorted by `key`, so the cached/checkpointed
    * layout already satisfies the per-round join's required distribution
    * AND ordering — at scale each fixpoint round then exchanges (and
    * sorts) only the O(V) state table, never the O(E) edge table (guide
    * §2.4, r13 verdict item 3). One setup exchange buys one per round;
    * results are identical (repartition is pure layout). A local run
    * pays the one extra setup exchange; a cluster saves a per-round O(E)
    * exchange. */
  private[ops] def keyLayout(df: DataFrame, key: String): DataFrame =
    df.repartition(col(key)).sortWithinPartitions(key)

  /** Fixed-point PageRank.
    *
    * rank0(v)   = q / N
    * rank+1(v)  = ((dampDen-dampNum) * q) / (dampDen * N)
    *              + (dampNum * Σ_{u→v} rank(u) / outdeg(u)) / dampDen
    * (every `/` a floor division in BIGINT)
    *
    * @param edges   directed edges, one (src, dst) per row; duplicates
    *                are collapsed (unweighted graph)
    * @param iters   power-iteration count (fixed, no convergence probe —
    *                deterministic cost and a deterministic oracle)
    * @param q       fixed-point scale: ranks are in units of 1/q
    * @param dampNum,dampDen damping factor as a rational (default 85/100)
    * @return (node, rank_q) for every vertex, rank_q = rank * q as BIGINT */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, q: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(q > 0, s"q must be positive, got $q")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct().persist()
    // Degree-annotated edges, joined ONCE and cached — the loop body then
    // pays one join per round (ranks onto ed), not two. The cache is
    // PRE-PARTITIONED and PRE-SORTED by the per-round join key (guide
    // §2.4, r13 verdict item 3): the cached layout already satisfies the
    // join's required distribution and ordering, so at scale each round
    // exchanges (and sorts) only the O(nodes) rank table — never the
    // O(edges) table. One setup exchange buys one per round for `iters`
    // rounds; results are unchanged (repartition is pure layout).
    val ed = keyLayout(e
      .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"), "src")
      .persist()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().persist()
    try {
      val n = nodes.count() // one driver scalar, like kmeans' seed
      require(n > 0, "pageRank needs a non-empty edge list")
      val telQ = ((dampDen - dampNum) * q) / (dampDen * n)
      val initQ = q / n
      var ckpt = nodes.withColumn("rank_q", lit(initQ)).localCheckpoint()
      var ranks = ckpt
      for (_ <- 0 until iters) {
        // Union-fold (see katz): the explicit 0 row per node replaces the
        // per-round left_outer join against `nodes` — same grouped-sum
        // result, one less join and one less exchange per round.
        val contrib = ed
          .join(ranks.select(col("node").as("src"), col("rank_q")), "src")
          .select(col("dst").as("node"), expr("rank_q div outdeg").as("__c"))
          .unionByName(nodes.select(col("node"), lit(0L).as("__c")))
          .groupBy("node").agg(sum(col("__c")).as("__acc"))
        val body = contrib
          .select(col("node"), expr(
            s"$telQ + ($dampNum * __acc) div $dampDen")
            .as("rank_q"))
        val next = body.localCheckpoint()
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(ckpt)
        ckpt = next
        ranks = next
      }
      ranks
    } finally { e.unpersist(); ed.unpersist(); nodes.unpersist(); () }
  }

  /** Synchronous label propagation — community detection, the modularity
    * sibling of [[Components]]: components answer "connected at all?",
    * LP answers "densely connected with whom?" (near-dup cluster
    * refinement, host-graph community weighting). Every node starts as
    * its own label; each round every node adopts the most frequent label
    * among its neighbors, ties to the SMALLEST label, isolated or
    * degree-0 nodes keep their own — fully deterministic (no async
    * sweep, no random tie-break), so a DuckDB CTE chain replays it
    * round-for-round (`OracleSql.labelPropCtes`). Fixed `iters` rounds:
    * deterministic cost AND a deterministic oracle (sync LP may
    * oscillate on bipartite structures rather than converge — callers
    * pick the budget, the classic LPA caveat).
    *
    * Per round: one join of the (cached, symmetrized) edge list onto the
    * current labels + one (node, label) count aggregate + one arg-max —
    * all shuffles keyed by vertex, volume O(edges), map-side combinable;
    * per-round localCheckpoint truncates lineage exactly like
    * [[pageRank]]. Output: (node, label). */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).persist()
    // loop-invariant edge cache laid out on the per-round join key
    // (guide §2.4): each round exchanges only the label table
    val sym = keyLayout(
      raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .select(col("a").as("src"), col("b").as("dst")), "src")
      .persist()
    val nodes = sym.select(col("src").as("node")).distinct()
      .unionByName(raw.filter(col("a") === col("b"))
        .select(col("a").as("node")).distinct())
      .distinct().persist()
    try {
      var ckpt = nodes.withColumn("lbl", col("node")).localCheckpoint()
      var labels = ckpt
      for (_ <- 0 until iters) {
        val freq = sym
          .join(labels.select(col("node").as("src"), col("lbl")), "src")
          .groupBy(col("dst").as("node"), col("lbl"))
          .agg(count(lit(1)).as("__c"))
        val winner = freq
          .groupBy("node")
          .agg(max_by(col("lbl"), struct(col("__c"),
            -col("lbl"))).as("__w"))
        // A node missing from `winner` has no sym-neighbor (sym is
        // symmetric, so src set = dst set): it is self-loop-only, and its
        // label never leaves its own id (lbl0 = node; each round keeps
        // prev). So coalesce to `node` directly — identical to the old
        // coalesce(__w, __prev) without re-joining the labels per round.
        val body = nodes.join(winner, Seq("node"), "left_outer")
          .select(col("node"), coalesce(col("__w"), col("node")).as("lbl"))
        val next = body.localCheckpoint()
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(ckpt)
        ckpt = next
        labels = next
      }
      labels
    } finally { raw.unpersist(); sym.unpersist(); nodes.unpersist(); () }
  }

  /** Per-node triangle counts over an undirected simple graph (the input
    * edge list is symmetrized/deduped; self-loops dropped) — the local
    * clustering signal: spam/SEO link farms and bot follower rings show
    * up as triangle-dense neighborhoods, and triangle counts feed
    * clustering-coefficient features for graph-quality weighting.
    *
    * Scale shape — the textbook degree-ordered node-iterator (MR version:
    * Suri & Vassilvitskii, WWW'11): orient every undirected edge from the
    * (degree, id)-smaller endpoint to the larger, making out-degrees
    * O(√E)-bounded on any graph (arboricity bound), so the wedge
    * self-join generates Σ outdeg(v)² = O(E^1.5) candidates worst-case
    * instead of Σ deg(v)² (catastrophic on hub nodes — a degree-10⁶ hub
    * contributes 10¹² unordered wedges but only its oriented wedges
    * survive here). Each wedge (v,w) then semi-joins the oriented edge
    * set once; every shuffle is keyed by vertex or edge, no driver-side
    * state. Output rows only for nodes on ≥ 1 triangle.
    *
    * Exact and deterministic (pure set algebra on BIGINTs) — the oracle
    * replays it with an id-ordered 3-way self-join, which yields the
    * identical triangle set because orientation only reorders the
    * enumeration, never the membership. */
  def triangleCount(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // Persisted BEFORE the symmetrize-union: both union branches read the
    // cache instead of re-evaluating the (possibly expensive — e.g. a
    // co-occurrence self-join) upstream lineage twice.
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).persist()
    // canonical undirected edges: a < b, deduped, no self-loops
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") < col("b")).distinct().persist()
    var oriented: DataFrame = null
    try {
      val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
      // orient low (degree, id) -> high (degree, id)
      oriented = und
        .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
        .select(
          when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("u"), col("b").as("v")))
            .otherwise(struct(col("b").as("u"), col("a").as("v")))
            .as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .persist()
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
      // closing edge may be oriented either way between x and y
      val tri = wedges.join(
        oriented.select(col("u").as("x"), col("v").as("y"))
          .unionByName(oriented.select(col("v").as("x"), col("u").as("y"))),
        Seq("x", "y"), "left_semi")
      val out = tri
        .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
      out.localCheckpoint()
    } finally {
      raw.unpersist()
      und.unpersist()
      if (oriented != null) oriented.unpersist()
      ()
    }
  }

  /** Per-node local clustering coefficient — [[triangleCount]]'s
    * normalized readout: `lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))`,
    * the fraction of a node's neighbor pairs that are themselves
    * connected (community tightness / spam-farm detection; degree-1
    * nodes have no neighbor pair, so their lcc is NULL).
    *
    * Emits (node, degree, tri_cnt, lcc) for every node of the
    * undirected simple graph. Exactness: degree and triangle counts
    * are exact BIGINTs; lcc is ONE fixed-shape float division.
    *
    * Scale: triangle side is the same degree-ordered O(E^1.5) wedge
    * join as [[triangleCount]]; degrees are one map-side-combinable
    * aggregate; the combine is a keyed left join (triangle-free nodes
    * coalesce to 0). */
  def localClustering(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).persist()
    try {
      val und = raw
        .unionByName(raw.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") < col("b")).distinct()
      val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val tri = triangleCount(und, "a", "b")
      deg.join(tri, Seq("node"), "left_outer")
        .select(col("node"), col("degree"),
          coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
        .withColumn("lcc",
          when(col("degree") < 2L, lit(null).cast("double"))
            .otherwise((lit(2L) * col("tri_cnt")).cast("double") /
              (col("degree") * (col("degree") - 1L)).cast("double")))
    } finally { raw.unpersist(); () }
  }

  /** Global transitivity — the one-number closure summary
    * `C = 3·triangles / wedges` (wedges = Σ_v d_v·(d_v−1)/2): what
    * fraction of all open 2-paths actually close. The corpus-level
    * companion of [[localClustering]]'s per-node readout — a social
    * graph sits near 0.1–0.6, a random graph near d̄/n; a sudden drop
    * after an ingest reads as edge corruption.
    *
    * Emits one row: (n_triangles, n_wedges, transitivity). Counts exact
    * (triangle total = Σ per-node counts / 3 computed as an exact
    * integer — every triangle is counted once per corner), ONE final
    * division, NULL on a wedge-free graph. Scale: [[triangleCount]]'s
    * O(E^1.5) wedge join + one degree aggregate. */
  def transitivity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).persist()
    try {
      val und = raw
        .unionByName(raw.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") < col("b")).distinct()
      val tri = triangleCount(und, "a", "b")
        .agg(coalesce(sum(col("tri_cnt")), lit(0L)).as("__t3"))
      val wed = und.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
          .as("n_wedges"))
      tri.crossJoin(wed)
        .select(expr("__t3 div 3").as("n_triangles"), col("n_wedges"),
          when(col("n_wedges") === 0L, lit(null).cast("double"))
            .otherwise(col("__t3").cast("double") /
              col("n_wedges").cast("double")).as("transitivity"))
    } finally { raw.unpersist(); () }
  }

  /** Graph shape profile — the pre-flight before any iterative graph
    * op: node/edge counts, degree extremes, mean degree, and the
    * discrete power-law MLE exponent
    * `α = 1 + n / Σ_v ln(d_v)` (Clauset-Shalizi-Newman with d_min = 1)
    * — "is this a hub-dominated graph that needs the degree-capped
    * plans?". ONE row: (n_nodes, n_edges, max_degree, mean_degree,
    * alpha_mle).
    *
    * Determinism: counts/extremes exact; the ln sum folds over the
    * degree-sorted DISTINCT-degree grid (`Σ c_d·ln d` — grid, not
    * nodes), pinned at round(·,8) for libm ln (the entropy discipline);
    * mean is one IEEE division. All-degree-1 graphs (Σ ln = 0) yield
    * NULL α rather than an ANSI divide throw. */
  def degreeStats(
      edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val raw = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") < col("b")).distinct().persist()
    try {
      val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val grid = deg.groupBy(col("d")).agg(count(lit(1)).as("c"))
      val packed = grid
        .agg(sort_array(collect_list(struct(col("d"), col("c"))))
          .as("__dc"),
          sum(col("c")).as("n_nodes"), max(col("d")).as("max_degree"))
        .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
      val lnSum = aggregate(col("__dc"), lit(0.0), (acc, x) =>
        acc + x.getField("c").cast("double") *
          log(x.getField("d").cast("double")))
      packed.select(col("n_nodes"), col("n_edges"), col("max_degree"),
        (lit(2.0) * col("n_edges").cast("double") /
          col("n_nodes").cast("double")).as("mean_degree"),
        round(when(lnSum =!= 0.0,
          lit(1.0) + col("n_nodes").cast("double") / lnSum), 8)
          .as("alpha_mle"))
    } finally { und.unpersist(); () }
  }

  /** Degree assortativity (Newman's r): do hubs link to hubs (r > 0,
    * social-graph shape) or to leaves (r < 0, web/biology shape)? The
    * Pearson correlation of endpoint degrees over undirected edges,
    * computed from EXACT integer moments (Σjk, Σ(j+k), Σ(j²+k²) as
    * DECIMAL(38,0) — degrees are bounded by n, so products fit) with
    * the divisions last:
    * r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²).
    * ONE row: (n_edges, assortativity); NULL on the degree-regular
    * graph (zero variance). Two keyed aggregates, no iteration. */
  def assortativity(
      edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val raw = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") < col("b")).distinct().persist()
    try {
      val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val jd = und
        .join(deg.select(col("n").as("a"), col("d").as("__da")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("__db")), "b")
      val m = jd.agg(
        count(lit(1)).as("n_edges"),
        sum((col("__da") * col("__db")).cast(dec)).as("__sjk"),
        sum((col("__da") + col("__db")).cast(dec)).as("__sj"),
        sum((col("__da") * col("__da") + col("__db") * col("__db"))
          .cast(dec)).as("__sj2"))
      val num = (lit(4L) * col("n_edges") * col("__sjk") -
        col("__sj") * col("__sj")).cast("double")
      val den = (lit(2L) * col("n_edges") * col("__sj2") -
        col("__sj") * col("__sj")).cast("double")
      m.select(col("n_edges"),
        round(when(den =!= 0.0, num / den), 8).as("assortativity"))
    } finally { und.unpersist(); () }
  }

  /** Newman modularity of a community assignment — the score that says
    * whether a partition (label propagation, dup clusters) actually
    * found structure: Q = Σ_c [e_c/m − (D_c/2m)²], computed exactly as
    * `Σ_c (4m·e_c − D_c²) / (4m²)` over undirected edge count m,
    * intra-community edge counts e_c, and community degree sums D_c —
    * all exact longs off keyed aggregates, ONE final IEEE division.
    * Q ≈ 0: no better than random; Q ≳ 0.3: meaningful communities.
    * Emits one row (m, n_communities, modularity).
    *
    * Bound: 4m² and D_c² fit a long for m < ~1.5e9 edges; beyond that
    * lift the two products to DECIMAL(38,0) (the linearRegression
    * pattern). Scale: two label-keyed aggregates + one broadcast of the
    * single m row — no iteration, no driver data path. */
  def modularity(
      edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val raw = edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") < col("b")).distinct().persist()
    try {
      val lab = labels.select(col(nodeCol).cast("long").as("__v"),
        col(labelCol).cast("long").as("__c"))
      val mRow = und.agg(count(lit(1)).as("m"))
      val ec = und
        .join(lab.select(col("__v").as("a"), col("__c").as("__ca")), "a")
        .join(lab.select(col("__v").as("b"), col("__c").as("__cb")), "b")
        .filter(col("__ca") === col("__cb"))
        .groupBy(col("__ca").as("__c")).agg(count(lit(1)).as("__ec"))
      val deg = und.select(explode(array(col("a"), col("b"))).as("__v"))
        .groupBy(col("__v")).agg(count(lit(1)).as("__d"))
      val dc = deg.join(lab, "__v")
        .groupBy(col("__c")).agg(sum(col("__d")).as("__dc"))
      dc.join(ec, Seq("__c"), "left_outer")
        .crossJoin(broadcast(mRow))
        .agg(
          max(col("m")).as("m"),
          count(lit(1)).as("n_communities"),
          sum(lit(4L) * col("m") * coalesce(col("__ec"), lit(0L)) -
            col("__dc") * col("__dc")).as("__num"))
        .select(col("m"), col("n_communities"),
          (col("__num").cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double"))
            .as("modularity"))
    } finally { und.unpersist(); () }
  }

  /** Adamic-Adar link prediction — [[commonNeighborLinks]]'s weighted
    * refinement: shared neighbors count 1/ln(deg) each, so a shared
    * RARE neighbor (degree 2) says far more than a shared hub — the
    * standard fix for Jaccard over-crediting pairs that merely share a
    * celebrity node. Emits (node_a, node_b, n_common, aa) for unlinked
    * pairs with at least `minCommon` shared neighbors.
    *
    * Determinism: each pair's common-neighbor degree list is collected
    * SORTED and the score is a strict left fold of `1/ln(d)` over it —
    * never a float SUM aggregate — then pinned at round(·,8) for libm
    * `ln` (the [[graft.ops.Profile.mutualInformation]] discipline). A
    * common neighbor has degree ≥ 2 by construction, so ln(d) ≥ ln 2
    * and the division is always defined.
    *
    * Scale: identical shape to [[commonNeighborLinks]] — the wedge join
    * costs Σ_m d(m)² through middle nodes (`maxDegree` caps hub
    * middles); the per-pair degree list is bounded by the smaller
    * endpoint degree, and everything is keyed joins/aggregates with no
    * driver data path. */
  def adamicAdarLinks(
      edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 2L, maxDegree: Long = Long.MaxValue): DataFrame = {
    require(minCommon >= 1L, s"minCommon must be >= 1, got $minCommon")
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).persist()
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") < col("b")).distinct().persist()
    try {
      val adj = und.select(col("a").as("m"), col("b").as("n"))
        .unionByName(und.select(col("b").as("m"), col("a").as("n")))
        .persist()
      try {
        val deg = adj.groupBy(col("m")).agg(count(lit(1)).as("d"))
        val mid = adj.join(deg.filter(col("d") <= maxDegree), "m")
        val wedges = mid.as("x").join(mid.as("y"),
            col("x.m") === col("y.m") && col("x.n") < col("y.n"))
          .select(col("x.n").as("na"), col("y.n").as("nb"),
            col("x.d").as("dm"))
        val cn = wedges.groupBy(col("na"), col("nb"))
          .agg(count(lit(1)).as("n_common"),
            sort_array(collect_list(col("dm"))).as("__ds"))
          .filter(col("n_common") >= minCommon)
        val unlinked = cn.join(
          und.select(col("a").as("na"), col("b").as("nb")),
          Seq("na", "nb"), "left_anti")
        unlinked
          .select(col("na").as("node_a"), col("nb").as("node_b"),
            col("n_common"),
            round(aggregate(col("__ds"), lit(0.0),
              (acc, d) => acc + lit(1.0) / log(d.cast("double"))), 8)
              .as("aa"))
          .localCheckpoint()
      } finally { adj.unpersist(); () }
    } finally { raw.unpersist(); und.unpersist(); () }
  }

  /** Common-neighbor link prediction — Jaccard-scored 2-hop pairs: for
    * every unordered node pair NOT already connected, the count of
    * shared neighbors and the neighborhood Jaccard
    * `cn / (deg_a + deg_b − cn)` — the classic "who should be linked"
    * score (missing-edge repair in dedup cluster graphs,
    * related-entity suggestion). Emits
    * (node_a, node_b, n_common, deg_a, deg_b, jaccard), a < b, pairs
    * with at least `minCommon` shared neighbors.
    *
    * Scale: the wedge join through each middle node costs Σ_m d(m)², so
    * super-hubs dominate; `maxDegree` excludes nodes above the cap from
    * the MIDDLE position (their wedges — the standard power-law
    * mitigation; full degrees still feed the Jaccard denominator, so
    * scores stay exact for the pairs emitted). All counts exact longs,
    * the score ONE IEEE division. Everything else is keyed
    * joins/aggregates — no driver data path. */
  def commonNeighborLinks(
      edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 2L, maxDegree: Long = Long.MaxValue): DataFrame = {
    require(minCommon >= 1L, s"minCommon must be >= 1, got $minCommon")
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).persist()
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") < col("b")).distinct().persist()
    try {
      val adj = und.select(col("a").as("m"), col("b").as("n"))
        .unionByName(und.select(col("b").as("m"), col("a").as("n")))
        .persist()
      try {
        val deg = adj.groupBy(col("m")).agg(count(lit(1)).as("d"))
        val mid = adj.join(
          deg.filter(col("d") <= maxDegree).select(col("m")), "m")
        val wedges = mid.as("x").join(mid.as("y"),
            col("x.m") === col("y.m") && col("x.n") < col("y.n"))
          .select(col("x.n").as("na"), col("y.n").as("nb"))
        val cn = wedges.groupBy(col("na"), col("nb"))
          .agg(count(lit(1)).as("n_common"))
          .filter(col("n_common") >= minCommon)
        val unlinked = cn.join(
          und.select(col("a").as("na"), col("b").as("nb")),
          Seq("na", "nb"), "left_anti")
        unlinked
          .join(deg.select(col("m").as("na"), col("d").as("deg_a")), "na")
          .join(deg.select(col("m").as("nb"), col("d").as("deg_b")), "nb")
          .select(col("na").as("node_a"), col("nb").as("node_b"),
            col("n_common"), col("deg_a"), col("deg_b"),
            (col("n_common").cast("double") /
              (col("deg_a") + col("deg_b") - col("n_common"))
                .cast("double")).as("jaccard"))
          .localCheckpoint()
      } finally { adj.unpersist(); () }
    } finally { raw.unpersist(); und.unpersist(); () }
  }

  /** k-core decomposition by iterative peeling: repeatedly drop every
    * vertex with (undirected) degree below `k` until the survivor set is
    * stable — what remains is the k-core, the standard density filter for
    * "keep the well-embedded part of the graph" (spam/host-graph
    * pruning, dense-community seeds, robust dedup-cluster cores that a
    * single bridge edge can't inflate).
    *
    * Deterministic: peeling has a unique fixpoint (the k-core is
    * well-defined independent of removal order), so a DuckDB oracle
    * replays it with a FIXED round count that merely must be >= the
    * convergence round count (`OracleSql.kCoreCtes`; extra rounds are
    * no-ops at the fixpoint).
    *
    * Per round: one degree aggregate keyed by vertex + two semi-joins
    * filtering the edge list — all shuffles O(edges), map-side
    * combinable, no all-pairs anything; the driver sees ONE scalar per
    * round (the survivor count, the [[Components]] discipline) and
    * lineage truncates with a per-round localCheckpoint. Rounds are
    * bounded by `maxRounds` (real graphs peel in a handful; the
    * pathological chain needs O(V) and fails loud rather than silently).
    *
    * @param edges undirected edge list, one (a, b) per row; symmetrized
    *              and deduped internally, self-loops dropped
    * @return (node, core_deg): the k-core members with their degree
    *         INSIDE the core (>= k by construction) */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val raw = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    var cur = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    var prev = -1L
    var rounds = 0
    // degree state materializes and counts in ONE job per round
    // (GraftSql.checkpointCount) — the convergence probe used to be a
    // second driver round-trip
    var (deg, n, _) = org.apache.spark.sql.GraftSql.checkpointCount(
      cur.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("core_deg"))
        .filter(col("core_deg") >= k))
    while (n != prev && n > 0 && rounds < maxRounds) {
      prev = n
      rounds += 1
      val surv = deg.select(col("node"))
      val next = cur
        .join(surv.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(surv.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
      org.apache.spark.sql.GraftSql.freeLocalCheckpoint(cur)
      cur = next
      val (nextDeg, nextN, _) = org.apache.spark.sql.GraftSql.checkpointCount(
        cur.groupBy(col("a").as("node"))
          .agg(count(lit(1)).as("core_deg"))
          .filter(col("core_deg") >= k))
      org.apache.spark.sql.GraftSql.freeLocalCheckpoint(deg)
      deg = nextDeg
      n = nextN
    }
    require(n == prev || n == 0,
      s"k-core peeling did not converge in $maxRounds rounds — " +
        "raise maxRounds (adversarially chain-shaped graph?)")
    deg
  }

  /** Rich-club profile (Zhou & Mondragón 2004): for every degree
    * threshold k in 1..maxK, the subgraph induced by nodes with
    * degree > k — node count N_k, edge count E_k, and the rich-club
    * coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) emitted as the exact
    * integer rational (phi_num, phi_den). Rising φ(k) means hubs
    * preferentially interlink — the "core elite" structural signal
    * degree distribution alone cannot give. Cost: one degree
    * aggregate, then the edge list and degree table each crossed with
    * the maxK-row threshold table (O(E·maxK) predicate work, no new
    * shuffle key) — scale-safe for the small fixed maxK. */
  def richClub(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxK: Int = 8): DataFrame = {
    require(maxK >= 1 && maxK <= 64, s"maxK must be in [1, 64], got $maxK")
    val spark = edges.sparkSession
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    val und = raw.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct().persist()
    try {
      val deg = und.select(col("a").as("m"))
        .unionByName(und.select(col("b").as("m")))
        .groupBy(col("m")).agg(count(lit(1)).as("d"))
      val ks = spark.range(1, maxK + 1).toDF("k")
      val nk = ks.crossJoin(deg)
        .groupBy(col("k"))
        .agg(sum(when(col("d") > col("k"), 1L).otherwise(0L)).as("n_nodes"))
      val withDeg = und
        .join(deg.select(col("m").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("m").as("b"), col("d").as("db")), "b")
      val ek = ks.crossJoin(withDeg)
        .groupBy(col("k"))
        .agg(sum(when(col("da") > col("k") && col("db") > col("k"), 1L)
          .otherwise(0L)).as("n_edges"))
      nk.join(ek, "k")
        .select(col("k").cast("long").as("k"),
          col("n_nodes").cast("long").as("n_nodes"),
          col("n_edges").cast("long").as("n_edges"),
          (lit(2L) * col("n_edges")).as("phi_num"),
          (col("n_nodes") * (col("n_nodes") - 1L)).as("phi_den"))
        .localCheckpoint()
    } finally { und.unpersist(); () }
  }

  /** Link-prediction PANEL for unlinked 2-hop pairs: common-neighbor
    * count AND preferential attachment deg(u)·deg(v) — the two classic
    * baselines beside [[adamicAdarLinks]] (Liben-Nowell & Kleinberg
    * 2003); emitting them together lets a downstream ranker compare
    * the signals on identical candidates. Same wedge equi-join shape
    * as adamic-adar (O(Σ deg²) candidate generation, hub-boundable via
    * the same degree cap upstream), exact integers only. */
  def linkPredPanel(
      edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Long = 2L): DataFrame = {
    require(minCommon >= 1L, s"minCommon must be >= 1, got $minCommon")
    val raw = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).persist()
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") < col("b")).distinct().persist()
    try {
      val adj2 = und.select(col("a").as("m"), col("b").as("n"))
        .unionByName(und.select(col("b").as("m"), col("a").as("n")))
        .persist()
      try {
        val deg = adj2.groupBy(col("m")).agg(count(lit(1)).as("d"))
        val wedges = adj2.as("x").join(adj2.as("y"),
            col("x.m") === col("y.m") && col("x.n") < col("y.n"))
          .select(col("x.n").as("na"), col("y.n").as("nb"))
        val cn = wedges.groupBy(col("na"), col("nb"))
          .agg(count(lit(1)).as("n_common"))
          .filter(col("n_common") >= minCommon)
        val unlinked = cn.join(
          und.select(col("a").as("na"), col("b").as("nb")),
          Seq("na", "nb"), "left_anti")
        unlinked
          .join(deg.select(col("m").as("na"), col("d").as("deg_a")), "na")
          .join(deg.select(col("m").as("nb"), col("d").as("deg_b")), "nb")
          .select(col("na").as("node_a"), col("nb").as("node_b"),
            col("n_common"), col("deg_a"), col("deg_b"),
            (col("deg_a") * col("deg_b")).as("pref_attach"))
          .localCheckpoint()
      } finally { adj2.unpersist(); () }
    } finally { raw.unpersist(); und.unpersist(); () }
  }

  /** Luby's maximal-independent-set, derandomized: the classic
    * O(log n)-round distributed MIS (Luby 1986) with the random draw
    * replaced by a DETERMINISTIC per-node priority
    * pr(v) = hash(v)·2³² + v (unique, replayable), so the run is a
    * fixed function of the graph and a DuckDB oracle can replay it
    * round-for-round. Per round every active node with a priority
    * smaller than all its active neighbors' joins the MIS; its
    * neighbors leave the graph. MIS nodes of one round can never be
    * adjacent (mutual strict inequality), and the loop ends with every
    * node decided — independence AND maximality hold by construction
    * (spec-checked on random graphs).
    *
    * Per round: one neighbor-min aggregate + two anti-joins — O(E)
    * shuffle keyed by vertex, no driver data, localCheckpoint
    * truncates lineage. Only nodes incident to an edge participate
    * (isolated nodes are trivially MIS and never reach the edge list).
    *
    * @return (n, in_mis INT, round) — round = when the node was
    *         selected (in_mis=1) or removed as a neighbor (0). */
  def lubyMis(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 20): DataFrame = {
    val raw = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    def pr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(c * 2654435761L + 12345L, lit(1000000007L)) * 4294967296L + c
    var cur = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    // materialize + count in one job (GraftSql.checkpointCount) — the
    // active-count probe is pure driver latency at fixpoint scales
    var (active, nActive, _) = org.apache.spark.sql.GraftSql
      .checkpointCount(cur.select(col("a").as("n")).distinct())
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    while (nActive > 0 && round < maxRounds) {
      round += 1
      val nbrMin = cur.groupBy(col("a").as("n"))
        .agg(min(pr(col("b"))).as("mn"))
      val sel = active.join(nbrMin, Seq("n"), "left")
        .filter(col("mn").isNull || pr(col("n")) < col("mn"))
        .select(col("n")).localCheckpoint()
      val removed = cur
        .join(sel.select(col("n").as("a")), Seq("a"), "left_semi")
        .select(col("b").as("n")).distinct().localCheckpoint()
      out += sel.select(col("n"), lit(1).as("in_mis"),
        lit(round.toLong).as("round"))
      out += removed.select(col("n"), lit(0).as("in_mis"),
        lit(round.toLong).as("round"))
      val (nextActive, nextN, _) = org.apache.spark.sql.GraftSql
        .checkpointCount(active
          .join(sel, Seq("n"), "left_anti")
          .join(removed, Seq("n"), "left_anti"))
      org.apache.spark.sql.GraftSql.freeLocalCheckpoint(active)
      active = nextActive
      nActive = nextN
      if (nActive > 0) { // the final round's edge restriction is dead work
        val nextCur = cur
          .join(active.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(active.select(col("n").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")).localCheckpoint()
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(cur)
        cur = nextCur
      }
    }
    require(nActive == 0,
      s"Luby MIS did not decide every node in $maxRounds rounds")
    out.reduce(_ unionByName _)
  }

  /** Multi-source BFS hop distance, bounded depth: every vertex within
    * `depth` hops of the seed set gets its hop count to the NEAREST seed
    * — provenance radius ("how far is this page from a trusted seed?"),
    * blast-radius analysis, and the quality-prior companion to
    * [[pageRank]]. Vertices beyond `depth` are absent from the output
    * (bounded result by construction).
    *
    * Fixed `depth` rounds in BOTH engines — not run-to-convergence — so
    * the result is deterministic at any scale and the DuckDB oracle
    * (`OracleSql.bfsCtes`) replays it round-for-round. Hop distance has
    * no tie to break (min is unique), so no ordering sensitivity
    * anywhere.
    *
    * Per round: the FRONTIER (vertices first reached last round) joins
    * the edge list once, anti-joins the settled set, dedups — shuffles
    * keyed by vertex, volume O(frontier-adjacent edges), never the whole
    * graph after round 1; per-round localCheckpoint truncates lineage.
    *
    * @param edges directed edge list (symmetrize for undirected graphs)
    * @param seeds one column of seed vertex ids (distance 0)
    * @return (node, dist), 0 <= dist <= depth */
  def bfsHops(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, depth: Int): DataFrame = {
    require(depth >= 0, s"depth must be >= 0, got $depth")
    // per-round join-key layout, see pageRank (guide §2.4)
    val e = keyLayout(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct(), "src")
      .persist()
    try {
      var (dist, distCnt, _) = org.apache.spark.sql.GraftSql.checkpointCount(
        seeds
          .select(col(seeds.columns.head).cast("long").as("node")).distinct()
          .withColumn("dist", lit(0L)))
      var frontier = dist.select(col("node"))
      var i = 1
      var exhausted = false
      while (i <= depth && !exhausted) {
        val reached = frontier
          .join(e, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("dist", lit(i.toLong))
        val (next, nextCnt, _) = org.apache.spark.sql.GraftSql
          .checkpointCount(dist.unionByName(reached))
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(dist)
        dist = next
        // Early exit on an exhausted frontier: an empty round reaches
        // nothing, so every remaining round is a no-op — the result is
        // IDENTICAL to running all `depth` rounds (fixed-depth contract
        // preserved), the remaining per-round jobs are just skipped. The
        // frontier size is the total-row delta of the materialization job.
        exhausted = nextCnt == distCnt
        distCnt = nextCnt
        frontier = dist.filter(col("dist") === i).select(col("node"))
        i += 1
      }
      dist
    } finally { e.unpersist(); () }
  }

  /** BIPARTITENESS test per connected component — the two-colorability
    * check behind conflict-free assignment, matching feasibility and
    * odd-cycle detection: color each node by the PARITY of its BFS
    * distance from its component's root (the min node id — components
    * are disjoint, so one multi-seed BFS wave from all roots settles
    * every node from exactly its own root), then an edge whose
    * endpoints share a parity WITNESSES an odd cycle. Emits per
    * component: (component, n_nodes, n_even, n_odd, n_unreached,
    * odd_edges, is_bipartite), where is_bipartite also demands every
    * node was reached within `maxDepth` (unreached = unknown parity —
    * refuse to certify, never guess).
    *
    * Scale: one min-label CC fixpoint + one frontier BFS (both the
    * proven O(edges)-per-round plans with localCheckpoint lineage
    * cuts), one edge-parity join, one aggregate keyed by component.
    * `maxDepth` must cover the eccentricity of each root — size it
    * like [[bfsHops]]'s depth. */
  def bipartiteCheck(
      edges: DataFrame, aCol: String, bCol: String,
      maxDepth: Int): DataFrame = {
    // normalized undirected edge list (a < b, deduped) for the parity
    // probe; the CC/BFS helpers symmetrize internally as needed
    val und = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("ea"),
        greatest(col(aCol), col(bCol)).cast("long").as("eb"))
      .where(col("ea") =!= col("eb"))
      .distinct()
    val sym = und.unionByName(
      und.select(col("eb").as("ea"), col("ea").as("eb")))
    val cc = graft.ops.Components.connectedComponents(und, "ea", "eb")
    val roots = cc.select(col("comp")).distinct()
    val dist = bfsHops(sym, "ea", "eb", roots, maxDepth)
    val par = cc.join(dist, cc("id") === dist("node"), "left_outer")
      .select(col("id"), col("comp"), (col("dist") % 2).as("par"))
    val oddE = und
      .join(par.select(col("id").as("ea"), col("par").as("pa")), "ea")
      .join(par.select(col("id").as("eb"), col("par").as("pb"),
        col("comp")), "eb")
      .where(col("pa").isNotNull && col("pa") === col("pb"))
      .groupBy(col("comp")).agg(count(lit(1)).as("odd_edges"))
    par.groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("n_nodes"),
        count(when(col("par") === 0, 1)).as("n_even"),
        count(when(col("par") === 1, 1)).as("n_odd"),
        count(when(col("par").isNull, 1)).as("n_unreached"))
      .join(oddE.withColumnRenamed("comp", "component"),
        Seq("component"), "left_outer")
      .select(col("component"), col("n_nodes"), col("n_even"),
        col("n_odd"), col("n_unreached"),
        coalesce(col("odd_edges"), lit(0L)).as("odd_edges"),
        (coalesce(col("odd_edges"), lit(0L)) === 0 &&
          col("n_unreached") === 0).as("is_bipartite"))
  }

  /** Diameter LOWER BOUND per component by the classic double sweep:
    * BFS from the component root (min node) finds a farthest node u
    * (ecc(root)); a second BFS from u finds ecc(u) ≥ the first — on
    * trees and many real graphs the exact diameter, in general a lower
    * bound at a two-BFS price where exact all-pairs is quadratic. Ties
    * for the peripheral node break to the smallest id (deterministic).
    * Emits (component, ecc_root, peripheral_node, diameter_lb); both
    * sweeps are the proven multi-seed frontier BFS (components are
    * disjoint, so one wave serves every component at once). */
  def doubleSweepDiameter(
      edges: DataFrame, aCol: String, bCol: String,
      maxDepth: Int): DataFrame = {
    val und = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("ea"),
        greatest(col(aCol), col(bCol)).cast("long").as("eb"))
      .where(col("ea") =!= col("eb"))
      .distinct()
    val sym = und.unionByName(
      und.select(col("eb").as("ea"), col("ea").as("eb")))
    val cc = graft.ops.Components.connectedComponents(und, "ea", "eb")
    val roots = cc.select(col("comp")).distinct()
    val d1 = bfsHops(sym, "ea", "eb", roots, maxDepth)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp"))
      .orderBy(col("dist").desc, col("node"))
    val far = cc.join(d1, cc("id") === d1("node"))
      .select(col("comp"), col("node"), col("dist"))
      .withColumn("__rn", row_number().over(w))
    val ecc = far.groupBy(col("comp"))
      .agg(max(col("dist")).as("ecc_root"))
    val u = far.where(col("__rn") === 1)
      .select(col("comp").as("__uc"), col("node").as("peripheral_node"))
    val d2 = bfsHops(sym, "ea", "eb",
      u.select(col("peripheral_node")), maxDepth)
    val diam = cc.join(d2, cc("id") === d2("node"))
      .groupBy(col("comp")).agg(max(col("dist")).as("diameter_lb"))
    ecc.join(u, col("comp") === col("__uc"))
      .join(diam, Seq("comp"))
      .select(col("comp").as("component"), col("ecc_root"),
        col("peripheral_node"), col("diameter_lb"))
  }

  /** Minimum spanning FOREST by distributed Borůvka — THE parallel MST
    * algorithm (each round every component picks its lightest outgoing
    * edge, chosen edges contract, component count at least halves →
    * O(log V) rounds of O(E)-shuffle work; Kruskal/Prim's sequential
    * orderings don't distribute). Ties are broken by the TOTAL order
    * (w, a, b), which makes the forest UNIQUE — the classic
    * distinct-weight argument applies verbatim to any total order, so
    * no cycle can form and both engines agree edge-for-edge.
    *
    * Emits the chosen edges (a, b, w), a < b. Per round: two hash
    * joins against the label map, a per-component rank-1 pick
    * (window partitioned by component — never corpus-wide), a CC solve
    * on the CONTRACTED component graph (nodes = components, at most
    * halving each round), one relabel join. localCheckpoint truncates
    * the per-round lineage exactly as the other fixpoints here. */
  def boruvkaMst(
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      maxRounds: Int = 20): DataFrame = {
    val und = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("ea"),
        greatest(col(aCol), col(bCol)).cast("long").as("eb"),
        col(wCol).cast("long").as("w"))
      .where(col("ea") =!= col("eb"))
      .groupBy(col("ea"), col("eb")).agg(min(col("w")).as("w"))
      .persist()
    try {
      val spark = edges.sparkSession
      var labels = und.select(col("ea").as("id"))
        .unionByName(und.select(col("eb").as("id"))).distinct()
        .withColumn("comp", col("id"))
        .localCheckpoint()
      var mst = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        und.schema).localCheckpoint()
      var round = 0
      var crossEdges = 1L
      while (crossEdges > 0 && round < maxRounds) {
        val lab = labels
        // checkpointCount: the cross-edge probe and the materialization
        // share one job, and the checkpoint stops `cands` (which unions
        // two selects of tagged) from recomputing the two label joins
        val (tagged, crossCnt, _) = org.apache.spark.sql.GraftSql
          .checkpointCount(und
            .join(lab.select(col("id").as("ea"), col("comp").as("ca")), "ea")
            .join(lab.select(col("id").as("eb"), col("comp").as("cb")), "eb")
            .where(col("ca") =!= col("cb")))
        crossEdges = crossCnt
        if (crossEdges > 0) {
          val cands = tagged.select(col("ca").as("c"), col("w"),
              col("ea"), col("eb"), col("cb").as("oc"))
            .unionByName(tagged.select(col("cb").as("c"), col("w"),
              col("ea"), col("eb"), col("ca").as("oc")))
          val win = org.apache.spark.sql.expressions.Window
            .partitionBy(col("c"))
            .orderBy(col("w"), col("ea"), col("eb"))
          val chosen = cands
            .withColumn("__rn", row_number().over(win))
            .where(col("__rn") === 1)
            .select(col("ea"), col("eb"), col("w"), col("c"), col("oc"))
            .localCheckpoint()
          val nextMst = mst.unionByName(
            chosen.select(col("ea"), col("eb"), col("w"))).distinct()
            .localCheckpoint()
          // contract: components joined by chosen edges merge; solve CC
          // on the comp graph (nodes = components — at most halving)
          val relabel = graft.ops.Components.connectedComponents(
            chosen.select(col("c"), col("oc")), "c", "oc")
            .select(col("id").as("comp"), col("comp").as("__nc"))
          val nextLabels = labels.join(relabel, Seq("comp"), "left_outer")
            .select(col("id"),
              coalesce(col("__nc"), col("comp")).as("comp"))
            .localCheckpoint()
          org.apache.spark.sql.GraftSql.freeLocalCheckpoint(labels)
          org.apache.spark.sql.GraftSql.freeLocalCheckpoint(mst)
          org.apache.spark.sql.GraftSql.freeLocalCheckpoint(chosen)
          labels = nextLabels
          mst = nextMst
        }
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(tagged)
        round += 1
      }
      require(crossEdges == 0,
        s"Boruvka did not converge in $maxRounds rounds (log2(V) suffices " +
          "on any graph — raise maxRounds only for pathological inputs)")
      mst.select(col("ea").as("a"), col("eb").as("b"), col("w"))
    } finally { und.unpersist(); () }
  }

  /** Edge RECIPROCITY of a directed graph — the mutual-link share
    * (follows-back rate, cite-back rate): |{(a,b) ∈ E : (b,a) ∈ E}|
    * over |E|, self-loops excluded. One deduplicated self-join keyed by
    * the reversed edge, one count — no per-vertex state. Output one
    * row: (n_edges, n_reciprocal, reciprocity). */
  def reciprocity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val rec = e.as("x").join(e.as("y"),
      col("x.a") === col("y.b") && col("x.b") === col("y.a"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(rec.agg(count(lit(1)).as("n_reciprocal")))
      .withColumn("reciprocity",
        when(col("n_edges") === 0L, lit(null).cast("double"))
          .otherwise(col("n_reciprocal").cast("double") /
            col("n_edges").cast("double")))
  }

  /** DAG longest-path LAYERING (topological levels): layer(v) = length
    * of the longest directed path ending at v — the schedule depth of a
    * dependency graph (build systems, pipeline DAGs, feature lineage):
    * everything in layer L can run in parallel once layers < L are
    * done. Bellman-style simultaneous relaxation
    * `l'(v) = max(l(v), max over u→v of l(u) + 1)` from all-zeros;
    * converges in (longest path) rounds, and EXTRA rounds are
    * idempotent — the same order-free-fixpoint property as [[kTruss]],
    * so a fixed-depth oracle replays the adaptive loop exactly. Cycles
    * never converge (layers grow each round) — the round cap turns an
    * accidental cycle into a loud error instead of a wrong answer.
    * Per round: one edge join + one vertex-keyed max. Output:
    * (node, layer). */
  def dagLayers(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 50): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct().persist()
    try {
      var lv = e.select(col("a").as("v"))
        .unionByName(e.select(col("b").as("v"))).distinct()
        .withColumn("layer", lit(0L))
        .localCheckpoint()
      var changed = 1L
      var round = 0
      while (changed > 0 && round < maxRounds) {
        // Same fixpoint as the old union+groupBy form — layer'(v) =
        // max(layer(v), max over in-edges layer(u)+1); every candidate
        // vertex is already in lv (lv holds both endpoints of e), so the
        // left_outer join covers the identical row set. Shaped like the
        // CC round so the convergence probe (__chg) rides the
        // checkpointCount materialization job instead of paying a
        // separate join+count per round.
        val cand = e.join(lv, col("v") === col("a"))
          .groupBy(col("b").as("v"))
          .agg(max(col("layer") + 1L).as("__cand"))
        val (relaxed, _, chg) = org.apache.spark.sql.GraftSql.checkpointCount(
          lv.join(cand, Seq("v"), "left_outer")
            .select(col("v"),
              greatest(col("layer"), coalesce(col("__cand"), col("layer")))
                .as("layer"),
              (col("__cand") > col("layer")).as("__chg")),
          Some("__chg"))
        changed = chg
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(lv)
        lv = relaxed.drop("__chg")
        round += 1
      }
      require(changed == 0,
        s"dagLayers did not converge in $maxRounds rounds — cycle in the " +
          "input, or raise maxRounds for a deeper DAG")
      lv
    } finally { e.unpersist(); () }
  }

  /** k-truss by SIMULTANEOUS edge peeling — the triangle-density
    * community kernel (every surviving edge sits in ≥ k−2 triangles of
    * the surviving graph; stricter than k-core, which only counts
    * degree): per round, enumerate each triangle ONCE over the
    * canonically-oriented edge list (a < b; wedge join + closing-edge
    * probe, the [[transitivity]] shape — at production scale orient by
    * (degree, id) instead of id to bound wedge work by arboricity, an
    * orientation swap that changes no semantics), credit all three
    * edges, drop every edge with support < k−2, repeat until no edge
    * drops. Simultaneous peeling is ORDER-FREE — the fixpoint is the
    * unique maximal k-truss, and any round count ≥ the convergence
    * round reproduces it exactly (what lets a fixed-depth oracle replay
    * an adaptive engine loop). Per round: one self-join bounded by
    * oriented wedges + one grouped count, all vertex/edge-keyed
    * shuffles; rounds ≤ peel depth (graph-dependent, small on real
    * graphs). Output: surviving (a, b, support). */
  def kTruss(
      edges: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int = 30): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    def support(e: DataFrame): DataFrame = {
      val tri = e.as("xy")
        .join(e.as("xz"),
          col("xz.a") === col("xy.a") && col("xz.b") > col("xy.b"))
        .join(e.as("yz"),
          col("yz.a") === col("xy.b") && col("yz.b") === col("xz.b"))
        .select(col("xy.a").as("ta"), col("xy.b").as("tb"),
          col("xz.b").as("tc"))
      val roles = tri.select(col("ta").as("a"), col("tb").as("b"))
        .unionByName(tri.select(col("ta").as("a"), col("tc").as("b")))
        .unionByName(tri.select(col("tb").as("a"), col("tc").as("b")))
      e.join(
          roles.groupBy(col("a"), col("b")).agg(count(lit(1)).as("support")),
          Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
    }
    var (e, n, _) = org.apache.spark.sql.GraftSql.checkpointCount(edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    var round = 0
    var result: DataFrame = null
    while (result == null && round < maxRounds) {
      // the survivor count rides the support materialization job
      val (supF, _, kn) = org.apache.spark.sql.GraftSql.checkpointCount(
        support(e).withColumn("__keep", col("support") >= (k - 2).toLong),
        Some("__keep"))
      val sup = supF.drop("__keep")
      val kept = sup.filter(col("support") >= (k - 2).toLong)
      if (kn == n) result = sup //  fixpoint: sup IS the final support
      else {
        val next = kept.select(col("a"), col("b")).localCheckpoint()
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(e)
        // free the checkpointed frame itself (sup is a projection over it)
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(supF)
        e = next
        n = kn
      }
      round += 1
    }
    require(result != null,
      s"k-truss did not converge in $maxRounds rounds")
    result
  }

  /** Multi-source BFS: per-seed shortest hop counts, all seeds in ONE
    * frontier wave — rows (seed, node, dist), cost O(|seeds|·E) per
    * round keyed by vertex (the frontier join), the standard landmark
    * pattern (pick a bounded landmark set, not all of V). Same
    * anti-join frontier discipline and localCheckpoint lineage cuts as
    * [[bfsHops]]. */
  def bfsMultiSource(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, depth: Int): DataFrame = {
    require(depth >= 0, s"depth must be >= 0, got $depth")
    // per-round join-key layout, see pageRank (guide §2.4)
    val e = keyLayout(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct(), "src")
      .persist()
    try {
      var (dist, distCnt, _) = org.apache.spark.sql.GraftSql.checkpointCount(
        seeds
          .select(col(seeds.columns.head).cast("long").as("seed")).distinct()
          .select(col("seed"), col("seed").as("node"))
          .withColumn("dist", lit(0L)))
      var frontier = dist.select(col("seed"), col("node"))
      var i = 1
      var exhausted = false
      while (i <= depth && !exhausted) {
        val reached = frontier
          .join(e, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node")).distinct()
          .join(dist, Seq("seed", "node"), "left_anti")
          .withColumn("dist", lit(i.toLong))
        val (next, nextCnt, _) = org.apache.spark.sql.GraftSql
          .checkpointCount(dist.unionByName(reached))
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(dist)
        dist = next
        // same exhausted-frontier early exit as bfsHops — result identical
        exhausted = nextCnt == distCnt
        distCnt = nextCnt
        frontier = dist.filter(col("dist") === i)
          .select(col("seed"), col("node"))
        i += 1
      }
      dist
    } finally { e.unpersist(); () }
  }

  /** Truncated (within-`depth`) closeness centrality of a LANDMARK set:
    * closeness(s) = reached / Σ dist over the depth-bounded BFS ball —
    * exact integer counts, one final division. The h-bounded form is
    * the honest scalable one (full closeness is O(V·E)); landmarks make
    * the frontier state O(|S|·V). Output per seed:
    * (seed, n_reached, sum_dist, closeness). */
  def closenessLandmarks(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, depth: Int): DataFrame =
    bfsMultiSource(edges, srcCol, dstCol, seeds, depth)
      .groupBy(col("seed"))
      .agg((count(lit(1)) - 1L).as("n_reached"),
        sum(col("dist")).as("sum_dist"))
      .withColumn("closeness",
        when(col("sum_dist") > 0L,
          col("n_reached").cast("double") / col("sum_dist").cast("double")))

  /** Truncated HARMONIC centrality of a landmark set — the closeness
    * variant that stays well-defined on disconnected graphs (Boldi &
    * Vigna's recommendation): harmonic(s) = Σ_{v reached, v≠s} 1/d(s,v),
    * unreachable nodes contribute 0 instead of poisoning the sum.
    *
    * Determinism: the BFS ball gives exact integer per-distance counts
    * n_1..n_depth; harmonic is the FIXED-ORDER double expression
    * ((n_1/1 + n_2/2) + ... + n_d/d) — one division per ring, left-
    * associated, so Spark and the oracle produce bit-identical doubles
    * regardless of row order (a per-row Σ1/d would be order-sensitive).
    *
    * Scale: one multi-seed BFS wave (state O(|S|·ball)) + one
    * map-side-combinable aggregate. Output:
    * (seed, n_1..n_depth, harmonic). */
  def harmonicLandmarks(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val counts = (1 to depth).map(d =>
      sum(when(col("dist") === d.toLong, 1L).otherwise(0L)).as(s"n_$d"))
    bfsMultiSource(edges, srcCol, dstCol, seeds, depth)
      .groupBy(col("seed"))
      .agg(counts.head, counts.tail: _*)
      .withColumn("harmonic",
        (1 to depth).map(d =>
          col(s"n_$d").cast("double") / lit(d.toDouble)).reduce(_ + _))
  }

  /** Deterministic hash-guided random walks — the distributed stand-in
    * for node2vec/DeepWalk corpus sampling, made REPLAYABLE: at step t a
    * walker on node u moves to the out-neighbor v minimizing
    * `(a1·(t+1) + a2·u + a3·v) mod p` (ties — impossible for distinct
    * v < p with gcd(a3,p)=1, but broken by (score, v) anyway). The
    * choice depends only on (t, u), so the per-step transition table is
    * precomputed ONCE as a single window over edges × steps (O(E·steps)
    * — at a trillion edges, compute each step's slice inside the loop
    * instead; same plan per step, steps× less peak state), then the walk
    * itself is `steps` cheap position-table joins, each O(|seeds|).
    * A sink node (no out-edges) ends its walk early — the join drops it.
    *
    * Output: (walker, step, node) — every visited position, step 0 =
    * the seed itself. */
  def deterministicWalks(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, steps: Int,
      a1: Long = 7919L, a2: Long = 104729L, a3: Long = 130363L,
      p: Long = 999983L): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
    val scored = e
      .withColumn("step",
        explode(sequence(lit(0L), lit(steps.toLong - 1L))))
      .withColumn("score",
        pmod(lit(a1) * (col("step") + 1L) + lit(a2) * col("src") +
          lit(a3) * col("dst"), lit(p)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"), col("step"))
      .orderBy(col("score"), col("dst"))
    val choice = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("src"), col("step"), col("dst"))
      .persist()
    try {
      choice.count() // materialize once; every step joins this table
      var pos = seeds
        .select(col(seeds.columns.head).cast("long").as("walker"))
        .distinct()
        .select(col("walker"), lit(0L).as("step"),
          col("walker").as("node"))
        .localCheckpoint()
      val out = collection.mutable.ArrayBuffer[DataFrame](pos)
      for (i <- 0 until steps) {
        val next = pos
          .join(choice,
            pos("node") === choice("src") && choice("step") === i.toLong)
          .select(col("walker"), (pos("step") + 1L).as("step"),
            col("dst").as("node"))
          .localCheckpoint()
        out += next
        pos = next
      }
      out.reduce(_ unionByName _)
    } finally { choice.unpersist(); () }
  }

  /** Landmark betweenness (Brandes on the depth-bounded ball):
    * dependency scores δ accumulated backward over the multi-source
    * BFS DAG, quantized at `q` so every division is an exact integer
    * floor — σ path counts forward by level (one vertex-keyed join per
    * level), then δ_u = Σ_{u→w, dist w = dist u + 1}
    * (σ_u · (q + δ_w)) div σ_w backward, summed over landmarks.
    * The depth bound makes this the h-hop betweenness (the standard
    * scalable surrogate — exact Brandes is O(V·E)); landmarks bound
    * frontier state at O(|S|·V). Output: (node, betweenness_q), seeds'
    * own rows excluded (endpoints don't count). σ and the δ products
    * must fit BIGINT — on dense balls pick a smaller depth. */
  def betweennessLandmarks(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, depth: Int, q: Long = 1000000L): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(q > 0, s"q must be positive, got $q")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct().persist()
    val dist = bfsMultiSource(e, "src", "dst", seeds, depth).persist()
    try {
      // forward: σ per (seed, node), one checkpointed frame PER LEVEL
      // (checkpointing the growing union would re-materialize every
      // prior level each round)
      val sigma = new Array[DataFrame](depth + 1)
      sigma(0) = dist.filter(col("dist") === 0L)
        .select(col("seed"), col("node"), lit(1L).as("sig"))
        .localCheckpoint()
      for (l <- 1 to depth)
        sigma(l) = sigma(l - 1)
          .join(e, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node"), col("sig"))
          .join(dist.filter(col("dist") === l.toLong),
            Seq("seed", "node"), "left_semi")
          .groupBy(col("seed"), col("node"))
          .agg(sum(col("sig")).as("sig"))
          .localCheckpoint()
      // backward: quantized δ per level
      val deltas = new Array[DataFrame](depth + 1)
      deltas(depth) = sigma(depth)
        .select(col("seed"), col("node"), lit(0L).as("dq"))
        .localCheckpoint()
      for (l <- (depth - 1) to 1 by -1) {
        val wRows = deltas(l + 1)
          .join(sigma(l + 1), Seq("seed", "node"))
          .select(col("seed"), col("node").as("dst"), col("sig"),
            col("dq"))
        val contrib = e.join(wRows, "dst")
          .select(col("seed"), col("src").as("node"), col("sig"),
            col("dq"))
          .join(sigma(l).select(col("seed"), col("node"),
            col("sig").as("__su")), Seq("seed", "node"))
          .select(col("seed"), col("node"),
            expr(s"(__su * ($q + dq)) div sig").as("__c"))
          .groupBy(col("seed"), col("node"))
          .agg(sum(col("__c")).as("__dq"))
        deltas(l) = sigma(l).select(col("seed"), col("node"))
          .join(contrib, Seq("seed", "node"), "left_outer")
          .select(col("seed"), col("node"),
            coalesce(col("__dq"), lit(0L)).as("dq"))
          .localCheckpoint()
      }
      // materialize the final aggregate EAGERLY so every per-level
      // checkpoint (σ and δ) can be freed before returning — otherwise
      // each invocation would retain `depth` checkpointed frames for
      // the session lifetime behind the lazy result
      val out = (1 to depth).map(deltas)
        .reduce(_ unionByName _)
        .groupBy(col("node"))
        .agg(sum(col("dq")).as("betweenness_q"))
        .localCheckpoint() // O(nodes) rows — the only surviving blocks
      (0 to depth).foreach { i =>
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(sigma(i))
        if (deltas(i) != null) // deltas(0) is never built
          org.apache.spark.sql.GraftSql.freeLocalCheckpoint(deltas(i))
      }
      out
    } finally {
      e.unpersist()
      dist.unpersist()
      // bfsMultiSource's result is checkpoint-backed; fully consumed here
      org.apache.spark.sql.GraftSql.freeLocalCheckpoint(dist)
      ()
    }
  }

  /** Personalized PageRank — [[pageRank]] with the teleport vector
    * concentrated on a SEED set instead of uniform: ranks measure
    * proximity to the seeds (trusted-domain expansion for crawl
    * curation, related-item retrieval from a query set, TrustRank-style
    * spam demotion). Seeds outside the graph's node set are ignored
    * (documented: they can neither receive nor emit mass).
    *
    * Same fixed-point integer discipline as [[pageRank]] — per-seed
    * teleport `(1−d)·q div (den·|S|)` and init `q div |S|` are floor
    * divisions of exact integers, so the oracle CTE chain replays every
    * unit. Non-seed nodes start at 0 and receive only propagated mass.
    * Cost shape identical to [[pageRank]] plus one broadcast-sized seed
    * join per round; |S| reaches the driver as one scalar (the
    * [[pageRank]] node-count precedent). Output: (node, rank_q). */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int, q: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(q > 0, s"q must be positive, got $q")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct().persist()
    // per-round join-key layout, see pageRank (guide §2.4)
    val ed = keyLayout(e
      .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"), "src")
      .persist()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().persist()
    val sd = seeds
      .select(col(seeds.columns.head).cast("long").as("node")).distinct()
      .join(nodes, "node").withColumn("__seed", lit(1))
    // Seed membership is loop-invariant: annotate the node set ONCE and
    // persist, so each round pays one contrib join, not contrib + seeds.
    val nodesSeeded = nodes
      .join(sd.select(col("node"), col("__seed")), Seq("node"), "left_outer")
      .persist()
    try {
      val nS = nodesSeeded.filter(col("__seed").isNotNull).count()
      require(nS > 0, "personalizedPageRank needs at least one seed in the graph")
      val telQ = ((dampDen - dampNum) * q) / (dampDen * nS)
      val initQ = q / nS
      var ckpt = nodesSeeded
        .select(col("node"),
          when(col("__seed").isNotNull, lit(initQ)).otherwise(lit(0L))
            .as("rank_q"))
        .localCheckpoint()
      var ranks = ckpt
      for (_ <- 0 until iters) {
        // Union-fold (see katz/pageRank): each node contributes one row
        // carrying 0 mass and its loop-invariant teleport term; the edge
        // rows carry mass and teleport 0. sum(__c) equals the old
        // coalesce(acc, 0) and max(__t) is exactly the node's teleport
        // (one node row, edge rows are 0) — the per-round left_outer
        // join against nodesSeeded disappears.
        val contrib = ed
          .join(ranks.select(col("node").as("src"), col("rank_q")), "src")
          .select(col("dst").as("node"), expr("rank_q div outdeg").as("__c"),
            lit(0L).as("__t"))
          .unionByName(nodesSeeded.select(col("node"), lit(0L).as("__c"),
            when(col("__seed").isNotNull, lit(telQ)).otherwise(lit(0L))
              .as("__t")))
          .groupBy("node")
          .agg(sum(col("__c")).as("__acc"), max(col("__t")).as("__tel"))
        val body = contrib
          .select(col("node"),
            (col("__tel") + expr(s"($dampNum * __acc) div $dampDen"))
              .as("rank_q"))
        val next = body.localCheckpoint()
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(ckpt)
        ckpt = next
        ranks = next
      }
      ranks
    } finally { e.unpersist(); ed.unpersist(); nodes.unpersist()
      nodesSeeded.unpersist(); () }
  }

  /** Katz centrality, quantized fixed-point: x₀ = q (scaled 1.0),
    * x_{t+1}(v) = q + α·Σ_{u→v} x_t(u), with α = alphaNum/alphaDen kept
    * as exact integer arithmetic (`div`). Unlike PageRank there is no
    * out-degree normalization, so α must sit well under 1/λ_max or the
    * scores blow up — callers pick a small α (the default 1/32 keeps
    * 3-iteration scores inside BIGINT up to in-degrees of ~10⁴); the
    * fixed `iters` budget makes both cost and the DuckDB replay
    * (`OracleSql.katzCtes`) deterministic. Same Pregel discipline as
    * [[pageRank]]: degree-free edge join per round, vertex-keyed
    * shuffles only, localCheckpoint truncates lineage. */
  def katz(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, q: Long = 1000000L,
      alphaNum: Long = 1L, alphaDen: Long = 32L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(q > 0, s"q must be positive, got $q")
    require(alphaDen > 0 && alphaNum >= 0 && alphaNum < alphaDen,
      s"alpha must satisfy 0 <= alphaNum < alphaDen, got $alphaNum/$alphaDen")
    // per-round join-key layout, see pageRank (guide §2.4)
    val e = keyLayout(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct(), "src")
      .persist()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().persist()
    try {
      var ckpt = nodes.withColumn("katz_q", lit(q)).localCheckpoint()
      var ranks = ckpt
      for (_ <- 0 until iters) {
        // Union-fold instead of a second (left_outer) join per round:
        // every node contributes an explicit 0 row, so the grouped sum
        // covers exactly the node set and equals coalesce(acc, 0) of the
        // old join form — one aggregation, no join, same integer result.
        val contrib = e
          .join(ranks.select(col("node").as("src"), col("katz_q")), "src")
          .select(col("dst").as("node"), col("katz_q").as("__c"))
          .unionByName(nodes.select(col("node"), lit(0L).as("__c")))
          .groupBy(col("node"))
          .agg(sum(col("__c")).as("__acc"))
        val body = contrib
          .select(col("node"), expr(
            s"$q + ($alphaNum * __acc) div $alphaDen").as("katz_q"))
        val next = body.localCheckpoint()
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(ckpt)
        ckpt = next
        ranks = next
      }
      ranks
    } finally { e.unpersist(); nodes.unpersist(); () }
  }

  /** HITS hubs and authorities over a directed edge list — the
    * query-independent form of Kleinberg's algorithm, and the natural
    * ranking for BIPARTITE graphs where [[pageRank]]'s single score
    * conflates the two roles: a supplier catalog (supplier→part: good
    * hubs stock good parts), crawl seeds (hub pages→content pages), or
    * user→item engagement. Emits one row per node role:
    * (node, kind ∈ {hub, authority}, score_q).
    *
    * Same FIXED-POINT INTEGER discipline as [[pageRank]]: scores live in
    * `q` units as BIGINT; each half-round is an exact integer sum over
    * in-/out-edges followed by L1 normalization via ONE floor division
    * `score·q div total` (L1 instead of the classical L2 — the ranking
    * and the fixpoint direction are the same, and it needs no sqrt, so a
    * DuckDB CTE chain replays every unit exactly). Deterministic across
    * runs, partitionings, and engines.
    *
    * Overflow/underflow bounds (documented, not checked — they need a
    * count): round-1 totals reach n_src·q before the first
    * normalization, so `n_src·q·q` must fit BIGINT (n_src < 9e18/q² —
    * at q=1e6, 9e6 source nodes; shrink q for larger graphs), and
    * normalization floors scores to 0 only when a node's share is below
    * 1/q, so node counts must stay < q for the totals to survive.
    *
    * Per half-round: one join of the (cached) edge list onto the current
    * scores + one vertex-keyed sum + a 1-row total cross-joined back
    * (broadcast, no driver round-trip) — O(edges) shuffle volume keyed
    * by vertex, map-side combinable, per-round localCheckpoint lineage
    * truncation. Every source has out-degree ≥ 1 and every target
    * in-degree ≥ 1 by construction (node sets come from the edges), so
    * no dangling-mass handling is needed. */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, q: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(q > 0, s"q must be positive, got $q")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct().persist()
    try {
      var hubs = e.select(col("src").as("node")).distinct()
        .withColumn("h", lit(q)).localCheckpoint()
      var auths: DataFrame = null
      for (_ <- 0 until iters) {
        val ra = e
          .join(hubs.select(col("node").as("src"), col("h")), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("__r"))
        val nextA = ra
          .crossJoin(broadcast(ra.agg(sum(col("__r")).as("__t"))))
          .select(col("node"), expr(s"__r * $q div __t").as("a"))
          .localCheckpoint()
        if (auths != null)
          org.apache.spark.sql.GraftSql.freeLocalCheckpoint(auths)
        auths = nextA
        val rh = e
          .join(auths.select(col("node").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("__r"))
        val nextH = rh
          .crossJoin(broadcast(rh.agg(sum(col("__r")).as("__t"))))
          .select(col("node"), expr(s"__r * $q div __t").as("h"))
          .localCheckpoint()
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(hubs)
        hubs = nextH
      }
      hubs.select(col("node"), lit("hub").as("kind"),
          col("h").as("score_q"))
        .unionByName(auths.select(col("node"),
          lit("authority").as("kind"), col("a").as("score_q")))
    } finally { e.unpersist(); () }
  }

  /** Subtree rollup over an implicit binary-heap hierarchy (parent of
    * node n is n>>1, root 1) — the recursive-CTE workload (BOM
    * explosion, org rollup) done WITHOUT recursion or iteration: a
    * node's full ancestors-or-self chain is pure arithmetic
    * (n, n/2, n/4, …, 1), so each row emits its ≤`maxDepth` chain
    * row-locally and ONE grouped aggregate produces every subtree's
    * (member count, value sum). Output, restricted to node ids <
    * `emitBelow` to keep the readout bounded:
    * (node_id, depth, n_subtree, sum_val).
    *
    * Determinism: everything is integer arithmetic — chains are exact
    * divisions by powers of two, depth is chain length − 1, sums are
    * BIGINT. Scale: the explode is a flat ×log₂(maxId) map-side
    * expansion feeding one shuffle keyed on the ancestor id — the same
    * shape at any corpus size, no per-level join rounds (a recursive
    * engine does O(depth) passes; this does one). Deep-ancestor skew
    * (every row hits the root) is bounded by partial aggregation:
    * map-side combine collapses each partition's root contribution to
    * one row before the shuffle. */
  def subtreeRollup(df: DataFrame, idCol: String, valCol: String,
      maxDepth: Int = 32, emitBelow: Long = 64L): DataFrame = {
    val chain = (c: String) =>
      s"filter(transform(sequence(0, ${maxDepth - 1}), " +
        s"k -> $c div CAST(pow(2, k) AS BIGINT)), a -> a >= 1)"
    df.select(col(idCol).cast("long").as("__node"),
        col(valCol).cast("long").as("__v"))
      .where(col("__node") >= 1L)
      .withColumn("__anc", expr(chain("__node")))
      .select(explode(col("__anc")).as("node_id"), col("__v"))
      .groupBy("node_id")
      .agg(count(lit(1)).as("n_subtree"), sum(col("__v")).as("sum_val"))
      .where(col("node_id") < emitBelow)
      .select(col("node_id"),
        (size(expr(chain("node_id"))) - 1).cast("long").as("depth"),
        col("n_subtree"), col("sum_val"))
  }
}
