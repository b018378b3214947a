package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the near-dup
  * endgame: LSH/Jaccard emit duplicate PAIRS, but deduplication needs
  * duplicate CLUSTERS (keep one canonical doc per component, drop the
  * rest). The component label is the smallest reachable vertex id, so the
  * canonical choice is deterministic and oracle-reproducible.
  *
  * Algorithm: min-label propagation. Each round every vertex takes the
  * minimum of its own label and its neighbors' labels; fixpoint = each
  * component uniformly labeled by its minimum id. Per round: one join of
  * the (symmetrized, cached) edge list with the labels + one min-aggregate
  * — both shuffles keyed by vertex, volume O(edges). Rounds needed = graph
  * diameter; near-dup components are short chains (a few hops), so this
  * converges in a handful of rounds. For adversarial long-chain graphs at
  * 100 TB, swap the body for the alternating large-star/small-star
  * rewrite (Kiveris et al., "Connected Components in MapReduce"), which
  * converges in O(log n) rounds with the same per-round plan shape; the
  * propagation below is the right default for dedup workloads.
  *
  * Lineage is truncated with an eager localCheckpoint every round — an
  * iterative plan otherwise grows by two joins per round until the
  * optimizer chokes. localCheckpoint stores blocks on executors, so an
  * executor loss mid-computation fails the job unrecoverably (acceptable
  * for a bounded dedup pass; use reliable `checkpoint` if the cluster
  * preempts executors). The convergence probe is a driver-side count of
  * changed labels (one scalar per round, not a data collect).
  */
object Components {

  /** @param edges    undirected edges, one pair per row
    * @param aCol,bCol endpoint columns (any integral type)
    * @param maxRounds hard stop (propagation needs `diameter` rounds)
    * @return (id, component) for every vertex in `edges`, component =
    *         minimum id reachable from the vertex */
  def connectedComponents(
      edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    val sym = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .unionByName(edges
        .select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct()
      // Loop-invariant edge cache laid out on the per-round join key
      // (guide §2.4, r13 verdict item 3): at scale each round then
      // exchanges only the O(V) label table, never the O(E) edges —
      // and since the labels come out of the previous round partitioned
      // by id (= this join's key), the co-partitioned rounds need no
      // edge-side exchange at all. One setup shuffle; same rows.
      .transform(Graph.keyLayout(_, "dst"))
      .persist()
    try {
      // Per-round checkpoints are freed as soon as the next round's state
      // materializes (GraftSql.freeLocalCheckpoint) — without that, an
      // n-round run retains n copies of the label set on executors.
      var ckpt = sym.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id"))
        .localCheckpoint()
      var labels = ckpt
      var round = 0
      var changed = 1L
      while (changed > 0 && round < maxRounds) {
        val nbrMin = sym
          .join(labels.select(col("id").as("dst"), col("comp").as("__nc")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("__nc")).as("__nbr_min"))
        // checkpointCount fuses the convergence probe into the round's
        // materialization job — the separate `.where(__changed).count()`
        // used to cost a whole extra driver round-trip per round.
        val body = labels.join(nbrMin, Seq("id"), "left_outer")
          .select(col("id"),
            least(col("comp"), coalesce(col("__nbr_min"), col("comp"))).as("comp"),
            (col("__nbr_min") < col("comp")).as("__changed"))
        val (next, _, chg) = org.apache.spark.sql.GraftSql.checkpointCount(
          body, Some("__changed"))
        changed = chg
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(ckpt)
        ckpt = next
        labels = next.drop("__changed")
        round += 1
      }
      require(changed == 0,
        s"connected components did not converge in $maxRounds rounds — " +
          "graph diameter exceeds the bound; raise maxRounds or use " +
          "connectedComponentsStar (log-round) for chain-heavy graphs")
      labels
    } finally { sym.unpersist(); () }
  }

  /** INCREMENTAL connected components — the arriving-shard path: given
    * the stored labels of the already-clustered corpus and a batch of
    * NEW edges, produce labels equal to a full recompute over the union
    * WITHOUT touching the old edge list. Correctness rests on min-id
    * labeling being merge-order independent: contract each new edge to
    * the component ids of its endpoints (new vertices label themselves),
    * solve components on that CONTRACTED graph — whose size is bounded
    * by the new batch, not the corpus — and broadcast the relabel map
    * back over the stored labels. Only components actually touched by
    * new edges change labels.
    *
    * Scale: the corpus-sized work is ONE equi-join of the stored labels
    * against the O(touched components) relabel map (broadcast when the
    * batch is small — the normal case); the iterative solve runs
    * entirely on the contracted graph. This is [[connectedComponents]]'
    * answer to `NearDup.lshProbeIndex`: hash/solve once, then each
    * delivery pays for itself. Spec-proven equal to the full recompute
    * on the union. */
  def incrementalComponents(
      labels: DataFrame, newEdges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    val prior = labels.select(col("id").cast("long").as("id"),
      col("comp").cast("long").as("comp")).persist()
    try {
      val e = newEdges.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      // endpoints resolve to their stored component; unseen vertices are
      // their own component (their id) — exactly a fresh vertex's label
      val resolve = (end: String) =>
        coalesce(col(s"__c_$end"), col(end)).as(s"__r_$end")
      val contracted = e
        .join(prior.select(col("id").as("a"), col("comp").as("__c_a")),
          Seq("a"), "left_outer")
        .join(prior.select(col("id").as("b"), col("comp").as("__c_b")),
          Seq("b"), "left_outer")
        .select(resolve("a"), resolve("b"))
      val solved = connectedComponents(contracted, "__r_a", "__r_b",
        maxRounds)
      // stored labels flow through the relabel map (old comp -> merged
      // comp); untouched components pass unchanged. New vertices appear
      // with their contracted label.
      val relabel = solved.select(col("id").as("comp"),
        col("comp").as("__merged"))
      val kept = prior.join(broadcast(relabel), Seq("comp"), "left_outer")
        .select(col("id"), coalesce(col("__merged"), col("comp")).as("comp"))
      val newIds = e.select(col("a").as("id"))
        .unionByName(e.select(col("b").as("id"))).distinct()
        .join(prior.select(col("id")), Seq("id"), "left_anti")
      val fresh = newIds
        .join(solved.select(col("id"), col("comp").as("__sc")),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("__sc"), col("id")).as("comp"))
      kept.unionByName(fresh)
    } finally { prior.unpersist(); () }
  }

  /** Log-round connected components: the alternating large-star/small-star
    * edge rewrite (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14). Same contract as [[connectedComponents]] — returns
    * (id, comp), comp = minimum reachable id — but converges in O(log n)
    * rounds regardless of graph diameter, so it is the right body for
    * chain-heavy graphs where propagation's round count (= diameter) would
    * explode. Per round the cost shape is identical to propagation's: two
    * vertex-keyed shuffles of O(edges) (a min-aggregate + a join back), no
    * driver-side data beyond one count per round.
    *
    *  - large-star(u): connect every neighbor larger than u to the minimum
    *    of u's neighborhood (including u) — grows stars downward without
    *    ever raising a label.
    *  - small-star(u): connect u and its not-larger neighbors to that
    *    minimum — contracts chains of smaller ids.
    *
    * Both rewrites preserve connectivity; the fixpoint is a forest of
    * stars, each centered at its component's minimum id. Convergence is
    * detected structurally (edge set unchanged: equal count + empty
    * except), not via a monotonicity argument, so the stop test is exact.
    * Self-loop-only vertices drop out of the rewrite; the final left join
    * against the original vertex set restores them as their own component.
    */
  def connectedComponentsStar(
      edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    val raw = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    val vertices = raw.select(col("u").as("id"))
      .unionByName(raw.select(col("v").as("id"))).distinct().persist()
    try {
      // Canonical undirected form (u > v), self-loops dropped.
      var (cur, curCnt, _) = org.apache.spark.sql.GraftSql.checkpointCount(
        raw.filter(col("u") =!= col("v"))
          .select(greatest(col("u"), col("v")).as("u"),
            least(col("u"), col("v")).as("v"))
          .distinct())
      var round = 0
      var converged = curCnt == 0L
      while (!converged && round < maxRounds) {
        // one job materializes the round AND counts it (see checkpointCount)
        val (next, nextCnt, _) =
          org.apache.spark.sql.GraftSql.checkpointCount(smallStar(largeStar(cur)))
        converged = nextCnt == curCnt && next.except(cur).isEmpty
        // The convergence check above is the last read of the previous
        // round — free its checkpoint before stepping.
        org.apache.spark.sql.GraftSql.freeLocalCheckpoint(cur)
        cur = next
        curCnt = nextCnt
        round += 1
      }
      require(converged,
        s"star rewrite did not converge in $maxRounds rounds — " +
          "pathological input (rounds should be O(log n)); raise maxRounds")
      val sym = cur.unionByName(cur.select(col("v").as("u"), col("u").as("v")))
      val assign = sym.groupBy(col("u").as("id")).agg(min(col("v")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("comp"))
      val result = vertices.join(assign, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
        .localCheckpoint()
      org.apache.spark.sql.GraftSql.freeLocalCheckpoint(cur)
      result
    } finally { vertices.unpersist(); () }
  }

  /** One large-star rewrite over canonical (u > v) edges; output canonical.
    * For each vertex u with neighborhood N(u): emit (v, min(N(u) ∪ {u}))
    * for every v ∈ N(u) with v > u. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.filter(col("v") > col("u")).join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** One small-star rewrite over canonical (u > v) edges; output canonical.
    * For each u, with m = min of its not-larger neighbors: emit (u, m) and
    * (v, m) for the remaining not-larger neighbors v. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    e.join(mins, "u").filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Grid DBSCAN — density clustering at corpus scale by trading the
    * quadratic ε-neighborhood search for a fixed grid: bin points to
    * integer cells, call a cell CORE when it holds ≥ `minPts` points,
    * and union 8-adjacent core cells into clusters (the classic
    * grid/cell variant — GriT-DBSCAN et al. — which is how DBSCAN is
    * run distributed; per-point ε-balls don't shard, cells do). One
    * row per cluster: (cluster_id, n_cells, n_points, min_x, max_x,
    * min_y, max_y); `cluster_id` is the min member cell key, so labels
    * are merge-order independent.
    *
    * Scale: one grouped count over the scan (map-side combinable), the
    * core filter collapses the domain to occupied-dense cells, and the
    * adjacency join runs on O(core cells) — bounded by the GRID, not
    * the corpus; the cell-graph components solve is driver-local
    * union-find over that bounded edge set (distributed label rounds
    * pay seconds of scheduling for a thousand-node graph). Cell keys
    * pack as x·100000 + y (caller guarantees 0 ≤ y < 100000; x may be
    * any sign). */
  def gridDbscan(pts: DataFrame, xBin: org.apache.spark.sql.Column,
      yBin: org.apache.spark.sql.Column, minPts: Long): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val cells = pts
      .select(xBin.cast("long").as("__x"), yBin.cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy("__x", "__y").agg(count(lit(1)).as("__n"))
    val core = cells.filter(col("__n") >= minPts)
      .withColumn("__cell", col("__x") * 100000L + col("__y"))
      .localCheckpoint() // feeds the explode side, the join side, and the rollup
    val offs = for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 }
      yield (dx.toLong, dy.toLong)
    val nbr = core.select(col("__cell").as("__ca"),
        col("__x"), col("__y"),
        explode(array(offs.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("__o"))
      .select(col("__ca"),
        ((col("__x") + col("__o.dx")) * 100000L +
          (col("__y") + col("__o.dy"))).as("__cb"))
    val edges = nbr
      .join(core.select(col("__cell").as("__cb")), "__cb")
      .filter(col("__ca") < col("__cb"))
    // The core-cell graph is bounded by the GRID (occupied dense cells),
    // not the corpus — and a dense value band makes it a long chain,
    // where min-propagation needs diameter rounds (blew past 50 at ten
    // times the data) and even the log-round star solver pays ~10
    // distributed rounds for a thousand-node graph. Union-find on the
    // driver is the honest shape: collect O(core cells) edges once,
    // solve in microseconds, broadcast the min-member labels back.
    val spark = pts.sparkSession
    import spark.implicits._
    val edgeArr = edges.select(col("__ca"), col("__cb"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edgeArr.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labelMap = edgeArr.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(c => c -> find(c))
    val byRoot = labelMap.groupBy(_._2).toSeq
      .flatMap { case (_, ms) =>
        val mn = ms.map(_._1).min
        ms.map { case (c, _) => (c, mn) }
      }
    val labels = byRoot.toDF("__cell", "comp")
    core
      .join(broadcast(labels), Seq("__cell"), "left_outer")
      .withColumn("cluster_id", coalesce(col("comp"), col("__cell")))
      .groupBy("cluster_id").agg(
        count(lit(1)).as("n_cells"), sum(col("__n")).as("n_points"),
        min(col("__x")).as("min_x"), max(col("__x")).as("max_x"),
        min(col("__y")).as("min_y"), max(col("__y")).as("max_y"))
  }

  /** STRONGLY connected components of a DIRECTED graph — the link-graph
    * structure ([[connectedComponents]] is the undirected twin): which
    * page sets mutually reach each other. Orzan's coloring algorithm,
    * the standard Pregel-family SCC:
    *
    *  phase: (1) forward min-label propagation to fixpoint —
    *  color(v) = min{w : w →* v} (ancestors incl. self); (2) roots are
    *  nodes with color(v) = v; walk REVERSE edges from each root
    *  WITHIN its color class — a reached node u has u →* root (the
    *  reverse path) AND root →* u (its color), so marked nodes are
    *  EXACTLY the root's SCC; (3) emit + remove them, repeat on the
    *  remainder. SCCs whose min node is shadowed by a smaller
    *  non-mutual ancestor extract in a later phase, after the shadow
    *  leaves. scc_id = the SCC's min node — stable across
    *  partitionings, like every label here.
    *
    * Scale: each propagation round is one edge-keyed equi-join +
    * min-aggregate (the [[connectedComponents]] cost shape); per-round
    * localCheckpoints are freed as the next materializes. Rounds are
    * bounded by intra-SCC diameter, phases by condensation depth —
    * both small on bounded-community graphs; the `require` bounds make
    * a pathological chain a loud error, not a silent stall. */
  def stronglyConnectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxPhases: Int = 30, maxRounds: Int = 60): DataFrame = {
    import org.apache.spark.sql.GraftSql.freeLocalCheckpoint
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist()
    try {
      // Edge state laid out on the forward pass's join key (guide §2.4):
      // every forward round then exchanges only the color table.
      var remEdges = Graph.keyLayout(e0, "src").localCheckpoint()
      var (remaining, left, _) = org.apache.spark.sql.GraftSql.checkpointCount(
        e0.select(col("src").as("id"))
          .unionByName(e0.select(col("dst").as("id")))
          .distinct())
      var result: DataFrame = null
      // TRIM (r14, guide §1.2 step 1): iteratively peel TRIVIAL SCCs
      // before any Orzan phase. A node with no in-edge or no out-edge in
      // the remaining subgraph can lie on no cycle (a cycle through an
      // already-removed node would put that node in the same SCC, but
      // only COMPLETE SCCs are ever removed), so it is a singleton SCC
      // and its emitted row is (id, scc_id = id) — exactly what the
      // phase machinery would produce for it (scc_id = the SCC's min
      // node; a singleton's min is itself; the label is intrinsic to the
      // SCC, so the output is hash-identical by construction). Each peel
      // round costs ~3 jobs; each Orzan phase it avoids costs two whole
      // fixpoint LOOPS (forward coloring + backward marking, each
      // O(intra-SCC diameter) rounds). On DAG-heavy graphs — real link
      // graphs at scale — trimming retires most nodes outright.
      var trimming = left > 0
      var trimRound = 0
      while (trimming && trimRound < maxRounds) {
        val biNodes = remEdges.select(col("src").as("id")).distinct()
          .join(remEdges.select(col("dst").as("id")).distinct(),
            Seq("id"), "left_semi")
        val (core, coreCnt, _) = org.apache.spark.sql.GraftSql
          .checkpointCount(remaining.join(biNodes, Seq("id"), "left_semi"))
        if (coreCnt == left) {
          freeLocalCheckpoint(core)
          trimming = false
        } else {
          val trivial = remaining.join(core, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("scc_id"))
            .localCheckpoint()
          result =
            if (result == null) trivial
            else {
              val prev = result
              val merged = result.unionByName(trivial).localCheckpoint()
              freeLocalCheckpoint(prev)
              freeLocalCheckpoint(trivial)
              merged
            }
          val nextEdges = Graph.keyLayout(remEdges
            .join(core.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(core.select(col("id").as("dst")), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")), "src")
            .localCheckpoint()
          freeLocalCheckpoint(remaining)
          freeLocalCheckpoint(remEdges)
          remaining = core
          remEdges = nextEdges
          left = coreCnt
          trimming = left > 0
        }
        trimRound += 1
      }
      var phase = 0
      while (left > 0 && phase < maxPhases) {
        // (1) forward min-label to fixpoint on the remaining subgraph.
        // colorsCkpt tracks the checkpointed frame itself — colors is a
        // projection over it after round 1, which freeLocalCheckpoint
        // cannot free (it matches only a bare LogicalRDD plan).
        var colorsCkpt = remaining.withColumn("color", col("id"))
          .localCheckpoint()
        var colors = colorsCkpt
        var round = 0
        var changed = 1L
        while (changed > 0 && round < maxRounds) {
          val push = remEdges
            .join(colors.select(col("id").as("src"),
              col("color").as("__c")), "src")
            .groupBy(col("dst").as("id"))
            .agg(min(col("__c")).as("__in"))
          // probe fused into the materialization job (checkpointCount)
          val body = colors.join(push, Seq("id"), "left_outer")
            .select(col("id"),
              least(col("color"), coalesce(col("__in"), col("color")))
                .as("color"),
              (col("__in") < col("color")).as("__chg"))
          val (next, _, chg) = org.apache.spark.sql.GraftSql.checkpointCount(
            body, Some("__chg"))
          changed = chg
          freeLocalCheckpoint(colorsCkpt)
          colorsCkpt = next
          colors = next.drop("__chg")
          round += 1
        }
        require(changed == 0,
          s"SCC forward pass did not converge in $maxRounds rounds")
        // (2) backward marking from roots within each color class
        val colorEdges = remEdges
          .join(colors.select(col("id").as("src"), col("color").as("__cs")),
            "src")
          .join(colors.select(col("id").as("dst"), col("color").as("__cd")),
            "dst")
          .where(col("__cs") === col("__cd"))
          .select(col("src"), col("dst"))
          // backward rounds join on dst — lay the phase's edges out once
          .transform(Graph.keyLayout(_, "dst"))
          .localCheckpoint()
        var (marked, markedCnt, _) = org.apache.spark.sql.GraftSql
          .checkpointCount(colors.where(col("id") === col("color")))
        round = 0
        changed = 1L
        while (changed > 0 && round < maxRounds) {
          val grow = colorEdges
            .join(marked.select(col("id").as("dst")), "dst")
            .select(col("src").as("id"))
            .distinct()
            .join(colors, "id")
            .join(marked.select(col("id"), lit(1).as("__seen")),
              Seq("id"), "left_anti")
          // growth probe = total delta, read off the materialization job
          val (next, nextCnt, _) = org.apache.spark.sql.GraftSql
            .checkpointCount(marked.unionByName(grow))
          changed = nextCnt - markedCnt
          freeLocalCheckpoint(marked)
          marked = next
          markedCnt = nextCnt
          round += 1
        }
        val scc = marked.select(col("id"), col("color").as("scc_id"))
          .localCheckpoint()
        result =
          if (result == null) scc
          else {
            val prev = result
            val merged = result.unionByName(scc).localCheckpoint()
            freeLocalCheckpoint(prev) // merged is materialized; free both
            freeLocalCheckpoint(scc)
            merged
          }
        val (nextRemaining, nextLeft, _) = org.apache.spark.sql.GraftSql
          .checkpointCount(remaining
            .join(marked.select(col("id")), Seq("id"), "left_anti"))
        val nextEdges = Graph.keyLayout(remEdges
          .join(marked.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(marked.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .select(col("src"), col("dst")), "src")
          .localCheckpoint()
        freeLocalCheckpoint(remaining)
        freeLocalCheckpoint(remEdges)
        freeLocalCheckpoint(colorsCkpt)
        freeLocalCheckpoint(colorEdges)
        freeLocalCheckpoint(marked)
        remaining = nextRemaining
        remEdges = nextEdges
        left = nextLeft
        phase += 1
      }
      require(left == 0,
        s"SCC did not finish in $maxPhases phases — condensation depth " +
          "exceeds the bound; raise maxPhases")
      result
    } finally { e0.unpersist(); () }
  }
}
