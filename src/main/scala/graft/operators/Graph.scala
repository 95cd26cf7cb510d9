package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Graph analytics over near-dup pair graphs (the undirected graphs the
  * dedup operators produce). [[Dedup.connectedComponents]] answers
  * "which docs are the same"; [[pageRank]] answers "which doc is the
  * HUB" — a vertex's centrality in the duplication graph is the
  * standard canonical-representative / spam-nexus signal (a page whose
  * near-dups span many clusters is template spam; a high-centrality
  * member is the natural keeper).
  */
object Graph {

  /** Fixed-point for pagerank mass: ranks are integer multiples of
    * 1/SCALE. 1e9 keeps 9 decimal digits of rank precision while
    * n·SCALE stays far from long overflow for any per-vertex aggregate
    * a dedup-pair graph produces. */
  val SCALE: Long = 1000000000L

  /** The undirected edge list the pair-graph operators iterate over
    * ([[pageRank]], [[personalizedPageRank]], [[labelPropagation]] and
    * both [[Dedup.connectedComponents]] variants): every pair in both
    * directions as (src, dst), persisted once. `assumeUnique` (r15,
    * §2.4): for a unique canonical pair list (aCol < bCol) the doubled
    * list is unique by construction — the defensive distinct would be a
    * full shuffle of 2m rows. */
  private[operators] def undirected(pairs: DataFrame, aCol: String,
      bCol: String, assumeUnique: Boolean): DataFrame = {
    val doubled = pairs.select(F.col(aCol).as("src"), F.col(bCol).as("dst"))
      .unionByName(pairs.select(F.col(bCol).as("src"), F.col(aCol).as("dst")))
    CacheScope.persist(if (assumeUnique) doubled else doubled.distinct())
  }

  /** PageRank over an undirected pair graph, in INTEGER fixed-point:
    * every operation is exact long arithmetic (floor division for the
    * per-neighbor share and the damping ratio), so the result is
    * bit-identical across engines, run orders and cluster sizes —
    * float PageRank sums contributions in nondeterministic order and
    * drifts by ULPs per round.
    *
    * rank'(v) = (den−num)·SCALE/den + num·Σ_{u→v} (rank(u) div deg(u)) div den
    * with damping num/den (default 85/100), run `iters` rounds from
    * rank(v) = SCALE.
    *
    * Scale shape: one shuffle per round (edges ⋈ ranks, map-side
    * combined sum per dst); edges and degrees are persisted once; the
    * per-round lineage cut and free is [[CacheScope.iterate]]'s
    * fixed-count policy. Rounds are a fixed count (no convergence action
    * needed — fixed-point iterates are deterministic, so callers pick
    * iters once and results are reproducible). */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 5, dampNum: Long = 85L, dampDen: Long = 100L,
      assumeUnique: Boolean = false): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= dampDen,
      s"need iters >= 1 and 0 <= dampNum <= dampDen, got $iters, $dampNum/$dampDen")
    val (edges, degrees) = walkGraph(pairs, aCol, bCol, assumeUnique)
    // every vertex is a restart target: the uniform-teleport walk
    val spine = degrees.select(F.col("v"), F.lit(1L).as("is_seed"))
    dampedWalk(edges, degrees, spine, iters, dampNum, dampDen)
      .select(F.col("v").as("doc_id"), F.col("rank").as("rank_fp"),
        F.round(F.col("rank").cast("double") / SCALE, 6).as("rank"))
  }

  /** PERSONALIZED PageRank [random walk with restart to a seed set] in
    * the same integer fixed-point as [[pageRank]]: restart mass lands
    * ONLY on seeds (teleport = (den−num)·SCALE/den per seed, zero
    * elsewhere), initial rank = SCALE on seeds / 0 elsewhere, so after
    * k rounds rank(v) is the exact integer fixed-point of "probability
    * a damped walk from the seed cohort sits at v" — the
    * recommendation/expansion read ("what is NEAR these products")
    * that global PageRank's uniform teleport washes out.
    *
    * Scale shape: identical to [[pageRank]] — one node-keyed shuffle
    * per round under [[CacheScope.iterate]]. Seeds ride as a persisted
    * flag column on the node spine (never a driver-side collect). */
  def personalizedPageRank(pairs: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, iters: Int = 3,
      dampNum: Long = 85L, dampDen: Long = 100L,
      assumeUnique: Boolean = false): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= dampDen,
      s"need iters >= 1 and 0 <= dampNum <= dampDen, got $iters, $dampNum/$dampDen")
    val (edges, degrees) = walkGraph(pairs, aCol, bCol, assumeUnique)
    val spine = CacheScope.persist(
      degrees.select("v")
        .join(seeds.select(F.col(seeds.columns.head).as("v")).distinct()
          .withColumn("_s", F.lit(1L)), Seq("v"), "left")
        .select(F.col("v"), F.coalesce(F.col("_s"), F.lit(0L)).as("is_seed")))
    spine.join(dampedWalk(edges, degrees, spine, iters, dampNum, dampDen), "v")
      .select(F.col("v"), F.col("is_seed"), F.col("rank").as("rank_fp"),
        F.round(F.col("rank").cast("double") / SCALE, 6).as("rank"))
  }

  /** The persisted (undirected edges, out-degrees) pair the two walks
    * share. */
  private def walkGraph(pairs: DataFrame, aCol: String, bCol: String,
      assumeUnique: Boolean): (DataFrame, DataFrame) = {
    val edges = undirected(pairs, aCol, bCol, assumeUnique)
    (edges, CacheScope.persist(
      edges.groupBy(F.col("src").as("v")).agg(F.count(F.lit(1)).as("deg"))))
  }

  /** `iters` rounds of the damped fixed-point walk both PageRanks run:
    * rank₀ = is_seed·SCALE, rank'(v) = is_seed·(den−num)·SCALE/den +
    * num·Σ_{u→v}(rank(u) div deg(u)) div den. `spine` is (v, is_seed)
    * over every vertex; the left join + coalesce keeps a vertex with no
    * in-edges. Returns (v, rank). */
  private def dampedWalk(edges: DataFrame, degrees: DataFrame,
      spine: DataFrame, iters: Int, dampNum: Long, dampDen: Long): DataFrame = {
    val teleport = (dampDen - dampNum) * SCALE / dampDen
    val init = spine.select(F.col("v"), F.expr(s"is_seed * $SCALE").as("rank"))
    CacheScope.iterate(init, iters) { ranks =>
      val contrib = edges
        .join(ranks.withColumnRenamed("v", "src"), "src")
        .join(degrees.withColumnRenamed("v", "src"), "src")
        .select(F.col("dst").as("v"), F.expr("rank div deg").as("_share"))
        .groupBy("v").agg(F.sum("_share").as("_in"))
      spine.join(contrib, Seq("v"), "left")
        .select(F.col("v"),
          F.expr(s"is_seed * $teleport + " +
            s"($dampNum * coalesce(_in, 0L)) div $dampDen").as("rank"))
    }._1
  }

  /** Exact triangle count via degree orientation [Cohen 2009 / the
    * standard MPC formulation]: orient every canonical edge (a < b)
    * from the (degree, id)-SMALLER endpoint to the larger, join
    * out-edges on their source to enumerate wedges, and close each
    * wedge against the canonical edge set. The strict total order
    * makes the orientation acyclic, so every triangle has exactly ONE
    * vertex with two out-edges — counted once, no division by 3.
    *
    * Scale shape: orientation bounds out-degree by ~√m even on
    * power-law graphs (a hub's edges all point INTO it), so the wedge
    * join fans out by the small side — the difference between counting
    * triangles on a 100 TB web graph and materializing a hub's
    * deg² wedges. Three shuffles total (degrees, wedge join, closing
    * join); `pairs` must hold each undirected edge once with
    * `aCol < bCol`. */
  def triangleCount(pairs: DataFrame, aCol: String, bCol: String,
      assumeUnique: Boolean = false): DataFrame = {
    // assumeUnique: see [[undirected]]
    val base0 = pairs.select(F.col(aCol).as("a"), F.col(bCol).as("b"))
    val e = CacheScope.persist(if (assumeUnique) base0 else base0.distinct())
    val deg = e.select(F.col("a").as("v"))
      .unionByName(e.select(F.col("b").as("v")))
      .groupBy("v").agg(F.count(F.lit(1)).as("dg"))
    val withDeg = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("dg", "_da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("dg", "_db"), "b")
    val aFirst = F.col("_da") < F.col("_db") ||
      (F.col("_da") === F.col("_db") && F.col("a") < F.col("b"))
    val o = CacheScope.persist(withDeg.select(
      F.when(aFirst, F.col("a")).otherwise(F.col("b")).as("src"),
      F.when(aFirst, F.col("b")).otherwise(F.col("a")).as("dst")))
    val o2 = o.select(F.col("src"), F.col("dst").as("dst2"))
    val wedges = o.join(o2, "src").where(F.col("dst") < F.col("dst2"))
      .select(F.col("dst").as("x"), F.col("dst2").as("y"))
    // Seq-based keys on a renamed projection: wedges descends from e, so
    // column-reference equality would be an ambiguous self-join
    val eClose = e.select(F.col("a").as("x"), F.col("b").as("y"))
    val tri = wedges.join(eClose, Seq("x", "y"), "left_semi")
    e.agg(F.count(F.lit(1)).as("n_edges"))
      .crossJoin(wedges.agg(F.count(F.lit(1)).as("n_wedges")))
      .crossJoin(tri.agg(F.count(F.lit(1)).as("n_triangles")))
  }

  /** Community DETECTION by synchronous label propagation [Raghavan et
    * al. 2007], made deterministic: label₀(v) = v; each round every
    * vertex adopts the label most frequent among its NEIGHBORS, ties
    * broken by the SMALLEST label — the same min(struct(−count, label))
    * argmax C28's exact mode uses, so no engine- or order-dependent
    * choice anywhere. A fixed round count (no convergence test) keeps
    * the iterate count — and therefore the result — reproducible, the
    * same contract as [[pageRank]].
    *
    * Scale shape: one (edges ⋈ labels) shuffle plus two map-side-
    * combined aggregates per round; edges persisted once; the per-round
    * lineage cut and free is [[CacheScope.iterate]]'s fixed-count
    * policy. Synchronous updates + fixed rounds instead of the paper's
    * asynchronous sweep: async is inherently order-dependent — exactly
    * what a distributed, oracle-checked operator must not be. Returns
    * (v, community). */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 4, assumeUnique: Boolean = false): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val edges = undirected(pairs, aCol, bCol, assumeUnique)
    val init = edges.select(F.col("src").as("v")).distinct()
      .select(F.col("v"), F.col("v").as("lbl"))
    val (last, _) = CacheScope.iterate(init, iters) { labels =>
      edges
        .join(labels.withColumnRenamed("v", "dst"), "dst")
        .groupBy(F.col("src").as("v"), F.col("lbl"))
        .agg(F.count(F.lit(1)).as("c"))
        .groupBy("v")
        .agg(F.min(F.struct(F.negate(F.col("c")), F.col("lbl"))).as("_m"))
        .select(F.col("v"), F.col("_m.lbl").as("lbl"))
    }
    last.select(F.col("v"), F.col("lbl").as("community"))
  }

  /** One deterministic Louvain-style local-move round [Blondel et al.
    * 2008 §2] applied to a GIVEN partition (e.g. [[labelPropagation]]'s
    * output): every vertex evaluates the exact modularity gain of
    * moving to each NEIGHBOR community and takes the best
    * strictly-positive one, ties broken by the smallest target label.
    * The gain is the standard ΔQ with the whole comparison multiplied
    * through by 2m² so it stays exact integer arithmetic
    * (DECIMAL(38,0) — degree sums at 100 TB overflow a long product):
    *
    *   gain(v: a→c) · 2m² = 2m·(k_{v,c} − k_{v,a}) − k_v·(d_c − d_a + k_v)
    *
    * with k_{v,c} = v's edges into community c, k_v = v's degree,
    * d_c = community c's total degree (v counted in its own a-terms).
    *
    * Moves are SYNCHRONOUS (all vertices decide against the same input
    * partition, then all move) — the standard distributed-Louvain
    * compromise: sequential sweeps are order-dependent, which an
    * oracle-checked distributed operator cannot be. Synchronized moves
    * make each individual gain exact but their SUM unrealized (two
    * adjacent vertices can cross), so callers publish the recomputed
    * before/after modularity rather than trusting Σgain; one round over
    * an LPA partition is the bounded refinement step, not a full
    * Louvain descent.
    *
    * Scale shape: three map-side-combined aggregates (degrees, per-
    * (vertex, neighbor-community) counts, per-community degree totals)
    * plus vertex-keyed joins; the candidate frame is bounded by
    * Σ_v |neighbor communities of v| ≤ |directed edges| — never
    * vertices × communities. Returns (v, community). */
  def louvainMoveRound(pairs: DataFrame, aCol: String, bCol: String,
      labels: DataFrame): DataFrame = {
    // contract as [[triangleCount]]: `pairs` holds each undirected edge
    // ONCE with aCol < bCol (the staged deduped list). The labeled
    // canonical edge list is the ONE corpus-scale intermediate the whole
    // round needs — serialized persist, released by the caller's
    // CacheScope.release (callers that sequence eagerly, e.g. D53,
    // build the frame themselves and free it as soon as the moved
    // labels materialize).
    louvainMoveRoundLabeled(
      CacheScope.persistSer(labelEdges(pairs, aCol, bCol, labels)), labels)
  }

  /** Canonical labeled edge list: one row per undirected edge (pa < pb)
    * with BOTH endpoint communities attached — (pa, pb, ca, cb). Two
    * node-keyed shuffles (labels are node-sized, NOT broadcast at
    * 100 TB). This single frame carries everything the community
    * operators derive per partition — m, e_in, degrees, per-(vertex,
    * neighbor-community) counts, community degree totals — so callers
    * build it ONCE per (edges, labels) pair and feed both the
    * modularity score and the move round (the r9 bench showed the same
    * edges⋈labels pipeline executing three times per D53 run). */
  def labelEdges(pairs: DataFrame, aCol: String, bCol: String,
      labels: DataFrame): DataFrame =
    pairs.select(F.col(aCol).as("pa"), F.col(bCol).as("pb"))
      .join(labels.select(F.col("v").as("pa"),
        F.col("community").as("ca")), "pa")
      .join(labels.select(F.col("v").as("pb"),
        F.col("community").as("cb")), "pb")

  /** The move round computed FROM a prebuilt [[labelEdges]] frame. The
    * frame is read EXACTLY ONCE (the two-sided neighbor union feeding
    * k_vc) — degrees, community totals and m all derive from the k_vc
    * aggregate, so a caller that persists lblEdges pays one serialized
    * decode pass for the whole round. */
  def louvainMoveRoundLabeled(lblEdges: DataFrame,
      labels: DataFrame, kvcScratch: Option[String] = None): DataFrame = {
    val lab = labels.select(F.col("v"), F.col("community").as("lbl"))
    // directed neighbor view: each undirected edge contributes
    // (pa sees cb) and (pb sees ca) — exploded in ONE scan of the edge
    // frame (a two-select union would decode the persisted frame twice)
    val dirNbr = lblEdges.select(F.explode(F.array(
        F.struct(F.col("pa").as("v"), F.col("cb").as("c")),
        F.struct(F.col("pb").as("v"), F.col("ca").as("c")))).as("x"))
      .select(F.col("x.v").as("v"), F.col("x.c").as("c"))
    // k_vc is the round's ONE corpus-scale aggregate (≤ directed edges;
    // in practice vertices × their few neighbor communities). It feeds
    // the gain base AND the candidate join, and everything else derives
    // from it without another pass over the edge list (deg = Σ_c k_vc,
    // d_c = Σ_{v∈c} deg(v), 2m = Σ_v deg). Four consumer subtrees,
    // though, and the r10 executed plan showed Catalyst duplicating
    // the WHOLE kvc pipeline — edge scan and label joins included —
    // under each one (22 parquet scans, zero static exchange reuse;
    // AQE does not dedup them once the label joins become runtime
    // broadcasts): 3–4 edge passes per round. Block-caching kvc is
    // corpus-proportional residency (exactly r9's pollution class) and
    // A/B'd as a wash. `kvcScratch` is the production answer:
    // materialize the aggregate to storage ONCE — the inter-phase
    // artifact a distributed Louvain writes anyway — and let all four
    // consumers read the small columnar result. None keeps the pure
    // single-plan form (tiny graphs, property tests).
    val kvc = kvcScratch match {
      case Some(dir) =>
        dirNbr.groupBy("v", "c").agg(F.count(F.lit(1)).as("kv"))
          .write.mode("overwrite").parquet(dir)
        lblEdges.sparkSession.read.parquet(dir)
      case None =>
        dirNbr.groupBy("v", "c").agg(F.count(F.lit(1)).as("kv"))
    }
    val deg = kvc.groupBy("v").agg(F.sum("kv").as("k"))
    val dtot = lab.join(deg, "v")
      .groupBy(F.col("lbl").as("c")).agg(F.sum("k").as("dt"))
    val m = deg.agg(F.expr("sum(k) div 2").as("m"))
    val base = lab
      .join(deg, "v")
      .join(kvc.select(F.col("v"), F.col("c").as("lbl"),
        F.col("kv").as("kva")), Seq("v", "lbl"), "left")
      .na.fill(0L, Seq("kva"))
      // dtot is COMMUNITY-sized (one row per community — ≪ nodes after
      // any nontrivial detection, and the partition coarsens every
      // round): broadcast explicitly, because a shuffle join on the
      // community key funnels all node rows into #communities
      // partitions — on a refined partition that is a handful of hot
      // partitions regardless of cluster size (r10: the 2-community
      // rung-2 move spent its time in exactly that skew)
      .join(F.broadcast(
        dtot.select(F.col("c").as("lbl"), F.col("dt").as("dta"))), "lbl")
      .crossJoin(F.broadcast(m))
    val cand = base
      .join(kvc, "v")
      .where(F.col("c") =!= F.col("lbl"))
      .join(F.broadcast(dtot), "c")
      .select(F.col("v"), F.col("c"),
        F.expr("2 * CAST(m AS DECIMAL(38,0)) * (kv - kva) - " +
          "CAST(k AS DECIMAL(38,0)) * (dt - dta + k)").as("gain"))
    val best = cand.groupBy("v")
      .agg(F.min(F.struct(F.negate(F.col("gain")).as("ng"), F.col("c")))
        .as("_b"))
      .select(F.col("v"), F.col("_b.c").as("_tc"),
        F.negate(F.col("_b.ng")).as("_gain"))
    lab.join(best, Seq("v"), "left")
      .select(F.col("v"),
        F.when(F.col("_gain") > 0, F.col("_tc")).otherwise(F.col("lbl"))
          .as("community"))
  }

  /** Per-node triangle participation via the same degree orientation as
    * [[triangleCount]], with the wedge APEX kept so each closed triangle
    * (apex, x, y) can be credited to all THREE of its vertices — the
    * input to the local clustering coefficient t(v) / (d(v)·(d(v)−1)/2).
    * One row per graph node: (v, dg, n_tri), n_tri = 0 for nodes in no
    * triangle. Same scale shape as [[triangleCount]] (orientation bounds
    * the wedge fan-out by ~√m) plus one explode(×3) + map-side-combined
    * count over the triangle list, which is output-sized, not
    * wedge-sized. `pairs` must hold each undirected edge once with
    * `aCol < bCol`. */
  def localClustering(pairs: DataFrame, aCol: String,
      bCol: String, assumeUnique: Boolean = false): DataFrame = {
    // assumeUnique: see [[undirected]]
    val base0 = pairs.select(F.col(aCol).as("a"), F.col(bCol).as("b"))
    val e = CacheScope.persist(if (assumeUnique) base0 else base0.distinct())
    val deg = e.select(F.col("a").as("v"))
      .unionByName(e.select(F.col("b").as("v")))
      .groupBy("v").agg(F.count(F.lit(1)).as("dg"))
    val withDeg = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("dg", "_da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("dg", "_db"), "b")
    val aFirst = F.col("_da") < F.col("_db") ||
      (F.col("_da") === F.col("_db") && F.col("a") < F.col("b"))
    val o = CacheScope.persist(withDeg.select(
      F.when(aFirst, F.col("a")).otherwise(F.col("b")).as("src"),
      F.when(aFirst, F.col("b")).otherwise(F.col("a")).as("dst")))
    val o2 = o.select(F.col("src"), F.col("dst").as("dst2"))
    val wedges = o.join(o2, "src").where(F.col("dst") < F.col("dst2"))
      .select(F.col("src").as("apex"), F.col("dst").as("x"),
        F.col("dst2").as("y"))
    val eClose = e.select(F.col("a").as("x"), F.col("b").as("y"))
    // SHUFFLE_HASH: the closing semi-join streams the wedge list (~m^1.5
    // rows — 41 M at sf0.1) against a hash of the EDGE list (m rows);
    // the default sort-merge would sort the wedge side, which dominates
    // the whole operator's cost. Hash side = edges is the bounded side
    // by construction (wedges ≥ edges on any graph with deg ≥ 2).
    val tri = wedges.join(eClose.hint("shuffle_hash"), Seq("x", "y"),
      "left_semi")
    val perNode = tri
      .select(F.explode(F.array(F.col("apex"), F.col("x"), F.col("y")))
        .as("v"))
      .groupBy("v").agg(F.count(F.lit(1)).as("n_tri"))
    deg.join(perNode, Seq("v"), "left").na.fill(0L, Seq("n_tri"))
  }

  /** One synchronous WEIGHTED Louvain local-move round over an explicit
    * weighted edge list (pa, pb, w) — one row per undirected edge with
    * pa ≤ pb; SELF-LOOPS (pa = pb) are allowed and handled the way
    * Louvain's phase-2 coarse graphs need: a self-loop contributes 2w
    * to its node's weighted degree (and hence to s_c and W) but never
    * to any k_vc, because the loop moves WITH the node. Gain formula is
    * the exact weighted analog of [[louvainMoveRoundLabeled]]'s —
    * gain(v: a→c) = 2W·(w_vc − w_va) − k_v·(s_c − s_a + k_v), all
    * integer DECIMAL(38,0) arithmetic (weights are counts), best
    * strictly-positive move, smallest-label tie-break, moves applied
    * synchronously. Labels frame is the node spine, so zero-degree and
    * self-loop-only nodes keep their labels instead of dropping.
    * Output: (v, community). Same scale shape as the unweighted round:
    * one corpus-scale k_vc aggregate (optionally materialized to
    * `kvcScratch` for its four consumer subtrees), community-sized
    * totals broadcast. */
  def louvainMoveRoundWeighted(wEdges: DataFrame, labels: DataFrame,
      kvcScratch: Option[String] = None,
      monotone: Boolean = false): DataFrame = {
    val lab = labels.select(F.col("v"), F.col("community").as("lbl"))
    val nonSelf = wEdges.where(F.col("pa") =!= F.col("pb"))
    val self = wEdges.where(F.col("pa") === F.col("pb"))
      .select(F.col("pa").as("v"), F.col("w").as("sw"))
    val lblE = nonSelf
      .join(lab.select(F.col("v").as("pa"), F.col("lbl").as("ca")), "pa")
      .join(lab.select(F.col("v").as("pb"), F.col("lbl").as("cb")), "pb")
    val dirNbr = lblE.select(F.explode(F.array(
        F.struct(F.col("pa").as("v"), F.col("cb").as("c"),
          F.col("w").as("w")),
        F.struct(F.col("pb").as("v"), F.col("ca").as("c"),
          F.col("w").as("w")))).as("x"))
      .select(F.col("x.v").as("v"), F.col("x.c").as("c"),
        F.col("x.w").as("w"))
    val kvc = kvcScratch match {
      case Some(dir) =>
        dirNbr.groupBy("v", "c").agg(F.sum("w").as("kv"))
          .write.mode("overwrite").parquet(dir)
        wEdges.sparkSession.read.parquet(dir)
      case None =>
        dirNbr.groupBy("v", "c").agg(F.sum("w").as("kv"))
    }
    // weighted degree on the LABEL spine: k_v = Σ_c k_vc + 2·w_self —
    // a left join keeps isolated / self-loop-only nodes
    val deg = lab.select("v")
      .join(kvc.groupBy("v").agg(F.sum("kv").as("_k0")), Seq("v"), "left")
      .na.fill(0L, Seq("_k0"))
      .join(self, Seq("v"), "left").na.fill(0L, Seq("sw"))
      .select(F.col("v"), F.expr("_k0 + 2 * sw").as("k"))
    val dtot = lab.join(deg, "v")
      .groupBy(F.col("lbl").as("c")).agg(F.sum("k").as("dt"))
    val m = deg.agg(F.expr("sum(k) div 2").as("m"))
    val base = lab
      .join(deg, "v")
      .join(kvc.select(F.col("v"), F.col("c").as("lbl"),
        F.col("kv").as("kva")), Seq("v", "lbl"), "left")
      .na.fill(0L, Seq("kva"))
      .join(F.broadcast(
        dtot.select(F.col("c").as("lbl"), F.col("dt").as("dta"))), "lbl")
      .crossJoin(F.broadcast(m))
    val cand0 = base
      .join(kvc, "v")
      .where(F.col("c") =!= F.col("lbl"))
    // monotone guard: restrict moves to SMALLER target labels — the
    // cycle-breaking rule synchronous distributed Louvain variants use
    // (a→b and b→a cannot both fire when only one direction descends)
    val cand = (if (monotone) cand0.where(F.col("c") < F.col("lbl"))
      else cand0)
      .join(F.broadcast(dtot), "c")
      .select(F.col("v"), F.col("c"),
        F.expr("2 * CAST(m AS DECIMAL(38,0)) * (kv - kva) - " +
          "CAST(k AS DECIMAL(38,0)) * (dt - dta + k)").as("gain"))
    val best = cand.groupBy("v")
      .agg(F.min(F.struct(F.negate(F.col("gain")).as("ng"), F.col("c")))
        .as("_b"))
      .select(F.col("v"), F.col("_b.c").as("_tc"),
        F.negate(F.col("_b.ng")).as("_gain"))
    lab.join(best, Seq("v"), "left")
      .select(F.col("v"),
        F.when(F.col("_gain") > 0, F.col("_tc")).otherwise(F.col("lbl"))
          .as("community"))
  }

  /** Louvain PHASE-2 coarse graph: collapse a labeled partition's
    * communities to supernodes with aggregated edge weights — one row
    * per community pair (pa ≤ pb, pa = pb carries the intra-community
    * self-loop weight). Metadata-sized after any nontrivial detection.
    * `lblEdges` is a [[labelEdges]] frame (pa, pb, ca, cb). */
  def coarsenGraph(lblEdges: DataFrame): DataFrame =
    lblEdges.select(
        F.least(F.col("ca"), F.col("cb")).as("pa"),
        F.greatest(F.col("ca"), F.col("cb")).as("pb"))
      .groupBy("pa", "pb").agg(F.count(F.lit(1)).as("w"))

  /** Per-EDGE triangle support — the k-truss peeling primitive: for
    * every edge (a, b) of the canonical list (a < b, unique), how many
    * triangles of the CURRENT graph contain it. Same degree-oriented
    * wedge enumeration as [[triangleCount]]/[[localClustering]] (each
    * triangle found exactly once, wedge fan-out bounded by ~√m), each
    * closed triangle exploding into its THREE canonical edges and one
    * map-side-combined count — the credit pass is triangle-output-sized.
    * Edges in no triangle get no row (support 0 — callers left-join). */
  def edgeSupport(pairs: DataFrame, aCol: String,
      bCol: String, assumeUnique: Boolean = false): DataFrame = {
    // `assumeUnique` (r15, §2.4): callers feeding an already-canonical
    // edge list (the k-truss peel rounds read back their own filtered
    // parquet) skip the defensive distinct — a full extra shuffle of
    // the edge list per round otherwise
    val base = pairs.select(F.col(aCol).as("a"), F.col(bCol).as("b"))
    val e = CacheScope.persist(if (assumeUnique) base else base.distinct())
    val deg = e.select(F.col("a").as("v"))
      .unionByName(e.select(F.col("b").as("v")))
      .groupBy("v").agg(F.count(F.lit(1)).as("dg"))
    val withDeg = e
      .join(deg.withColumnRenamed("v", "a")
        .withColumnRenamed("dg", "_da"), "a")
      .join(deg.withColumnRenamed("v", "b")
        .withColumnRenamed("dg", "_db"), "b")
    val aFirst = F.col("_da") < F.col("_db") ||
      (F.col("_da") === F.col("_db") && F.col("a") < F.col("b"))
    val o = CacheScope.persist(withDeg.select(
      F.when(aFirst, F.col("a")).otherwise(F.col("b")).as("src"),
      F.when(aFirst, F.col("b")).otherwise(F.col("a")).as("dst")))
    val o2 = o.select(F.col("src"), F.col("dst").as("dst2"))
    val wedges = o.join(o2, "src").where(F.col("dst") < F.col("dst2"))
      .select(F.col("src").as("apex"), F.col("dst").as("x"),
        F.col("dst2").as("y"))
    val eClose = e.select(F.col("a").as("x"), F.col("b").as("y"))
    // SHUFFLE_HASH like localClustering: stream the wedge list against
    // a hash of the edge list (the bounded side by construction)
    val tri = wedges.join(eClose.hint("shuffle_hash"), Seq("x", "y"),
      "left_semi")
    tri.select(F.explode(F.array(
        F.struct(F.least(F.col("apex"), F.col("x")).as("a"),
          F.greatest(F.col("apex"), F.col("x")).as("b")),
        F.struct(F.least(F.col("apex"), F.col("y")).as("a"),
          F.greatest(F.col("apex"), F.col("y")).as("b")),
        F.struct(F.col("x").as("a"), F.col("y").as("b")))).as("ed"))
      .select(F.col("ed.a").as("a"), F.col("ed.b").as("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("support"))
  }

  /** SAMPLED local clustering coefficient — the 100 TB read of
    * [[localClustering]], whose exact wedge enumeration is inherently
    * the heaviest graph pass (~√m·m wedge constant). Per node, keep the
    * `k` smallest-[[Hashing.hash60]] neighbors (deterministic draws —
    * the C68 fixed-threshold discipline, so the sample is
    * bit-reproducible and oracle-checkable in any engine) and count
    * edge closures among their C(k_eff,2) pairs. A hash-min K-subset of
    * neighbors is a uniform K-subset, so each neighbor pair is included
    * with equal probability K(K−1)/(d(d−1)) and
    * ĉ(v) = closed / C(k_eff,2) estimates c(v) unbiasedly — and is
    * EXACT wherever d(v) ≤ k, which is most nodes on a heavy-tailed
    * degree distribution.
    *
    * Scale shape: cost tracks the SAMPLE BUDGET, not the wedge count —
    * the candidate-pair frame is ≤ n·C(k,2) rows (vs Σd² unsampled),
    * built from one edge-linear top-k pass (per-node hash window) and
    * closed with the same shuffled-hash semi-join as the exact form.
    * One row per graph node: (v, dg, n_pairs, n_closed); n_pairs = 0
    * iff d(v) < 2 (every deg≥2 node gets an estimate). `pairs` must
    * hold each undirected edge once with `aCol < bCol`. */
  def localClusteringSampled(pairs: DataFrame, aCol: String,
      bCol: String, k: Int, assumeUnique: Boolean = false): DataFrame = {
    // assumeUnique: see [[undirected]]
    val base0 = pairs.select(F.col(aCol).as("a"), F.col(bCol).as("b"))
    val e = CacheScope.persist(if (assumeUnique) base0 else base0.distinct())
    val dir = e.select(F.col("a").as("u"), F.col("b").as("v"))
      .unionByName(e.select(F.col("b").as("u"), F.col("a").as("v")))
    val deg = dir.groupBy("u").agg(F.count(F.lit(1)).as("dg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(F.col("_hk"), F.col("v"))
    val samp = CacheScope.persist(dir
      .withColumn("_hk",
        Hashing.hash60(F.concat_ws(",", F.col("u"), F.col("v"))))
      .withColumn("_rn", F.row_number().over(w))
      .where(F.col("_rn") <= k)
      .select("u", "v"))
    val s2 = samp.select(F.col("u"), F.col("v").as("v2"))
    val wedges = samp.join(s2, "u").where(F.col("v") < F.col("v2"))
    val closed = wedges
      .join(e.select(F.col("a").as("v"), F.col("b").as("v2"))
        .hint("shuffle_hash"), Seq("v", "v2"), "left_semi")
      .groupBy("u").agg(F.count(F.lit(1)).as("n_closed"))
    val kEff = samp.groupBy("u").agg(F.count(F.lit(1)).as("k_eff"))
    deg
      .join(kEff, Seq("u"), "left").na.fill(0L, Seq("k_eff"))
      .join(closed, Seq("u"), "left").na.fill(0L, Seq("n_closed"))
      .select(F.col("u").as("v"), F.col("dg"),
        F.expr("k_eff * (k_eff - 1) div 2").as("n_pairs"),
        F.col("n_closed"))
  }

  /** HITS hubs/authorities [Kleinberg 1999] on a DIRECTED edge list —
    * the directed complement of [[pageRank]] (a hub points at good
    * authorities; an authority is pointed at by good hubs). All-integer
    * fixed-point so the iterative joins are bit-identical across
    * engines: every rung computes raw scores as exact DECIMAL(38,0)
    * sums and L1-NORMALIZES by integer division back to ≤ [[SCALE]]
    * (auth(v) = rawΣ_{u→v}hub(u) · SCALE div Σraw — the classical L2
    * norm needs a sqrt no two engines round identically; L1 fixes the
    * same ray, which is all HITS's relative read needs). hub₀ = SCALE
    * for every node.
    *
    * Returns (scores, residual): scores = (v, hub_fp, auth_fp) for
    * EVERY node (zero for nodes missing the relevant edge side);
    * residual = 1 row (hub_resid_l1, auth_resid_l1) — the exact
    * integer L1 deltas between the last two rungs, the published
    * convergence read (Σ|Δ| over fixed-point scores that each sum to
    * ~SCALE, so e.g. 2e7 ≈ 2 % of total mass still moving).
    *
    * Scale shape: per rung two edge-linear join+aggregate passes (no
    * window, map-side combined), 1-row normalizers broadcast. The state
    * is ONE node frame per rung, (v, hub, auth, prev_hub, prev_auth) —
    * each half-rung left-joins its raw scores onto it, the previous
    * rung's scores ride along for the residual — under
    * [[CacheScope.iterate]]'s fixed-count policy. */
  def hits(edgesIn: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2, assumeUnique: Boolean = false): (DataFrame, DataFrame) = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    // assumeUnique (r15, §2.4): the staged canonical edge list is unique
    // by construction — the defensive distinct was a full extra shuffle
    val base = edgesIn.select(F.col(srcCol).as("src"), F.col(dstCol).as("dst"))
    val edges = CacheScope.persist(if (assumeUnique) base else base.distinct())
    // persisted: rung 1 reads the node spine from several subtrees (both
    // half-rungs' raw frames and joins), which would each recompute the
    // distinct
    val nodes = CacheScope.persist(
      edges.select(F.col("src").as("v"))
        .unionByName(edges.select(F.col("dst").as("v"))).distinct())

    // one L1-normalized half-rung: raw(v) = Σ join-side score, then
    // score' = raw·SCALE div Σraw (exact integers end to end), appended
    // to the node-frame `state` as `outCol`
    def halfRung(state: DataFrame, scoreCol: String, joinOn: String,
        outKey: String, outCol: String): DataFrame = {
      // raw is PERSISTED (r15, §2.4): the L1 normalizer `tot` and the
      // node left-join are two separate subtrees of the rung's plan —
      // unpersisted, the edge join + aggregate executed TWICE per half-
      // rung (AQE does not reuse exchanges across the broadcast
      // boundary). Node-sized frame.
      val raw = CacheScope.persist(edges
        .join(state.select(F.col("v").as(joinOn), F.col(scoreCol)), joinOn)
        .groupBy(F.col(outKey).as("v"))
        .agg(F.sum(F.expr(s"CAST($scoreCol AS DECIMAL(38,0))")).as("_raw")))
      val tot = raw.agg(F.sum("_raw").as("_t"))
      state.join(raw, Seq("v"), "left")
        .crossJoin(F.broadcast(tot))
        .select(state.columns.map(F.col).toSeq :+ F.expr(
          s"""CASE WHEN _t IS NULL OR _t = 0 THEN 0L ELSE
             |CAST(coalesce(_raw, CAST(0 AS DECIMAL(38,0))) * $SCALE
             |     div _t AS BIGINT) END""".stripMargin).as(outCol): _*)
    }

    // auth rung reads hubs over in-edges; hub rung reads the FRESH auths
    // over out-edges — the classical update order. auth₀ = 0, so rung 1's
    // auth residual is its full mass.
    val init = nodes.select(F.col("v"), F.lit(SCALE).as("hub"), F.lit(0L).as("auth"))
    val (last, _) = CacheScope.iterate(init, iters) { s =>
      val prev = s.select(F.col("v"), F.col("hub").as("prev_hub"),
        F.col("auth").as("prev_auth"))
      halfRung(halfRung(prev, "prev_hub", "src", "dst", "auth"),
        "auth", "dst", "src", "hub")
    }
    val scores = last.select(F.col("v"), F.col("hub").as("hub_fp"),
      F.col("auth").as("auth_fp"))
    val residual = last.agg(
      F.sum(F.expr("abs(hub - prev_hub)")).as("hub_resid_l1"),
      F.sum(F.expr("abs(auth - prev_auth)")).as("auth_resid_l1"))
    (scores, residual)
  }

  /** Deterministic uniform random walks over an undirected edge list —
    * the walk-corpus generator of DeepWalk/node2vec (Perozzi et al.
    * 2014, arXiv:1403.6652; Grover & Leskovec 2016, arXiv:1607.00653,
    * p = q = 1), made ENGINE-EXACT: instead of a PRNG, step t of walk w
    * at node u picks neighbor index hash60("w|t|u") mod degree(u) over
    * the value-ranked adjacency — both engines derive the identical
    * corpus, and on a cluster every step is reproducible regardless of
    * task placement (a seeded PRNG per task is NOT — partition
    * assignment changes the stream).
    *
    * Scale shape: the ranked adjacency (u, idx, v, deg) is ONE window
    * pass partitioned per node (degree-bounded sorts, never global),
    * persisted and reused by every step; each step is one equi-join of
    * the frontier on the current node with the rank condition applied
    * as the join filter — degree-bounded fan-out, i.e. the same
    * edge-linear per-round cost as a BFS hop, for `steps` rounds.
    * Walks never die: the adjacency is undirected, so every reached
    * node has degree ≥ 1. */
  def randomWalks(edges: DataFrame, aCol: String, bCol: String,
      starts: DataFrame, startCol: String, steps: Int): DataFrame = {
    val und = edges.select(F.col(aCol).as("u"), F.col(bCol).as("v"))
      .unionAll(edges.select(F.col(bCol).as("u"), F.col(aCol).as("v")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy("v")
    val adj = CacheScope.persist(und
      .withColumn("idx", F.row_number().over(w).cast("long") - 1)
      .withColumn("deg", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("u"))))
    // every per-step frontier is PERSISTED (r15, §2.4): the output is
    // the UNION of all step frames, and step t's lineage is a t-join
    // chain — unpersisted, the union action re-executed step 1's join
    // `steps` times, step 2's `steps−1` times, … (O(steps²) joins plus
    // `steps+1` re-runs of the starts projection). Frontier frames are
    // walk-cohort-sized (≤ |starts| rows), so the cache cost is the
    // walk corpus itself, not the graph.
    val step0 = CacheScope.persist(
      starts.select(F.col(startCol).as("walk_id"),
        F.lit(0L).as("step"), F.col(startCol).as("node")))
    var frontier = step0
    val stepFrames = Seq(step0) ++ (1 to steps).map { t =>
      val key = F.concat(
        F.col("walk_id").cast("string"), F.lit("|"),
        F.lit(t.toString), F.lit("|"), F.col("_cu").cast("string"))
      val cur = frontier
        .select(F.col("walk_id"), F.col("node").as("_cu"))
        .withColumn("_h", Hashing.hash60(key))
      val next = CacheScope.persist(cur.join(adj,
          cur("_cu") === adj("u") &&
            adj("idx") === F.pmod(cur("_h"), adj("deg")))
        .select(F.col("walk_id"), F.lit(t.toLong).as("step"),
          F.col("v").as("node")))
      frontier = next
      next
    }
    stepFrames.reduce(_ unionAll _)
  }
}
