package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative graph analytics as relational fixpoints — the PageRank
  * face of the family that already includes connected components
  * ([[Dedup.cluster]]) and Lloyd's k-means ([[Similarity]]).
  *
  * All rank arithmetic is FIXED-POINT INTEGER (ranks in micro-units,
  * damping as a rational, integer floor division at every step), the
  * same discipline as the k-means quantizer: no float summation order
  * to diverge between engines or between partitionings, so the DuckDB
  * oracle re-derives every iteration's rank table bit-for-bit and the
  * result is reproducible under any cluster layout.
  *
  * Scale shape of [[pageRankFixed]], [[hitsFixed]] and [[kCoreFixed]]:
  * Pregel-style rounds (Malewicz et al., SIGMOD 2010). The distinct edge
  * table is checkpointed ONCE, hash-partitioned by the round's aggregate
  * key through [[GraftGlue.materialize]], which keeps that partitioning
  * (so no round re-shuffles the edges). The node-sized state — rank vector,
  * hub/authority scores, k-core survivors — stays on the driver between
  * rounds, behind the loud [[MaxDriverNodes]] bound. Each round
  * broadcasts it, runs ONE aggregate over the edge checkpoint (no
  * exchange, no node join), collects the per-node result and destroys
  * the broadcast: one Spark job per round. Reference: Page et al., "The
  * PageRank Citation Ranking", Stanford InfoLab 1999.
  */
object Graph {

  /** Bound on the node-sized state [[pageRankFixed]], [[hitsFixed]] and
    * [[kCoreFixed]] hold on the driver and broadcast every round (one id
    * and one long per node, ~16 MB at the bound). A larger graph is
    * refused loudly; there is no distributed fallback. */
  val MaxDriverNodes: Int = 1 << 20

  private def boundedNodes(engine: String, rows: Array[Row]): Array[Row] = {
    require(rows.length <= MaxDriverNodes,
      s"$engine: ${rows.length} nodes exceed MaxDriverNodes=$MaxDriverNodes, " +
        "the bound on the node state held on the driver")
    rows
  }

  /** The distinct (src, dst) edge set, hash-partitioned by `key` and
    * checkpointed once with that partitioning kept. The spread's exchange
    * also serves the distinct, so this is one exchange plus the
    * checkpoint job, and the caller's edge plan runs exactly once. */
  private def edgeTable(edges: DataFrame, src: String, dst: String,
                        key: String): DataFrame = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
    require(e.schema("src").dataType == e.schema("dst").dataType,
      s"src and dst ids must share one type: ${e.schema.simpleString}")
    GraftGlue.materialize(Relational.spread(e, col(key)).distinct())
  }

  /** One round: broadcast the driver-held `state` (node id → long),
    * run the aggregate `agg` builds over the lookup it is handed (`miss`
    * for ids not in `state`) as ONE Spark job, collect it under the
    * node bound, and destroy the broadcast. */
  private def pregelRound(engine: String, e: DataFrame, state: Map[Any, Long], miss: Long)
                   (agg: UserDefinedFunction => DataFrame): Array[Row] = {
    val bc = e.sparkSession.sparkContext.broadcast(state)
    val look = udf(((k: Any) => bc.value.getOrElse(k, miss)): UDF1[Any, Long], LongType)
    try boundedNodes(engine, agg(look).collect()) finally bc.destroy()
  }

  /** Driver-held per-node rows as (node, `cols`…), ids in the edges' type. */
  private def nodeFrame(e: DataFrame, rows: Iterable[Row], cols: String*): DataFrame =
    e.sparkSession.createDataFrame(rows.toSeq.asJava, StructType(
      e.schema("src").copy(name = "node") +:
        cols.map(StructField(_, LongType, nullable = false))))

  /** `iters` rounds of damped PageRank over directed `edges`
    * (columns `src`, `dst`; duplicate edges are counted once — the
    * caller dedups if needed). Returns (node, rank) with rank in
    * micro-units of `scale`.
    *
    * Update rule, all integer:
    *   unit      = scale div N
    *   contrib(v)= Σ_{(u,v)∈E} rank(u) div outdeg(u)
    *   rank'(v)  = ((dampDen−dampNum)·unit + dampNum·contrib(v)) div dampDen
    *
    * Dangling nodes (no out-edges) keep receiving the base term but
    * their mass is dropped, not redistributed — the common simplified
    * variant; total mass therefore decays slightly, which is harmless
    * for RANKING and keeps the recurrence strictly local (no global
    * mass term to agree on).
    *
    * Scale shape: the edges checkpoint by dst; the set-up collects every
    * node's out-degree; each round broadcasts rank(u) div outdeg(u) and
    * sums it per dst in one exchange-free aggregate, and the driver
    * applies the teleport term with overflow-checked arithmetic. */
  def pageRankFixed(edges: DataFrame, src: String, dst: String, iters: Int,
                    dampNum: Int = 85, dampDen: Int = 100,
                    scale: Long = 1000000L): DataFrame = {
    require(iters >= 0 && dampNum > 0 && dampDen > dampNum && scale > 0,
      s"bad params: iters=$iters damp=$dampNum/$dampDen scale=$scale")
    val e = edgeTable(edges, src, dst, "dst")
    // (node, outdeg) for every node, sinks at 0: one bounded collect
    val odeg = boundedNodes("pageRankFixed",
      e.select(col("src").as("node"), lit(1L).as("o"))
        .union(e.select(col("dst"), lit(0L)))
        .groupBy(col("node")).agg(sum(col("o")))
        .collect()).map(r => r.get(0) -> r.getLong(1)).toMap
    val n = odeg.size
    require(n > 0, "pageRankFixed: empty graph — no nodes")
    require(scale / n > 0,
      s"pageRankFixed: scale=$scale < node count n=$n — every rank would " +
        "floor to 0; raise scale")
    val u = scale / n // floor division on positive longs == `div`
    // exact arithmetic (r18 ADVICE): the teleport constant and every
    // update must overflow LOUDLY like the ANSI in-plan arithmetic the
    // oracle mirrors, not wrap silently at extreme `scale`
    val teleport = Math.multiplyExact((dampDen - dampNum).toLong, u)
    var rank = odeg.map { case (v, _) => v -> u }
    for (_ <- 1 to iters) {
      val share = odeg.collect { case (v, d) if d > 0 => v -> rank(v) / d }
      val csum = pregelRound("pageRankFixed", e, share, 0L)(look =>
        e.groupBy(col("dst")).agg(sum(look(col("src")))))
        .map(r => r.get(0) -> r.getLong(1)).toMap
      rank = rank.map { case (v, _) => v -> Math.addExact(teleport,
        Math.multiplyExact(dampNum.toLong, csum.getOrElse(v, 0L))) / dampDen }
    }
    nodeFrame(e, rank.map { case (v, r) => Row(v, r) }, "rank")
  }

  /** Global triangle census of an undirected graph: nodes, edges,
    * wedges (paths of length 2), triangles, and the transitivity ratio
    * 3·T/W — one row. Algorithm: degree-ordered orientation
    * ("compact-forward", Latapy, TCS 2008 / Schank & Wagner 2005):
    * every edge points from the smaller to the larger endpoint in the
    * total order (degree, id), then a triangle {u,v,w} with
    * u < v < w in that order is found EXACTLY once, as the wedge
    * (u→v, u→w) closed by the edge v→w.
    *
    * Scale shape: the orientation bounds every node's OUT-degree by
    * O(√m) on any graph (a node keeps only neighbors of larger
    * degree), so the wedge fan-out join is O(m^{3/2}) total work —
    * the best known bound for exact triangle listing — instead of the
    * Σ deg² blow-up of naive wedge generation on skewed graphs. Three
    * shuffles: degree aggregate, wedge self-join on src, closing-edge
    * equi-join on (v, w). The census row itself is a handful of
    * broadcast-joined scalar aggregates. Wedge count W = Σ C(deg, 2)
    * comes from the degree table, not the join.
    *
    * `pairs` carries one (idA, idB) row per edge in either direction;
    * self-loops are dropped and duplicates deduped. Transitivity is
    * null on wedge-free graphs (W = 0), not a division error. */
  def triangleStats(pairs: DataFrame, idA: String, idB: String): DataFrame = {
    // canonical undirected edge set, reused by degree/orient/closing join
    val e = pairs
      .select(least(col(idA), col(idB)).as("u"),
        greatest(col(idA), col(idB)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(GraftGlue.materialize(_))
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .transform(GraftGlue.materialize(_))
    // orient each edge toward the (deg, id)-larger endpoint; keep the
    // destination's degree so later order comparisons need no re-join
    val keyed = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val oriented = keyed.select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddeg"))
      .transform(GraftGlue.materialize(_))
    // wedges at src with ordered endpoints, closed by an oriented v→w edge
    val cand = oriented.select(col("src"), col("dst").as("wv"), col("ddeg").as("wvd"))
      .join(oriented.select(col("src"), col("dst").as("ww"), col("ddeg").as("wwd")), "src")
      .filter(struct(col("wvd"), col("wv")) < struct(col("wwd"), col("ww")))
    val tri = cand.join(
        oriented.select(col("dst").as("ww"), col("src").as("wv")),
        Seq("wv", "ww"))
      .agg(count(lit(1)).as("n_triangles"))
    val counts = e.agg(count(lit(1)).as("n_edges"))
    val nodesAndWedges = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1L) div 2")).as("n_wedges"))
    nodesAndWedges.crossJoin(broadcast(counts)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3L) * col("n_triangles") / col("n_wedges"), 6))
          .as("transitivity"))
  }

  /** Single-source BFS levels over directed `edges`: the minimum hop
    * distance from `source` to every node reachable within `rounds`
    * hops — the traversal primitive under reachability, blast-radius
    * and degrees-of-separation questions. Classic frontier expansion:
    * each round joins the CURRENT frontier (not the whole reached set)
    * against the edge table, anti-joins away already-reached nodes, and
    * labels survivors with the round number. Exactly `rounds` rounds
    * run regardless of early convergence (an empty frontier makes the
    * remaining rounds no-ops) so a fixed-depth oracle can mirror the
    * computation CTE-for-CTE.
    *
    * Scale shape per round: one equi-join on the edge src (edges
    * pre-partitioned once and reused), one distinct and one anti-join —
    * all shuffles on node ids, all proportional to the FRONTIER, not
    * the graph; reached/frontier state is one (node, dist) row per
    * reached node, checkpointed so plan depth stays O(1).
    * Returns (node, dist), dist in [0, rounds]. */
  def bfsLevels(edges: DataFrame, src: String, dst: String,
                source: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val e = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
      .transform(Relational.spread(_, col("src")))
      .transform(GraftGlue.materialize(_))
    var reached = source.select(col(source.columns.head).as("node"))
      .distinct()
      .select(col("node"), lit(0).as("dist"))
      .transform(GraftGlue.materialize(_))
    var frontier = reached
    var i = 1
    // an empty frontier makes every remaining round a no-op on both
    // engines (the oracle's extra CTE rounds add nothing), so exiting
    // early changes no result — it only skips dead shuffle jobs.
    // r18: the emptiness probe is the count() that MATERIALIZES the
    // round's lazy checkpoint (one job does both), and the reached
    // union is checkpointed lazily — the next round's anti-join (or the
    // final consumer) materializes it, so a round schedules ONE job
    // where it used to schedule three (next ckpt + reached ckpt + head).
    var frontierNonEmpty = frontier.count() > 0
    while (i <= rounds && frontierNonEmpty) {
      val next = frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(reached, Seq("node"), "left_anti")
        .select(col("node"), lit(i).as("dist"))
        .transform(GraftGlue.materialize(_, eager = false))
      frontierNonEmpty = next.count() > 0
      reached = GraftGlue.materialize(reached.union(next), eager = false)
      frontier = next
      i += 1
    }
    reached
  }

  /** DuckDB mirror of [[bfsLevels]]: `rounds` chained frontier CTEs
    * (the fixed-depth form — a plain recursive CTE on an undirected
    * graph never terminates, since (node, d+2) back-and-forth rows are
    * always new). Expects `edges(src, dst)` (pre-distinct) and
    * `bfs_src(node)` in scope; exposes `bfs_final(node, dist)`. */
  def bfsOracleCtes(rounds: Int): String = {
    require(rounds >= 1, s"oracle CTE chain needs rounds >= 1: $rounds")
    val steps = (1 to rounds).map { i =>
      s"""bfs_f$i AS (SELECT DISTINCT e.dst AS node FROM edges e
            JOIN bfs_f${i - 1} f ON e.src = f.node
            WHERE e.dst NOT IN (SELECT node FROM bfs_r${i - 1})),
          bfs_r$i AS (SELECT node FROM bfs_r${i - 1}
            UNION SELECT node FROM bfs_f$i)"""
    }.mkString(",\n")
    val dists = (0 to rounds)
      .map(i => s"SELECT node, $i AS dist FROM bfs_f$i")
      .mkString(" UNION ALL ")
    s"""bfs_f0 AS (SELECT DISTINCT node FROM bfs_src),
      bfs_r0 AS (SELECT node FROM bfs_f0),
      $steps,
      bfs_final AS ($dists)"""
  }

  /** DuckDB mirror of [[pageRankFixed]]: the identical integer
    * recurrence as `iters` chained CTE rounds (the k-means oracle
    * pattern). Expects a CTE `edges(src, dst)` (pre-distinct) to be in
    * scope; exposes `pr_final(node, rank)`. */
  def pageRankOracleCtes(iters: Int, dampNum: Int = 85, dampDen: Int = 100,
                         scale: Long = 1000000L): String = {
    require(iters >= 1, s"oracle CTE chain needs iters >= 1: $iters")
    val base = dampDen - dampNum
    // every sum() is cast back to BIGINT: DuckDB widens sum(BIGINT) to
    // HUGEINT, whose client-side export is build-dependent — an uncast
    // csum would leak HUGEINT into r and the final rank column
    val rounds = (1 to iters).map { i =>
      s"""pr_c$i AS (SELECT e.dst AS node,
              CAST(sum(r.r // d.odeg) AS BIGINT) AS csum
            FROM edges e JOIN pr_r${i - 1} r ON e.src = r.node
            JOIN pr_outdeg d ON e.src = d.src GROUP BY e.dst),
          pr_r$i AS (SELECT n.node,
              CAST(($base * (SELECT u FROM pr_unit)
                + $dampNum * coalesce(c.csum, 0)) // $dampDen AS BIGINT) AS r
            FROM pr_nodes n LEFT JOIN pr_c$i c ON n.node = c.node)"""
    }.mkString(",\n")
    s"""pr_nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
      pr_outdeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
      pr_unit AS (SELECT CAST($scale // count(*) AS BIGINT) AS u FROM pr_nodes),
      pr_r0 AS (SELECT node, (SELECT u FROM pr_unit) AS r FROM pr_nodes),
      $rounds,
      pr_final AS (SELECT node, CAST(r AS BIGINT) AS rank FROM pr_r$iters)"""
  }

  /** `iters` rounds of HITS hubs-and-authorities (Kleinberg, JACM
    * 1999) over directed `edges` (columns `src`, `dst`; duplicates
    * counted once). Fixed-point integer arithmetic in the q128
    * discipline: scores live in units of `scale`, each half-round is
    *   a_raw(v) = Σ_{u→v} h(u)        then L1-normalize:
    *   a(v)     = (a_raw(v)·scale) div Σ a_raw
    * (and symmetrically h from a), with the per-node sums folded in
    * DECIMAL(38,0) and the normalization in exact BigInteger arithmetic
    * on the driver, so a_raw·scale cannot wrap a LONG and every score
    * is a long the DuckDB oracle replays bit-for-bit via HUGEINT
    * ([[hitsOracleCtes]]).
    *
    * Scale shape: the distinct edges are checkpointed twice, by dst
    * (authority sums) and by src (hub sums); each half-round broadcasts
    * the driver-held score vector and runs one exchange-free aggregate
    * over the matching copy — one Spark job per half-round, the L1 sum
    * included. Returns (node, auth, hub). */
  def hitsFixed(edges: DataFrame, src: String, dst: String, iters: Int,
                scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1 && scale > 0, s"bad params: iters=$iters scale=$scale")
    val eByDst = edgeTable(edges, src, dst, "dst")
    val eBySrc = GraftGlue.materialize(Relational.spread(eByDst, col("src")))
    val bigScale = java.math.BigInteger.valueOf(scale)
    // raw(v) = Σ score(u) over the edges u→v of `e` grouped by `to`,
    // then L1-normalized; a node with no entry in `score` reads `miss`
    def half(e: DataFrame, from: String, to: String,
             score: Map[Any, Long], miss: Long): Map[Any, Long] = {
      // per-node raw sums fold in DECIMAL(38,0) (mirror: HUGEINT) — a
      // high-degree hub at scale 1e9 would pass a LONG near indeg ~9e9
      val raw = pregelRound("hitsFixed", e, score, miss)(look =>
        e.groupBy(col(to)).agg(sum(look(col(from)).cast("decimal(38,0)"))))
        .map(r => r.get(0) -> r.getDecimal(1).toBigIntegerExact)
      val s = raw.foldLeft(java.math.BigInteger.ZERO)(_ add _._2)
      raw.map { case (v, x) => v -> x.multiply(bigScale).divide(s).longValueExact }.toMap
    }
    // round 1 reads every hub as `scale` (an empty vector, miss = scale);
    // later, a node missing from a score vector has no edge on that side
    // and scores 0
    var hub = Map.empty[Any, Long]
    var auth = Map.empty[Any, Long]
    for (i <- 1 to iters) {
      auth = half(eByDst, "src", "dst", hub, if (i == 1) scale else 0L)
      hub = half(eBySrc, "dst", "src", auth, 0L)
    }
    nodeFrame(eByDst, (auth.keySet ++ hub.keySet).map(v =>
      Row(v, auth.getOrElse(v, 0L), hub.getOrElse(v, 0L))), "auth", "hub")
  }

  /** DuckDB mirror of [[hitsFixed]]: the identical normalize-by-L1
    * integer recurrence as chained CTE rounds. Expects a CTE
    * `edges(src, dst)` (pre-distinct) in scope; exposes
    * `hits_final(node, auth, hub)`. */
  def hitsOracleCtes(iters: Int, scale: Long = 1000000000L): String = {
    require(iters >= 1, s"oracle CTE chain needs iters >= 1: $iters")
    val rounds = (1 to iters).map { i =>
      s"""hits_ar$i AS (SELECT e.dst AS node, CAST(sum(h.hub) AS HUGEINT) AS raw
            FROM edges e JOIN hits_h${i - 1} h ON e.src = h.node GROUP BY e.dst),
          hits_as$i AS (SELECT CAST(sum(raw) AS HUGEINT) AS s FROM hits_ar$i),
          hits_a$i AS MATERIALIZED (SELECT n.node,
              CAST(CAST(coalesce(r.raw, 0) AS HUGEINT) * $scale
                // (SELECT s FROM hits_as$i) AS BIGINT) AS auth
            FROM hits_nodes n LEFT JOIN hits_ar$i r ON n.node = r.node),
          hits_hr$i AS (SELECT e.src AS node, CAST(sum(a.auth) AS HUGEINT) AS raw
            FROM edges e JOIN hits_a$i a ON e.dst = a.node GROUP BY e.src),
          hits_hs$i AS (SELECT CAST(sum(raw) AS HUGEINT) AS s FROM hits_hr$i),
          hits_h$i AS MATERIALIZED (SELECT n.node,
              CAST(CAST(coalesce(r.raw, 0) AS HUGEINT) * $scale
                // (SELECT s FROM hits_hs$i) AS BIGINT) AS hub
            FROM hits_nodes n LEFT JOIN hits_hr$i r ON n.node = r.node)"""
    }.mkString(",\n")
    s"""hits_nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
      hits_h0 AS (SELECT node, CAST($scale AS BIGINT) AS hub FROM hits_nodes),
      $rounds,
      hits_final AS (SELECT a.node, a.auth, h.hub
        FROM hits_a$iters a JOIN hits_h$iters h ON a.node = h.node)"""
  }

  /** Absorption-probability iteration over scenario-tagged Markov
    * chains (the compute core of removal-effect attribution, Anderl et
    * al. 2016): given nano-scaled transition probabilities
    * `(sc, s, t, pr)` (pr ∈ [0, 10⁹], integer), iterate
    * p(s) ← Σ_t pr(s,t)·p(t)/10⁹ with p(CONV) pinned to 10⁹ and
    * p(NULL) to 0, for exactly `iters` rounds from p₀ = {CONV: 10⁹}.
    *
    * The q128 fixed-point discipline: every term floor-divides back to
    * nano-units BEFORE the sum, so the whole evolution is long
    * arithmetic — bit-identical under any partitioning and engine,
    * convergence not required for reproducibility (the round count IS
    * part of the contract). State space (channels + virtual states) is
    * tiny; each round is one broadcast-scale join + aggregate,
    * checkpointed to keep plan depth O(1).
    *
    * This is the UNBOUNDED-state form. When the chain is channel-
    * bounded (every real attribution model), prefer
    * [[absorptionFixedDriver]]: same recurrence bit-for-bit over the
    * collected matrix, zero per-round Spark jobs. */
  def absorptionFixed(trans: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val scen = GraftGlue.materialize(trans.select(col("sc")).distinct())
    def absorbing = scen
      .select(col("sc"), lit("CONV").as("st"), lit(1000000000L).as("p"))
      .unionByName(scen
        .select(col("sc"), lit("NULL").as("st"), lit(0L).as("p")))
    var p = GraftGlue.materialize(absorbing)
    for (_ <- 1 to iters) {
      p = trans.as("tr").join(p.as("pp"),
          col("tr.sc") === col("pp.sc") && col("tr.t") === col("pp.st"))
        .select(col("tr.sc").as("sc"), col("tr.s").as("s"),
          expr("pr * p div 1000000000L").as("term"))
        .groupBy(col("sc"), col("s")).agg(sum(col("term")).as("p"))
        .select(col("sc"), col("s").as("st"), col("p"))
        .unionByName(absorbing)
        .transform(GraftGlue.materialize(_))
    }
    p
  }

  /** Driver-side twin of [[absorptionFixed]] for CHANNEL-BOUNDED chains:
    * the identical fixed-point integer recurrence (floor-div per term,
    * round count part of the contract — spec-pinned bit-equal to the
    * distributed form), run over the collected transition matrix.
    *
    * Legitimacy at 100 TB (the [[Stats.olsFit]] precedent): driver
    * state is O(scenarios × states²) NUMBERS — the channel vocabulary,
    * never data rows. The corpus-sized work (journey extraction, the
    * transition-count aggregate) stays distributed; what moves to the
    * driver is a ≤10³-entry matrix whose 20-round evolution costs
    * microseconds there and 20 scheduled jobs as a DataFrame loop.
    *
    * `trans` rows are (sc, s, t, pr) with pr in nano-units; `s` must
    * not contain the absorbing states CONV/NULL (the caller's
    * transition builder never emits them as sources). Returns
    * (sc, st, p) including the absorbing rows, like the distributed
    * form. */
  def absorptionFixedDriver(trans: Seq[(String, String, String, Long)],
                            iters: Int): Seq[(String, String, Long)] = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val scens = trans.map(_._1).distinct
    val absorbing: Map[(String, String), Long] = scens.flatMap(sc =>
      Seq((sc, "CONV") -> 1000000000L, (sc, "NULL") -> 0L)).toMap
    var p = absorbing
    for (_ <- 1 to iters) {
      val next = trans.iterator.flatMap { case (sc, s, t, pr) =>
        p.get((sc, t)).map(pt => ((sc, s), pr * pt / 1000000000L))
      }.toSeq.groupBy(_._1)
        .map { case (k, terms) => k -> terms.map(_._2).sum }
      p = next ++ absorbing
    }
    p.toSeq.map { case ((sc, st), v) => (sc, st, v) }
  }

  /** k-core peeling (Seidman 1983; Batagelj-Zaveršnik): repeatedly
    * delete nodes of degree < k until the k-core remains — the standard
    * dense-subgraph / influential-community extraction. Runs a FIXED
    * `rounds` of synchronous peeling — the round count is part of the
    * reproducibility contract, and peeling converges when a round
    * removes nothing (spec-checked). Edges must be symmetric; they are
    * dedup'd here. Returns the surviving subgraph's (node, deg).
    *
    * Scale shape: the distinct edges are checkpointed once by src; the
    * survivor set stays on the driver. A peel round is one exchange-free
    * degree aggregate over the edges whose both ends survive, and the
    * nodes with deg ≥ k survive into the next round; the final degrees
    * are one more such aggregate. */
  def kCoreFixed(edges: DataFrame, src: String, dst: String, k: Int,
                 rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1: $k, $rounds")
    val e = edgeTable(edges, src, dst, "src")
    // deg(v) over the edges whose both ends are alive (1) in `alive`;
    // nodes missing from it read `miss`
    def degrees(alive: Map[Any, Long], miss: Long): Map[Any, Long] =
      pregelRound("kCoreFixed", e, alive, miss)(look =>
        e.filter(look(col("src")) === 1L && look(col("dst")) === 1L)
          .groupBy(col("src")).agg(count(lit(1))))
        .map(r => r.get(0) -> r.getLong(1)).toMap
    var deg = degrees(Map.empty, 1L) // every node alive: the input degrees
    for (_ <- 1 to rounds)
      deg = degrees(deg.collect { case (v, d) if d >= k => v -> 1L }, 0L)
    nodeFrame(e, deg.map { case (v, d) => Row(v, d) }, "deg")
  }

  /** Synchronous label propagation (Raghavan et al. 2007): every node
    * adopts the modal label of its neighbors each round (ties to the
    * SMALLEST label — fully deterministic), labels initialized to the
    * node id. A FIXED `rounds` of updates: community detection whose
    * per-round cost is one edge join + one degree-bounded argmax
    * window; bounded rounds make the synchronous variant reproducible
    * (it may oscillate on bipartite structure rather than converge —
    * the round count is part of the contract, as with [[kCoreFixed]]).
    * Edges must be symmetric. Returns (node, label).
    *
    * `statePartitions` > 0 coalesces each round's checkpointed label
    * table to that many partitions, sized to the known-small community
    * graph; 0 (default) inherits the session shuffle partitioning. */
  def labelPropagationFixed(edges: DataFrame, src: String, dst: String,
                            rounds: Int, statePartitions: Int = 0): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    import org.apache.spark.sql.expressions.Window
    def sized(df: DataFrame): DataFrame =
      if (statePartitions > 0) df.coalesce(statePartitions) else df
    val e = sized(edges.select(col(src).as("src"), col(dst).as("dst"))
      .distinct()).transform(GraftGlue.materialize(_))
    var lbl = sized(e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))).transform(GraftGlue.materialize(_))
    for (_ <- 1 to rounds) {
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cnt").desc, col("lbl").asc)
      lbl = sized(e.join(lbl, e("dst") === lbl("node"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("lbl")))
        .transform(GraftGlue.materialize(_, eager = false)) // lazy: O(1) depth, no count() job
    }
    lbl
  }

  /** DuckDB mirror of [[labelPropagationFixed]]: expects
    * `edges(src, dst)` (symmetric, distinct); exposes
    * `lpa_final(node, lbl)`. */
  def lpaOracleCtes(rounds: Int): String = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val rs = (1 to rounds).map { i =>
      s"""lpa_c$i AS (SELECT e.src, l.lbl, count(*) AS cnt
            FROM edges e JOIN lpa_l${i - 1} l ON e.dst = l.node
            GROUP BY e.src, l.lbl),
          lpa_l$i AS (SELECT src AS node, lbl FROM (
            SELECT src, lbl, row_number() OVER (PARTITION BY src
              ORDER BY cnt DESC, lbl ASC) AS rn FROM lpa_c$i)
            WHERE rn = 1)"""
    }.mkString(",\n")
    s"""lpa_l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
      $rs,
      lpa_final AS (SELECT node, lbl FROM lpa_l$rounds)"""
  }

  /** DuckDB mirror of [[kCoreFixed]]: expects `edges(src, dst)`
    * (symmetric); exposes `kc_final(node, deg)` after `rounds` peels. */
  def kCoreOracleCtes(k: Int, rounds: Int): String = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1: $k, $rounds")
    val rs = (1 to rounds).map { i =>
      s"""kc_k$i AS (SELECT src AS node FROM kc_e${i - 1}
            GROUP BY src HAVING count(*) >= $k),
          kc_e$i AS (SELECT e.src, e.dst FROM kc_e${i - 1} e
            JOIN kc_k$i a ON e.src = a.node
            JOIN kc_k$i b ON e.dst = b.node)"""
    }.mkString(",\n")
    s"""kc_e0 AS (SELECT DISTINCT src, dst FROM edges),
      $rs,
      kc_final AS (SELECT src AS node, count(*) AS deg FROM kc_e$rounds
        GROUP BY src)"""
  }

  /** DuckDB mirror of [[absorptionFixed]]: expects `sc_trans(sc, s, t,
    * pr)` and `scen(sc)`; exposes `ab_p{iters}(sc, st, p)`. */
  def absorptionOracleCtes(iters: Int): String = {
    require(iters >= 1, s"oracle CTE chain needs iters >= 1: $iters")
    val rounds = (1 to iters).map { i =>
      s"""ab_p$i AS (
          SELECT tr.sc, tr.s AS st, CAST(sum(tr.pr * pp.p // 1000000000) AS BIGINT) AS p
          FROM sc_trans tr JOIN ab_p${i - 1} pp
            ON tr.sc = pp.sc AND tr.t = pp.st
          GROUP BY tr.sc, tr.s
          UNION ALL SELECT sc, 'CONV', 1000000000 FROM scen
          UNION ALL SELECT sc, 'NULL', 0 FROM scen)"""
    }.mkString(",\n")
    s"""ab_p0 AS (SELECT sc, 'CONV' AS st, CAST(1000000000 AS BIGINT) AS p FROM scen
        UNION ALL SELECT sc, 'NULL', 0 FROM scen),
      $rounds"""
  }

  /** Newman (2002) degree-assortativity coefficient of an undirected
    * graph: the Pearson correlation of (deg(u), deg(v)) over the
    * DIRECTED edge list with both orientations included — exactly
    * Newman's undirected formula. Input contract: `edges` holds each
    * undirected edge ONCE, in a single orientation, no duplicates (the
    * caller dedups — the [[pageRankFixed]] discipline); src/dst share
    * one id namespace. Non-iterative: the doubled edge set is
    * checkpointed BEFORE fan-out (it feeds the degree aggregate AND
    * the moment join — the q128 discipline), degrees come from one
    * hash aggregate, endpoint degrees attach via two equi-joins, and
    * the moments fold 128-bit exact ([[graft.functions.Aggregators
    * .sum128]]: Σdu·dv over 10^12 edges with 10^6-degree hubs needs
    * >64 bits). The closed form is one double expression over the
    * one-row moment frame; a zero-variance regular graph (every degree
    * equal — cycles, cliques) emits NULL by contract on both engines.
    * Output: one row (n_nodes, m_edges, assortativity·1e−6-rounded).
    * OlapOpsSpec pins the textbook values: path P₄ → −1/2, star K₁,₃
    * → −1, cycle C₄ → NULL. */
  def assortativity(edges: DataFrame, src: String, dst: String): DataFrame = {
    import graft.functions.Aggregators.sum128
    val cs = edges.select(col(src).cast("string").as("src"),
      col(dst).cast("string").as("dst"))
    val both = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
      .transform(GraftGlue.materialize(_)) // feeds the degree build AND the moment join
    val deg = both.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .transform(GraftGlue.materialize(_)) // two join sides + the node count read it
    val pairs = both
      .join(deg.select(col("node").as("src"), col("deg").as("du")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dv")), "dst")
    val mom = pairs.agg(
      count(lit(1)).as("m2"),
      sum128(col("du")).cast("double").as("sj"),
      sum128(col("dv")).cast("double").as("sk"),
      sum128(col("du") * col("dv")).cast("double").as("sjk"),
      sum128(col("du") * col("du")).cast("double").as("sj2"),
      sum128(col("dv") * col("dv")).cast("double").as("sk2"))
    val den = (col("m2").cast("double") * col("sj2") - col("sj") * col("sj")) *
      (col("m2").cast("double") * col("sk2") - col("sk") * col("sk"))
    mom.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"),
        expr("m2 div 2").as("m_edges"),
        when(den > 0, round(
            (col("m2").cast("double") * col("sjk") - col("sj") * col("sk")) /
              sqrt(den), 6))
          .otherwise(lit(null).cast("double")).as("assortativity"))
  }
}
