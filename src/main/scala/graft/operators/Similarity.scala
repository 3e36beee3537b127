package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftglue.GraftGlue

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (`array<float>`).
  *
  * Scale ladder (BASELINE.json north-star):
  *  1. brute-force cosine top-k — the exactness baseline; O(|Q|·|C|) with
  *     the small query set broadcast, so it's a single narrow pass over
  *     the candidate table (no shuffle of the candidates);
  *  2. IVF-style partition pruning on a coarse assignment column — the
  *     join key restricts each query to one cell (here the precomputed
  *     `label`; in production the assignment comes from a k-means fit);
  *  3. sign-LSH bucketing — hyperplane-sign sketch as the equi-join key,
  *     pruning pairs by ~2^bits before the exact re-rank.
  *
  * All pair loops score with the codegen'd fused
  * [[graft.expressions.CosineSimilarity]] — one generated loop per pair,
  * no interpreted lambda evaluation, no per-vector norm precompute state
  * to shuffle around.
  */
object Similarity {

  private def prep(df: DataFrame, id: String, vec: String,
                   idAs: String, vecAs: String): DataFrame =
    df.select(col(id).as(idAs), toDoubleVec(col(vec)).as(vecAs))

  /** Shared broadcast-join + rank-window top-k core: candidates join the
    * (small, broadcast) query set under `pairPred`, score with the fused
    * cosine, rank per query with a deterministic tie-break. At extreme
    * candidate counts, swap the window for a per-partition top-k +
    * merge. */
  private def rankedTopK(q: DataFrame, c: DataFrame, k: Int,
                         pairPred: Column): DataFrame = {
    val scored = c.join(broadcast(q), pairPred && col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosineFast(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"))
  }

  /** Brute-force cosine top-k: every query against every candidate.
    * Queries are broadcast (top-k only makes sense for a small query
    * set); ranking is a window over query_id. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, id: String,
                     vec: String, k: Int): DataFrame =
    rankedTopK(
      prep(queries, id, vec, "query_id", "qv"),
      prep(candidates, id, vec, "cand_id", "cv"),
      k, lit(true))

  /** Hard-negative mining (Karpukhin et al. EMNLP 2020, DPR): for each
    * query vector, the cosine top-k among candidates whose `label`
    * DIFFERS from the query's — the near-miss wrong-answers that make
    * contrastive/retriever training data actually hard. The label
    * inequality rides the broadcast join predicate, so wrong-label
    * filtering happens before any scoring work; otherwise the shape is
    * [[bruteForceTopK]] (swap in IVF candidates at corpus scale).
    * Returns (query_id, rank, cand_id, cand_label). */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, id: String,
                    vec: String, label: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"),
      toDoubleVec(col(vec)).as("qv"), col(label).as("__qlab"))
    val c = candidates.select(col(id).as("cand_id"),
      toDoubleVec(col(vec)).as("cv"), col(label).as("cand_label"))
    val scored = c.join(broadcast(q),
        col("__qlab") =!= col("cand_label") && col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosineFast(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cand_label"))
  }

  /** k-NN majority-vote classification: label each query vector by the
    * modal label of its cosine top-k neighbors (deterministic tie-break
    * toward the smaller label). Composes [[bruteForceTopK]] with a label
    * join + vote aggregate + rank-1 window — at scale, swap the
    * brute-force stage for [[ivfTopK]]/[[lshNearDupPairs]] candidates;
    * the vote tail is identical. */
  def knnClassify(queries: DataFrame, candidates: DataFrame, id: String,
                  vec: String, label: String, k: Int): DataFrame = {
    val votes = bruteForceTopK(queries, candidates, id, vec, k)
      .join(candidates.select(col(id).as("cand_id"), col(label).as("cand_label")),
        "cand_id")
      .groupBy(col("query_id"), col("cand_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("cand_label").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("cand_label").as("pred_label"), col("votes"))
  }

  /** IVF-style pruned top-k: the same core with a cell-equality predicate
    * on the join, so each query scans only its coarse cell (a |C|/cells
    * fraction of the data). */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, id: String,
              vec: String, cell: String, k: Int): DataFrame =
    rankedTopK(
      queries.select(col(id).as("query_id"), col(cell).as("qcell"),
        toDoubleVec(col(vec)).as("qv")),
      candidates.select(col(id).as("cand_id"), col(cell).as("ccell"),
        toDoubleVec(col(vec)).as("cv")),
      k, col("qcell") === col("ccell"))

  // ------------------------------------------------------------------
  // k-means coarse quantizer (the IVF "train" step)
  // ------------------------------------------------------------------

  /** Fixed-point quantized points: (pid, pf: array<long>). */
  private def fixedPts(df: DataFrame, id: String, vec: String,
                       scale: Double): DataFrame =
    df.select(col(id).as("pid"), toFixedVec(col(vec), scale).as("pf"))

  /** Nearest-centroid assignment: argmin over cells of the integer squared
    * distance, tie-broken toward the smaller cell id. Centroids (k rows)
    * broadcast; the only shuffle is the per-point argmin aggregate. */
  private def assignCells(pts: DataFrame, cents: DataFrame): DataFrame =
    pts.crossJoin(broadcast(cents))
      .withColumn("dist", sqDistFixed(col("pf"), col("cf")))
      .groupBy(col("pid"))
      .agg(min(struct(col("dist"), col("cell"))).getField("cell").as("cell"),
        // pf is functionally dependent on pid, so first() is deterministic
        first(col("pf")).as("pf"))

  /** Relational k-means (Lloyd) over a fixed-point quantization of the
    * embedding space — the coarse quantizer that IVF indexes train
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011; same coarse-cell role as FAISS IndexIVF's k-means).
    *
    * Everything is deterministic and engine-portable:
    *  - init: the k points with the smallest `md5(id)` digests, cell ids
    *    assigned in digest order — a seedless hash-sample, reproducible
    *    on any engine with md5;
    *  - distances: integer Σ(aᵢ-bᵢ)² on round(v·scale) fixed-point vectors
    *    (codegen'd [[graft.expressions.FixedSqDist]]) — no float summation
    *    order to diverge;
    *  - update: centroid component = round(Σpf/n) back to the fixed-point
    *    grid — an exact integer sum and one double division, identical on
    *    both engines; empty cells keep their previous centroid.
    *
    * Each Lloyd iteration is one broadcast join + two hash aggregates
    * (argmin by point, mean by cell,pos); the k×d centroid table is
    * checkpointed per round to truncate lineage, so plan depth
    * stays O(1) as iterations grow. At 100 TB the per-iteration cost is a
    * single narrow pass over the points — the textbook scalable k-means
    * shape (MLlib's KMeans does the same passes, with driver-side
    * centroid state; here the state stays relational for oracle parity).
    *
    * Returns the centroid table (cell: int, cf: array<long>). */
  def kmeansCentroids(df: DataFrame, id: String, vec: String, k: Int,
                      iters: Int, scale: Double = 1e6): DataFrame =
    kmeansCore(df, id, vec, k, iters, scale)._2

  private def kmeansCore(df: DataFrame, id: String, vec: String, k: Int,
                         iters: Int, scale: Double): (DataFrame, DataFrame) = {
    // one upfront shuffle on pid, materialized once: every iteration's
    // per-point argmin aggregate then reuses the partitioning (no
    // per-round exchange of the points) — the same align-the-exchange
    // trick the MinHash signature path uses. The materialized block is
    // the quantized vectors only (d longs/row), the k-means working set
    // MLlib caches too.
    val pts = fixedPts(df, id, vec, scale)
      .transform(Relational.spread(_, col("pid"))).transform(GraftGlue.materialize(_))
    (pts, lloydFixed(pts, k, iters))
  }

  /** The Lloyd loop over an already-quantized, pid-partitioned,
    * materialized (pid, pf: array<long>) frame — shared by the coarse
    * quantizer ([[kmeansCentroids]]) and the per-subspace residual
    * codebooks of [[ivfPqTopK]]. Returns the centroid table (cell, cf). */
  private def lloydFixed(pts: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"need k>0, iters>=0; got k=$k iters=$iters")
    val seedW = Window.orderBy(col("h"))
    var cents = pts
      .withColumn("h", md5(col("pid").cast("string")))
      .orderBy(col("h")).limit(k)
      // window over k rows only (post-limit) — bounded by construction
      .withColumn("cell", row_number().over(seedW).cast("int"))
      .select(col("cell"), col("pf").as("cf"))
      .coalesce(1).transform(GraftGlue.materialize(_))
    val vsum = udaf(graft.functions.Aggregators.VecSumCount)
    for (_ <- 1 to iters) {
      // centroid update in one aggregate: per-cell element-wise sums +
      // count (k × (d+1) longs of shuffle state), then one narrow pass
      // divides and re-quantizes — arithmetic identical to the per-pos
      // sum/count formulation the DuckDB oracle mirrors
      val upd = assignCells(pts, cents)
        .groupBy(col("cell"))
        .agg(vsum(col("pf")).as("sc"))
        .select(col("cell"),
          transform(col("sc._1"),
            v => round(v.cast("double") / col("sc._2")).cast("long")).as("cf"))
      cents = cents.as("o").join(upd.as("u"), Seq("cell"), "left_outer")
        .select(col("cell"), coalesce(col("u.cf"), col("o.cf")).as("cf"))
        .coalesce(1).transform(GraftGlue.materialize(_))
    }
    cents
  }

  /** Per-subspace argmin over (m, cell)-keyed centroids: like
    * [[assignCells]], but the join key `m` keeps every subspace's
    * distance computation inside its own codebook. A pid-partitioned
    * input satisfies the (pid, m) group-by without a new exchange. */
  private def assignCellsGrouped(ptsM: DataFrame, cents: DataFrame): DataFrame =
    ptsM.join(broadcast(cents), Seq("m"))
      .withColumn("dist", sqDistFixed(col("pf"), col("cf")))
      .groupBy(col("pid"), col("m"))
      .agg(min(struct(col("dist"), col("cell"))).getField("cell").as("cell"),
        first(col("pf")).as("pf"))

  /** All M sub-quantizers in ONE Lloyd loop: points carry a subspace tag
    * `m` and centroids are keyed (m, cell), so each round is one
    * broadcast join + one update aggregate for every codebook at once.
    * Training the subspaces sequentially costs M·iters shuffled rounds
    * (and M·iters passes over the residuals); grouped training costs
    * `iters` rounds for bit-identical per-subspace results — assignments
    * and means never cross an m boundary, so each codebook's arithmetic
    * is exactly the sequential one's (the DuckDB oracle still derives
    * every codebook independently and hashes equal). */
  private def lloydFixedGrouped(ptsM: DataFrame, seeds: DataFrame,
                                iters: Int): DataFrame = {
    var cents = GraftGlue.materialize(seeds.coalesce(1))
    val vsum = udaf(graft.functions.Aggregators.VecSumCount)
    for (_ <- 1 to iters) {
      val upd = assignCellsGrouped(ptsM, cents)
        .groupBy(col("m"), col("cell"))
        .agg(vsum(col("pf")).as("sc"))
        .select(col("m"), col("cell"),
          transform(col("sc._1"),
            v => round(v.cast("double") / col("sc._2")).cast("long")).as("cf"))
      cents = cents.as("o").join(upd.as("u"), Seq("m", "cell"), "left_outer")
        .select(col("m"), col("cell"), coalesce(col("u.cf"), col("o.cf")).as("cf"))
        .coalesce(1).transform(GraftGlue.materialize(_))
    }
    cents
  }

  /** Fit + assign: k-means cells for every row of `df` — the learned
    * replacement for a precomputed IVF cell column. Output (id, cell). */
  def kmeansAssign(df: DataFrame, id: String, vec: String, k: Int,
                   iters: Int, scale: Double = 1e6): DataFrame = {
    val (pts, cents) = kmeansCore(df, id, vec, k, iters, scale)
    assignCells(pts, cents)
      .select(col("pid").as(id), col("cell"))
  }

  /** Multi-probe IVF top-k (the full Jégou TPAMI 2011 coarse-search
    * shape): train the k-means quantizer on `corpus`, assign every
    * candidate to its nearest cell, then let each query search its
    * `nprobe` NEAREST cells — not just its own — before the exact cosine
    * re-rank. nprobe=1 recall collapses near cell boundaries (a true
    * neighbor on the far side of the bisector is invisible); probing the
    * next-nearest cells is what makes IVF recall survive real data at
    * scale, at candidate cost nprobe/kCells of the corpus per query.
    *
    * Plan shape: centroid ranking is a window over (queries × kCells)
    * broadcast-joined rows — bounded by the query set; the probe list
    * (query, cell, qv) is small and broadcast into the candidate-cell
    * equi-join, so candidates never shuffle (same posture as
    * [[bruteForceTopK]], scanning only the probed cells). A candidate
    * belongs to exactly one cell, so the probe union is duplicate-free by
    * construction. Cell ranking uses the same fixed-point integer
    * distance (and tie-break toward the smaller cell) as the quantizer
    * itself, so probe order is deterministic and engine-portable. */
  def ivfTopKMultiProbe(queries: DataFrame, candidates: DataFrame,
                        corpus: DataFrame, id: String, vec: String, k: Int,
                        kCells: Int, iters: Int, nprobe: Int,
                        scale: Double = 1e6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && nprobe <= kCells,
      s"need 1 <= nprobe <= kCells; got nprobe=$nprobe kCells=$kCells")
    val cents = kmeansCore(corpus, id, vec, kCells, iters, scale)._2
    // candidate assignment carrying the double vector for the re-rank
    // (one aggregate; cv is functionally dependent on cand_id)
    val candCells = candidates
      .select(col(id).as("cand_id"), toDoubleVec(col(vec)).as("cv"),
        toFixedVec(col(vec), scale).as("pf"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", sqDistFixed(col("pf"), col("cf")))
      .groupBy(col("cand_id"))
      .agg(min(struct(col("dist"), col("cell"))).getField("cell").as("cell"),
        first(col("cv")).as("cv"))
    // per-query nprobe nearest cells, deterministic (dist, cell) order
    val pw = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))
    val probes = queries
      .select(col(id).as("query_id"), toDoubleVec(col(vec)).as("qv"),
        toFixedVec(col(vec), scale).as("pf"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", sqDistFixed(col("pf"), col("cf")))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cell"), col("qv"))
    val scored = candCells.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosineFast(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"))
  }

  /** Build-once/query-many IVF index, materialized to parquet at `path`
    * and published the way [[graft.queries.Store]] does (the caller
    * passes a `Store.key`, so a regenerated corpus retrains and a live
    * one never does). At 100 TB the coarse quantizer is trained at
    * INGEST, one job, like any other index build; every query afterwards
    * reads two narrow tables — (cell, cf) centroids (kCells rows,
    * broadcast weight) and (pid, cell) assignments (one int pair per
    * vector) — instead of re-running Lloyd over the corpus. Returns
    * (cents, assign) as read back from the materialized store. */
  def materializeIvfIndex(spark: org.apache.spark.sql.SparkSession,
                          corpus: DataFrame, path: String, id: String,
                          vec: String, kCells: Int, iters: Int,
                          scale: Double = 1e6): (DataFrame, DataFrame) = {
    // assign/_SUCCESS is the completeness marker: written last
    graft.io.Fs.promoteDir(spark, path, "assign/_SUCCESS") { tmp =>
      val (pts, cents) = kmeansCore(corpus, id, vec, kCells, iters, scale)
      cents.write.mode("overwrite").parquet(s"$tmp/cents")
      assignCells(pts, cents).select(col("pid"), col("cell"))
        .write.mode("overwrite").parquet(s"$tmp/assign")
    }
    (spark.read.parquet(s"$path/cents"), spark.read.parquet(s"$path/assign"))
  }

  /** Multi-probe query over a PREBUILT index ([[materializeIvfIndex]]):
    * the same answers as [[ivfTopKMultiProbe]] under identical
    * parameters — materialization moves the quantizer build to ingest,
    * it never changes a result — but the query plan touches only the
    * centroid table, the assignment table, and the probed candidates'
    * vectors for the exact cosine re-rank. Probe ranking uses the same
    * deterministic fixed-point (dist, cell) order as training. */
  def ivfTopKFromIndex(queries: DataFrame, candidates: DataFrame,
                       cents: DataFrame, assign: DataFrame,
                       id: String, vec: String, k: Int, nprobe: Int,
                       scale: Double = 1e6): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1; got $nprobe")
    val candCells = candidates
      .select(col(id).as("cand_id"), toDoubleVec(col(vec)).as("cv"))
      .join(assign.select(col("pid").as("cand_id"), col("cell")), "cand_id")
    val pw = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))
    val probes = queries
      .select(col(id).as("query_id"), toDoubleVec(col(vec)).as("qv"),
        toFixedVec(col(vec), scale).as("pf"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", sqDistFixed(col("pf"), col("cf")))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cell"), col("qv"))
    val scored = candCells.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("sim", cosineFast(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"))
  }

  /** IVF-PQ top-k — the complete Jégou et al. TPAMI 2011 construction,
    * fully relational and engine-portable:
    *
    *  1. **train**: coarse k-means quantizer over `corpus` (the q87
    *     operator), then per-point residual r = pf − cf(assigned cell)
    *     via the codegen'd [[graft.expressions.FixedVecSub]];
    *  2. **product-quantize**: split the d dims into `subspaces` slices;
    *     per slice, a k-means codebook of `ksub` codewords over the
    *     residual sub-vectors (the SAME Lloyd loop as the coarse stage,
    *     [[lloydFixed]], just narrower input) and per-candidate nearest-
    *     codeword codes — the candidate index stores `subspaces` small
    *     ints per point instead of d floats (the memory win that lets an
    *     ANN index hold 100 TB of vectors);
    *  3. **search (ADC)**: per query, ONE distance table of
    *     (subspaces × ksub) integer entries — squared distance from the
    *     query's residual slice to each codeword — then each candidate in
    *     the query's coarse cell is scored by summing `subspaces` table
    *     lookups instead of a d-dim distance. Here the lookup is a
    *     broadcast equi-join of the LUT against the candidates' unpivoted
    *     codes + one sum aggregate — candidates never shuffle their
    *     vectors, only (cell, m, code) ints.
    *
    * Everything is fixed-point integer arithmetic end-to-end (distances,
    * codebooks, ADC sums), so the DuckDB oracle re-derives codebooks,
    * codes and scores bit-for-bit. ADC ranks by approximate distance —
    * the output deliberately differs from exact-rerank searches (q46/q93)
    * exactly the way production IVF-PQ recall differs; SimilaritySpec
    * pins that ADC@k recall against brute-force truth. Scoring probes
    * each query's `nprobe` nearest coarse cells (the [[ivfTopKMultiProbe]]
    * probe ranking composed with ADC): the query's residual — and hence
    * its distance LUT — is computed PER PROBED CELL, because the
    * residual r = q − centroid(c) differs by cell; a candidate scores
    * against the LUT of its own cell whenever that cell is among the
    * query's probes. nprobe=1 is exactly the own-cell search (the coarse
    * assignment IS the rank-1 probe under the same (dist, cell)
    * tie-break), which [[ivfPqTopK]] delegates to. */
  def ivfPqTopKMultiProbe(queries: DataFrame, candidates: DataFrame,
                          corpus: DataFrame, id: String, vec: String, k: Int,
                          kCells: Int, coarseIters: Int, subspaces: Int,
                          ksub: Int, pqIters: Int, dims: Int, nprobe: Int,
                          scale: Double = 1e6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1 && nprobe <= kCells,
      s"need 1 <= nprobe <= kCells; got nprobe=$nprobe kCells=$kCells")
    val (pts, cents, codebooks, cand) = pqIndex(candidates, corpus, id, vec,
      kCells, coarseIters, subspaces, ksub, pqIters, dims, scale)
    pqAdcSearch(pts.join(broadcast(queries.select(col(id).as("pid"))), "pid"),
      cents, codebooks, cand, k, subspaces, dims, nprobe)
  }

  /** The ADC search half of IVF-PQ over prebuilt index tables — shared
    * by the train-inline path above and the materialized-index path
    * ([[materializePqIndex]]/[[ivfPqTopKFromIndex]]). `qpts` carries
    * the queries' fixed-point vectors (pid, pf). */
  private def pqAdcSearch(qpts: DataFrame, cents: DataFrame,
                          codebooks: DataFrame, cand: DataFrame, k: Int,
                          subspaces: Int, dims: Int, nprobe: Int): DataFrame = {
    val subDim = dims / subspaces
    // per-query nprobe nearest cells with their PER-CELL residuals —
    // deterministic (dist, cell) order, same tie-break as assignCells
    val pw = Window.partitionBy(col("pid")).orderBy(col("dist"), col("cell"))
    val qres = qpts
      .crossJoin(broadcast(cents))
      .withColumn("dist", sqDistFixed(col("pf"), col("cf")))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("pid"), col("cell"), vecSubFixed(col("pf"), col("cf")).as("rf"))
    def subOf(m: Int): Column = slice(col("rf"), m * subDim + 1, subDim)
    val qresM = qres.select(col("pid"), col("cell"),
      posexplode(array((0 until subspaces).map(subOf): _*)).as(Seq("m", "pf")))
    // LUT: (query, probed cell, subspace, codeword) → integer distance;
    // queries × nprobe × subspaces × ksub rows — tiny, broadcast
    val lut = qresM
      .join(broadcast(codebooks
        .withColumnRenamed("cell", "code").withColumnRenamed("cf", "cbf")), Seq("m"))
      .select(col("pid").as("query_id"), col("cell").as("qcell"), col("m"),
        col("code"), sqDistFixed(col("pf"), col("cbf")).as("d"))
    val scored = cand.join(broadcast(lut),
        col("cell") === col("qcell") && col("cm") === col("m") &&
          col("ccode") === col("code"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("d")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"))
  }

  /** Materialized IVF-PQ index — the [[materializeIvfIndex]] lifecycle
    * applied to the three PQ tables (coarse centroids, the M residual
    * codebooks, per-candidate codes): trained once at ingest under a
    * caller-supplied `Store.key` (its tag names the quantizer
    * parameters), then every ANN query — any nprobe — reads the tables
    * instead of re-running Lloyd. cand/_SUCCESS is written LAST, so a
    * half-built index is rebuilt, never served. Materialization moves
    * cost; results are identical to the train-inline path on the same
    * parameters. */
  def materializePqIndex(spark: org.apache.spark.sql.SparkSession,
                         candidates: DataFrame, corpus: DataFrame,
                         path: String, id: String, vec: String,
                         kCells: Int, coarseIters: Int, subspaces: Int,
                         ksub: Int, pqIters: Int, dims: Int,
                         scale: Double = 1e6): (DataFrame, DataFrame, DataFrame) = {
    graft.io.Fs.promoteDir(spark, path, "cand/_SUCCESS") { tmp =>
      val (_, cents, codebooks, cand) = pqIndex(candidates, corpus, id, vec,
        kCells, coarseIters, subspaces, ksub, pqIters, dims, scale)
      cents.write.mode("overwrite").parquet(s"$tmp/cents")
      codebooks.write.mode("overwrite").parquet(s"$tmp/codebooks")
      cand.write.mode("overwrite").parquet(s"$tmp/cand")
    }
    (spark.read.parquet(s"$path/cents"),
      spark.read.parquet(s"$path/codebooks"),
      spark.read.parquet(s"$path/cand"))
  }

  /** ADC multi-probe search over a PREBUILT PQ index — same answers as
    * [[ivfPqTopKMultiProbe]] under identical training parameters; the
    * query plan touches only the three index tables and the queries'
    * own vectors. */
  def ivfPqTopKFromIndex(queries: DataFrame, cents: DataFrame,
                         codebooks: DataFrame, cand: DataFrame,
                         id: String, vec: String, k: Int, subspaces: Int,
                         dims: Int, nprobe: Int,
                         scale: Double = 1e6): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1; got $nprobe")
    // CONTRACT: subspaces/dims/scale must match the parameters the index
    // was TRAINED with — a mismatch slices residuals on the wrong
    // boundaries and still joins on (cell, m, code), returning plausible
    // but wrong neighbors with no error. The divisibility check catches
    // the truncated-slice case outright.
    require(dims % subspaces == 0,
      s"subspaces=$subspaces must divide dims=$dims (and both must match the trained index)")
    pqAdcSearch(fixedPts(queries, id, vec, scale), cents, codebooks, cand,
      k, subspaces, dims, nprobe)
  }

  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, corpus: DataFrame,
                id: String, vec: String, k: Int, kCells: Int,
                coarseIters: Int, subspaces: Int, ksub: Int, pqIters: Int,
                dims: Int, scale: Double = 1e6): DataFrame =
    ivfPqTopKMultiProbe(queries, candidates, corpus, id, vec, k, kCells,
      coarseIters, subspaces, ksub, pqIters, dims, nprobe = 1, scale)

  /** Shared IVF-PQ index build: coarse quantizer + residuals + the M
    * grouped-trained codebooks + per-candidate codes. Returns
    * (pts, cents, codebooks, cand) where cand carries
    * (cand_id, cm, ccode, cell). */
  private def pqIndex(candidates: DataFrame, corpus: DataFrame, id: String,
                      vec: String, kCells: Int, coarseIters: Int,
                      subspaces: Int, ksub: Int, pqIters: Int, dims: Int,
                      scale: Double): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(dims % subspaces == 0,
      s"subspaces=$subspaces must divide dims=$dims")
    val subDim = dims / subspaces
    val (pts, cents) = kmeansCore(corpus, id, vec, kCells, coarseIters, scale)
    // residuals, materialized once: the codebook fit + encodings + the
    // query LUTs all re-read this narrow (pid, cell, rf) block
    val res = assignCells(pts, cents)
      .join(broadcast(cents), "cell")
      .select(col("pid"), col("cell"),
        vecSubFixed(col("pf"), col("cf")).as("rf"))
      .transform(GraftGlue.materialize(_))
    def subOf(m: Int): Column = slice(col("rf"), m * subDim + 1, subDim)
    def subArr: Column = array((0 until subspaces).map(subOf): _*)
    // one row per (point, subspace), pid-partitioned and materialized:
    // every downstream pass (2 Lloyd rounds, encode, LUT) reuses this
    // block and its partitioning — the M codebooks train TOGETHER in
    // pqIters grouped rounds instead of M·pqIters sequential ones
    val resM = res
      .select(col("pid"), col("cell"), posexplode(subArr).as(Seq("m", "pf")))
      .transform(Relational.spread(_, col("pid"))).transform(GraftGlue.materialize(_))
    // seeds: the ksub smallest-digest points, cell ids in digest order —
    // the same seedless hash-sample as lloydFixed, sliced once per m
    val seeds = res
      .withColumn("h", md5(col("pid").cast("string")))
      .orderBy(col("h")).limit(ksub)
      .withColumn("cell", row_number().over(Window.orderBy(col("h"))).cast("int"))
      .select(col("cell"), posexplode(subArr).as(Seq("m", "cf")))
      .select(col("m"), col("cell"), col("cf"))
    val codebooks = lloydFixedGrouped(
      resM.select(col("pid"), col("m"), col("pf")), seeds, pqIters)
    // candidate codes: per-subspace nearest codeword, one grouped argmin
    // over all m at once (resM is pid-partitioned, so no new exchange)
    val cresM = resM.join(candidates.select(col(id).as("pid")), "pid")
    val cand = assignCellsGrouped(
        cresM.select(col("pid"), col("m"), col("pf")), codebooks)
      .select(col("pid").as("cand_id"), col("m").as("cm"), col("cell").as("ccode"))
      .join(res.select(col("pid").as("cand_id"), col("cell")), "cand_id")
    (pts, cents, codebooks, cand)
  }

  /** Sign-LSH near-dup pairs: bucket by hyperplane signs (equi-join key),
    * verify with exact cosine. The shuffle is on the (table, bucket) id —
    * pair count drops from n²/2 to Σ_b |b|²/2 per table.
    *
    * `tables` > 1 turns on OR-amplification: each table hashes a
    * different dimension slice, a pair is a candidate if ANY table
    * buckets it together — recall 1-(1-p^bits)^tables at candidate cost
    * ×tables. Single-table recall at moderate similarity is poor by
    * construction ((1-θ/π)^bits); multi-table is the production setting. */
  def lshNearDupPairs(df: DataFrame, id: String, vec: String, bits: Int,
                      threshold: Double, tables: Int = 1): DataFrame = {
    val buckets = array((0 until tables).map(t =>
      signBucket(col("vec_d"), bits, t * bits)): _*)
    val v = df.select(col(id), toDoubleVec(col(vec)).as("vec_d"))
      .select(col(id), col("vec_d"),
        posexplode(buckets).as(Seq("table_idx", "bucket")))
    val a = v.select(col("table_idx"), col("bucket"), col(id).as("id_a"), col("vec_d").as("va"))
    val b = v.select(col("table_idx"), col("bucket"), col(id).as("id_b"), col("vec_d").as("vb"))
    a.join(b, Seq("table_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosineFast(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact cosine near-dup pairs over a bounded id range — the O(n²)
    * baseline the LSH path is checked against. */
  def bruteForceNearDupPairs(df: DataFrame, id: String, vec: String,
                             threshold: Double): DataFrame = {
    val a = prep(df, id, vec, "id_a", "va")
    val b = prep(df, id, vec, "id_b", "vb")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosineFast(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    * by clustering embeddings with k-means, then pruning, WITHIN each
    * cluster, every point whose cosine similarity to a lower-id
    * clustermate reaches `threshold` — the lowest id of each semantic
    * near-dup group survives. Returns survivors (id, cell) — integer
    * columns only, so the cross-engine compare is float-noise-free.
    *
    * Scale shape: the cluster assignment is [[kmeansAssign]] (fixed-
    * point Lloyd, one upfront shuffle); the pair stage is an equi-join
    * on `cell`, so pair cost is Σ_c n_c² — SemDeDup's design point is
    * that k is chosen ∝ n to bound the cell population (the paper runs
    * k=50k on LAION), turning the quadratic global problem into
    * bounded-size local ones. No cartesian product exists in the plan;
    * the cell equi-key is pinned by ScalePostureSpec. */
  def semDedupKeepers(df: DataFrame, id: String, vec: String, k: Int,
                      iters: Int, threshold: Double): DataFrame = {
    val cells = kmeansAssign(df, id, vec, k, iters)
    val v = prep(df, id, vec, id, "vec_d").join(cells, id)
    val a = v.select(col("cell"), col(id).as("id_a"), col("vec_d").as("va"))
    val b = v.select(col("cell"), col(id).as("id_b"), col("vec_d").as("vb"))
    val pruned = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineFast(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as(id)).distinct()
    v.join(pruned, Seq(id), "left_anti").select(col(id), col("cell"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein
    * SIGIR'98): greedily pick k of the topN candidates maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — relevance traded
    * against redundancy, the standard diversity pass after any
    * retriever (and the dedup-at-selection-time step of a RAG stack).
    *
    * Scale shape: ONE corpus-proportional stage (the broadcast cosine
    * scoring that produces the topN relevance list — swap in ivfTopK
    * candidates at scale); everything after runs on the topN×topN sim
    * grid and k tiny argmax rounds, each a sort-limit over ≤ topN rows
    * (checkpointed so plan depth stays O(1) across rounds). Rank 1
    * reports mmr = rel (no selected set to repel from yet). Greedy is
    * inherently sequential in k — the bounded-frame fold IS the
    * distributed-friendly formulation. */
  def mmrRerank(query: DataFrame, candidates: DataFrame, id: String,
                vec: String, topN: Int, k: Int, lambda: Double): DataFrame = {
    require(k >= 1 && topN >= k, s"need topN >= k >= 1, got topN=$topN k=$k")
    val q = prep(query, id, vec, "query_id", "qv")
    val c = prep(candidates, id, vec, "cand_id", "cv")
    val cands = c.crossJoin(broadcast(q))
      .select(col("cand_id"), col("cv"),
        cosineFast(col("qv"), col("cv")).as("rel"))
      .orderBy(col("rel").desc, col("cand_id")).limit(topN)
      .transform(GraftGlue.materialize(_))
    val sims = cands.select(col("cand_id").as("a"), col("cv").as("av"))
      .crossJoin(broadcast(
        cands.select(col("cand_id").as("b"), col("cv").as("bv"))))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), cosineFast(col("av"), col("bv")).as("sim"))
      .transform(GraftGlue.materialize(_))
    var sel = cands.orderBy(col("rel").desc, col("cand_id")).limit(1)
      .select(col("cand_id"), lit(1).as("rank"), col("rel").as("mmr"))
      .transform(GraftGlue.materialize(_))
    for (t <- 2 to k) {
      val m = sims
        .join(broadcast(sel.select(col("cand_id").as("b"))), Seq("b"))
        .groupBy(col("a")).agg(max(col("sim")).as("max_sim"))
      val pick = cands
        .join(sel.select(col("cand_id")), Seq("cand_id"), "left_anti")
        .join(m, col("cand_id") === col("a"))
        .select(col("cand_id"),
          (lit(lambda) * col("rel") -
            (lit(1.0) - lit(lambda)) * col("max_sim")).as("mmr"))
        .orderBy(col("mmr").desc, col("cand_id")).limit(1)
        .select(col("cand_id"), lit(t).as("rank"), col("mmr"))
      sel = GraftGlue.materialize(sel.unionByName(pick))
    }
    sel.select(col("rank"), col("cand_id"), col("mmr"))
  }

  // ------------------------------------------------------------------
  // PCA: exact scatter matrix + deterministic power iteration
  // ------------------------------------------------------------------

  /** Exact integer scatter matrix of a fixed-point quantization of the
    * embedding column: for 0 ≤ i ≤ j < dims, `c_num = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ`
    * over `x = round(v·scale)` — that is n² × the sample covariance,
    * kept as an EXACT integer so PCA training is engine-portable (no
    * float summation order anywhere).
    *
    * Plan shape (the 100 TB story): the d(d+1)/2 per-row products come
    * from two chained `posexplode`s over the quantized array — a NARROW
    * expansion, no join, fully inside whole-stage codegen — and the only
    * shuffle is the final hash aggregate over d(d+1)/2 = O(d²) groups,
    * which map-side combines each task's expansion down to ≤ 2080 rows
    * (d=64) regardless of input size. Per-row products are ≤ (scale·B)²
    * and accumulate in DECIMAL(38,0), so the sums stay exact far past
    * any realistic corpus; the final `c_num` is returned as BIGINT,
    * valid while |c_num| ≤ 2·n²·(scale·B)² < 2⁶³ (B = max |component| —
    * at the default scale=1e3 and B<1 that holds to n ≈ 2·10⁶; larger
    * corpora lower `scale`, they don't change the plan). DECIMAL
    * arithmetic overflows to NULL rather than wrapping, so an
    * out-of-envelope run surfaces as missing rows, never a wrong sum. */
  def embScatter(df: DataFrame, vec: String, dims: Int,
                 scale: Double = 1e3): DataFrame =
    scatterFromSums(embPairSums(df, vec, dims, scale),
      embMarginals(df, vec, scale))

  private def d38(c: Column): Column = c.cast("decimal(38,0)")

  /** The ADDITIVE half of [[embScatter]]: raw pair sums (i, j, sxy) for
    * 0 ≤ i ≤ j < dims over the fixed-point grid. Because these are plain
    * sums, the frames of DISJOINT corpus slices merge by addition — the
    * property that makes PCA training incrementally MAINTAINABLE (q188):
    * a daily ingest aggregates only its delta and folds it into the
    * stored moment table; no rescan of history, ever. */
  def embPairSums(df: DataFrame, vec: String, dims: Int,
                  scale: Double = 1e3): DataFrame =
    df.select(toFixedVec(col(vec), scale).as("xf"))
      .select(col("xf"), posexplode(col("xf")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(slice(col("xf"), col("i") + 1, lit(dims))).as(Seq("dj", "xj")))
      .select(col("i"), (col("i") + col("dj")).as("j"),
        (col("xi") * col("xj")).as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(d38(col("p"))).as("sxy"))

  /** The other additive half: per-dimension sums and the row count. */
  def embMarginals(df: DataFrame, vec: String,
                   scale: Double = 1e3): DataFrame =
    df.select(posexplode(toFixedVec(col(vec), scale)).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(sum(d38(col("xi"))).as("sx"), count(lit(1)).as("n"))

  /** Finalize scatter entries from (merged) moment frames:
    * c_num = n·Σxy − Σxᵢ·Σxⱼ. Marginals are d rows — broadcast. */
  def scatterFromSums(pair: DataFrame, marg: DataFrame): DataFrame =
    pair
      .join(broadcast(marg.select(col("i"), col("sx").as("sxi"), col("n"))), "i")
      .join(broadcast(marg.select(col("i").as("j"), col("sx").as("sxj"))), "j")
      .select(col("i"), col("j"),
        (d38(col("n")) * col("sxy") - col("sxi") * col("sxj"))
          .cast("long").as("c_num"))

  /** Dominant principal component by max-norm power iteration on the
    * exact scatter matrix, ENTIRELY in integers — so the trained
    * component is bit-reproducible on any engine (the DuckDB oracle
    * replays the identical iteration as unrolled CTEs; q185).
    *
    * The scatter aggregation above is the data-proportional part; the
    * d×d solve collects d(d+1)/2 exact entries to the driver (bounded
    * by DIMENSIONS², never rows — the same legitimacy class as
    * [[graft.operators.Stats]]' k² Gram solve) and iterates in BigInt:
    * v ← (A·v)·V ∕ max|A·v| (sign-split floor division, start vector
    * all-V), `iters` rounds. Max-norm renormalization instead of L2
    * keeps every step in ℤ — no sqrt, no float, no rounding mode to
    * disagree on. Output: one row per dimension (pos 1-based, loading
    * ∈ [−V, V]) plus the explained-variance share of the component as
    * exact ppm (⌊10⁶·vᵀAv ∕ (vᵀv·trace A)⌋ — Rayleigh quotient over
    * total variance, nonnegative since A is PSD). */
  def pcaTopComponent(df: DataFrame, vec: String, dims: Int,
                      scale: Double = 1e3, iters: Int = 12,
                      vScale: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // entries default to 0: an empty corpus (or an absent (i,j) pair)
    // contributes nothing to the scatter, and null BigInt cells would
    // NPE inside the matrix-vector product
    val a = Array.fill[BigInt](dims, dims)(BigInt(0))
    embScatter(df, vec, dims, scale).collect().foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      // c_num is NULL when the DECIMAL→BIGINT cast overflowed — the row
      // is PRESENT, not missing, so getLong would throw an opaque NPE
      require(!r.isNullAt(2),
        s"scatter entry ($i,$j) overflowed the BIGINT envelope — lower `scale`")
      val v = BigInt(r.getLong(2))
      a(i)(j) = v; a(j)(i) = v
    }
    val vSc = BigInt(vScale)
    var v = Array.fill(dims)(vSc)
    for (_ <- 1 to iters) {
      val mv = Array.tabulate(dims)(i =>
        (0 until dims).map(j => a(i)(j) * v(j)).sum)
      val mx = mv.map(_.abs).max
      // mx == 0 (A·v ≡ 0, i.e. a zero scatter matrix) degenerates to the
      // zero vector — same branch the oracle CTE takes, so the two stay
      // bit-equal even on constant-embedding corpora
      v = if (mx > 0) mv.map(m => m.signum * (m.abs * vSc / mx)) else mv
    }
    val num = (for (i <- 0 until dims; j <- 0 until dims)
      yield v(i) * a(i)(j) * v(j)).sum
    val den = v.map(x => x * x).sum * (0 until dims).map(i => a(i)(i)).sum
    val evPpm = if (den > 0) (num * 1000000 / den).toLong else 0L
    spark.createDataset(
      (0 until dims).map(i => (i + 1L, v(i).toLong, evPpm)))
      .toDF("pos", "loading", "ev_ppm")
  }

  /** Top-k orthonormal principal components by power iteration with
    * Hotelling deflation, double precision (the multi-component basis
    * is spec-pinned — variance ordering, orthonormality, reconstruction
    * monotonicity — rather than oracled: only the top-1 integer path
    * above is cross-engine exact). Returns the k×d basis, row-major. */
  def pcaBasis(df: DataFrame, vec: String, dims: Int, k: Int,
               scale: Double = 1e3, iters: Int = 50): Array[Array[Double]] = {
    require(k >= 1 && k <= dims, s"need 1 <= k <= dims, got k=$k dims=$dims")
    // zero-filled by construction (Array.ofDim[Double]); but an
    // overflowed c_num is NULL (row present), and getLong on it NPEs
    val a = Array.ofDim[Double](dims, dims)
    embScatter(df, vec, dims, scale).collect().foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      require(!r.isNullAt(2),
        s"scatter entry ($i,$j) overflowed the BIGINT envelope — lower `scale`")
      val v = r.getLong(2).toDouble
      a(i)(j) = v; a(j)(i) = v
    }
    val basis = Array.ofDim[Double](k, dims)
    for (c <- 0 until k) {
      var v = Array.tabulate(dims)(i => 1.0 / math.sqrt(dims.toDouble))
      for (_ <- 1 to iters) {
        val mv = Array.tabulate(dims)(i =>
          (0 until dims).map(j => a(i)(j) * v(j)).sum)
        val n = math.sqrt(mv.map(x => x * x).sum)
        if (n > 0) v = mv.map(_ / n)
      }
      basis(c) = v
      // deflate: A ← A − λvvᵀ with λ the Rayleigh quotient
      val lam = (for (i <- 0 until dims; j <- 0 until dims)
        yield v(i) * a(i)(j) * v(j)).sum
      for (i <- 0 until dims; j <- 0 until dims)
        a(i)(j) -= lam * v(i) * v(j)
    }
    basis
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (k×d), entry
    * (r, i) = +1 iff the first hex digit of md5("jl:r:i") is even (i is
    * 1-based to match the SQL mirror's `range(1, d+1)`). Achlioptas
    * (JCSS 2003) showed ±1 entries satisfy the JL lemma like Gaussians;
    * deriving them from md5 makes the matrix a pure FUNCTION — no seed
    * state to ship, any engine regenerates it bit-identically. */
  def jlSigns(k: Int, dims: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, dims) { (r, i) =>
      val h = md.digest(s"jl:$r:${i + 1}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1L else -1L
    }
  }

  /** JL random projection of the embedding column, exact-integer: each
    * output coordinate is y_r = Σᵢ round(vᵢ·scale)·s(r,i) with the ±1
    * signs above — the data-INDEPENDENT dimensionality reduction. Where
    * [[pcaBasis]] spends a training pass to find the best k directions,
    * JL needs none at all and still preserves pairwise distances within
    * (1±ε) for k = O(log n / ε²) — at 100 TB it is the first-cut
    * reduction you run while the PCA scatter pass is still a plan. One
    * narrow codegen map per row (the k·d sign matrix rides along as a
    * broadcast literal, ~k·d bytes); no shuffle, no state, and because
    * every arithmetic step is an exact integer, the projected
    * coordinates — not a float approximation of them — hash-match the
    * oracle's re-derivation. Returns (id, r, y) rows. */
  def jlProject(df: DataFrame, id: String, vec: String, k: Int,
                dims: Int, scale: Double = 1e3): DataFrame = {
    val signs = jlSigns(k, dims)
    // materialize the fixed-point grid ONCE per row (the embScatter
    // discipline): inlining toFixedVec into every y_r would evaluate
    // the interpreted transform HOF k times per row
    val quant = df.select(col(id), toFixedVec(col(vec), scale).as("__xf"))
    val ys = signs.map { row =>
      val lits = array(row.map(lit): _*)
      aggregate(zip_with(col("__xf"), lits, (x, s) => x * s),
        lit(0L), (a, x) => a + x)
    }
    quant.select(col(id), posexplode(array(ys.toIndexedSeq: _*)).as(Seq("r", "y")))
  }

  /** Project the embedding column onto a PCA basis (k×d, from
    * [[pcaBasis]]): appends `out` = array<double> of k scores. The basis
    * is a broadcast literal (k·d doubles); the projection itself is a
    * narrow codegen'd map — at 100 TB this is the dimensionality-
    * reduction pass that runs BEFORE brute-force/IVF scoring, shrinking
    * every downstream distance loop from d to k multiplies. */
  def pcaProject(df: DataFrame, vec: String, basis: Array[Array[Double]],
                 out: String): DataFrame = {
    val vd = toDoubleVec(col(vec))
    val scores = basis.map { row =>
      val lits = array(row.map(lit): _*)
      aggregate(zip_with(vd, lits, (x, b) => x * b), lit(0.0), (s, x) => s + x)
    }
    df.withColumn(out, array(scores.toIndexedSeq: _*))
  }

  // ------------------------------------------------------------------
  // Multimodal similarity SEARCH: query-by-image/audio over a sketch
  // store (the MediaSketch consumer the ANN family was missing — the
  // embedding ladder above, replayed on the Hamming metric).
  // ------------------------------------------------------------------

  private def chunksOf(n: Int): Seq[String] = (0 until n).map(k => s"c$k")

  /** Top-k by token-set Jaccard through the sparse intersection join —
    * the SEARCH form of [[graft.operators.Dedup.sparseJaccardPairs]]:
    * for each query's token set, candidates are every corpus row
    * sharing ≥ 1 token (the inverted-index contract — disjoint
    * candidates score 0 and are unreachable by construction, exactly
    * what a search index returns), scored by exact Jaccard via
    * inclusion–exclusion over the intersection count, ranked with a
    * deterministic (score desc, cand_id asc) tie-break on the ROUNDED
    * score (6 dp — the oracle rounds identically, so rank order is
    * engine-independent). Queries are broadcast (small-|Q| search
    * contract, the q87 discipline); the token equi-join keeps cost
    * Σ df(tok)·|Q-side postings| — never all-pairs. Token sets must
    * be distinct-element arrays (collect_set output). */
  def jaccardTopK(queries: DataFrame, candidates: DataFrame, id: String,
                  toks: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val qsz = queries.select(col(id).as("query_id"), size(col(toks)).as("nq"))
    val csz = candidates.select(col(id).as("cand_id"), size(col(toks)).as("nc"))
    val qt = queries.select(col(id).as("query_id"), explode(col(toks)).as("tok"))
    val ct = candidates.select(col(id).as("cand_id"), explode(col(toks)).as("tok"))
    val inter = ct.join(broadcast(qt), Seq("tok"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(count(lit(1)).as("n_inter"))
    val scored = inter.join(broadcast(qsz), "query_id").join(csz, "cand_id")
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("nq") + col("nc") - col("n_inter")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("jaccard").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("jaccard"))
  }

  /** Brute-force Hamming top-k over a chunked 64-bit sketch table (the
    * c0..c3 house shape [[graft.operators.Dedup.simhashChunks]] /
    * dHash / audio fingerprints all share): every query sketch against
    * every candidate sketch, exact chunked-Hamming popcount distance,
    * deterministic (dist, cand_id) tie-broken `row_number` top-k per
    * query. The EXACTNESS BASELINE of the Hamming ladder, mirroring
    * [[bruteForceTopK]] on cosine: queries broadcast (top-k search is a
    * small-|Q| operation by contract), so the plan is ONE narrow pass
    * over the candidate table — a BroadcastNestedLoopJoin whose build
    * side is |Q| rows, never a shuffle of the corpus. At corpus scale
    * the pruned variant below replaces the scan; this one remains the
    * recall ground truth it is judged against (the q87/q93 ladder). */
  def hammingTopK(queries: DataFrame, candidates: DataFrame, id: String,
                  k: Int, nChunks: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(nChunks >= 2, s"nChunks=$nChunks: need >= 2 chunk columns")
    val Chunks = chunksOf(nChunks)
    val q = queries.select(col(id).as("query_id") +:
      Chunks.map(c => col(c).as(s"q$c")): _*)
    val c = candidates.select(col(id).as("cand_id") +: Chunks.map(col): _*)
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("dist", Dedup.hammingChunks(
        Chunks.map(ch => col(s"q$ch")), Chunks.map(col)).cast("int"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("dist"))
  }

  /** Radius-bounded Hamming k-NN through band blocking — the SCALE path
    * of the query-by-sketch ladder: candidates come from the
    * (band_idx, band_value) equi-join between the query band table and
    * the corpus band table (the [[graft.operators.Dedup
    * .hammingBandedPairs]] blocking, asymmetric query-vs-corpus), are
    * verified at exact chunked Hamming ≤ `radius`, and the survivors
    * rank into a deterministic (dist, cand_id) top-k per query. The
    * pigeonhole makes recall EXACT within the radius: `radius` <
    * `nBands` forces every true neighbor to agree with the query on ≥ 1
    * band, so the banded result equals the brute-force result filtered
    * to dist ≤ radius — a THEOREM the oracle checks, not a tuning
    * claim. Unlike the self-join pair operator, no stop-bucket cap is
    * needed for boundedness: each corpus band row meets at most |Q|
    * query rows (≤ |Q| entries per band value on the build side), so
    * the join cost is |Q|-linear in the corpus, never quadratic — the
    * skew ceiling is per-bucket |Q|·occupancy, which the 16-bit band
    * space (nBands = 4) keeps sparse at corpus density where 8-bit
    * bands saturate (the q255 density story, answered the same way as
    * q261's). */
  def hammingTopKBanded(queries: DataFrame, candidates: DataFrame,
                        id: String, k: Int, radius: Int,
                        nBands: Int = 4, nChunks: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(radius >= 0 && radius < nBands,
      s"radius=$radius: $nBands-band pigeonhole only guarantees recall for d <= ${nBands - 1}")
    // the 64-bit house sketch (4 chunks) keeps the shared 4/8-band
    // derivation; a wider sketch bands on GROUPS of its chunk columns —
    // any divisor (round-16: previously 1:1 only), so a 256-bit sketch
    // can trade radius for bucket sparsity WITHOUT changing sketch
    // width (8 bands of 2 chunks = 32-bit band values, radius ≤ 7:
    // each band value space squares, so buckets stay sparse at corpus
    // densities where the 16-bit bands crowd). The pigeonhole is per
    // BAND (a group of chunks): d ≤ radius < nBands still forces some
    // whole group to agree, so within-radius recall stays exact.
    require(nChunks == 4 || nChunks % nBands == 0,
      s"nChunks=$nChunks sketches band on chunk GROUPS: nBands must divide nChunks, got $nBands")
    val Chunks = chunksOf(nChunks)
    // null chunks refuse loudly at the shared projections: concat_ws
    // would silently skip them and void the per-band pigeonhole (the
    // Dedup.nonNullChunk rationale — round-16 advice)
    val qsk = queries.select(col(id).as("query_id") +:
      Chunks.map(c => Dedup.nonNullChunk(col(id), c).as(s"q$c")): _*)
      .transform(GraftGlue.materialize(_))
    val csk = candidates.select(col(id).as("cand_id") +:
      Chunks.map(c => Dedup.nonNullChunk(col(id), c).as(c)): _*)
    def bandExprs: Seq[Column] =
      if (nChunks == 4) Dedup.hammingBandExprs(nBands)
      else {
        // one band per GROUP of nChunks/nBands chunk columns; the band
        // value concatenates the group's chunks (string-keyed like the
        // suppression indexes' band_hash — the join key's type does
        // not affect the verify, which is exact chunked Hamming)
        val per = nChunks / nBands
        (0 until nBands).map(b => concat_ws(":",
          Chunks.slice(b * per, (b + 1) * per)
            .map(c => col(c).cast("string")): _*))
      }
    // band tables through the ONE shared derivation (band exprs name
    // c0..cN, so the query side re-projects its q-prefixed chunks
    // back to chunk names first)
    val qBands = qsk.select(col("query_id") +: Chunks.map(c => col(s"q$c").as(c)): _*)
      .select(col("query_id"),
        posexplode(array(bandExprs: _*)).as(Seq("bi", "bv")))
    val cBands = csk.select(col("cand_id"),
      posexplode(array(bandExprs: _*)).as(Seq("bi", "bv")))
    val cand = cBands.join(broadcast(qBands), Seq("bi", "bv"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id")).distinct()
    val scored = cand
      .join(broadcast(qsk), "query_id")
      .join(csk, "cand_id")
      .withColumn("dist", Dedup.hammingChunks(
        Chunks.map(ch => col(s"q$ch")), Chunks.map(col)).cast("int"))
      .filter(col("dist") <= radius)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("dist"))
  }
}
