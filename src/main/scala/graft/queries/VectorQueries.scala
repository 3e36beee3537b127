package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity}

/** Embedding similarity-search suite over `embeddings` (64-dim float
  * vectors): brute-force baseline, IVF-style pruning, sign-LSH bucketing.
  * Cosine is computed in double precision by sequential fold on both
  * engines, so thresholds and ranks hash-match exactly.
  */
object VectorQueries {

  private def emb(s: SparkSession, d: String): DataFrame = Tables(s, d, "embeddings")

  /** [[Store]] key of the shared q96/q115 PQ index (the q172
    * discipline: a retouched corpus file invalidates the index). */
  private def pqLayout(d: String): String =
    Store.key(d, Seq("embeddings"), "pq_k8_i3_m8_ks16_i2")

  /** DuckDB double-precision dot product over the 64 dims. */
  private def sqlDot(a: String, b: String): String =
    s"(SELECT sum($a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE) FROM range(1, 65) t(i))"

  private def sqlNorm(a: String): String = s"sqrt(${sqlDot(a, a)})"

  /** DuckDB mirror of [[Similarity.kmeansCentroids]]: the same Lloyd
    * iterations as a chained-CTE pipeline (one assign + one update CTE per
    * round), entirely in the fixed-point integer arithmetic the Spark side
    * uses, so centroids and assignments are bit-identical. `af` is the
    * final assignment (vec_id, cell) against the last centroid table. */
  /** DuckDB fixed-point squared distance between `$p.pf` and `$c.cf`. */
  private def fixedDistSql(p: String, c: String, dims: Int): String =
    s"list_sum(list_transform(range(1, ${dims + 1}), i -> ($p.pf[i]-$c.cf[i])*($p.pf[i]-$c.cf[i])))"

  private def kmeansSql(k: Int, iters: Int, scaleL: Long, dims: Int): String = {
    def dist(p: String, c: String): String = fixedDistSql(p, c, dims)
    val sb = new StringBuilder
    sb ++= s"""p AS (SELECT vec_id, list_transform(embedding, v -> CAST(round(v::DOUBLE * $scaleL) AS BIGINT)) AS pf
        FROM embeddings),
      c0 AS (SELECT cell, cf FROM (
        SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS INTEGER) AS cell, pf AS cf
        FROM p) WHERE cell <= $k)"""
    for (i <- 1 to iters) {
      sb ++= s""",
      a$i AS (SELECT vec_id, cell, pf FROM (
        SELECT p.vec_id, c.cell, p.pf, row_number() OVER (
          PARTITION BY p.vec_id ORDER BY ${dist("p", "c")}, c.cell) AS rn
        FROM p, c${i - 1} c) WHERE rn = 1),
      u$i AS (SELECT cell, list(cv ORDER BY pos) AS cf FROM (
        SELECT cell, i AS pos, CAST(round(sum(pf[i])::DOUBLE / count(*)) AS BIGINT) AS cv
        FROM a$i, range(1, ${dims + 1}) t(i) GROUP BY cell, i) GROUP BY cell),
      c$i AS (SELECT cell, coalesce(u.cf, o.cf) AS cf FROM c${i - 1} o LEFT JOIN u$i u USING (cell))"""
    }
    sb ++= s""",
      af AS (SELECT vec_id, cell FROM (
        SELECT p.vec_id, c.cell, row_number() OVER (
          PARTITION BY p.vec_id ORDER BY ${dist("p", "c")}, c.cell) AS rn
        FROM p, c$iters c) WHERE rn = 1)"""
    sb.result()
  }

  /** DuckDB mirror of [[Similarity.lloydFixed]] over an existing CTE
    * `src(pid, pf)`: emits centroid CTEs `${p}0 .. ${p}$iters` (cell, cf)
    * with the same md5-digest seeding, integer distances, round-to-grid
    * updates and empty-cell carry-over as the Spark loop. */
  private def lloydSql(src: String, p: String, k: Int, iters: Int,
                       dims: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""${p}0 AS (SELECT cell, cf FROM (
        SELECT CAST(row_number() OVER (ORDER BY md5(CAST(pid AS VARCHAR))) AS INTEGER) AS cell, pf AS cf
        FROM $src) WHERE cell <= $k)"""
    for (i <- 1 to iters) {
      sb ++= s""",
      ${p}a$i AS (SELECT pid, cell, pf FROM (
        SELECT s.pid, c.cell, s.pf, row_number() OVER (
          PARTITION BY s.pid ORDER BY ${fixedDistSql("s", "c", dims)}, c.cell) AS rn
        FROM $src s, ${p}${i - 1} c) WHERE rn = 1),
      ${p}u$i AS (SELECT cell, list(cv ORDER BY pos) AS cf FROM (
        SELECT cell, i AS pos, CAST(round(sum(pf[i])::DOUBLE / count(*)) AS BIGINT) AS cv
        FROM ${p}a$i, range(1, ${dims + 1}) t(i) GROUP BY cell, i) GROUP BY cell),
      ${p}$i AS (SELECT cell, coalesce(u.cf, o.cf) AS cf FROM ${p}${i - 1} o LEFT JOIN ${p}u$i u USING (cell))"""
    }
    sb.result()
  }

  val all: Seq[(String, Q)] = Seq(

    // ------------------------------------------------ embedding near-dups
    // Exact cosine near-dup pairs over a bounded id range: the O(n²)
    // ground truth for the LSH variant below. Output is ids only —
    // float-free, so the hash compare is exact.
    "q45_embed_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        Similarity.bruteForceNearDupPairs(
            emb(s, d).filter($"vec_id" < 300), "vec_id", "embedding", 0.4)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH n AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id < 300)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM n a, n b WHERE a.vec_id < b.vec_id
          AND ${sqlDot("a", "b")} / (a.nrm * b.nrm) >= 0.4
        ORDER BY id_a, id_b"""),
      "embedding-cosine near-dup pairs (brute-force ground truth)"),

    // --------------------------------------------------- brute-force ANN
    // Cosine top-5 for a broadcast query set against all candidates —
    // one narrow pass over candidates + a per-query rank window.
    "q46_ann_bruteforce" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        Similarity.bruteForceTopK(
            e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10),
            "vec_id", "embedding", 5)
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH q AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id >= 10),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS sim FROM q, c)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank"""),
      "brute-force cosine top-k (exactness baseline)"),

    // ------------------------------------------------------ IVF-style ANN
    // Partition-pruned top-k: each query searches only its coarse cell
    // (the precomputed label plays the k-means assignment). |C|/cells of
    // the data per query — the scale path when |C| is huge.
    "q47_ann_ivf" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        Similarity.ivfTopK(
            e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10),
            "vec_id", "embedding", "label", 3)
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH q AS (SELECT vec_id, label, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, label, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id >= 10),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS sim
          FROM q, c WHERE q.label = c.label)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
          FROM scored)
        WHERE rank <= 3 ORDER BY query_id, rank"""),
      "IVF-style partition-pruned ANN via coarse-cell equi-join"),

    // -------------------------------------------------------- sign-LSH ANN
    // Hyperplane-sign bucket join (8 bits → ~256× pair pruning) + exact
    // cosine verify. Bucket arithmetic is integer, so the oracle matches.
    "q48_ann_lsh_bucket" -> Q(
      (s, d) => {
        import s.implicits._
        Similarity.lshNearDupPairs(
            emb(s, d).filter($"vec_id" < 500), "vec_id", "embedding",
            bits = 8, threshold = 0.3)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm,
          CAST(list_sum(list_transform(range(1, 9), i ->
            CASE WHEN embedding[i] > 0 THEN CAST(2**(i-1) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
          FROM embeddings WHERE vec_id < 500)
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM v a, v b WHERE a.bucket = b.bucket AND a.vec_id < b.vec_id
          AND ${sqlDot("a", "b")} / (a.nrm * b.nrm) >= 0.3
        ORDER BY id_a, id_b"""),
      "sign-LSH bucketed near-dup search with exact re-rank"),

    // --------------------------------------------------- k-NN classification
    // Downstream use of the ANN surface: label propagation by majority
    // vote of the cosine top-10 neighbors (deterministic tie-break toward
    // the smaller label). Votes are integer counts, so the hash compare
    // is float-free; the scale path swaps the brute-force candidate
    // stage for IVF/LSH candidates with the identical vote tail.
    "q74_knn_classify" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        Similarity.knnClassify(
            e.filter($"vec_id" < 20), e.filter($"vec_id" >= 20),
            "vec_id", "embedding", "label", 10)
          .select($"query_id", $"pred_label", $"votes")
          .orderBy($"query_id")
      },
      Some(s"""WITH q AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id, label, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id >= 20),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
            c.label AS cand_label, ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS sim
          FROM q, c),
        topk AS (SELECT query_id, cand_label FROM (
          SELECT query_id, cand_label, row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, cand_id) AS rank
          FROM scored)
          WHERE rank <= 10),
        votes AS (SELECT query_id, cand_label, count(*) AS votes
          FROM topk GROUP BY query_id, cand_label)
        SELECT query_id, pred_label, votes FROM (
          SELECT query_id, cand_label AS pred_label, votes, row_number() OVER (
            PARTITION BY query_id ORDER BY votes DESC, cand_label) AS rn
          FROM votes)
        WHERE rn = 1 ORDER BY query_id"""),
      "k-NN majority-vote label propagation over the embedding space"),

    // --------------------------------------------------- semantic dedup
    // SemDeDup-shaped pipeline (Abbas et al. 2023): cosine ≥ 0.35 pair
    // graph over the embedding space → connected-component clusters →
    // keep-first keeper per cluster. Same clustering entry point as the
    // text path (q75) — [[Dedup.cluster]], routing to star contraction —
    // fed by the vector pair stage; at scale, swap the brute-force pairs
    // for [[Similarity.lshNearDupPairs]]/IVF candidates; the
    // component/keeper tail is identical. The DuckDB oracle reaches the
    // same fixpoint via a recursive CTE, so the full iterative pipeline
    // is hash-verified.
    "q78_semdedup_clusters" -> Q(
      (s, d) => {
        import s.implicits._
        val base = emb(s, d).filter($"vec_id" < 300)
        val pairs = Similarity.bruteForceNearDupPairs(
          base, "vec_id", "embedding", threshold = 0.35)
        // r18: ≤ 300 nodes by construction — driver union-find (bounded-
        // solve discipline, loud require) replaces the star-contraction
        // job loop; identical labels, oracle-verified every run
        val cc = Dedup.clusterBoundedDriver(base.select($"vec_id"),
          "vec_id", pairs, maxNodes = 512)
        val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "cluster_id")
          .select($"id".as("vec_id"), $"cluster_id", $"cluster_size",
            ($"id" === $"cluster_id").cast("int").as("is_keeper"))
          .orderBy($"vec_id")
      },
      Some(s"""WITH RECURSIVE n AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id < 300),
        pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM n a, n b WHERE a.vec_id < b.vec_id
            AND ${sqlDot("a", "b")} / (a.nrm * b.nrm) >= 0.35),
        und AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        walk(id, lbl) AS (
          SELECT vec_id, vec_id FROM embeddings WHERE vec_id < 300
          UNION
          SELECT u.dst, w.lbl FROM walk w JOIN und u ON u.src = w.id),
        cc AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
        sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
        SELECT cc.id AS vec_id, cluster_id, cluster_size,
          CAST(cc.id = cluster_id AS INTEGER) AS is_keeper
        FROM cc JOIN sz USING (cluster_id) ORDER BY vec_id"""),
      "semantic dedup: cosine pair graph -> component clusters -> keepers"),

    // ------------------------------------------------- k-means quantizer
    // The IVF "train" step made real: relational Lloyd iterations (k=8,
    // 3 rounds) over a fixed-point quantization of the embedding space,
    // deterministic md5-digest seeding, integer distances. DuckDB re-runs
    // the identical iterations CTE-by-CTE, so the full learned assignment
    // — every (vec_id, cell) — is hash-verified, not just row counts.
    "q87_kmeans_cells" -> Q(
      (s, d) => {
        import s.implicits._
        Similarity.kmeansAssign(emb(s, d), "vec_id", "embedding",
            k = 8, iters = 3)
          .orderBy($"vec_id")
      },
      Some(s"""WITH ${kmeansSql(k = 8, iters = 3, scaleL = 1000000L, dims = 64)}
        SELECT vec_id, cell FROM af ORDER BY vec_id"""),
      "k-means coarse quantizer: Lloyd iterations as joins + aggregates"),

    // -------------------------------------------- IVF ANN, learned cells
    // q47's IVF search with the precomputed label replaced by the learned
    // k-means assignment — train + index + search end-to-end, all three
    // stages re-derived by the oracle. Each query probes only its own
    // coarse cell (nprobe=1); the exact cosine re-rank runs inside the
    // cell, |C|/k of the data per query.
    "q88_ivf_learned" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val withCell = e.join(
          Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, iters = 3),
          "vec_id")
        Similarity.ivfTopK(
            withCell.filter($"vec_id" < 10), withCell.filter($"vec_id" >= 10),
            "vec_id", "embedding", "cell", 3)
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH ${kmeansSql(k = 8, iters = 3, scaleL = 1000000L, dims = 64)},
        q AS (SELECT e.vec_id, af.cell, e.embedding, ${sqlNorm("e")} AS nrm
          FROM embeddings e JOIN af USING (vec_id) WHERE e.vec_id < 10),
        c AS (SELECT e.vec_id, af.cell, e.embedding, ${sqlNorm("e")} AS nrm
          FROM embeddings e JOIN af USING (vec_id) WHERE e.vec_id >= 10),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS sim
          FROM q, c WHERE q.cell = c.cell)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
          FROM scored)
        WHERE rank <= 3 ORDER BY query_id, rank"""),
      "IVF ANN with the learned k-means assignment: train + index + search"),

    // ----------------------------------------------- hard-negative mining
    // DPR-style contrastive training data (Karpukhin EMNLP 2020): per
    // query, the cosine top-3 among WRONG-label candidates — similar
    // enough to confuse a retriever, labeled different. The label
    // inequality is part of the broadcast join predicate, so wrong-label
    // pruning precedes all scoring.
    "q181_hard_negatives" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        Similarity.hardNegatives(
            e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10),
            "vec_id", "embedding", "label", 3)
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH q AS (SELECT vec_id, label, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, label, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id >= 10),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
            c.label AS cand_label, ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS sim
          FROM q, c WHERE q.label <> c.label)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id, cand_label
        FROM (SELECT query_id, cand_id, cand_label, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
          FROM scored)
        WHERE rank <= 3 ORDER BY query_id, rank"""),
      "hard-negative mining: cosine top-k restricted to wrong-label candidates"),

    // ------------------------------------------------------- SemDeDup
    // Semantic deduplication (Abbas et al., arXiv:2303.09540): k-means
    // the embedding space, then prune, within each cluster, every
    // vector whose cosine to a lower-id clustermate reaches 0.3 — the
    // lowest id of each semantic group survives. The oracle re-derives
    // the full pipeline: Lloyd training (kmeansSql, bit-identical
    // fixed-point), the within-cell pair scan, the anti-join. Output is
    // integer-only so the compare is exact.
    "q180_semdedup" -> Q(
      (s, d) => {
        import s.implicits._
        Similarity.semDedupKeepers(emb(s, d), "vec_id", "embedding",
            k = 8, iters = 3, threshold = 0.3)
          .orderBy($"vec_id")
      },
      Some(s"""WITH ${kmeansSql(k = 8, iters = 3, scaleL = 1000000L, dims = 64)},
        n AS (SELECT e.vec_id, af.cell, e.embedding, ${sqlNorm("e")} AS nrm
          FROM embeddings e JOIN af USING (vec_id)),
        pruned AS (SELECT DISTINCT b.vec_id
          FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE ${sqlDot("a", "b")} / (a.nrm * b.nrm) >= 0.3)
        SELECT vec_id, cell FROM n
        WHERE vec_id NOT IN (SELECT vec_id FROM pruned)
        ORDER BY vec_id"""),
      "SemDeDup: k-means cells + within-cell cosine pruning, keep min id"),

    // ---------------------------------------------- multi-probe IVF ANN
    // q88 with nprobe=3: each query ranks the learned centroids by the
    // quantizer's own fixed-point distance and searches its THREE nearest
    // cells before the exact cosine re-rank — the recall repair for
    // true neighbors that sit across a cell bisector (Jégou TPAMI 2011's
    // production setting; nprobe=1 is the degenerate case q88 keeps as
    // the cheapest point on the curve). The oracle re-derives training,
    // candidate assignment, probe ranking and re-rank end-to-end, so the
    // full multi-probe search result is hash-verified. The recall gain
    // over nprobe=1 is pinned against brute-force truth in
    // SimilaritySpec.
    "q93_ivf_multiprobe" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        Similarity.ivfTopKMultiProbe(
            e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10), e,
            "vec_id", "embedding", k = 5, kCells = 8, iters = 3, nprobe = 3)
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH ${kmeansSql(k = 8, iters = 3, scaleL = 1000000L, dims = 64)},
        qp AS (SELECT vec_id AS query_id, cell FROM (
            SELECT p.vec_id, c.cell, row_number() OVER (
              PARTITION BY p.vec_id ORDER BY ${fixedDistSql("p", "c", 64)}, c.cell) AS rn
            FROM p, c3 c WHERE p.vec_id < 10) WHERE rn <= 3),
        q AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id < 10),
        c AS (SELECT e.vec_id, af.cell, e.embedding, ${sqlNorm("e")} AS nrm
          FROM embeddings e JOIN af USING (vec_id) WHERE e.vec_id >= 10),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS sim
          FROM qp JOIN q ON q.vec_id = qp.query_id
          JOIN c ON c.cell = qp.cell)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank"""),
      "multi-probe IVF: each query searches its nprobe nearest learned cells"),

    // ------------------------------------------ materialized IVF index
    // The index LIFECYCLE at 100 TB: nobody retrains a quantizer per
    // query — the build runs at ingest (materialized once, keyed on the
    // corpus file's mtime: the q94 layout discipline) and the query path
    // reads the centroid + assignment tables, never the training loop.
    // Same quantizer parameters as q93, so the oracle re-derives the
    // identical index from scratch: materialization moves cost, it never
    // changes an answer. nprobe=2 differentiates the probe set from q93.
    "q172_ivf_index_query" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val layout = Store.key(d, Seq("embeddings"), "ivf_k8_i3")
        val (cents, assign) = Similarity.materializeIvfIndex(
          s, e, layout, "vec_id", "embedding", kCells = 8, iters = 3)
        Similarity.ivfTopKFromIndex(
            e.filter($"vec_id" < 10), e.filter($"vec_id" >= 10),
            cents, assign, "vec_id", "embedding", k = 5, nprobe = 2)
          .orderBy($"query_id", $"rank")
      },
      Some(s"""WITH ${kmeansSql(k = 8, iters = 3, scaleL = 1000000L, dims = 64)},
        qp AS (SELECT vec_id AS query_id, cell FROM (
            SELECT p.vec_id, c.cell, row_number() OVER (
              PARTITION BY p.vec_id ORDER BY ${fixedDistSql("p", "c", 64)}, c.cell) AS rn
            FROM p, c3 c WHERE p.vec_id < 10) WHERE rn <= 2),
        q AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm
          FROM embeddings WHERE vec_id < 10),
        c AS (SELECT e.vec_id, af.cell, e.embedding, ${sqlNorm("e")} AS nrm
          FROM embeddings e JOIN af USING (vec_id) WHERE e.vec_id >= 10),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlDot("q", "c")} / (q.nrm * c.nrm) AS sim
          FROM qp JOIN q ON q.vec_id = qp.query_id
          JOIN c ON c.cell = qp.cell)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank"""),
      "query over a MATERIALIZED IVF index: build at ingest, probe-bounded reads after"),

    // ------------------------------------------------------------ IVF-PQ
    // The complete Jégou TPAMI 2011 construction end-to-end: coarse
    // quantizer (q87) → per-point residuals → four 16-dim product
    // codebooks over the residuals (the same Lloyd operator, narrower
    // input) → candidate codes → asymmetric-distance search (per-query
    // integer LUT, candidates scored by 4 table lookups instead of a
    // 64-dim distance). All integer arithmetic, so DuckDB re-derives
    // training, codebooks, codes and ADC scores bit-for-bit — the whole
    // three-stage index pipeline is hash-verified, and SimilaritySpec
    // pins ADC recall against brute-force truth.
    "q96_ivfpq_adc" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        // q96 (nprobe=1) and q115 (nprobe=3) share ONE materialized PQ
        // index (identical training parameters): codebooks train once
        // at ingest under the mtime-keyed layout (q172 discipline) and
        // both searches read the tables — nobody retrains a quantizer
        // per query at 100 TB. Same answers as the train-inline
        // ivfPqTopK (SimilaritySpec pins that equality).
        val (cents, codebooks, cand) = Similarity.materializePqIndex(
          s, e.filter($"vec_id" >= 10), e, pqLayout(d),
          "vec_id", "embedding", kCells = 8, coarseIters = 3,
          subspaces = 8, ksub = 16, pqIters = 2, dims = 64)
        Similarity.ivfPqTopKFromIndex(
            e.filter($"vec_id" < 10), cents, codebooks, cand,
            "vec_id", "embedding", k = 5, subspaces = 8, dims = 64, nprobe = 1)
          .orderBy($"query_id", $"rank")
      },
      Some {
        // 8 subspaces × 16 codewords = 32 bits/point — the coarsest code
        // whose ADC ranking still tracks exact within-cell order (the
        // 12-bit first cut ranked near cell-random; SimilaritySpec pins
        // the recall ratio against the nprobe=1 exact-rerank ceiling)
        val M = 8; val ksub = 16; val subDim = 64 / M
        def lutDist(m: Int): String =
          s"list_sum(list_transform(range(1, ${subDim + 1}), i -> " +
            s"(q.rf[i + ${m * subDim}] - c.cf[i])*(q.rf[i + ${m * subDim}] - c.cf[i])))"
        val subCtes = (0 until M).map { m =>
          s"""sub$m AS (SELECT pid, rf[${m * subDim + 1}:${(m + 1) * subDim}] AS pf FROM res),
          ${lloydSql(s"sub$m", s"s${m}c", k = ksub, iters = 2, dims = subDim)},
          enc$m AS (SELECT pid, cell AS code FROM (
            SELECT s.pid, c.cell, row_number() OVER (
              PARTITION BY s.pid ORDER BY ${fixedDistSql("s", "c", subDim)}, c.cell) AS rn
            FROM sub$m s, s${m}c2 c) WHERE rn = 1)"""
        }.mkString(",\n        ")
        val candJoins = (0 until M)
          .map(m => s"JOIN enc$m e$m USING (pid)").mkString(" ")
        val candCols = (0 until M).map(m => s"e$m.code AS code$m").mkString(", ")
        val candArms = (0 until M).map(m =>
          s"SELECT cand_id, cell, $m AS m, code$m AS code FROM cand")
          .mkString("\n          UNION ALL ")
        val lutArms = (0 until M).map { m =>
          s"""SELECT q.pid AS query_id, q.cell AS qcell, $m AS m, c.cell AS code,
            ${lutDist(m)} AS d
          FROM res q, s${m}c2 c WHERE q.pid < 10"""
        }.mkString("\n          UNION ALL ")
        val raw = s"""WITH ${kmeansSql(k = 8, iters = 3, scaleL = 1000000L, dims = 64)},
        res AS (SELECT p.vec_id AS pid, af.cell,
            list_transform(range(1, 65), i -> p.pf[i] - c.cf[i]) AS rf
          FROM p JOIN af ON p.vec_id = af.vec_id JOIN c3 c ON af.cell = c.cell),
        $subCtes,
        cand AS (SELECT r.pid AS cand_id, r.cell, $candCols
          FROM res r $candJoins
          WHERE r.pid >= 10),
        candcodes AS (
          $candArms),
        lut AS (
          $lutArms),
        scored AS (SELECT l.query_id, cc.cand_id, sum(l.d) AS score
          FROM candcodes cc JOIN lut l
            ON l.qcell = cc.cell AND l.m = cc.m AND l.code = cc.code
          WHERE l.query_id <> cc.cand_id
          GROUP BY 1, 2)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
            PARTITION BY query_id ORDER BY score, cand_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank"""
        // DuckDB inlines single-reference CTEs; with ~30 chained k-means
        // CTEs that re-expansion goes combinatorial (measured: >10 min
        // inlined vs 0.9 s materialized at sf0.01). Pin MATERIALIZED on
        // every CTE — same results, linear plan. Column aliases are
        // `expr AS name` (no paren), so the rewrite touches only CTEs.
        raw.replaceAll("(\\b[A-Za-z_][A-Za-z0-9_]*\\s+AS)\\s*\\(", "$1 MATERIALIZED (")
      },
      "IVF-PQ: residual product codebooks + asymmetric-distance search"),

    // ------------------------------------------- IVF-PQ × multi-probe
    // The last cell of the ANN matrix: ADC scoring over each query's 3
    // nearest coarse cells instead of only its own. The query's residual
    // — and so its distance LUT — is rebuilt PER PROBED CELL (residual
    // r = q − centroid(c) changes with c); a candidate scores against
    // its own cell's LUT whenever that cell is probed. Same codebooks,
    // codes and integer arithmetic as q96, re-derived bit-for-bit.
    "q115_ivfpq_multiprobe" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        // shares q96's materialized index — only the probe set differs
        val (cents, codebooks, cand) = Similarity.materializePqIndex(
          s, e.filter($"vec_id" >= 10), e, pqLayout(d),
          "vec_id", "embedding", kCells = 8, coarseIters = 3,
          subspaces = 8, ksub = 16, pqIters = 2, dims = 64)
        Similarity.ivfPqTopKFromIndex(
            e.filter($"vec_id" < 10), cents, codebooks, cand,
            "vec_id", "embedding", k = 5, subspaces = 8, dims = 64, nprobe = 3)
          .orderBy($"query_id", $"rank")
      },
      Some {
        val M = 8; val ksub = 16; val subDim = 64 / M
        def lutDist(m: Int): String =
          s"list_sum(list_transform(range(1, ${subDim + 1}), i -> " +
            s"(q.rf[i + ${m * subDim}] - c.cf[i])*(q.rf[i + ${m * subDim}] - c.cf[i])))"
        val subCtes = (0 until M).map { m =>
          s"""sub$m AS (SELECT pid, rf[${m * subDim + 1}:${(m + 1) * subDim}] AS pf FROM res),
          ${lloydSql(s"sub$m", s"s${m}c", k = ksub, iters = 2, dims = subDim)},
          enc$m AS (SELECT pid, cell AS code FROM (
            SELECT s.pid, c.cell, row_number() OVER (
              PARTITION BY s.pid ORDER BY ${fixedDistSql("s", "c", subDim)}, c.cell) AS rn
            FROM sub$m s, s${m}c2 c) WHERE rn = 1)"""
        }.mkString(",\n        ")
        val candJoins = (0 until M)
          .map(m => s"JOIN enc$m e$m USING (pid)").mkString(" ")
        val candCols = (0 until M).map(m => s"e$m.code AS code$m").mkString(", ")
        val candArms = (0 until M).map(m =>
          s"SELECT cand_id, cell, $m AS m, code$m AS code FROM cand")
          .mkString("\n          UNION ALL ")
        val lutArms = (0 until M).map { m =>
          s"""SELECT q.pid AS query_id, q.cell AS qcell, $m AS m, c.cell AS code,
            ${lutDist(m)} AS d
          FROM probes q, s${m}c2 c"""
        }.mkString("\n          UNION ALL ")
        val raw = s"""WITH ${kmeansSql(k = 8, iters = 3, scaleL = 1000000L, dims = 64)},
        res AS (SELECT p.vec_id AS pid, af.cell,
            list_transform(range(1, 65), i -> p.pf[i] - c.cf[i]) AS rf
          FROM p JOIN af ON p.vec_id = af.vec_id JOIN c3 c ON af.cell = c.cell),
        probes AS (SELECT pid, cell, rf FROM (
            SELECT p.vec_id AS pid, c.cell,
              row_number() OVER (PARTITION BY p.vec_id
                ORDER BY ${fixedDistSql("p", "c", 64)}, c.cell) AS rn,
              list_transform(range(1, 65), i -> p.pf[i] - c.cf[i]) AS rf
            FROM p, c3 c WHERE p.vec_id < 10) WHERE rn <= 3),
        $subCtes,
        cand AS (SELECT r.pid AS cand_id, r.cell, $candCols
          FROM res r $candJoins
          WHERE r.pid >= 10),
        candcodes AS (
          $candArms),
        lut AS (
          $lutArms),
        scored AS (SELECT l.query_id, cc.cand_id, sum(l.d) AS score
          FROM candcodes cc JOIN lut l
            ON l.qcell = cc.cell AND l.m = cc.m AND l.code = cc.code
          WHERE l.query_id <> cc.cand_id
          GROUP BY 1, 2)
        SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id FROM (
          SELECT query_id, cand_id, row_number() OVER (
            PARTITION BY query_id ORDER BY score, cand_id) AS rank
          FROM scored)
        WHERE rank <= 5 ORDER BY query_id, rank"""
        raw.replaceAll("(\\b[A-Za-z_][A-Za-z0-9_]*\\s+AS)\\s*\\(", "$1 MATERIALIZED (")
      },
      "IVF-PQ composed with multi-probe: per-probed-cell residual LUTs"),

    // ------------------------------------------- PCA: exact scatter
    // PCA training step 1, engine-portable: the d×d scatter matrix of
    // the fixed-point (scale 1e3) embedding quantization as EXACT
    // integers — c_num(i,j) = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ = n²·cov. The engine's
    // d(d+1)/2 products per row come from two chained posexplodes (a
    // narrow codegen expansion, no join) and map-side combine into 2080
    // groups, so the only shuffle is 2080 rows per task regardless of
    // corpus size; sums accumulate in DECIMAL(38,0). The oracle
    // re-derives every entry via the per-dimension unnest + self-join.
    "q184_emb_scatter" -> Q(
      (s, d) => {
        import s.implicits._
        Similarity.embScatter(emb(s, d), "embedding", dims = 64)
          .orderBy($"i", $"j")
      },
      Some("""WITH px AS (SELECT vec_id, i,
            CAST(round(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
          FROM embeddings, range(1, 65) t(i)),
        m AS (SELECT i, CAST(sum(x) AS HUGEINT) AS sx, count(*) AS n
          FROM px GROUP BY i),
        s AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS sxy
          FROM px a JOIN px b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY 1, 2)
        SELECT CAST(s.i - 1 AS INTEGER) AS i, CAST(s.j - 1 AS INTEGER) AS j,
          CAST(ma.n * s.sxy - ma.sx * mb.sx AS BIGINT) AS c_num
        FROM s JOIN m ma ON s.i = ma.i JOIN m mb ON s.j = mb.i
        ORDER BY i, j"""),
      "PCA scatter matrix: exact integer n²·cov over the fixed-point grid"),

    // -------------------------------------- PCA: integer power iteration
    // PCA training step 2: the dominant component by max-norm power
    // iteration on q184's exact scatter matrix, entirely in integers
    // (v ← (A·v)·10⁶ ∕ max|A·v|, sign-split floor division, 12 rounds
    // from the all-ones start) — so the TRAINED component, not just its
    // inputs, is bit-reproducible cross-engine: the oracle replays the
    // identical iteration as 12 unrolled CTE rounds in HUGEINT. The d²
    // solve collects 2080 exact entries (bounded by dims², never rows —
    // the olsFit legitimacy class); the scatter aggregation stays the
    // one distributed pass. ev_ppm pins the component's explained-
    // variance share as exact ppm (⌊10⁶·vᵀAv/(vᵀv·tr A)⌋).
    "q185_pca_power" -> Q(
      (s, d) => {
        import s.implicits._
        Similarity.pcaTopComponent(emb(s, d), "embedding", dims = 64,
            iters = 12)
          .orderBy($"pos")
      },
      Some {
        val iters = 12
        val sb = new StringBuilder
        sb ++= """WITH px AS (SELECT vec_id, i,
            CAST(round(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
          FROM embeddings, range(1, 65) t(i)),
        m AS (SELECT i, CAST(sum(x) AS HUGEINT) AS sx, count(*) AS n
          FROM px GROUP BY i),
        s AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS sxy
          FROM px a JOIN px b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY 1, 2),
        up AS (SELECT s.i AS i, s.j AS j,
            CAST(ma.n * s.sxy - ma.sx * mb.sx AS HUGEINT) AS a
          FROM s JOIN m ma ON s.i = ma.i JOIN m mb ON s.j = mb.i),
        af AS MATERIALIZED (SELECT i, j, a FROM up
          UNION ALL SELECT j, i, a FROM up WHERE i < j),
        v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM range(1, 65) t(i))"""
        for (r <- 1 to iters) sb ++= s""",
        m$r AS (SELECT af.i AS i, CAST(sum(af.a * v.v) AS HUGEINT) AS mv
          FROM af JOIN v${r - 1} v ON af.j = v.i GROUP BY 1),
        x$r AS (SELECT max(abs(mv)) AS mx FROM m$r),
        v$r AS (SELECT i, CAST(CASE WHEN mx = 0 THEN mv
            WHEN mv < 0 THEN -(((-mv) * 1000000) // mx)
            ELSE (mv * 1000000) // mx END AS HUGEINT) AS v
          FROM m$r, x$r)"""
        sb ++= s""",
        num AS (SELECT CAST(sum(va.v * af.a * vb.v) AS HUGEINT) AS num
          FROM af JOIN v$iters va ON af.i = va.i
                  JOIN v$iters vb ON af.j = vb.i),
        den AS (SELECT (SELECT CAST(sum(v * v) AS HUGEINT) FROM v$iters)
            * (SELECT CAST(sum(a) AS HUGEINT) FROM af WHERE i = j) AS den)
        SELECT CAST(v$iters.i AS BIGINT) AS pos,
          CAST(v AS BIGINT) AS loading,
          CAST(CASE WHEN den > 0 THEN (num * 1000000) // den
            ELSE 0 END AS BIGINT) AS ev_ppm
        FROM v$iters, num, den ORDER BY pos"""
        // materialize EVERY CTE (the q115 discipline): DuckDB inlines
        // plain CTEs per reference, and each iteration level is referenced
        // twice (m_r by x_r and v_r) — un-materialized, the 12-round chain
        // re-expands exponentially and never finishes
        sb.result().replaceAll(
          "(\\b[A-Za-z_][A-Za-z0-9_]*\\s+AS)\\s*\\(", "$1 MATERIALIZED (")
      },
      "dominant PC by integer power iteration — trained weights hash-matched"),

    // --------------------------------- JL random projection (exact)
    // The data-INDEPENDENT counterpart to q184/q185's trained PCA:
    // Achlioptas ±1 Johnson–Lindenstrauss projection to k=16 dims, the
    // sign matrix a pure function of md5 (no seed state — any engine
    // regenerates it bit-identically), the projection one narrow
    // codegen map per row with the k·d sign literals broadcast. Every
    // step is exact integer arithmetic, so the projected coordinates
    // themselves hash-match the oracle's re-derivation — no "close
    // enough" float compare on a randomized method. Distance
    // preservation is spec-pinned (SimilaritySpec).
    "q186_jl_projection" -> Q(
      (s, d) => {
        import s.implicits._
        Similarity.jlProject(emb(s, d), "vec_id", "embedding",
            k = 16, dims = 64)
          .orderBy($"vec_id", $"r")
      },
      Some("""WITH sgn AS (SELECT r, i, CASE WHEN strpos('02468ace',
            substr(md5('jl:' || r || ':' || i), 1, 1)) > 0
            THEN 1 ELSE -1 END AS s
          FROM range(16) t1(r), range(1, 65) t2(i)),
        px AS (SELECT vec_id, i,
            CAST(round(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
          FROM embeddings, range(1, 65) t(i))
        SELECT px.vec_id, CAST(sgn.r AS INTEGER) AS r,
          CAST(sum(px.x * sgn.s) AS BIGINT) AS y
        FROM px JOIN sgn ON px.i = sgn.i
        GROUP BY 1, 2 ORDER BY vec_id, r"""),
      "JL ±1 random projection, sign matrix a pure md5 function — exact"),

    // ------------------------------------- reduce-then-search pipeline
    // q186 composed into search: vector 0's nearest neighbors ranked by
    // EXACT integer squared-L2 in the 16-dim JL space — the "project
    // once, search cheap" pipeline (every distance loop drops 64→16
    // multiplies; at 100 TB the projection is a narrow ingest pass and
    // the search touches only the 4× smaller sketch table). Distances
    // are exact integers, so the ranking — including every tie-break —
    // hash-matches the oracle's full re-derivation (signs → projection
    // → distances). Recall vs the full-space brute force is the same
    // audit discipline as q77 (LSH) — pinned in SimilaritySpec, not the
    // oracle, since recall is a property of the METHOD, not this data.
    "q187_jl_ann" -> Q(
      (s, d) => {
        import s.implicits._
        // two consumers (query row + candidate side) — materialize the
        // projection once or the 16-aggregate pass runs twice
        val proj = Similarity.jlProject(emb(s, d), "vec_id", "embedding",
          k = 16, dims = 64).localCheckpoint()
        val qry = proj.filter($"vec_id" === 0)
          .select($"r", $"y".as("yq"))
        proj.filter($"vec_id" =!= 0)
          .join(broadcast(qry), "r")
          .groupBy($"vec_id")
          .agg(sum(($"y" - $"yq") * ($"y" - $"yq")).as("d2"))
          .orderBy($"d2".asc, $"vec_id")
          .limit(10)
      },
      Some("""WITH sgn AS (SELECT r, i, CASE WHEN strpos('02468ace',
            substr(md5('jl:' || r || ':' || i), 1, 1)) > 0
            THEN 1 ELSE -1 END AS s
          FROM range(16) t1(r), range(1, 65) t2(i)),
        px AS (SELECT vec_id, i,
            CAST(round(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
          FROM embeddings, range(1, 65) t(i)),
        proj AS (SELECT px.vec_id, sgn.r, CAST(sum(px.x * sgn.s) AS BIGINT) AS y
          FROM px JOIN sgn ON px.i = sgn.i GROUP BY 1, 2),
        qry AS (SELECT r, y AS yq FROM proj WHERE vec_id = 0)
        SELECT vec_id, CAST(sum((y - yq) * (y - yq)) AS BIGINT) AS d2
        FROM proj JOIN qry USING (r) WHERE vec_id <> 0
        GROUP BY vec_id ORDER BY d2, vec_id LIMIT 10"""),
      "ANN in JL space: exact integer L2 ranking over the 4x-smaller sketch"),

    // ---------------------------------- incremental scatter maintenance
    // PCA as a MAINTAINABLE materialized view (the q100/q162 fold
    // discipline applied to embeddings): the scatter's raw moments
    // (Σxᵢxⱼ, Σxᵢ, n) are plain sums, so disjoint corpus slices merge by
    // addition — here the corpus is split by vec_id parity, each half
    // aggregated separately (as daily ingests would be), the moment
    // frames folded, and the scatter finalized from the fold. The oracle
    // one-shots q184's derivation over the whole table, so the hash
    // compare IS the fold identity scatter(a ⊎ b) = fin(mom(a) + mom(b)):
    // at 100 TB, each ingest aggregates only its delta into the stored
    // d²-row moment table and PCA retrains without rescanning history.
    "q188_incremental_scatter" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val a = e.filter($"vec_id" % 2 === 0)
        val b = e.filter($"vec_id" % 2 =!= 0)
        def mergedPairs = Similarity.embPairSums(a, "embedding", 64)
          .unionByName(Similarity.embPairSums(b, "embedding", 64))
          .groupBy($"i", $"j").agg(sum($"sxy").as("sxy"))
        def mergedMarg = Similarity.embMarginals(a, "embedding")
          .unionByName(Similarity.embMarginals(b, "embedding"))
          .groupBy($"i").agg(sum($"sx").as("sx"), sum($"n").as("n"))
        Similarity.scatterFromSums(mergedPairs, mergedMarg)
          .orderBy($"i", $"j")
      },
      Some("""WITH px AS (SELECT vec_id, i,
            CAST(round(embedding[i]::DOUBLE * 1000.0) AS BIGINT) AS x
          FROM embeddings, range(1, 65) t(i)),
        m AS (SELECT i, CAST(sum(x) AS HUGEINT) AS sx, count(*) AS n
          FROM px GROUP BY i),
        s AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS sxy
          FROM px a JOIN px b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY 1, 2)
        SELECT CAST(s.i - 1 AS INTEGER) AS i, CAST(s.j - 1 AS INTEGER) AS j,
          CAST(ma.n * s.sxy - ma.sx * mb.sx AS BIGINT) AS c_num
        FROM s JOIN m ma ON s.i = ma.i JOIN m mb ON s.j = mb.i
        ORDER BY i, j"""),
      "scatter(a ∪ b) == finalize(moments(a) + moments(b)) — PCA as an MV"),

    // ------------------------------- simplified silhouette (clustering QA)
    // The internal clustering-quality score that pairs with q214's
    // EXTERNAL Adjusted Rand Index: the simplified silhouette
    // (Hruschka et al. 2004 — distances to CENTROIDS, not the O(n²)
    // pairwise original): per point, a = d²(own centroid), b = d²(next
    // centroid), s = (b−a)/max(a,b). Distances are LITERALLY the
    // trainer's quantization + codegen'd FixedSqDist (shared
    // VectorFunctions helpers, not re-derived expressions — exact
    // integers carry no float-parity risk at all); each
    // point touches only the k=8 broadcast centroids (a narrow ×k
    // expansion, the IVF probe shape), the per-point state is a
    // k-bounded sorted pair list, and the rollup is a ≤k-cell hash
    // aggregate. Per-cell mean s is the one float (ULP noise ~1e-13
    // vs the 1e-6 rounding). s = 0 by contract when a = b = 0.
    "q237_silhouette" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val cents = Similarity.kmeansCentroids(
          e, "vec_id", "embedding", k = 8, iters = 3)
        val pts = e.select($"vec_id",
          graft.functions.VectorFunctions.toFixedVec($"embedding", 1e6).as("pf"))
        val d2 = pts.crossJoin(broadcast(cents))
          .select($"vec_id", $"cell",
            graft.functions.VectorFunctions.sqDistFixed($"pf", $"cf").as("dist"))
        val ab = d2.groupBy($"vec_id")
          .agg(slice(array_sort(collect_list(struct($"dist", $"cell"))), 1, 2)
            .as("two"))
          .select($"two"(0).getField("cell").as("cell"),
            $"two"(0).getField("dist").as("a"),
            $"two"(1).getField("dist").as("b"))
        ab.select($"cell",
            when(greatest($"a", $"b") > 0,
              ($"b" - $"a").cast("double") /
                greatest($"a", $"b").cast("double"))
              .otherwise(lit(0.0)).as("si"))
          .groupBy($"cell")
          .agg(count(lit(1)).as("n"), round(avg($"si"), 6).as("mean_sil"))
          .orderBy($"cell")
      },
      Some(s"""WITH ${kmeansSql(k = 8, iters = 3, scaleL = 1000000L, dims = 64)},
        d2 AS (SELECT p.vec_id, c.cell,
            ${fixedDistSql("p", "c", 64)} AS dist
          FROM p, c3 c),
        ab AS (SELECT vec_id,
            max(CASE WHEN rn = 1 THEN cell END) AS cell,
            max(CASE WHEN rn = 1 THEN dist END) AS a,
            max(CASE WHEN rn = 2 THEN dist END) AS b
          FROM (SELECT vec_id, cell, dist, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d2)
          WHERE rn <= 2 GROUP BY vec_id),
        si AS (SELECT cell,
            CASE WHEN greatest(a, b) > 0
              THEN CAST(b - a AS DOUBLE) / CAST(greatest(a, b) AS DOUBLE)
              ELSE 0.0 END AS si
          FROM ab)
        SELECT cell, CAST(count(*) AS BIGINT) AS n,
          round(avg(si), 6) AS mean_sil
        FROM si GROUP BY 1 ORDER BY 1"""),
      "simplified silhouette per k-means cell, integer fixed-point distances")
  ) :+ mmrQuery

  // ------------------------------------------------- MMR re-ranking
  // Diversity, the missing quarter of the retrieval family (lexical
  // q121, semantic q46, fusion q132, now redundancy control): greedy
  // λ·rel − (1−λ)·maxsim selection over the cosine top-20
  // (Carbonell & Goldstein SIGIR'98). The oracle unrolls all 5 greedy
  // rounds CTE-for-CTE with the identical float expression trees, so
  // every pick AND its mmr score hash-match. The corpus-proportional
  // work is exactly one broadcast cosine scan; the greedy fold runs on
  // the bounded 20×20 sim grid.
  private lazy val mmrQuery: (String, Q) = {
    val lam = "0.7"
    val rounds = (2 to 5).map { t =>
      s"""m$t AS (SELECT a AS cand_id, max(sim) AS max_sim FROM sims
            WHERE b IN (SELECT cand_id FROM sel${t - 1}) GROUP BY a),
          s$t AS (SELECT cand_id, $t AS rank,
              ($lam * rel - (1.0 - $lam) * max_sim) AS mmr
            FROM (SELECT c.cand_id, c.rel, m.max_sim
              FROM cands c JOIN m$t m USING (cand_id)
              WHERE c.cand_id NOT IN (SELECT cand_id FROM sel${t - 1}))
            ORDER BY mmr DESC, cand_id LIMIT 1),
          sel$t AS (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)"""
    }.mkString(",\n")
    "q158_mmr_rerank" -> Q(
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        Similarity.mmrRerank(
            e.filter($"vec_id" === 0), e.filter($"vec_id" =!= 0),
            "vec_id", "embedding", topN = 20, k = 5, lambda = 0.7)
          .select($"rank", $"cand_id", round($"mmr", 6).as("mmr"))
          .orderBy($"rank")
      },
      Some(s"""WITH q AS (SELECT embedding, ${sqlNorm("embeddings")} AS nrm
            FROM embeddings WHERE vec_id = 0),
          c0 AS (SELECT vec_id, embedding, ${sqlNorm("embeddings")} AS nrm
            FROM embeddings WHERE vec_id <> 0),
          cands AS (SELECT c0.vec_id AS cand_id, c0.embedding, c0.nrm,
              ${sqlDot("c0", "q")} / (c0.nrm * q.nrm) AS rel
            FROM c0 CROSS JOIN q ORDER BY rel DESC, cand_id LIMIT 20),
          sims AS (SELECT a.cand_id AS a, b.cand_id AS b,
              ${sqlDot("a", "b")} / (a.nrm * b.nrm) AS sim
            FROM cands a JOIN cands b ON a.cand_id <> b.cand_id),
          sel1 AS (SELECT cand_id, 1 AS rank, rel AS mmr FROM cands
            ORDER BY rel DESC, cand_id LIMIT 1),
          $rounds
          SELECT rank, cand_id, round(mmr, 6) AS mmr
          FROM sel5 ORDER BY rank"""),
      "MMR diversity re-rank: 5 greedy rounds, scores hash-matched")
  }
}
