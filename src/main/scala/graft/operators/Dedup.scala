package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

import graft.functions.TextFunctions

/** Deduplication operators for a large-scale training-data pipeline:
  * exact, fingerprint, MinHash+LSH, SimHash. Every stage is a shuffle-
  * bounded DataFrame plan (explode → hash-aggregate → equi-join); nothing
  * touches the driver, so each op scales horizontally with executors.
  *
  * Hashing is *portable*: min-hashes are lexicographic minima of md5 hex
  * strings and SimHash bits come from md5 hex digits, so an independent
  * engine (the DuckDB oracle) can recompute the exact same sketches from
  * SQL — the whole near-dup pipeline is hash-verifiable end-to-end, not
  * just rows-counted. Swapping md5 for xxhash64 is a drop-in ~3× hash
  * speedup when cross-engine verification isn't needed; the pipeline
  * shape (and its shuffle structure) is identical.
  */
object Dedup {

  /** THE clustering entry point for dup pipelines: nodes + undirected
    * pair edges → (id, cluster_id) component labels, by alternating
    * large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC '14). Min-label propagation needs rounds = graph diameter,
    * which grinds on chain-shaped duplicate families; star contraction
    * converges in O(log² n) rounds on ANY shape, with one shuffle on the
    * node id per star operation.
    *
    *  - large-star: every node's strictly-larger neighbors connect to the
    *    minimum of its closed neighborhood — after it, all edges point
    *    from larger to smaller;
    *  - small-star: every node and its smaller neighbors connect to the
    *    smallest of them — halving chains toward the component minimum.
    *
    * The fixpoint is the star graph centered at each component's minimum
    * id — the labels min-label propagation reaches, which the DuckDB
    * recursive-CTE oracles compute. Alternations are checkpointed locally,
    * which is not fault-tolerant. `pairs` holds one (id_a, id_b) row per
    * undirected edge; `nodes` is the id universe (isolated nodes become
    * singletons). Returns (id, cluster_id); fails loudly if `maxIter`
    * alternations don't reach the fixpoint. */
  def cluster(nodes: DataFrame, id: String, pairs: DataFrame,
              maxIter: Int = 25): DataFrame =
    clusterWithRounds(nodes, id, pairs, maxIter)._1

  /** [[cluster]] plus the alternation count it took — exposed so scale
    * tests can pin the O(log² n) round bound (a 64-node path converges
    * in ~6 alternations here vs ~63 min-label rounds). */
  def clusterWithRounds(nodes: DataFrame, id: String, pairs: DataFrame,
                        maxIter: Int = 25): (DataFrame, Int) = {
    // Cheap convergence signature: (|edges|, Σ xxhash64(u,v) mod p) in ONE
    // aggregate over the already-materialized round output — an unchanged
    // round is detected without any `except` (which costs a full shuffle +
    // distinct-aggregate over the edge set). The mod keeps the ANSI-mode
    // long sum from overflowing at any row count that fits a cluster.
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L)))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // canonical larger→smaller edges, self-loops dropped, deduped.
    // LAZY local checkpoint: the sig aggregate right after is a full
    // pass over every partition, so it both computes the signature and
    // materializes the checkpoint in ONE job — the eager form spent a
    // separate job per round on materialization alone, and on the
    // small-graph tail (q75/q214/q257) that fixed per-round job cost
    // WAS the runtime (round-17; lineage truncation is unchanged)
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(GraftGlue.materialize(_, eager = false))
    var edgeSig = sig(edges)
    var converged = false
    var round = 0
    // r18 (guide §2.4 "two operations keyed the same way can share one
    // exchange"): each star step used to compute the neighborhood min
    // with a groupBy + join-back — TWO exchanges of the edge table per
    // step (four per alternation, plus the distinct). A min-over-
    // partition window computes the same m with ONE exchange per step
    // (the window's sort is by the partition key only). Same mins, same
    // edge set, same fixpoint labels; measured on the CC-bound tail
    // (q89/q116/q75/q125/q214/q257) before adopting.
    import org.apache.spark.sql.expressions.Window
    while (!converged && round < maxIter) {
      // large-star over both directions: center c, m = min(Γ(c) ∪ {c});
      // each neighbor n > c re-attaches to m (m ≤ c < n keeps direction)
      val und = edges.select(col("u").as("c"), col("v").as("n"))
        .union(edges.select(col("v").as("c"), col("u").as("n")))
      // no distinct here: duplicate (u,v) rows are absorbed by the min
      // windows and the final distinct below — deduping now would cost a
      // full edge-set shuffle per alternation for no semantic gain
      val ls = und
        .withColumn("m", least(min(col("n")).over(
          Window.partitionBy(col("c"))), col("c")))
        .filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v"))
      // small-star on the larger→smaller edges: u and all its smaller
      // neighbors attach to their minimum m
      val sm = ls.withColumn("m", min(col("v")).over(
        Window.partitionBy(col("u"))))
      val next = sm.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sm.select(col("u"), col("m").as("v")))
        .distinct()
        .transform(GraftGlue.materialize(_, eager = false)) // materialized by the sig job below
      // signature mismatch disproves convergence outright; on a match,
      // ONE one-sided except confirms it — both sides are distinct sets,
      // so equal cardinality + next ⊆ edges ⇒ set equality (no symmetric
      // second except needed)
      val nextSig = sig(next)
      converged = nextSig == edgeSig && next.except(edges).isEmpty
      edges = next
      edgeSig = nextSig
      round += 1
    }
    require(converged,
      s"cluster: no fixpoint after $maxIter alternations")
    val labels = nodes.select(col(id).as("id"))
      .join(edges.groupBy(col("u")).agg(min(col("v")).as("cluster_id"))
        .withColumnRenamed("u", "id"), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    (labels, round)
  }

  /** Driver-solved twin of [[cluster]] for PROVABLY BOUNDED slices (r18
    * optimization): when the node set is structurally capped by the
    * caller (an audit over a fixed sample, an enum-keyed family), the
    * distributed star-contraction loop spends ~30 one-task Spark jobs on
    * a graph that fits in a few KB — a driver union-find computes the
    * identical min-label components in one collect. The bounded-driver-
    * solve discipline (the q133/BT-solve pattern): LOUD `require`s on
    * the node count and on edge endpoints, never a silent fallback; for
    * data-scaled graphs use [[cluster]]. Ids must be integral (long/int)
    * — the only id shape the bounded callers use. Returns (id,
    * cluster_id) LONG columns, labels == the component minimum, exactly
    * [[cluster]]'s fixpoint (spec-pinned equal). */
  def clusterBoundedDriver(nodes: DataFrame, id: String, pairs: DataFrame,
                           maxNodes: Int = 1024): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // maxPairs + 1 must fit an Int for the limit() below (r18 ADVICE:
    // 65536²/2 overflows); 46340² < 2^31 ≤ 46341², and any larger slice
    // has no business on the driver anyway
    require(maxNodes >= 1 && maxNodes <= 46340,
      s"clusterBoundedDriver: maxNodes=$maxNodes outside [1, 46340]")
    val idType = nodes.schema(nodes.columns.indexOf(id)).dataType
    require(idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType,
      s"clusterBoundedDriver($id): integral ids only, got $idType")
    val ns = nodes.select(col(id).cast("long")).limit(maxNodes + 1)
      .collect().map(_.getLong(0))
    require(ns.length <= maxNodes,
      s"clusterBoundedDriver: > $maxNodes nodes — this slice is not " +
        "bounded; use cluster() (distributed star contraction)")
    val maxPairs = maxNodes.toLong * (maxNodes - 1) / 2
    // canonicalize (least, greatest) and drop self-loops BEFORE the
    // distinct (r18 ADVICE): an input carrying both orientations or
    // self-loops could otherwise exceed the C(n,2) pair cap on a
    // genuinely bounded slice. Orientation and self-loops are union-find
    // no-ops, so the labels are unchanged — cluster() canonicalizes the
    // same way.
    val es = pairs.select(least(col("id_a"), col("id_b")).cast("long").as("a"),
        greatest(col("id_a"), col("id_b")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().limit((maxPairs + 1).toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(es.length <= maxPairs,
      s"clusterBoundedDriver: > $maxPairs distinct pairs; use cluster()")
    val nodeSet = ns.toSet
    // union-find with path halving; roots resolve to the component MIN id
    val parent = scala.collection.mutable.HashMap[Long, Long](
      ns.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    es.foreach { case (a, b) =>
      require(nodeSet.contains(a) && nodeSet.contains(b),
        s"clusterBoundedDriver: pair ($a, $b) references a node outside " +
          "the node slice")
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots were always merged toward the smaller id, so find(n) IS the
    // component minimum — the cluster() fixpoint label
    val labels = ns.toSeq.map(n => (n, find(n)))
    // cast back to the INPUT id type (r18 ADVICE): cluster() preserves
    // the caller's id type, so the two entry points stay swappable for
    // IntegerType ids too (long callers see a no-op cast)
    labels.toDF("id", "cluster_id")
      .select(col("id").cast(idType).as("id"),
        col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** Exact dedup stats: total vs distinct-by-content-hash. */
  def exactStats(df: DataFrame, text: String): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
           countDistinct(md5(col(text))).as("n_unique_exact"),
           countDistinct(TextFunctions.fingerprint(col(text))).as("n_unique_fingerprint"))

  /** Keeper selection under an arbitrary content key (the standard
    * "keep first" policy, one hash aggregate): min id per key. */
  def keepers(df: DataFrame, id: String, key: Column): DataFrame =
    df.groupBy(key.as("content_hash"))
      .agg(min(col(id)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeper selection: min id per byte-content hash. */
  def exactKeepers(df: DataFrame, id: String, text: String): DataFrame =
    keepers(df, id, md5(col(text)))

  /** Long-form distinct unigram tokens: one (id, token) row per distinct
    * word of each doc. The explode feeds hash aggregates, so everything
    * downstream is map-side combinable and scales with executors.
    * Tokenization is [[TextFunctions.words]] — the single definition the
    * DuckDB oracle mirrors; do not re-inline the split here. */
  def tokens(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), explode(array_distinct(TextFunctions.words(col(text)))).as("sh"))

  /** Distinct unigram set per doc as a narrow projection (no shuffle). */
  def tokenSets(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), array_distinct(TextFunctions.words(col(text))).as("sh_set"))

  /** Jaccard for arrays that are already distinct (skips the re-dedup
    * [[TextFunctions.jaccard]] performs): inclusion–exclusion on set
    * sizes, integer-exact so the double division is bit-reproducible. */
  def jaccardDistinct(a: Column, b: Column): Column = {
    val union = size(array_distinct(concat(a, b)))
    (size(a) + size(b) - union).cast("double") / union
  }

  /** Portable MinHash signatures over the long-form token table: k
    * independent min-hashes where hash 2m (2m+1) of shingle s is the
    * 60-bit integer decode of hex chars 1-15 (16-30) of md5("m:s") —
    * one md5 yields two independent hashes, so the projection computes
    * k/2 digests per row, not k. Decoding to LONG keeps every aggregation
    * state fixed-width, so the grouped aggregate stays on HashAggregate's
    * fast unsafe-row path (a k-string buffer is var-length and falls back
    * to sort-based aggregation). Map-side combinable; shuffle volume
    * O(docs × k) regardless of shingle count. k must be even. The DuckDB
    * oracle mirrors the decode with CAST('0x' || substr(...) AS BIGINT).
    */
  def minhashSignatures(toks: DataFrame, id: String, k: Int): DataFrame = {
    require(k % 2 == 0, s"k=$k must be even (two hashes per md5)")
    // one codegen'd digest-bytes expression per row replaces the k/2
    // md5-hex columns + k substring/conv decodes
    // ([[graft.expressions.Md5MinHash60]], bit-equal by TextDedupSpec);
    // the decode the oracle mirrors is unchanged
    val withHashes = toks.select(col(id),
      TextFunctions.md5MinHash60(col("sh"), k).as("__hs"))
    val mins = (0 until k).map(j =>
      min(element_at(col("__hs"), j + 1)).as(s"mh$j"))
    withHashes.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** Prime for the LCG min-hash family — the same one Spark's own
    * `org.apache.spark.ml.feature.MinHashLSH` uses (`HASH_PRIME`), kept
    * below 2^31 so `a·h + b` stays under 2^62: portable BIGINT
    * arithmetic, no overflow in either engine. */
  val LcgPrime: Long = 2038074743L

  /** Deterministic (a, b) coefficients for hash slot j, derived from md5
    * so they are reproducible constants: both the Spark plan and the
    * DuckDB oracle SQL embed the same literals (no cross-engine hash
    * portability needed for the coefficients themselves). a ∈ [1, P-1],
    * b ∈ [0, P-1]. */
  def lcgCoef(j: Int): (Long, Long) = {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL)) >>> 4
    }
    (h60(s"a:$j") % (LcgPrime - 1) + 1, h60(s"b:$j") % LcgPrime)
  }

  /** MinHash signatures from ONE digest per token: the token's 60-bit
    * md5 integer is reduced mod [[LcgPrime]] and the k hash slots are the
    * 2-universal family h_j(x) = (a_j·x + b_j) mod P — the same
    * construction (and prime) as Spark ML's `MinHashLSH`, so the
    * statistical structure of the classic k-permutations estimator is
    * preserved while the per-token digest cost drops k/2-fold vs
    * [[minhashSignatures]] (measured 1.65 → 0.4 s on the sf0.1 corpus).
    * Aggregation states stay k fixed-width longs (HashAggregate fast
    * path, map-side combinable). The DuckDB oracle mirrors the exact
    * arithmetic with the same embedded (a_j, b_j) literals. */
  def minhashSignaturesLcg(toks: DataFrame, id: String, k: Int): DataFrame = {
    val withH = toks.select(col(id),
      pmod(TextFunctions.md5Head60(col("sh")), lit(LcgPrime)).as("h"))
    val mins = (0 until k).map { j =>
      val (a, b) = lcgCoef(j)
      min(pmod(lit(a) * col("h") + lit(b), lit(LcgPrime))).as(s"mh$j")
    }
    withH.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures on a NATIVE 64-bit hash base: the token integer
    * comes from one codegen'd `xxhash64` call instead of an md5 digest +
    * hex decode — the fast path when cross-engine verification isn't
    * needed (xxhash64 has no DuckDB twin, so this scheme is excluded
    * from the hash oracle BY DESIGN; TextDedupSpec pins verified-pair-set
    * equality with the md5/LCG path on the corpus, and the q42-vs-q95
    * bench pair carries the measured delta). Same 2-universal LCG family
    * and prime as [[minhashSignaturesLcg]] — only the base hash changes,
    * so the estimator's statistical structure is identical. */
  def minhashSignaturesXx(toks: DataFrame, id: String, k: Int): DataFrame = {
    val withH = toks.select(col(id),
      pmod(xxhash64(col("sh")), lit(LcgPrime)).as("h"))
    val mins = (0 until k).map { j =>
      val (a, b) = lcgCoef(j)
      min(pmod(lit(a) * col("h") + lit(b), lit(LcgPrime))).as(s"mh$j")
    }
    withH.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** One-permutation MinHash signatures (Li, Owen & Zhang, "One
    * Permutation Hashing", NIPS 2012): ONE digest per token instead of
    * k/2. The token's 60-bit md5 integer both selects a bin (h mod k) and
    * competes for that bin's minimum, so a doc's signature is the k
    * per-bin minima of a single hash pass — the classic k-independent-
    * permutations estimator spends k/2 digests per token for the same
    * shuffle shape. Empty bins (a doc with few tokens may miss a bin)
    * resolve to the sentinel -1 rather than rotation-densified
    * (Shrivastava & Li, ICML 2014): densification is a sequential scan
    * per signature, and for *candidate generation* (always exact-verified
    * afterwards) the sentinel only makes two sparse docs agree on empty
    * bins — a recall-side wobble the verify stage filters exactly.
    * States are k fixed-width longs → HashAggregate fast path, map-side
    * combinable; shuffle volume O(docs × k) like the classic path. The
    * DuckDB oracle mirrors bin selection and minima verbatim
    * (CAST('0x'||substr(md5(sh),1,15) AS BIGINT) and % k). */
  def ophSignatures(toks: DataFrame, id: String, k: Int): DataFrame = {
    val withH = toks.select(col(id),
      TextFunctions.md5Head60(col("sh")).as("h"))
    val mins = (0 until k).map { j =>
      coalesce(min(when(pmod(col("h"), lit(k)) === j, col("h"))), lit(-1L)).as(s"mh$j")
    }
    withH.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** [[ophSignatures]] + rotation densification (Shrivastava & Li,
    * "Improved Densification of One Permutation Hashing", ICML 2014):
    * an empty bin borrows the value of the next non-empty bin clockwise
    * on the bin ring, offset by the hop distance so different distances
    * stay distinguishable. Without this, docs with fewer tokens than
    * bins collide trivially on shared-empty-bin bands (sentinel = sentinel),
    * which both floods buckets past the stop cap and erases real signal —
    * measured on the synthetic corpus (≤31 distinct tokens, k=64: every
    * doc ≥33 empty bins) undensified OPH lost ~55% of verified pairs.
    *
    * Plan shape: the wide nullable bin-minima aggregate is posexploded to
    * (id, pos, m) rows, the ring is doubled (pos and pos+k) so the
    * clockwise scan never wraps, and one window per doc — `first(m,
    * ignoreNulls)` over [current, ∞) — fills the gaps. The input arrives
    * hash-partitioned by `id` (the aggregate's own distribution), so the
    * window and the re-widening aggregate run shuffle-free; densification
    * costs two narrow stages over k·docs rows, not a new exchange. */
  def ophDensifiedSignatures(toks: DataFrame, id: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withH = toks.select(col(id),
      TextFunctions.md5Head60(col("sh")).as("h"))
    val binMins = (0 until k).map { j =>
      min(when(pmod(col("h"), lit(k)) === j, col("h"))).as(s"mh$j")
    }
    val wide = withH.groupBy(col(id)).agg(binMins.head, binMins.tail: _*)
    val ring = wide.select(col(id),
      posexplode(array((0 until k).map(j => col(s"mh$j")): _*)).as(Seq("pos", "m")))
    val doubled = ring.unionAll(ring.select(col(id), (col("pos") + k).as("pos"), col("m")))
    // the following-frame scan is BOUNDED here: each doc's ring holds
    // exactly 2k ≤ 128 rows, so the per-row frame re-scan is a small
    // constant — cheaper than the extra reversed sort the unbounded
    // series operators (TimeSeries.interpolate, AsOf.asOfJoinForward)
    // pay to avoid their O(n²) frames
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = doubled.select(col(id), col("pos"),
      first(col("m"), ignoreNulls = true).over(w).as("nval"),
      first(when(col("m").isNotNull, col("pos")), ignoreNulls = true).over(w).as("npos"))
    val dens = filled.filter(col("pos") < k)
      .select(col(id), col("pos"), (col("nval") + col("npos") - col("pos")).as("d"))
    val rewiden = (0 until k).map(j => min(when(col("pos") === j, col("d"))).as(s"mh$j"))
    dens.groupBy(col(id)).agg(rewiden.head, rewiden.tail: _*)
  }

  /** LSH banding: signature → (band_idx, band_hash) rows, band hash = md5
    * of the band's r min-hashes rendered as ':'-separated decimal strings
    * (the separator keeps distinct tuples from colliding as strings).
    * bands must divide k. */
  def lshBands(sigs: DataFrame, id: String, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws(":",
        (b * r until (b + 1) * r).map(j => col(s"mh$j").cast("string")): _*))
    }
    sigs.select(col(id), posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** Candidate pairs from band buckets, join-free: size buckets with a
    * count aggregate first, keep only buckets in [2, maxBucket], then
    * aggregate those buckets' id lists and emit ordered pairs with two
    * nested explodes — a per-row cross product, no self-join stage.
    *
    * Buckets larger than `maxBucket` are dropped (stop-bucket removal,
    * standard LSH hygiene): a bucket of b docs emits b²/2 pairs, so one
    * pathological bucket — boilerplate-heavy corpora produce them — turns
    * the pair step quadratic and skews one task. The collection itself is
    * the state bound: [[graft.functions.Aggregators.BoundedCollect]]
    * stops accumulating past maxBucket+1 elements and resolves overflowed
    * buckets to empty, so a million-doc stop bucket costs O(maxBucket)
    * aggregation state per map partition — in the same single aggregate
    * pass that collects the survivors. Pair fan-out is then bounded at
    * O(buckets · maxBucket²); docs in dropped buckets still pair through
    * their other bands.
    *
    * Trade-off, on purpose: a typed-Aggregator plan runs on
    * ObjectHashAggregate, which falls back to sort-based aggregation past
    * spark.sql.objectHashAggregate.sortBased.fallbackThreshold distinct
    * groups per task (default 128) — an external sort of the band rows,
    * but each carrying ≤ cap state. The alternative (codegen count pass +
    * join + collect survivors) costs a second full shuffle of the band
    * table instead; both bound memory, this one does it in one pass.
    * Raise the threshold (each group's buffer is ≤ ~1 KB) to stay
    * hash-aggregated when tasks hold many buckets.
    *
    * `id` must be a numeric (long-compatible) column; nulls are dropped
    * (as collect_list would) before aggregation. */
  def lshCandidates(bandsDf: DataFrame, id: String,
                    maxBucket: Int = 100): DataFrame = {
    val boundedIds = udaf(graft.functions.Aggregators.BoundedCollect(maxBucket))
    bandsDf.filter(col(id).isNotNull)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(boundedIds(col(id)).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → candidate
    * → exact-Jaccard verify. Only candidate pairs (a vanishing fraction of
    * n²) are verified, against narrow no-shuffle token-set projections;
    * AQE broadcasts the set side when it is small and falls back to a
    * shuffle hash join when it isn't. */
  def minhashNearDups(df: DataFrame, id: String, text: String,
                      k: Int = 64, bands: Int = 8,
                      threshold: Double = 0.9, maxBucket: Int = 100,
                      scheme: String = "salted"): DataFrame =
    minhashNearDupsFromSigs(minhashDocSignatures(df, id, text, k, scheme),
      df, id, text, k, bands, threshold, maxBucket,
      expectScheme = Some(minhashScheme(scheme, k)))

  /** Canonical scheme string for a k-slot MinHash signature derivation
    * under hash family `scheme` — the marker a materialized signature
    * store carries on its `mh0` column. */
  def minhashScheme(scheme: String, k: Int): String = s"minhash_${scheme}_k$k"

  /** The signature-DERIVATION face of [[minhashNearDups]]: one row per
    * doc, (id, mh0..mh{k-1}), `mh0` stamped with the
    * [[minhashScheme]] column-metadata marker so a store built here and
    * read back from parquet refuses a mismatched consumer loudly (the
    * TextSketch discipline). Signatures are PER-DOC (a doc's sketch
    * depends only on its own tokens), so any doc-subset restriction of
    * a stored table equals a fresh derivation over the subset. */
  def minhashDocSignatures(df: DataFrame, id: String, text: String,
                           k: Int, scheme: String): DataFrame = {
    require(Set("salted", "lcg", "oph", "xx64")(scheme), s"unknown scheme $scheme")
    // Repartition the token stream by id BEFORE hashing: a small corpus
    // arrives as one scan partition, which would run the k/2-digests-per-
    // row projection single-threaded; hashing after the exchange spreads
    // it across the cluster, and partitioning by the groupBy key means
    // the signature aggregate needs no further shuffle (measured 3×
    // end-to-end on local[32]).
    val toks = Relational.spread(tokens(df, id, text), col(id))
    val sigs = scheme match {
      case "lcg"    => minhashSignaturesLcg(toks, id, k)
      case "oph"    => ophDensifiedSignatures(toks, id, k)
      case "xx64"   => minhashSignaturesXx(toks, id, k)
      case "salted" => minhashSignatures(toks, id, k)
    }
    sigs.select(col(id) +: stampScheme(col("mh0"), "mh0",
        minhashScheme(scheme, k)) +:
      (1 until k).map(j => col(s"mh$j")): _*)
  }

  /** [[minhashNearDups]] over PRE-DERIVED signatures (id, mh0..mh{k-1})
    * — the face a materialized signature store feeds
    * ([[graft.queries.TextSketch.minhashSigs]]): sketch at ingest, band
    * + verify at analysis time. `df` supplies the TRUE token sets for
    * the exact-Jaccard verify (candidates only — the store replaces the
    * corpus-wide hash/aggregate pass, not the exactness); `sigs` must
    * cover exactly `df`'s doc set and carry the expected scheme marker
    * on `mh0` (pass `None` for an ad-hoc frame the caller vouches
    * for). */
  def minhashNearDupsFromSigs(sigs: DataFrame, df: DataFrame, id: String,
                              text: String, k: Int, bands: Int,
                              threshold: Double, maxBucket: Int,
                              expectScheme: Option[String]): DataFrame = {
    expectScheme.foreach(e =>
      requireScheme(sigs, "mh0", e, "minhashNearDupsFromSigs"))
    // r18 batch 3: the verify joins STREAM the candidate-pair side (the
    // token-set side arrives as a broadcast/build relation), so when AQE
    // coalesces the candidate aggregate's output to ONE partition the
    // jaccardDistinct verify work serializes no matter how the sets are
    // laid out (stage profile: two ~0.9 s single-task joins in q205).
    // Pin a spread of the narrow (id_a, id_b) pairs — spreadIfNarrow
    // can't see this one because the STATIC plan already says 32; it is
    // the runtime coalesce that collapses it.
    val cands = Relational.spread(
      lshCandidates(lshBands(sigs, id, k, bands), id, maxBucket),
      col("id_a"))
    // r18 A/B: the verify-set tokenization is consumed by BOTH candidate
    // joins, which re-derived it as two ~0.7 s single-task passes
    // (q205's dominant stages). Spreading the TEXT payload before
    // tokenizing measured net-worse (q205 3.31→3.47, q42 1.39→1.59 s —
    // the wide-row shuffle costs more than the parallelism buys back),
    // so instead materialize the token sets ONCE and let both joins read
    // the checkpoint. Eager at construction time like every other
    // multi-consumer checkpoint in this file.
    //
    // r18 batch 3: spread the SETS (not the text) before the checkpoint.
    // The stage profile showed both verify joins running as one task
    // each over the 1-partition checkpoint (0.96 + 0.85 s of q205's
    // wall): the broadcast candidate side follows the sets side's
    // partitioning, so a 1-partition checkpoint serializes the
    // jaccardDistinct verify work. One exchange of the narrow (id,
    // sh_set) rows lets both joins verify 32-way; spreadIfNarrow keeps it
    // the identity on an already-parallel frame at scale. Round-robin,
    // not id-keyed: the checkpoint would keep an id partitioning, and the
    // planner then streams the sets co-partitioned, broadcasts the
    // candidates and re-shuffles the wide first-join rows by id_b
    // (q205 at sf0.01: one more job, 1.27 → 1.49 s).
    val sets = Relational.spreadIfNarrow(tokenSets(df, id, text))
      .transform(GraftGlue.materialize(_))
    cands
      .join(sets.select(col(id).as("id_a"), col("sh_set").as("sh_a")), "id_a")
      .join(sets.select(col(id).as("id_b"), col("sh_set").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccardDistinct(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact all-pairs Jaccard above a positive threshold, via the sparse
    * intersection-count join (the shape that survives scale-up): explode
    * shingles, self equi-join on the shingle to count intersections, then
    * inclusion–exclusion with the per-doc set sizes. Pairs sharing no
    * shingle never materialize — correct for any threshold > 0, and the
    * per-shingle fan-out is bounded by document frequency, not n². All
    * stages are codegen'd hash joins/aggregates.
    *
    * `shingles` maps a doc id+payload row to its distinct shingle array
    * (e.g. [[TextFunctions.charNGrams]]). */
  def sparseJaccardPairs(df: DataFrame, id: String, shingles: Column,
                         threshold: Double): DataFrame = {
    // The shingle expression is inlined into BOTH branches rather than
    // computed in a shared projection: keeping the array out of a named
    // intermediate column lets the Generate consume the expression
    // directly (measured ~9× faster than explode-of-aliased-column when
    // the shingle expression is a non-codegen HOF).
    val sizes = df.select(col(id).as("doc"), size(shingles).as("n_sh"))
    val toks = df.select(col(id).as("doc"), explode(shingles).as("sh"))
    val inter = toks.alias("a")
      .join(toks.alias("b"), col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** ASYMMETRIC containment join (Broder SEQUENCES'97's containment
    * measure): directed pairs where C(src→dst) = |S_src ∩ S_dst| /
    * |S_src| ≥ tNum/tDen — "most of src's shingles appear in dst",
    * which Jaccard misses whenever the container is much larger than
    * the contained doc (quotes, benchmark items inside crawl pages —
    * the decontamination shape q67's equality join can't grade by
    * degree). The threshold compare is the integer cross-multiply
    * n_inter·tDen ≥ n_src·tNum and the reported score is the
    * fixed-point (n_inter·1000000) div n_src — no float at a keep/drop
    * boundary. Returns (id_src, id_dst, n_inter, n_src, cont_scaled),
    * both directions evaluated from ONE undirected intersection count.
    *
    * Scale posture — the ASYMMETRIC PREFIX FILTER (Xiao et al.,
    * TODS'11, adapted to the one-sided containment bound): candidates
    * never come from a full inverted-index self-join. Order every
    * document's shingles rarest-first (ascending document frequency,
    * ties by shingle hash) and observe that C(src→dst) ≥ t forces
    * overlap o = ⌈t·n_src⌉, so src and dst MUST share a shingle within
    * src's first n_src − o + 1 shingles under that common order (src's
    * suffix holds only o − 1 shingles — fewer than the required
    * overlap). Candidates therefore join src-side PREFIX tokens against
    * the dst-side full index: a boilerplate shingle shared by f docs is
    * high-df, lands at the END of every rarest-first order, and so
    * almost never enters a prefix — its fan-out is (#prefixes holding
    * it)·f, not f²/2. The filter is LOSSLESS (the oracle compares
    * against the brute-force intersection join, so the hash is the
    * proof, every round); the size-compatibility prune
    * tNum·n_src ≤ tDen·n_dst (⌈t·n_src⌉ ≤ n_dst is necessary) is an
    * integer cross-multiply. Verification intersects the TRUE shingle
    * arrays per candidate — O(|src|+|dst|) each, never n². */
  def containmentPairs(df: DataFrame, id: String, shingles: Column,
                       tNum: Int, tDen: Int): DataFrame =
    containmentPairsCore(
      df.select(col(id).as("doc"), shingles.as("__set")), tNum, tDen)

  /** Canonical scheme string for a per-doc word-n-gram shingle-SET
    * derivation ([[wordShingleSets]]) — the marker a materialized
    * shingle-set store carries on its `sh_set` column. */
  def shingleSetScheme(n: Int): String = s"shingle_words_n$n"

  /** Per-doc distinct word-n-gram shingle sets (id, sh_set), `sh_set`
    * stamped with [[shingleSetScheme]] — the derivation a materialized
    * shingle-set store runs at build time. Shingle sets are PER-DOC, so
    * a doc-subset restriction of the stored table equals a fresh
    * derivation over the subset. */
  def wordShingleSets(df: DataFrame, id: String, text: Column,
                      n: Int): DataFrame =
    df.select(col(id), stampScheme(TextFunctions.wordShingles(text, n),
      "sh_set", shingleSetScheme(n)))

  /** [[containmentPairs]] over PRE-DERIVED shingle sets (id, sh_set) —
    * the face a materialized shingle-set store feeds
    * ([[graft.queries.TextSketch.shingleSets4]]): the interpreted
    * shingle HOF runs once at store build, and every analysis-time
    * consumer reads stored arrays. `sets` must carry the expected
    * scheme marker on `sh_set` (`None` = ad-hoc frame the caller
    * vouches for) and cover exactly the doc set under test. */
  def containmentPairsFromSets(sets: DataFrame, id: String, tNum: Int,
                               tDen: Int, expectScheme: Option[String])
      : DataFrame = {
    expectScheme.foreach(e =>
      requireScheme(sets, "sh_set", e, "containmentPairsFromSets"))
    containmentPairsCore(
      sets.select(col(id).as("doc"), col("sh_set").as("__set")), tNum, tDen)
  }

  private def containmentPairsCore(docSetsIn: DataFrame, tNum: Int,
                                   tDen: Int): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"need 0 < tNum/tDen <= 1; got $tNum/$tDen")
    // The shingle HOF is interpreted (no doGenCode) and this plan has
    // multiple consumers (candidate tokens + both verify sides) —
    // materialize the per-doc arrays once and let every consumer read
    // stored arrays (the prefixJaccardPairs discipline)
    val docSets = docSetsIn
      .withColumn("__n", size(col("__set")))
      .transform(GraftGlue.materialize(_))
    // 64-bit shingle hashes through the candidate machinery: exchanges
    // move 8-byte keys, and a collision can only ADD a spurious
    // candidate — the exact array_intersect verify removes it
    val toks = docSets
      .select(col("doc"), col("__n"), explode(col("__set")).as("__s"))
      .select(col("doc"), col("__n"), xxhash64(col("__s")).as("sh"))
    val cand = GraftGlue.materialize(containmentCandidates(toks, tNum, tDen))
    // exact verify on the true shingle arrays, candidates only
    cand
      .join(docSets.select(col("doc").as("id_src"), col("__set").as("__ss"),
        col("__n").as("__ns")), "id_src")
      .join(docSets.select(col("doc").as("id_dst"), col("__set").as("__sd")),
        "id_dst")
      .withColumn("n_inter",
        size(array_intersect(col("__ss"), col("__sd"))).cast("long"))
      .filter(col("n_inter") * tDen >= col("__ns").cast("long") * tNum)
      // n_src widens to long: size() is INT but the oracle's len() is
      // BIGINT, and the schema compare is typed
      .select(col("id_src"), col("id_dst"), col("n_inter"),
        col("__ns").cast("long").as("n_src"),
        expr("(n_inter * 1000000) div __ns").as("cont_scaled"))
  }

  /** EXACT Jaccard ≥ tNum/tDen similarity join via prefix filtering —
    * the AllPairs/PPJoin construction (Bayardo et al., WWW'07; Xiao et
    * al., TODS'11): order every document's shingles by ascending
    * document frequency (rarest first, ties by shingle), and note that
    * two documents with Jaccard ≥ t must share a shingle within their
    * first n − ⌈t·n⌉ + 1 shingles under that common order. Candidates
    * therefore come from an inverted-index equi-join over PREFIXES only
    * — the frequent shingles that make [[sparseJaccardPairs]]'s full
    * inverted join quadratic never generate candidates — and the filter
    * is LOSSLESS, so the result equals the brute-force join (the oracle
    * compare against the full O(n²) ground truth is the losslessness
    * proof, every round).
    *
    * The threshold is a RATIONAL tNum/tDen and every pruning compare is
    * integer (⌈t·n⌉ as (tNum·n + tDen−1) div tDen; J ≥ t as
    * inter·tDen ≥ tNum·(n_a+n_b−inter)) — a float ceil at a prefix
    * boundary could silently shorten a prefix and drop a true pair.
    *
    * Scale posture: df-rank is one hash aggregate + one per-doc window;
    * the candidate join carries only ~n·(1−t) prefix shingles per doc,
    * rarest-first (low fan-out by construction); verification joins the
    * two shingle arrays in by id and intersects per pair — O(|a|+|b|)
    * per candidate, candidates bounded by prefix-shingle df, never n². */
  def prefixJaccardPairs(df: DataFrame, id: String, shingles: Column,
                         tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"need 0 < tNum/tDen <= 1; got $tNum/$tDen")
    // The shingle HOF (transform/slice/concat_ws) is INTERPRETED — no
    // doGenCode — and measures ~0.25 ms/doc; left in the lineage it
    // would re-evaluate at every consumer (token explode, df count,
    // sizes, both verify sides: 4+ full passes). Materialize the per-doc
    // shingle arrays ONCE; everything downstream reads stored arrays.
    // This shingle table IS the working set of any AllPairs run — its
    // size is the shingle expansion of the corpus, spillable to local
    // disk, and it is read three times instead of rebuilt.
    val docSets = df.select(col(id).as("doc"), shingles.as("__set"))
      .withColumn("__n", size(col("__set")))
      .transform(GraftGlue.materialize(_))
    // Shingles collapse to a 64-bit hash at the explode: every exchange,
    // join and window sort then moves 8-byte keys instead of multi-word
    // strings. A collision can only merge two shingles' df counts or
    // emit a spurious candidate — the exact array_intersect verify
    // removes it, so the RESULT is still exact (any common total order
    // works for the prefix argument; (df, hash) is one).
    val toks = docSets.select(col("doc"), col("__n"),
        explode(col("__set")).as("__s"))
      .select(col("doc"), col("__n"), xxhash64(col("__s")).as("sh"))
    val cand = prefixCandidates(toks, tNum, tDen)
    verifyJaccard(cand, docSets, tNum, tDen)
  }

  /** [[prefixJaccardPairs]] specialized to word-n-gram shingles, with
    * the interpreted shingle HOF replaced end-to-end:
    *  - candidate generation hashes shingles via the codegen-friendly
    *    [[graft.expressions.WordShingleHash64]] (one pass over the
    *    lowered UTF-8 bytes, no per-shingle strings — ~1 ms/doc → ~µs);
    *  - the exact string-array verify runs ONLY on documents that appear
    *    in some candidate pair (semi-join first, HOF after), so the
    *    expensive expression touches the candidate set, not the corpus.
    * Size-compatibility pruning uses hash-distinct sizes; the final
    * J ≥ t compare uses TRUE shingle-set sizes from the verify arrays,
    * so emitted pairs are exact. (A 64-bit shingle-hash collision could
    * in principle prune a boundary pair — probability ~shingles²/2⁶⁴,
    * and the oracle compare against exact ground truth would surface
    * it.) */
  def prefixJaccardPairsWords(df: DataFrame, id: String, text: String,
                              n: Int, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"need 0 < tNum/tDen <= 1; got $tNum/$tDen")
    val hashArr = TextFunctions.wordShingleHash64(col(text), n)
    // r18 (guide §2.5): the shingle-hash HOF + explode is narrow — over
    // a single-row-group scan it ran as ONE task; spread only when
    // actually narrow (identity on a production fan-out scan)
    val toks = Relational.spreadIfNarrow(df, col(id))
      .select(col(id).as("doc"), size(hashArr).as("__n"),
        explode(hashArr).as("sh"))
    // r18: the candidate table has THREE consumers (both candIds sides +
    // the verify join) — without a checkpoint each re-runs the prefix
    // self-join + distinct; pairs are two ids each, cheap to hold
    val cand = GraftGlue.materialize(prefixCandidates(toks, tNum, tDen))
    // no broadcast HINT on the candidate-id semi-join: the candidate set
    // scales with the corpus's duplication rate (worst case most of the
    // corpus), and a forced broadcast of a data-scaled frame is a driver
    // OOM at 100 TB. The checkpoint gives the planner the frame's
    // EXACT size instead of an AQE guess re-derived every run, so the
    // semi-join broadcasts statically whenever the set is actually small
    // (the common case) and shuffles when it is not.
    val candIds = cand.select(col("id_a").as("doc"))
      .union(cand.select(col("id_b").as("doc"))).distinct()
      .transform(GraftGlue.materialize(_))
    // spread the verify-set derivation too (same narrow-HOF rationale):
    // the semi-join of a narrow scan against a broadcast stays narrow
    val verifySets = Relational.spreadIfNarrow(
        df.join(candIds.withColumnRenamed("doc", id), Seq(id), "left_semi"),
        col(id))
      .select(col(id).as("doc"),
        TextFunctions.wordShingles(col(text), n).as("__set"))
      .withColumn("__n", size(col("__set")))
      .transform(GraftGlue.materialize(_))
    verifyJaccard(cand, verifySets, tNum, tDen)
  }

  /** Candidate stage of [[containmentPairs]], package-visible so
    * ScalePostureSpec can pin its plan shape (prefix filter present,
    * equi-join on the shingle hash, no cartesian stage). `toks` carries
    * (doc, __n, sh) hashed tokens. `checkpoint = false` keeps the full
    * lineage visible for plan assertions; production checkpoints the
    * prefix table (read twice: fan-out estimate + join build). */
  private[graft] def containmentCandidates(toks: DataFrame, tNum: Int,
                                           tDen: Int,
                                           checkpoint: Boolean = true): DataFrame = {
    val dfreq = toks.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
    val ranked = toks
      .join(dfreq, "sh")
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col("doc")).orderBy(col("__df"), col("sh"))))
    // src prefix: first n − ⌈t·n⌉ + 1 rarest shingles (integer ceil,
    // in LONG — int tNum × int n wraps for huge shingle arrays, and a
    // wrapped prefix length silently DROPS candidates)
    val pref0 = ranked
      .filter(col("__pos") <=
        col("__n") - expr(s"(($tNum * CAST(__n AS BIGINT) + ${tDen - 1}) div $tDen)") + 1)
      .select(col("doc").as("id_src"), col("sh"), col("__n").as("__n_src"))
    val pref = if (checkpoint) pref0.transform(GraftGlue.materialize(_)) else pref0
    // dst side indexes ALL tokens (containment has no dst-side prefix:
    // the container may be arbitrarily larger than the contained doc);
    // distinct key names — an ambiguous self-join key would tempt the
    // analyzer into a trivially-true `sh == sh` predicate, silently
    // degrading the candidate stage to size-compat-only (quadratic)
    val all = toks.select(col("doc").as("id_dst"), col("sh").as("__sh_d"),
      col("__n").as("__n_dst"))
    pref
      .join(all,
        col("sh") === col("__sh_d") && col("id_src") =!= col("id_dst") &&
          // ⌈t·n_src⌉ ≤ n_dst, as an integer cross-multiply — in LONG:
          // int n × int threshold overflows for large shingle arrays
          // (the verify stage already casts n_inter to long for the same
          // reason)
          col("__n_dst").cast("long") * tDen >= col("__n_src").cast("long") * tNum)
      .select(col("id_src"), col("id_dst"))
      .distinct()
  }

  /** Shared AllPairs candidate stage over hashed tokens (doc, __n, sh):
    * df-rank window → prefix filter → self equi-join on the prefix
    * hashes with rational size-compatibility pruning. Returns distinct
    * (id_a, id_b) with id_a < id_b. */
  private def prefixCandidates(toks: DataFrame, tNum: Int,
                               tDen: Int): DataFrame = {
    val dfreq = toks.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
    val pref = toks
      .join(dfreq, "sh")
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col("doc")).orderBy(col("__df"), col("sh"))))
      .filter(col("__pos") <=
        col("__n") - expr(s"(($tNum * CAST(__n AS BIGINT) + ${tDen - 1}) div $tDen)") + 1)
      .select(col("doc"), col("sh"), col("__n"))
      // materialize: the self-join below would otherwise expand the whole
      // explode→df-count→window pipeline once PER SIDE; the prefix table
      // is ~n·(1−t) rows per doc, cheap to hold, expensive to rebuild
      .transform(GraftGlue.materialize(_))
    pref.alias("a")
      .join(pref.alias("b"),
        col("a.sh") === col("b.sh") && col("a.doc") < col("b.doc") &&
          // size compatibility: J ≥ t forces t·max(n_a,n_b) ≤ min(n_a,n_b)
          // — cross-multiplied in LONG (int n × int threshold overflows
          // for very large shingle arrays)
          col("b.__n").cast("long") * tDen >= col("a.__n").cast("long") * tNum &&
          col("a.__n").cast("long") * tDen >= col("b.__n").cast("long") * tNum)
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
  }

  /** Exact verify: join the true shingle arrays in by id, intersect, and
    * keep pairs passing the rational J ≥ t integer compare on TRUE set
    * sizes. `sets` must carry (doc, __set, __n). */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame, tNum: Int,
                            tDen: Int): DataFrame =
    cand
      .join(sets.select(col("doc").as("id_a"), col("__set").as("__sa"),
        col("__n").as("__na")), "id_a")
      .join(sets.select(col("doc").as("id_b"), col("__set").as("__sb"),
        col("__n").as("__nb")), "id_b")
      .withColumn("__inter",
        size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .filter(col("__inter") * tDen >=
        lit(tNum.toLong) * (col("__na").cast("long") + col("__nb") - col("__inter")))
      .select(col("id_a"), col("id_b"),
        round(col("__inter").cast("double") /
          (col("__na") + col("__nb") - col("__inter")), 6).as("jaccard"))

  /** Hex-digit value (0..15) of `h` at 1-based position `pos` — the
    * portable bit source for SimHash (DuckDB mirrors it with strpos over
    * the same alphabet). */
  private def hexDigit(h: Column, pos: Int): Column =
    conv(substring(h, pos, 1), 16, 10).cast("int")

  /** Portable 64-bit SimHash as four 16-bit chunks (c0..c3, low chunk
    * first): per bit, sum +1/−1 over the doc's distinct tokens weighted by
    * the bit of the token's md5, take the sign. Bit b lives in hex digit
    * b/4 (first 16 hex chars = 64 bits), sub-bit b%4. Expressed as 64
    * running sums in one hash aggregate (map-side combinable); chunked
    * ints keep every value inside portable INT32 range so the DuckDB
    * oracle reproduces the sketch bit-for-bit. */
  /** Shared SimHash tail: per-bit ±1 sums in one hash aggregate, then the
    * sign bits packed into four 16-bit chunks. `bit(b)` supplies bit b of
    * the current row's token hash (whatever the hash family). */
  private def simhashFromBits(toks: DataFrame, id: String,
                              bit: Int => Column): DataFrame = {
    val bitSums = (0 until 64).map { b =>
      sum(when(bit(b) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val sums = toks.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    sums.select(
      col(id) +: (0 until 4).map { c =>
        (0 until 16).map { j =>
          when(col(s"b${16 * c + j}") > 0, lit(1 << j)).otherwise(lit(0))
        }.reduce(_ + _).as(s"c$c")
      }: _*)
  }

  def simhashChunks(df: DataFrame, id: String, text: String): DataFrame = {
    // Same pre-hash repartition rationale as minhashNearDups: parallelize
    // the per-token digest/bit-decode work and pre-align with the groupBy.
    val toks = Relational.spread(tokens(df, id, text), col(id))
      .withColumn("h", md5(col("sh")))
    val withDigits = toks.select(
      col(id) +: (0 until 16).map(i => hexDigit(col("h"), i + 1).as(s"d$i")): _*)
    simhashFromBits(withDigits, id,
      b => shiftright(col(s"d${b / 4}"), b % 4).bitwiseAND(1))
  }

  /** [[simhashChunks]] on the xxhash64 base: bit b is bit b of ONE
    * codegen'd 64-bit token hash — no hex decode, no 16 digit columns.
    * Like [[minhashSignaturesXx]], excluded from the cross-engine oracle
    * by design (no DuckDB xxhash64); validated in TextDedupSpec by the
    * pigeonhole recall property within its own hash family. */
  def simhashChunksXx(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = Relational.spread(tokens(df, id, text), col(id))
      .withColumn("h", xxhash64(col("sh")))
    simhashFromBits(toks, id,
      b => shiftright(col("h"), b).bitwiseAND(1).cast("int"))
  }

  /** Hamming distance between two chunked sketches (popcount of xor per
    * 16-bit chunk, summed — overflow-free in portable INT32 math). */
  def hammingChunks(a: Seq[Column], b: Seq[Column]): Column =
    a.zip(b).map { case (x, y) => bit_count(x.bitwiseXOR(y)) }.reduce(_ + _)

  /** Scalable SimHash near-dup pairs via chunk banding (the pigeonhole
    * construction): two 64-bit sketches within Hamming distance d ≤ 3
    * must agree EXACTLY on at least one of their four 16-bit chunks, so
    * candidates are pairs sharing any (chunk_idx, chunk_value) bucket —
    * four equi-joins' worth of buckets instead of the all-pairs cross
    * join ([[simhashChunks]] + a theta-join, the q43 ground-truth shape).
    * Exact-recall guarantee holds ONLY for maxDist ≤ 3 (4 chunks, d ≥ 4
    * can differ in every chunk); the require enforces it rather than
    * silently losing pairs. Candidates are then verified with the exact
    * chunked Hamming distance.
    *
    * Every stage is a hash join/aggregate on (chunk_idx, chunk_value) —
    * shuffle-bounded, no n² anywhere; bucket skew (low-entropy corpora
    * concentrate chunk values) is the LSH stop-bucket story again and
    * AQE's skew split covers the join. The sketch table is
    * checkpointed: three consumers would otherwise recompute the
    * full token-hash aggregate. */
  def simhashBandedPairs(df: DataFrame, id: String, text: String,
                         maxDist: Int = 3, scheme: String = "md5"): DataFrame = {
    require(maxDist <= 3,
      s"maxDist=$maxDist: 4-chunk pigeonhole only guarantees recall for d <= 3")
    require(Set("md5", "xx64")(scheme), s"unknown scheme $scheme")
    val sketch =
      if (scheme == "xx64") simhashChunksXx(df, id, text)
      else simhashChunks(df, id, text)
    val sk = GraftGlue.materialize(sketch)
    val bands = sk.select(col(id),
      posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
        .as(Seq("bi", "bv")))
    val cand = bands.alias("a")
      .join(bands.alias("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
    cand
      .join(sk.select(col(id).as("id_a"), col("c0").as("a0"), col("c1").as("a1"),
        col("c2").as("a2"), col("c3").as("a3")), "id_a")
      .join(sk.select(col(id).as("id_b"), col("c0").as("b0"), col("c1").as("b1"),
        col("c2").as("b2"), col("c3").as("b3")), "id_b")
      .withColumn("dist", hammingChunks(
        Seq(col("a0"), col("a1"), col("a2"), col("a3")),
        Seq(col("b0"), col("b1"), col("b2"), col("b3"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  /** The ONE band derivation over the chunked c0..c3 sketch shape,
    * shared by [[hammingBandedPairs]] and the streaming ingest filter
    * ([[graft.streaming.StreamPipeline.imageDedupSuppressWriter]]) —
    * a silent copy at either site would let the batch and ingest
    * recall semantics diverge without a compile-time signal. */
  def hammingBandExprs(nBands: Int): Seq[Column] = {
    require(nBands == 4 || nBands == 8, s"nBands=$nBands: need 4 or 8")
    if (nBands == 4) Seq(col("c0"), col("c1"), col("c2"), col("c3"))
    else (0 until 8).map(b =>
      shiftright(col(s"c${b / 2}"), 8 * (b % 2)).bitwiseAND(255))
  }

  /** Generic Hamming-banded near-dup pairs over an ALREADY-BUILT chunked
    * 64-bit sketch (c0..c3 16-bit chunks) — the blocking stage shared by
    * every perceptual-hash modality (dHash over images here; an audio
    * chromaprint or video keyframe hash lands in the same shape). Where
    * [[simhashBandedPairs]] fuses sketch construction with its fixed
    * 4×16 banding, this one takes the sketch as input and parameterizes
    * the band count: `nBands` ∈ {4, 8} splits the 64 bits into equal
    * bands, and the pigeonhole guarantee (two sketches within Hamming
    * d < nBands must agree exactly on ≥ 1 band) makes recall EXACT for
    * `maxDist` ≤ nBands−1 — PROVIDED no bucket overflows the cap
    * below. 8 bands buys d ≤ 7, the working range for perceptual image
    * hashes, at the cost of 8-bit band values whose buckets grow with
    * corpus size. That growth is the standard LSH skew story, handled
    * the [[lshCandidates]] way: bucket sizes are counted first and
    * buckets larger than `maxBucket` are DROPPED (stop-bucket removal —
    * a near-constant-corpus band bucket would otherwise cost O(n²)
    * candidate pairs). The cap TRADES RECALL FOR BOUNDEDNESS: a pair
    * whose every agreeing band overflows is lost (the pigeonhole gives
    * ≥ 1 agreeing band, not a spare), so exact recall holds exactly
    * when the corpus density keeps agreeing bands under the cap —
    * which the q255/q259 oracles PROVE at fixture scale by matching
    * the exact all-pairs construction, and which a 500k-sketch ×100
    * replica deliberately violates (each sketch enters one bucket PER
    * BAND: 500k entries over 256 values per band ⇒ avg ≈ 1953 ≫ 200)
    * to exercise this path. At corpus scale the
    * wider-hash/multi-index upgrade (256-bit pHash, HmSearch) keeps
    * buckets sparse without changing this plan shape. Singleton
    * buckets are skipped outright (no pair to emit).
    * Candidates are verified with the exact chunked Hamming distance —
    * every stage an equi-join/hash-aggregate on (band_idx, band_value),
    * never all-pairs. */
  def hammingBandedPairs(sketch: DataFrame, id: String, maxDist: Int,
                         nBands: Int = 8, maxBucket: Int = 200): DataFrame = {
    require(nBands == 4 || nBands == 8, s"nBands=$nBands: need 4 or 8")
    require(maxDist < nBands,
      s"maxDist=$maxDist: $nBands-band pigeonhole only guarantees recall for d <= ${nBands - 1}")
    // a cap below 2 drops EVERY bucket (pairs need two members) and
    // silently reports zero recall — refuse loudly like the bounds above
    require(maxBucket >= 2,
      s"maxBucket=$maxBucket: a cap below 2 drops every bucket and returns zero pairs")
    val sk = sketch.select(col(id), col("c0"), col("c1"), col("c2"), col("c3"))
      .transform(GraftGlue.materialize(_))
    val bands = sk.select(col(id),
      posexplode(array(hammingBandExprs(nBands): _*)).as(Seq("bi", "bv")))
    val keep = bands.groupBy(col("bi"), col("bv"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n").between(2, maxBucket))
    val inBuckets = bands.join(keep, Seq("bi", "bv"))
    val cand = inBuckets.alias("a")
      .join(inBuckets.alias("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
    cand
      .join(sk.select(col(id).as("id_a"), col("c0").as("a0"), col("c1").as("a1"),
        col("c2").as("a2"), col("c3").as("a3")), "id_a")
      .join(sk.select(col(id).as("id_b"), col("c0").as("b0"), col("c1").as("b1"),
        col("c2").as("b2"), col("c3").as("b3")), "id_b")
      .withColumn("dist", hammingChunks(
        Seq(col("a0"), col("a1"), col("a2"), col("a3")),
        Seq(col("b0"), col("b1"), col("b2"), col("b3"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  /** [[hammingBandedPairs]] generalized to a sketch of ANY chunk count
    * (the 256-bit dHash's c0..c15, or any future wider sketch): each
    * 16-bit chunk IS one band, so the pigeonhole guarantee covers
    * d ≤ nChunks−1 — at 16 chunks that is d ≤ 15, the full perceptual
    * edit band the 64-bit hash's wide regime (q261, d ≤ 3) had to
    * surrender — while the 65,536-value band space keeps ×100 bucket
    * occupancy sparse exactly as q261's does. Same plan shape: band
    * equi-join with stop-bucket cap, exact chunked-Hamming verify,
    * never all-pairs. This is the REGISTERED wider-sketch upgrade the
    * 8-bit-band saturation docs pointed at (round-14 What's wrong #1);
    * the 64-bit entry points stay as the cheap default where corpus
    * density allows them. */
  def hammingBandedPairsChunks(sketch: DataFrame, id: String, maxDist: Int,
                               nChunks: Int,
                               maxBucket: Int = 200,
                               chunksPerBand: Int = 1): DataFrame = {
    require(nChunks >= 2, s"nChunks=$nChunks: need >= 2 chunk columns")
    // grouped banding (round-16, the q281 dial on the PAIR side): a
    // band is a GROUP of chunksPerBand chunk columns, so the band
    // value space exponentiates (16 → 32-bit values at 2 chunks/band)
    // and buckets stay under the stop-cap at corpus densities where
    // per-chunk bands crowd — the pair operator benefits MORE than
    // search, because its crowded buckets are DROPPED (recall lost)
    // rather than merely slow. The price is the tighter pigeonhole:
    // maxDist < nBands, per GROUP.
    require(chunksPerBand >= 1 && nChunks % chunksPerBand == 0,
      s"chunksPerBand=$chunksPerBand must divide nChunks=$nChunks")
    val nBands = nChunks / chunksPerBand
    require(nBands >= 2, s"$nChunks chunks at $chunksPerBand per band " +
      "leave fewer than 2 bands — no pigeonhole at all")
    require(maxDist < nBands,
      s"maxDist=$maxDist: $nBands-band pigeonhole only guarantees recall for d <= ${nBands - 1}")
    require(maxBucket >= 2,
      s"maxBucket=$maxBucket: a cap below 2 drops every bucket and returns zero pairs")
    val chunkNames = (0 until nChunks).map(k => s"c$k")
    // null chunks refuse loudly at the shared projection (see
    // nonNullChunk) — both the band stream and the verify read sk
    val sk = sketch.select((col(id) +: chunkNames.map(c =>
      nonNullChunk(col(id), c).as(c))): _*).transform(GraftGlue.materialize(_))
    val bandExprs: Seq[Column] =
      if (chunksPerBand == 1) chunkNames.map(col)
      else (0 until nBands).map(b => concat_ws(":",
        chunkNames.slice(b * chunksPerBand, (b + 1) * chunksPerBand)
          .map(c => col(c).cast("string")): _*))
    val bands = sk.select(col(id),
      posexplode(array(bandExprs.map(_.cast("string")): _*)).as(Seq("bi", "bv")))
    val keep = bands.groupBy(col("bi"), col("bv"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n").between(2, maxBucket))
    val inBuckets = bands.join(keep, Seq("bi", "bv"))
    val cand = inBuckets.alias("a")
      .join(inBuckets.alias("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .distinct()
    cand
      .join(sk.select((col(id).as("id_a") +:
        chunkNames.map(c => col(c).as(s"a_$c"))): _*), "id_a")
      .join(sk.select((col(id).as("id_b") +:
        chunkNames.map(c => col(c).as(s"b_$c"))): _*), "id_b")
      .withColumn("dist", hammingChunks(
        chunkNames.map(c => col(s"a_$c")), chunkNames.map(c => col(s"b_$c"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  // ------------------------------------------------- substring spans

  /** Substring-level duplication profile (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22): document-level
    * dedup misses the boilerplate CASE — near-unique pages sharing long
    * verbatim spans (headers, licenses, templates). The paper's suffix-
    * array construction is inherently sequential; the distributed
    * equivalent used at corpus scale is fixed-width window fingerprints:
    * hash every `width`-char window at `stride`-char steps, and a window
    * hash seen in ≥ 2 DISTINCT documents marks a duplicated span.
    *
    * `stride` trades recall for cost: stride=1 is the exact construction
    * (every duplicated span ≥ width chars is caught); stride=s still
    * catches every duplicated span ≥ width + s - 1 chars (some window
    * start inside it falls on a stride point in both copies ONLY when
    * alignment matches — so for guaranteed detection under arbitrary
    * alignment use stride=1 on the shorter side, or accept the
    * alignment-sensitive recall documented here; the profile's job is
    * corpus triage, not proof of absence).
    *
    * Scale shape: |text|/stride window hashes per doc (md5-portable),
    * one hash aggregate keyed by the window hash (shuffle ∝ windows, the
    * unavoidable cost), then a semi-join back. No pairwise stage at all —
    * unlike MinHash this never materializes document PAIRS, so a span
    * shared by 10^6 docs costs one group, not C(10^6, 2) rows.
    *
    * Returns per-document span stats for docs with ≥ 1 duplicated span:
    * (id, n_spans, n_dup_spans, dup_frac). */
  def duplicateSpans(docs: DataFrame, id: String, text: String,
                     width: Int = 40, stride: Int = 8): DataFrame = {
    require(width >= 4 && stride >= 1, s"bad width/stride: $width/$stride")
    import org.apache.spark.sql.expressions.Window
    val wins = docs
      .filter(length(col(text)) >= width)
      .select(col(id), col(text))
      .withColumn("pos",
        explode(sequence(lit(1), length(col(text)) - (width - 1), lit(stride))))
      .select(col(id), md5(col(text).substr(col("pos"), lit(width))).as("wh"))
    // Single pass over the exploded windows: aggregate to (wh, id, occ)
    // once (the md5 explode is the dominant cost — never recompute it),
    // count distinct docs per hash with a count-only window over the
    // aggregated rows (partition sizes = docs sharing one hash; no join
    // back to the raw window stream), then fold to per-doc stats.
    wins.groupBy(col("wh"), col(id)).agg(count(lit(1)).as("occ"))
      .withColumn("ndocs", count(lit(1)).over(Window.partitionBy(col("wh"))))
      .groupBy(col(id))
      .agg(sum(col("occ")).as("n_spans"),
        sum(when(col("ndocs") >= 2, col("occ")).otherwise(lit(0L))).as("n_dup_spans"))
      .filter(col("n_dup_spans") >= 1)
      .select(col(id), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6).as("dup_frac"))
  }

  /** Position span of the winnowing key packing: pos rides the low 21
    * bits under the 32-bit gram hash (key = hash·2²¹ + (2²¹−1−pos)),
    * so keys stay < 2⁵³ — exact in Int64 AND in DuckDB BIGINT — and
    * one windowed `array_min` selects the winnowing fingerprint
    * (min hash, RIGHTMOST position on ties — the robust-winnowing rule)
    * with zero extra machinery. */
  private[operators] val WinnowPosSpan = 1 << 21

  // ------------------------------------------ sketch-scheme markers
  //
  // The BATCH twin of the streaming writers' `_scheme` directory marker
  // (StreamPipeline.pinIndexScheme): a fingerprint/window-hash frame is
  // only meaningful under the parameters that derived it — a k4w4
  // winnow store probed at k5, or a width-30 window store excised at
  // width 40 (e = pos + 39 against width-30 positions), SILENTLY
  // returns empty or wrong results. The deriving operators therefore
  // stamp the hash column's METADATA with the scheme (metadata rides
  // attribute references through select/filter/join and survives the
  // parquet round-trip in the footer schema), and every store-fed entry
  // point `require`s a match before using the frame.

  private val SchemeKey = "graft.scheme"

  /** A sketch chunk column that REFUSES NULL loudly, for the banding
    * operators: `concat_ws` SKIPS nulls, so with grouped bands a null
    * chunk makes (null, 5) and (5, null) band identically — and worse,
    * the per-band pigeonhole recall guarantee is silently voided; with
    * per-chunk bands a null band value falls out of the equi-join
    * entirely (zero recall for that sketch, no signal). The house
    * convention is a raise, not absorption (round-16 advice). Returns
    * the unaliased column; callers alias. NULL-branch type is long —
    * harmless widening for band strings and XOR popcounts alike. */
  private[operators] def nonNullChunk(idCol: Column, c: String): Column =
    when(col(c).isNull,
      raise_error(concat(lit(s"hamming banding: NULL chunk '$c' at id "),
        coalesce(idCol.cast("string"), lit("NULL")))).cast("long"))
      .otherwise(col(c))

  /** Loud bound on the rows a decontamination/search operator will
    * BROADCAST (bench window hashes, bench fingerprints, query
    * fingerprints): those sides are benchmark/query-sized by contract —
    * eval suites are MBs where the corpus is TBs — and every other
    * bounded driver-side structure in this codebase carries a `require`
    * naming its bound (round-16 What's wrong #2). 2M hash rows ≈ low
    * hundreds of MB broadcast — already generous for an eval suite;
    * a caller with a genuinely larger side raises the parameter
    * deliberately instead of discovering the contract as an OOM. */
  val BroadcastSideMax: Long = 2000000L

  /** Canonical scheme string for a (k, w) winnow derivation. */
  def winnowScheme(k: Int, w: Int): String = s"winnow_k${k}_w$w"

  /** Canonical scheme string for a width-`width` substring window
    * derivation. */
  def substringScheme(width: Int): String = s"substr_w$width"

  private def stampScheme(c: Column, name: String, scheme: String): Column =
    c.as(name, new org.apache.spark.sql.types.MetadataBuilder()
      .putString(SchemeKey, scheme).build())

  /** The scheme a frame's column carries, if any. */
  def schemeOf(df: DataFrame, colName: String): Option[String] =
    df.schema.fields.find(_.name == colName)
      .filter(_.metadata.contains(SchemeKey))
      .map(_.metadata.getString(SchemeKey))

  /** Refuse a store-fed frame whose hash column was not derived under
    * `expected` — absence of a marker refuses too: an unmarked frame is
    * exactly the unvetted input whose mismatch this guard exists to
    * catch (derive via [[winnowedFingerprints]] /
    * [[substringWindowHashes]], which stamp it, or copy the column
    * metadata when slicing a store by hand). */
  private def requireScheme(df: DataFrame, colName: String,
                            expected: String, face: String): Unit = {
    val found = schemeOf(df, colName)
    require(found.contains(expected),
      s"$face: the supplied '$colName' frame carries scheme " +
        found.map(m => s"'$m'").getOrElse("NO MARKER") +
        s" but this call consumes '$expected' — a mismatched store " +
        "silently returns empty or wrong results (the streaming " +
        "_scheme refusal, batch face)")
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, then
    * in every window of `w` consecutive gram hashes record the minimum
    * (rightmost on ties), and keep the distinct selections. Guarantees:
    * any shared token run of ≥ k+w−1 tokens yields ≥ 1 shared
    * fingerprint (the detection floor), and expected density is
    * 2/(w+1) — a POSITION-ROBUST sample of the document, unlike
    * fixed-stride windows ([[duplicateSpans]]) whose recall dies on a
    * one-token insertion shifting every later window.
    *
    * Built entirely from codegen'd array HOFs over each row — gram
    * join, md5 hash, key packing, per-window `array_min` — so the whole
    * selection is NARROW (zero shuffles before the consumer's
    * aggregation; the q111 discipline). Per-row cost is O(grams·w) with
    * w a small constant. The min-with-rightmost-tie-break selection
    * collapses to ONE integer comparison via the key packing above;
    * `raise_error` guards the 2²¹-token packing ceiling loudly (the
    * q221/q253 cap convention) instead of wrapping silently.
    *
    * Returns one row per selected fingerprint: (id, fp, pos) with
    * fp the 32-bit gram hash and pos the 0-based gram position. Docs
    * with fewer than k tokens emit nothing; docs with fewer than w
    * grams emit the single min over all their grams (the standard
    * short-document convention). Every value is replayable in DuckDB
    * from md5 hex — the portable-hash house rule. */
  def winnowedFingerprints(df: DataFrame, id: String, text: Column,
                           k: Int, w: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(w >= 2, s"w must be >= 2: $w (w = 1 selects every gram)")
    val span = lit(WinnowPosSpan.toLong)
    val ws = split(lower(text), " ")
    val grams = transform(sequence(lit(0), size(ws) - k),
      i => array_join(slice(ws, i + 1, lit(k)), " "))
    val keys = transform(grams, (g, i) =>
      when(i >= span, raise_error(concat(lit(
          s"winnowedFingerprints: gram position exceeds the 2^21 packing " +
            s"ceiling at "), i.cast("string")))
          .cast("long"))
        .otherwise(conv(substring(md5(g), 1, 8), 16, 10).cast("long") * span
          + (span - 1 - i)))
    val nG = size(col("__keys"))
    val mins = array_distinct(transform(
      sequence(lit(0), greatest(nG - w, lit(0))),
      j => array_min(slice(col("__keys"), j + 1, least(lit(w), nG - j)))))
    // r18 (guide §2.5): the gram-md5 HOF chain is NARROW — over a
    // single-row-group scan it runs as ONE task however many cores the
    // session has; spread (only when actually narrow — identity on a
    // production fan-out scan) so the O(grams·w) per-doc hash work
    // parallelizes. Keyed on id: every consumer's next shuffle
    // (distinct / groupBy on id-led keys) is satisfied by the same
    // partitioning, so no second exchange appears at scale.
    Relational.spreadIfNarrow(df.filter(size(ws) >= k), col(id))
      .select(col(id), keys.as("__keys"))
      .select(col(id), explode(mins).as("__key"))
      .select(col(id),
        // fp carries the (k, w) scheme marker — the store-fed faces
        // refuse a frame derived under different parameters
        stampScheme(shiftright(col("__key"), 21), "fp", winnowScheme(k, w)),
        (span - 1 - col("__key").bitwiseAND(span - 1)).cast("int").as("pos"))
  }

  /** Near-dup pairs by winnowed-fingerprint overlap — the consumer that
    * makes [[winnowedFingerprints]] a dedup operator: documents sharing
    * ≥ `minShared` distinct fingerprint HASHES pair, via the inverted
    * fingerprint index (equi-join on fp → pair count), never all-pairs.
    * A fingerprint appearing in more than `maxDf` documents is dropped
    * before the join (the stop-gram twin of the LSH stop-bucket cap:
    * a boilerplate gram shared by the whole corpus would contribute
    * C(df, 2) candidate rows and no discrimination); `maxDf` bounds
    * per-fingerprint join fan-out, so pair cost is Σ C(df, 2) over
    * surviving fingerprints — df-bounded, exactly the posting-list
    * shape that survives 100 TB. Returns (id_a, id_b, shared). */
  def winnowedNearDupPairs(df: DataFrame, id: String, text: Column,
                           k: Int, w: Int, minShared: Int,
                           maxDf: Int = 50): DataFrame =
    winnowPairsFromFps(
      winnowedFingerprints(df, id, text, k, w).select(col(id), col("fp")),
      id, minShared, maxDf, expectScheme = Some(winnowScheme(k, w)))

  /** [[winnowedNearDupPairs]] over a PRE-DERIVED fingerprint frame
    * (id, fp) — the face a materialized store feeds
    * ([[graft.queries.TextSketch.winnowFps]]): winnow at ingest, pair
    * at analysis time, the MediaSketch discipline on text. Identical
    * pair arithmetic by construction (the derived face routes here).
    * The pair arithmetic itself is scheme-generic (overlap counting
    * over whatever fingerprints it is given), so the face takes the
    * EXPECTED scheme as a parameter: a caller that knows which (k, w)
    * its store should carry passes `Some(winnowScheme(k, w))` and a
    * mismatched or unmarked store refuses loudly; `None` accepts any
    * self-consistent frame (an ad-hoc fingerprint table the caller
    * vouches for). */
  def winnowPairsFromFps(fpsIn: DataFrame, id: String, minShared: Int,
                         maxDf: Int = 50,
                         expectScheme: Option[String] = None): DataFrame = {
    expectScheme.foreach(e =>
      requireScheme(fpsIn, "fp", e, "winnowPairsFromFps"))
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    // maxDf < 2 would drop every shareable fingerprint and silently
    // report zero pairs — refuse loudly (the maxBucket convention)
    require(maxDf >= 2,
      s"maxDf=$maxDf: a cap below 2 drops every shared fingerprint")
    val fps = fpsIn.select(col(id), col("fp")).distinct()
      .transform(GraftGlue.materialize(_))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
    val posts = fps.join(keep, "fp")
    posts.alias("a")
      .join(posts.alias("b"),
        col("a.fp") === col("b.fp") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // --------------------------------------------- exact substring dedup

  /** Exact substring DEDUP — the transformation [[duplicateSpans]] only
    * profiles (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22 — the operation every corpus actually ships
    * through): excise every NON-FIRST occurrence of any duplicated
    * `width`-char window and return the cleaned documents. The paper's
    * suffix array is inherently sequential; the distributed-exact
    * equivalent is stride-1 window fingerprints — a substring of length
    * ≥ width duplicated ANYWHERE in the corpus duplicates all of its
    * width-windows, so marking duplicated window hashes catches every
    * such span with no alignment sensitivity (the stride-s recall gap
    * documented on [[duplicateSpans]] closes at s = 1).
    *
    * The rule, deterministic and engine-reproducible:
    *  1. every occurrence (id, pos) of a window hash seen ≥ 2 times
    *     corpus-wide (across docs OR positions) is REMOVED unless it is
    *     the globally FIRST occurrence under (id, pos) order — one copy
    *     of every duplicated span survives, the paper's semantics;
    *  2. removed windows union into per-doc char intervals; overlapping
    *     or ADJACENT intervals merge (a contiguous removed char range is
    *     one span however many windows tiled it);
    *  3. cleaned text = the chars outside the union, in order. Note the
    *     kept FIRST occurrence can itself lose chars to a different
    *     overlapping removed span — greedy span excision, exactly the
    *     paper's byte-range behavior.
    *
    * First-occurrence selection rides the winnowing key packing
    * (id·2²¹ + pos): `min` over the window-hash partition IS the
    * lexicographic (id, pos) minimum, one windowed aggregate instead of
    * a sort. Cleaned text is rebuilt with a single `aggregate` fold over
    * the per-doc merged-interval array — cursor walks the kept gaps —
    * so reconstruction is narrow codegen'd HOFs, no second explode.
    *
    * Scale shape: |text| window hashes per doc (the stride-1 price — at
    * 100 TB this is the corpus byte count, the same cost the suffix
    * array pays sequentially), ONE shuffle keyed on the window hash
    * (count + min over the hash partition), one per-doc window sort for
    * the interval merge (partition = one doc's removed windows, bounded
    * by doc length), zero pairwise stages — a span shared by 10⁶ docs
    * is one hash partition, never C(10⁶,2) rows. Under replication the
    * hash partitions grow with the factor but stay count+min aggregates
    * (no cap to saturate — unlike the df-capped q270 postings, recall
    * here survives ANY duplication level by construction); compose with
    * [[exactKeepers]] first to shrink the window stream itself when the
    * corpus is exact-copy-heavy.
    *
    * Returns one row per input doc (including untouched and short docs):
    * (id, orig_len, n_spans_removed, chars_removed, clean_len,
    * clean_md5) — clean_md5 pins the reconstructed TEXT cross-engine,
    * not just its length.
    *
    * `wins`, when supplied, must be the (id, pos, wh) windows of
    * EXACTLY `docs`' doc set at this `width` (any per-doc slice of a
    * [[graft.queries.TextSketch.substringWh]] store qualifies): a
    * frame covering extra docs shifts first-occurrence keeperhood to
    * rows outside the input. The width half of that contract is
    * enforced by the scheme marker; the doc-set half is the caller's
    * (restricting here would re-shuffle the dominant window stream). */
  def substringDedup(docs: DataFrame, id: String, text: String,
                     width: Int = 40,
                     wins: Option[DataFrame] = None): DataFrame =
    substringCleanFrame(docs, id, text, width, seen = None, wins)
      .select(col(id), col("orig_len").cast("long").as("orig_len"),
        coalesce(col("__n_spans"), lit(0L)).as("n_spans_removed"),
        coalesce(col("__removed"), lit(0L)).cast("long").as("chars_removed"),
        length(col("__clean")).cast("long").as("clean_len"),
        md5(col("__clean")).as("clean_md5"))

  /** The ingest-time face of [[substringDedup]] (Lee et al. online):
    * spans whose window hashes appear in `seen` — a one-column `wh`
    * frame of every hash already admitted upstream — are excised from
    * EVERY occurrence in `docs` (the first copy already lives
    * elsewhere), while duplication WITHIN `docs` keeps the batch
    * first-occurrence rule. With an empty/absent `seen` this is
    * exactly the batch rule, which is what makes stream == batch
    * pinnable. Returns (id, text cleaned, orig_len, n_spans_removed,
    * chars_removed) — the doc stream itself, scrubbed. `wins` carries
    * the same exact-doc-set + scheme contract as [[substringDedup]]. */
  def substringScrub(docs: DataFrame, id: String, text: String,
                     width: Int, seen: Option[DataFrame],
                     wins: Option[DataFrame] = None): DataFrame =
    substringCleanFrame(docs, id, text, width, seen, wins)
      .select(col(id), col("__clean").as(text),
        col("orig_len").cast("long").as("orig_len"),
        coalesce(col("__n_spans"), lit(0L)).as("n_spans_removed"),
        coalesce(col("__removed"), lit(0L)).cast("long").as("chars_removed"))

  /** Stride-1 window hashes of `docs` — the index delta an ingest
    * scrubber persists: one distinct `wh` per window content seen in
    * this frame. */
  def substringWindowHashes(docs: DataFrame, id: String, text: String,
                            width: Int): DataFrame = {
    require(width >= 4, s"width=$width: windows below 4 chars mark everything")
    // r18 (guide §2.5): the stride-1 window-md5 stream (|text| digests
    // per doc — the dominant cost of every substring face) is narrow;
    // over a single-row-group scan it ran as ONE task. Spread only when
    // actually narrow — identity on a production fan-out scan.
    Relational.spreadIfNarrow(
        docs.filter(length(col(text)) >= width), col(id))
      .select(col(id),
        explode(sequence(lit(1), length(col(text)).cast("int") - (width - 1),
          lit(1))).as("pos"), col(text))
      .select(col(id), col("pos"),
        // wh carries the width scheme marker — the wins-fed faces
        // refuse a frame derived under a different width
        stampScheme(md5(col(text).substr(col("pos"), lit(width))), "wh",
          substringScheme(width)))
  }

  private def substringCleanFrame(docs: DataFrame, id: String, text: String,
                                  width: Int, seen: Option[DataFrame],
                                  precomputedWins: Option[DataFrame] = None)
      : DataFrame = {
    require(width >= 4, s"width=$width: windows below 4 chars mark everything")
    val span = lit(WinnowPosSpan.toLong)
    val base = docs.select(col(id), col(text).as("__txt"),
      length(col(text)).cast("int").as("orig_len"))
    // an ingest writer that also persists the window stream as its
    // index delta passes the frame in, so the corpus-byte-proportional
    // md5 pass runs ONCE per batch (round-15 self-review catch); the
    // caller's frame must be (id, pos, wh) as substringWindowHashes
    // emits it — and must carry ITS scheme marker, so a store built at
    // a different width refuses loudly instead of excising wrong spans
    // (e = pos + width − 1 against foreign positions). Contract note:
    // the frame must cover EXACTLY this call's doc set — windows from
    // docs outside `docs` would inflate __n and claim __fk, excising an
    // in-input span as "non-first" while its retained first copy is
    // absent from the output; restricting here would re-shuffle the
    // dominant window stream on id, so the subset rule is a documented
    // contract (TextSketch stores are per-doc, any doc-subset slice of
    // them satisfies it).
    precomputedWins.foreach(w =>
      requireScheme(w, "wh", substringScheme(width), "substring dedup (wins)"))
    val wins = precomputedWins.getOrElse(
      substringWindowHashes(base, id, "__txt", width))
    // (id, pos) packed into one orderable long — pos rides the low 21
    // bits, so min over the hash partition is the global first
    // occurrence. Guard the packing envelope loudly (the q221/q253
    // loud-cap class): a negative id, an id at or past 2^42 (id·2^21
    // would wrap Long and silently reorder first-occurrence keys —
    // round-15 self-review catch), or a 2^21-char doc would all
    // corrupt the order. A NON-CASTABLE id (null, or a string the long
    // cast nulls out) must hit the same raise: a NULL comparison makes
    // the when-condition NULL, the raise branch is SKIPPED, the packed
    // key is NULL, and those rows silently fall out of the marked
    // filter — the whole dedup becomes a no-op for them (round-16
    // advice catch; ingest writers accept arbitrary id columns).
    val packed = when(col(id).cast("long").isNull ||
          col(id).cast("long") < 0 ||
          col(id).cast("long") >= (1L << 42) || col("pos") >= span,
        raise_error(concat(lit("substringDedup: (id, pos) outside the " +
          "2^21 packing envelope: "), coalesce(col(id).cast("string"),
          lit("NULL")), lit(","), col("pos").cast("string"))).cast("long"))
      .otherwise(col(id).cast("long") * span + col("pos"))
    val byHash = Window.partitionBy(col("wh"))
    // an occurrence is removed iff its hash was already admitted
    // upstream (`seen`) — every in-frame occurrence goes, the first
    // copy lives elsewhere — or it is a non-first occurrence of an
    // in-frame duplicated hash. The upstream check joins BEFORE the
    // window so both signals ride one wh-keyed shuffle; with no `seen`
    // the plan is untouched (no join is added).
    val flagged = seen match {
      case None => wins.withColumn("__seen", lit(false))
      case Some(s) => wins.join(
          s.select(col("wh")).distinct().withColumn("__seen", lit(true)),
          Seq("wh"), "left")
        .withColumn("__seen", coalesce(col("__seen"), lit(false)))
    }
    val marked = flagged
      .withColumn("__k", packed)
      .withColumn("__n", count(lit(1)).over(byHash))
      .withColumn("__fk", min(col("__k")).over(byHash))
      .filter(col("__seen") || (col("__n") >= 2 && col("__k") =!= col("__fk")))
      .select(col(id), col("pos"), (col("pos") + (width - 1)).as("e"))
    exciseMarked(base, id, marked)
  }

  /** [[substringDedup]] with the O(n) ROLLING hash engine (q275) — the
    * same output contract, a production-shaped plan:
    *
    *  - window hashes come from ONE codegen'd pass per doc
    *    ([[graft.expressions.RollingWindowHash]] — polynomial rolling
    *    hash over code points, mod 2⁶¹−1) instead of an md5 digest per
    *    window: O(n) vs O(n·width) hash work, and the wh-keyed shuffle
    *    carries an 8-byte long instead of a 32-char hex string;
    *  - a 61-bit hash is a CANDIDATE, not a match (the banded-Hamming
    *    verify discipline): occurrences of a duplicated hash re-derive
    *    their actual window substring and the first-occurrence rule is
    *    applied per (hash, substring) — a collision can therefore cost
    *    a verify row, never a wrong excision, and the output is defined
    *    IDENTICAL to [[substringDedup]]'s (the oracle pins both with
    *    the same substring-grouped SQL). The verify stage touches only
    *    rows whose hash count is ≥ 2 — duplication-proportional, so a
    *    mostly-unique corpus verifies almost nothing and a replica-
    *    dense one pays it where the excision itself is the work (the
    *    dedup-first composition shrinks both together). */
  def substringDedupRolling(docs: DataFrame, id: String, text: String,
                            width: Int = 40): DataFrame = {
    require(width >= 4, s"width=$width: windows below 4 chars mark everything")
    val span = lit(WinnowPosSpan.toLong)
    val base = docs.select(col(id), col(text).as("__txt"),
      length(col(text)).cast("int").as("orig_len"))
    // r18 A/B: deliberately NOT spread (unlike substringWindowHashes) —
    // the rolling pass is O(n) per doc, cheap enough that repartitioning
    // the text cost more than the parallelism bought back (solo 4-pass
    // min 1.30 s live vs 1.58 s spread at sf0.1; q280's keeper-composed
    // face measured flat). The md5 faces keep the spread: their hash
    // work is O(n·width) and measured 2.5-3.4 → 1.6-2.3 s.
    val wins = base.filter(col("orig_len") >= width)
      .select(col(id), posexplode(
        TextFunctions.rollingWindowHash(col("__txt"), width))
        .as(Seq("__i", "wh")))
      .select(col(id), (col("__i") + 1).as("pos"), col("wh"))
    // null-castable ids must RAISE, not null out the packed key (the
    // substringCleanFrame guard's rationale — see there)
    val packed = when(col(id).cast("long").isNull ||
          col(id).cast("long") < 0 ||
          col(id).cast("long") >= (1L << 42) || col("pos") >= span,
        raise_error(concat(lit("substringDedupRolling: (id, pos) outside " +
          "the 2^21 packing envelope: "), coalesce(col(id).cast("string"),
          lit("NULL")), lit(","), col("pos").cast("string"))).cast("long"))
      .otherwise(col(id).cast("long") * span + col("pos"))
    val byHash = Window.partitionBy(col("wh"))
    // __k is attached to the FULL window stream, not the post-verify
    // frame: a null id would drop out of the verify's inner id-join
    // before a later guard ever ran, silently no-opping the dedup for
    // those docs (and corrupting __n2 for their partners)
    val cand = wins
      .withColumn("__k", packed)
      .withColumn("__n", count(lit(1)).over(byHash))
      .filter(col("__n") >= 2)
    // exact verify: only candidate rows re-derive their substring (one
    // id-keyed join back to the texts), and first-occurrence marking
    // groups by (hash, substring) — a colliding pair lands in the same
    // hash partition but different substring groups, each keeping its
    // own true first occurrence
    val withSub = cand.join(base.select(col(id), col("__txt")), Seq(id))
      .withColumn("__sub", col("__txt").substr(col("pos"), lit(width)))
    val bySub = Window.partitionBy(col("wh"), col("__sub"))
    val marked = withSub
      .withColumn("__n2", count(lit(1)).over(bySub))
      .withColumn("__fk", min(col("__k")).over(bySub))
      .filter(col("__n2") >= 2 && col("__k") =!= col("__fk"))
      .select(col(id), col("pos"), (col("pos") + (width - 1)).as("e"))
    exciseMarked(base, id, marked)
      .select(col(id), col("orig_len").cast("long").as("orig_len"),
        coalesce(col("__n_spans"), lit(0L)).as("n_spans_removed"),
        coalesce(col("__removed"), lit(0L)).cast("long").as("chars_removed"),
        length(col("__clean")).cast("long").as("clean_len"),
        md5(col("__clean")).as("clean_md5"))
  }

  /** Substring DECONTAMINATION — the [[substringDedup]] excision
    * machinery pointed at BENCHMARK overlap instead of in-corpus
    * duplication (the span-level form of q82's doc-level 8-gram gate,
    * and the batch face of the ingest scrubber's `seen` channel):
    * every span of a corpus doc whose `width`-char window also occurs
    * ANYWHERE in `bench` is excised — all occurrences, not non-first
    * ones, because the eval set is not "first" anything: a training
    * doc may not retain a verbatim run of benchmark text at all.
    * Doc-LEVEL decontamination (q82) drops documents past an overlap
    * ratio; this TRANSFORMS them — a long document quoting one
    * benchmark paragraph keeps its other 99 paragraphs, the exact
    * reason Lee et al.-style excision beats whole-doc filtering on
    * contamination too. In-corpus duplication is deliberately left to
    * the dedup family (q273/q280): the two rules compose in either
    * order because both only ever REMOVE width-covered spans.
    *
    * Scale shape: the bench window set is benchmark-sized by contract
    * (eval suites are MBs where the corpus is TBs), so it BROADCASTS
    * and the corpus-byte-proportional window stream never shuffles at
    * all — one narrow Generate per doc, a broadcast left-semi probe,
    * and the per-doc interval fold. That is strictly cheaper than the
    * dedup twin (whose count+min needs the one wh-keyed shuffle). The
    * contract is LOUD (round-17): the bench side is counted and
    * refused past `maxBenchWindows` by name — a genuinely larger eval
    * set should be pre-hashed to a parquet of distinct `wh` and fed
    * via `benchWins`, or the bound raised deliberately.
    *
    * Returns the [[substringDedup]] contract: one row per input doc,
    * (id, orig_len, n_spans_removed, chars_removed, clean_len,
    * clean_md5). */
  def substringDecontaminate(docs: DataFrame, bench: DataFrame, id: String,
                             text: String, width: Int = 40,
                             docsWins: Option[DataFrame] = None,
                             benchWins: Option[DataFrame] = None,
                             maxBenchWindows: Long = BroadcastSideMax)
      : DataFrame = {
    require(width >= 4, s"width=$width: windows below 4 chars mark everything")
    val base = docs.select(col(id), col(text).as("__txt"),
      length(col(text)).cast("int").as("orig_len"))
    // both window streams accept a pre-derived (id, pos, wh) frame
    // (the TextSketch store: corpus and bench are row-subsets of one
    // materialized table), same contract as substringScrub's `wins` —
    // scheme-checked, so a store built at a different width refuses
    docsWins.foreach(w => requireScheme(w, "wh", substringScheme(width),
      "substringDecontaminate (docsWins)"))
    benchWins.foreach(w => requireScheme(w, "wh", substringScheme(width),
      "substringDecontaminate (benchWins)"))
    val benchWh = benchWins.getOrElse(substringWindowHashes(
        bench.select(col(id), col(text)), id, text, width))
      .select(col("wh")).distinct()
    // the bench side broadcasts on the "benchmark-sized by contract"
    // assumption — make the contract LOUD (round-16 What's wrong #2):
    // a caller pointing `bench` at a corpus-sized frame should hit a
    // refusal naming the bound, not an executor OOM. The guard only
    // runs on the DERIVED path: a caller supplying `benchWins` vouches
    // for its size (the winnowPairsFromFps expectScheme=None escape),
    // which is exactly why pre-hashing a genuinely larger eval set and
    // feeding it via benchWins is the working remediation the message
    // names. NOTE this makes the derived path EAGER — one bench-sized
    // count job runs at DataFrame-construction time; no block is
    // retained (the broadcast probe re-derives the MB-sized bench side
    // lazily rather than pinning a checkpoint in a long-lived service).
    if (benchWins.isEmpty) {
      val nBench = benchWh.count()
      require(nBench <= maxBenchWindows,
        s"substringDecontaminate: bench side has $nBench distinct window " +
          s"hashes > maxBenchWindows=$maxBenchWindows — the bench side " +
          "broadcasts on the benchmark-sized contract (eval suites are MBs " +
          "where the corpus is TBs); a larger eval set should be pre-hashed " +
          "to parquet and fed via benchWins (the caller-vouches escape: the " +
          "guard is skipped), or raise the bound deliberately")
    }
    val wins = docsWins.getOrElse(
      substringWindowHashes(base, id, "__txt", width))
    val marked = wins
      .join(broadcast(benchWh), Seq("wh"), "left_semi")
      .select(col(id), col("pos"), (col("pos") + (width - 1)).as("e"))
    exciseMarked(base, id, marked)
      .select(col(id), col("orig_len").cast("long").as("orig_len"),
        coalesce(col("__n_spans"), lit(0L)).as("n_spans_removed"),
        coalesce(col("__removed"), lit(0L)).cast("long").as("chars_removed"),
        length(col("__clean")).cast("long").as("clean_len"),
        md5(col("__clean")).as("clean_md5"))
  }

  /** Winnow-based DECONTAMINATION — the FUZZY rung of the
    * decontamination ladder (q82 drops docs on exact word-8-gram
    * overlap; [[substringDecontaminate]] excises ≥ width-char VERBATIM
    * runs; both are blind to an EDITED quote — one changed token
    * breaks every 8-gram and every 40-char window that crosses it):
    * a corpus doc sharing ≥ `minShared` distinct winnowed fingerprints
    * with the benchmark set is flagged, and the q269 theorem makes the
    * recall claim precise — any UNBROKEN run of ≥ k+w−1 tokens shared
    * with an eval doc guarantees a shared fingerprint, so a lightly
    * edited quote still contributes one fingerprint per surviving run
    * between edits. Flagging (not excision) is the right semantics
    * here: winnow fingerprints localize to gram positions, not char
    * spans, so the operator reports the evidence and the caller
    * decides drop vs manual review (the q82 convention).
    *
    * Scale shape: the bench fingerprint set is benchmark-sized by
    * contract, so it BROADCASTS; each corpus posting row meets at most
    * ONE bench row (the bench side is distinct on fp), so the probe is
    * fan-out-free — no df cap needed, unlike the corpus-vs-corpus pair
    * operator — and ONE doc-keyed aggregate finishes. Returns flagged
    * docs only: (id, n_shared, n_fps). */
  def winnowDecontaminate(docs: DataFrame, bench: DataFrame, id: String,
                          text: Column, k: Int, w: Int, minShared: Int,
                          maxBenchFps: Long = BroadcastSideMax): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    val bf = winnowedFingerprints(bench, id, text, k, w)
      .select(col("fp")).distinct()
    // loud twin of substringDecontaminate's bench-side bound: the fp
    // set broadcasts on the benchmark-sized contract, so refuse a
    // corpus-sized side by name instead of OOMing the executors. This
    // count makes the face EAGER (one bench-sized job at construction
    // time); the broadcast probe re-derives the small side lazily —
    // no checkpoint block accrues across calls in a long-lived service.
    val nBench = bf.count()
    require(nBench <= maxBenchFps,
      s"winnowDecontaminate: bench side has $nBench distinct fingerprints " +
        s"> maxBenchFps=$maxBenchFps — the bench fingerprint set " +
        "broadcasts on the benchmark-sized contract; raise the bound " +
        "deliberately for a genuinely larger eval suite")
    val cf = winnowedFingerprints(docs, id, text, k, w)
      .select(col(id), col("fp")).distinct()
    cf.join(broadcast(bf.withColumn("__hit", lit(1L))), Seq("fp"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_fps"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col(id), col("n_shared"), col("n_fps"))
  }

  /** Query-by-SNIPPET search (the MOSS use-case as a search op, not a
    * pair op): for each query snippet, the corpus documents sharing the
    * most winnowed fingerprints, ranked. Exact phrase search (q238)
    * needs the snippet verbatim and BM25 (q129) bags the words away;
    * winnowing sits between — any shared run of ≥ k+w−1 tokens
    * GUARANTEES a shared fingerprint (the q269 theorem), so an edited
    * or partial quote still reaches its source while order-scrambled
    * bag overlap does not.
    *
    * Asymmetric postings discipline: corpus fingerprints held by more
    * than `maxDf` documents are stop-dropped BEFORE the join (the q270
    * cap — per-query fan-out ≤ maxDf per fingerprint); query
    * fingerprints are a bounded set, so the join broadcasts them over
    * the corpus postings. Ranking is deterministic: (shared desc,
    * cand_id asc) per query, top `topK`. Returns
    * (query_id, rank, cand_id, shared). */
  def winnowSearchTopK(queries: DataFrame, corpus: DataFrame, id: String,
                       text: Column, k: Int, w: Int, maxDf: Int,
                       topK: Int,
                       maxQueryFps: Long = BroadcastSideMax): DataFrame =
    winnowSearchCore(
      winnowedFingerprints(queries, id, text, k, w)
        .select(col(id).as("query_id"), col("fp")).distinct(),
      winnowedFingerprints(corpus, id, text, k, w)
        .select(col(id).as("cand_id"), col("fp")),
      maxDf, topK, maxQueryFps)

  /** [[winnowSearchTopK]] over a PRE-DERIVED corpus fingerprint frame
    * (id, fp) — the store-fed face ([[graft.queries.TextSketch]]): the
    * query side still winnows live (queries are ad-hoc snippets by
    * nature), the corpus index is read, which is exactly a snippet
    * search service's shape. Same ranking arithmetic by construction. */
  def winnowSearchTopKFps(queries: DataFrame, corpusFps: DataFrame,
                          id: String, text: Column, k: Int, w: Int,
                          maxDf: Int, topK: Int,
                          maxQueryFps: Long = BroadcastSideMax): DataFrame = {
    // the store-fed face's whole failure mode is a (k, w) mismatch
    // between the index and the live query winnowing — query fps then
    // never match stored fps and the search silently returns nothing;
    // the scheme marker turns that into a refusal (round-16 advice)
    requireScheme(corpusFps, "fp", winnowScheme(k, w), "winnowSearchTopKFps")
    winnowSearchCore(
      winnowedFingerprints(queries, id, text, k, w)
        .select(col(id).as("query_id"), col("fp")).distinct(),
      corpusFps.select(col(id).as("cand_id"), col("fp")),
      maxDf, topK, maxQueryFps)
  }

  private def winnowSearchCore(qf: DataFrame, cfIn: DataFrame,
                               maxDf: Int, topK: Int,
                               maxQueryFps: Long = BroadcastSideMax)
      : DataFrame = {
    require(maxDf >= 1, s"maxDf=$maxDf: a cap below 1 drops every posting")
    require(topK >= 1, s"topK=$topK")
    // df-cap as ONE window count over the fp partition instead of the
    // checkpoint + groupBy + self-join shape (round-17 advice): same
    // stop-drop semantics, one fewer shuffle, fully LAZY — no
    // construction-time corpus job and no checkpoint block lingering
    // in a long-lived service's block manager
    val posts = cfIn.distinct()
      .withColumn("__df", count(lit(1)).over(
        Window.partitionBy(col("fp"))))
      .filter(col("__df") <= maxDf)
      .drop("__df")
    // the query side broadcasts on the ad-hoc-snippet contract — guard
    // it loudly like the decontamination bench sides (round-16 What's
    // wrong #2); qf is already distinct by construction in both
    // callers. The count is the one EAGER job this face runs at
    // construction time; the broadcast re-derives the snippet-sized
    // query side lazily (no retained block).
    val nQ = qf.count()
    require(nQ <= maxQueryFps,
      s"winnowSearch: query side has $nQ fingerprint rows > " +
        s"$maxQueryFps — the query side broadcasts on the ad-hoc-snippet " +
        "contract; a corpus-sized query set is a PAIR problem " +
        "(winnowedNearDupPairs), not a search")
    val shared = posts.join(broadcast(qf), "fp")
      .groupBy(col("query_id"), col("cand_id"))
      .agg(count(lit(1)).as("shared"))
    shared
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("shared").desc, col("cand_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("cand_id"), col("shared"))
  }

  /** WEIGHTED Jaccard near-dup pairs — the similarity axis the whole
    * set-based family (q111/q42/q43) cannot express: J_w(A,B) =
    * Σ_t min(tf_A, tf_B) / Σ_t max(tf_A, tf_B) over TERM FREQUENCIES,
    * so "spam spam spam spam" and "spam" are set-identical (set-Jaccard
    * 1.0) but weighted-distant — repetition is part of the identity,
    * which is what near-dup on template/spam-heavy corpora needs.
    *
    * The metric is defined over the df ≤ `maxDf` token space: tokens
    * held by more documents are excluded from BOTH the intersection and
    * the norms (the stop-gram discipline of q270, applied consistently
    * so the score stays a true Jaccard on the filtered space — corpus
    * boilerplate shouldn't glue documents together, and at scale those
    * postings are exactly the quadratic ones). Within that space the
    * computation is exact integer arithmetic: Σ min via the df-bounded
    * postings self-join (pair cost Σ C(df,2), never all-pairs), norms
    * as per-doc tf sums, Σ max = norm_a + norm_b − Σ min by
    * inclusion–exclusion, and the keep/drop threshold is the integer
    * cross-multiply w_inter·tDen ≥ w_union·tNum — no float at a
    * decision boundary (the q182 discipline). df = 1 tokens stay in
    * the norms (they are in the space — unshared mass that correctly
    * lowers similarity) but skip the join (they cannot intersect).
    *
    * Compose with [[exactKeepers]] first on replica-dense corpora (the
    * q271/q274 lesson — registered q278 does) so replication collapses
    * before any posting's df multiplies across the cap. */
  def weightedJaccardPairs(df: DataFrame, id: String, text: String,
                           n: Int, maxDf: Int, tNum: Int,
                           tDen: Int): DataFrame =
    weightedJaccardCore(wordTf(df, id, text, n), maxDf, tNum, tDen)

  /** Canonical scheme string for a per-doc word-n-gram TERM-FREQUENCY
    * derivation ([[wordTf]]) — the marker a materialized tf-posting
    * store carries on its `w` column. */
  def tfPostingScheme(n: Int): String = s"tf_words_n$n"

  /** Per-doc word-n-gram term frequencies (doc, w, tf), `w` stamped
    * with [[tfPostingScheme]] — the derivation a materialized tf store
    * runs at build time. Term = gram OCCURRENCE (not distinct —
    * frequencies are the point). Unigrams are df-degenerate on
    * shared-vocabulary corpora (this fixture's 31-word vocab puts every
    * unigram past any useful cap); grams carry the discriminative mass,
    * the q269 lesson. Frequencies are PER-DOC, so a doc-subset
    * restriction of a stored table equals a fresh derivation — but the
    * df TABLE is not: every consumer recomputes df over its own doc
    * space after restricting. */
  def wordTf(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    require(n >= 1, s"n=$n: gram width must be >= 1")
    val ws = TextFunctions.words(col(text))
    val grams = transform(sequence(lit(0), size(ws) - n),
      i => array_join(slice(ws, i + 1, lit(n)), " "))
    df.filter(size(ws) >= n)
      .select(col(id).as("doc"), explode(grams).as("w"))
      .groupBy(col("doc"), col("w")).agg(count(lit(1)).as("tf"))
      .select(col("doc"), stampScheme(col("w"), "w", tfPostingScheme(n)),
        col("tf"))
  }

  /** [[weightedJaccardPairs]] over a PRE-DERIVED tf frame (doc, w, tf)
    * — the face a materialized tf-posting store feeds
    * ([[graft.queries.TextSketch.tfPostings4]]). The df cap is always
    * recomputed over the SUPPLIED frame's doc space (restricting the
    * store to keepers changes every df — the cap must see keeper
    * frequencies, not corpus ones), so store-fed equals live by
    * construction. `w` must carry the expected scheme marker (`None` =
    * caller vouches). */
  def weightedJaccardPairsFromTf(tf: DataFrame, maxDf: Int, tNum: Int,
                                 tDen: Int, expectScheme: Option[String])
      : DataFrame = {
    expectScheme.foreach(e =>
      requireScheme(tf, "w", e, "weightedJaccardPairsFromTf"))
    weightedJaccardCore(tf.select(col("doc"), col("w"), col("tf")),
      maxDf, tNum, tDen)
  }

  private def weightedJaccardCore(tfIn: DataFrame, maxDf: Int, tNum: Int,
                                  tDen: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf=$maxDf: a cap below 2 empties the join space")
    require(tNum > 0 && tDen >= tNum, s"need 0 < tNum/tDen <= 1; got $tNum/$tDen")
    val tf = tfIn
      .transform(GraftGlue.materialize(_)) // read 3x: df table, norms, postings
    val dfTab = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // carry df through ONE join and derive the space/postings as
    // filters — a second dfTab join over the dominant token stream
    // would re-shuffle it just to reapply a predicate on a value
    // already in hand (round-15 self-review catch)
    val inSpace = tf.join(dfTab, "w").filter(col("df") <= maxDf)
      .transform(GraftGlue.materialize(_)) // read 3x: norms + both posting join sides
    val norms = inSpace.groupBy(col("doc")).agg(sum(col("tf")).as("norm"))
    val posts = inSpace.filter(col("df") >= 2).drop("df")
    posts.alias("a")
      .join(posts.alias("b"),
        col("a.w") === col("b.w") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(sum(least(col("a.tf"), col("b.tf"))).as("w_inter"))
      .join(norms.select(col("doc").as("id_a"), col("norm").as("__na")), "id_a")
      .join(norms.select(col("doc").as("id_b"), col("norm").as("__nb")), "id_b")
      .withColumn("w_union", col("__na") + col("__nb") - col("w_inter"))
      .filter(col("w_inter") * tDen >= col("w_union") * tNum)
      .select(col("id_a"), col("id_b"), col("w_inter"), col("w_union"),
        round(col("w_inter").cast("double") / col("w_union"), 6)
          .as("wjaccard"))
  }

  /** Shared excision tail of the substring-dedup family: merge the
    * marked windows (id, pos, e) into per-doc char intervals and
    * rebuild each doc's cleaned text. `base` must carry
    * (id, __txt, orig_len). */
  private def exciseMarked(base: DataFrame, id: String,
                           marked: DataFrame): DataFrame = {
    // Merge overlapping/adjacent removed windows per doc: a window is a
    // new span iff it starts past the running max end + 1 (gaps-and-
    // islands; (id, pos) is unique so the order is total).
    val byDoc = Window.partitionBy(col(id)).orderBy(col("pos"))
    val merged = marked
      .withColumn("__pm", max(col("e"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__pm").isNull || col("pos") > col("__pm") + 1, 1)
          .otherwise(0))
      .withColumn("__grp", sum(col("__brk")).over(byDoc))
      .groupBy(col(id), col("__grp"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
    val perDoc = merged.groupBy(col(id))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__ivs"),
        count(lit(1)).as("__n_spans"),
        sum(col("e") - col("s") + 1).as("__removed"))
    // Rebuild: fold the sorted disjoint intervals, cursor at the next
    // unremoved char. Merge guarantees s >= cursor (intervals disjoint
    // with gaps >= 1), so every substr length is >= 0.
    val clean = when(col("__ivs").isNull, col("__txt")).otherwise(
      aggregate(col("__ivs"),
        struct(lit("").as("parts"), lit(1).as("cur")),
        (acc, iv) => struct(
          concat(acc.getField("parts"),
            col("__txt").substr(acc.getField("cur"),
              iv.getField("s") - acc.getField("cur"))).as("parts"),
          (iv.getField("e") + lit(1)).as("cur")),
        acc => concat(acc.getField("parts"),
          col("__txt").substr(acc.getField("cur"),
            greatest(col("orig_len") - acc.getField("cur") + 1, lit(0))))))
    base.join(perDoc, Seq(id), "left")
      .withColumn("__clean", clean)
  }
}
