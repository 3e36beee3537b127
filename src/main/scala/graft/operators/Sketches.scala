package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable summary sketches for the 100 TB path: a Bloom filter for
  * semi-join reduction, a K-minimum-values (KMV) sketch for distinct
  * counting, and a count-min sketch for frequency estimation.
  *
  * Why sketches matter at scale: the exact forms of these operations —
  * a shuffled semi-join, `count(distinct)`, a full `groupBy(key).count`
  * — all shuffle data proportional to the INPUT. A sketch is a fixed-size
  * commutative summary built with one map-side-combinable aggregate, so
  * the shuffle carries only `O(sketch)` bytes per partition no matter how
  * many rows feed it. All three here follow the repo's portability rule
  * (Dedup.scala:13): positions/hashes derive from md5 hex, so the DuckDB
  * oracle re-derives the *exact same* sketch bits from SQL and the whole
  * construction is hash-verified, not just rows-counted. Swapping md5 for
  * xxhash64 (the q95 pattern) is the production fast path.
  *
  * References: Bloom CACM'70; Bar-Yossef et al. RANDOM'02 (KMV / k-th
  * minimum value distinct estimator); Cormode & Muthukrishnan J.Alg'05
  * (count-min). The reference pipeline has no sketch surface — these are
  * part of the LLM-data-pipeline extension mandated by the brief.
  */
object Sketches {

  // ------------------------------------------------------------- Bloom

  /** Build a Bloom filter over `key`: `kHashes` md5-derived probe
    * positions per key in an `mBits`-bit space, packed 63 bits per long
    * (sign bit untouched). Returns a ONE-ROW frame with column `words`
    * (`array<long>`, length `ceil(mBits/63)`) — small enough to broadcast
    * (m=2^16 → 8 KiB), built with one hash aggregate over the dim side.
    *
    * Scale posture: this is the classic semi-join reduction — build the
    * filter on the small side, broadcast it, and drop non-matching fact
    * rows AT THE SCAN, before they pay the join shuffle. False positives
    * only cost wasted shuffle bytes (the exact join still runs after);
    * false negatives are impossible, so results are exact. Spark's own
    * runtime row-level filtering (`spark.sql.optimizer.runtime.bloomFilter
    * .enabled`) does this automatically for shuffle joins; this explicit
    * operator covers the cases AQE can't see — pre-filtering a stream
    * against a static dim, persisting the filter across jobs, or pruning
    * before an aggregation rather than a join. */
  /** Hash positions via digest SLICES, not digest-per-hash: one md5
    * yields 128 bits = four independent 32-bit slices (hex chars 1-8,
    * 9-16, 17-24, 25-32), so hash j uses slice j%4 of digest j/4 — the
    * "less hashing" construction (cf. Kirsch & Mitzenmacher, ESA'06).
    * For the common k<=4 this is ONE digest per row instead of k, which
    * is the dominant cost of probing a fact table (measured 4.0 -> ~1.5 s
    * on the q101 shape at sf0.1). `digests(k)` = how many md5s hash j
    * needs in total. */
  private def digests(kHashes: Int): Int = (kHashes + 3) / 4

  /** Explode `df`'s key into one row per hash j in [0, kHashes) with the
    * position column `pos` in [0, mBits). One md5 per (row, digest
    * group); slices cut per exploded row from the carried digest. */
  private def hashPositions(keyed: DataFrame, mBits: Int,
                            kHashes: Int, salt: String): DataFrame =
    keyed
      .select(explode(sequence(lit(0), lit(digests(kHashes) - 1))).as("g"), col("k"))
      .select(col("g"),
        md5(concat(lit(s"$salt:"), col("g"), lit(":"), col("k"))).as("dg"))
      .select(explode(sequence(lit(0), lit(3))).as("s"), col("g"), col("dg"))
      .filter(col("g") * 4 + col("s") < kHashes)
      .select(pmod(conv(col("dg").substr(col("s") * 8 + 1, lit(8)), 16, 10)
        .cast("long"), lit(mBits.toLong)).as("pos"))

  def bloomBuild(dim: DataFrame, key: Column, mBits: Int, kHashes: Int,
                 salt: String): DataFrame = {
    require(mBits > 0, s"mBits must be positive: $mBits")
    require(kHashes >= 1, s"kHashes must be >= 1: $kHashes")
    // 63 bits per word keeps every mask positive in a signed BIGINT —
    // both engines (Spark long, DuckDB BIGINT) shift at most 62, so the
    // packing never touches the sign bit (DuckDB traps 1<<63 as overflow)
    val nWords = (mBits + 62) / 63
    val pos = hashPositions(dim.select(key.cast("string").as("k")),
      mBits, kHashes, salt)
    // word masks: k*|dim| rows -> at most nWords rows; the final one-row
    // packing aggregates a bounded (nWords) set, same pattern as the
    // bounded stats frames elsewhere in the repo
    pos
      .select((col("pos") / 63).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("bit"))
      .groupBy(col("w")).agg(bit_or(col("bit")).as("mask"))
      .agg(map_from_arrays(collect_list(col("w")), collect_list(col("mask"))).as("m"))
      .select(transform(sequence(lit(0), lit(nWords - 1)),
        w => coalesce(element_at(col("m"), w), lit(0L))).as("words"))
  }

  /** Filter `fact` to rows whose `key` *may* be in the Bloom filter
    * (one-row `bloom` frame from [[bloomBuild]]; same mBits/kHashes/salt
    * or the test is meaningless). The one-row cross join broadcasts the
    * packed words to every task; the k probes are codegen'd arithmetic
    * over the in-register array — no join, no shuffle, evaluated at the
    * scan so Parquet row groups whose rows all miss never leave the
    * executor. */
  def bloomFilter(fact: DataFrame, bloom: DataFrame, key: Column,
                  mBits: Int, kHashes: Int, salt: String): DataFrame = {
    // digests materialize as columns so each md5 runs once per row no
    // matter how many slice tests reference it
    val withDigests = (0 until digests(kHashes)).foldLeft(
      fact.withColumn("__bk", key.cast("string")).crossJoin(broadcast(bloom))) {
      (df, g) => df.withColumn(s"__dg$g",
        md5(concat(lit(s"$salt:$g:"), col("__bk"))))
    }
    val hit = (0 until kHashes)
      .map { j =>
        // slice arithmetic spelled in SQL because functions.shiftleft
        // only takes a literal shift amount
        val p = s"pmod(CAST(conv(substring(__dg${j / 4}, ${1 + 8 * (j % 4)}, 8), " +
          s"16, 10) AS BIGINT), ${mBits}L)"
        expr(s"(element_at(words, CAST($p / 63 AS INT) + 1) & " +
          s"shiftleft(CAST(1 AS BIGINT), CAST($p % 63 AS INT))) != 0")
      }
      .reduce(_ && _)
    withDigests.filter(hit)
      .drop("__bk" +: "words" +: (0 until digests(kHashes)).map(g => s"__dg$g"): _*)
  }

  /** DuckDB mirror of [[bloomBuild]]: CTE bodies deriving the same packed
    * words (as one-row list `bloom_arr(words)`). `dimSql` must yield one
    * VARCHAR column `k`. Splice into `WITH <this>, ...` and pair with
    * [[bloomOracleTest]] on the fact side. */
  def bloomOracleCtes(dimSql: String, mBits: Int, kHashes: Int,
                      salt: String): String = {
    val nWords = (mBits + 62) / 63
    s"""bloom_pos AS (
         SELECT (CAST('0x' || substr(md5('$salt:' || (j // 4) || ':' || k),
                                     1 + 8 * (j % 4), 8) AS BIGINT)
                 % $mBits) AS pos
         FROM ($dimSql) dim CROSS JOIN range($kHashes) t(j)),
       bloom_words AS (
         SELECT CAST(pos // 63 AS INT) AS w,
                bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS mask
         FROM bloom_pos GROUP BY 1),
       bloom_arr AS (
         SELECT list(COALESCE(bw.mask, 0) ORDER BY r.i) AS words
         FROM range($nWords) r(i) LEFT JOIN bloom_words bw ON bw.w = r.i)"""
  }

  /** DuckDB mirror of [[bloomFilter]]'s probe predicate. The enclosing
    * query must `CROSS JOIN bloom_arr` ([[bloomOracleCtes]]) so `words`
    * resolves; `keyExpr` is the fact-side key already cast to VARCHAR. */
  def bloomOracleTest(keyExpr: String, mBits: Int, kHashes: Int,
                      salt: String): String =
    (0 until kHashes).map { j =>
      val p = s"(CAST('0x' || substr(md5('$salt:${j / 4}:' || $keyExpr), " +
        s"${1 + 8 * (j % 4)}, 8) AS BIGINT) % $mBits)"
      s"(words[CAST($p // 63 AS INT) + 1] & (CAST(1 AS BIGINT) << CAST($p % 63 AS INT))) != 0"
    }.mkString("(", "\n        AND ", ")")

  // --------------------------------------------------------------- KMV

  /** K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002):
    * keep the k lexicographically smallest md5 hashes of the values; if
    * fewer than k distinct hashes exist the count is exact, else estimate
    * n ≈ (k-1)/h_(k) with h_(k) the k-th minimum normalized to [0,1).
    *
    * Returns one row: (n_kept, kth_hash60, est_distinct). `kth_hash60`
    * is the raw 60-bit integer of the k-th minimum — including it in the
    * output makes the sketch itself hash-verified, not just the derived
    * estimate. Scale posture: `distinct-of-hash` is a map-side-combinable
    * hash aggregate and the top-k is a TakeOrdered (per-partition heads,
    * k-row merge) — state is O(k) per partition regardless of input, the
    * shape `count(distinct)` can never have. Sketches from disjoint
    * shards merge by union + re-take-k (same two lines), which exact
    * distinct counts cannot do without re-scanning. */
  def kmvDistinct(df: DataFrame, key: Column, k: Int, salt: String): DataFrame =
    kmvEstimate(kmvSketch(df, key, k, salt), k)

  /** The sketch itself: the k smallest distinct hashes (column `h`).
    * Sketches over disjoint (or overlapping!) shards merge losslessly:
    * union → distinct → re-take-k gives EXACTLY the sketch of the
    * combined input, because "k smallest of a set union" only needs each
    * side's k smallest. That closure is what lets a 100 TB count run as
    * per-shard sketches + a k-row merge instead of one global shuffle. */
  def kmvSketch(df: DataFrame, key: Column, k: Int, salt: String): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    df.select(md5(concat(lit(s"$salt:"), key.cast("string"))).as("h"))
      .distinct()
      .orderBy(col("h"))
      .limit(k)
  }

  /** Merge any number of same-(k, salt) sketches into one. */
  def kmvMerge(k: Int, sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches.reduce(_ union _).distinct().orderBy(col("h")).limit(k)
  }

  /** Estimate from a [[kmvSketch]] frame. */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch
      .agg(count(lit(1)).as("n_kept"),
        max(conv(substring(col("h"), 1, 15), 16, 10).cast("long")).as("kth_hash60"))
      .select(col("n_kept"), col("kth_hash60"),
        round(
          when(col("n_kept") < k, col("n_kept").cast("double"))
            .otherwise(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
              col("kth_hash60").cast("double")),
          4).as("est_distinct"))

  /** Per-GROUP KMV: the k smallest distinct hashes within each group —
    * "approx distinct users per segment" as one relational pipeline. The
    * window is partitioned by the group columns, so no group ever sorts
    * more than its own distinct hashes, and the same shard-merge closure
    * as [[kmvSketch]] holds per group. Returns (groups..., h). */
  def kmvSketchGrouped(df: DataFrame, groups: Seq[String], key: Column,
                       k: Int, salt: String): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    import org.apache.spark.sql.expressions.Window
    df.select(groups.map(col) :+
        md5(concat(lit(s"$salt:"), key.cast("string"))).as("h"): _*)
      .distinct()
      .withColumn("__rn", row_number().over(
        Window.partitionBy(groups.map(col): _*).orderBy(col("h"))))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** KMV SET OPERATIONS (Beyer et al. SIGMOD'07): union and
    * intersection cardinality of two keyed sets from their k-smallest
    * sketches alone. The merged sketch M = k smallest of (Kₐ ∪ K_b) is
    * exactly the sketch OF the union (the [[kmvSketch]] shard-merge
    * closure); Jaccard ρ = |M ∩ A ∩ B| / |M| is decidable from the two
    * side sketches because h ∈ M ∧ h ∈ A ⇒ h ≤ kth(M) ≤ kth(Kₐ) ⇒
    * h ∈ Kₐ — no rescan of the inputs. Intersection = ρ · est(∪).
    *
    * Scale posture: the only input-proportional work is the two
    * side-sketch builds (each a distinct + top-k, shard-mergeable);
    * everything after runs on ≤ 3k hash rows. Fully deterministic
    * given the md5 hashing, so an external engine re-derives every
    * output bit. Returns one row: n_m, kth_hash60, est_union, n_both,
    * jaccard, est_inter. */
  def kmvSetOps(a: DataFrame, keyA: Column, b: DataFrame, keyB: Column,
                k: Int, salt: String): DataFrame = {
    val sa = kmvSketch(a, keyA, k, salt)
    val sb = kmvSketch(b, keyB, k, salt)
    val m = kmvMerge(k, sa, sb)
    m.join(sa.withColumn("in_a", lit(1)), Seq("h"), "left")
      .join(sb.withColumn("in_b", lit(1)), Seq("h"), "left")
      .agg(count(lit(1)).as("n_m"),
        max(conv(substring(col("h"), 1, 15), 16, 10).cast("long")).as("kth_hash60"),
        sum(coalesce(col("in_a"), lit(0)) * coalesce(col("in_b"), lit(0)))
          .as("n_both"))
      .select(col("n_m"), col("kth_hash60"), col("n_both"),
        when(col("n_m") < k, col("n_m").cast("double"))
          .otherwise(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
            col("kth_hash60").cast("double")).as("est_union"))
      .select(col("n_m"), col("kth_hash60"), col("n_both"),
        round(col("est_union"), 4).as("est_union"),
        round(col("n_both").cast("double") / col("n_m"), 6).as("jaccard"),
        round(col("n_both").cast("double") / col("n_m") * col("est_union"), 4)
          .as("est_inter"))
  }

  /** Per-group estimate from a [[kmvSketchGrouped]] frame: groups with
    * fewer than k distinct hashes report their exact count. */
  def kmvEstimateGrouped(sketch: DataFrame, groups: Seq[String],
                         k: Int): DataFrame =
    sketch
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n_kept"),
        max(conv(substring(col("h"), 1, 15), 16, 10).cast("long")).as("kth_hash60"))
      .select(groups.map(col) ++ Seq(col("n_kept"), col("kth_hash60"),
        round(
          when(col("n_kept") < k, col("n_kept").cast("double"))
            .otherwise(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
              col("kth_hash60").cast("double")),
          4).as("est_distinct")): _*)

  // --------------------------------------------------------- count-min

  /** Count-min sketch table (Cormode & Muthukrishnan 2005): `d` hash
    * rows × `w` counters; cell (r, c) sums the count of every key whose
    * r-th hash lands on c. Returns (r, c, n) — at most d·w rows, one
    * map-side-combinable aggregate over the input. Point estimate for a
    * key = min over its d cells (see [[countMinEstimate]]), an upper
    * bound on the true count with error ≤ N·e/w at confidence 1−e^−d.
    *
    * Scale posture: the shuffle carries d·w counters per map partition,
    * not per-key rows — frequency estimation over a trillion-row stream
    * in kilobytes of state, and two sketches merge by cell-wise add. */
  def countMinTable(df: DataFrame, key: Column, d: Int, w: Int,
                    salt: String): DataFrame = {
    require(d >= 1 && w >= 2, s"need d>=1, w>=2; got $d, $w")
    // row r's cell comes from digest slice r%4 of digest r/4 — one md5
    // per input row for the standard d<=4, not d (the same slicing as
    // hashPositions, kept inline because the sketch needs r back)
    // r18 (guide §2.5): the per-row digest chain below is narrow — over
    // a single-row-group scan it ran as ONE task; spread only when the
    // scan is actually narrow (identity on a production fan-out scan,
    // where the map-side partial aggregate keeps shuffle at 2048 cells)
    Relational.spreadIfNarrow(df.select(key.cast("string").as("k")))
      .select(explode(sequence(lit(0), lit(digests(d) - 1))).as("g"), col("k"))
      .select(col("g"), md5(concat(lit(s"$salt:"), col("g"), lit(":"), col("k"))).as("dg"))
      .select(explode(sequence(lit(0), lit(3))).as("s"), col("g"), col("dg"))
      .filter(col("g") * 4 + col("s") < d)
      .select((col("g") * 4 + col("s")).cast("int").as("r"),
        pmod(conv(col("dg").substr(col("s") * 8 + 1, lit(8)), 16, 10).cast("long"),
          lit(w.toLong)).cast("int").as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("n"))
  }

  /** Point-query the sketch for each row of `probes`: min over the d
    * cells `key` hashes to. Every OTHER column of `probes` is carried
    * through (they join the group-by), so callers attach context like
    * true counts without a second pass over the data. `table` is
    * broadcast — it is at most d·w rows by construction. Keys absent
    * from the sketch estimate 0 (all-empty cells), never negative;
    * estimates are always >= the true count (count-min never
    * undercounts). */
  def countMinEstimate(probes: DataFrame, table: DataFrame, key: Column,
                       d: Int, w: Int, salt: String): DataFrame = {
    val carried = probes.columns.toSeq
    val probeCells = probes
      .withColumn("__k", key.cast("string"))
      .withColumn("__g", explode(sequence(lit(0), lit(digests(d) - 1))))
      .withColumn("__dg", md5(concat(lit(s"$salt:"), col("__g"), lit(":"), col("__k"))))
      .withColumn("__s", explode(sequence(lit(0), lit(3))))
      .filter(col("__g") * 4 + col("__s") < d)
      .withColumn("r", (col("__g") * 4 + col("__s")).cast("int"))
      .withColumn("c",
        pmod(conv(col("__dg").substr(col("__s") * 8 + 1, lit(8)), 16, 10).cast("long"),
          lit(w.toLong)).cast("int"))
    probeCells
      .join(broadcast(table), Seq("r", "c"), "left_outer")
      .groupBy(carried.map(col): _*)
      .agg(min(coalesce(col("n"), lit(0L))).as("est_n"))
  }

  // -------------------------------------------------------------- HLL

  /** HyperLogLog (Flajolet et al., AofA'07) — the industry-standard
    * distinct sketch next to KMV: m = 2^b registers, each holding the
    * maximum leading-zero run (ρ) seen among hashes routed to it. State
    * is m BYTES (vs KMV's k hashes) and the merge is element-wise max —
    * even simpler than KMV's re-take-k — which is why HLL is what
    * `approx_count_distinct` ships everywhere. Kept md5-portable like
    * every sketch here: register = first `b/4` hex chars, ρ from the
    * next 56 bits, so the oracle re-derives the registers bit-for-bit.
    *
    * ρ convention: ρ = 57 - length(bin(v)) over the 56-bit tail v,
    * capped at 50 so the estimator's 2^-ρ sum stays EXACT in integer
    * arithmetic (Σ 2^(50-ρ) ≤ m·2^50 < 2^63): the oracle compares
    * integer sums, not float-summation-order noise. The cap loses
    * nothing real — ρ > 50 needs ~2^50 distinct values per register. */
  def hllSketch(df: DataFrame, key: Column, b: Int, salt: String): DataFrame = {
    require(b % 4 == 0 && b >= 4 && b <= 16, s"b must be in {4,8,12,16}: $b")
    df.select(md5(concat(lit(s"$salt:"), key.cast("string"))).as("h"))
      .select(
        conv(substring(col("h"), 1, b / 4), 16, 10).cast("int").as("reg"),
        conv(substring(col("h"), b / 4 + 1, 14), 16, 10).cast("long").as("v"))
      .groupBy(col("reg"))
      .agg(max(least(lit(57) - length(bin(col("v"))), lit(50))).as("rho"))
  }

  /** Merge same-(b, salt) sketches: element-wise register max. */
  def hllMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches.reduce(_ union _).groupBy(col("reg")).agg(max(col("rho")).as("rho"))
  }

  /** One-row estimate from a [[hllSketch]] frame: (n_nonzero, sum_pow50,
    * est_distinct). `sum_pow50` = Σ_registers 2^(50-ρ) as an exact
    * integer (absent registers count ρ=0) — the sketch-pinning output,
    * like KMV's kth_hash60. The estimate applies the standard
    * small-range linear-counting correction below 2.5m when zero
    * registers remain (the raw harmonic mean biases high there). */
  def hllEstimate(sketch: DataFrame, b: Int): DataFrame = {
    val m = 1 << b
    val alpha = // Flajolet's bias constants by register count
      if (m >= 128) 0.7213 / (1 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    sketch
      .agg(count(lit(1)).as("n_nonzero"),
        // 2^(50-rho) as an exact bit-shift, not libm pow: rho is capped
        // at 50 so the shift amount is in [0, 49] and the sum is exact
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(50 - rho AS INT))"))
          .as("__present"))
      .select(col("n_nonzero"),
        (col("__present") +
          (lit(m.toLong) - col("n_nonzero")) * lit(1L << 50)).as("sum_pow50"))
      .select(col("n_nonzero"), col("sum_pow50"),
        round(
          when(
            lit(alpha * m) * m * pow(lit(2.0), lit(50.0)) /
              col("sum_pow50").cast("double") <= lit(2.5 * m) &&
              col("n_nonzero") < m,
            lit(m.toDouble) * log(lit(m.toDouble) /
              (lit(m.toLong) - col("n_nonzero")).cast("double")))
            .otherwise(lit(alpha * m) * m * pow(lit(2.0), lit(50.0)) /
              col("sum_pow50").cast("double")),
          2).as("est_distinct"))
  }

  /** [[hllSketch]] + [[hllEstimate]] in one call. */
  def hllDistinct(df: DataFrame, key: Column, b: Int, salt: String): DataFrame =
    hllEstimate(hllSketch(df, key, b, salt), b)

  /** Per-GROUP HLL registers: one hash aggregate keyed by
    * (groups, register) — state is ≤ m rows per group no matter how many
    * rows feed it, and the same element-wise-max merge closure holds per
    * group. The KMV twin ([[kmvSketchGrouped]]) needs a per-group
    * window; registers don't even need that. */
  def hllSketchGrouped(df: DataFrame, groups: Seq[String], key: Column,
                       b: Int, salt: String): DataFrame = {
    require(b % 4 == 0 && b >= 4 && b <= 16, s"b must be in {4,8,12,16}: $b")
    df.select(groups.map(col) :+
        md5(concat(lit(s"$salt:"), key.cast("string"))).as("h"): _*)
      .select(groups.map(col) ++ Seq(
        conv(substring(col("h"), 1, b / 4), 16, 10).cast("int").as("reg"),
        conv(substring(col("h"), b / 4 + 1, 14), 16, 10).cast("long").as("v")): _*)
      .groupBy(groups.map(col) :+ col("reg"): _*)
      .agg(max(least(lit(57) - length(bin(col("v"))), lit(50))).as("rho"))
  }

  /** Per-group estimate from a [[hllSketchGrouped]] frame — the same
    * integer-exact estimator as [[hllEstimate]], one row per group. */
  def hllEstimateGrouped(sketch: DataFrame, groups: Seq[String],
                         b: Int): DataFrame = {
    val m = 1 << b
    val alpha =
      if (m >= 128) 0.7213 / (1 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    sketch
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n_nonzero"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(50 - rho AS INT))"))
          .as("__present"))
      .select(groups.map(col) ++ Seq(col("n_nonzero"),
        (col("__present") +
          (lit(m.toLong) - col("n_nonzero")) * lit(1L << 50)).as("sum_pow50")): _*)
      .select(groups.map(col) ++ Seq(col("n_nonzero"), col("sum_pow50"),
        round(
          when(
            lit(alpha * m) * m * pow(lit(2.0), lit(50.0)) /
              col("sum_pow50").cast("double") <= lit(2.5 * m) &&
              col("n_nonzero") < m,
            lit(m.toDouble) * log(lit(m.toDouble) /
              (lit(m.toLong) - col("n_nonzero")).cast("double")))
            .otherwise(lit(alpha * m) * m * pow(lit(2.0), lit(50.0)) /
              col("sum_pow50").cast("double")),
          2).as("est_distinct")): _*)
  }

  /** DuckDB CTEs re-deriving the identical sketch + estimate from
    * `keyExpr` (a VARCHAR SQL expression) over `fromSql` (a FROM body).
    * Exposes CTE `hll(n_nonzero, sum_pow50, est_distinct)`. */
  def hllOracleCtes(keyExpr: String, fromSql: String, b: Int,
                    salt: String): String = {
    require(b % 4 == 0 && b >= 4 && b <= 16, s"b must be in {4,8,12,16}: $b")
    val m = 1 << b
    val alpha =
      if (m >= 128) 0.7213 / (1 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    s"""hll_regs AS (
        SELECT CAST('0x' || substr(h, 1, ${b / 4}) AS BIGINT) AS reg,
               max(least(57 - length(bin(CAST('0x' || substr(h, ${b / 4 + 1}, 14) AS BIGINT))), 50)) AS rho
        FROM (SELECT md5('$salt:' || $keyExpr) AS h FROM $fromSql)
        GROUP BY 1),
      hll_sum AS (
        -- 2^(50-rho) via integer bit-shift (libm pow varies across
        -- builds); sum(BIGINT) widens to HUGEINT in DuckDB, so the total
        -- is cast back to BIGINT or it exports engine-dependently
        SELECT count(*) AS n_nonzero,
               CAST(sum(CAST(1 AS BIGINT) << (50 - rho))
                 + ($m - count(*)) * (CAST(1 AS BIGINT) << 50) AS BIGINT)
                 AS sum_pow50
        FROM hll_regs),
      hll AS (
        SELECT n_nonzero, sum_pow50,
          round(CASE WHEN CAST($alpha AS DOUBLE) * $m * $m * pow(2, 50) / CAST(sum_pow50 AS DOUBLE) <= CAST(${2.5 * m} AS DOUBLE)
                      AND n_nonzero < $m
                THEN $m * ln(CAST($m AS DOUBLE) / ($m - n_nonzero))
                ELSE CAST($alpha AS DOUBLE) * $m * $m * pow(2, 50) / CAST(sum_pow50 AS DOUBLE) END,
            2) AS est_distinct
        FROM hll_sum)"""
  }
}
