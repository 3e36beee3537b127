package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

import graft.Tables
import graft.operators.{Graph, Relational, TimeSeries}

/** Round-6 analytics completions: the association/dependence family
  * (co-occurrence PMI, chi-square independence, Markov transitions),
  * interval-union coverage, blocked edit-distance entity resolution,
  * and the exact triangle census that completes the graph trio
  * (PageRank q128, connected components q75/q89).
  *
  * House discipline throughout: counts and interval bounds are long
  * arithmetic (bit-reproducible under any partitioning); the only
  * floats are final ratios whose operands are exact longs — IEEE
  * division of exact integers is deterministic across engines, and
  * `ln` (the one libm call, PMI only) is rounded at 6 decimals where
  * a last-ulp cross-engine difference is orders of magnitude below
  * the rounding step (the q129 precedent).
  */
object AnalyticsQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  val all: Seq[(String, Q)] = Seq(

    // --------------------------------------------- co-occurrence PMI
    // Pointwise mutual information over brand pairs co-purchased in one
    // order (Church & Hanks, CL 1990): PMI(a,b) = ln(n_ab·N / (n_a·n_b)).
    // The market-basket association primitive. Scale shape: ONE shuffle
    // total for pair generation — groupBy(order) with a map-side-partial
    // collect_set whose state is bounded by the 25-brand space, then the
    // C(k,2) pairs explode from each order's sorted brand array WITHOUT
    // a self-join (fan-out bounded by order width, never n² in brands
    // or orders); the pair aggregate is bounded by 25². The order-set
    // frame is checkpointed once and reused for N, marginals and pairs.
    "q135_copurchase_pmi" -> Q(
      (s, d) => {
        import s.implicits._
        // r18 A/B: deliberately NOT spread — collect_set is data movement,
        // not compute; pre-exchanging the rows moved the same bytes the
        // aggregate's own exchange would and measured 1.57 → 1.97 s.
        val sets = t(s, d, "lineitem").select($"l_orderkey", $"l_partkey")
          .join(broadcast(t(s, d, "part").select($"p_partkey", $"p_brand")),
            $"l_partkey" === $"p_partkey")
          .groupBy($"l_orderkey")
          .agg(sort_array(collect_set($"p_brand")).as("bs"))
          .transform(GraftGlue.materialize(_))
        val n = sets.agg(count(lit(1)).as("n"))
        val marg = sets.select(explode($"bs").as("b"))
          .groupBy($"b").agg(count(lit(1)).as("c"))
        val pairs = sets.select(explode(expr(
            "flatten(transform(bs, (x, i) -> " +
              "transform(slice(bs, i + 2, size(bs)), y -> struct(x, y))))"))
            .as("pr"))
          .groupBy($"pr.x".as("brand_a"), $"pr.y".as("brand_b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(broadcast(marg.select($"b".as("brand_a"), $"c".as("ca"))), "brand_a")
          .join(broadcast(marg.select($"b".as("brand_b"), $"c".as("cb"))), "brand_b")
          .crossJoin(broadcast(n))
          .select($"brand_a", $"brand_b", $"n_ab",
            round(log($"n_ab" * $"n" / ($"ca" * $"cb")), 6).as("pmi"))
          .orderBy($"pmi".desc, $"brand_a", $"brand_b")
          .limit(20)
      },
      Some("""WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
            FROM lineitem JOIN part ON l_partkey = p_partkey),
          n AS (SELECT count(DISTINCT ok) AS n FROM ob),
          marg AS (SELECT b, count(*) AS c FROM ob GROUP BY 1),
          pairs AS (SELECT a.b AS brand_a, b2.b AS brand_b, count(*) AS n_ab
            FROM ob a JOIN ob b2 ON a.ok = b2.ok AND a.b < b2.b GROUP BY 1, 2)
          SELECT brand_a, brand_b, n_ab,
            round(ln(n_ab * (SELECT n FROM n) / (ca.c * cb.c)), 6) AS pmi
          FROM pairs JOIN marg ca ON brand_a = ca.b
            JOIN marg cb ON brand_b = cb.b
          ORDER BY pmi DESC, brand_a, brand_b LIMIT 20"""),
      "co-purchase PMI over brand pairs within orders, top-20 associations"),

    // ------------------------------------------------ interval union
    // Total covered time per user after merging overlapping-or-touching
    // view intervals [ts, ts + value hours] — the engagement-coverage
    // metric no plain aggregate computes (overlaps must not double-
    // count). Running-max sweep entirely per-user-partitioned
    // ([[TimeSeries.mergeIntervals]]); epoch seconds and durations stay
    // long, so merged bounds are exact on both engines.
    "q136_interval_union" -> Q(
      (s, d) => {
        import s.implicits._
        val v = t(s, d, "events").filter($"event_type" === "view")
          .select($"user_id", $"event_id",
            unix_timestamp($"ts").as("st"),
            (unix_timestamp($"ts") +
              round($"value" * 3600).cast("long")).as("en"))
        TimeSeries.mergeIntervals(v, "user_id", $"st", $"en", $"event_id")
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_intervals"),
            sum($"n_merged").as("n_events"),
            sum($"interval_end" - $"interval_start").as("covered_s"))
          .orderBy($"covered_s".desc, $"user_id")
          .limit(50)
      },
      Some("""WITH v AS (SELECT user_id, event_id,
              epoch_ms(ts) // 1000 AS s,
              epoch_ms(ts) // 1000 + CAST(round(value * 3600) AS BIGINT) AS e
            FROM events WHERE event_type = 'view'),
          m AS (SELECT user_id, event_id, s, e,
              CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                THEN 1 ELSE 0 END AS nw
            FROM v WINDOW w AS (PARTITION BY user_id ORDER BY s, e, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          g AS (SELECT user_id, s, e,
              sum(nw) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM m),
          merged AS (SELECT user_id, grp, min(s) AS ms, max(e) AS me,
              count(*) AS c
            FROM g GROUP BY 1, 2)
          SELECT user_id, count(*) AS n_intervals,
            CAST(sum(c) AS BIGINT) AS n_events,
            CAST(sum(me - ms) AS BIGINT) AS covered_s
          FROM merged GROUP BY 1
          ORDER BY covered_s DESC, user_id LIMIT 50"""),
      "merged-interval coverage per user: overlap-free engagement seconds"),

    // --------------------------------------- chi-square independence
    // Pearson chi-square of event_type × weekend: observed cell counts
    // vs marginal-product expectations, Σ (O−E)²/E. One hash aggregate
    // over the stream for the 10 cells; marginals and the total are
    // broadcast one-row/few-row frames. Everything up to the final
    // ratios is long-exact, and those ratios are pure IEEE arithmetic
    // on exact longs — bit-identical across engines, no libm involved.
    "q137_chisq_independence" -> Q(
      (s, d) => {
        import s.implicits._
        val cells = t(s, d, "events")
          .select($"event_type",
            date_format($"ts", "EEEE").isin("Saturday", "Sunday")
              .cast("int").as("is_weekend"))
          .groupBy($"event_type", $"is_weekend").agg(count(lit(1)).as("n"))
          .transform(GraftGlue.materialize(_))
        val rowT = cells.groupBy($"event_type").agg(sum($"n").as("rt"))
        val colT = cells.groupBy($"is_weekend").agg(sum($"n").as("ct"))
        val tot = cells.agg(sum($"n").as("tot"))
        val scored = cells
          .join(broadcast(rowT), "event_type")
          .join(broadcast(colT), "is_weekend")
          .crossJoin(broadcast(tot))
          .withColumn("e", $"rt" * $"ct" / $"tot")
          .withColumn("contrib", ($"n" - $"e") * ($"n" - $"e") / $"e")
        val chi2 = scored.agg(round(sum($"contrib"), 6).as("chi2"))
        scored.crossJoin(broadcast(chi2))
          .select($"event_type", $"is_weekend", $"n",
            round($"e", 4).as("expected"),
            round($"contrib", 6).as("contrib"), $"chi2")
          .orderBy($"event_type", $"is_weekend")
      },
      Some("""WITH cells AS (SELECT event_type,
              CAST(dayname(ts) IN ('Saturday', 'Sunday') AS INTEGER) AS is_weekend,
              count(*) AS n
            FROM events GROUP BY 1, 2),
          rt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY 1),
          ct AS (SELECT is_weekend, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY 1),
          tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cells),
          scored AS (SELECT event_type, is_weekend, n,
              rt * ct / tot AS e,
              (n - rt * ct / tot) * (n - rt * ct / tot) / (rt * ct / tot) AS contrib
            FROM cells JOIN rt USING (event_type) JOIN ct USING (is_weekend)
              CROSS JOIN tot),
          chi AS (SELECT round(sum(contrib), 6) AS chi2 FROM scored)
          SELECT event_type, is_weekend, n, round(e, 4) AS expected,
            round(contrib, 6) AS contrib, chi2
          FROM scored CROSS JOIN chi
          ORDER BY event_type, is_weekend"""),
      "chi-square independence test: event_type x weekend contingency"),

    // --------------------------------------------- Markov transitions
    // First-order event-type transition matrix per the user clickstream:
    // lead() within each user's time-ordered stream, then a count per
    // (current, next) pair and the row-conditional probability
    // P(next | current). The sequence-mining primitive behind funnel
    // discovery and session modeling. One per-user window + one
    // aggregate bounded by the 5×5 type space.
    "q138_markov_transitions" -> Q(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val trans = t(s, d, "events")
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("next_type", lead($"event_type", 1).over(w))
          .filter($"next_type".isNotNull)
          .groupBy($"event_type", $"next_type").agg(count(lit(1)).as("n"))
        val rowT = trans.groupBy($"event_type").agg(sum($"n").as("rt"))
        trans.join(broadcast(rowT), "event_type")
          .select($"event_type", $"next_type", $"n",
            round($"n" / $"rt", 6).as("p"))
          .orderBy($"event_type", $"next_type")
      },
      Some("""WITH seq AS (SELECT event_type,
              lead(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS next_type
            FROM events),
          trans AS (SELECT event_type, next_type, count(*) AS n
            FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
          rt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS rt
            FROM trans GROUP BY 1)
          SELECT event_type, next_type, n, round(n / rt, 6) AS p
          FROM trans JOIN rt USING (event_type)
          ORDER BY event_type, next_type"""),
      "first-order Markov transition matrix over per-user event streams"),

    // ------------------------------------- blocked fuzzy entity match
    // Entity resolution by blocked edit distance: candidate pairs only
    // within a (brand, type) block — the classic blocking trick that
    // turns an O(n²) all-pairs Levenshtein into Σ C(block, 2), bounded
    // by the largest block — then the exact distance filter keeps near-
    // matches (1 ≤ d ≤ 2; d=0 exact dupes belong to q40's pipeline).
    // Both engines implement classic unweighted Levenshtein, and the
    // full tie-break chain (distance, names, keys) makes the LIMIT
    // deterministic.
    "q139_fuzzy_blocked_match" -> Q(
      (s, d) => {
        import s.implicits._
        val p = t(s, d, "part")
          .select($"p_partkey", $"p_name", $"p_brand", $"p_type")
        val a = p.select($"p_brand", $"p_type", $"p_partkey".as("key_a"),
          $"p_name".as("name_a"))
        val b = p.select($"p_brand", $"p_type", $"p_partkey".as("key_b"),
          $"p_name".as("name_b"))
        a.join(b, Seq("p_brand", "p_type"))
          .filter($"key_a" < $"key_b")
          // thresholded levenshtein: banded O(d·n) DP with early exit
          // (length-difference pregate built in, -1 past the bound) —
          // Catalyst inlines the distance into the join condition where
          // it evaluates per candidate pair, so per-pair cost is the
          // lever; semantics-preserving (BETWEEN discards >2 anyway),
          // so the oracle needs no mirror
          .withColumn("dist", levenshtein($"name_a", $"name_b", 2))
          .filter($"dist".between(1, 2))
          .select($"name_a", $"name_b", $"dist", $"key_a", $"key_b")
          .orderBy($"dist", $"name_a", $"name_b", $"key_a", $"key_b")
          .limit(50)
      },
      Some("""SELECT a.p_name AS name_a, b.p_name AS name_b,
            levenshtein(a.p_name, b.p_name) AS dist,
            a.p_partkey AS key_a, b.p_partkey AS key_b
          FROM part a JOIN part b
            ON a.p_brand = b.p_brand AND a.p_type = b.p_type
            AND a.p_partkey < b.p_partkey
          WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
          ORDER BY dist, name_a, name_b, key_a, key_b LIMIT 50"""),
      "blocked Levenshtein entity resolution over part names"),

    // ------------------------------------------------ triangle census
    // Exact triangle count + transitivity of the part co-purchase graph
    // (parts linked when one nation-7 order contains both). Degree-
    // ordered orientation caps the wedge fan-out at O(√m) per node —
    // O(m^{3/2}) total, the exact-listing optimum — so the census
    // survives skewed degree distributions that melt naive wedge
    // counting. See [[graft.operators.Graph.triangleStats]].
    "q140_triangle_census" -> Q(
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders").select($"o_orderkey", $"o_custkey")
          .join(t(s, d, "customer").filter($"c_nationkey" === 7)
            .select($"c_custkey"), $"o_custkey" === $"c_custkey")
          .select($"o_orderkey")
        val li = t(s, d, "lineitem").select($"l_orderkey", $"l_partkey")
          .join(o, $"l_orderkey" === $"o_orderkey")
          .select($"l_orderkey", $"l_partkey").distinct()
        val e = li.join(li.select($"l_orderkey", $"l_partkey".as("p2")),
            "l_orderkey")
          .filter($"l_partkey" < $"p2")
          .select($"l_partkey".as("id_a"), $"p2".as("id_b"))
        Graph.triangleStats(e, "id_a", "id_b")
      },
      Some("""WITH o AS (SELECT o_orderkey FROM orders
            JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = 7),
          li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            JOIN o ON l_orderkey = o.o_orderkey),
          e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey),
          deg AS (SELECT id, count(*) AS deg FROM
            (SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
          ori AS (SELECT
              CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
              CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst,
              CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS ddeg
            FROM e JOIN deg du ON e.u = du.id JOIN deg dv ON e.v = dv.id),
          cand AS (SELECT a.src, a.dst AS wv, b.dst AS ww
            FROM ori a JOIN ori b ON a.src = b.src
              AND (a.ddeg, a.dst) < (b.ddeg, b.dst)),
          tri AS (SELECT count(*) AS n_triangles FROM cand
            JOIN ori ON ori.src = cand.wv AND ori.dst = cand.ww),
          nw AS (SELECT count(*) AS n_nodes,
              CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
          ne AS (SELECT count(*) AS n_edges FROM e)
          SELECT n_nodes, n_edges, n_wedges, n_triangles,
            CASE WHEN n_wedges > 0
              THEN round(3 * n_triangles / n_wedges, 6) END AS transitivity
          FROM nw CROSS JOIN ne CROSS JOIN tri"""),
      "exact triangle census via degree-ordered orientation, O(m^1.5)"),

    // -------------------------------------------------- skyline query
    // Pareto-optimal parts: cheapest-for-their-size frontier (minimize
    // retail price, maximize size). The oracle is the INDEPENDENT naive
    // formulation — a NOT EXISTS dominance anti-join — while the engine
    // runs the bucket-overlay plan ([[Relational.skyline2D]]): bucket
    // prefix-max prefilter does the O(n) elimination, exact windows only
    // on the bounded survivor set. Price quantizes to cents so the
    // dominance compare is integer on both engines.
    "q141_skyline_parts" -> Q(
      (s, d) => {
        import s.implicits._
        graft.operators.Relational.skyline2D(
            t(s, d, "part").select($"p_partkey", $"p_name",
              $"p_retailprice", $"p_size"),
            round($"p_retailprice" * 100), $"p_size")
          .orderBy($"p_retailprice", $"p_size".desc, $"p_partkey")
      },
      Some("""SELECT p_partkey, p_name, p_retailprice, p_size FROM part a
          WHERE NOT EXISTS (SELECT 1 FROM part b WHERE
            CAST(round(b.p_retailprice * 100) AS BIGINT)
              <= CAST(round(a.p_retailprice * 100) AS BIGINT)
            AND b.p_size >= a.p_size
            AND (CAST(round(b.p_retailprice * 100) AS BIGINT)
                   < CAST(round(a.p_retailprice * 100) AS BIGINT)
                 OR b.p_size > a.p_size))
          ORDER BY p_retailprice, p_size DESC, p_partkey"""),
      "2-D skyline: Pareto frontier of parts by price (min) and size (max)"),

    // ---------------------------------------------------- BFS levels
    // Degrees of separation in the customer↔supplier trade graph
    // (q128's edge set): hop distance from the smallest nation-7/8
    // customer to everything within 6 hops, reported per level. Fixed
    // 6-round frontier expansion, mirrored CTE-for-CTE by the oracle
    // (a plain recursive CTE cannot terminate on an undirected graph).
    // Per-round cost scales with the FRONTIER, not the graph.
    "q142_bfs_levels" -> Q(
      (s, d) => {
        import s.implicits._
        val both = TradeGraph.edgesBoth(s, d) // shared materialized edges
        val source = t(s, d, "customer")
          .filter($"c_nationkey".isin(7, 8))
          .agg(concat(lit("c"), min($"c_custkey")).as("node"))
        Graph.bfsLevels(both, "src", "dst", source, rounds = 6)
          .groupBy($"dist")
          .agg(count(lit(1)).as("n_nodes"), min($"node").as("min_node"))
          .orderBy($"dist")
      },
      Some(s"""WITH cs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
            's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_nationkey IN (7, 8)),
        edges AS (SELECT src, dst FROM cs
          UNION SELECT dst AS src, src AS dst FROM cs),
        bfs_src AS (SELECT 'c' || CAST(min(c_custkey) AS VARCHAR) AS node
          FROM customer WHERE c_nationkey IN (7, 8)),
        ${graft.operators.Graph.bfsOracleCtes(6)}
        SELECT dist, count(*) AS n_nodes, min(node) AS min_node
        FROM bfs_final GROUP BY dist ORDER BY dist"""),
      "single-source BFS hop levels over the trade graph, 6 oracled rounds"),

    // ------------------------------------------------- KL divergence
    // Per-source corpus drift: KL(source ‖ corpus) over the unigram
    // token distributions — the distribution-shift metric behind
    // mixture rebalancing and contamination triage. Every term of the
    // Σ p·ln(p/q) sum is quantized to integer NANO-NATS (c_s ·
    // round(1e9·ln(c_s·T / (c·T_s)))) so the cross-partition sum is an
    // exact long fold (order-free); a last-ulp ln() difference flips a
    // term by at most one nano-nat, orders below the 1e-6 output
    // rounding after the T_s division. Vocabulary-bounded shuffles
    // throughout; corpus totals travel by broadcast.
    "q143_kl_divergence" -> Q(
      (s, d) => {
        import s.implicits._
        val toks = t(s, d, "documents")
          .select($"source", explode(split(lower($"text"), " ")).as("w"))
        val st = toks.groupBy($"source", $"w").agg(count(lit(1)).as("cs"))
        val ct = toks.groupBy($"w").agg(count(lit(1)).as("c"))
        val ts = st.groupBy($"source").agg(sum($"cs").as("tsrc"))
        val tot = ct.agg(sum($"c").as("tcorp"))
        st.join(ct, "w")
          .join(broadcast(ts), "source")
          .crossJoin(broadcast(tot))
          .select($"source", $"tsrc",
            ($"cs" * expr(
              "CAST(round(1e9 * ln(cs * tcorp / (c * tsrc))) AS BIGINT)"))
              .as("term"))
          .groupBy($"source", $"tsrc").agg(sum($"term").as("nano"))
          .select($"source", $"tsrc".as("n_tokens"),
            round($"nano" / 1e9 / $"tsrc", 6).as("kl_nats"))
          .orderBy($"source")
      },
      Some("""WITH toks AS (SELECT source,
            unnest(string_split(lower(text), ' ')) AS w FROM documents),
          st AS (SELECT source, w, count(*) AS cs FROM toks GROUP BY 1, 2),
          ct AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
          ts AS (SELECT source, CAST(sum(cs) AS BIGINT) AS tsrc
            FROM st GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS tcorp FROM ct),
          terms AS (SELECT source, tsrc,
              cs * CAST(round(1e9 * ln(cs * tcorp / (c * tsrc))) AS BIGINT)
                AS term
            FROM st JOIN ct USING (w) JOIN ts USING (source) CROSS JOIN tot)
          SELECT source, tsrc AS n_tokens,
            round(CAST(sum(term) AS BIGINT) / 1e9 / tsrc, 6) AS kl_nats
          FROM terms GROUP BY source, tsrc ORDER BY source"""),
      "KL(source || corpus) over unigram distributions, nano-nat exact sum"),

    // --------------------------------------------------------- PSI
    // Population stability index — the standard production drift
    // monitor: Σ (p−q)·ln(p/q) over 16 fixed-width bins of the price
    // distribution, returned-vs-kept lineitems, Laplace-smoothed so
    // empty bins contribute finitely. The bin spine is a generated
    // 16-row frame (all bins present even when empty); per-bin terms
    // quantize to nano-nats (the q143 discipline) so the total is an
    // exact long fold. One scan → one 16-ary hash aggregate; range and
    // totals travel as broadcast one-row frames.
    "q144_psi_drift" -> Q(
      (s, d) => {
        import s.implicits._
        val nb = 16
        val li = t(s, d, "lineitem").select($"l_returnflag",
          round($"l_extendedprice" * 100).cast("long").as("cents"))
        val rng = li.agg(min($"cents").as("lo"), max($"cents").as("hi"))
        val counts = li.crossJoin(broadcast(rng))
          .withColumn("bin",
            expr(s"(cents - lo) div greatest(1L, (hi - lo + $nb) div $nb)"))
          .groupBy($"bin")
          .agg(sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("ca"),
            sum(when($"l_returnflag" =!= "R", 1L).otherwise(0L)).as("cb"))
        val spine = s.range(nb).select($"id".as("bin"))
        val dense = spine.join(counts, Seq("bin"), "left_outer")
          .select($"bin", coalesce($"ca", lit(0L)).as("c_a"),
            coalesce($"cb", lit(0L)).as("c_b"))
        val tots = dense.agg(sum($"c_a").as("ta"), sum($"c_b").as("tb"))
        val terms = dense.crossJoin(broadcast(tots))
          .withColumn("term", expr(
            s"""CAST(round(1e9 * (((c_a + 1) / (ta + $nb) - (c_b + 1) / (tb + $nb))
               * ln(((c_a + 1) * (tb + $nb)) / ((c_b + 1) * (ta + $nb))))) AS BIGINT)"""))
        val psi = terms.agg(round(sum($"term") / 1e9, 6).as("psi"))
        terms.crossJoin(broadcast(psi))
          .select($"bin".cast("int").as("bin"), $"c_a", $"c_b",
            round($"term" / 1e9, 6).as("contrib"), $"psi")
          .orderBy($"bin")
      },
      Some("""WITH li AS (SELECT l_returnflag,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem),
          rng AS (SELECT min(cents) AS lo, max(cents) AS hi FROM li),
          counts AS (SELECT
              (cents - lo) // greatest(1, (hi - lo + 16) // 16) AS bin,
              CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
              CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cb
            FROM li CROSS JOIN rng GROUP BY 1),
          spine AS (SELECT unnest(generate_series(0, 15)) AS bin),
          dense AS (SELECT s.bin, coalesce(ca, 0) AS c_a, coalesce(cb, 0) AS c_b
            FROM spine s LEFT JOIN counts c ON s.bin = c.bin),
          tots AS (SELECT CAST(sum(c_a) AS BIGINT) AS ta,
              CAST(sum(c_b) AS BIGINT) AS tb FROM dense),
          terms AS (SELECT bin, c_a, c_b,
              CAST(round(1e9 * (((c_a + 1) / (ta + 16.0) - (c_b + 1) / (tb + 16.0))
                * ln(((c_a + 1) * (tb + 16)) / ((c_b + 1) * (ta + 16))))) AS BIGINT)
                AS term
            FROM dense CROSS JOIN tots),
          psi AS (SELECT round(CAST(sum(term) AS BIGINT) / 1e9, 6) AS psi FROM terms)
          SELECT CAST(bin AS INTEGER) AS bin, c_a, c_b,
            round(term / 1e9, 6) AS contrib, psi
          FROM terms CROSS JOIN psi ORDER BY bin"""),
      "population stability index, returned vs kept price distributions"),

    // --------------------------------------- interval overlap join
    // Which error bursts landed inside viewing sessions? View intervals
    // [ts, ts + value hours] overlap-joined to error intervals
    // [ts, ts + 30 min] per user — an interval × interval join with no
    // nested loop: both sides register per day-bin, the pair is claimed
    // by the single bin containing max(start_a, start_b), residual
    // predicate exact ([[RangeJoin.intervalOverlap]]). The oracle runs
    // the naive inequality join (DuckDB's IEJoin). Overlap seconds stay
    // long-exact.
    "q145_interval_overlap" -> Q(
      (s, d) => {
        import s.implicits._
        def iv(kind: String, durS: org.apache.spark.sql.Column) =
          t(s, d, "events").filter($"event_type" === kind)
            .select($"user_id",
              unix_timestamp($"ts").as(s"${kind}_s"),
              (unix_timestamp($"ts") + durS).as(s"${kind}_e"))
        val views = iv("view", round($"value" * 3600).cast("long"))
        val errs = iv("error", lit(1800L))
          .withColumnRenamed("user_id", "user_id_b")
        val pairs = graft.operators.RangeJoin.intervalOverlap(
            views, $"view_s", $"view_e",
            errs.withColumnRenamed("user_id_b", "user_id"),
            $"error_s", $"error_e",
            binWidth = 86400L, keys = Seq("user_id"))
        pairs.groupBy($"user_id")
          .agg(count(lit(1)).as("n_pairs"),
            sum(least($"view_e", $"error_e") -
              greatest($"view_s", $"error_s")).as("overlap_s"))
          .orderBy($"n_pairs".desc, $"user_id")
          .limit(50)
      },
      Some("""WITH v AS (SELECT user_id,
              epoch_ms(ts) // 1000 AS vs,
              epoch_ms(ts) // 1000 + CAST(round(value * 3600) AS BIGINT) AS ve
            FROM events WHERE event_type = 'view'),
          er AS (SELECT user_id,
              epoch_ms(ts) // 1000 AS es,
              epoch_ms(ts) // 1000 + 1800 AS ee
            FROM events WHERE event_type = 'error')
          SELECT v.user_id, count(*) AS n_pairs,
            CAST(sum(least(ve, ee) - greatest(vs, es)) AS BIGINT) AS overlap_s
          FROM v JOIN er ON v.user_id = er.user_id
            AND vs <= ee AND es <= ve
          GROUP BY v.user_id ORDER BY n_pairs DESC, v.user_id LIMIT 50"""),
      "interval x interval overlap join, each pair claimed by one bin"),

    // --------------------------------------- sorted-neighborhood ER
    // The third blocking scheme in the entity-resolution family
    // (Hernández & Stolfo SIGMOD'95), complementing q139's attribute
    // blocks and q42's LSH buckets: sort by a normalized key, compare
    // each record only to its w−1 successors. Relational shape: the
    // window partitions on the key's 2-char prefix (bounded block
    // count, no global sort), each candidate pair comes from lead(i)
    // — zero self-joins — and the thresholded banded Levenshtein
    // (early-exit, q139's kernel) verifies. Pair cost is O(n·w), the
    // SNM contract.
    "q152_sorted_neighborhood" -> Q(
      (s, d) => {
        import s.implicits._
        val keyed = t(s, d, "documents")
          .select($"doc_id",
            substring(regexp_replace(lower($"text"), "[^a-z0-9]", ""), 1, 24)
              .as("k"))
          .withColumn("blk", substring($"k", 1, 2))
        val w = Window.partitionBy($"blk").orderBy($"k", $"doc_id")
        val leads = keyed.select($"doc_id", $"k",
          array((1 to 3).map(i => struct(
            lead($"doc_id", i).over(w).as("id2"),
            lead($"k", i).over(w).as("k2"))): _*).as("cands"))
        leads.select($"doc_id".as("id_a"), $"k".as("key_a"),
            explode($"cands").as("c"))
          .select($"id_a", $"key_a", $"c.id2".as("id_b"), $"c.k2".as("key_b"))
          .filter($"id_b".isNotNull)
          .withColumn("dist", levenshtein($"key_a", $"key_b", 8))
          .filter($"dist".between(0, 8))
          .select($"id_a", $"id_b", $"dist")
          .orderBy($"dist", $"id_a", $"id_b")
          .limit(100)
      },
      Some("""WITH k1 AS (SELECT doc_id,
              substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS k
            FROM documents),
          k2 AS (SELECT doc_id, k, substr(k, 1, 2) AS blk,
              row_number() OVER (PARTITION BY substr(k, 1, 2)
                ORDER BY k, doc_id) AS rn
            FROM k1)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            levenshtein(a.k, b.k) AS dist
          FROM k2 a JOIN k2 b
            ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3
          WHERE levenshtein(a.k, b.k) <= 8
          ORDER BY dist, id_a, id_b LIMIT 100"""),
      "sorted-neighborhood dedup: prefix-sorted window, lead(i) candidate pairs"),

    // --------------------------------- Markov removal-effect attribution
    // The principled multi-touch attribution model (Anderl et al. 2016):
    // per-user journeys START → touchpoints → CONV (first purchase) or
    // NULL, a transition matrix from q138's machinery, then each
    // channel's removal effect = the drop in START→CONV absorption
    // probability when that channel's traffic is redirected to NULL.
    // Attribution share normalizes removal effects — numerators and
    // denominator stay LONG (nano-probabilities), so shares are exact
    // ratios of integers. Absorption runs 20 fixed-point integer rounds
    // over the scenario-tagged (≤7-state × 5-scenario) chain
    // (Graph.absorptionFixed — the q128 PageRank discipline: floor-div
    // per term, bit-reproducible, round count part of the contract).
    // One corpus shuffle builds the journeys; everything after is
    // state-space-sized.
    "q159_markov_attribution" -> Q(
      (s, d) => {
        import s.implicits._
        val wo = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val wu = Window.partitionBy($"user_id")
        // r18 (guide §2.5): make the window exchange an explicit 32-way
        // spread — AQE coalesced the implicit user_id exchange to 2
        // partitions, serializing the journey windows (identity at
        // production fan-out where the scan already spreads)
        val seq = Relational.spreadIfNarrow(t(s, d, "events")
            .select($"user_id", $"ts", $"event_id",
              when($"event_type" === "purchase", "CONV")
                .otherwise($"event_type").as("st")), $"user_id")
          .withColumn("rn", row_number().over(wo))
          .withColumn("prn", min(when($"st" === "CONV", $"rn")).over(wu))
          .filter($"prn".isNull || $"rn" <= $"prn")
          .withColumn("nxt", lead($"st", 1).over(wo))
        val counts = seq.filter($"st" =!= "CONV")
          .select($"st".as("s"), coalesce($"nxt", lit("NULL")).as("t"))
          .unionByName(seq.filter($"rn" === 1)
            .select(lit("START").as("s"), $"st".as("t")))
          .groupBy($"s", $"t").agg(count(lit(1)).as("n"))
        val rt = counts.groupBy($"s").agg(sum($"n").as("rtot"))
        // r18: checkpoint the (≤ 7×7-row) transition table — the 5
        // removal-scenario branches below otherwise each re-derived the
        // whole events window chain (profiled: 9 concurrent ~0.86 s
        // stages re-running the same journey windows)
        val pn = counts.join(rt, "s")
          .select($"s", $"t", expr("n * 1000000000L div rtot").as("pr"))
          .transform(GraftGlue.materialize(_))
        val channels = Seq("click", "error", "signup", "view")
        val scTrans = channels.map { c =>
            pn.filter($"s" =!= c)
              .select(lit(c).as("sc"), $"s",
                when($"t" === c, "NULL").otherwise($"t").as("t"), $"pr")
          }
          .foldLeft(pn.select(lit("base").as("sc"), $"s", $"t", $"pr"))(
            _ unionByName _)
          .groupBy($"sc", $"s", $"t").agg(sum($"pr").as("pr"))
        // the collect is the CHANNEL-BOUNDED matrix (≤ 5 scenarios ×
        // 7×7 states ≈ 250 rows of longs), never data rows: the
        // absorption evolution then runs on the driver in microseconds
        // instead of 20 scheduled DataFrame rounds — the Stats.olsFit
        // driver-solve legitimacy, see Graph.absorptionFixedDriver
        val mat = scTrans.as[(String, String, String, Long)].collect().toSeq
        val psRows = Graph.absorptionFixedDriver(mat, iters = 20)
          .filter(_._2 == "START")
        val pb = psRows.collectFirst { case ("base", _, v) => v }
          .getOrElse(sys.error("q159: base scenario missing from absorption"))
        val j = psRows.filter(_._1 != "base")
          .map { case (sc, _, pc) => (sc, pc, pb) }
          .toDF("channel", "pc", "pb")
        val den = j.agg(sum($"pb" - $"pc").as("dn"))
        j.crossJoin(broadcast(den))
          .select($"channel",
            round($"pb".cast("double") / 1e9, 6).as("p_conv_base"),
            round($"pc".cast("double") / 1e9, 6).as("p_conv_removed"),
            round(($"pb" - $"pc").cast("double") / $"pb", 6).as("removal_effect"),
            round(($"pb" - $"pc").cast("double") / $"dn", 6).as("share"))
          .orderBy($"channel")
      },
      Some {
        // 20 chained absorption CTEs: pin MATERIALIZED (the q115/q96
        // precedent) so DuckDB evaluates each round once instead of
        // re-inlining the whole journey pipeline per round
        val raw = s"""WITH ev AS (SELECT user_id, ts, event_id,
              CASE WHEN event_type = 'purchase' THEN 'CONV'
                ELSE event_type END AS st,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS rn
            FROM events),
          pe AS (SELECT *, min(CASE WHEN st = 'CONV' THEN rn END)
              OVER (PARTITION BY user_id) AS prn FROM ev),
          seq AS (SELECT *, lead(st) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS nxt
            FROM pe WHERE prn IS NULL OR rn <= prn),
          counts AS (SELECT s, t, count(*) AS n FROM (
              SELECT st AS s, coalesce(nxt, 'NULL') AS t FROM seq
                WHERE st <> 'CONV'
              UNION ALL
              SELECT 'START' AS s, st AS t FROM seq WHERE rn = 1)
            GROUP BY 1, 2),
          rt AS (SELECT s, CAST(sum(n) AS BIGINT) AS rtot
            FROM counts GROUP BY s),
          pn AS (SELECT counts.s, t, CAST(n * 1000000000 // rtot AS BIGINT) AS pr
            FROM counts JOIN rt ON counts.s = rt.s),
          chans AS (SELECT unnest(['click', 'error', 'signup', 'view']) AS c),
          sc_trans AS (SELECT sc, s, t, CAST(sum(pr) AS BIGINT) AS pr FROM (
              SELECT 'base' AS sc, s, t, pr FROM pn
              UNION ALL
              SELECT c AS sc, s, CASE WHEN t = c THEN 'NULL' ELSE t END AS t, pr
              FROM pn CROSS JOIN chans WHERE s <> c)
            GROUP BY 1, 2, 3),
          scen AS (SELECT DISTINCT sc FROM sc_trans),
          ${Graph.absorptionOracleCtes(20)},
          ps AS (SELECT sc, p FROM ab_p20 WHERE st = 'START'),
          j AS (SELECT ch.sc AS channel, ch.p AS pc, b.p AS pb
            FROM ps ch CROSS JOIN (SELECT p FROM ps WHERE sc = 'base') b
            WHERE ch.sc <> 'base'),
          den AS (SELECT CAST(sum(pb - pc) AS BIGINT) AS dn FROM j)
          SELECT channel,
            round(CAST(pb AS DOUBLE) / 1000000000.0, 6) AS p_conv_base,
            round(CAST(pc AS DOUBLE) / 1000000000.0, 6) AS p_conv_removed,
            round(CAST(pb - pc AS DOUBLE) / pb, 6) AS removal_effect,
            round(CAST(pb - pc AS DOUBLE) / dn, 6) AS share
          FROM j CROSS JOIN den ORDER BY channel"""
        raw.replaceAll("(\\b[A-Za-z_][A-Za-z0-9_]*\\s+AS)\\s*\\(", "$1 MATERIALIZED (")
      },
      "Markov removal-effect attribution: integer absorption, exact shares"),

    // --------------------------------- incremental JOIN maintenance
    // q100 proved aggregate-state folding; this is the JOIN half of
    // incremental view maintenance: with batched inserts on BOTH sides
    // (old/new orders × old/new customers), the view delta is exactly
    // ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — three joins touching only deltas where
    // a naive refresh re-joins everything. The oracle one-shots
    // (A₀∪ΔA)⋈(B₀∪ΔB), so the hash compare IS the algebraic identity.
    // At 100 TB this is the difference between a nightly full re-join
    // and a minutes-long delta merge.
    "q162_incremental_join" -> Q(
      (s, d) => {
        import s.implicits._
        val cust = t(s, d, "customer").select($"c_custkey", $"c_mktsegment")
        val bOld = cust.filter($"c_custkey" % 5 =!= 0)
        val bNew = cust.filter($"c_custkey" % 5 === 0)
        val ords = t(s, d, "orders")
          .select($"o_custkey", $"o_orderpriority", $"o_totalprice",
            $"o_orderdate")
        val aOld = ords.filter($"o_orderdate" < "1996-01-01")
        val aNew = ords.filter($"o_orderdate" >= "1996-01-01")
        def j(a: DataFrame, b: DataFrame) =
          a.join(b, a("o_custkey") === b("c_custkey"))
        j(aOld, bOld)            // V₀: the standing view
          .unionByName(j(aNew, bOld))  // ΔA ⋈ B₀
          .unionByName(j(aOld, bNew))  // A₀ ⋈ ΔB
          .unionByName(j(aNew, bNew))  // ΔA ⋈ ΔB
          .groupBy($"c_mktsegment", $"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            Relational.moneySum($"o_totalprice").as("revenue"))
          .orderBy($"c_mktsegment", $"o_orderpriority")
      },
      Some("""SELECT c_mktsegment, o_orderpriority, count(*) AS n,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              / 100.0 AS revenue
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2 ORDER BY c_mktsegment, o_orderpriority"""),
      "incremental join maintenance: delta-join union hash-equals full re-join"),

    // --------------------------------------- association rules
    // Support / confidence / lift over co-purchased brand pairs
    // (Agrawal & Srikant VLDB'94) — the rule-mining reading of q135's
    // counts: same ONE-shuffle pair generation (order-set explode,
    // never a self-join), then every rule measure is a ratio of exact
    // longs. Rules gate on support ≥ 1% via integer cross-multiply
    // (n_ab·100 ≥ N), so the threshold can't drift between engines.
    "q163_association_rules" -> Q(
      (s, d) => {
        import s.implicits._
        // r18 A/B: deliberately NOT spread — same verdict as q135
        // (collect_set is movement, not compute; measured 1.63 → 1.75 s)
        val sets = t(s, d, "lineitem").select($"l_orderkey", $"l_partkey")
          .join(broadcast(t(s, d, "part").select($"p_partkey", $"p_brand")),
            $"l_partkey" === $"p_partkey")
          .groupBy($"l_orderkey")
          .agg(sort_array(collect_set($"p_brand")).as("bs"))
          .transform(GraftGlue.materialize(_))
        val n = sets.agg(count(lit(1)).as("n"))
        val marg = sets.select(explode($"bs").as("b"))
          .groupBy($"b").agg(count(lit(1)).as("c"))
        val pairs = sets.select(explode(expr(
            "flatten(transform(bs, (x, i) -> " +
              "transform(slice(bs, i + 2, size(bs)), y -> struct(x, y))))"))
            .as("pr"))
          .groupBy($"pr.x".as("brand_a"), $"pr.y".as("brand_b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(broadcast(marg.select($"b".as("brand_a"), $"c".as("ca"))), "brand_a")
          .join(broadcast(marg.select($"b".as("brand_b"), $"c".as("cb"))), "brand_b")
          .crossJoin(broadcast(n))
          .filter($"n_ab" * 100 >= $"n")
          .select($"brand_a", $"brand_b", $"n_ab",
            round($"n_ab".cast("double") / $"n", 6).as("support"),
            round($"n_ab".cast("double") / $"ca", 6).as("conf_ab"),
            round($"n_ab".cast("double") / $"cb", 6).as("conf_ba"),
            round(($"n_ab" * $"n").cast("double") / ($"ca" * $"cb"), 6)
              .as("lift"))
          .orderBy($"lift".desc, $"brand_a", $"brand_b")
          .limit(20)
      },
      Some("""WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS b
            FROM lineitem JOIN part ON l_partkey = p_partkey),
          n AS (SELECT count(DISTINCT ok) AS n FROM ob),
          marg AS (SELECT b, count(*) AS c FROM ob GROUP BY 1),
          pairs AS (SELECT a.b AS brand_a, b2.b AS brand_b, count(*) AS n_ab
            FROM ob a JOIN ob b2 ON a.ok = b2.ok AND a.b < b2.b GROUP BY 1, 2)
          SELECT brand_a, brand_b, n_ab,
            round(CAST(n_ab AS DOUBLE) / (SELECT n FROM n), 6) AS support,
            round(CAST(n_ab AS DOUBLE) / ca.c, 6) AS conf_ab,
            round(CAST(n_ab AS DOUBLE) / cb.c, 6) AS conf_ba,
            round(CAST(n_ab * (SELECT n FROM n) AS DOUBLE) / (ca.c * cb.c), 6)
              AS lift
          FROM pairs JOIN marg ca ON brand_a = ca.b
            JOIN marg cb ON brand_b = cb.b
          WHERE n_ab * 100 >= (SELECT n FROM n)
          ORDER BY lift DESC, brand_a, brand_b LIMIT 20"""),
      "association rules: support/confidence/lift as exact-long ratios"),

    // ------------------------------------------- autocorrelation (ACF)
    // Sample ACF of the daily order-revenue series at lags 1..7 — the
    // first diagnostic of any forecasting workflow (weekly seasonality
    // shows as a lag-7 spike). The Box-Jenkins formula expands into
    // exact moments (TimeSeries.acf): Σxₜxₜ₊ₖ / head / tail sums as
    // DECIMAL(38,0) folds over the BOUNDED daily frame (the calendar,
    // not the order stream — the only input-proportional work is the
    // one groupBy(day)); x̄ = S/n is the lone derived double and each
    // r_k is one IEEE tree over exact ingredients. Lag pairing is by
    // position with gaps closed up (the pandas default on an irregular
    // index).
    "q170_acf_daily_revenue" -> Q(
      (s, d) => {
        import s.implicits._
        val daily = t(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
        TimeSeries.acf(daily, "day", "x", maxLag = 7)
          .select($"lag", $"n_pairs", round($"acf", 6).as("acf"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
              sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
            FROM orders GROUP BY 1),
          ser AS (SELECT day, x,
              row_number() OVER (ORDER BY day) AS rn FROM daily),
          gstats AS (SELECT n, sxx,
              CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
            FROM (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS s,
                sum(CAST(x AS HUGEINT) * x) AS sxx FROM ser)),
          pairs AS (SELECT l.lag, a.x AS x, b.x AS xb
            FROM ser a CROSS JOIN generate_series(1, 7) AS l(lag)
            JOIN ser b ON b.rn = a.rn + l.lag),
          bylag AS (SELECT lag, count(*) AS m,
              sum(CAST(x AS HUGEINT) * xb) AS sxy,
              sum(CAST(x AS HUGEINT)) AS h,
              sum(CAST(xb AS HUGEINT)) AS t2
            FROM pairs GROUP BY lag)
          SELECT lag, CAST(m AS BIGINT) AS n_pairs,
            round((CAST(sxy AS DOUBLE) - xbar * CAST(h + t2 AS DOUBLE)
                + CAST(m AS DOUBLE) * xbar * xbar) /
              (CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) * xbar * xbar), 6)
              AS acf
          FROM bylag CROSS JOIN gstats ORDER BY lag"""),
      "daily-revenue autocorrelation, lags 1-7, exact-moment expansion"),

    // ------------------------------------- behavioral sequence assembly
    // Per-user ordered event sequences, the training-example shape for
    // sequence models (next-event prediction, session recommenders):
    // each user's first 20 events in (ts, event_id) order rendered as a
    // '>'-joined type string. The truncation happens BEFORE any
    // collection — a per-user rank window keeps ≤ 20 rows per user, so
    // the collect_list state is bounded by the cap, never by a power
    // user's full history (the unbounded-collect trap of naive
    // sessionization). Order inside the array is pinned by sorting
    // (rn, type) structs, not by collect_list arrival order, which
    // Spark does not guarantee under retries or speculative tasks.
    "q190_user_sequences" -> Q(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        t(s, d, "events")
          .select($"user_id", $"event_type",
            row_number().over(w).as("rn"),
            count(lit(1)).over(Window.partitionBy($"user_id")).as("n"))
          .filter($"rn" <= 20)
          .groupBy($"user_id")
          .agg(max($"n").as("n_events"),
            array_join(
              expr("transform(array_sort(collect_list(struct(rn, event_type)))," +
                " p -> p.event_type)"), ">").as("seq"))
          .orderBy($"user_id")
      },
      Some("""WITH r AS (SELECT user_id, event_type,
            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
            count(*) OVER (PARTITION BY user_id) AS n
          FROM events)
        SELECT user_id, max(n) AS n_events,
          string_agg(event_type, '>' ORDER BY rn) AS seq
        FROM r WHERE rn <= 20 GROUP BY user_id ORDER BY user_id"""),
      "per-user ordered event sequences, cap-bounded before collection"),

    // ------------------------------- cross-correlation lead-lag scan
    // The bivariate sibling of q170's ACF: ccf between two market
    // revenue series (nation-7 vs nation-8 customers, daily 1996) at
    // lags −7..+7 — the lead-lag question ("does market A move before
    // market B?") every ops dashboard asks. Same exact-moment
    // discipline as q170: numerator Σ(x_t−x̄)(y_{t+k}−ȳ) expands into
    // DECIMAL(38,0)-exact folds over TIME-joined pairs (b.day = a.day
    // + lag — calendar gaps drop pairs, the irregular-index ccf
    // convention), denominator from the full-series exact moments, one
    // IEEE tree per lag. Both daily frames are checkpointed (≤366 rows
    // each; they feed the stats aggregates AND the 15-lag pair join).
    "q233_xcorr_leadlag" -> Q(
      (s, d) => {
        import s.implicits._
        def series(nation: Int): DataFrame = {
          val cust = t(s, d, "customer")
            .filter($"c_nationkey" === nation).select($"c_custkey")
          t(s, d, "orders")
            .filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1997-01-01")
            .join(broadcast(cust), $"o_custkey" === $"c_custkey")
            .groupBy(datediff($"o_orderdate", lit("1996-01-01"))
              .cast("long").as("day"))
            .agg(Relational.centsSum($"o_totalprice").as("v"))
        }
        TimeSeries.ccf(series(7), series(8), "day", "v", maxLag = 7)
          .select($"lag", $"n_pairs", round($"ccf", 6).as("ccf"))
      },
      Some("""WITH a AS (SELECT
            CAST(date_diff('day', DATE '1996-01-01', o_orderdate) AS BIGINT) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_nationkey = 7
            AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
          GROUP BY 1),
        b AS (SELECT
            CAST(date_diff('day', DATE '1996-01-01', o_orderdate) AS BIGINT) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_nationkey = 8
            AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
          GROUP BY 1),
        xs AS (SELECT sum(CAST(v AS HUGEINT) * v) AS sxx,
            CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS xbar,
            CAST(count(*) AS BIGINT) AS nx
          FROM a),
        ys AS (SELECT sum(CAST(v AS HUGEINT) * v) AS syy,
            CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS ybar,
            CAST(count(*) AS BIGINT) AS ny
          FROM b),
        lg AS (SELECT unnest(generate_series(-7, 7)) AS lag),
        pairs AS (SELECT lg.lag, CAST(count(*) AS BIGINT) AS m,
            sum(CAST(a.v AS HUGEINT) * b.v) AS sxy,
            sum(CAST(a.v AS HUGEINT)) AS tx,
            sum(CAST(b.v AS HUGEINT)) AS ty
          FROM a CROSS JOIN lg JOIN b ON b.day = a.day + lg.lag
          GROUP BY 1)
        SELECT lg.lag, CAST(COALESCE(m, 0) AS BIGINT) AS n_pairs,
          round((CAST(sxy AS DOUBLE) - xbar * CAST(ty AS DOUBLE)
              - ybar * CAST(tx AS DOUBLE)
              + CAST(m AS DOUBLE) * xbar * ybar) /
            (sqrt(CAST(sxx AS DOUBLE) - CAST(nx AS DOUBLE) * xbar * xbar) *
             sqrt(CAST(syy AS DOUBLE) - CAST(ny AS DOUBLE) * ybar * ybar)), 6)
            AS ccf
        FROM lg LEFT JOIN pairs ON pairs.lag = lg.lag
          CROSS JOIN xs CROSS JOIN ys ORDER BY lg.lag"""),
      "lead-lag cross-correlation between two market revenue series, exact moments"),

    // --------------------------------- first-occurrence sequence pairs
    // Level-2 sequential pattern support (the AprioriAll/GSP building
    // block, Agrawal & Srikant ICDE'95): for every ORDERED event-type
    // pair (a → b), how many users saw their first a strictly before
    // their first b? The "eventually precedes" relation — q162's Markov
    // transitions count only IMMEDIATE successors; funnels fix one
    // path; this measures every pairwise ordering at once. Shape: one
    // (user × type) min-timestamp hash aggregate (state bounded by
    // users × the 5-type enum), a per-user self-join with ≤ 5×5
    // fanout, one count aggregate — exact integers end to end.
    "q243_seq_pairs" -> Q(
      (s, d) => {
        import s.implicits._
        val firsts = t(s, d, "events")
          .groupBy($"user_id", $"event_type")
          .agg(min($"ts").as("t0"))
          .transform(GraftGlue.materialize(_)) // both self-join sides read it
        firsts.select($"user_id", $"event_type".as("a"), $"t0".as("ta"))
          .join(firsts.select($"user_id", $"event_type".as("b"), $"t0".as("tb")),
            "user_id")
          .filter($"a" =!= $"b" && $"ta" < $"tb")
          .groupBy($"a", $"b")
          .agg(count(lit(1)).as("n_users"))
          .orderBy($"a", $"b")
      },
      Some("""WITH firsts AS (SELECT user_id, event_type, min(ts) AS t0
          FROM events GROUP BY 1, 2)
        SELECT f1.event_type AS a, f2.event_type AS b,
          CAST(count(*) AS BIGINT) AS n_users
        FROM firsts f1 JOIN firsts f2 ON f1.user_id = f2.user_id
        WHERE f1.event_type <> f2.event_type AND f1.t0 < f2.t0
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      "first-occurrence ordering support for every event-type pair"),

    // --------------------------------------- Yule-Walker AR(2) fit
    // The autoregressive closed form on top of q170's exact-moment ACF
    // (Yule 1927 / Walker 1931): φ solves the 2×2 Toeplitz system
    // [1 r1; r1 1]·φ = [r1; r2], giving φ1 = r1(1−r2)/(1−r1²),
    // φ2 = (r2−r1²)/(1−r1²), innovation-variance ratio σ²/c0 =
    // 1 − φ1·r1 − φ2·r2. Everything heavy is [[TimeSeries.acf]]'s one
    // calendar-bounded pass (decimal-exact moments, one IEEE tree per
    // lag); the solve is O(1) arithmetic over a one-row frame. The
    // degenerate |1−r1²| = 0 system emits NULL coefficients by contract
    // on both engines (the logRank discipline), and TimeSeriesSpec pins
    // the closed form against an independent numeric 2×2 matrix solve
    // plus a planted-AR(2) recovery.
    "q232_yule_walker" -> Q(
      (s, d) => {
        import s.implicits._
        val daily = t(s, d, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
        val wide = TimeSeries.acf(daily, "day", "x", maxLag = 2)
          .agg(max(when($"lag" === 1, $"n_pairs")).as("m1"),
            max(when($"lag" === 1, $"acf")).as("a1"),
            max(when($"lag" === 2, $"acf")).as("a2"))
        val det = lit(1.0) - $"a1" * $"a1"
        val p1 = $"a1" * (lit(1.0) - $"a2") / (lit(1.0) - $"a1" * $"a1")
        val p2 = ($"a2" - $"a1" * $"a1") / (lit(1.0) - $"a1" * $"a1")
        wide.select($"m1".as("n_pairs1"),
          round($"a1", 6).as("r1"), round($"a2", 6).as("r2"),
          when(abs(det) > 0, round(p1, 6)).as("phi1"),
          when(abs(det) > 0, round(p2, 6)).as("phi2"),
          when(abs(det) > 0,
            round(lit(1.0) - p1 * $"a1" - p2 * $"a2", 6)).as("var_ratio"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
          FROM orders GROUP BY 1),
        ser AS (SELECT day, x,
            row_number() OVER (ORDER BY day) AS rn FROM daily),
        gstats AS (SELECT n, sxx,
            CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
          FROM (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS s,
              sum(CAST(x AS HUGEINT) * x) AS sxx FROM ser)),
        pairs AS (SELECT l.lag, a.x AS x, b.x AS xb
          FROM ser a CROSS JOIN generate_series(1, 2) AS l(lag)
          JOIN ser b ON b.rn = a.rn + l.lag),
        bylag AS (SELECT lag, count(*) AS m,
            sum(CAST(x AS HUGEINT) * xb) AS sxy,
            sum(CAST(x AS HUGEINT)) AS h,
            sum(CAST(xb AS HUGEINT)) AS t2
          FROM pairs GROUP BY lag),
        rk AS (SELECT lag, CAST(m AS BIGINT) AS m,
            (CAST(sxy AS DOUBLE) - xbar * CAST(h + t2 AS DOUBLE)
              + CAST(m AS DOUBLE) * xbar * xbar) /
            (CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) * xbar * xbar) AS acf
          FROM bylag CROSS JOIN gstats),
        wide AS (SELECT
            max(CASE WHEN lag = 1 THEN m END) AS m1,
            max(CASE WHEN lag = 1 THEN acf END) AS a1,
            max(CASE WHEN lag = 2 THEN acf END) AS a2
          FROM rk)
        SELECT m1 AS n_pairs1,
          round(a1, 6) AS r1, round(a2, 6) AS r2,
          CASE WHEN abs(1.0 - a1 * a1) > 0 THEN
            round(a1 * (1.0 - a2) / (1.0 - a1 * a1), 6) END AS phi1,
          CASE WHEN abs(1.0 - a1 * a1) > 0 THEN
            round((a2 - a1 * a1) / (1.0 - a1 * a1), 6) END AS phi2,
          CASE WHEN abs(1.0 - a1 * a1) > 0 THEN
            round(1.0 - a1 * (1.0 - a2) / (1.0 - a1 * a1) * a1
              - (a2 - a1 * a1) / (1.0 - a1 * a1) * a2, 6) END AS var_ratio
        FROM wide"""),
      "Yule-Walker AR(2) over the exact-moment daily-revenue ACF"),

    // ------------------------------------------------------------- HITS
    // Kleinberg's hubs-and-authorities over the DIRECTED customer →
    // supplier trade graph (the one-way sibling of q128's symmetrized
    // PageRank): customers that buy from many strong suppliers become
    // hubs, suppliers bought by many strong hubs become authorities.
    // Three L1-normalized half-round pairs in the q128 fixed-point
    // integer discipline — the oracle replays every round bit-for-bit
    // through [[graft.operators.Graph.hitsOracleCtes]]'s HUGEINT CTE
    // chain, so this registration IS the cross-engine replay of the
    // operator (the GraphSpec hand pin covers the tiny-graph algebra).
    "q218_hits" -> Q(
      (s, d) => {
        import s.implicits._
        val cs = TradeGraph.edges(s, d) // shared materialized edges
        graft.operators.Graph.hitsFixed(cs, "src", "dst", iters = 3)
          .orderBy($"auth".desc, $"node")
          .limit(20)
      },
      Some(s"""WITH cs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
            's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_nationkey IN (7, 8)),
        edges AS (SELECT src, dst FROM cs),
        ${graft.operators.Graph.hitsOracleCtes(3)}
        SELECT node, auth, hub FROM hits_final
        ORDER BY auth DESC, node LIMIT 20"""),
      "fixed-point HITS hubs/authorities, 3 oracled L1-normalized rounds"),

    // -------------------------------- time-windowed funnel conversion
    // The windowed companion to q243's order-free "eventually
    // precedes": did the user's FIRST view convert to a purchase
    // WITHIN 24 hours — the time-to-convert funnel every growth
    // dashboard reports, grouped into daily first-view cohorts.
    // Shape: one per-user min aggregate (first view), one user-keyed
    // LEFT SEMI join whose residual range predicate (t0, t0+24h]
    // bounds the purchase probe (the q54 range-join shape — equi on
    // user, range residual; no window functions, no self cross join),
    // then a cohort-day aggregate. Conversion ratio is the only
    // double, rounded at 6dp over exact counts. The first-view frame
    // feeds three consumers (semi probe, flag join, cohort grouping)
    // — checkpointed once.
    "q247_funnel_window" -> Q(
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
        val v = ev.filter($"event_type" === "view")
          .groupBy($"user_id").agg(min($"ts").as("t0"))
          .transform(GraftGlue.materialize(_))
        val p = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("pu"), $"ts".as("pts"))
        val converted = v.join(p,
            $"user_id" === $"pu" && $"pts" > $"t0" &&
              $"pts" <= $"t0" + expr("INTERVAL 24 HOURS"),
            "left_semi")
          .select($"user_id", lit(1L).as("c"))
        v.join(converted, Seq("user_id"), "left")
          .groupBy(to_date($"t0").as("cohort_day"))
          .agg(count(lit(1)).as("n_viewed"),
            sum(coalesce($"c", lit(0L))).as("n_converted"))
          .withColumn("cvr",
            round($"n_converted".cast("double") / $"n_viewed", 6))
          .orderBy($"cohort_day")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY 1),
        conv AS (SELECT DISTINCT v.user_id FROM v JOIN events e
            ON e.user_id = v.user_id AND e.event_type = 'purchase'
            AND e.ts > v.t0 AND e.ts <= v.t0 + INTERVAL 24 HOUR),
        f AS (SELECT CAST(v.t0 AS DATE) AS cohort_day,
            CASE WHEN conv.user_id IS NULL THEN 0 ELSE 1 END AS c
          FROM v LEFT JOIN conv ON v.user_id = conv.user_id)
        SELECT cohort_day, count(*) AS n_viewed,
          CAST(sum(c) AS BIGINT) AS n_converted,
          round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS cvr
        FROM f GROUP BY 1 ORDER BY 1"""),
      "daily first-view cohorts converting to purchase within 24h, range-join shaped"),

    // ------------------------------------- multi-step windowed funnel
    // The k-step generalization of q247 (round-13 directive #7) and the
    // batch twin of StreamPipeline.funnelStepsStream: the ladder is
    // view → click → purchase with a 24h window PER TRANSITION, each
    // stage anchored at the previous stage's FIRST qualifying time
    // (min over the window — identical to the stream's first-arrival
    // rule under its nondecreasing-ts contract, which StreamingSpec
    // pins). Shape: one per-user min aggregate for the anchor, then one
    // user-keyed range semi-aggregate join PER TRANSITION — k bounded
    // joins over per-user firsts, no windows, no cross product; output
    // folds to the (k+1)-row stage histogram, never per-user rows.
    // total_lag_us sums view→purchase lag over full completions only
    // (partial funnels have no completed lag to sum).
    "q256_funnel_steps" -> Q(
      (s, d) => {
        import s.implicits._
        val ev = GraftGlue.materialize(t(s, d, "events")) // feeds all 3 type slices
        val v = ev.filter($"event_type" === "view")
          .groupBy($"user_id").agg(min($"ts").as("t0"))
          .transform(GraftGlue.materialize(_)) // anchors transition 1 AND the outcome join
        val c1 = v.join(ev.filter($"event_type" === "click")
              .select($"user_id".as("cu"), $"ts".as("cts")),
            $"user_id" === $"cu" && $"cts" > $"t0" &&
              $"cts" <= $"t0" + expr("INTERVAL 24 HOURS"))
          .groupBy($"user_id", $"t0").agg(min($"cts").as("t1"))
          .transform(GraftGlue.materialize(_)) // anchors transition 2 AND the outcome join
        val c2 = c1.join(ev.filter($"event_type" === "purchase")
              .select($"user_id".as("pu"), $"ts".as("pts")),
            $"user_id" === $"pu" && $"pts" > $"t1" &&
              $"pts" <= $"t1" + expr("INTERVAL 24 HOURS"))
          .groupBy($"user_id").agg(min($"pts").as("t2"))
        v.join(c1.select($"user_id", $"t1"), Seq("user_id"), "left")
          .join(c2.select($"user_id", $"t2"), Seq("user_id"), "left")
          .select(
            when($"t2".isNotNull, 2).when($"t1".isNotNull, 1).otherwise(0)
              .as("stages"),
            // NTZ→TS cast is a no-op in the UTC-pinned session (q251)
            when($"t2".isNotNull,
              unix_micros($"t2".cast("timestamp"))
                - unix_micros($"t0".cast("timestamp"))).otherwise(0L)
              .as("lag_us"))
          .groupBy($"stages")
          .agg(count(lit(1)).as("n_users"),
            sum($"lag_us").as("total_lag_us"))
          .orderBy($"stages")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
            WHERE event_type = 'view' GROUP BY 1),
        c1 AS (SELECT v.user_id, v.t0, min(e.ts) AS t1 FROM v JOIN events e
            ON e.user_id = v.user_id AND e.event_type = 'click'
            AND e.ts > v.t0 AND e.ts <= v.t0 + INTERVAL 24 HOUR
          GROUP BY 1, 2),
        c2 AS (SELECT c1.user_id, min(e.ts) AS t2 FROM c1 JOIN events e
            ON e.user_id = c1.user_id AND e.event_type = 'purchase'
            AND e.ts > c1.t1 AND e.ts <= c1.t1 + INTERVAL 24 HOUR
          GROUP BY 1),
        st AS (SELECT v.user_id,
            CASE WHEN c2.user_id IS NOT NULL THEN 2
                 WHEN c1.user_id IS NOT NULL THEN 1 ELSE 0 END AS stages,
            CASE WHEN c2.user_id IS NOT NULL
                 THEN epoch_us(c2.t2) - epoch_us(v.t0) ELSE 0 END AS lag_us
          FROM v LEFT JOIN c1 ON c1.user_id = v.user_id
                 LEFT JOIN c2 ON c2.user_id = v.user_id)
        SELECT stages, count(*) AS n_users,
          CAST(sum(lag_us) AS BIGINT) AS total_lag_us
        FROM st GROUP BY 1 ORDER BY 1"""),
      "k-step windowed funnel (view->click->purchase, 24h per step) folded to a stage histogram"),

    // ------------------------------------- cohort retention matrix
    // The classic retention triangle every growth dashboard renders:
    // customers cohorted by FIRST-order month, then for each month
    // offset k the share of the cohort ordering again k months later.
    // Month arithmetic is the integer key y·12+m (never months_between
    // float semantics), so offsets are exact on both engines. Shape:
    // one per-customer min aggregate (first order), one distinct
    // (cohort, offset, customer) projection into a hash aggregate
    // whose state is calendar²-bounded, cohort sizes broadcast back.
    // Scoped to the 1995 cohorts × offsets 0..11 — a bounded 12×12
    // triangle (the output contract; raw scans stay full-table).
    "q252_cohort_retention" -> Q(
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders").select($"o_custkey",
            (year($"o_orderdate") * 12 + month($"o_orderdate")).as("mk"))
          .transform(GraftGlue.materialize(_)) // feeds firsts AND the activity projection
        val first = o.groupBy($"o_custkey").agg(min($"mk").as("cm"))
          .filter($"cm" >= 1995 * 12 + 1 && $"cm" <= 1995 * 12 + 12)
          .transform(GraftGlue.materialize(_)) // feeds sizes AND the activity join
        val sizes = first.groupBy($"cm").agg(count(lit(1)).as("cohort_size"))
        val active = o.join(first, "o_custkey")
          .select($"cm", ($"mk" - $"cm").cast("long").as("k"), $"o_custkey")
          .filter($"k" <= 11)
          .distinct()
          .groupBy($"cm", $"k").agg(count(lit(1)).as("n_active"))
        active.join(broadcast(sizes), "cm")
          // div, not `/`: Column `/` on ints is DOUBLE division
          .select(expr("CAST(((cm - 1) div 12) * 100 " +
              "+ (cm - ((cm - 1) div 12) * 12) AS BIGINT)").as("cohort_ym"),
            $"k", $"n_active", $"cohort_size",
            round($"n_active".cast("double") / $"cohort_size", 6)
              .as("retention"))
          .orderBy($"cohort_ym", $"k")
      },
      Some("""WITH o AS (SELECT o_custkey,
            year(o_orderdate) * 12 + month(o_orderdate) AS mk
          FROM orders),
        f AS (SELECT o_custkey, min(mk) AS cm FROM o GROUP BY 1),
        f95 AS (SELECT * FROM f
          WHERE cm BETWEEN 1995 * 12 + 1 AND 1995 * 12 + 12),
        sz AS (SELECT cm, CAST(count(*) AS BIGINT) AS cohort_size
          FROM f95 GROUP BY 1),
        act AS (SELECT cm, k, CAST(count(*) AS BIGINT) AS n_active
          FROM (SELECT DISTINCT f95.cm, o.mk - f95.cm AS k, o.o_custkey
            FROM o JOIN f95 USING (o_custkey) WHERE o.mk - f95.cm <= 11)
          GROUP BY 1, 2)
        SELECT CAST((cm - 1) // 12 * 100 + (cm - (cm - 1) // 12 * 12)
            AS BIGINT) AS cohort_ym,
          k, n_active, cohort_size,
          round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
        FROM act JOIN sz USING (cm) ORDER BY cohort_ym, k"""),
      "1995 monthly cohorts x 12 offsets retention triangle, integer month keys"),

    // --------------------------------- Holt-Winters additive smoothing
    // The seasonal completion of q221's Holt (and q229's EWMA level):
    // Winters 1960 additive form over the same 48-month revenue
    // series, m = 12. The oracle replays the ENTIRE trajectory — level,
    // trend, AND the 12-slot seasonal state carried as a list through
    // one recursive CTE (l_t recomputed inline where b_t and s_t need
    // it, the q221 precedent) — so the hash compare proves all three
    // recurrences bit-for-bit. Integer micro-cents with truncating
    // division throughout (Scala Long `/` == DuckDB `//`, negatives
    // included); ×100-excluded like q221/q224 (replication multiplies
    // PER-PERIOD revenue past the declared cap, which fires loudly —
    // TimeSeriesSpec pins the guard and an independent BigInt replay).
    "q253_holt_winters" -> Q(
      (s, d) => {
        import s.implicits._
        val ser = t(s, d, "orders")
          .filter($"o_orderdate" >= "1994-01-01" && $"o_orderdate" < "1998-01-01")
          .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate"))
            .cast("long").as("ym"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        graft.operators.TimeSeries.holtWinters(ser, "ym", "cents", period = 12)
      },
      Some("""WITH RECURSIVE ser AS (
          SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM orders
          WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1998-01-01'
          GROUP BY 1),
        idx AS MATERIALIZED (SELECT ym, cents,
            row_number() OVER (ORDER BY ym) AS rn FROM ser),
        seed AS MATERIALIZED (SELECT
            (SELECT CAST(sum(cents) AS BIGINT) FROM idx WHERE rn <= 12) AS sum1,
            (SELECT CAST(sum(cents) AS BIGINT) FROM idx
              WHERE rn > 12 AND rn <= 24) AS sum2,
            (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n),
        hw(rn, ym, cents, l, b, fit, sl) AS (
          SELECT 12, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
              s.sum1 * 1000000 // 12,
              (s.sum2 - s.sum1) * 1000000 // 144,
              CAST(NULL AS BIGINT),
              (SELECT list(i.cents * 1000000 - s.sum1 * 1000000 // 12
                 ORDER BY i.rn) FROM idx i WHERE i.rn <= 12)
            FROM seed s
          UNION ALL
          SELECT t.rn, t.ym, t.cents, t.lnew,
              (1 * (t.lnew - t.lprev) + 9 * t.bprev) // 10,
              t.lprev + t.bprev + t.sold,
              list_slice(t.sl, 2, 12) ||
                [(3 * (t.cents * 1000000 - t.lnew) + 7 * t.sold) // 10]
            FROM (SELECT i.rn, i.ym, i.cents,
                h.l AS lprev, h.b AS bprev, h.sl[1] AS sold, h.sl AS sl,
                (2 * (i.cents * 1000000 - h.sl[1]) + 8 * (h.l + h.b)) // 10
                  AS lnew
              FROM hw h JOIN idx i ON i.rn = h.rn + 1) t)
        SELECT ym, cents, l AS level_micro, b AS trend_micro,
          sl[12] AS season_micro, fit AS fitted_micro
        FROM hw WHERE rn > 12 ORDER BY ym"""),
      "Holt-Winters additive: level+trend+12-slot seasonal state, one recursive CTE")
  )
}
