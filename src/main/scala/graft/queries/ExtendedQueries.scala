package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftglue.GraftGlue

import graft.Tables
import graft.functions.{Aggregators, TextFunctions}
import graft.operators.Relational

/** Capability-widening suite beyond the reference's own operator surface
  * (SURVEY.md §2.6/§2.7 extensions): pivot/unpivot reshaping, the full
  * window-function family, grouped quantiles, an end-to-end typed UDAF,
  * and correlation/regression aggregates. Every query is DuckDB-oracled.
  *
  * Scale notes: pivot compiles to one hash aggregate with a fixed column
  * fan-out (values are declared, so no driver-side distinct scan);
  * unpivot is a narrow row-expansion (no shuffle of its own); windows
  * partition by their group key — no global ordering is ever required.
  */
object ExtendedQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** q70's statement — runs unchanged on Spark SQL and DuckDB. Declared
    * before `all`, which captures it during object initialization. The
    * cent sum casts to DOUBLE before dividing: Spark SQL types the
    * literal 100.0 as DECIMAL where DuckDB types it DOUBLE, so dividing
    * an integer by it would produce different result types per engine;
    * DOUBLE/literal divides identically (and the sum is far below 2^53,
    * so the cast is exact). */
  private val SharedSql: String =
    """SELECT n_name, count(*) AS n_items,
      CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY revenue DESC, n_name
      LIMIT 10"""

  val all: Seq[(String, Q)] = Seq(

    // ---------------------------------------------------------------- pivot
    // groupBy().pivot(values declared).count(): declaring the pivot values
    // keeps the plan a single pass (Spark otherwise runs a distinct scan
    // on the driver first — a scale anti-pattern). Missing combos -> 0 to
    // match the SQL conditional-count form.
    "q56_pivot" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .groupBy($"o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .count()
          .select($"o_orderpriority",
            coalesce($"F", lit(0L)).as("F"),
            coalesce($"O", lit(0L)).as("O"),
            coalesce($"P", lit(0L)).as("P"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
        count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
        count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      "pivot (declared values, single-pass) order status x priority"),

    // -------------------------------------------------------------- unpivot
    // Dataset.unpivot (melt): wide money columns -> long (component, v)
    // rows, then a component-wise exact aggregate. The expansion is
    // narrow; the aggregate is the only shuffle.
    "q57_unpivot" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem")
          .unpivot(
            Array.empty[org.apache.spark.sql.Column],
            Array($"l_extendedprice", $"l_discount", $"l_tax"),
            "component", "v")
          .groupBy($"component")
          .agg(count(lit(1)).as("n"),
               (sum(round($"v" * 100).cast("long")) / 100.0).as("sum_v"))
          .orderBy($"component")
      },
      Some("""SELECT component, count(*) AS n,
          CAST(sum(CAST(round(v*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_v
        FROM (
          SELECT 'l_extendedprice' AS component, l_extendedprice AS v FROM lineitem
          UNION ALL SELECT 'l_discount', l_discount FROM lineitem
          UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        GROUP BY component ORDER BY component"""),
      "unpivot/melt wide money columns to long form + exact sums"),

    // ------------------------------------------------------- window family
    // The §2.6 window-function family in one partitioned pass:
    // row_number / lead / ntile / percent_rank / cume_dist share a single
    // (segment, balance desc) window — one shuffle + one sort, no global
    // ordering. Bounded id range keeps the output row count fixed.
    "q58_window_family" -> Q(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"c_acctbal".desc, $"c_custkey".asc)
        t(s, d, "customer")
          .filter($"c_custkey" <= 200)
          .select($"c_mktsegment", $"c_custkey",
            round($"c_acctbal", 2).as("bal"),
            row_number().over(w).as("rn"),
            round(lead($"c_acctbal", 1).over(w), 2).as("next_bal"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cum_dist"))
          .orderBy($"c_mktsegment", $"rn")
      },
      Some("""SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS bal,
          row_number() OVER w AS rn,
          round(lead(c_acctbal, 1) OVER w, 2) AS next_bal,
          ntile(4) OVER w AS quartile,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cum_dist
        FROM customer WHERE c_custkey <= 200
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        ORDER BY c_mktsegment, rn"""),
      "window family: row_number/lead/ntile/percent_rank/cume_dist"),

    // ----------------------------------------------------- grouped quantiles
    // Exact interpolated quantiles PER GROUP via the built-in percentile
    // aggregate (buffer-per-group: fine when group value counts fit an
    // executor; the histogram path in Relational.exactQuantilesQuantized
    // is the unbounded-scale alternative).
    "q59_grouped_quantiles" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            percentile($"o_totalprice", array(lit(0.5), lit(0.9))).as("qs"))
          .select($"o_orderpriority", $"n",
            round(element_at($"qs", 1), 6).as("median"),
            round(element_at($"qs", 2), 6).as("p90"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
          round(quantile_cont(o_totalprice, 0.5), 6) AS median,
          round(quantile_cont(o_totalprice, 0.9), 6) AS p90
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      "grouped exact quantiles (median, p90) per order priority"),

    // ------------------------------------------------------------ typed UDAF
    // The §2.7 UDAF surface end-to-end in the oracled suite: a custom
    // Aggregator (quantity-weighted mean price) applied as an untyped
    // column aggregate via functions.udaf. Long-integer running sums make
    // the result associative — bit-identical under any partitioning, and
    // recomputable by the oracle from the same integer arithmetic.
    "q60_udaf_weighted_mean" -> Q(
      (s, d) => {
        import s.implicits._
        val wmean = udaf(Aggregators.WeightedCentsMean)
        t(s, d, "lineitem")
          .groupBy($"l_returnflag")
          .agg(wmean(round($"l_extendedprice" * 100).cast("long"),
                     round($"l_quantity").cast("long")).as("w_avg_price"))
          .select($"l_returnflag", round($"w_avg_price", 6).as("w_avg_price"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
          round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                       * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
            / CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / 100.0,
            6) AS w_avg_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      "custom typed Aggregator as column UDAF: weighted mean, exact"),

    // --------------------------------------------- correlation / regression
    // Bivariate statistics as single-pass co-moment aggregates (corr,
    // covariance, OLS slope/intercept/r2) — all map-side combinable.
    // Rounded at scales where cross-engine summation-order noise is
    // orders of magnitude below the rounding step.
    "q61_corr_regression" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "lineitem").agg(
          round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qp"),
          round(covar_samp($"l_quantity", $"l_extendedprice"), 3).as("covar_qp"),
          round(regr_slope($"l_extendedprice", $"l_quantity"), 3).as("slope"),
          round(regr_intercept($"l_extendedprice", $"l_quantity"), 3).as("intercept"),
          round(regr_r2($"l_extendedprice", $"l_quantity"), 6).as("r2"))
      },
      Some("""SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
          round(covar_samp(l_quantity, l_extendedprice), 3) AS covar_qp,
          round(regr_slope(l_extendedprice, l_quantity), 3) AS slope,
          round(regr_intercept(l_extendedprice, l_quantity), 3) AS intercept,
          round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        FROM lineitem"""),
      "corr / covariance / OLS regression aggregates in one pass"),

    // -------------------------------------------------------------- regex ops
    // Regex capability over documents (the reference uses none; corpus
    // mining needs them): match predicate, guarded first-match extract,
    // pattern counting. Patterns stay in the RE2-safe subset so the Java
    // and RE2 engines agree.
    "q62_regex_extract" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .filter($"doc_id" < 50)
          .select($"doc_id",
            $"text".rlike("[0-9]").cast("int").as("has_digit"),
            when($"text".rlike("[0-9]+"),
              regexp_extract($"text", "([0-9]+)", 1)).as("first_num"),
            regexp_count(lower($"text"), lit("[a-z]+")).as("n_alpha_runs"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
          CAST(regexp_matches(text, '[0-9]') AS INTEGER) AS has_digit,
          CASE WHEN regexp_matches(text, '[0-9]+')
               THEN regexp_extract(text, '([0-9]+)', 1) END AS first_num,
          CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INTEGER) AS n_alpha_runs
        FROM documents WHERE doc_id < 50 ORDER BY doc_id"""),
      "regex predicate / guarded extract / pattern count"),

    // ------------------------------------------------------ vocabulary stats
    // Corpus vocabulary: term frequency + document frequency in one
    // explode + hash aggregate — the canonical long-form text layout. At
    // 100 TB the shuffle is bounded by the vocabulary (map-side combine
    // collapses per-partition duplicates), not the token count.
    "q63_vocab_topk" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id", explode(TextFunctions.words($"text")).as("w"))
          .groupBy($"w")
          .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
          .orderBy($"tf".desc, $"w".asc)
          .limit(20)
      },
      Some("""SELECT w, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY w ORDER BY tf DESC, w LIMIT 20"""),
      "corpus vocabulary: term + document frequency, top-20"),

    // -------------------------------------------------------- bigram counts
    // Language-model-style n-gram counts (all occurrences, not the
    // distinct shingle sets the dedup path uses). Bigrams come from
    // arrays_zip of two shifted slices — codegen'd collection ops, not a
    // higher-order transform (HOF lambdas evaluate interpreted and
    // dominate this query's runtime).
    "q64_bigram_topk" -> Q(
      (s, d) => {
        import s.implicits._
        val ws = TextFunctions.words($"text")
        t(s, d, "documents")
          // single-row-group fixture scan -> spread the bigram build
          .transform(Relational.spread(_, $"doc_id"))
          .select(explode(arrays_zip(
            slice(ws, lit(1), size(ws) - 1),
            slice(ws, lit(2), size(ws) - 1))).as("z"))
          .select(concat_ws(" ", $"z.0", $"z.1").as("bigram"))
          .groupBy($"bigram")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"bigram".asc)
          .limit(20)
      },
      Some("""SELECT bigram, count(*) AS n
        FROM (SELECT unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i+1])) AS bigram
              FROM (SELECT string_split(lower(text), ' ') AS ws FROM documents))
        GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"""),
      "bigram counts over the corpus, top-20"),

    // --------------------------------------------------- embedding centroids
    // Per-label centroid statistics over the embedding column in long
    // form: posexplode to (label, dim, value), average per cell, reduce to
    // the centroid norm. The long-form layout is the scalable shape for
    // embedding analytics — the shuffle carries (labels × dims) cells,
    // never the vectors.
    "q65_embed_centroids" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "embeddings")
          .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
          .groupBy($"label", $"dim")
          .agg(avg($"x".cast("double")).as("c"), count(lit(1)).as("n"))
          .groupBy($"label")
          .agg(max($"n").as("n_vectors"),
               round(sqrt(sum($"c" * $"c")), 6).as("centroid_norm"))
          .orderBy($"label")
      },
      Some("""SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
          round(sqrt(sum(c * c)), 6) AS centroid_norm
        FROM (SELECT label, pos, avg(CAST(x AS DOUBLE)) AS c, count(*) AS n
              FROM (SELECT label, unnest(embedding) AS x,
                           generate_subscripts(embedding, 1) AS pos
                    FROM embeddings)
              GROUP BY label, pos)
        GROUP BY label ORDER BY label"""),
      "per-label embedding centroid norms via long-form explode"),

    // ------------------------------------------------------- quality filter
    // The canonical corpus-curation composition: score -> threshold ->
    // survivor stats per language. Pure narrow projections into one hash
    // aggregate; the filter thresholds are the tunable curation policy.
    "q66_quality_filter" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"lang", $"doc_id",
            TextFunctions.wordCount($"text").as("n_words"),
            TextFunctions.alphaRatio($"text").as("alpha"))
          .filter($"n_words".between(20, 200) && $"alpha" >= 0.6)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_kept"),
               round(avg($"n_words"), 6).as("avg_words"))
          .orderBy($"lang")
      },
      Some("""SELECT lang, count(*) AS n_kept,
          round(avg(n_words), 6) AS avg_words
        FROM (SELECT lang,
                CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_words,
                CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                    / length(text) END AS alpha
              FROM documents)
        WHERE n_words BETWEEN 20 AND 200 AND alpha >= 0.6
        GROUP BY lang ORDER BY lang"""),
      "corpus curation: quality thresholds -> survivor stats per lang"),

    // -------------------------------------------------- contamination check
    // Benchmark-contamination scan: normalized-fingerprint semi-join of
    // the corpus against a (small, broadcast) benchmark set — at 100 TB
    // the benchmark side is the broadcast build side and the corpus
    // streams. Fingerprinting (sorted distinct token set) catches
    // reordered/duplicated-word copies that byte hashing misses; here the
    // "benchmark" is the corpus's first docs, so the planted permuted
    // near-dups of them are the expected hits.
    "q67_contamination" -> Q(
      (s, d) => {
        import s.implicits._
        val docsT = t(s, d, "documents")
        val bench = docsT.filter($"doc_id" < 100)
          .select(TextFunctions.fingerprint($"text").as("bench_hash"),
                  $"doc_id".as("bench_id"))
        docsT.filter($"doc_id" >= 100)
          .select($"doc_id", TextFunctions.fingerprint($"text").as("h"))
          .join(broadcast(bench), $"h" === $"bench_hash")
          .select($"doc_id", $"bench_id")
          .orderBy($"doc_id", $"bench_id")
      },
      Some("""WITH fp AS (SELECT doc_id, md5(array_to_string(list_sort(
            list_distinct(string_split(lower(text), ' '))), ' ')) AS h
          FROM documents)
        SELECT c.doc_id AS doc_id, b.doc_id AS bench_id
        FROM (SELECT * FROM fp WHERE doc_id >= 100) c
        JOIN (SELECT * FROM fp WHERE doc_id < 100) b ON c.h = b.h
        ORDER BY c.doc_id, bench_id"""),
      "benchmark contamination: fingerprint hits against a broadcast set"),

    // ------------------------------------------------------ dedup keepers
    // Keep-first dedup policy surfaced as a query: min id per content
    // FINGERPRINT (order-invariant token-set hash — the corpus plants
    // permuted near-dups, which byte hashing misses), duplicated content
    // only. The companion to q40's corpus-level stats.
    "q68_dedup_keepers" -> Q(
      (s, d) => {
        import s.implicits._
        graft.operators.Dedup.keepers(t(s, d, "documents"), "doc_id",
            TextFunctions.fingerprint($"text"))
          .filter($"n_copies" > 1)
          .orderBy($"keeper_id")
      },
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(
            string_split(lower(text), ' '))), ' ')) AS content_hash,
          min(doc_id) AS keeper_id, count(*) AS n_copies
        FROM documents GROUP BY content_hash
        HAVING count(*) > 1 ORDER BY keeper_id"""),
      "fingerprint-dedup keeper selection (min id per token-set hash)"),

    // ------------------------------------------------- rolling RANGE frame
    // Rolling 7-day revenue per order day via a RANGE frame over a day
    // index — the frame-specification face of §2.6 (rowsBetween/
    // rangeBetween), plus first_value/last_value over the same frame.
    // One partitioned-by-nothing window over the tiny daily aggregate
    // (the 600k-row table reduces to ~2400 day rows first), so the
    // global-order sort never touches the raw data.
    "q69_rolling_range_window" -> Q(
      (s, d) => {
        import s.implicits._
        val daily = t(s, d, "orders")
          .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date")).as("day_idx"))
          .agg((sum(round($"o_totalprice" * 100).cast("long")) / 100.0).as("revenue"))
        val w = Window.orderBy($"day_idx").rangeBetween(-6, 0)
        daily.select(
            $"day_idx", $"revenue",
            round(sum($"revenue").over(w), 2).as("rev_7d"),
            round(first_value($"revenue").over(w), 2).as("rev_7d_first"),
            round(last_value($"revenue").over(w), 2).as("rev_7d_last"))
          .filter($"day_idx" < 60)
          .orderBy($"day_idx")
      },
      Some("""WITH daily AS (SELECT
            datediff('day', DATE '1995-01-01', o_orderdate) AS day_idx,
            CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS revenue
          FROM orders GROUP BY day_idx)
        SELECT day_idx, revenue,
          round(sum(revenue) OVER w, 2) AS rev_7d,
          round(first_value(revenue) OVER w, 2) AS rev_7d_first,
          round(last_value(revenue) OVER w, 2) AS rev_7d_last
        FROM daily
        WINDOW w AS (ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        QUALIFY day_idx < 60 ORDER BY day_idx"""),
      "rolling 7-day RANGE frame + first/last_value over daily revenue"),

    // ----------------------------------------------------- spark.sql surface
    // The SQL entry point: tables registered as temp views, ONE ANSI
    // statement shared VERBATIM with the DuckDB oracle (cent-quantized
    // sum keeps the arithmetic engine-agnostic). Catalyst plans it like
    // the DataFrame form — broadcast dims, partial+final aggregation.
    "q70_sql_interface" -> Q(
      (s, d) => {
        Seq("lineitem", "supplier", "nation").foreach { n =>
          Tables(s, d, n).createOrReplaceTempView(n)
        }
        s.sql(SharedSql)
      },
      Some(SharedSql),
      "spark.sql over temp views; one statement shared with the oracle"),

    // ------------------------------------------------------------- TF-IDF
    // Per-document top-3 terms by tf·idf — the canonical corpus term-
    // weighting op. Three hash aggregates (term frequency per doc,
    // document frequency, corpus size) joined long-form; df is a
    // vocabulary-sized table, broadcast when small, shuffled when not.
    // Ranking tie-breaks on the word, so equal scores (same tf, same df)
    // order identically on both engines; unequal scores differ by far
    // more than cross-engine log() ulp noise.
    "q71_tfidf" -> Q(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docsT = t(s, d, "documents")
        val toks = docsT.select($"doc_id", explode(TextFunctions.words($"text")).as("w"))
        val tf = toks.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
        val df = toks.select($"doc_id", $"w").distinct()
          .groupBy($"w").agg(count(lit(1)).as("df"))
        val n = docsT.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(df, "w").crossJoin(broadcast(n))
          .withColumn("tfidf",
            $"tf" * log(($"n_docs" + 1).cast("double") / ($"df" + 1)))
        val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"w".asc)
        scored.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3 && $"doc_id" < 30)
          .select($"doc_id", $"rank", $"w", round($"tfidf", 6).as("tfidf"))
          .orderBy($"doc_id", $"rank")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
        df AS (SELECT w, count(*) AS df FROM
          (SELECT DISTINCT doc_id, w FROM toks) GROUP BY w),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (SELECT doc_id, tf.w AS w,
            tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS tfidf
          FROM tf JOIN df ON tf.w = df.w CROSS JOIN n)
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, w, round(tfidf, 6) AS tfidf
        FROM (SELECT doc_id, w, tfidf, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rank
          FROM scored)
        WHERE rank <= 3 AND doc_id < 30 ORDER BY doc_id, rank"""),
      "per-document top-3 TF-IDF terms over the corpus"),

    // ----------------------------------------------- unigram LM scoring
    // Perplexity-proxy quality score: average negative log-probability of
    // each doc's tokens under the corpus unigram LM — the classic cheap
    // filter for LLM training data (gibberish scores high, boilerplate
    // low). Two hash aggregates (vocabulary counts, corpus total) + one
    // join back to the token stream; the vocabulary join shuffles on the
    // word, the one-row total travels by broadcast. No driver collects,
    // so the plan survives a vocabulary that doesn't fit on one node.
    // ln() ulp noise across engines is absorbed by round-6 after the avg
    // (q71 precedent).
    "q72_unigram_logprob" -> Q(
      (s, d) => {
        import s.implicits._
        val toks = t(s, d, "documents")
          .select($"doc_id", explode(TextFunctions.words($"text")).as("w"))
        val vocab = toks.groupBy($"w").agg(count(lit(1)).as("cnt"))
        val tot = toks.agg(count(lit(1)).as("tot"))
        toks.join(vocab, "w").crossJoin(broadcast(tot))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               round(avg(-log($"cnt".cast("double") / $"tot")), 6).as("avg_neg_logp"))
          .filter($"doc_id" < 100)
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents),
        vocab AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
        tot AS (SELECT count(*) AS tot FROM toks)
        SELECT doc_id, count(*) AS n_tokens,
          round(avg(-ln(CAST(cnt AS DOUBLE) / tot)), 6) AS avg_neg_logp
        FROM toks JOIN vocab USING (w) CROSS JOIN tot
        WHERE doc_id < 100
        GROUP BY doc_id ORDER BY doc_id"""),
      "corpus unigram-LM negative log-prob per doc (perplexity-proxy quality score)"),

    // ------------------------------------------- deterministic sampling
    // Stratified reproducible sampling via salted content-key hashing
    // ([[graft.operators.Relational.hashSample]]): the keep decision is a
    // pure function of (salt, doc_id), so the same subset falls out on
    // any engine, any run, any cluster layout — rand()-free, map-only,
    // no seed plumbing. Reported per stratum to show rate concentration.
    "q73_stratified_sample" -> Q(
      (s, d) => {
        import s.implicits._
        val sampled = graft.operators.Relational.hashSample(
          t(s, d, "documents"), $"doc_id", "smp", 100)
        t(s, d, "documents").groupBy($"source").agg(count(lit(1)).as("n_total"))
          .join(sampled.groupBy($"source").agg(count(lit(1)).as("n_kept")),
            Seq("source"), "left")
          .select($"source", $"n_total",
            coalesce($"n_kept", lit(0L)).as("n_kept"),
            round(coalesce($"n_kept", lit(0L)).cast("double") / $"n_total", 6)
              .as("rate"))
          .orderBy($"source")
      },
      Some("""WITH kept AS (SELECT source, count(*) AS n_kept FROM documents
          WHERE CAST('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 1000 < 100
          GROUP BY source)
        SELECT source, count(*) AS n_total,
          COALESCE(any_value(n_kept), 0) AS n_kept,
          round(CAST(COALESCE(any_value(n_kept), 0) AS DOUBLE) / count(*), 6) AS rate
        FROM documents LEFT JOIN kept USING (source)
        GROUP BY source ORDER BY source"""),
      "deterministic salted-hash stratified sample (reproducible, engine-independent)"),

    // --------------------------------------------- data-mixture weights
    // Multilingual sampling-weight computation (the XLM-R / mC4 recipe):
    // per (source × lang) token counts → corpus share → temperature-
    // scaled weight share^α / Σ share^α with α = 0.3, which upsamples
    // tail groups relative to their raw share. One hash aggregate over
    // the corpus (shuffle = |groups|), then unpartitioned windows over
    // the ~|sources×langs|-row aggregate only — the raw data is never
    // globally sorted. pow() may differ by an ulp across libm
    // implementations; round-6 sits far above that noise.
    "q79_mixture_weights" -> Q(
      (s, d) => {
        import s.implicits._
        val g = t(s, d, "documents")
          .groupBy($"source", $"lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(TextFunctions.wordCount($"text")).as("n_tokens"))
        val all = Window.partitionBy()
        g.withColumn("share", $"n_tokens".cast("double") / sum($"n_tokens").over(all))
          .withColumn("w_raw", pow($"share", 0.3))
          .select($"source", $"lang", $"n_docs", $"n_tokens",
            round($"share", 6).as("share"),
            round($"w_raw" / sum($"w_raw").over(all), 6).as("weight"))
          .orderBy($"source", $"lang")
      },
      Some("""WITH g AS (SELECT source, lang, count(*) AS n_docs,
            CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source, lang),
        w AS (SELECT source, lang, n_docs, n_tokens,
            CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share
          FROM g)
        SELECT source, lang, n_docs, n_tokens, round(share, 6) AS share,
          round(power(share, 0.3) / sum(power(share, 0.3)) OVER (), 6) AS weight
        FROM w ORDER BY source, lang"""),
      "temperature-scaled data-mixture sampling weights per source x lang"),

    // -------------------------------------- n-gram decontamination scan
    // Benchmark decontamination the way LM pipelines actually do it
    // (GPT-3 appendix C / open-data replications): flag corpus docs
    // sharing any word-8-gram with the benchmark set, scored by overlap
    // fraction. q67's fingerprint check only catches whole-doc token-set
    // copies; the shingle join catches partial containment. The
    // benchmark shingle set is DISTINCT + broadcast (benchmarks are
    // small by nature); the corpus side is one explode + broadcast-hash
    // join + per-doc count — no shuffle of the corpus at all.
    "q82_ngram_decontamination" -> Q(
      (s, d) => {
        import s.implicits._
        val ws = TextFunctions.words($"text")
        // 8-grams via arrays_zip of 8 shifted slices — codegen'd collection
        // ops, not an interpreted HOF lambda (q64 precedent; measured ~2×
        // on this query). Docs shorter than the shingle width are excluded
        // on BOTH engines (they cannot be 8-gram-checked).
        val sh = t(s, d, "documents")
          .filter(size(ws) >= 8)
          .transform(Relational.spread(_, $"doc_id")) // spread the zip
          .select($"doc_id", explode(arrays_zip(
            (0 until 8).map(i => slice(ws, lit(i + 1), size(ws) - 7)): _*)).as("z"))
          .select($"doc_id",
            concat_ws(" ", (0 until 8).map(i => col(s"z.$i")): _*).as("sh"))
          .distinct()
          // three consumers (bench set, join probe, per-doc sizes) would
          // each recompute the explode+distinct — materialize it once
          .transform(GraftGlue.materialize(_))
        val bench = sh.filter($"doc_id" < 50).select($"sh").distinct()
        val corpusSh = sh.filter($"doc_id" >= 50)
        corpusSh.join(broadcast(bench), "sh")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
          .join(corpusSh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles")),
            "doc_id")
          .select($"doc_id", $"n_shared", $"n_shingles",
            round($"n_shared".cast("double") / $"n_shingles", 6).as("overlap"))
          .orderBy($"doc_id")
      },
      Some("""WITH sh AS (SELECT DISTINCT doc_id,
            unnest(list_transform(range(1, len(ws) - 6),
              i -> array_to_string(ws[i:i+7], ' '))) AS sh
          FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents)
          WHERE len(ws) >= 8),
        bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50),
        sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh
          WHERE doc_id >= 50 GROUP BY doc_id),
        shared AS (SELECT s.doc_id, count(*) AS n_shared
          FROM sh s JOIN bench b USING (sh) WHERE s.doc_id >= 50 GROUP BY s.doc_id)
        SELECT doc_id, n_shared, n_shingles,
          round(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS overlap
        FROM shared JOIN sizes USING (doc_id) ORDER BY doc_id"""),
      "benchmark decontamination by word-8-gram overlap against a broadcast set"),

    // --------------------------------------- token-budget head selection
    // "Take the best documents until N tokens" — the selection step of
    // quality-filtered pretraining mixes (DSIR-style top-k by score).
    // [[graft.operators.Selection.headByScoreBudget]] does it without a
    // global sort: cumulative window over the DISTINCT-score histogram
    // finds the cut score + residual budget, rows above the cut stream
    // through a broadcast filter, and only the cut bucket runs a per-row
    // cumulative window. Greedy rule (score DESC, doc_id ASC, keep the
    // crossing doc) is deterministic, so the selected set hash-matches
    // the oracle's window-based reformulation exactly.
    "q83_token_budget_head" -> Q(
      (s, d) => {
        import s.implicits._
        val scored = t(s, d, "documents").select($"doc_id",
          TextFunctions.wordCount($"text").as("n_tokens"),
          round(TextFunctions.stopwordRatio($"text",
            Seq("the", "a", "of", "and")), 6).as("score"))
        graft.operators.Selection
          .headByScoreBudget(scored, $"score", $"n_tokens", $"doc_id", 5000L)
          .orderBy($"score".desc, $"doc_id")
      },
      Some("""WITH scored AS (SELECT doc_id,
            CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
            round(CAST(len(list_filter(string_split(lower(text), ' '),
                w -> w IN ('the','a','of','and'))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 6) AS score
          FROM documents),
        bys AS (SELECT score, CAST(sum(n_tokens) AS BIGINT) AS tok
          FROM scored GROUP BY score),
        cum AS (SELECT score, tok,
            CAST(sum(tok) OVER (ORDER BY score DESC) AS BIGINT) AS cum FROM bys),
        cut AS (SELECT
            max(CASE WHEN cum - tok < 5000 AND cum >= 5000 THEN score END) AS cut_s,
            max(CASE WHEN cum - tok < 5000 AND cum >= 5000
              THEN 5000 - (cum - tok) END) AS cut_budget
          FROM cum),
        above AS (SELECT doc_id, n_tokens, score FROM scored, cut
          WHERE cut_s IS NULL OR score > cut_s),
        atcut AS (SELECT doc_id, n_tokens, score FROM (
            SELECT doc_id, n_tokens, score, cut_budget,
              CAST(sum(n_tokens) OVER (PARTITION BY score ORDER BY doc_id)
                AS BIGINT) AS dcum
            FROM scored, cut WHERE score = cut_s)
          WHERE dcum - n_tokens < cut_budget)
        SELECT doc_id, n_tokens, score
        FROM (SELECT * FROM above UNION ALL SELECT * FROM atcut)
        ORDER BY score DESC, doc_id"""),
      "quality-ordered head-of-corpus selection under a token budget, sort-free"),

    // --------------------------------------------------- skew-salted join
    // A planted-hot-key join: ~80% of orders hash to customer 1, the
    // reducer-stall shape AQE's skew split targets for sort-merge joins.
    // Relational.saltedJoinAdaptive derives per-key replication from a
    // probe-side key-count aggregate: the hot key spreads over
    // ceil(cnt/target) replicas so no single task owns it, while cold
    // keys join UNSALTED (no build amplification where none is needed);
    // the joined multiset — and hence this aggregate — is identical to
    // the plain join, which is exactly what the oracle checks. (customer
    // is broadcastable at bench SF; the operator's target is the
    // large-large hash-join regime where neither side broadcasts —
    // ScalePostureSpec pins the spread + no-cold-replication properties.)
    "q90_salted_skew_join" -> Q(
      (s, d) => {
        import s.implicits._
        val probe = t(s, d, "orders").select(
          when(pmod($"o_orderkey", lit(5)) > 0, 1)
            .otherwise(pmod($"o_orderkey", lit(1000)) + 1).as("cust_hot"),
          $"o_totalprice")
        graft.operators.Relational.saltedJoinAdaptive(
            probe, t(s, d, "customer"), "cust_hot", "c_custkey",
            targetPerReplica = 2000)
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            (graft.operators.Relational.centsSum($"o_totalprice").cast("double") / 100.0)
              .as("revenue"))
          .orderBy($"c_mktsegment")
      },
      Some("""WITH probe AS (SELECT
          CASE WHEN o_orderkey % 5 > 0 THEN 1 ELSE o_orderkey % 1000 + 1 END AS cust_hot,
          o_totalprice FROM orders)
        SELECT c_mktsegment, count(*) AS n_orders,
          CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        FROM probe JOIN customer ON cust_hot = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      "skew-salted equi-join on a planted 80%-hot key, aggregate-verified"),

    // ------------------------------------------- incremental upsert merge
    // The streaming upsert sink's merge step, batch-checked: fold the
    // change log in two micro-batches (even event_ids, then odd) through
    // the same rank-1-window merge upsertLatestWriter runs per batch,
    // while the ORACLE compacts the whole log in one shot. Hash equality
    // proves the incremental fold is arrival-order-independent — folding
    // a snapshot with the next batch can never regress a key — which is
    // the correctness claim the streaming sink rests on.
    "q91_upsert_incremental" -> Q(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
        def latest(df: DataFrame): DataFrame =
          df.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
        val ev = t(s, d, "events").filter($"user_id" < 40)
          .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
        val snap1 = latest(ev.filter(pmod($"event_id", lit(2)) === 0))
        latest(snap1.unionByName(ev.filter(pmod($"event_id", lit(2)) === 1)))
          .select($"user_id", unix_timestamp($"ts").as("last_epoch"),
            $"event_type".as("last_type"), round($"value", 2).as("last_value"))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS last_epoch,
          event_type AS last_type, round(value, 2) AS last_value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1 AND user_id < 40 ORDER BY user_id"""),
      "two-batch incremental upsert fold == one-shot log compaction"),

    // ------------------------------------------------------ offset slice
    // P9: pandas iloc[offset:offset+n] as a named op. The sort-limit
    // bounds the unpartitioned rank window to offset+n rows; the date
    // renders as a yyyymmdd int to keep the compare timestamp-type-free.
    "q92_slice_by_offset" -> Q(
      (s, d) => {
        import s.implicits._
        graft.operators.Relational.sliceByOffset(
            t(s, d, "orders").select($"o_orderkey", $"o_orderdate"),
            Seq($"o_orderdate".asc, $"o_orderkey".asc), offset = 100, n = 50)
          .select($"o_orderkey",
            (year($"o_orderdate") * 10000 + month($"o_orderdate") * 100 +
              dayofmonth($"o_orderdate")).as("order_ymd"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
          CAST(year(o_orderdate)*10000 + month(o_orderdate)*100
            + day(o_orderdate) AS INTEGER) AS order_ymd
        FROM (SELECT o_orderkey, o_orderdate FROM orders
          ORDER BY o_orderdate, o_orderkey LIMIT 50 OFFSET 100)
        ORDER BY o_orderkey"""),
      "offset slice of an explicit total order (pandas iloc parity)"),

    // ------------------------------------------- partition-pruned layout
    // The first scale lever at 100 TB is LAYOUT: orders hive-partitioned
    // by month ([[graft.io.Sources.materializePartitioned]]), then read
    // back under a month predicate that Catalyst turns into a
    // PartitionFilter — whole directories are pruned before a single
    // file is listed or opened, so the month query touches 1/|months| of
    // the store regardless of total size. The layout is materialized
    // once per testdata generation (keyed on the source file's mtime)
    // and reused; results are oracle-checked against the unpartitioned
    // original, and ScalePostureSpec pins the plan evidence (the
    // PartitionFilters entry + exactly one partition listed).
    "q94_partition_pruned" -> Q(
      (s, d) => {
        import s.implicits._
        val layout = Store.key(d, Seq("orders"), "orders_by_month")
        val pruned = graft.io.Sources.materializePartitioned(s,
            t(s, d, "orders")
              .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM")),
            layout, Seq("o_month"))
          .filter($"o_month" === "1995-03")
        pruned.groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            graft.operators.Relational.moneySum($"o_totalprice").as("revenue"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
          CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      "partition-pruned scan: a month predicate prunes hive layout dirs"),

    // -------------------------------------- date-pruned events layout
    // q94's layout lever on the SECOND fact table: events (the
    // streaming-shaped one) hive-partitioned by event DAY — the natural
    // key for an append-only event store, where every ingest lands in
    // the open day and time-ranged queries prune everything else. Same
    // materialize-once machinery; the one-day predicate lists 1/|days|
    // of the store no matter how large it grows (ScalePostureSpec pins
    // the single-dir listing for the day layout too).
    "q171_events_pruned" -> Q(
      (s, d) => {
        import s.implicits._
        val layout = Store.key(d, Seq("events"), "events_by_day")
        val pruned = graft.io.Sources.materializePartitioned(s,
            t(s, d, "events")
              .withColumn("e_day", date_format($"ts", "yyyy-MM-dd")),
            layout, Seq("e_day"))
          .filter($"e_day" === "2024-01-15")
        pruned.groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct($"user_id").as("n_users"),
            sum(round($"value" * 100).cast("long")).as("value_cents"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n_events,
          count(DISTINCT user_id) AS n_users,
          CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15'
        GROUP BY event_type ORDER BY event_type"""),
      "date-pruned events scan: the layout lever on the second fact table"),

    // ----------------------------------------- JSON-lines source (S-family)
    // The file face of the Kafka-message shape: a lineitem slice
    // materialized as JSONL once (mtime-keyed, like the q94/q171
    // layouts), read back through Sources.jsonLines under the SOURCE
    // schema (schema-on-read discipline — no inference pass over the
    // store), aggregated, and oracled against the parquet original. The
    // compare therefore pins JSON round-trip fidelity end to end:
    // doubles print/parse losslessly (Jackson shortest-repr), dates
    // render ISO and parse back under DateType.
    "q173_jsonl_roundtrip" -> Q(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "lineitem")
          .filter($"l_orderkey" < 1000)
          .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
            $"l_quantity", $"l_extendedprice", $"l_shipdate")
        val layout = Store.dir(s, d, Seq("lineitem"), "lineitem_jsonl") { tmp =>
          base.write.mode("overwrite").json(tmp)
        }
        graft.io.Sources.jsonLines(s, layout, base.schema)
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sum($"l_quantity").cast("long").as("sum_qty"),
            graft.operators.Relational.moneySum($"l_extendedprice").as("revenue"),
            (year(min($"l_shipdate")) * 10000 + month(min($"l_shipdate")) * 100 +
              dayofmonth(min($"l_shipdate"))).as("first_ship_ymd"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_items,
          CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
          CAST(year(min(l_shipdate))*10000 + month(min(l_shipdate))*100
            + day(min(l_shipdate)) AS INTEGER) AS first_ship_ymd
        FROM lineitem WHERE l_orderkey < 1000
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      "JSON-lines source round-trip: write once, schema-on-read back, parquet-oracled"),

    // ------------------------------------------------ CSV source (S5/S6)
    // q173's discipline for the reference's OTHER text format (the
    // dimension/upload path, main.py:65-67): an orders slice written as
    // headered CSV once, read back through Sources.csv under the source
    // schema — never inferSchema, whose extra pass and type guesses
    // don't survive a 100 TB store — and oracled against the parquet
    // original. Pins CSV round-trip fidelity for doubles, dates and
    // strings (quoting) through the text path.
    "q174_csv_roundtrip" -> Q(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "orders")
          .filter($"o_orderkey" < 4000)
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
            $"o_orderdate", $"o_orderpriority")
        val layout = Store.dir(s, d, Seq("orders"), "orders_csv") { tmp =>
          base.write.mode("overwrite").option("header", "true").csv(tmp)
        }
        graft.io.Sources.csv(s, layout, base.schema)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            graft.operators.Relational.moneySum($"o_totalprice").as("revenue"),
            countDistinct($"o_orderpriority").as("n_priorities"),
            (year(max($"o_orderdate")) * 10000 + month(max($"o_orderdate")) * 100 +
              dayofmonth(max($"o_orderdate"))).as("last_order_ymd"))
          .orderBy($"o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
          CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
          count(DISTINCT o_orderpriority) AS n_priorities,
          CAST(year(max(o_orderdate))*10000 + month(max(o_orderdate))*100
            + day(max(o_orderdate)) AS INTEGER) AS last_order_ymd
        FROM orders WHERE o_orderkey < 4000
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      "CSV source round-trip: headered write once, schema-on-read back, parquet-oracled"),

    // ----------------------------------------- JDBC round-trip (S3/S4/K2/K3)
    // The reference's Postgres leg (sparkConsumer.py:147-154 write,
    // sparkML.py:40-46 read) driven end to end against a REAL JDBC
    // engine — Derby embedded (in the Spark distribution) stands in for
    // the network DB. A lineitem slice goes through Sinks.jdbcAppend
    // (dialect CREATE TABLE on first write — the DDL-if-absent
    // contract), comes back through Sources.jdbc with a partitionColumn
    // so the scan fans out into parallel range queries (the reference
    // read was a single serial partition), and the aggregate is oracled
    // against the parquet original — so type mapping, value fidelity
    // (doubles, dates, strings) and the partitioned-read stride are all
    // hash-verified, not just unit-tested. The DB is materialized once
    // per testdata generation (mtime-keyed like the q94/q171 layouts).
    // Embedded Derby is single-JVM (fine under local[*]); production
    // swaps the URL for a network DB and the same plan splits the read
    // across executors.
    "q176_jdbc_roundtrip" -> Q(
      (s, d) => {
        import s.implicits._
        System.setProperty("derby.stream.error.file", "/tmp/derby.log")
        // ':' → '_': Derby reads a database path's text before a ':' as
        // a subsubprotocol name and cannot reopen such a database
        val dbDir = Store.key(d, Seq("lineitem"), "lineitem_derby").replace(':', '_')
        val url = s"jdbc:derby:$dbDir;create=true"
        val marker = s"$dbDir.loaded"
        if (!graft.io.Fs.exists(s, marker)) {
          graft.io.Sinks.jdbcAppend(
            t(s, d, "lineitem").filter($"l_orderkey" < 1000)
              .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
                $"l_quantity", $"l_extendedprice", $"l_shipdate"),
            url, "lineitem_slice", "app", "app")
          graft.io.Fs.touch(s, marker)
        }
        graft.io.Sources.jdbc(s, url, "lineitem_slice", "app", "app",
            partitionColumn = Some("l_orderkey"),
            lowerBound = 0L, upperBound = 1000L, numPartitions = 4)
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sum($"l_quantity").cast("long").as("sum_qty"),
            graft.operators.Relational.moneySum($"l_extendedprice").as("revenue"),
            (year(max($"l_shipdate")) * 10000 + month(max($"l_shipdate")) * 100 +
              dayofmonth(max($"l_shipdate"))).as("last_ship_ymd"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_items,
          CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
          CAST(year(max(l_shipdate))*10000 + month(max(l_shipdate))*100
            + day(max(l_shipdate)) AS INTEGER) AS last_ship_ymd
        FROM lineitem WHERE l_orderkey < 1000
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      "JDBC round-trip: dialect DDL write, partitioned read back, parquet-oracled"),

    // ------------------------------------------------- ORC round-trip
    // The other columnar format Spark ships natively: a part slice
    // written as snappy ORC once (mtime-keyed like q173/q174), read
    // back through Sources.orc under the source schema, aggregated and
    // oracled against the parquet original — pinning ORC round-trip
    // fidelity for longs, doubles and strings through the second
    // columnar path. (Avro has no connector jar in this distribution,
    // so ORC is the one additional columnar interchange format the
    // engine can certify end to end; DuckDB cannot read ORC, which is
    // exactly why the oracle compares against the parquet ORIGINAL —
    // the round trip itself is what's under test.)
    "q183_orc_roundtrip" -> Q(
      (s, d) => {
        import s.implicits._
        val base = t(s, d, "part")
          .filter($"p_size" <= 25)
          .select($"p_partkey", $"p_brand", $"p_type", $"p_size", $"p_retailprice")
        val layout = Store.dir(s, d, Seq("part"), "part_orc") { tmp =>
          base.write.mode("overwrite").orc(tmp)
        }
        graft.io.Sources.orc(s, layout, base.schema)
          .groupBy($"p_brand")
          .agg(count(lit(1)).as("n_parts"),
            countDistinct($"p_type").as("n_types"),
            sum($"p_size").cast("long").as("sum_size"),
            graft.operators.Relational.moneySum($"p_retailprice").as("retail_total"))
          .orderBy($"p_brand")
      },
      Some("""SELECT p_brand, count(*) AS n_parts,
          count(DISTINCT p_type) AS n_types,
          CAST(sum(p_size) AS BIGINT) AS sum_size,
          CAST(sum(CAST(round(p_retailprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS retail_total
        FROM part WHERE p_size <= 25
        GROUP BY p_brand ORDER BY p_brand"""),
      "ORC source round-trip: columnar write once, schema-on-read back, parquet-oracled"),

    // ------------------------------------------- schema evolution read
    // The lake reality at 100 TB: years of files written under DIFFERENT
    // schema versions sit in one table path, and a re-ingest is not an
    // option. Two order slices are written as generations v=1 (two
    // columns) and v=2 (adds o_orderstatus); the read unions them under
    // mergeSchema=true — old files surface the new column as NULL, the
    // generation dir becomes a partition column — and the aggregate
    // coalesces the evolution gap explicitly. The oracle replays the
    // same union with a NULL literal for the v1 slice, so null-fill
    // semantics (not just row counts) are hash-verified. mergeSchema
    // costs a footer read per file at planning; production amortizes it
    // by declaring the merged schema once (the schema-on-read
    // discipline) — the WRITE layout is what this query certifies.
    "q189_schema_evolution" -> Q(
      (s, d) => {
        import s.implicits._
        val layout = Store.dir(s, d, Seq("orders"), "orders_evolved") { tmp =>
          t(s, d, "orders").filter($"o_orderkey" < 2000)
            .select($"o_orderkey", $"o_totalprice")
            .write.mode("overwrite").parquet(s"$tmp/v=1")
          t(s, d, "orders")
            .filter($"o_orderkey" >= 2000 && $"o_orderkey" < 4000)
            .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
            .write.mode("overwrite").parquet(s"$tmp/v=2")
          // the generation writes mark their own subdirs; the store's
          // marker goes last, at the root
          graft.io.Fs.touch(s, s"$tmp/_SUCCESS")
        }
        s.read.option("mergeSchema", "true").parquet(layout)
          .groupBy(coalesce($"o_orderstatus", lit("pre-v2")).as("status"))
          .agg(count(lit(1)).as("n_orders"),
            countDistinct($"v").as("n_generations"),
            graft.operators.Relational.moneySum($"o_totalprice").as("revenue"))
          .orderBy($"status")
      },
      Some("""WITH m AS (
          SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus, 1 AS v
          FROM orders WHERE o_orderkey < 2000
          UNION ALL
          SELECT o_orderkey, o_totalprice, o_orderstatus, 2 AS v
          FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 4000)
        SELECT coalesce(o_orderstatus, 'pre-v2') AS status,
          count(*) AS n_orders,
          count(DISTINCT v) AS n_generations,
          CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        FROM m GROUP BY 1 ORDER BY status"""),
      "schema-evolution read: mergeSchema unions generations, null-fill verified")
  )
}
