package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

/** Distributed byte-pair-encoding merge training (Sennrich, Haddow &
  * Birch, "Neural Machine Translation of Rare Words with Subword Units",
  * ACL'16) — the tokenizer-training step of an LLM data pipeline.
  *
  * The industrial shape: aggregate the corpus to a (word, freq) table
  * ONCE — the only input-proportional shuffle — then iterate on the
  * vocabulary-sized state: each round counts adjacent symbol pairs
  * weighted by word frequency (one vocab-bounded hash aggregate), picks
  * the most frequent pair (count desc, then lexicographic — fully
  * deterministic), and merges it greedily left-to-right in every word.
  *
  * Merge trick: a word's symbol sequence is encoded as a double-bar
  * string (`||a||b||c||`), and the pair (x, y) merges via plain literal
  * `replace(state, '|x||y|', '|xy|')` — SQL's progressive left-to-right
  * non-overlapping replace IS the BPE greedy merge, including the
  * overlapping-run case (`aaa` + (a,a) → `aa a`, the second pair
  * survives un-merged exactly as BPE specifies), and the shared outer
  * bars keep back-to-back occurrences (`abab`) all matchable. Every
  * step is a deterministic string/integer operation, so the DuckDB
  * oracle ([[bpeOracleCtes]]) re-derives every round's merge choice and
  * pair count bit-for-bit.
  *
  * Symbols must not contain the bar separator: callers filter the
  * vocabulary (e.g. to `^[a-z0-9]+$`) up front.
  */
object Bpe {

  /** Initial state from a (word, freq) table: `||c1||c2||...||`. The
    * source word rides along so encoders can map back after merging. */
  def initialState(words: DataFrame, word: String, freq: String): DataFrame =
    words.select(
      col(word).as("word"),
      concat(lit("||"), array_join(split(col(word), ""), "||"), lit("||"))
        .as("state"),
      col(freq).cast("long").as("freq"))

  /** Adjacent-pair frequencies of one state table: (l, r, cnt). */
  private def pairCounts(state: DataFrame): DataFrame = {
    val syms = split(regexp_replace(col("state"), "^\\|\\||\\|\\|$", ""), "\\|\\|")
    state
      .select(col("freq"), syms.as("__sy"))
      .select(col("freq"), explode(arrays_zip(
        slice(col("__sy"), lit(1), greatest(size(col("__sy")) - 1, lit(0))),
        slice(col("__sy"), lit(2), greatest(size(col("__sy")) - 1, lit(0))))).as("z"))
      .select(col("z.0").as("l"), col("z.1").as("r"), col("freq"))
      .groupBy(col("l"), col("r")).agg(sum(col("freq")).as("cnt"))
  }

  /** Train `rounds` BPE merges over a (word, freq) table. Returns the
    * merge table (round, l, r, cnt) — the artifact a tokenizer ships.
    * Each round's state is checkpointed (vocabulary-sized), so
    * plan depth stays O(1) across rounds (the k-means/PageRank trick).
    * The per-round argmax is a sort-limit over the pair table — bounded
    * by the vocabulary's adjacent-pair count, never by the corpus. */
  def trainMerges(words: DataFrame, word: String, freq: String,
                  rounds: Int): DataFrame =
    fold(words, word, freq, rounds)._1

  /** Train `rounds` merges AND apply them: returns the encoded
    * vocabulary `(word, freq, n_tokens)` — token count of each word
    * under the learned merges. This is the tokenizer APPLY step: the
    * corpus-sized text never re-enters the loop; only the vocabulary
    * does, and callers broadcast-join `n_tokens` back onto their word
    * stream (see q150). */
  def encodeVocab(words: DataFrame, word: String, freq: String,
                  rounds: Int): DataFrame = {
    val state = fold(words, word, freq, rounds)._2
    state.select(col("word"), col("freq"),
      size(split(regexp_replace(col("state"), "^\\|\\||\\|\\|$", ""), "\\|\\|"))
        .cast("long").as("n_tokens"))
  }

  private def fold(words: DataFrame, word: String, freq: String,
                   rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var state = GraftGlue.materialize(initialState(words, word, freq))
    var merges: DataFrame = null
    for (i <- 1 to rounds) {
      val best = pairCounts(state)
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .withColumn("round", lit(i)).transform(GraftGlue.materialize(_))
      merges = if (merges == null) best else merges.unionByName(best)
      state = state.crossJoin(broadcast(best.select(col("l"), col("r"))))
        .select(col("word"), expr(
          "replace(state, '|' || l || '||' || r || '|', '|' || l || r || '|')")
          .as("state"), col("freq"))
        .transform(GraftGlue.materialize(_))
    }
    (merges.select(col("round"), col("l"), col("r"), col("cnt")), state)
  }

  /** DuckDB mirror: expects a CTE `bpe_words(word, freq)` in scope;
    * exposes `bpe_merges(round, l, r, cnt)` re-deriving the identical
    * `rounds` merge choices, plus the final per-word state
    * `bpe_s{rounds}(word, state, freq)` for encode checks. */
  def bpeOracleCtes(rounds: Int): String = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    // cnt is cast back to BIGINT: DuckDB widens sum(BIGINT) to HUGEINT,
    // whose client-side export is build-dependent, and cnt is a
    // PROJECTED column in q131's compared output
    def pairsOf(stateCte: String, i: Int): String =
      s"""bpe_p$i AS (
          SELECT sy[i] AS l, sy[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
            SELECT freq, sy, unnest(generate_series(1, len(sy) - 1)) AS i FROM (
              SELECT freq, string_split(trim(state, '|'), '||') AS sy
              FROM $stateCte))
          GROUP BY 1, 2),
        bpe_b$i AS (SELECT l, r, cnt, $i AS round FROM bpe_p$i
          ORDER BY cnt DESC, l, r LIMIT 1)"""
    val rs = (1 to rounds).map { i =>
      val prev = if (i == 1) "bpe_s0" else s"bpe_s${i - 1}"
      s"""${pairsOf(prev, i)},
        bpe_s$i AS (SELECT word, replace(state, '|' || l || '||' || r || '|',
            '|' || l || r || '|') AS state, freq
          FROM $prev CROSS JOIN bpe_b$i)"""
    }.mkString(",\n")
    val union = (1 to rounds).map(i => s"SELECT round, l, r, cnt FROM bpe_b$i")
      .mkString(" UNION ALL ")
    s"""bpe_s0 AS (SELECT word,
          '||' || array_to_string(string_split(word, ''), '||') || '||' AS state,
          CAST(freq AS BIGINT) AS freq FROM bpe_words),
      $rs,
      bpe_merges AS ($union)"""
  }
}
