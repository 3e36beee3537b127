package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

import graft.functions.TextFunctions

/** Corpus-curation operators for LLM training-data pipelines: n-gram
  * language-model quality scoring (the CCNet-style perplexity filter,
  * Wenzek et al. LREC 2020), hashed-n-gram importance resampling (DSIR,
  * Xie et al. NeurIPS 2023), and concat-and-chunk sequence packing (the
  * GPT-style pre-training batch layout).
  *
  * Reference scope note: the reference pipeline
  * (rahult18/NYC-Yellow-Taxi-Trip-Data-Pipeline) has no text-curation
  * stage — these extend the engine per the driver brief's
  * training-data-pipeline mandate.
  *
  * Everything here is integer-exact: conditional probabilities and
  * importance ratios are fixed-point `(x * SCALE) div y` floor
  * divisions, so Spark and the DuckDB oracle agree bit-for-bit with no
  * float-summation-order noise.
  */
object Curation {

  /** Fixed-point probability/ratio scale: 6 decimal digits. */
  val Scale = 1000000L

  /** Exact positional phrase search over a positional inverted index —
    * the retrieval primitive BM25 can't express (find every occurrence
    * of the words ADJACENT and in order). Scale shape is the classic
    * IR one: postings are FILTERED TO THE PHRASE'S TERMS before
    * anything joins (candidate volume bounded by the rarest term's
    * document frequency, not the corpus), checkpointed once so one
    * scan feeds every term branch, and adjacency is |phrase|−1
    * equi-joins on (doc, pos−offset) — no windows, no per-doc sorts.
    * Tokens are lowercased single-space splits, positions 0-based.
    * Returns (id, n_hits, first_pos), one row per matching document.
    * Overlapping occurrences each count (a start position per match).
    * TextDedupSpec pins literal tuples on adversarial text (repeated
    * and overlapping occurrences, off-by-one decoys) AND replays the
    * sf0.01 corpus through a definitional sliding-window scan — the
    * two defenses that catch a pos−off/pos+off convention slip the
    * mirrored oracle alone would share. */
  def phraseSearch(df: DataFrame, id: String, text: String,
                   rawPhrase: Seq[String]): DataFrame = {
    require(rawPhrase.nonEmpty, "phrase must have at least one term")
    // fold the PHRASE's case too: postings are built from lowered text,
    // so a mixed-case phrase term would silently match nothing.
    // Locale.ROOT: default-locale toLowerCase diverges from Spark's
    // locale-independent lower() (the tr-TR dotless-i trap)
    val phrase = rawPhrase.map(_.toLowerCase(java.util.Locale.ROOT))
    val post = df
      .select(col(id), posexplode(split(lower(col(text)), " ")))
      .toDF(id, "pos", "term")
      .filter(col("term").isin(phrase.distinct: _*))
      .transform(GraftGlue.materialize(_)) // one scan feeds all |phrase| term branches
    def termAt(t: String, off: Int): DataFrame = post
      .filter(col("term") === t)
      .select(col(id), (col("pos") - off).as("start"))
    val hits = phrase.zipWithIndex
      .map { case (t, i) => termAt(t, i) }
      .reduce((a, b) => a.join(b, Seq(id, "start")))
    hits.groupBy(col(id))
      .agg(count(lit(1)).as("n_hits"),
        min(col("start")).cast("long").as("first_pos"))
  }

  /** All bigram OCCURRENCES (not distinct sets) per doc, from two
    * shifted array slices — codegen'd collection ops (the q64 shape). */
  def bigrams(df: DataFrame, id: String, text: String): DataFrame = {
    val ws = TextFunctions.words(col(text))
    df.select(col(id), explode(arrays_zip(
        slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1))).as("z"))
      .select(col(id), col("z.0").as("w1"), col("z.1").as("w2"))
  }

  /** Bigram-LM quality score per document (CCNet-style filter): train
    * MLE conditional probabilities p(w2|w1) = c(w1,w2)/c(w1·) on the
    * corpus itself, then score each doc by the average conditional
    * probability of its own bigrams. High scores = text whose local
    * word transitions are typical of the corpus; boilerplate and
    * keyboard-mash score low. CCNet ranks by LM perplexity from an
    * external KenLM — self-trained counts replace the external model
    * here (no model artifacts in env), and the fixed-point average
    * conditional probability replaces exp/log perplexity so the score
    * is integer-exact: p_scaled = (c12 * Scale) div c1, lm_score =
    * sum(p_scaled) div n_bigrams.
    *
    * Scale shape: two hash aggregates bounded by the corpus bigram
    * vocabulary (map-side combined), one vocabulary-bounded equi-join
    * back to doc bigrams, one doc-keyed aggregate. No windows, no
    * driver state. Docs with < 2 tokens have no bigrams and are
    * excluded (no transition evidence to score). */
  def lmQualityScores(df: DataFrame, id: String, text: String): DataFrame = {
    val bg = bigrams(df, id, text)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col(id),
        expr(s"(c12 * $Scale) div c1").as("p_scaled"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_scaled) div count(1)").as("lm_score"))
  }

  /** Hashed-bigram bucket id in [0, buckets): combine the two tokens'
    * xxhash64 residues as (x1·31 + x2) mod buckets with xi = pmod(xh_i,
    * buckets) — all arithmetic stays below 2^40, so ANSI mode never
    * overflows and no wrap semantics are needed. `buckets` must be a
    * power of two: 2^k | 2^64 makes the signed pmod residue equal the
    * unsigned one, which is what lets the DuckDB oracle reproduce the
    * bucket from its unsigned HUGEINT re-derivation of xxhash64 (the
    * low k bits of an XXH64 value are avalanche-mixed by the
    * finalizer, so the residue is a sound feature hash). 31 is odd ⇒
    * the combine is bijective in x1 for fixed x2 (no bucket collapse). */
  def hashedBigramBucket(w1: Column, w2: Column, buckets: Int): Column = {
    require(Integer.bitCount(buckets) == 1, s"buckets=$buckets must be a power of two")
    val b = lit(buckets.toLong)
    pmod(pmod(xxhash64(w1), b) * lit(31L) + pmod(xxhash64(w2), b), b)
  }

  /** DSIR importance weights per hashed-bigram bucket (Xie et al.
    * NeurIPS 2023 "Data Selection for Language Models via Importance
    * Resampling"): target and source corpora are each reduced to
    * counts over `buckets` hashed-bigram features; a bucket's weight is
    * the Laplace-smoothed fixed-point ratio
    * ((tgt_b + 1) * Scale) div (src_b + 1) — the +1 smoothing keeps
    * the ratio finite when one side never saw the bucket (DSIR's
    * bag-of-hashed-ngrams estimator with the log replaced by the
    * fixed-point ratio). Only observed buckets materialize: an
    * unobserved bucket matches no doc feature, so its weight row would
    * never join anything.
    *
    * Scale shape: the weight table is `buckets` rows — a broadcast-size
    * constant regardless of corpus size; building it is two map-side-
    * combined aggregates over the bigram stream. */
  def dsirBucketWeights(source: DataFrame, target: DataFrame, id: String,
                        text: String, buckets: Int): DataFrame = {
    def counts(df: DataFrame, as: String): DataFrame =
      bigrams(df, id, text)
        .groupBy(hashedBigramBucket(col("w1"), col("w2"), buckets).as("bucket"))
        .agg(count(lit(1)).as(as))
    counts(source, "src_n")
      .join(counts(target, "tgt_n"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        expr(s"((coalesce(tgt_n, 0) + 1) * $Scale) div (coalesce(src_n, 0) + 1)")
          .as("w_scaled"))
  }

  /** DSIR selection: score every source doc by the length-normalized
    * sum of its bigrams' importance weights (sum div n_bigrams — the
    * raw DSIR log-ratio sum is length-biased; the integer mean keeps
    * rank order deterministic) and keep the top `k` by
    * (score desc, id asc). Returns (id, n_bigrams, dsir_score).
    *
    * Scale shape: one bigram pass joined to the BROADCAST `buckets`-row
    * weight table, one doc-keyed aggregate, then a global top-k — a
    * sort-limit (TakeOrdered), never a full sort. */
  def dsirSelect(source: DataFrame, target: DataFrame, id: String,
                 text: String, buckets: Int, k: Int): DataFrame = {
    val w = dsirBucketWeights(source, target, id, text, buckets)
    bigrams(source, id, text)
      .select(col(id), hashedBigramBucket(col("w1"), col("w2"), buckets).as("bucket"))
      .join(broadcast(w), Seq("bucket"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(w_scaled) div count(1)").as("dsir_score"))
      .orderBy(col("dsir_score").desc, col(id).asc)
      .limit(k)
  }

  /** Concat-and-chunk sequence packing: lay all docs end-to-end in id
    * order and cut the token stream into fixed-`seqLen` training
    * sequences — the standard GPT pre-training batch layout. Returns
    * one row per sequence: (seq_id, n_docs the sequence touches,
    * n_docs_starting that begin inside it, n_tokens it holds — seqLen
    * everywhere except the ragged tail).
    *
    * Scale shape: the token-offset cumsum is [[Stats.rangeCumSums]]
    * (range-partitioned two-pass prefix sum — no global single-task
    * window); each doc then explodes to the sequences it overlaps
    * (docLen/seqLen + 1 rows, input-proportional) and a seq-keyed
    * aggregate finishes. Output cardinality is totalTokens/seqLen. */
  def packSequences(df: DataFrame, id: String, text: String,
                    seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen=$seqLen must be >= 1")
    val counts = df.select(col(id),
      TextFunctions.wordCount(col(text)).cast("long").as("__n"))
    val withOff = Stats.rangeCumSums(counts, id, Seq("__n"), inclusive = false)
      .withColumnRenamed("__n_cum", "__off")
    withOff
      .select(col(id), col("__off"), col("__n"),
        expr(s"__off div $seqLen").as("__first"),
        expr(s"(__off + __n - 1) div $seqLen").as("__last"))
      .select(col(id), col("__off"), col("__n"), col("__first"),
        explode(sequence(col("__first"), col("__last"))).as("seq_id"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__first") === col("seq_id"), 1L).otherwise(0L))
          .as("n_docs_starting"),
        sum(least(col("__off") + col("__n"), (col("seq_id") + 1) * seqLen) -
            greatest(col("__off"), col("seq_id") * lit(seqLen.toLong)))
          .as("n_tokens"))
  }

  /** CONTENT-DEFINED chunking (CDC — the rsync/LBFS/FastCDC boundary
    * rule, round-17): cut each document where the hash of the w-char
    * window ENDING at a position has residue 0 mod `den` (expected
    * chunk length ≈ den chars), plus the forced final boundary at the
    * text end. The property fixed-SIZE chunking (q193) structurally
    * lacks: boundaries are functions of LOCAL CONTENT, so an insertion
    * near the front shifts only the chunk it lands in — every later
    * boundary re-aligns and the downstream chunk hashes are UNCHANGED
    * (spec-pinned), which is what makes chunk-hash dedup robust to
    * shifted/edited near-duplicates where fixed-offset chunks all
    * move. This is the pure content rule; production deployments add
    * min/max chunk-length guards (FastCDC §3.2) — those make the
    * boundary decision SEQUENTIAL per doc (each cut depends on the
    * previous), which this operator deliberately omits so the whole
    * derivation stays one codegen'd HOF projection; a degenerate
    * residue-dense region therefore yields short chunks rather than a
    * recursive fold.
    *
    * The window hash is the md5-hex prefix (portable — the DuckDB
    * oracle replays every boundary), positions below `w` can never cut
    * (the window must fit), and a doc shorter than w + 1 chars is one
    * chunk. Returns one row per chunk: (id, chunk_idx, start, 1-based;
    * chunk_len, chunk_md5).
    *
    * Scale shape: the per-position md5 pass runs as a CODEGEN'D
    * PROJECTION over exploded positions — NOT inside an array-HOF
    * lambda, which falls to the interpreted evaluator and measured
    * 58 s vs ~4 s at sf0.1 for the identical arithmetic (round-17
    * self-catch) — so the corpus-byte-proportional stage is the same
    * shape as [[graft.operators.Dedup.substringWindowHashes]]'s. The
    * residue filter keeps ≈ 1/den of positions, ONE doc-keyed
    * aggregate collects each doc's boundary list (bounded by
    * chars/den per doc), and the chunk rebuild is narrow HOFs over
    * that bounded list. Output ≈ bytes/den rows. Consumers aggregate
    * chunk_md5 for chunk-level dedup: one hash-agg, the exact-dedup
    * posture at sub-document granularity. */
  def cdcChunks(df: DataFrame, id: String, text: String,
                w: Int = 8, den: Int = 64): DataFrame = {
    require(w >= 2, s"w=$w: a 1-char window cuts on single characters")
    require(den >= 2, s"den=$den: residue mod 1 cuts everywhere")
    val n = length(col(text))
    val base = df.filter(n >= 1)
      .select(col(id), col(text).as("__t"), n.cast("int").as("__n"))
    // candidate cut AFTER position p (p in [w, n-1]; n itself closes
    // the last chunk): md5 of the window (p-w, p] has residue 0
    val cuts = base.filter(col("__n") > w)
      .select(col(id),
        explode(sequence(lit(w), col("__n") - 1)).as("__p"), col("__t"))
      .filter(conv(substring(
          md5(col("__t").substr(col("__p") - (w - 1), lit(w))), 1, 8), 16, 10)
        .cast("long") % den === 0)
      .groupBy(col(id))
      .agg(sort_array(collect_list(col("__p"))).as("__cuts"))
    val bs = concat(array(lit(0)),
      coalesce(col("__cuts"), array().cast("array<int>")),
      array(col("__n")))
    base.join(cuts, Seq(id), "left")
      .select(col(id), col("__t"),
        posexplode(transform(sequence(lit(1), size(bs) - 1),
          i => struct(element_at(bs, i).as("s"),
            (element_at(bs, i + 1) - element_at(bs, i)).as("l"))))
          .as(Seq("__i", "__c")))
      .select(col(id), col("__i").cast("long").as("chunk_idx"),
        (col("__c.s") + 1).cast("long").as("start"),
        col("__c.l").cast("long").as("chunk_len"),
        md5(col("__t").substr(col("__c.s") + 1, col("__c.l"))).as("chunk_md5"))
  }

  // ------------------------------------------------- shard layout

  /** Epoch-shuffled shard layout (q277's law, THE single definition —
    * the registered query and the CurationE2E closing leg both call
    * this, so the two can't silently drift; round-15 self-review
    * catch): shard = md5-hash of the id, within-shard order =
    * md5(epochSalt:id) ascending with id tie-break (a new salt is a
    * fresh global shuffle; the same salt replays byte-identically),
    * and each shard's exact order is pinned by the order-sensitive
    * checksum Σ (rank mod p)·(id mod p), p = 1000003 — integer-exact
    * in both engines. One shard-keyed window sort (the
    * repartition+sortWithinPartitions cost of a real layout writer) +
    * a shard-bounded aggregate. Returns one row per shard:
    * (shard, n_docs, n_tokens, order_checksum, first_doc). */
  def shardLayout(df: DataFrame, id: String, text: String,
                  nShards: Int, epochSalt: String): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards")
    import org.apache.spark.sql.expressions.Window
    val keyed = df.select(col(id),
      TextFunctions.wordCount(col(text)).cast("long").as("n_tok"),
      (conv(substring(md5(concat(lit("shard:"), col(id).cast("string"))),
        1, 15), 16, 10).cast("long") % nShards).as("shard"),
      conv(substring(md5(concat(lit(s"$epochSalt:"), col(id).cast("string"))),
        1, 15), 16, 10).cast("long").as("__ord"))
    val ranked = keyed.withColumn("__rk", row_number().over(
      Window.partitionBy(col("shard")).orderBy(col("__ord"), col(id))))
    ranked.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum((col("__rk") % 1000003) * (col(id) % 1000003))
          .as("order_checksum"),
        max(when(col("__rk") === 1, col(id))).as("first_doc"))
  }

  // ------------------------------------------------- source mixing

  /** Temperature-scaled source MIXING — the data-mixture step every
    * multi-source pretraining run performs (multilingual sampling à la
    * XLM-R / mT5: draw from source s with probability ∝ n_s^(1/T), so
    * high-resource sources are down-weighted and low-resource ones get
    * a larger share than proportional): given a target corpus size
    * `N · fracNum / fracDen`, compute each source's target count from
    * its weighting and select its kept documents DETERMINISTICALLY —
    * the n_target docs with the smallest (md5(id), id) rank inside the
    * source, so the kept SET is a pure function of the corpus (every
    * engine, every rerun, byte-identical — the q195 hash-split idiom
    * applied to sampling).
    *
    * The temperature axis is kept INTEGER-EXACT (the house float-free
    * boundary rule) by restricting to the three points that need no
    * float pow: `weighting = "prop"` (u_s = n_s, T = 1 — proportional,
    * mixing changes nothing but the total), `"sqrt"` (u_s = ⌊√n_s⌋,
    * T = 2 — THE standard multilingual setting), `"uniform"` (u_s = 1,
    * T = ∞ — equal share per source). ⌊√n⌋ via the correctly-rounded
    * IEEE sqrt is exact for any realistic count (the true root of a
    * non-square n < 2⁵² is > ½ulp from an integer), and everything
    * downstream is integer: n_target_s = (N·fracNum div fracDen)·u_s
    * div Σu, capped at n_s for the kept set with the UP-sampling
    * demand surfaced as `n_epochs` = ⌈n_target / n_s⌉ (a low-resource
    * source at T = 2 legitimately repeats — the mixture's epoch
    * multiplier, reported rather than silently truncated).
    *
    * Scale shape: one source-keyed count aggregate (map-side
    * combinable), the per-source table broadcast back (sources are
    * enum-bounded by contract), and ONE source-partitioned rank window
    * — the honest per-source sort a rank-exact sample costs; at 100 TB
    * the drop-in replacement is a two-phase exact-quantile threshold
    * on the md5 rank (the q133 machinery) if the per-source sort ever
    * binds. Returns one row per source: (source, n_docs, u, n_target,
    * n_kept, n_epochs, keep_sum, keep_sq_sum) — the two checksums pin
    * the kept SET cross-engine, not just its size. */
  def sourceMix(df: DataFrame, id: String, source: String,
                fracNum: Long, fracDen: Long,
                weighting: String = "sqrt"): DataFrame = {
    val targets = mixTargets(df, id, source, fracNum, fracDen, weighting)
    val kept = keepRows(df, id, source, targets)
      .groupBy(col(source))
      .agg(count(lit(1)).as("n_kept"),
        sum(col(id) % 1000003L).as("keep_sum"),
        sum((col(id) % 1000003L) * (col(id) % 1000003L)).as("keep_sq_sum"))
    targets.join(kept, Seq(source), "left")
      .select(col(source), col("n_docs"), col("u"), col("n_target"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        expr("(n_target + n_docs - 1) div n_docs").as("n_epochs"),
        coalesce(col("keep_sum"), lit(0L)).as("keep_sum"),
        coalesce(col("keep_sq_sum"), lit(0L)).as("keep_sq_sum"))
  }

  /** The kept-ROWS face of [[sourceMix]] — the frame a composed
    * pipeline actually feeds downstream (the summary is the audit, the
    * rows are the corpus): every input column of the selected docs,
    * selection rule identical by construction (one shared target
    * derivation, one shared rank). Down-sampling only: a source whose
    * target exceeds its count contributes every row ONCE here — the
    * repeat factor is [[sourceMix]]'s `n_epochs`, applied by the
    * training reader, not by materializing duplicate rows. */
  def sourceMixKeep(df: DataFrame, id: String, source: String,
                    fracNum: Long, fracDen: Long,
                    weighting: String = "sqrt"): DataFrame =
    keepRows(df, id, source,
      mixTargets(df, id, source, fracNum, fracDen, weighting))

  /** The EPOCH-REPLICATED kept-rows face of [[sourceMix]] — the
    * multiset an UP-sampling mixture actually trains on (round-17:
    * previously the repeat factor existed only as the reported
    * `n_epochs` number; the training reader was trusted to apply it).
    * Emits EXACTLY n_target rows per source: each kept row once per
    * FULL epoch, plus the rank-smallest (n_target mod n_docs) rows in
    * the final PARTIAL epoch — so the mixture is integer-exact, the
    * partial epoch reuses the same deterministic (md5(id), id) rank as
    * the kept set itself, and a down-sampled source degenerates to
    * [[sourceMixKeep]]'s rows at epoch = 1. Column contract: every
    * input column plus a 1-based `epoch`.
    *
    * Scale shape: the same one count-aggregate + broadcast targets +
    * one per-source rank window as the other faces, then a narrow
    * per-row epoch Generate (fan-out = that source's n_epochs — the
    * replication IS the requested output, there is nothing smaller to
    * ship); no extra shuffle. */
  def sourceMixKeepEpochs(df: DataFrame, id: String, source: String,
                          fracNum: Long, fracDen: Long,
                          weighting: String = "sqrt"): DataFrame = {
    val targets = mixTargets(df, id, source, fracNum, fracDen, weighting)
    rankedBySource(df, id, source)
      .join(broadcast(targets.select(col(source), col("n_docs"),
        col("n_target"))), source)
      // greatest(…, 1): sequence(1, 0) would DESCEND ([1, 0]) for a
      // zero-target source; the filter below drops its rows either way
      .withColumn("epoch", explode(sequence(lit(1L),
        greatest(expr("(n_target + n_docs - 1) div n_docs"), lit(1L)))))
      .filter((col("epoch") - 1) * col("n_docs") + col("__rk") <= col("n_target"))
      .drop("__rk", "n_docs", "n_target")
  }

  /** THE rank definition — the single place the deterministic
    * (md5(id), id) per-source selection order is declared. Every
    * kept-rows face ([[keepRows]] behind [[sourceMixKeep]], and
    * [[sourceMixKeepEpochs]]'s epoch residue) derives its 1-based
    * `__rk` here, so a future edit to the ordering cannot silently
    * desynchronize the epoch rows from the audit/rows faces
    * (round-17 advice). */
  private def rankedBySource(df: DataFrame, id: String,
                             source: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rk", row_number().over(
      Window.partitionBy(col(source))
        .orderBy(md5(col(id).cast("string")), col(id))))
  }

  /** The shared rank-selection: n_target smallest (md5(id), id) per
    * source — both public faces route here, so the kept set cannot
    * drift between the audit and the rows. */
  private def keepRows(df: DataFrame, id: String, source: String,
                       targets: DataFrame): DataFrame =
    rankedBySource(df, id, source)
      .join(broadcast(targets.select(col(source), col("n_target"))), source)
      .filter(col("__rk") <= col("n_target"))
      .drop("__rk", "n_target")

  /** Shared target derivation for [[sourceMix]]/[[sourceMixKeep]]:
    * (source, n_docs, u, n_target) — see sourceMix's doc for the
    * integer-exact weighting points. */
  private def mixTargets(df: DataFrame, id: String, source: String,
                         fracNum: Long, fracDen: Long,
                         weighting: String): DataFrame = {
    require(fracDen > 0 && fracNum >= 0,
      s"target fraction $fracNum/$fracDen must be a nonnegative ratio")
    val u: Column = weighting match {
      case "prop" => col("n_docs")
      case "sqrt" => floor(sqrt(col("n_docs").cast("double"))).cast("long")
      case "uniform" => lit(1L)
      case other => throw new IllegalArgumentException(
        s"weighting '$other': need prop (T=1), sqrt (T=2) or uniform (T=inf)")
    }
    val counts = df.groupBy(col(source))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("u", u)
    val totals = counts.agg(sum(col("n_docs")).as("__N"), sum(col("u")).as("__U"))
    counts.crossJoin(broadcast(totals))
      .withColumn("n_target",
        expr(s"((__N * $fracNum) div $fracDen) * u div __U"))
      .select(col(source), col("n_docs"), col("u"), col("n_target"))
  }

  // ------------------------------------------------- PII redaction

  /** PII redaction — the privacy gate every shipped training corpus
    * runs (the k-anonymity twin for FREE TEXT, q194's structured
    * counterpart): count and replace e-mail addresses, dashed phone
    * numbers (the TPC-H `c_phone` shape) and IPv4 literals with typed
    * placeholders. A thin view over THE shared engine
    * ([[graft.operators.Redact.redact]], round-16 consolidation — one
    * rule table, one implementation, the count convention a
    * parameter): this surface uses the DETECTION convention (counts
    * per-pattern over the ORIGINAL text — see Redact's object doc,
    * including the nested-pattern case where a count can exceed the
    * placeholders in the clean text) with [[Redact.curationPiiRules]].
    * Still a narrow codegen'd projection — no join, no aggregate, no
    * shuffle: scales with scan bandwidth, the shape a 100 TB privacy
    * pass must have. Returns (id, n_emails, n_phones, n_ips,
    * clean_len, clean_md5) — the md5 pins the redacted TEXT
    * cross-engine, not just its length. */
  def piiRedact(df: DataFrame, id: String, text: Column): DataFrame =
    Redact.redact(df.select(col(id), text.as("__pii_t")), col("__pii_t"),
        Redact.curationPiiRules, countsOnOriginal = true)
      .select(col(id), col("n_emails"), col("n_phones"), col("n_ips"),
        length(col("redacted")).cast("long").as("clean_len"),
        md5(col("redacted")).as("clean_md5"))
}
