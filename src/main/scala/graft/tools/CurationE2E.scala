package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Session, Tables}
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup}

/** Measured END-TO-END LLM-curation lifecycle — the beyond-reference
  * counterpart of `E2E.json` (which composes the reference's five
  * processes): every per-operator claim of the training-data mandate
  * composed ONE way on the documents fixture, each leg individually
  * timed with surviving doc/token counts, emitted as
  * `CURATION_E2E.json`:
  *
  *   1. ingest          — documents.parquet scan, corpus census
  *                        (docs, tokens — the q30 counting surface).
  *   2. quality_langid  — CCNet-style quality gate (q31's ratios) +
  *                        marker-word language-ID (q32): keep docs with
  *                        ≥ 16 tokens, at least one English stopword,
  *                        unique-token ratio ≥ 0.3 (the repetition/spam
  *                        screen), alpha_ratio ≥ 0.4, and predicted
  *                        language 'en' (the monolingual-pretraining
  *                        convention; vacuous on this all-English-vocab
  *                        fixture — the stopword gate is what binds).
  *   3. exact_dedup     — q40/q205's first stage at the FINGERPRINT
  *                        level (sorted distinct token set —
  *                        [[TextFunctions.fingerprint]], q40's
  *                        n_unique_fingerprint surface): one hash
  *                        aggregate, keep min-id per normalized
  *                        content, so token-permutation duplicates
  *                        collapse here and the leg-12 leak audit can
  *                        REQUIRE zero straddling fingerprints.
  *   4. substring_scrub — q273's exact substring dedup (Lee et al.
  *                        ACL'22, in the paper's ORDER: exact → substring
  *                        → fuzzy) over the keepers: excise every
  *                        non-first occurrence of a duplicated 40-char
  *                        window (cross-doc boilerplate that doc-LEVEL
  *                        dedup structurally keeps — the spans q124
  *                        profiles), drop docs scrubbed empty,
  *                        then collapse at the fingerprint level AGAIN
  *                        (excision can reveal exact duplicates that
  *                        differed only by the removed span). Keepers-
  *                        sized window stream = the q274 dedup-first
  *                        composition by position; everything below
  *                        consumes the CLEANED text.
  *   5. near_dup        — MinHash+LSH over the scrubbed keepers (the
  *                        q205 dedup-first composition; q42/q95
  *                        machinery, xx64 scheme — the production
  *                        hash), drop the larger id of each
  *                        ≥ 0.9-Jaccard pair — boilerplate can no
  *                        longer glue unrelated docs into a bucket.
  *   6. winnow_dedup    — q270's winnowed-fingerprint overlap over the
  *                        near-dup survivors (round-16): the
  *                        CONTAINMENT pass — an edited or partial quote
  *                        of an admitted doc shares its winnowed
  *                        fingerprints (guaranteed for any common run
  *                        of ≥ k+w−1 tokens) while MinHash is
  *                        structurally blind to it and the substring
  *                        scrub only catches ≥ 40-char VERBATIM runs;
  *                        drop the larger id of each ≥ 3-shared pair.
  *   7. decontaminate   — q82's word-8-gram overlap against the
  *                        benchmark set (doc_id < 50): the bench docs
  *                        leave the corpus, and any doc sharing ≥ 50%
  *                        of its 8-grams with the bench set drops.
  *   8. image_dedup     — the MULTIMODAL leg (round-14): each surviving
  *                        doc's image attachment (variant-PNG fixture)
  *                        through the q254/q255 machinery — real codec
  *                        round-trip, codegen'd dHash, Hamming-banded
  *                        blocking — dropping the larger id of each
  *                        perceptual near-dup pair; runs after text
  *                        dedup so the codec touches keepers only.
  *   9. audio_dedup     — the SECOND multimodal leg (round-15): each
  *                        surviving doc's audio attachment (variant-WAV
  *                        fixture through the q258/q259 machinery —
  *                        real WAV codec round-trip, lock-free RIFF
  *                        parse, energy fingerprint, the same generic
  *                        Hamming banding). The attachment keys on a
  *                        TRANSPOSED id so audio families cut ACROSS
  *                        image families — the modalities dedup
  *                        independently, as unrelated attachments do.
  *  10. cdc_dedup       — q288's shift-robust block rung (round-18):
  *                        content-defined chunking of the survivors
  *                        (w = 8, den = 64 — q287's realignment
  *                        theorem), then drop the larger id of any
  *                        pair sharing ≥ 2 distinct chunk hashes via
  *                        the same df-capped posting machinery as
  *                        leg 6 — offset-shifted paragraph re-ships
  *                        that stay under both similarity thresholds
  *                        land on identical chunk hashes here.
  *  11. chunk           — q193's overlapping chunking (32-token chunks
  *                        at stride 24, stable md5 chunk ids).
  *  12. pack            — q179's concat-and-chunk packing into
  *                        64-token training sequences
  *                        ([[Curation.packSequences]]).
  *  13. split_leak      — q195's group-hash 80/20 train/test split by
  *                        `source` + the cross-split fingerprint leak
  *                        audit (after steps 3-5 it must report ZERO
  *                        straddling fingerprints — the composed
  *                        pipeline's acceptance check, asserted here).
  *  14. mix             — q284's temperature-scaled source mixing of
  *                        the train split (T = 2 via integer-exact
  *                        isqrt weights, 4/5 target, deterministic
  *                        per-source hash-rank kept set).
  *  15. shard_layout    — q277's epoch-shuffled shard layout of the
  *                        mixed train corpus: md5 shard assignment,
  *                        salted within-shard order, order-sensitive
  *                        checksum — the corpus leaves the pipeline as
  *                        the 16 shard files training actually reads.
  *
  * Every leg ends in an eager localCheckpoint + count, so each wall
  * time covers exactly its own stage (no lazy-plan bleed into the next
  * leg). Legs reuse the registered operators/shapes — nothing here is
  * a shell. Wall-clock + counts are the artifact, as in `E2E.json`.
  *
  * With a `xN` argument (e.g. `x10`) the SAME composed pipeline also
  * runs against the ×N ScaleStress replica and the artifact gains a
  * "scaling" block with per-leg ratios — the composed-pipeline scale
  * claim measured directly, not inferred from its ingredients (round-13
  * verdict directive #2). Replication makes every document an exact
  * ×N duplicate group, so the EXPECTED shape is: scan-bound legs
  * (ingest/quality/exact_dedup) near ×N, and everything downstream of
  * the fingerprint dedup near ×1 — the dedup-first composition
  * collapsing duplication before any pairwise stage is precisely what
  * q205 pins per-query. A near-dup or decontaminate leg that scaled
  * with ×N here would mean the composition is broken. */
object CurationE2E {

  /** One leg's record: name, wall seconds, surviving docs, tokens.
    * Multi-pass legs (passes > 1) report the MINIMUM wall across warm
    * passes — the Bench best-of-N convention — with the observed max
    * kept as the recorded spread. */
  final case class Leg(name: String, sec: Double, docs: Long, tokens: Long,
                       passes: Int = 1, secMax: Double = 0.0)

  /** Full-run result: per-leg timings plus the split/leak acceptance
    * numbers (chunks, sequences, train/test doc+token counts, and the
    * straddling-fingerprint count the caller REQUIREs to be zero). */
  final case class RunResult(legs: Seq[Leg], chunks: Long, seqs: Long,
      straddling: Long, trainDocs: Long, trainToks: Long,
      testDocs: Long, testToks: Long)

  /** The composed pipeline, parameterized only by the source dir so the
    * base and ×N-replica runs execute the identical plan chain. */
  def runLegs(spark: SparkSession, sfDir: String): RunResult = {
    import spark.implicits._

    val legs = scala.collection.mutable.ArrayBuffer.empty[Leg]
    def timed(name: String)(body: => (DataFrame, Long, Long)): DataFrame = {
      val t0 = System.nanoTime()
      val (df, docs, toks) = body
      legs += Leg(name, (System.nanoTime() - t0) / 1e9, docs, toks)
      println(f"[curation] $name%-16s ${legs.last.sec}%8.2f s  " +
        f"docs=$docs%7d  tokens=$toks%9d")
      df
    }
    // The two SCAN-BOUND legs swing with page-cache state (the ×100
    // quality_langid leg measured 2.4–34 s on identical code — README
    // drift footnote); a committed single draw is therefore noise, not
    // a measurement. Multi-pass minimum per the Bench best-of-N
    // convention (round-17 directive #5): run the body `passes` times,
    // keep the LAST materialization for the pipeline, report min with
    // the max recorded as spread. Compute-bound legs stay single-pass
    // (their draw variance is the honest measurement).
    def timedBest(name: String, passes: Int)
                 (body: => (DataFrame, Long, Long)): DataFrame = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var last: (DataFrame, Long, Long) = null
      for (_ <- 1 to passes) {
        // free the superseded pass's checkpoint blocks before timing
        // the next one (round-17 advice: 4 passes would otherwise pin
        // ~4× the leg's output in the block manager until GC) — only
        // the FINAL pass's frame flows downstream, so earlier passes
        // are dead weight the moment they are re-run
        if (last != null)
          org.apache.spark.sql.graftglue.GraftGlue
            .unpersistLocalCheckpoint(last._1)
        val t0 = System.nanoTime()
        last = body
        times += (System.nanoTime() - t0) / 1e9
      }
      legs += Leg(name, times.min, last._2, last._3, passes, times.max)
      println(f"[curation] $name%-16s ${times.min}%8.2f s  " +
        f"docs=${last._2}%7d  tokens=${last._3}%9d  " +
        f"(best of $passes, max ${times.max}%.2f)")
      last._1
    }
    // eager materialization: each leg pays for exactly its own work
    def mat(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def census(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(TextFunctions.wordCount($"text")))
        .head()
      // sum() over zero rows is NULL — a fully-filtering gate should
      // report 0 survivors, not NPE the tool (the Dedup.scala pattern)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // ---- leg 1: ingest ----
    val corpus = timedBest("ingest", passes = 4) {
      val df = mat(Tables(spark, sfDir, "documents")
        .select($"doc_id", $"source", $"lang", $"text"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 2: quality + language-ID gate (q31 + q32 shapes) ----
    val en = Seq("the", "a", "of", "and")
    val de = Seq("der", "die", "und", "das")
    val es = Seq("el", "la", "los", "y")
    val fr = Seq("le", "les", "et", "dans")
    val filtered = timedBest("quality_langid", passes = 4) {
      val scored = corpus
        .withColumn("n_words", TextFunctions.wordCount($"text"))
        .withColumn("stop_ratio", TextFunctions.stopwordRatio($"text", en))
        .withColumn("uniq_ratio",
          TextFunctions.uniqueWordCount($"text").cast("double") /
            TextFunctions.wordCount($"text"))
        .withColumn("alpha_ratio", TextFunctions.alphaRatio($"text"))
        .withColumn("pred_lang", TextFunctions.langId(
          TextFunctions.langScore($"text", en),
          TextFunctions.langScore($"text", de),
          TextFunctions.langScore($"text", es),
          TextFunctions.langScore($"text", fr)))
      val df = mat(scored
        .filter($"n_words" >= 16 && $"stop_ratio" > 0.0 &&
          $"uniq_ratio" >= 0.3 && $"alpha_ratio" >= 0.4 &&
          $"pred_lang" === "en")
        .select($"doc_id", $"source", $"text"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 3: exact dedup at the fingerprint level (q40 surface) ----
    val exactKept = timed("exact_dedup") {
      val keep = Dedup.keepers(filtered, "doc_id",
          TextFunctions.fingerprint(col("text")))
        .select($"keeper_id".as("doc_id"))
      val df = mat(filtered.join(keep, Seq("doc_id")))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 4: exact substring scrub over the keepers (q273) ----
    // Lee et al.'s ordering: exact dedup -> SUBSTRING dedup -> fuzzy
    // dedup. Doc-level exact dedup structurally keeps cross-doc
    // boilerplate (two near-unique docs sharing a verbatim header both
    // survive, header and all — the spans q124 profiles); this leg
    // excises every non-first occurrence of any duplicated 40-char
    // window from the keepers (q273's machinery, keepers-sized window
    // stream — the q274 dedup-first composition by position), drops
    // docs scrubbed empty, and then collapses at the
    // fingerprint level AGAIN: excision can REVEAL exact duplicates
    // that differed only by the removed span, and the leg-12 leak
    // audit requires zero straddling fingerprints of the FINAL texts.
    // Everything downstream — fuzzy near-dup included — consumes the
    // CLEANED text, so boilerplate can no longer glue unrelated docs
    // into one LSH bucket.
    val scrubbed = timed("substring_scrub") {
      val sc = Dedup.substringScrub(
        exactKept.select($"doc_id", $"text"), "doc_id", "text",
        width = 40, seen = None)
      // drop docs scrubbed to nothing: wordCount alone is vacuous here
      // (split("", " ") is [""], so every string counts >= 1 word —
      // round-15 self-review catch); the trim-length gate is what
      // actually rejects empty and whitespace-only survivors
      val cleaned = exactKept.select($"doc_id", $"source")
        .join(sc.filter(length(trim($"text")) > 0)
          .select($"doc_id", $"text"), Seq("doc_id"))
      val keep2 = Dedup.keepers(cleaned, "doc_id",
          TextFunctions.fingerprint(col("text")))
        .select($"keeper_id".as("doc_id"))
      val df = mat(cleaned.join(keep2, Seq("doc_id")))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 5: near-dup over scrubbed keepers (q205 composition) ----
    val nearKept = timed("near_dup") {
      val pairs = Dedup.minhashNearDups(scrubbed, "doc_id", "text",
        k = 64, bands = 8, threshold = 0.9, maxBucket = 100,
        scheme = "xx64")
      val losers = pairs.select($"id_b".as("doc_id")).distinct()
      val df = mat(scrubbed.join(losers, Seq("doc_id"), "left_anti"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 6: winnow-containment dedup (q270 shape, round-16) ----
    // The containment gap the lifecycle had: MinHash (leg 5) is
    // structurally blind to a long doc QUOTING a shorter one (the
    // quoted run's fingerprints are a sliver of the quoter's whole-set
    // signature, so no LSH band ever collides), and substring_scrub
    // (leg 4) only excises ≥ 40-char VERBATIM runs — an EDITED quote
    // survives both. Winnowed-fingerprint overlap closes it: any
    // shared run of ≥ k+w−1 tokens GUARANTEES shared fingerprints
    // (the q269 theorem), edits included, and the df ≤ 50 stop-cap
    // keeps the posting join fan-out bounded at any corpus size. Drop
    // the larger id of each ≥ minShared pair — the keep-first
    // convention, same as the near_dup leg.
    //
    // On THIS fixture the leg finds zero pairs at both scales (the
    // synthetic corpus has no edited-quote containment left after the
    // fingerprint + substring + MinHash legs), so what the artifact
    // records is the audit's COST on survivors; that the leg FIRES on
    // actual containment is pinned separately — StreamingSpec's
    // winnow-suppression test constructs a MinHash-invisible
    // containment arrival and proves band non-collision plus winnow
    // suppression on the same fixture, and q270's oracle hash-verifies
    // the pair rule corpus-wide.
    val winnowKept = timed("winnow_dedup") {
      val pairs = Dedup.winnowedNearDupPairs(nearKept, "doc_id", $"text",
        k = 4, w = 4, minShared = 3, maxDf = 50)
      val losers = pairs.select($"id_b".as("doc_id")).distinct()
      val df = mat(nearKept.join(losers, Seq("doc_id"), "left_anti"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 7: decontamination vs the benchmark set (q82 shape) ----
    val clean = timed("decontaminate") {
      val ws = TextFunctions.words($"text")
      val sh = corpus // bench 8-grams come from the RAW corpus: eval
        .filter($"doc_id" < 50 && size(ws) >= 8) // data is never "filtered"
        .transform(graft.operators.Relational.spread(_, $"doc_id"))
        .select(explode(array_distinct(
          TextFunctions.wordShingles($"text", 8))).as("sh"))
        .distinct()
      val candShingles = winnowKept
        .filter($"doc_id" >= 50)
        .select($"doc_id", explode(array_distinct(
          TextFunctions.wordShingles($"text", 8))).as("sh"))
      val contaminated = candShingles.join(broadcast(sh), "sh")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        .join(candShingles.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shingles")), "doc_id")
        .filter($"n_shared" * 2 >= $"n_shingles") // overlap >= 50%
        .select($"doc_id")
      val df = mat(winnowKept.filter($"doc_id" >= 50) // bench docs leave too
        .join(contaminated, Seq("doc_id"), "left_anti"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 8: image near-dup over each survivor's attachment ----
    // The multimodal leg (round-14): every surviving doc carries an
    // image attachment (the variant-PNG fixture stands in for real
    // blobs — consecutive ids share near-duplicate images), and docs
    // whose attachment is the LARGER id of a perceptual near-dup pair
    // drop — the q254/q255 machinery (real codec round-trip, codegen'd
    // dHash, Hamming-banded blocking) composed the same drop-the-loser
    // way as the text near_dup leg. Runs AFTER text dedup, so the
    // codec only touches keepers (dedup-first, applied cross-modally).
    val imgKept = timed("image_dedup") {
      implicit val sp: SparkSession = spark
      val pngs = graft.multimodal.Multimodal.encodeVariantPngs(
        clean.select($"doc_id"), "doc_id")
      val grid = graft.multimodal.Multimodal.sampleGrayGrid(pngs)
      val sketch = grid.select($"media_id" +:
        graft.multimodal.Multimodal.dhashChunks($"grays"): _*)
      val pairs = Dedup.hammingBandedPairs(sketch, "media_id",
        maxDist = 7, nBands = 8, maxBucket = 200)
      val losers = pairs.select($"id_b".as("doc_id")).distinct()
      val df = mat(clean.join(losers, Seq("doc_id"), "left_anti"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 9: audio near-dup over each survivor's attachment ----
    // The second multimodal leg (round-15): every surviving doc carries
    // an audio clip, keyed on a TRANSPOSED id — (doc_id mod 3) major,
    // doc_id div 3 minor — so audio families group DIFFERENT docs than
    // the image families did (real attachments are independent across
    // modalities; a doc that kept its image can still carry a duplicate
    // clip). The q258/q259 machinery: real WAV codec round-trip on
    // keepers only, energy fingerprint, generic Hamming banding, drop
    // the larger id of each near-dup pair. The transposed id stays
    // far inside the mixer's 2^50 envelope (≤ 2·2³¹ + maxId/3).
    val audioKept = timed("audio_dedup") {
      implicit val sp: SparkSession = spark
      val mapped = imgKept.select($"doc_id",
        (($"doc_id" % 3) * lit(1L << 31) + expr("doc_id div 3")).as("amid"))
      val wavs = graft.multimodal.Multimodal.encodeVariantWavs(
        mapped.select($"amid"), "amid")
      val en = graft.multimodal.Multimodal.decodeFrameEnergies(wavs)
      val sketch = en.select($"media_id" +:
        graft.multimodal.Multimodal.adjacentHashChunks($"energies"): _*)
      val pairs = Dedup.hammingBandedPairs(sketch, "media_id",
        maxDist = 7, nBands = 8, maxBucket = 200)
      val losers = mapped
        .join(pairs.select($"id_b".as("amid")).distinct(), Seq("amid"))
        .select($"doc_id")
      val df = mat(imgKept.join(losers, Seq("doc_id"), "left_anti"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 10: CDC chunk-overlap dedup (q288 shape, round-18) ----
    // The shift-robust BLOCK rung of the dedup ladder: leg 4 excised
    // verbatim ≥ 40-char spans stride-1, and legs 5/6 caught whole-doc
    // and containment similarity — but a doc re-shipping whole
    // paragraphs of another at shifted offsets can still slip through
    // when its overall similarity stays under both thresholds.
    // Content-defined boundaries (md5 window residue — q287's
    // realignment theorem) make shared blocks land on identical chunk
    // hashes regardless of offset; docs sharing ≥ minShared distinct
    // chunk hashes with a smaller-id survivor drop (keep-first, the
    // house rule). Pair evidence rides the SAME df-capped posting
    // machinery as the winnow leg (winnowPairsFromFps is declared
    // scheme-generic pair arithmetic; chunk hashes are its fp), so
    // pair cost is Σ C(df,2) over surviving chunk hashes. Like the
    // winnow leg, on this heavily pre-deduped fixture the leg's
    // visible number is the honest audit COST on survivors; the
    // operator's FIRING is pinned by q288's oracle and the streaming
    // writer's spec. At ×100 the leg runs at base size — upstream
    // fingerprint dedup has already collapsed replicas.
    val cdcKept = timed("cdc_dedup") {
      val chunks = Curation.cdcChunks(
        audioKept.select($"doc_id", $"text"), "doc_id", "text",
        w = 8, den = 64)
      val losers = Dedup.winnowPairsFromFps(
          chunks.select($"doc_id", $"chunk_md5".as("fp")),
          "doc_id", minShared = 2, maxDf = 50)
        .select($"id_b".as("doc_id")).distinct()
      val df = mat(audioKept.join(losers, Seq("doc_id"), "left_anti"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 11: overlapping chunking (q193 shape) ----
    val nChunks = {
      var n = 0L
      timed("chunk") {
        val S = 24; val C = 32
        val df = mat(cdcKept
          .select($"doc_id", TextFunctions.words($"text").as("w"))
          .withColumn("n", size($"w"))
          .withColumn("chunk_idx",
            explode(sequence(lit(0L), expr(s"(n - 1) div $S"))))
          .select($"doc_id", $"chunk_idx",
            least(lit(C.toLong), $"n" - $"chunk_idx" * S).as("n_tok"),
            md5(array_join(slice($"w", ($"chunk_idx" * S + 1).cast("int"),
              lit(C)), " ")).as("chunk_hash")))
        n = df.count()
        val toksRow = df.agg(sum($"n_tok")).head()
        (df, n, if (toksRow.isNullAt(0)) 0L else toksRow.getLong(0))
      }
      n
    }

    // ---- leg 12: sequence packing (q179 / Curation.packSequences) ----
    val nSeqs = {
      var n = 0L
      timed("pack") {
        val df = mat(Curation.packSequences(audioKept, "doc_id", "text",
          seqLen = 64))
        n = df.count()
        val toksRow = df.agg(sum($"n_tokens")).head()
        (df, n, if (toksRow.isNullAt(0)) 0L else toksRow.getLong(0))
      }
      n
    }

    // ---- leg 13: group split + leak audit (q195 shape) ----
    var assignedOut: DataFrame = null
    val (straddling, splitRow) = {
      var res: (Long, (Long, Long, Long, Long)) = null
      timed("split_leak") {
        val assigned = mat(audioKept
          .withColumn("split",
            when(conv(substring(md5(concat(lit("q195:"), $"source")), 1, 15),
              16, 10).cast("long") % 100 < 80, "train").otherwise("test"))
          .withColumn("fp", TextFunctions.fingerprint($"text")))
        val tot = assigned.groupBy($"split")
          .agg(count(lit(1)).as("docs"),
            sum(TextFunctions.wordCount($"text")).as("toks"))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2))).toMap
        val leak = assigned.groupBy($"fp")
          .agg(sum(when($"split" === "train", 1L).otherwise(0L)).as("tr"),
            sum(when($"split" === "test", 1L).otherwise(0L)).as("te"))
          .filter($"tr" > 0 && $"te" > 0)
          .count()
        val (trd, trt) = tot.getOrElse("train", (0L, 0L))
        val (ted, tet) = tot.getOrElse("test", (0L, 0L))
        res = (leak, (trd, trt, ted, tet))
        assignedOut = assigned
        (assigned, trd + ted, trt + tet)
      }
      res
    }

    // ---- leg 14: temperature mix of the train split (q284 shape) ----
    // The data-MIXTURE step between splitting and layout (round-16):
    // the train split is re-balanced across its `source` values at
    // T = 2 (isqrt weighting, integer-exact) to a 4/5 target — the
    // kept set a deterministic per-source (md5(id), id) rank via THE
    // shared operator (Curation.sourceMixKeep, the q284 machinery),
    // so the training corpus's source composition is a pure function
    // of the corpus. The fixture's sources are near-uniform after the
    // upstream gates, so the visible effect here is the honest COST of
    // rank-exact sampling (one count agg + broadcast targets + the
    // per-source rank window); the temperature REBALANCE itself is
    // exercised and oracled on q284's skewed mixture.
    // optional UP-SAMPLING mode (round-17): SPARK_GRAFT_MIX_UPSAMPLE=1
    // swaps the kept-rows face for the epoch-replicated one
    // (Curation.sourceMixKeepEpochs, q286) — the training multiset a
    // low-resource source's n_epochs > 1 actually expands to, flowing
    // into the shard layout as real rows (same doc_id per epoch copy:
    // md5 shard assignment co-locates a doc's epochs, and identical
    // rows tie harmlessly in the order checksum). Default OFF so the
    // committed artifact's legs stay comparable round-over-round.
    val mixUpsample = sys.env.get("SPARK_GRAFT_MIX_UPSAMPLE").contains("1")
    val mixedTrain = timed(if (mixUpsample) "mix_epochs" else "mix") {
      val train = assignedOut.filter($"split" === "train")
      val df = mat(
        if (mixUpsample)
          Curation.sourceMixKeepEpochs(train, "doc_id", "source",
            fracNum = 4, fracDen = 5, weighting = "sqrt")
        else
          Curation.sourceMixKeep(train, "doc_id", "source",
            fracNum = 4, fracDen = 5, weighting = "sqrt"))
      val (nd, nt) = census(df)
      (df, nd, nt)
    }

    // ---- leg 15: shard layout of the mixed train split (q277) ----
    // The lifecycle's last act: the mixed train corpus lands as 16
    // epoch-shuffled shards — md5-hash shard assignment, salted-hash
    // within-shard order, the order-sensitive checksum pinning each
    // shard's exact training order (q277's law verbatim). One
    // shard-keyed window sort + a shard-bounded aggregate; reported
    // docs/tokens = the train corpus laid out.
    timed("shard_layout") {
      // q277's law via THE shared operator (Curation.shardLayout) —
      // the leg and the registered/oracled query cannot drift
      val shards = mat(Curation.shardLayout(
        mixedTrain, "doc_id", "text",
        nShards = 16, epochSalt = "epoch1"))
      val a = shards.agg(coalesce(sum($"n_docs"), lit(0L)),
        coalesce(sum($"n_tokens"), lit(0L))).head()
      (shards, a.getLong(0), a.getLong(1))
    }

    val (trd, trt, ted, tet) = splitRow
    RunResult(legs.toSeq, nChunks, nSeqs, straddling, trd, trt, ted, tet)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("CURATION_E2E.json")
    // optional "xN" second arg: also run the composed pipeline against
    // the ×N ScaleStress replica and emit per-leg ratios
    val scaleFactor: Option[Int] =
      args.drop(1).headOption.map { a =>
        require(a.matches("x\\d+"), s"expected xN (e.g. x10), got $a")
        a.drop(1).toInt
      }
    val sfDir = Session.sfDir
    val spark = Session.local("graft-curation-e2e")
    import spark.implicits._

    // Untimed warmup (the Bench/E2E discipline): absorb Hadoop FS init
    // and codegen-framework JIT so leg 1 measures the scan, not the JVM
    Tables(spark, sfDir, "documents").limit(100)
      .select(TextFunctions.wordCount($"text").as("n"))
      .agg(sum($"n")).head()

    val base = runLegs(spark, sfDir)
    // acceptance check: leg 3 deduped at the FINGERPRINT level, so no
    // two surviving docs can share a normalized token set — a nonzero
    // straddle count would mean the composition is broken, fail loudly
    require(base.straddling == 0L,
      s"composed pipeline must leave ZERO straddling fingerprints, " +
        s"got ${base.straddling} — fingerprint dedup leg is broken")
    println(s"[curation] straddling fingerprints after dedup: ${base.straddling}")

    def r4(x: Double) = math.rint(x * 10000) / 10000
    def legsJson(legs: Seq[Leg]): String = legs.map { l =>
      val spread = if (l.passes > 1)
        s""","passes":${l.passes},"sec_max":${r4(l.secMax)}""" else ""
      s""""${l.name}":{"sec":${r4(l.sec)},"rows":${l.docs},"tokens":${l.tokens}$spread}"""
    }.mkString("{", ",", "}")

    // ---- optional ×N scaled run of the SAME composed pipeline ----
    val scalingJson = scaleFactor.map { factor =>
      val dst = ScaleStress.ensureReplica(spark, sfDir, factor)
      println(s"[curation] scaled run x$factor against $dst")
      val scaled = runLegs(spark, dst)
      require(scaled.straddling == 0L,
        s"x$factor run must ALSO leave zero straddling fingerprints, " +
          s"got ${scaled.straddling}")
      val ratios = base.legs.zip(scaled.legs).map { case (b, s) =>
        require(b.name == s.name, s"leg order drifted: ${b.name} vs ${s.name}")
        s""""${b.name}":${r4(if (b.sec > 0) s.sec / b.sec else 0.0)}"""
      }.mkString("{", ",", "}")
      s""","scaling":{"factor":$factor,
         |"total_sec":${r4(scaled.legs.map(_.sec).sum)},
         |"legs":${legsJson(scaled.legs)},
         |"leg_ratios":$ratios,
         |"note":"same composed pipeline on the xN exact-duplicate replica; scan-bound legs track the factor while every leg downstream of the fingerprint dedup stays near x1 — the dedup-first composition collapsing duplication before any pairwise stage"}"""
        .stripMargin.replace("\n", "")
    }.getOrElse("")

    val total = base.legs.map(_.sec).sum
    val json =
      s"""{"metric":"curation_e2e","sf_dir":"$sfDir","cpus":"${Session.cores}",
         |"total_sec":${r4(total)},"legs":${legsJson(base.legs)},
         |"chunks":${base.chunks},"sequences":${base.seqs},
         |"split":{"train_docs":${base.trainDocs},"train_tokens":${base.trainToks},
         |"test_docs":${base.testDocs},"test_tokens":${base.testToks},
         |"straddling_fingerprints":${base.straddling}},
         |"note":"composed LLM-curation lifecycle over the documents fixture; each leg eager-checkpointed so wall times do not overlap; legs reuse the registered q31/q32/q40/q42(q205-composed)/q270(winnow containment)/q82/q254-q255(image)/q258-q259(audio)/q273(substring scrub)/q193/q179/q195/q284(temperature mix)/q277(shard layout) operators"$scalingJson}"""
        .stripMargin.replace("\n", "")
    Files.writeString(Paths.get(out), json + "\n")
    println(json)
    spark.stop()
  }
}
