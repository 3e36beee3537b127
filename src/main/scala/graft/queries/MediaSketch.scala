package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE materialized dHash sketch table (media_id, c0..c3) shared by
  * the perceptual-dedup consumers — q255 banded pairs and q257 clusters
  * both need every document image's hash, and before this each re-ran
  * the PNG encode → decode → sample → pack pipeline per query. The
  * TradeGraph discipline replayed on the media modality: hashes are
  * computed ONCE per testdata generation (a [[Store]]; its doc states
  * the key, version and publish rules every store here follows) and
  * every consumer reads the parquet — at 100 TB this is exactly how
  * perceptual dedup runs in production: hash at INGEST, N analyses over
  * the sketch store (the same shape [[graft.streaming.StreamPipeline
  * .imageDedupSuppressWriter]] maintains incrementally). q254 stays on
  * the LIVE pipeline by design — it is the codec round-trip test — and
  * each consumer's DuckDB oracle still re-derives hashes from the
  * closed-form pixel arithmetic, so the hash compare keeps validating
  * this build end-to-end every round. Measured A/B at sf0.1 local[32]
  * (name-filtered Bench, sketch store warm): q255 2.22 → 1.75 s, q257
  * 5.83 → 4.16 s — the residual is the banding/contraction work the
  * consumers actually own. */
object MediaSketch {

  /** Materialized (media_id, c0, c1, c2, c3) for every document row. */
  def dhash(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "dhash_sketch") { tmp =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val pngs = graft.multimodal.Multimodal.encodeVariantPngs(
        graft.Tables(s, d, "documents").select($"doc_id"), "doc_id")
      graft.multimodal.Multimodal.sampleGrayGrid(pngs)
        .select($"media_id" +:
          graft.multimodal.Multimodal.dhashChunks($"grays"): _*)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** The 256-BIT twin (media_id, c0..c15): the wide-SKETCH upgrade of
    * the density story — where [[dhash]]'s 64 bits force a choice
    * between saturation-prone 8-bit bands (d ≤ 7, q255) and sparse
    * 16-bit bands with d ≤ 3 (q261), a 17×16 sample grid yields 256
    * comparison bits whose SIXTEEN 16-bit bands are simultaneously
    * sparse at corpus density AND pigeonhole-guaranteed to d ≤ 15 —
    * strictly more recall range than the 8-band regime ever had. The
    * wide fixture images (20×18 base) cover the larger grid. */
  /** The AUDIO twin (media_id, c0..c3): the spectral fingerprint of
    * every document's WAV clip, materialized once per testdata
    * generation like [[dhash]] — q265's near-dup pairs and q268's
    * query-by-audio search both need every clip's hash, and before
    * this each re-ran the WAV encode → RIFF parse → quarter-wave
    * powers → pack pipeline per query (measured at sf0.1: the codec
    * legs were ~2.5 s of q265's 3.5 s wall). q264 stays on the LIVE
    * pipeline by design — it is the WAV codec round-trip test — and
    * the consumers' DuckDB oracles still re-derive hashes from the
    * closed-form integer spectra, validating this build end to end. */
  def spectral(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "spectral_sketch") { tmp =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val wavs = graft.multimodal.Multimodal.encodeSpectralWavs(
        graft.Tables(s, d, "documents").select($"doc_id"), "doc_id")
      graft.multimodal.Multimodal.decodeFrameSpectra(wavs)
        .select($"media_id" +:
          graft.multimodal.Multimodal.spectralHashChunks($"p6", $"p12"): _*)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** The VIDEO twin (video, toks: array<string>): every document's
    * frame-sampled dHash token set, materialized once per testdata
    * generation. The frame-codec pass (one real PNG round-trip per
    * DISTINCT frame image — the ×100 sweep's most expensive leg while
    * it ran per-query) moves to this build; q260's near-dup pairs and
    * q272's query-by-video search both read the parquet. Codec
    * round-trip COVERAGE is unchanged: video frames go through the
    * same PNG path q254 keeps live, and both consumers' oracles still
    * re-derive every frame hash from the closed-form pixel
    * arithmetic. Fixture geometry: 4 sampled frames per video (every
    * 2nd of 8), p=1 clips the first frame, p=2 swaps frame 0 for a
    * brightness variant (distinct media id space 3·(s·8+f)). */
  def videoTokens(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "video_tok") { tmp =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val vf = graft.Tables(s, d, "documents").select($"doc_id".as("video"))
        .withColumn("p", $"video" % 3)
        .withColumn("f", explode(sequence(lit(0), lit(6), lit(2))))
        .filter(!($"p" === 1 && $"f" === 0)) // p=1: clipped first frame
        // div, not `/`: Column `/` on longs is DOUBLE division (q252)
        .withColumn("mid",
          lit(3L) * (expr("video div 3") * 8 + $"f")
            + when($"p" === 2 && $"f" === 0, 1L).otherwise(0L))
        .localCheckpoint() // feeds the distinct-codec pass AND the join
      val pngs = graft.multimodal.Multimodal.encodeVariantPngs(
        vf.select($"mid".as("doc_id")).distinct(), "doc_id")
      val grid = graft.multimodal.Multimodal.sampleGrayGrid(pngs)
      val sketch = grid.select($"media_id".as("mid"),
        concat_ws(":",
          graft.multimodal.Multimodal.dhashChunks($"grays"): _*).as("tok"))
      vf.join(sketch, "mid")
        .groupBy($"video").agg(collect_set($"tok").as("toks"))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Materialized VERIFIED near-dup pairs (id_a, id_b, dist) at the
    * house radius d ≤ 7 over [[dhash]] — the round-16 verdict's
    * "TextSketch discipline one level up": q255 (pairs) and q257 (the
    * cluster pipeline's pair stage) each re-ran banding + exact verify
    * over the same sketch store every round, which is re-deriving a
    * quantity that is fixed per testdata generation. Built ONCE via
    * the registered banded operator (8 bands, stop-cap 200 — the
    * exact q255 parameters, so reading the store IS reading q255's
    * answer), consumed by both. At 100 TB this
    * is how a perceptual-dedup service runs: the pair graph is an
    * INGEST artifact, maintained incrementally (the
    * imageDedupSuppressWriter already does exactly this with verified
    * Hamming admission), and analyses read it. Both consumers' DuckDB
    * oracles still re-derive every pair from closed-form pixel
    * arithmetic + exact all-pairs distance, so the store build stays
    * hash-verified end to end each round. */
  def dhashPairs(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "dhash_pairs_d7") { tmp =>
      graft.operators.Dedup.hammingBandedPairs(dhash(s, d), "media_id",
          maxDist = 7, nBands = 8, maxBucket = 200)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** The 256-bit twin of [[dhashPairs]]: verified pairs at the FULL
    * d ≤ 15 recall band over [[dhash256]] (16 × 16-bit bands, stop-cap
    * 200 — q266's exact parameters). q283 (grouped 8 × 32-bit bands,
    * d ≤ 7) deliberately stays on the LIVE operator: its whole claim
    * is that squaring the band space keeps pair buckets under the
    * stop-cap at ×100 densities where these 16-bit bands crowd — a
    * store-filtered q283 would inherit this build's stop-drops and
    * fake that evidence (the q271/q274 stay-live lesson). */
  def dhash256Pairs(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "dhash256_pairs_d15") { tmp =>
      graft.operators.Dedup.hammingBandedPairsChunks(dhash256(s, d),
          "media_id", maxDist = 15, nChunks = 16, maxBucket = 200)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  def dhash256(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "dhash256_sketch") { tmp =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val pngs = graft.multimodal.Multimodal.encodeVariantPngs(
        graft.Tables(s, d, "documents").select($"doc_id"), "doc_id",
        wBase = 20, hBase = 18)
      graft.multimodal.Multimodal.sampleGrayGrid(pngs, gw = 17, gh = 16)
        .select($"media_id" +:
          graft.multimodal.Multimodal.dhashChunksGrid($"grays", 17, 16): _*)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }
}
