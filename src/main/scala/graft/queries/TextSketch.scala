package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE materialized winnow-fingerprint table (doc_id, fp, pos) at
  * the house (k = 4, w = 4) scheme — the [[MediaSketch]] discipline on
  * the TEXT modality (round-16): q269's selection, q270's pair
  * postings, q271's keeper postings and q279's search index all need
  * every document's winnowed fingerprints, and before this each re-ran
  * the gram-md5 → key-pack → window-min selection per query (the
  * dominant ~2–4 s of each). Fingerprints are computed ONCE per
  * testdata generation (a [[Store]]; its doc states the key, version
  * and publish rules every store here follows) and every consumer
  * reads the parquet — at 100 TB this is exactly how a
  * fingerprint index runs in production: winnow at INGEST, N analyses
  * over the store (the same shape
  * [[graft.streaming.StreamPipeline.winnowDedupSuppressWriter]]
  * maintains incrementally, whose `_scheme` marker pins the identical
  * (k, w)).
  *
  * The winnow selection is PER-DOC (a doc's fingerprints depend only
  * on its own text), so any doc-subset consumer — q271/q279's exact
  * keepers — restricts the store with a semi-join and gets exactly
  * what a fresh derivation over the subset would produce. Consumers
  * whose TEXT differs from the base table (q285's planted quotes, the
  * lifecycle's scrubbed survivors) stay on the live derivation by
  * construction. Every consumer's DuckDB oracle still re-derives the
  * fingerprints from the md5 closed form, so the hash compare keeps
  * validating this build end-to-end every round. */
object TextSketch {

  /** Materialized (doc_id, fp, pos) for every document, k = 4, w = 4.
    * The fp column carries the `graft.scheme` = winnow_k4_w4 column-
    * metadata marker (stamped by the deriving operator, persisted in
    * the parquet footer schema) — the store-fed faces refuse a frame
    * whose scheme differs from the call's (k, w). The `_m1` tag suffix
    * retires pre-marker store generations. */
  def winnowFps(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "winnow_fp_k4w4_m1") { tmp =>
      import s.implicits._
      graft.operators.Dedup.winnowedFingerprints(
          graft.Tables(s, d, "documents").select($"doc_id", $"text"),
          "doc_id", $"text", k = 4, w = 4)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** The CDC-CHUNK table (doc_id, chunk_idx, start, chunk_len,
    * chunk_md5) at the house (w = 8, den = 64) scheme — content-defined
    * chunking IS an ingest-time operation (chunk once, N analyses:
    * exactly how storage dedup and shift-robust corpus dedup deploy
    * it), so the full-corpus consumer (q288's duplicated-chunk rollup)
    * reads this store while q287's id-bounded slice stays on the LIVE
    * operator (the registered live face); the oracle re-derives every
    * boundary and chunk md5 from the text, validating the build each
    * round. */
  def cdcChunkTable(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "cdc_chunks_w8d64") { tmp =>
      import s.implicits._
      graft.operators.Curation.cdcChunks(
          graft.Tables(s, d, "documents").select($"doc_id", $"text"),
          "doc_id", "text", w = 8, den = 64)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Materialized MinHash SIGNATURES (doc_id, mh0..mh63) for every
    * document under hash family `scheme` ("lcg" | "xx64"), k = 64 —
    * the round-17 directive's sketch store: q42/q95/q205 each re-ran
    * the token-hash → 64-slot min aggregate per query, and signatures
    * are per-doc, so any doc-subset consumer (q42/q95's id bound,
    * q205's exact keepers) restricts the store and gets exactly a
    * fresh derivation's rows. `mh0` carries the minhash_{scheme}_k64
    * scheme marker; the store-fed face refuses a mismatched frame.
    * The exact-Jaccard verify still reads TRUE token sets from the
    * text, and every consumer's oracle re-derives the sketches from
    * md5/XXH64 closed forms — the store is hash-validated end-to-end
    * each round. */
  def minhashSigs(s: SparkSession, d: String, scheme: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), s"minhash_${scheme}_k64") { tmp =>
      import s.implicits._
      graft.operators.Dedup.minhashDocSignatures(
          graft.Tables(s, d, "documents").select($"doc_id", $"text"),
          "doc_id", "text", k = 64, scheme = scheme)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Materialized word-4-gram shingle SETS (doc_id, sh_set) — the
    * per-doc arrays the containment/Jaccard family's interpreted
    * shingle HOF derives (~0.25 ms/doc): built once per testdata
    * generation, read by the store-fed faces. Sets are per-doc, so
    * doc-subset consumers restrict with a filter/semi-join. `sh_set`
    * carries the shingle_words_n4 scheme marker. */
  def shingleSets4(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "shingle_sets_n4") { tmp =>
      import s.implicits._
      graft.operators.Dedup.wordShingleSets(
          graft.Tables(s, d, "documents").select($"doc_id", $"text"),
          "doc_id", $"text", n = 4)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Materialized word-4-gram TF POSTINGS (doc, w, tf) — the weighted-
    * Jaccard family's occurrence-count substrate, derived once per
    * testdata generation by [[graft.operators.Dedup.wordTf]] (`w`
    * scheme-marked tf_words_n4). Frequencies are per-doc (subset
    * restriction = fresh derivation); the df CAP is not — the store-fed
    * face recomputes df over the restricted doc space, so keeper
    * consumers see keeper frequencies. */
  def tfPostings4(s: SparkSession, d: String): DataFrame = {
    val path = Store.dir(s, d, Seq("documents"), "tf_postings_n4") { tmp =>
      import s.implicits._
      graft.operators.Dedup.wordTf(
          graft.Tables(s, d, "documents").select($"doc_id", $"text"),
          "doc_id", "text", n = 4)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** The SUBSTRING twin (doc_id, pos, wh): every document's stride-1
    * width-40 window md5s — exactly the rows
    * [[graft.streaming.StreamPipeline.substringScrubWriter]] persists
    * as its index at ingest, materialized once for the batch
    * consumers: q273's excision, q274's keeper-restricted dedup-first
    * composition, and BOTH sides of q282's decontamination (corpus and
    * bench are row-subsets of the one table). Windows are per-doc, so
    * any doc-subset restriction equals a fresh derivation over the
    * subset. q275/q280 stay on the LIVE rolling-hash engine by design
    * (the O(n) production path is the thing under test), and the
    * oracles re-derive every window md5 from the text — the store is
    * validated end-to-end each round. */
  def substringWh(s: SparkSession, d: String): DataFrame = {
    // wh carries graft.scheme = substr_w40 (see winnowFps's note)
    val path = Store.dir(s, d, Seq("documents"), "substring_wh_w40_m1") { tmp =>
      import s.implicits._
      graft.operators.Dedup.substringWindowHashes(
          graft.Tables(s, d, "documents").select($"doc_id", $"text"),
          "doc_id", "text", width = 40)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }
}
