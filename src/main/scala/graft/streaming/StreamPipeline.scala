package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.functions.TripFeatures

/** The reference's streaming path (sparkConsumer.py) rebuilt Spark-first:
  * one transform function shared verbatim between batch and streaming
  * plans (Structured Streaming's core contract), watermarked windowed
  * aggregates as the stateful extension, and a foreachBatch sink with the
  * reference's create-if-absent + catch-log-continue semantics.
  *
  * Differences from the reference, on purpose (SURVEY.md §2.8):
  *  - no Python UDF hop: the whole per-row chain stays in one
  *    WholeStageCodegen span per micro-batch;
  *  - checkpointing is configured (the reference had none — restarts
  *    lost offsets);
  *  - no pre-write count (the reference counted every batch only to log
  *    the number; `StreamingQueryProgress.numInputRows` carries it) and
  *    no blanket cache: a single-read writer computes its batch once,
  *    inside its own write job, and only a writer that reads its batch
  *    twice persists it.
  */
object StreamPipeline {

  /** P1 — Kafka-value JSON decode: bytes → string → from_json(schema) →
    * flatten. PERMISSIVE: malformed JSON yields an all-null row, exactly
    * like sparkConsumer.py:66. */
  def decodeJson(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("data"))
      .select("data.*")

  /** The full consumer transform: decode → parse timestamps (strict ISO,
    * E1) → enrich (9 derived columns) → P4 filter. Works identically on a
    * bounded frame and a streaming one. */
  def consumerTransform(raw: DataFrame, schema: StructType,
                        pickupCol: String = "tpep_pickup_datetime",
                        dropoffCol: String = "tpep_dropoff_datetime"): DataFrame = {
    val decoded = decodeJson(raw, schema)
      .withColumn(pickupCol, TripFeatures.parseIsoStrict(col(pickupCol)))
      .withColumn(dropoffCol, TripFeatures.parseIsoStrict(col(dropoffCol)))
    TripFeatures.dropZeroOrNull(
      TripFeatures.enrich(decoded, pickupCol, dropoffCol), "passenger_count")
  }

  /** Watermarked tumbling-window aggregate — the stateful-streaming
    * extension (§2.8: absent in the reference). State is bounded by the
    * watermark; keys = (window, event_type). */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     windowLen: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** foreachBatch sink with reference semantics: create-if-absent target,
    * append, catch-log-continue (sparkConsumer.py:103-163). The writer is
    * injected so JDBC/parquet targets share the loop. The batch is
    * neither counted nor cached here: a writer that reads its batch once
    * computes it inside its own write job, and a writer that reads it
    * twice persists it itself.
    *
    * Unless the caller already chose one, the session's checkpoint file
    * manager is set to [[LocalCheckpointFileManager]], which writes the
    * per-batch offset and commit logs on a local disk with java.nio. It
    * is set here because this is the engine's only streaming start, and
    * the sessions that reach it are built by callers of all kinds. */
  def foreachBatchSink(df: DataFrame, checkpointDir: String,
                       writer: (DataFrame, Long) => Unit): StreamingQuery = {
    val conf = df.sparkSession.conf
    if (conf.getOption(CheckpointManagerKey).isEmpty)
      conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        try writer(batch.toDF(), id)
        catch {
          case e: Exception =>
            // parity: log and drop the batch rather than kill the query
            System.err.println(s"[stream] batch $id failed: ${e.getMessage}")
        }
      }
      .start()
  }

  /** Spark's session key naming the checkpoint file manager class. */
  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Parquet-append batch writer (the JDBC-append analog testable without
    * a database; swap for Sinks.jdbcAppend in production). */
  def parquetAppendWriter(path: String): (DataFrame, Long) => Unit =
    (batch, _) => batch.write.mode("append").parquet(path)

  // --------------------------------------------------------------------
  // Latest-wins upsert sink: manifest-committed, key-hash-bucketed
  // --------------------------------------------------------------------

  private def manifestPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "_MANIFEST")

  /** Manifest = writer epoch + (bucket → live data path, relative to the
    * snapshot root). The manifest IS the snapshot: files not reachable
    * from it are invisible to readers, which is what makes the commit
    * protocol atomic. Epoch lines (`#epoch=N`) fence zombie writers —
    * see [[upsertLatestWriter]]. */
  private def readManifestMeta(dir: String): (Long, Map[Int, String]) = {
    val p = manifestPath(dir)
    if (!java.nio.file.Files.exists(p)) (0L, Map.empty)
    else {
      import scala.jdk.CollectionConverters._
      val lines = java.nio.file.Files.readAllLines(p).asScala.filter(_.nonEmpty)
      val epoch = lines.collectFirst {
        case l if l.startsWith("#epoch=") => l.stripPrefix("#epoch=").toLong
      }.getOrElse(0L)
      val m = lines.filterNot(_.startsWith("#")).map { l =>
        val Array(b, rel) = l.split("\t", 2)
        b.toInt -> rel
      }.toMap
      (epoch, m)
    }
  }

  private def readManifest(dir: String): Map[Int, String] =
    readManifestMeta(dir)._2

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Read the committed upsert snapshot (None before the first commit).
    * Resolves the manifest and unions the live per-bucket parquet dirs —
    * a reader never sees a half-written state, because data files become
    * visible only via the atomic manifest swap. */
  def readUpsertSnapshot(spark: SparkSession, snapshotDir: String): Option[DataFrame] = {
    val m = readManifest(snapshotDir)
    if (m.isEmpty) None
    else Some(spark.read.parquet(m.values.toSeq.sorted.map(r => s"$snapshotDir/$r"): _*))
  }

  /** Latest-wins upsert writer for foreachBatch: merges each micro-batch
    * into a keyed parquet snapshot by re-ranking (current snapshot ∪
    * batch) on the EVENT-time order columns — the incremental form of the
    * q80 CDC query, and arrival-order-independent: a late batch carrying
    * an older version of a key cannot regress the snapshot, because rank
    * is taken over event time, not processing time.
    *
    * Scale + crash posture (the two things a naive overwrite gets wrong):
    *  - **bucketed incremental rewrite**: the snapshot is partitioned by
    *    `pmod(hash(key), nBuckets)`; a micro-batch reads and rewrites
    *    ONLY the buckets its keys hash into, so per-batch IO is
    *    O(touched buckets), not O(snapshot) — at 100 TB the snapshot
    *    rewrite amplification is bounded by batch key spread;
    *  - **atomic manifest commit**: new bucket files are written to a
    *    fresh `merge-<batchId>-a<attempt>` dir first, then a `_MANIFEST`
    *    mapping bucket → live path is swapped in via temp-file + atomic
    *    rename. A crash at ANY point leaves the previous manifest — and
    *    thus the previous snapshot — fully intact. The attempt suffix is
    *    the first index whose dir the CURRENT manifest does not
    *    reference, so a retry of a batchId whose earlier attempt already
    *    committed can never overwrite files the live snapshot still
    *    reads (the lazy merge plan reads the old attempt's files while
    *    the new attempt writes elsewhere); re-merging the same rows is a
    *    semantic no-op because rank is over event time. Unreferenced
    *    merge dirs are GC'd only after a successful swap.
    *  - **epoch fence**: each writer instance claims epoch = (manifest
    *    epoch at creation) + 1 and stamps it into every commit. A commit
    *    observing a manifest epoch LARGER than its own is a zombie — a
    *    foreachBatch retry loop that survived a driver restart while a
    *    new query took over the snapshot — and fails loudly instead of
    *    interleaving half-merged state with the new writer's commits.
    *
    * This is the minimal slice of what a table format (Delta/Iceberg)
    * provides — snapshot-isolated commits over immutable files plus
    * writer fencing; swap in a real MERGE INTO when one is available.
    * Single-writer by contract (one streaming query owns the snapshot),
    * like foreachBatch itself — the fence turns a contract violation
    * from silent corruption into an error. */
  def upsertLatestWriter(spark: SparkSession, snapshotDir: String,
                         keyCol: String, orderCols: Seq[String],
                         nBuckets: Int = 16): (DataFrame, Long) => Unit = {
    val writerEpoch = readManifestMeta(snapshotDir)._1 + 1
    (batch, batchId) => {
      import org.apache.spark.sql.expressions.Window
      val bucketOf = pmod(hash(col(keyCol)), lit(nBuckets))
      val (curEpoch, manifest) = readManifestMeta(snapshotDir)
      if (curEpoch > writerEpoch)
        throw new IllegalStateException(
          s"upsert writer fenced: snapshot $snapshotDir is at epoch $curEpoch, " +
            s"this writer holds epoch $writerEpoch — a newer writer owns the " +
            "snapshot; refusing to commit stale state")
      // the batch is read twice (the dirty-bucket collect, then the merge
      // write): persist it so it is computed once
      val b = batch.withColumn("__bucket", bucketOf).persist()
      try {
        // ≤ nBuckets ints — bounded driver state, not a data collect
        val dirty = b.select(col("__bucket")).distinct()
          .collect().map(_.getInt(0)).sorted
        if (dirty.nonEmpty) {
          val livePaths = dirty.toSeq.flatMap(manifest.get).map(r => s"$snapshotDir/$r")
          val current =
            if (livePaths.isEmpty) None
            else Some(spark.read.parquet(livePaths: _*).withColumn("__bucket", bucketOf))
          val all = current.map(b.unionByName(_)).getOrElse(b)
          val w = Window.partitionBy(col(keyCol))
            .orderBy(orderCols.map(c => col(c).desc): _*)
          // never write into a dir the live snapshot references: a prior
          // attempt of this batchId may have committed already, and
          // mode(overwrite) would delete its files under the merge plan
          val referenced = manifest.values.map(_.takeWhile(_ != '/')).toSet
          val mergeDir = Iterator.from(0).map(a => f"merge-$batchId%06d-a$a")
            .filterNot(referenced).next()
          all.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
            .repartition(col("__bucket")) // one file per bucket, not per task
            .write.mode("overwrite").partitionBy("__bucket")
            .parquet(s"$snapshotDir/$mergeDir")
          val updated = manifest ++
            dirty.map(bk => bk -> s"$mergeDir/__bucket=$bk").toMap
          val tmp = java.nio.file.Paths.get(snapshotDir, "_MANIFEST.tmp")
          java.nio.file.Files.writeString(tmp,
            (s"#epoch=$writerEpoch" +:
              updated.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }).mkString("\n"))
          java.nio.file.Files.move(tmp, manifestPath(snapshotDir),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // GC: a merge dir dies only when no bucket references it anymore
          val live = updated.values.map(_.takeWhile(_ != '/')).toSet
          Option(new java.io.File(snapshotDir).listFiles).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName.startsWith("merge-") && !live(f.getName))
            .foreach(deleteRecursively)
        }
      } finally b.unpersist(): Unit
    }
  }

  /** Streaming exact dedup with bounded state: drops re-deliveries of the
    * same key seen within the watermark horizon, then state for expired
    * event times is evicted. The streaming face of the batch exact-dedup
    * operator (graft.operators.Dedup) — at-least-once sources (the
    * reference's Kafka producer re-sends on retry) become effectively-once
    * under it. `keys` must NOT include the event-time column (the
    * within-watermark variant treats time as the expiry dimension, not an
    * identity component). */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, watermark: String,
                           keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-dup suppression — the ingest-time face of the batch
    * MinHash-LSH pipeline ([[graft.operators.Dedup.minhashNearDups]]):
    * each micro-batch of (id, text) docs is banded, checked against a
    * persistent bucket index of everything previously admitted, and only
    * docs touching no existing bucket (and no lower-id bucket-mate within
    * the batch) are appended to the output and have their buckets
    * appended to the index. At 100 TB this is how near-dup filtering
    * actually runs — incrementally at ingest, not as a periodic full-
    * corpus O(corpus) recomputation; the per-batch cost is one equi-join
    * of the batch's `bands·docs` bucket rows against the index.
    *
    * Exactly-once with ONE commit point: both the survivor parquet and
    * the index-delta parquet for `batch-N` are written BEFORE the single
    * `batch-N.commit` marker is created (in `outDir`); the index read
    * unions only deltas whose OUT marker exists. A crash anywhere before
    * the marker leaves both dirs invisible and the redelivered batchId
    * rewrites them (mode Overwrite — idempotent); a crash after skips
    * cleanly. Two markers would reintroduce the torn state this protocol
    * exists to kill: with an index-side marker committed first, a replay
    * would find the batch's OWN buckets in the index and suppress every
    * one of its docs.
    *
    * Suppression is per-bucket-collision (any shared band ⇒ suppressed,
    * no verify pass): streaming admission can't re-verify against docs
    * it dropped, so the filter trades the batch pipeline's exact-Jaccard
    * confirmation for bounded state — the standard ingest-time posture
    * (tune k/bands for precision; the spec pins the semantics).
    *
    * Housekeeping at scale: the index read unions one delta dir per
    * committed batch, so listing and plan size grow with batch count —
    * periodically fold them with [[compactNearDupIndex]] (base
    * generations promoted by a covered-set metadata file; the outDir
    * batch markers are dual-purpose — they gate SURVIVOR visibility
    * too — so compaction must never touch them, which is exactly what
    * the generation scheme avoids). */
  def nearDupSuppressWriter(indexDir: String, outDir: String,
                            id: String, text: String,
                            k: Int = 16, bands: Int = 4): (DataFrame, Long) => Unit = {
    import graft.operators.Dedup
    bucketSuppressWriter(indexDir, outDir, id,
      bucketsOf = { b =>
        // scheme pin (the `_bands` protocol on the text modality): the
        // persisted band hashes are only comparable under the same
        // (hash scheme, k, bands) — a reopened writer with a drifted
        // config would match nothing and admit every duplicate
        pinIndexScheme(b.sparkSession, indexDir, "_scheme",
          s"minhash-lcg k=$k bands=$bands")
        Dedup.lshBands(
          Dedup.minhashSignaturesLcg(Dedup.tokens(b, id, text), id, k),
          id, k, bands)
      },
      // any shared 128-bit band hash suppresses (no verify — the text
      // posture documented above; md5 band values make spurious
      // collisions negligible, unlike narrow perceptual bands)
      hitExistingOf = (b, idx) => b.join(
        idx.select(col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"), "left_semi").select(col(id)),
      hitWithinOf = { b =>
        // min id per bucket wins; the window frame is one LSH bucket —
        // bounded by bucket occupancy, never batch size
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("band_hash"))
        b.withColumn("__own", min(col(id)).over(w))
          .filter(col(id) > col("__own")).select(col(id))
      })
  }

  /** [[bucketSuppressWriter]] with the WINNOWING fingerprint rule
    * (round-15): buckets are each arrival's distinct winnowed
    * fingerprints ([[graft.operators.Dedup.winnowedFingerprints]] —
    * the q269/q270 machinery, one shared derivation with the batch
    * operator), and suppression is a COUNT THRESHOLD — an arrival
    * sharing ≥ `minShared` distinct fingerprint hashes with one
    * already-admitted document is dropped. This catches what the
    * MinHash band writer structurally cannot: CONTAINMENT arrivals
    * (a long doc quoting an admitted one shares the quoted run's
    * fingerprints — guaranteed for runs of ≥ k+w−1 tokens — while its
    * whole-set MinHash signature looks nothing like the original's,
    * so no LSH band ever collides). Posting-list discipline at the
    * index: fingerprints held by more than `maxPosting` admitted docs
    * are skipped BEFORE the join (the q270 stop-gram cap at ingest —
    * per-arrival join fan-out stays ≤ maxPosting per fingerprint;
    * the trade, as in batch, is that corpus-boilerplate grams stop
    * contributing evidence — tune minShared with it). Within a batch
    * the smaller id wins a pair, matching the house keep-first
    * convention; pair evidence is counted over DISTINCT hashes, the
    * exact q270 semantics (StreamingSpec pins stream == batch on a
    * shared fixture). No verify payload is needed: the threshold
    * itself is the match rule, so index rows stay (id, band_idx,
    * band_hash) and the occupancy telemetry applies unchanged. */
  def winnowDedupSuppressWriter(indexDir: String, outDir: String,
                                id: String, text: String,
                                k: Int = 4, w: Int = 4,
                                minShared: Int = 3,
                                maxPosting: Int = 200): (DataFrame, Long) => Unit = {
    import graft.operators.Dedup
    countThresholdWriter(indexDir, outDir, id, minShared, maxPosting) { b =>
      // scheme pin: the persisted fingerprints are (k, w)-dependent —
      // a reopened writer with either drifted derives values that
      // match NOTHING in the index and admits every duplicate, the
      // silent-total failure the marker refuses. minShared and
      // maxPosting are deliberately NOT pinned: they are read-side
      // POLICY over scheme-stable rows (every hash still compares;
      // retuning the threshold mid-stream is a legitimate, visible
      // operation — the posting-cap A/B spec reopens one index under
      // different thresholds by design, and seeding a posting-2 cap
      // fixture is impossible under a pinned threshold)
      pinIndexScheme(b.sparkSession, indexDir, "_scheme",
        s"winnow k=$k w=$w")
      Dedup.winnowedFingerprints(b.select(col(id), col(text)), id,
          col(text), k, w)
        .select(col(id), lit(0).as("band_idx"),
          col("fp").cast("string").as("band_hash"))
        .distinct() // count DISTINCT shared hashes — q270's rule
    }
  }

  /** The count-threshold rule shared by [[winnowDedupSuppressWriter]]
    * and [[cdcDedupSuppressWriter]]: an arrival is dropped when it
    * shares ≥ `minShared` of its (distinct, per doc) `bucketsOf` hashes
    * with ONE admitted document, postings held by more than
    * `maxPosting` admitted docs skipped before the join. Within a batch
    * the larger id of any ≥ `minShared` pair drops, even when its
    * partner is itself suppressed by an earlier arrival (the image
    * writer's pairwise keep-first convention) — within-batch postings
    * are bounded by micro-batch size. */
  private def countThresholdWriter(indexDir: String, outDir: String, id: String,
                                   minShared: Int, maxPosting: Int)
                                  (bucketsOf: DataFrame => DataFrame): (DataFrame, Long) => Unit = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxPosting >= 1,
      s"maxPosting=$maxPosting: a cap below 1 drops every posting")
    bucketSuppressWriter(indexDir, outDir, id, bucketsOf,
      hitExistingOf = { (b, idx) =>
        val bounded = idx.join(
          idx.groupBy(col("band_hash")).agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= maxPosting)
            .select(col("band_hash")),
          Seq("band_hash"), "left_semi")
        b.select(col(id), col("band_hash"))
          .join(bounded.select(col("band_hash"), col(id).as("__other")),
            Seq("band_hash"))
          .groupBy(col(id), col("__other"))
          .agg(count(lit(1)).as("__sh"))
          .filter(col("__sh") >= minShared)
          .select(col(id))
      },
      hitWithinOf = { b =>
        val l = b.select(col(id).as("__a"), col("band_hash"))
        val r = b.select(col(id).as("__b"), col("band_hash"))
        l.join(r, Seq("band_hash"))
          .filter(col("__a") < col("__b"))
          .groupBy(col("__a"), col("__b"))
          .agg(count(lit(1)).as("__sh"))
          .filter(col("__sh") >= minShared)
          .select(col("__b").as(id))
      })
  }

  /** [[bucketSuppressWriter]] with the CONTENT-DEFINED-CHUNK rule
    * (round-18) — the streaming twin of the batch CDC chunk store
    * ([[graft.queries.TextSketch.cdcChunkTable]] / q288, previously the
    * one sketch index with no incremental ingest path): each arrival is
    * chunked by [[graft.operators.Curation.cdcChunks]]'s local
    * boundary rule (md5 of the trailing w-char window, residue 0 mod
    * den — an insertion shifts only the chunk it lands in), and an
    * arrival sharing ≥ `minShared` DISTINCT chunk hashes with one
    * already-admitted document is dropped. This is shift-robust
    * BLOCK-level evidence the other writers don't carry: a doc that
    * re-ships whole paragraphs of an admitted doc at different offsets
    * shares those paragraphs' chunks verbatim (the storage-dedup
    * posture), where the MinHash writer needs whole-set similarity and
    * the winnow writer samples gram fingerprints. Chunks are coarser
    * than winnow grams (≈ bytes/den per doc), so the index is the
    * CHEAPEST of the five — and correspondingly blunter: sub-chunk
    * edits break that chunk's hash, so tune (den, minShared) for the
    * granularity the corpus needs.
    *
    * Index rows are the family shape (id, band_idx = 0, band_hash =
    * chunk_md5), distinct per doc, so [[compactNearDupIndex]],
    * [[janitorNearDupIndex]] and [[nearDupIndexStats]] apply verbatim;
    * the `_scheme` pin records (w, den) — chunk boundaries AND hashes
    * are both (w, den)-dependent, the silent-total-mismatch failure the
    * marker exists to refuse. `minShared`/`maxPosting` stay read-side
    * policy over scheme-stable rows (the winnow writer's rationale).
    * Postings held by more than `maxPosting` admitted docs (corpus
    * boilerplate blocks) are skipped before the join — per-arrival
    * fan-out stays ≤ maxPosting per chunk hash. Within a batch the
    * smaller id wins a pair (house keep-first); when batch boundaries
    * respect id order, admitted docs' index rows equal the batch
    * operator's distinct (id, chunk_md5) projection over the same docs
    * — StreamingSpec pins stream == batch chunk equality. */
  def cdcDedupSuppressWriter(indexDir: String, outDir: String,
                             id: String, text: String,
                             w: Int = 8, den: Int = 64,
                             minShared: Int = 2,
                             maxPosting: Int = 200): (DataFrame, Long) => Unit = {
    import graft.operators.Curation
    countThresholdWriter(indexDir, outDir, id, minShared, maxPosting) { b =>
      pinIndexScheme(b.sparkSession, indexDir, "_scheme",
        s"cdc w=$w den=$den")
      Curation.cdcChunks(b.select(col(id), col(text)), id, text, w, den)
        .select(col(id), lit(0).as("band_idx"),
          col("chunk_md5").as("band_hash"))
        .distinct() // count DISTINCT shared chunk hashes per pair
    }
  }

  /** Substring SCRUB at ingest — the streaming face of the batch
    * [[graft.operators.Dedup.substringDedup]] (Lee et al. ACL'22,
    * online form): arrivals are not DROPPED but TRANSFORMED — every
    * span whose stride-1 window hash was already admitted (any earlier
    * batch, or an earlier (id, pos) occurrence within this batch) is
    * excised before the doc lands, so the admitted corpus never
    * accumulates a second copy of any ≥ `width`-char substring. This
    * is the suppression family's third match SEMANTICS (bucket
    * collision → drop; count threshold → drop; here: hash hit →
    * excise), and it composes with the drop writers — run it after a
    * near-dup filter to scrub boilerplate out of the survivors.
    *
    * The index rides the ENTIRE shared lifecycle unchanged — rows are
    * (id, band_idx = 0, band_hash = window md5), so
    * [[compactNearDupIndex]], [[janitorNearDupIndex]] and
    * [[nearDupIndexStats]] apply verbatim (occupancy telemetry reads
    * as posting length per window hash). The delta persists every RAW
    * window hash of the batch — including hashes inside spans that
    * were themselves just excised: their FIRST copy is admitted
    * (possibly in this very batch), and any later arrival must excise
    * against it. Index growth is one row per distinct (doc, window
    * content) pair — posting-proportional, i.e. bounded by ADMITTED
    * corpus bytes (the same order as the batch operator and the
    * paper's suffix array; rows are kept per-doc rather than distinct
    * on the hash alone because [[nearDupIndexStats]]'s occupancy read
    * is posting length per window hash); compaction keeps the read to
    * one generation.
    *
    * Determinism contract: within a batch the rule is the batch
    * operator's ((id, pos)-packed first occurrence); across batches,
    * arrival order replaces id order. When batch boundaries respect id
    * order the two coincide and stream == batch EXACTLY — StreamingSpec
    * pins the two-batch replay against q273's output row-for-row.
    * Crash safety is the family's marker protocol: output and index
    * delta land before the `.commit` marker, and a replayed batch id
    * is a no-op. */
  def substringScrubWriter(indexDir: String, outDir: String,
                           id: String, text: String,
                           width: Int = 40): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      import graft.io.Fs
      import graft.operators.Dedup
      val spark = batch.sparkSession
      val name = f"batch-$batchId%06d"
      if (!Fs.exists(spark, s"$outDir/$name.commit")) {
        // scheme pin: the persisted window md5s are width-dependent —
        // a reopened writer with a different width would find no hash
        // hits and admit every duplicated span verbatim
        pinIndexScheme(spark, indexDir, "_scheme", s"substring width=$width")
        val committed = committedIndexPaths(spark, indexDir, outDir)
        val seen =
          if (committed.isEmpty) None
          else Some(spark.read.parquet(committed: _*)
            .select(col("band_hash").as("wh")))
        // the batch is read twice (the window hashes, then the scrub):
        // persist it so it is computed once
        val b = batch.select(col(id), col(text)).persist()
        try {
          // ONE window-hash pass per batch: the stride-1 md5 stream is
          // the writer's dominant cost, and both the scrub and the index
          // delta need it — materialize once, feed both (round-15
          // self-review catch; previously each job re-ran the explode)
          val wins = Dedup.substringWindowHashes(b, id, text, width)
            .transform(GraftGlue.materialize(_))
          Dedup.substringScrub(b, id, text, width, seen, Some(wins))
            .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
          wins
            .select(col(id), lit(0).as("band_idx"), col("wh").as("band_hash"))
            .distinct()
            .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/$name")
          Fs.touch(spark, s"$outDir/$name.commit")
        } finally b.unpersist(): Unit
      }
    }

  /** Seed a [[substringScrubWriter]] index with a BENCHMARK window set
    * — decontamination AT INGEST (round-16, the streaming face of the
    * batch [[graft.operators.Dedup.substringDecontaminate]]): the
    * bench corpus's stride-1 window hashes land as a PROMOTED BASE
    * GENERATION (`base-0` + empty-coverage meta, exactly what
    * [[compactNearDupIndex]] would produce), so every later batch's
    * hash-hit excision treats benchmark text as "already admitted" —
    * a verbatim eval quote is cut out of every arrival before it ever
    * reaches the corpus, while the writer's own dedup semantics ride
    * on top unchanged. The seed survives compaction (it folds into
    * the next generation like any base) and the occupancy telemetry
    * reads it like any other posting set.
    *
    * Call BEFORE the stream starts (or at any pause): a batch in
    * flight while the seed promotes may miss it (its index paths were
    * already resolved), which for decontamination means one batch of
    * un-scrubbed admissions — rerun those docs through the batch
    * operator if that window matters. `id`/`text` must be the same
    * column names the writer uses: the index dirs are unioned by
    * name, and a drifted id column would null out under compaction.
    * Refuses an already-seeded or already-compacted index (base-0
    * exists) — seeding is a create-time operation, not an append. */
  def seedSubstringIndex(spark: SparkSession, indexDir: String,
                         bench: DataFrame, id: String, text: String,
                         width: Int = 40): Unit = {
    import graft.operators.Dedup
    seedBase(spark, indexDir, s"substring width=$width") {
      Dedup.substringWindowHashes(
          bench.select(col(id), col(text)), id, text, width)
        .select(col(id), lit(0).as("band_idx"), col("wh").as("band_hash"))
        .distinct()
    }
  }

  /** Pins `scheme`, refuses an index that already holds a promoted
    * generation, then writes `rows` as the promoted `base-0` with an
    * empty-coverage meta — the create-time step every seeder shares. */
  private def seedBase(spark: SparkSession, indexDir: String, scheme: String)
                      (rows: => DataFrame): Unit = {
    import graft.io.Fs
    pinIndexScheme(spark, indexDir, "_scheme", scheme)
    // refuse ANY promoted generation, not just gen 0: readers union
    // only the NEWEST base, so seeding under an existing base-N would
    // leave base-0 permanently invisible — a silent no-op seed
    val bases = Fs.listWithSuffix(spark, indexDir, ".meta")
    require(bases.isEmpty,
      s"$indexDir already holds promoted generation(s) " +
        s"${bases.mkString(", ")} — seed only a fresh index")
    rows.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/base-0")
    // empty covered set: every writer delta stays visible alongside
    Fs.writeTextAtomic(spark, s"$indexDir/base-0.meta", "")
  }

  /** Seed a [[winnowDedupSuppressWriter]] index with a BENCHMARK
    * fingerprint set — the FUZZY rung of ingest decontamination
    * (round-17, completing the ladder [[seedSubstringIndex]] started):
    * the substring seeder catches VERBATIM quotes only — one edited
    * token breaks every 40-char window crossing it, so a lightly
    * edited eval item still lands. Seeding the winnow index puts the
    * bench corpus's winnowed fingerprints in as a promoted base
    * generation (`base-0` + empty-coverage meta, exactly what
    * [[compactNearDupIndex]] would produce), so the writer's
    * count-threshold rule treats bench docs as "already admitted":
    * an arrival sharing ≥ minShared distinct fingerprints with ONE
    * bench doc is DROPPED at ingest — and the q269 theorem makes the
    * recall floor precise (any unbroken shared run of ≥ k+w−1 tokens
    * guarantees a shared fingerprint, so an edited quote contributes
    * one fingerprint per surviving run between edits). This is the
    * streaming face of the batch [[graft.operators.Dedup
    * .winnowDecontaminate]] — with drop-at-arrival semantics, because
    * a suppression writer's output IS the admitted corpus (the batch
    * operator flags for review; an ingest gate has to decide).
    * minShared stays read-side policy as on the writer — the seeder
    * pins only the (k, w) scheme.
    *
    * Same contracts as the substring seeder: call BEFORE the stream
    * starts; `id`/`text` must be the writer's column names; refuses an
    * already-promoted index (seeding is create-time, not append);
    * bench ids share the index's id space, so reserve a range if
    * provenance matters — suppression only needs per-doc
    * distinctness. */
  def seedWinnowIndex(spark: SparkSession, indexDir: String,
                      bench: DataFrame, id: String, text: String,
                      k: Int = 4, w: Int = 4): Unit = {
    import graft.operators.Dedup
    seedBase(spark, indexDir, s"winnow k=$k w=$w") {
      Dedup.winnowedFingerprints(bench.select(col(id), col(text)), id,
          col(text), k, w)
        .select(col(id), lit(0).as("band_idx"),
          col("fp").cast("string").as("band_hash"))
        .distinct() // the writer's row shape: distinct hashes per doc
    }
  }

  /** [[bucketSuppressWriter]] on the IMAGE modality (round-14): each
    * micro-batch of (id, pngBytes) rows runs the q254 machinery — real
    * codec decode + 9×8 gray sample in the partition-wise codec slot,
    * codegen'd dHash — its 8×8-bit Hamming bands become the bucket rows
    * (derived by the SAME [[graft.operators.Dedup.hammingBandExprs]] as
    * batch q255 — one shared derivation, no silent divergence), and —
    * unlike the text writer — every band collision is VERIFIED at exact
    * chunked Hamming ≤ `maxDist` before suppressing. The verify stage
    * is not optional here: an 8-bit band space holds only 8×256 = 2048
    * keys, so collision-only admission would saturate and permanently
    * suppress every arrival past a ~256-image ceiling (round-14 review
    * catch — spec-pinned by admitting a band-colliding far image). The
    * index rows therefore carry the full sketch chunks alongside each
    * band, and recall keeps the batch pigeonhole guarantee (d ≤ 7 ⇒
    * some band collides ⇒ the verify sees the pair) while precision is
    * the exact distance test, matching q255's semantics at ingest.
    * The index/commit/compaction protocol is shared — the modality
    * only changes bucket derivation and the match rule.
    *
    * Cost posture past saturation: with the default `nBands = 8`, once
    * the 2048-key band space fills,
    * each arrival's verify join touches O(admitted/2048) index rows
    * per band — linear growth the BATCH side caps with its stop-bucket
    * filter. The streaming trade is declared rather than capped: a
    * dropped bucket at ingest would silently ADMIT true duplicates
    * (the opposite failure to batch, where dropped pairs still reach a
    * later exact pass). A corpus large enough to feel this keys on
    * `nBands = 4` — the SAME wide-band regime batch q261 registers:
    * 16-bit bands give a 4×65,536-key space, lifting the occupancy
    * ceiling three orders of magnitude at the cost of the tighter
    * pigeonhole guarantee d ≤ 3 (`maxDist` must shrink with it — the
    * require below ties them); a wider sketch (256-bit dHash) is the
    * upgrade past that. Compaction keeps the index read to one
    * generation either way. The band scheme is PART OF THE PERSISTED
    * INDEX'S CONTRACT: rows written under one `nBands` are meaningless
    * to a reader deriving the other width (16-bit values never equal
    * 8-bit values, so a mixed index silently admits every duplicate) —
    * the writer records the scheme in a create-only `_bands` marker on
    * first use and every later batch REFUSES a mismatch loudly. */
  def imageDedupSuppressWriter(indexDir: String, outDir: String,
                               id: String, content: String,
                               maxDist: Int = 7,
                               nBands: Int = 8): (DataFrame, Long) => Unit =
    sketchDedupSuppressWriter(indexDir, outDir, id, maxDist, nBands) { b =>
      implicit val sp: org.apache.spark.sql.SparkSession = b.sparkSession
      val grid = graft.multimodal.Multimodal.sampleGrayGrid(
        b.select(col(id).cast("long").as("media_id"), col(content).as("content")))
      grid.select(col("media_id").as(id) +:
        graft.multimodal.Multimodal.dhashChunks(col("grays")): _*)
    }

  /** [[sketchDedupSuppressWriter]] on the AUDIO modality (round-15):
    * each micro-batch of (id, wavBytes) rows runs the q258 machinery —
    * lock-free RIFF parse + frame energies in the partition-wise codec
    * slot, codegen'd adjacent-energy hash — and the shared banding /
    * verify / index protocol does the rest. One more one-line proof
    * that the suppression core is modality-generic: only the
    * batch → sketch derivation differs from the image writer. */
  def audioDedupSuppressWriter(indexDir: String, outDir: String,
                               id: String, content: String,
                               maxDist: Int = 7,
                               nBands: Int = 8): (DataFrame, Long) => Unit =
    sketchDedupSuppressWriter(indexDir, outDir, id, maxDist, nBands) { b =>
      implicit val sp: org.apache.spark.sql.SparkSession = b.sparkSession
      val en = graft.multimodal.Multimodal.decodeFrameEnergies(
        b.select(col(id).cast("long").as("media_id"), col(content).as("content")))
      en.select(col("media_id").as(id) +:
        graft.multimodal.Multimodal.adjacentHashChunks(col("energies")): _*)
    }

  /** [[sketchDedupSuppressWriter]] on the EMBEDDING modality
    * (round-15): the sketch is the 64-bit hyperplane-sign SimHash of
    * the embedding column — bit i set iff v[i] > 0, the q48 sign-LSH
    * sketch reshaped into the house 4×16-bit chunks via the codegen'd
    * [[graft.functions.VectorFunctions.signBucket]] — so suppression
    * means SMALL-ANGLE arrival (sign-Hamming approximates angle:
    * P[bit differs] = θ/π per Charikar STOC 2002), the streaming twin
    * of the batch SemDeDup/sign-LSH family (q48/q180). No codec slot
    * at all: the sketch is a pure expression over the vector column,
    * which makes this the sharpest proof that the suppression core is
    * modality-generic — text, image, audio, and embedding writers now
    * differ ONLY in their sketch derivation. Defaults sit in the
    * wide-band regime (4×16-bit bands, d ≤ 3) for the same density
    * reasons as q261; embeddings shorter than 64 dims contribute 0
    * bits past their end (signBucket's try_element_at), so mixed-dim
    * corpora still band consistently. */
  def embeddingDedupSuppressWriter(indexDir: String, outDir: String,
                                   id: String, vec: String,
                                   maxDist: Int = 3,
                                   nBands: Int = 4): (DataFrame, Long) => Unit =
    sketchDedupSuppressWriter(indexDir, outDir, id, maxDist, nBands) { b =>
      b.select(col(id) +: (0 until 4).map(k =>
        graft.functions.VectorFunctions.signBucket(col(vec), 16, 16 * k)
          .cast("int").as(s"c$k")): _*)
    }

  /** The sketch-modality core shared by [[imageDedupSuppressWriter]]
    * and [[audioDedupSuppressWriter]]: `sketchOf` turns a micro-batch
    * into its (id, c0..c3) chunked 64-bit sketch (the codec work);
    * everything else — Hamming banding via the ONE shared
    * [[graft.operators.Dedup.hammingBandExprs]], the mandatory
    * exact-Hamming verify on every collision, the `_bands` scheme
    * marker, and [[bucketSuppressWriter]]'s index/commit/compaction
    * protocol — is this one implementation, so the modalities cannot
    * silently diverge. */
  def sketchDedupSuppressWriter(indexDir: String, outDir: String,
                                id: String, maxDist: Int, nBands: Int)
                               (sketchOf: DataFrame => DataFrame): (DataFrame, Long) => Unit = {
    import graft.operators.Dedup
    require(nBands == 4 || nBands == 8, s"nBands=$nBands: need 4 or 8")
    // same pigeonhole bound as the batch twin: nBands bands only
    // guarantee a colliding band for d < nBands — a larger maxDist
    // would silently lose recall, contradicting the guarantee above
    require(maxDist >= 0 && maxDist < nBands,
      s"maxDist=$maxDist: $nBands-band pigeonhole only guarantees recall for d <= ${nBands - 1}")
    val chunks = Seq("c0", "c1", "c2", "c3")
    bucketSuppressWriter(indexDir, outDir, id,
      bucketsOf = { b =>
        implicit val sp: org.apache.spark.sql.SparkSession = b.sparkSession
        // band-scheme pin: first batch records nBands; every later one
        // must match — a silent scheme change would make every existing
        // index row uncomparable and admit all duplicates
        pinIndexScheme(sp, indexDir, "_bands", nBands.toString)
        // a non-numeric id would cast to NULL and silently disable the
        // whole filter (anti-joins never match null) — refuse instead
        val dt = b.schema(id).dataType
        require(dt == org.apache.spark.sql.types.LongType ||
            dt == org.apache.spark.sql.types.IntegerType,
          s"sketchDedupSuppressWriter needs an integral id column, got $dt for '$id'")
        sketchOf(b)
          .select(col(id) +: col("c0") +: col("c1") +: col("c2") +: col("c3") +:
            Seq(posexplode(array(Dedup.hammingBandExprs(nBands).map(_.cast("string")): _*))
              .as(Seq("band_idx", "band_hash"))): _*)
      },
      hitExistingOf = { (b, idx) =>
        // an index persisted by the pre-verify writer lacks the chunk
        // columns — refuse with a clear message instead of an
        // UNRESOLVED_COLUMN analysis error mid-stream
        require(chunks.forall(idx.columns.contains),
          s"sketch dedup index at $indexDir predates the verify stage " +
            s"(no sketch chunks) — rebuild it or compact from scratch")
        b.join(
          idx.select(col("band_idx"), col("band_hash"),
            col("c0").as("i0"), col("c1").as("i1"),
            col("c2").as("i2"), col("c3").as("i3")),
          Seq("band_idx", "band_hash"))
        .filter(Dedup.hammingChunks(chunks.map(col),
          Seq(col("i0"), col("i1"), col("i2"), col("i3"))) <= maxDist)
        .select(col(id))
      },
      hitWithinOf = b => b.alias("l")
        .join(b.alias("r"),
          col("l.band_idx") === col("r.band_idx") &&
            col("l.band_hash") === col("r.band_hash") &&
            col(s"l.$id") > col(s"r.$id"))
        .filter(Dedup.hammingChunks(chunks.map(c => col(s"l.$c")),
          chunks.map(c => col(s"r.$c"))) <= maxDist)
        .select(col(s"l.$id").as(id)))
  }

  /** The modality-generic core of the suppression writers: `bucketsOf`
    * turns a micro-batch into (id, band_idx, band_hash, …payload)
    * bucket rows — MinHash-LSH bands for text, dHash Hamming bands
    * PLUS the sketch chunks for images, any future sketch for
    * audio/video — `hitExistingOf(batchBuckets, committedIndex)` and
    * `hitWithinOf(batchBuckets)` decide suppression (collision-only
    * for wide-hash text bands; collision + exact-distance verify for
    * narrow perceptual bands), and everything downstream — the
    * persistent index (which keeps EVERY bucketsOf column, so match
    * rules can carry verify payload), the single-commit-point
    * exactly-once protocol, compaction, the janitor — is one shared
    * implementation. */
  def bucketSuppressWriter(indexDir: String, outDir: String, id: String,
                           bucketsOf: DataFrame => DataFrame,
                           hitExistingOf: (DataFrame, DataFrame) => DataFrame,
                           hitWithinOf: DataFrame => DataFrame): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      import graft.io.Fs
      val spark = batch.sparkSession
      val name = f"batch-$batchId%06d"
      if (!Fs.exists(spark, s"$outDir/$name.commit")) {
        // the batch is read twice (its buckets, then the survivors'
        // anti-join): persist it so it is computed once
        val b = batch.persist()
        try {
          val buckets = bucketsOf(b).persist()
          // committed index = newest promoted base + deltas whose OUT
          // marker exists and that the base doesn't cover (never the
          // in-flight batch: its marker isn't there yet)
          val committed = committedIndexPaths(spark, indexDir, outDir)
          val hitExisting =
            if (committed.isEmpty) buckets.filter(lit(false)).select(col(id))
            else hitExistingOf(buckets, spark.read.parquet(committed: _*))
          val suppressed = hitExisting.union(hitWithinOf(buckets)).distinct()
          val survivors = b.join(suppressed, Seq(id), "left_anti").persist()
          survivors.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
          buckets.join(survivors.select(col(id)), Seq(id), "left_semi")
            .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/$name")
          Fs.touch(spark, s"$outDir/$name.commit")
          survivors.unpersist(); buckets.unpersist()
        } finally b.unpersist(): Unit
      }
    }

  /** Create-only SCHEME marker for a persisted suppression index — the
    * `_bands` protocol generalized (round-16): the first batch records
    * the parameters the index's hashes were derived under; every later
    * batch REFUSES a mismatch loudly. The failure this kills is silent
    * and total: index rows written under one scheme never equal values
    * a differently-parameterized writer derives (another window width,
    * another (k, w), another band count), so a restarted stream with
    * drifted config would match NOTHING and admit every duplicate —
    * the exact outcome the index exists to prevent. Scheme strings are
    * compared verbatim; anything that changes the persisted hash
    * values (or their match rule) belongs in them. The marker is
    * promoted by write-to-temp + atomic rename (the base-meta
    * protocol): a crash mid-write must not leave a torn marker that
    * wrongly refuses every future writer. */
  private[streaming] def pinIndexScheme(spark: SparkSession, indexDir: String,
                                        marker: String, scheme: String): Unit = {
    import graft.io.Fs
    val p = s"$indexDir/$marker"
    if (!Fs.exists(spark, p)) {
      // losing a same-moment creation race is fine IFF the winner
      // pinned the same scheme — fall through to the verbatim check,
      // which refuses a different winner exactly like a later reopen
      try Fs.writeTextAtomic(spark, p, scheme)
      catch { case _: java.io.IOException if Fs.exists(spark, p) => () }
    }
    val recorded = Fs.readText(spark, p).trim
    require(recorded == scheme,
      s"suppression index at $indexDir was built with scheme " +
        s"'$recorded'; this writer derives '$scheme' — rebuild the " +
        "index or match the scheme")
  }

  /** Index state for the [[bucketSuppressWriter]] family (text and
    * image writers share one index lifecycle — [[compactNearDupIndex]]
    * and the janitor apply to EITHER modality's indexDir): the newest
    * promoted base generation (gen, covered batch names) if any, plus
    * the marker-committed delta names it does not cover. */
  private def indexState(spark: SparkSession, indexDir: String,
                         outDir: String): (Option[(Int, Set[String])], Seq[String]) = {
    import graft.io.Fs
    val gens = Fs.listWithSuffix(spark, indexDir, ".meta").flatMap { n =>
      val s = n.stripSuffix(".meta")
      if (s.startsWith("base-") && s.drop(5).nonEmpty && s.drop(5).forall(_.isDigit))
        Some(s.drop(5).toInt)
      else None
    }
    val base = gens.sorted.lastOption.map { gen =>
      gen -> Fs.readText(spark, s"$indexDir/base-$gen.meta")
        .split("\n").filter(_.nonEmpty).toSet
    }
    val committed = Fs.listWithSuffix(spark, outDir, ".commit")
      .map(_.stripSuffix(".commit"))
    (base, committed.filterNot(n => base.exists(_._2.contains(n))).sorted)
  }

  private def committedIndexPaths(spark: SparkSession, indexDir: String,
                                  outDir: String): Seq[String] = {
    val (base, deltas) = indexState(spark, indexDir, outDir)
    base.map(b => s"$indexDir/base-${b._1}").toSeq ++
      deltas.map(n => s"$indexDir/$n")
  }

  /** Fold the committed bucket-index deltas (plus the previous base)
    * into a new base GENERATION — the log-structured compaction the
    * index needs once batch count makes per-delta listing and plan
    * size hurt. The outDir batch markers are never touched (they also
    * gate survivor visibility — rewriting them would un-commit output
    * or point the index read at deleted paths); instead the new base
    * dir is written first and PROMOTED by the create-only
    * `base-<gen>.meta` file recording which batch names it covers.
    * Readers pick the highest promoted generation and union only
    * uncovered deltas, so a crash before the meta write leaves an
    * invisible orphan dir and a crash after it leaves stale covered
    * deltas that readers already exclude — no window double-counts or
    * drops index entries. The meta itself is promoted by
    * write-to-temp + ATOMIC RENAME ([[graft.io.Fs.writeTextAtomic]]):
    * a concurrent reader sees the whole covered list or the previous
    * generation, never a torn prefix. Returns the number of deltas
    * folded (0 = nothing to do).
    *
    * Old generations and covered delta dirs are NOT deleted here —
    * that is [[janitorNearDupIndex]]'s job, and it must respect a
    * GRACE WINDOW: a concurrent [[nearDupSuppressWriter]] batch that
    * resolved `committedIndexPaths` just before this promotion still
    * holds the OLD delta paths in its plan, so deleting them the
    * instant the new meta lands races that reader into FileNotFound. */
  def compactNearDupIndex(spark: SparkSession, indexDir: String,
                          outDir: String, warnBucketAt: Int = 200,
                          warnHint: String = BandOccupancyHint): Int = {
    import graft.io.Fs
    val (base, deltas) = indexState(spark, indexDir, outDir)
    if (deltas.isEmpty) return 0
    val gen = base.map(_._1 + 1).getOrElse(0)
    val covered = base.map(_._2).getOrElse(Set.empty) ++ deltas
    val paths = base.map(b => s"$indexDir/base-${b._1}").toSeq ++
      deltas.map(n => s"$indexDir/$n")
    spark.read.parquet(paths: _*)
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/base-$gen")
    Fs.writeTextAtomic(spark, s"$indexDir/base-$gen.meta",
      covered.toSeq.sorted.mkString("\n"))
    // occupancy telemetry (round-14 verdict #6): the image writer's
    // saturation point is DECLARED in its doc but was not observable
    // before it hurt — compaction already has the whole index in hand,
    // so probe it here and warn LOUDLY once any band bucket crosses the
    // threshold (default = the batch side's stop-bucket cap: past it
    // the batch operator would drop the bucket and the ingest verify
    // join's per-arrival cost is growing linearly)
    val hot = nearDupIndexStats(spark, indexDir, outDir)
      .filter(col("max_bucket") >= warnBucketAt).collect()
    hot.foreach { r =>
      Console.err.println(s"[compactNearDupIndex] WARN band ${r.getAs[Int]("band_idx")} " +
        s"of $indexDir: max bucket ${r.getAs[Long]("max_bucket")} >= $warnBucketAt " +
        s"(avg ${r.getAs[Double]("avg_bucket")}, ${r.getAs[Long]("n_buckets")} buckets) — " +
        warnHint)
    }
    deltas.size
  }

  /** Default [[compactNearDupIndex]] WARN hint — correct for the
    * band-bucket writers (MinHash / winnow / sketch), whose occupancy
    * growth means band-space SATURATION: past the threshold the batch
    * twin would stop-drop the bucket and the ingest verify join's
    * per-arrival cost is growing linearly. */
  val BandOccupancyHint: String =
    "the band space is saturating; move to wider bands (nBands=4) or a wider sketch"

  /** The WARN hint for [[substringScrubWriter]] indexes, whose
    * occupancy semantics INVERT the band reading (round-15 verdict #5):
    * a "bucket" there is the posting length of one WINDOW HASH, and a
    * hot hash is high-duplication BOILERPLATE — exactly what the
    * scrubber exists to excise more of, not a recall-losing saturation.
    * What the threshold still guards is COST: each arrival's hash-hit
    * semi-join fans out by posting length, so a hot hash is a join-skew
    * signal. Tune `warnBucketAt` for that meaning (boilerplate-heavy
    * corpora legitimately run hot — raise it, or compact and scrub the
    * upstream source), and pass this hint so the operator reading the
    * log is not told to "widen bands" an index that has none. */
  val SubstringOccupancyHint: String =
    "hot window hash = high-duplication boilerplate (the excise join " +
      "fans out by posting length): expected on boilerplate-heavy " +
      "corpora — raise warnBucketAt if so, or scrub the upstream source; " +
      "band-widening advice does NOT apply to a substring index"

  /** Per-band occupancy of the committed near-dup index — the
    * observability probe for the suppression writers' declared
    * saturation ceilings ([[imageDedupSuppressWriter]]'s 8-bit bands
    * hold 2048 keys; occupancy growth is the early signal to move to
    * `nBands = 4` or a wider sketch BEFORE per-arrival verify cost
    * hurts). One hash aggregate over the index (band_idx, band_hash)
    * pairs — the same shape the suppression join reads, so the probe
    * costs one scan and no extra state. Returns one row per band:
    * (band_idx, n_entries, n_buckets, max_bucket, avg_bucket). */
  def nearDupIndexStats(spark: SparkSession, indexDir: String,
                        outDir: String): DataFrame = {
    val paths = committedIndexPaths(spark, indexDir, outDir)
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "band_idx INT, n_entries BIGINT, n_buckets BIGINT, " +
            "max_bucket BIGINT, avg_bucket DOUBLE"))
    spark.read.parquet(paths: _*)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .groupBy(col("band_idx").cast("int").as("band_idx"))
      .agg(sum(col("bucket_n")).as("n_entries"),
        count(lit(1)).as("n_buckets"),
        max(col("bucket_n")).as("max_bucket"),
        round(avg(col("bucket_n")), 4).as("avg_bucket"))
      .orderBy(col("band_idx"))
  }

  /** Janitor for the near-dup index: delete base generations and
    * covered delta dirs that no reader can still reference. With the
    * newest promoted generation G, everything covered by generation
    * `G - grace` (and the older base dirs themselves) is deleted;
    * dirs first covered by a NEWER generation survive. `grace = 1`
    * (the default) is the single-concurrent-writer posture: a batch
    * that resolved its index paths against generation G−1 just before
    * G's promotion still finds every path it holds, because only
    * G−2-covered dirs die. `grace = 0` reclaims everything covered by
    * the newest meta — safe only when no reader can be in flight
    * (maintenance windows, tests). Generalize grace to the number of
    * promotions that can occur within one reader's plan lifetime.
    * Returns the number of directories deleted. The outDir batch
    * markers are never touched (they gate survivor visibility). */
  def janitorNearDupIndex(spark: SparkSession, indexDir: String,
                          grace: Int = 1): Int = {
    import graft.io.Fs
    require(grace >= 0, s"grace must be >= 0: $grace")
    val gens = Fs.listWithSuffix(spark, indexDir, ".meta").flatMap { n =>
      val s = n.stripSuffix(".meta")
      if (s.startsWith("base-") && s.drop(5).nonEmpty && s.drop(5).forall(_.isDigit))
        Some(s.drop(5).toInt)
      else None
    }.sorted
    if (gens.isEmpty) return 0
    val newest = gens.last
    // the cutoff generation's meta may itself be gone (a previous
    // janitor run with a smaller grace deleted it) — fall back to the
    // newest SURVIVING generation at or below the cutoff; coverage is
    // monotone, so a lower generation only reclaims less, never wrongly
    val cutoff = gens.filter(_ <= newest - grace).lastOption match {
      case Some(g) => g
      case None => return 0
    }
    val coveredByCutoff = Fs.readText(spark, s"$indexDir/base-$cutoff.meta")
      .split("\n").filter(_.nonEmpty).toSet
    // covered deltas of the cutoff generation, then every base strictly
    // older than the cutoff (their coverage is a subset of the cutoff's)
    val deltaDirs = coveredByCutoff.toSeq.sorted.map(n => s"$indexDir/$n")
    val oldBases = gens.filter(_ < cutoff)
      .flatMap(g => Seq(s"$indexDir/base-$g", s"$indexDir/base-$g.meta"))
    (deltaDirs ++ oldBases).count { p =>
      Fs.exists(spark, p) && Fs.deleteRecursive(spark, p)
    }
  }

  /** Per-key fixed-grid quantile monitor on Spark 4's transformWithState
    * API ([[org.apache.spark.sql.streaming.StatefulProcessor]] over the
    * RocksDB state store — the successor to flatMapGroupsWithState, with
    * typed composite state primitives instead of one opaque blob): each
    * key keeps a HISTOGRAM in `MapState[bucket → count]` on a `grid`-cent
    * lattice and emits its running (n, p50, p95) upper-bucket-edge
    * estimates every micro-batch — the latency/price monitor shape.
    *
    * State per key is one map entry per OCCUPIED bucket — bounded by
    * value_range/grid, never by row count (the same envelope argument as
    * the batch median engine), and RocksDB pages it off-heap. Estimates
    * are deterministic: quantile q reads the bucket holding rank
    * ⌈q·n⌉ under ascending bucket order and reports its upper edge, so
    * the error is at most one grid step and the streamed result equals
    * the batch recomputation on the same rows (StreamingSpec pins it).
    *
    * Each emitted row is the key's post-batch state (Update mode): the
    * LAST row per key of any run is the full-data answer. */
  private class GridQuantileProcessor(grid: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), (String, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var hist: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[Long, Long]("hist",
        E.scalaLong, E.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 tv: TimerValues): Iterator[(String, Long, Long, Long)] = {
      rows.foreach { case (_, v) =>
        val b = Math.floorDiv(v, grid)
        hist.updateValue(b,
          (if (hist.containsKey(b)) hist.getValue(b) else 0L) + 1L)
      }
      val cells = hist.iterator().map(t => (t._1, t._2)).toArray.sortBy(_._1)
      if (cells.isEmpty) return Iterator.empty
      val n = cells.iterator.map(_._2).sum
      def q(p: Double): Long = {
        val rank = math.max(1L, math.ceil(p * n).toLong)
        var cum = 0L
        var ans = (cells.last._1 + 1) * grid
        var done = false
        for ((b, c) <- cells if !done) {
          cum += c
          if (cum >= rank) { ans = (b + 1) * grid; done = true }
        }
        ans
      }
      Iterator((key, n, q(0.5), q(0.95)))
    }
  }

  /** [[GridQuantileProcessor]] wired to a typed stream of (key, cents):
    * requires the RocksDB state store provider (transformWithState's
    * backing store — set `spark.sql.streaming.stateStore.providerClass`
    * before starting the query). */
  def gridQuantileStream(events: Dataset[(String, Long)],
                         grid: Long): Dataset[(String, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    require(grid >= 1, s"grid must be >= 1 cent: $grid")
    events.groupByKey(_._1)
      .transformWithState(new GridQuantileProcessor(grid),
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-key one-sided CUSUM changepoint monitor — the STREAMING form of
    * the batch q202 operator. The batch plan computes Page's recursion
    * S_t = max(0, S_{t−1} + x_t − μ − slack) through the prefix-sum
    * identity (two stacked windows); the recursion ITSELF is the natural
    * per-key streaming fold, and StatsSpec has pinned the two forms equal
    * — so the monitor keeps exactly ONE (S, lastPeriod) pair per key in
    * `ValueState` and folds each arriving period through the literal
    * recursion (Page, Biometrika 1954). Everything is exact integer
    * cents, like the batch side.
    *
    * Contract: periods arrive in EVENT order per key (each micro-batch's
    * rows are sorted internally; a period ≤ the last folded one fails
    * loudly rather than silently corrupting S — CUSUM is order-defined,
    * and a monitor that absorbs replayed or late periods without noticing
    * is worse than one that stops). State per key is two long-sized
    * fields — scale-independent. Emits one row per folded period:
    * (key, period, cusum_cents, alarm). StreamingSpec pins streamed
    * alarms == the batch q202 plan on the same data. */
  private class CusumProcessor(mu: Long, slack: Long, alarmAt: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Int, Long), (String, Int, Long, Int)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Int)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Int)]("cusum",
        E.tuple(E.scalaLong, E.scalaInt), TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Int, Long)],
                                 tv: TimerValues): Iterator[(String, Int, Long, Int)] = {
      var (s, lastP) = if (st.exists()) st.get() else (0L, Int.MinValue)
      val out = rows.toArray.sortBy(_._2).map { case (_, period, x) =>
        require(period > lastP,
          s"CUSUM periods must be strictly increasing per key: " +
            s"$key got $period after $lastP (replay or late data)")
        lastP = period
        s = math.max(0L, s + x - mu - slack)
        (key, period, s, if (s > alarmAt) 1 else 0)
      }
      st.update((s, lastP))
      out.iterator
    }
  }

  /** [[CusumProcessor]] wired to a typed stream of (key, period, cents).
    * `mu` is the in-control baseline, `slack` the drift allowance
    * (q202 uses μ/20), `alarmAt` the decision threshold — all exact
    * cents. RocksDB provider required, as for [[gridQuantileStream]]. */
  def cusumStream(events: Dataset[(String, Int, Long)], mu: Long,
                  slack: Long, alarmAt: Long): Dataset[(String, Int, Long, Int)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new CusumProcessor(mu, slack, alarmAt),
        TimeMode.None(), OutputMode.Append())
  }

  /** Per-key EWMA control-chart monitor — the STREAMING form of the
    * batch [[graft.operators.TimeSeries.ewmaChart]] fold (q229), and
    * the smoothed-level sibling of [[CusumProcessor]]. The recurrence
    * z_t = (λNum·y_t·1e6 + (λDen−λNum)·z_{t−1}) quot λDen keeps exactly
    * ONE (z_micro, lastPeriod) pair per key in `ValueState`, seeded at
    * the CENTER LINE `zInit` (the batch contract — Roberts' standard
    * start; [[graft.operators.TimeSeries.ewmaSeed]] is the fit), every
    * step in `*Exact` arithmetic. Control limits are FIXED inputs
    * (muCents, band) — the classical deployment fits them on a
    * reference window and monitors forward
    * ([[graft.operators.TimeSeries.ewmaLimits]] is that fit);
    * the batch operator estimates them from its own series, so the
    * StreamingSpec equivalence pin feeds the stream the batch-estimated
    * pair and asserts identical trajectories AND flags. Same
    * strictly-increasing-period contract as CUSUM: a replayed or late
    * period fails loudly — the chart is order-defined.
    * Emits (key, period, ewma_micro, alarm) per folded period. */
  private class EwmaProcessor(lamNum: Long, lamDen: Long, zInit: Long,
                              muCents: Double, band: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Int, Long), (String, Int, Long, Int)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    import java.lang.Math.{addExact, multiplyExact}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Int)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Int)]("ewma",
        E.tuple(E.scalaLong, E.scalaInt), TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Int, Long)],
                                 tv: TimerValues): Iterator[(String, Int, Long, Int)] = {
      val lim = Long.MaxValue / 1000000L / lamDen
      var (z, lastP) =
        if (st.exists()) st.get() else (zInit, Int.MinValue)
      val out = rows.toArray.sortBy(_._2).map { case (_, period, y) =>
        require(period > lastP,
          s"EWMA periods must be strictly increasing per key: " +
            s"$key got $period after $lastP (replay or late data)")
        require(y > -lim && y < lim, // two-sided: abs(MinValue) wraps
          s"ewmaStream micro fixed point caps |cents| at $lim per period")
        lastP = period
        z = addExact(multiplyExact(lamNum, multiplyExact(y, 1000000L)),
            multiplyExact(lamDen - lamNum, z)) / lamDen
        val alarm =
          if (math.abs(z.toDouble / 1000000.0 - muCents) > band) 1 else 0
        (key, period, z, alarm)
      }
      st.update((z, lastP))
      out.iterator
    }
  }

  /** [[EwmaProcessor]] wired to a typed stream of (key, period, cents).
    * λ = lamNum/lamDen; zInit (center-line seed, micro-cents) and
    * (muCents, band) from a reference-window fit —
    * [[graft.operators.TimeSeries.ewmaSeed]] /
    * [[graft.operators.TimeSeries.ewmaLimits]]. RocksDB provider
    * required, as for [[cusumStream]]. */
  def ewmaStream(events: Dataset[(String, Int, Long)], lamNum: Long,
                 lamDen: Long, zInit: Long, muCents: Double, band: Double)
      : Dataset[(String, Int, Long, Int)] = {
    require(lamNum > 0 && lamDen > lamNum,
      s"EWMA weight must lie in (0,1): $lamNum/$lamDen")
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new EwmaProcessor(lamNum, lamDen, zInit, muCents, band),
        TimeMode.None(), OutputMode.Append())
  }

  /** Per-key Misra-Gries "frequent" heavy hitters (Misra & Gries 1982;
    * the counter-based top-k SpaceSaving descends from) — the
    * streaming trending-items monitor: state per key is AT MOST k
    * (item, count) counters however long the stream runs, the property
    * that makes it deployable where an exact per-item count table
    * (q101's CountMin answers point queries, not "what is trending")
    * would grow with the item vocabulary. Classic algorithm: increment
    * a present item, insert while fewer than k counters, otherwise
    * decrement ALL counters and drop zeros. The summary is arrival-
    * order-dependent (inherent to MG — there is no order-free exact
    * form), so the STREAMING guarantees are what the spec pins, and
    * they hold under ANY order: ≤ k counters; counter ≤ true count;
    * counter ≥ true − N/(k+1); every item with true frequency >
    * N/(k+1) present. Emits a versioned snapshot of the counters
    * after each micro-batch (a latest-wins sink keeps max version).
    * A batch whose decrement-all step empties the counter map emits
    * ONE tombstone row (item NULL, count 0) so the latest-wins sink
    * still sees the new version — without it the sink would keep
    * serving the previous snapshot's counters as if still current. */
  private class MisraGriesProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String), (String, Long, String, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[
      (Long, Array[String], Array[Long])] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Array[String], Array[Long])]("mg",
        E.product[(Long, Array[String], Array[Long])], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, String)],
                                 tv: TimerValues): Iterator[(String, Long, String, Long)] = {
      val (ver, items, counts) =
        if (st.exists()) st.get() else (0L, Array.empty[String], Array.empty[Long])
      val m = scala.collection.mutable.LinkedHashMap(items.zip(counts).toSeq: _*)
      rows.foreach { case (_, item) =>
        if (m.contains(item)) m(item) += 1
        else if (m.size < k) m(item) = 1L
        else m.keys.toArray.foreach { kk => // the decrement-all step
          m(kk) -= 1
          if (m(kk) == 0L) m.remove(kk): Unit
        }
      }
      val nv = ver + 1
      st.update((nv, m.keys.toArray, m.values.toArray))
      if (m.isEmpty) Iterator((key, nv, null: String, 0L)) // tombstone
      else m.iterator.map { case (it, c) => (key, nv, it, c) }
    }
  }

  /** [[MisraGriesProcessor]] wired to a typed stream of (key, item).
    * RocksDB provider required, as for [[cusumStream]]. */
  def mgTopKStream(events: Dataset[(String, String)], k: Int)
      : Dataset[(String, Long, String, Long)] = {
    require(k >= 1, s"need at least one counter: $k")
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new MisraGriesProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** Per-key SCD Type 2 maintenance — the STREAMING form of the batch
    * [[graft.operators.Incremental.scd2]] build (q219): dimension
    * history maintained INCREMENTALLY as the change stream arrives,
    * instead of re-deriving it from the full log. State per key is ONE
    * open version — (attr, version, valid_from, last ordinal/tie) —
    * never history-proportional: each arriving change whose attribute
    * DIFFERS null-safely from the open one (x→NULL→x is two real
    * changes, the q219 contract) EMITS the closed version
    * (key, attr, version, valid_from, valid_to=change ordinal) and
    * re-opens; unchanged attributes fold into the open version
    * silently, exactly like the batch run-collapse. The open versions
    * themselves live only in state (they are still mutable — a sink
    * materializes them by unioning emitted CLOSED rows with a state
    * snapshot, or reads the batch build for the current picture).
    *
    * Contract: changes arrive in (ordinal, tie) order per key across
    * micro-batches (each batch's rows are sorted internally); an
    * out-of-order arrival fails loudly (the CUSUM discipline) — SCD2
    * is order-defined and silently absorbing a replay would corrupt
    * every later interval. StreamingSpec pins streamed closed versions
    * == the batch operator's closed rows on the same change log. */
  private class Scd2Processor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long, String),
        (String, String, Int, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    // (attr — may be genuinely null, version, valid_from, lastOrd, lastTie)
    @transient private var st: org.apache.spark.sql.streaming.ValueState[
      (String, Int, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(String, Int, Long, Long, Long)]("scd2",
        E.tuple(E.STRING, E.scalaInt, E.scalaLong, E.scalaLong, E.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Long, Long, String)],
                                 tv: TimerValues): Iterator[(String, String, Int, Long, Long)] = {
      var (attr, ver, from, lastOrd, lastTie) =
        if (st.exists()) st.get() else (null: String, 0, 0L, Long.MinValue, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Int, Long, Long)]
      rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, ord, tie, a) =>
        require(ord > lastOrd || (ord == lastOrd && tie > lastTie),
          s"SCD2 changes must arrive in (ord, tie) order per key: " +
            s"$key got ($ord, $tie) after ($lastOrd, $lastTie)")
        lastOrd = ord; lastTie = tie
        if (ver == 0) { attr = a; ver = 1; from = ord }
        else if (Option(a) != Option(attr)) { // null-safe: x→NULL→x = 2 changes
          out += ((key, attr, ver, from, ord))
          attr = a; ver += 1; from = ord
        }
      }
      st.update((attr, ver, from, lastOrd, lastTie))
      out.iterator
    }
  }

  /** [[Scd2Processor]] wired to a typed change stream of
    * (key, ordinal, tiebreak, attribute). Emits CLOSED versions only
    * (append mode); RocksDB provider required, as for
    * [[cusumStream]]. */
  def scd2Stream(changes: Dataset[(String, Long, Long, String)])
      : Dataset[(String, String, Int, Long, Long)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import changes.sparkSession.implicits._
    changes.groupByKey(_._1)
      .transformWithState(new Scd2Processor(),
        TimeMode.None(), OutputMode.Append())
  }

  /** Per-user first-occurrence sequential-pair increments — the
    * STREAMING form of the batch q243 "eventually precedes" support
    * (level-2 AprioriAll/GSP, Agrawal & Srikant ICDE'95): state per
    * user is the (event_type → first timestamp) map, bounded by the
    * type ENUM (loud ≤64 cap — the EWMA/CUSUM/SCD2 state discipline),
    * never event-proportional. When a type is seen for the FIRST time
    * at ts, one (user, a, b=newType) increment row is emitted for
    * every already-seen type a whose first ts is STRICTLY earlier (the
    * batch operator's `ta < tb` — simultaneous firsts pair in neither
    * direction); repeat events of a known type change nothing. Each
    * (user, a, b) is emitted AT MOST ONCE by construction (b's first
    * sight happens once), so a downstream groupBy(a, b).count over the
    * emitted rows equals the batch self-join's n_users exactly —
    * StreamingSpec pins that equivalence on the events fixture.
    *
    * Contract: per-user NONDECREASING event time across batches (an
    * out-of-order arrival could retroactively change a first
    * occurrence that already emitted pairs, so it fails loudly — the
    * SCD2 discipline; rows within a batch are sorted here). */
  private class SeqPairsProcessor(maxTypes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, String), (String, String, String)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[
      (Array[String], Array[Long], Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Array[String], Array[Long], Long)](
        "firsts", E.product[(Array[String], Array[Long], Long)], TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Long, String)],
                                 tv: TimerValues): Iterator[(String, String, String)] = {
      var (types, fts, lastTs) =
        if (st.exists()) st.get()
        else (Array.empty[String], Array.empty[Long], Long.MinValue)
      val m = scala.collection.mutable.LinkedHashMap(types.zip(fts).toSeq: _*)
      val out = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
      rows.toArray.sortBy(_._2).foreach { case (_, ts, et) =>
        require(ts >= lastTs,
          s"seqPairsStream requires nondecreasing per-user event time: " +
            s"$key got $ts after $lastTs (replay or late data)")
        lastTs = ts
        if (!m.contains(et)) {
          require(m.size < maxTypes,
            s"seqPairsStream state is enum-bounded: user $key exceeded " +
              s"$maxTypes event types — this operator is for bounded " +
              s"type vocabularies")
          m.foreach { case (a, ta) => if (ta < ts) out += ((key, a, et)) }
          m(et) = ts
        }
      }
      st.update((m.keys.toArray, m.values.toArray, lastTs))
      out.iterator
    }
  }

  /** Incremental basket pair-support maintenance — the STREAMING twin
    * of q250's association-rule pair stage (round-13 directive #5).
    * Order lines arrive as (orderkey, brand) rows, possibly SPLIT
    * across batches, duplicated (an order holds several lines of one
    * brand), and in ANY order — brand-SET accumulation is commutative,
    * so unlike [[SeqPairsProcessor]] there is no arrival-order
    * contract to enforce. State per order is its distinct brand set,
    * enum-bounded (TPC-H orders carry ≤ 7 lines; the require fails a
    * runaway key loudly — this operator is for bounded basket
    * vocabularies, the same declaration q250 makes batch-side with its
    * ≤ C(7,2) fanout note). Each brand NEW to its order emits exactly
    * one canonical (ba < bb) pair row per already-present brand, so
    * every (order, pair) is emitted AT MOST ONCE over the stream's
    * lifetime and a running count over the emitted rows equals the
    * batch distinct-basket pair support EXACTLY at every batch
    * boundary — versioned support snapshots by construction
    * (StreamingSpec pins snapshot monotonicity per version and final
    * equality against the q250 pair stage on the same lines). */
  private class BasketPairsProcessor(maxBrands: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, String)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Array[String]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Array[String]]("brands",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[String]](),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[(Long, String, String)] = {
      val have = scala.collection.mutable.LinkedHashSet(
        (if (st.exists()) st.get() else Array.empty[String]).toIndexedSeq: _*)
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
      rows.foreach { case (_, b) =>
        if (!have.contains(b)) {
          require(have.size < maxBrands,
            s"basketPairsStream state is enum-bounded: order $key exceeded " +
              s"$maxBrands distinct brands — this operator is for bounded " +
              s"basket vocabularies")
          have.foreach { a =>
            val p = if (a < b) (key, a, b) else (key, b, a)
            out += p
          }
          have += b
        }
      }
      st.update(have.toArray)
      out.iterator
    }
  }

  /** [[BasketPairsProcessor]] wired to a typed stream of
    * (orderkey, brand) lines. Emits one canonical (order, ba, bb) row
    * the first time a basket is seen to contain both brands; group the
    * output by (ba, bb) for running pair supports. RocksDB provider
    * required, as for [[cusumStream]]. */
  def basketPairsStream(lines: Dataset[(Long, String)], maxBrands: Int = 32)
      : Dataset[(Long, String, String)] = {
    require(maxBrands >= 2, s"need at least two brands per basket: $maxBrands")
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import lines.sparkSession.implicits._
    lines.groupByKey(_._1)
      .transformWithState(new BasketPairsProcessor(maxBrands),
        TimeMode.None(), OutputMode.Append())
  }

  /** [[SeqPairsProcessor]] wired to a typed stream of
    * (user, tsMicros, event_type). Emits (user, a, b) exactly when
    * user's first a preceded their first b; RocksDB provider required,
    * as for [[cusumStream]]. */
  def seqPairsStream(events: Dataset[(String, Long, String)],
                     maxTypes: Int = 64)
      : Dataset[(String, String, String)] = {
    require(maxTypes >= 2, s"need at least two event types: $maxTypes")
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new SeqPairsProcessor(maxTypes),
        TimeMode.None(), OutputMode.Append())
  }

  /** Timer-driven funnel timeout — the STREAMING twin of the batch
    * windowed-conversion query (q247) and the engine's demonstration
    * of transformWithState EVENT-TIME TIMERS (the new-API successor of
    * the sessionizer's GroupStateTimeout): per user, the FIRST 'view'
    * arms a timer at t0 + window; a 'purchase' inside (t0, t0+window]
    * emits (user, t0_us, 1, lag_us) immediately and marks the funnel
    * done; when the WATERMARK passes the deadline first,
    * [[FunnelTimeoutProcessor.handleExpiredTimer]] emits
    * (user, t0_us, 0, −1) — the not-converted outcome that append-mode
    * logic can never finalize without a timer (absence of an event is
    * not an event). State per user: one (t0, done) pair, never
    * event-proportional; a purchase arriving after the timer fired
    * finds done=true and is ignored.
    *
    * Arrival contract (the SCD2/seqPairs discipline): per-user
    * NONDECREASING event time ACROSS batches — rows within a batch are
    * sorted here, but a cross-batch reorder (a purchase batch-1, its
    * preceding view batch-2) could silently flip an outcome the batch
    * query would count, so it fails loudly instead; resolve legal
    * under-watermark disorder upstream (e.g. the buffered
    * sessionizer). StreamingSpec pins the streamed outcome set against
    * batch q247's converted flags on the same events AND the loud
    * rollback guard. */
  private class FunnelTimeoutProcessor(windowUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, java.sql.Timestamp, Long, String),
        (String, Long, Int, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var st: org.apache.spark.sql.streaming.ValueState[
      (Long, Boolean, Long)] = _ // (t0, done, lastTs — the order guard)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Boolean, Long)]("funnel",
        E.tuple(E.scalaLong, E.scalaBoolean, E.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, java.sql.Timestamp, Long, String)],
                                 tv: TimerValues): Iterator[(String, Long, Int, Long)] = {
      var (t0, done, lastTs) =
        if (st.exists()) st.get() else (Long.MinValue, false, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Int, Long)]()
      rows.toArray.sortBy(_._3).foreach { case (_, _, tsUs, et) =>
        require(tsUs >= lastTs,
          s"funnelTimeoutStream requires nondecreasing per-user event " +
            s"time across batches: $key got $tsUs after $lastTs " +
            s"(a cross-batch reorder could silently flip an outcome)")
        lastTs = tsUs
        if (et == "view" && t0 == Long.MinValue) {
          t0 = tsUs
          // ceil to ms so the timer can never fire before an exactly
          // boundary-timestamped purchase is watermark-complete
          getHandle.registerTimer((t0 + windowUs + 999L) / 1000L)
        } else if (et == "purchase" && t0 != Long.MinValue && !done &&
            tsUs > t0 && tsUs <= t0 + windowUs) {
          out += ((key, t0, 1, tsUs - t0))
          done = true
        }
      }
      if (lastTs != Long.MinValue) st.update((t0, done, lastTs))
      out.iterator
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(String, Long, Int, Long)] = {
      val (t0, done, lastTs) =
        if (st.exists()) st.get() else (Long.MinValue, true, Long.MinValue)
      if (t0 != Long.MinValue && !done) {
        st.update((t0, true, lastTs))
        Iterator((key, t0, 0, -1L))
      } else Iterator.empty
    }
  }

  /** [[FunnelTimeoutProcessor]] over a raw (user, ts, event_type)
    * frame: watermarks `ts` (event-time timers need the event-time
    * clock), carries the exact micros alongside, and emits one
    * (user, t0_us, converted, lag_us) outcome per first-view funnel.
    * All three input columns are parameters (defaulting to the events
    * fixture's names) so a differently-named frame binds explicitly
    * instead of failing at plan time on a hardcoded name (round-13
    * ADVICE). RocksDB provider required, as for [[cusumStream]]. */
  def funnelTimeoutStream(events: DataFrame, tsCol: String,
                          watermark: String, windowUs: Long,
                          userCol: String = "user_id",
                          typeCol: String = "event_type")
      : Dataset[(String, Long, Int, Long)] = {
    require(windowUs > 0, s"window must be positive: $windowUs")
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("string"), col(tsCol),
        unix_micros(col(tsCol)), col(typeCol))
      .as[(String, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new FunnelTimeoutProcessor(windowUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Multi-step funnel with per-step windows and RE-ARMED event-time
    * timers — the k-step generalization of [[FunnelTimeoutProcessor]]
    * (round-13 directive #7): `steps` is the ordered event-type ladder
    * (e.g. view → click → purchase) and windowsUs(i) bounds the wait
    * for steps(i+1) after steps(i)'s event time. State per user stays
    * ONE (stage, stageTs, t0, done, lastTs) tuple whatever k is; each
    * advancement re-arms the timer at the NEW deadline. A previously
    * registered timer cannot be deleted without tracking its exact
    * registration, so a STALE expiry (the stage advanced after arming)
    * is disarmed by COMPARISON instead: expiry earlier than the current
    * stage's ceil-ms deadline is ignored. Outcomes, one per funnel:
    * reaching the last step emits (user, t0_us, k−1, total_lag_us) on
    * the arriving row; the watermark passing the CURRENT deadline first
    * emits (user, t0_us, stages_completed, −1) from the timer. Same
    * per-user nondecreasing-ts arrival contract as the one-step
    * processor, enforced loudly. */
  private class FunnelStepsProcessor(steps: Array[String],
                                     windowsUs: Array[Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, java.sql.Timestamp, Long, String),
        (String, Long, Int, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    // (stage, stageTs, t0, done, lastTs — the order guard)
    @transient private var st: org.apache.spark.sql.streaming.ValueState[
      (Int, Long, Long, Boolean, Long)] = _
    private def deadlineMs(stageTs: Long, stage: Int): Long =
      (stageTs + windowsUs(stage) + 999L) / 1000L // ceil, as 1-step
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Int, Long, Long, Boolean, Long)]("fsteps",
        E.product[(Int, Long, Long, Boolean, Long)], TTLConfig.NONE)
    override def handleInputRows(key: String,
                                 rows: Iterator[(String, java.sql.Timestamp, Long, String)],
                                 tv: TimerValues): Iterator[(String, Long, Int, Long)] = {
      var (stage, stageTs, t0, done, lastTs) =
        if (st.exists()) st.get() else (-1, 0L, 0L, false, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Int, Long)]()
      rows.toArray.sortBy(_._3).foreach { case (_, _, tsUs, et) =>
        require(tsUs >= lastTs,
          s"funnelStepsStream requires nondecreasing per-user event " +
            s"time across batches: $key got $tsUs after $lastTs " +
            s"(a cross-batch reorder could silently flip an outcome)")
        lastTs = tsUs
        if (stage == -1) {
          if (et == steps(0)) {
            stage = 0; stageTs = tsUs; t0 = tsUs
            getHandle.registerTimer(deadlineMs(stageTs, 0))
          }
        } else if (!done && et == steps(stage + 1) &&
            tsUs > stageTs && tsUs <= stageTs + windowsUs(stage)) {
          stage += 1; stageTs = tsUs
          if (stage == steps.length - 1) {
            done = true
            out += ((key, t0, stage, tsUs - t0))
          } else getHandle.registerTimer(deadlineMs(stageTs, stage))
        }
      }
      if (lastTs != Long.MinValue) st.update((stage, stageTs, t0, done, lastTs))
      out.iterator
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[(String, Long, Int, Long)] = {
      val (stage, stageTs, t0, done, lastTs) =
        if (st.exists()) st.get() else (-1, 0L, 0L, true, Long.MinValue)
      // stale-timer disarm: an expiry armed for an EARLIER stage sits
      // before the current deadline and must not finalize the funnel
      if (stage >= 0 && !done &&
          info.getExpiryTimeInMs() >= deadlineMs(stageTs, stage)) {
        st.update((stage, stageTs, t0, true, lastTs))
        Iterator((key, t0, stage, -1L))
      } else Iterator.empty
    }
  }

  /** [[FunnelStepsProcessor]] over a raw (user, ts, event_type) frame —
    * the same wiring contract as [[funnelTimeoutStream]] (explicit
    * column parameters, watermarked event-time clock, exact micros
    * carried alongside). Emits ONE (user, t0_us, stages_completed,
    * total_lag_us) outcome per funnel: stages_completed = k−1 with the
    * true view→last-step lag when the ladder completes, else the stage
    * reached with lag −1 when the watermark passes that stage's
    * deadline. RocksDB provider required, as for [[cusumStream]]. */
  def funnelStepsStream(events: DataFrame, tsCol: String, watermark: String,
                        steps: Seq[String], windowsUs: Seq[Long],
                        userCol: String = "user_id",
                        typeCol: String = "event_type")
      : Dataset[(String, Long, Int, Long)] = {
    require(steps.length >= 2 && steps.distinct.length == steps.length,
      s"need >= 2 DISTINCT funnel steps: $steps")
    require(windowsUs.length == steps.length - 1 && windowsUs.forall(_ > 0),
      s"need one positive window per transition: $windowsUs for $steps")
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, watermark)
      .select(col(userCol).cast("string"), col(tsCol),
        unix_micros(col(tsCol)), col(typeCol))
      .as[(String, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new FunnelStepsProcessor(steps.toArray, windowsUs.toArray),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Watermarked stream-stream inner equi-join with an event-time range
    * bound. Both sides buffer state only within their watermark; the
    * range predicate lets Spark evict rows once the other side's clock
    * passes `maxDelay`, so state is bounded on both sides — the
    * streaming form of the batch range join (q54). */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       key: String, leftTs: String, rightTs: String,
                       watermark: String, maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $maxDelay"))
      .drop(r(key))
  }

  /** Event-time sessionization with custom state (flatMapGroupsWithState):
    * per-user sessions close after `gapMinutes` of event-time silence or
    * on state timeout, emitting (user, start, end, n_events). State per
    * key is one open session — O(users) bytes, bounded by the event-time
    * timeout; the streaming face of the batch session_window (q29).
    *
    * Out-of-order events within the watermark extend the open session on
    * either side (start and end both move). An event older than the open
    * session by more than the gap emits immediately as a singleton
    * session; two such stragglers within a gap of each other emit as two
    * singletons rather than merging — the conservative trade for keeping
    * exactly one open session per key in state. */
  def sessionize(events: Dataset[(Long, java.sql.Timestamp)], gapMinutes: Int,
                 watermark: String = "1 hour")
      : Dataset[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .toDF("user", "ts")
      .withWatermark("ts", watermark) // EventTimeTimeout needs an event-time clock
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long)]) => // (startMs, endMs, n)
          if (state.hasTimedOut) {
            val (s, e, n) = state.get
            state.remove()
            Iterator((user, new java.sql.Timestamp(s), new java.sql.Timestamp(e), n))
          } else {
            val ts = rows.map(_._2.getTime).toSeq.sorted
            var closed = List.empty[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                // within the gap of the open session's span (either side —
                // batches can deliver out-of-order events): extend both ends
                case Some((s, e, n)) if t >= s - gapMs && t <= e + gapMs =>
                  cur = Some((t min s, t max e, n + 1))
                // newer than the span by more than the gap: close, start new
                case Some((s, e, n)) if t > e + gapMs =>
                  closed ::= ((user, new java.sql.Timestamp(s), new java.sql.Timestamp(e), n))
                  cur = Some((t, t, 1L))
                // older than the span by more than the gap: a late singleton
                // session that can no longer grow (anything near it is even
                // later than this already-late event) — emit immediately
                case Some(_) =>
                  closed ::= ((user, new java.sql.Timestamp(t), new java.sql.Timestamp(t), 1L))
                case None => cur = Some((t, t, 1L))
              }
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c._2 + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming face of [[graft.operators.TimeSeries.rollingZScore]]: the
    * same all-integer trailing-window z-test — (c·n − S)² > z²·(n·Q − S²)
    * — applied as bucket observations arrive, so flags match the batch
    * operator bit-for-bit on an in-order series (pinned in
    * StreamingSpec). Input is one row per (key, bucket) — the output of
    * a windowed aggregation — not raw events.
    *
    * State per key is the ring of the last `lookback` integer
    * observations: O(keys × lookback) longs, independent of stream
    * length. Rows inside a micro-batch are processed in timestamp order;
    * an out-of-order bucket ACROSS batches is judged against the ring as
    * it stands (the practical streaming trade — re-sorting history would
    * need unbounded state; run the batch operator for a late-data-exact
    * backfill). Emits (key, ts, c, win_n, is_anomaly) for every row. */
  /** Streaming distinct-count via the KMV sketch ([[graft.operators
    * .Sketches.kmvSketchGrouped]]'s streaming face): state per key is
    * the k smallest distinct 60-bit hashes seen so far — O(keys × k)
    * longs, independent of stream length — and each micro-batch emits
    * the key's refreshed (n_kept, est_distinct). The hash is the same
    * md5-prefix decode the batch sketch uses, so a streamed estimate
    * equals the batch operator run over the same prefix of the stream
    * EXACTLY (pinned in StreamingSpec), and a restart from checkpointed
    * state continues the same sketch. Under-k keys report exact counts.
    */
  def kmvDistinctStream(values: Dataset[(String, String)], k: Int,
                        salt: String): Dataset[(String, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import values.sparkSession.implicits._
    require(k >= 2, s"k must be >= 2: $k")
    def hash60(v: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$v".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    values
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[Seq[Long]]) =>
          val prev = state.getOption.getOrElse(Seq.empty[Long])
          val merged = (prev ++ rows.map(r => hash60(r._2)))
            .distinct.sorted.take(k)
          state.update(merged)
          val n = merged.size.toLong
          val est =
            if (n < k) n.toDouble
            else {
              val kth = merged.last.toDouble
              BigDecimal((k - 1).toDouble * math.pow(2.0, 60.0) / kth)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            }
          Iterator((key, n, est))
      }
  }

  /** Streaming HLL distinct-count ([[graft.operators.Sketches.hllSketch]]'s
    * streaming face): state per key is the m = 2^b register array — m
    * BYTES, the smallest distinct-count state there is — updated by
    * element-wise max, so late/duplicate/reordered data can never corrupt
    * it. Same md5 register/ρ derivation and the same estimator arithmetic
    * as the batch operator, so a streamed estimate equals the batch
    * operator over the same stream prefix EXACTLY (pinned in
    * StreamingSpec), and a restart from checkpointed state continues the
    * same sketch. Emits (key, n_nonzero, est_distinct) per key per batch.
    */
  def hllDistinctStream(values: Dataset[(String, String)], b: Int,
                        salt: String): Dataset[(String, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import values.sparkSession.implicits._
    require(b % 4 == 0 && b >= 4 && b <= 16, s"b must be in {4,8,12,16}: $b")
    val m = 1 << b
    val alpha =
      if (m >= 128) 0.7213 / (1 + 1.079 / m)
      else if (m == 64) 0.709
      else if (m == 32) 0.697
      else 0.673
    def regRho(v: String): (Int, Int) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$v".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString
      val reg = Integer.parseInt(hex.substring(0, b / 4), 16)
      val tail = java.lang.Long.parseLong(hex.substring(b / 4, b / 4 + 14), 16)
      // bitLength via nlz: tail < 2^56, tail==0 -> bitLength 0 -> capped
      val rho = math.min(57 - (64 - java.lang.Long.numberOfLeadingZeros(tail)), 50)
      (reg, rho)
    }
    values
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[Array[Byte]]) =>
          val regs = state.getOption.getOrElse(new Array[Byte](m))
          rows.foreach { r =>
            val (reg, rho) = regRho(r._2)
            if (rho > regs(reg)) regs(reg) = rho.toByte
          }
          state.update(regs)
          val nz = regs.count(_ > 0).toLong
          // identical arithmetic to Sketches.hllEstimate: exact integer
          // 2^(50-rho) sum (zero registers contribute 2^50), then the
          // same double expression tree and HALF_UP round to 2 decimals
          val sumPow50 = regs.foldLeft(0L)((acc, r) => acc + (1L << (50 - r)))
          val raw = (alpha * m) * m * math.pow(2.0, 50.0) / sumPow50.toDouble
          val est =
            if (raw <= 2.5 * m && nz < m)
              m.toDouble * math.log(m.toDouble / (m - nz).toDouble)
            else raw
          Iterator((key, nz,
            BigDecimal(est).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
  }

  /** Streaming heavy hitters via the Misra-Gries summary (Misra &
    * Gries, "Finding repeated elements", Sci.Comp.Prog. 1982): per key,
    * at most `k` (item, counter) pairs — O(keys × k) state forever. The
    * deterministic guarantee (NOT sensitive to arrival order): after N
    * items, every item with true frequency > N/(k+1) is PRESENT in the
    * summary, and each reported counter lower-bounds the true count by
    * at most N/(k+1). The streaming twin of the batch count-min
    * operator (q101) — count-min never undercounts, MG never
    * over-counts; together they bracket. Emits the key's full summary
    * (key, item, count) each batch. */
  def heavyHittersStream(values: Dataset[(String, String)],
                         k: Int): Dataset[(String, String, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import values.sparkSession.implicits._
    require(k >= 1, s"k must be >= 1: $k")
    values
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[Map[String, Long]]) =>
          var s = state.getOption.getOrElse(Map.empty[String, Long])
          rows.foreach { r =>
            val item = r._2
            s.get(item) match {
              case Some(c) => s = s.updated(item, c + 1)
              case None if s.size < k => s = s.updated(item, 1L)
              case None => // decrement-all: the MG eviction step
                s = s.flatMap { case (i, c) =>
                  if (c > 1) Some(i -> (c - 1)) else None
                }
            }
          }
          state.update(s)
          s.toSeq.sortBy { case (i, c) => (-c, i) }
            .iterator.map { case (i, c) => (key, i, c) }
      }
  }

  def anomalyStream(values: Dataset[(String, java.sql.Timestamp, Long)],
                    lookback: Int, minObs: Int, z: Int,
                    watermark: String = "1 hour")
      : Dataset[(String, java.sql.Timestamp, Long, Long, Boolean)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import values.sparkSession.implicits._
    require(lookback > 0 && minObs > 0 && z > 0,
      s"need lookback, minObs, z > 0; got $lookback, $minObs, $z")
    values
      .toDF("k", "ts", "c").withWatermark("ts", watermark)
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[(String, java.sql.Timestamp, Long)],
         state: GroupState[List[Long]]) =>
          var ring = state.getOption.getOrElse(List.empty[Long]) // oldest..newest
          val out = rows.toSeq.sortBy(_._2.getTime).map { case (_, ts, c) =>
            val n = ring.size.toLong
            val s = ring.sum
            val q = ring.iterator.map(x => x * x).sum
            val dev = c * n - s
            val flag = n >= minObs && dev * dev > z.toLong * z * (n * q - s * s)
            ring = (ring :+ c).takeRight(lookback)
            (k, ts, c, n, flag)
          }
          state.update(ring)
          out.iterator
      }
  }
}
