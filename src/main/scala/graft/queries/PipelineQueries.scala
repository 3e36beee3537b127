package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.Relational

/** Rounds 9-10 surface: the dataset-engineering and experimentation
  * operators a 100 TB training-data platform runs between curation and
  * training — overlapping chunking (the RAG/pretraining windowing
  * step), privacy k-anonymity audits, leakage-audited train/test
  * splits (group-hash and temporal-embargo), the Zipf rank-frequency
  * fit that pairs with q191's Heaps curve, and the measurement stack:
  * CUPED / SRM / decay scoring / Poisson bootstrap / CUSUM (round 9),
  * then mutual information, Kaplan-Meier survival, jackknife
  * influence, calibration bins, caliper matching, conformal intervals,
  * the always-valid mSPRT monitor, and quantile treatment effects
  * (round 10).
  *
  * Shared discipline: outputs are integers, md5 hex digests, or doubles
  * rounded far above cross-engine float noise; every query orders its
  * output with full tie-breaks; every shuffle is bounded by the corpus
  * (token stream), the vocabulary, the day calendar, or an enum-sized
  * audit domain — the only per-row sorts are the caliper match's
  * per-stratum neighbor sort and the conformal calibration rank window,
  * both bounded by design and plan-pinned.
  */
object PipelineQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** ⌊CDF_Poisson(λ=1)(k)·1e6⌋ for k = 0..4 — the inverse-CDF cut
    * points of q201's hash-to-weight map (weights above the last cut
    * saturate at 5). THE single source for both the Spark when-chain
    * and the DuckDB mirror's CASE, and independently re-derived from
    * the factorial series e⁻¹·Σ 1/i! in StatsSpec — the oracle mirrors
    * this construction, so only that independent derivation defends
    * against a shared misreading of the thresholds. */
  private[graft] val Poisson1CdfMicro: Seq[Long] =
    Seq(367879L, 735758L, 919698L, 981011L, 996340L)

  val all: Seq[(String, Q)] = Seq(

    // -------------------------------------------------- PII redaction
    // The privacy gate every shipped corpus runs (q194's free-text
    // twin): count + replace e-mails, dashed phones and IPv4 literals
    // with typed placeholders ([[graft.operators.Curation.piiRedact]]).
    // The fixture corpus carries no PII, so each doc gets a
    // deterministic contact block planted from doc_id arithmetic —
    // 1 + doc_id%3 e-mails, one TPC-H-shaped phone, one IP — BEFORE
    // redaction; counts and the redacted-text md5 are then exact in
    // both engines (patterns are in the Java-regex ∩ RE2 dialect:
    // classes, bounded repetition, \b only). The redaction itself is a
    // narrow codegen'd projection: no join, no aggregate — it scales
    // with scan bandwidth, and the ×100 row measures exactly that.
    "q276_pii_redact" -> Q(
      (s, d) => {
        import s.implicits._
        val k = ($"doc_id" % 3 + 1).cast("int")
        val emails = array_join(transform(sequence(lit(1), k), i =>
          concat(lit("user"), $"doc_id".cast("string"), lit("x"),
            i.cast("string"), lit("@example.com"))), " ")
        val phone = concat(lit("25-"),
          lpad(($"doc_id" % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((($"doc_id" * 7) % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((($"doc_id" * 13) % 10000).cast("string"), 4, "0"))
        val ip = concat(lit("10."), ($"doc_id" % 256).cast("string"),
          lit("."), (expr("doc_id div 7") % 256).cast("string"),
          lit(".1"))
        val contact = concat($"text", lit(" reach me: "), emails,
          lit(" tel "), phone, lit(" from "), ip)
        graft.operators.Curation.piiRedact(
            t(s, d, "documents").select($"doc_id", contact.as("__contact")),
            "doc_id", col("__contact"))
          .orderBy($"doc_id")
      },
      Some("""WITH c AS (SELECT doc_id,
          text || ' reach me: ' ||
          array_to_string(list_transform(range(1, CAST(doc_id % 3 + 2 AS BIGINT)),
            i -> 'user' || doc_id || 'x' || i || '@example.com'), ' ') ||
          ' tel 25-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
          '-' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') ||
          '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0') ||
          ' from 10.' || (doc_id % 256) || '.' || ((doc_id // 7) % 256) || '.1'
            AS t FROM documents),
        r AS (SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS clean,
          len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
          len(regexp_extract_all(t, '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS n_phones,
          len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips
        FROM c)
        SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
          CAST(n_phones AS BIGINT) AS n_phones,
          CAST(n_ips AS BIGINT) AS n_ips,
          CAST(length(clean) AS BIGINT) AS clean_len,
          md5(clean) AS clean_md5
        FROM r ORDER BY doc_id"""),
      "PII redaction: e-mail/phone/IPv4 counts + typed-placeholder rewrite, md5-pinned"),

    // ------------------------------------------------- shard layout
    // The LAST layout stage before training — after chunk (q193) and
    // pack (q179) the corpus must land as N shard files in a
    // reproducible EPOCH-SHUFFLED order: shard = md5-hash of the doc
    // id (the q195 split idiom — deterministic, engine-independent),
    // within-shard order = md5("epoch1:" ++ id) ascending with id
    // tie-break (a different epoch salt is a fresh global shuffle; the
    // same salt replays byte-identically — auditable training order,
    // the q157/q195 reproducibility discipline). The shard's ORDER is
    // pinned cross-engine by an order-sensitive checksum
    // Σ (rank mod p)·(id mod p) (p = 1000003; terms < 10¹², sums < 2⁶³
    // — integer-exact in both engines), plus the first-ranked doc id.
    // Scale shape: ONE window sort per shard partition (= corpus/N
    // rows — the honest cost of a global shuffle, exactly what a
    // layout writer pays in repartition+sortWithinPartitions), then a
    // shard-bounded aggregate. No joins.
    "q277_shard_layout" -> Q(
      (s, d) => {
        import s.implicits._
        graft.operators.Curation.shardLayout(t(s, d, "documents"),
            "doc_id", "text", nShards = 16, epochSalt = "epoch1")
          .orderBy($"shard")
      },
      Some("""WITH keyed AS (SELECT doc_id,
          len(string_split(text, ' ')) AS n_tok,
          CAST('0x' || substr(md5('shard:' || doc_id), 1, 15) AS BIGINT) % 16 AS shard,
          CAST('0x' || substr(md5('epoch1:' || doc_id), 1, 15) AS BIGINT) AS ord
        FROM documents),
        ranked AS (SELECT doc_id, n_tok, shard,
          row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS rk
        FROM keyed)
        SELECT shard, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens,
          CAST(sum((rk % 1000003) * (doc_id % 1000003)) AS BIGINT)
            AS order_checksum,
          max(CASE WHEN rk = 1 THEN doc_id END) AS first_doc
        FROM ranked GROUP BY shard ORDER BY shard"""),
      "epoch-shuffled shard layout: hash shards, seeded order, order-sensitive checksum"),

    // --------------------------------------------- source mixing (T=2)
    // The data-MIXTURE step every multi-source pretraining run performs
    // (round-16): sample source s ∝ n_s^(1/T) — the XLM-R/mT5
    // multilingual re-balance — with the kept set a deterministic
    // function of the corpus (smallest (md5(id), id) ranks per source,
    // the q195 hash idiom applied to sampling) and the temperature
    // point T = 2 kept integer-exact via ⌊√n⌋ (floats never touch a
    // keep/drop boundary). The fixture's `source` column is uniform
    // (20 × equal), which would make any temperature vacuous — so the
    // query derives the skewed mixture a real corpus has (web/books/
    // code/wiki/papers at 8:4:2:1:1 by doc_id arithmetic, identical in
    // both engines) and targets 4/5 of the corpus: sqrt weighting then
    // drives the two smallest sources ABOVE their counts (n_epochs = 2
    // — the up-sampling a T=2 mixture legitimately demands, surfaced
    // as the epoch multiplier instead of silently truncated). The two
    // checksums pin the kept SET cross-engine, not just its size.
    "q284_temperature_mix" -> Q(
      (s, d) => {
        import s.implicits._
        val src = when($"doc_id" % 16 < 8, "web")
          .when($"doc_id" % 16 < 12, "books")
          .when($"doc_id" % 16 < 14, "code")
          .when($"doc_id" % 16 === 14, "wiki")
          .otherwise("papers")
        graft.operators.Curation.sourceMix(
            t(s, d, "documents").withColumn("mix_src", src),
            "doc_id", "mix_src", fracNum = 4, fracDen = 5,
            weighting = "sqrt")
          .orderBy($"mix_src")
      },
      Some("""WITH src AS (SELECT doc_id,
            CASE WHEN doc_id % 16 < 8 THEN 'web'
                 WHEN doc_id % 16 < 12 THEN 'books'
                 WHEN doc_id % 16 < 14 THEN 'code'
                 WHEN doc_id % 16 = 14 THEN 'wiki'
                 ELSE 'papers' END AS mix_src
          FROM documents),
        cu AS (SELECT mix_src, count(*) AS n_docs,
            CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS u
          FROM src GROUP BY 1),
        tot AS (SELECT sum(n_docs) AS nn, sum(u) AS uu FROM cu),
        tg AS (SELECT mix_src, n_docs, u,
            (((nn * 4) // 5) * u) // uu AS n_target FROM cu, tot),
        rk AS (SELECT doc_id, mix_src,
            row_number() OVER (PARTITION BY mix_src
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM src),
        kept AS (SELECT rk.mix_src, count(*) AS n_kept,
            sum(doc_id % 1000003) AS keep_sum,
            sum((doc_id % 1000003) * (doc_id % 1000003)) AS keep_sq_sum
          FROM rk JOIN tg USING (mix_src) WHERE rk.rk <= tg.n_target
          GROUP BY 1)
        SELECT tg.mix_src AS mix_src, CAST(tg.n_docs AS BIGINT) AS n_docs,
          CAST(tg.u AS BIGINT) AS u, CAST(tg.n_target AS BIGINT) AS n_target,
          CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
          CAST((tg.n_target + tg.n_docs - 1) // tg.n_docs AS BIGINT) AS n_epochs,
          CAST(coalesce(kept.keep_sum, 0) AS BIGINT) AS keep_sum,
          CAST(coalesce(kept.keep_sq_sum, 0) AS BIGINT) AS keep_sq_sum
        FROM tg LEFT JOIN kept USING (mix_src) ORDER BY mix_src"""),
      "temperature-2 source mixing: integer-exact isqrt weighting, deterministic hash-rank sampling, epoch multiplier"),

    // ------------------------------- epoch-replicated mixture rows
    // q284 surfaces a low-resource source's repeat factor as the
    // n_epochs NUMBER; this registers the replicated kept-ROWS face an
    // up-sampling mixture actually trains on (round-17 directive):
    // exactly n_target rows per source — each kept row once per full
    // epoch plus the rank-smallest residue in the final partial epoch,
    // all on the same deterministic (md5(id), id) rank. The q284
    // fixture's sqrt weighting genuinely up-samples wiki/papers
    // (n_target > n_docs -> epoch 2 appears), so the per-(source,
    // epoch) row counts and set checksums pin full-epoch replication
    // AND the partial-epoch selection cross-engine.
    "q286_mix_epoch_rows" -> Q(
      (s, d) => {
        import s.implicits._
        val src = when($"doc_id" % 16 < 8, "web")
          .when($"doc_id" % 16 < 12, "books")
          .when($"doc_id" % 16 < 14, "code")
          .when($"doc_id" % 16 === 14, "wiki")
          .otherwise("papers")
        graft.operators.Curation.sourceMixKeepEpochs(
            t(s, d, "documents").select($"doc_id").withColumn("mix_src", src),
            "doc_id", "mix_src", fracNum = 4, fracDen = 5,
            weighting = "sqrt")
          .groupBy($"mix_src", $"epoch")
          .agg(count(lit(1)).as("n_rows"),
            sum($"doc_id" % 1000003L).as("keep_sum"),
            sum(($"doc_id" % 1000003L) * ($"doc_id" % 1000003L)).as("keep_sq_sum"))
          .orderBy($"mix_src", $"epoch")
      },
      Some("""WITH esrc AS (SELECT doc_id,
            CASE WHEN doc_id % 16 < 8 THEN 'web'
                 WHEN doc_id % 16 < 12 THEN 'books'
                 WHEN doc_id % 16 < 14 THEN 'code'
                 WHEN doc_id % 16 = 14 THEN 'wiki'
                 ELSE 'papers' END AS mix_src
          FROM documents),
        ecu AS (SELECT mix_src, count(*) AS n_docs,
            CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS u
          FROM esrc GROUP BY 1),
        etot AS (SELECT sum(n_docs) AS nn, sum(u) AS uu FROM ecu),
        etg AS (SELECT mix_src, n_docs, u,
            (((nn * 4) // 5) * u) // uu AS n_target FROM ecu, etot),
        erk AS (SELECT doc_id, mix_src,
            row_number() OVER (PARTITION BY mix_src
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM esrc),
        eeps AS (SELECT mix_src, n_docs, n_target,
            unnest(generate_series(1, CAST(greatest(
              (n_target + n_docs - 1) // n_docs, 1) AS BIGINT))) AS epoch
          FROM etg)
        SELECT mix_src, CAST(epoch AS BIGINT) AS epoch,
          count(*) AS n_rows,
          CAST(sum(doc_id % 1000003) AS BIGINT) AS keep_sum,
          CAST(sum((doc_id % 1000003) * (doc_id % 1000003)) AS BIGINT) AS keep_sq_sum
        FROM erk JOIN eeps USING (mix_src)
        WHERE (epoch - 1) * n_docs + rk <= n_target
        GROUP BY 1, 2 ORDER BY mix_src, epoch"""),
      "epoch-replicated mixture rows: full-epoch replication + deterministic partial-epoch residue"),

    // ------------------------------- content-defined chunking (CDC)
    // The rsync/LBFS/FastCDC boundary rule (round-17): cut where the
    // md5 of the 8-char window ending at a position has residue 0 mod
    // 64 (expected chunk ~64 chars) — boundaries are functions of
    // LOCAL content, so an insertion shifts only the chunk it lands in
    // and every later chunk hash re-aligns (spec-pinned), the property
    // fixed-size chunking (q193) structurally lacks and the reason
    // storage dedup and shift-robust corpus dedup chunk this way. The
    // registered slice pins every boundary, span and chunk md5
    // byte-for-byte against the oracle's replay of the same rule.
    "q287_cdc_chunks" -> Q(
      (s, d) => {
        import s.implicits._
        graft.operators.Curation.cdcChunks(
            t(s, d, "documents").filter($"doc_id" < 40)
              .select($"doc_id", $"text"),
            "doc_id", "text", w = 8, den = 64)
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""WITH ccd AS (SELECT doc_id, text, length(text) AS n
          FROM documents WHERE doc_id < 40 AND length(text) >= 1),
        ccb AS (SELECT doc_id, text,
            list_concat(list_concat([CAST(0 AS BIGINT)],
              list_filter(range(8, n), p ->
                CAST('0x' || substr(md5(substr(text, CAST(p - 7 AS INTEGER), 8)), 1, 8)
                  AS BIGINT) % 64 = 0)), [CAST(n AS BIGINT)]) AS bs
          FROM ccd),
        cch AS (SELECT doc_id, text, bs,
            unnest(range(1, len(bs))) AS i FROM ccb)
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
          CAST(bs[CAST(i AS INTEGER)] + 1 AS BIGINT) AS start,
          CAST(bs[CAST(i + 1 AS INTEGER)] - bs[CAST(i AS INTEGER)] AS BIGINT) AS chunk_len,
          md5(substr(text, CAST(bs[CAST(i AS INTEGER)] + 1 AS INTEGER),
            CAST(bs[CAST(i + 1 AS INTEGER)] - bs[CAST(i AS INTEGER)] AS INTEGER))) AS chunk_md5
        FROM cch ORDER BY doc_id, chunk_idx"""),
      "content-defined chunking: md5-window residue boundaries, insertion-realigning spans"),

    // ---------------------- CDC chunk-level dedup (the consumer)
    // Exact dedup at CDC-CHUNK granularity over the full corpus: one
    // hash aggregate on chunk_md5 — sub-document duplication that
    // doc-level exact dedup keeps (a shared paragraph in otherwise
    // distinct docs) surfaces here WITHOUT the stride-1 window volume
    // of q273 (≈ bytes/64 chunk rows vs one row per byte), and the
    // content-defined boundaries mean a SHIFTED copy of a paragraph
    // still lands on identical chunk hashes. Output is bounded by the
    // distinct duplicated-chunk count; ×100 replication multiplies
    // occurrence counts, not output rows.
    "q288_cdc_dedup" -> Q(
      (s, d) => {
        import s.implicits._
        // reads the materialized chunk table (TextSketch — chunk at
        // ingest, the store discipline; q287 keeps the live face); the
        // oracle re-derives every boundary + chunk md5 from the text
        graft.queries.TextSketch.cdcChunkTable(s, d)
          .groupBy($"chunk_md5", $"chunk_len")
          .agg(count(lit(1)).as("n_occ"),
            countDistinct($"doc_id").as("n_docs"),
            min($"doc_id").as("first_doc"))
          .filter($"n_occ" >= 2)
          .orderBy($"chunk_md5")
      },
      Some("""WITH dcd AS (SELECT doc_id, text, length(text) AS n FROM documents
          WHERE length(text) >= 1),
        dcb AS (SELECT doc_id, text,
            list_concat(list_concat([CAST(0 AS BIGINT)],
              list_filter(range(8, n), p ->
                CAST('0x' || substr(md5(substr(text, CAST(p - 7 AS INTEGER), 8)), 1, 8)
                  AS BIGINT) % 64 = 0)), [CAST(n AS BIGINT)]) AS bs
          FROM dcd),
        dch AS (SELECT doc_id,
            md5(substr(text, CAST(bs[CAST(i AS INTEGER)] + 1 AS INTEGER),
              CAST(bs[CAST(i + 1 AS INTEGER)] - bs[CAST(i AS INTEGER)] AS INTEGER)))
              AS chunk_md5,
            CAST(bs[CAST(i + 1 AS INTEGER)] - bs[CAST(i AS INTEGER)] AS BIGINT)
              AS chunk_len
          FROM (SELECT doc_id, text, bs, unnest(range(1, len(bs))) AS i FROM dcb))
        SELECT chunk_md5, chunk_len, count(*) AS n_occ,
          count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
        FROM dch GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY chunk_md5"""),
      "CDC chunk-hash dedup: shift-robust sub-document duplication in one hash aggregate"),

    // ---------------------------- dedup-first CDC chunk dedup (round-18)
    // q288 composed the house way (the q205/q271/q274 convention): exact
    // keepers collapse whole-doc replication BEFORE the chunk rollup, so
    // the surviving duplicated chunks are genuinely CROSS-DOC shared
    // blocks (boilerplate paragraphs in otherwise distinct docs) — the
    // rows a curation pipeline acts on — and under ×N replication the
    // rollup runs over base-sized keeper chunks (q288's own ×100 datum
    // is occurrence-count growth by design; this is the production
    // shape). Store-fed AND dedup-first: chunks are per-doc, so the
    // keeper semi-join restriction of the materialized cdcChunkTable
    // equals a fresh derivation over the keepers.
    "q290_cdc_dedup_first" -> Q(
      (s, d) => {
        import s.implicits._
        val keep = graft.operators.Dedup.exactKeepers(
          t(s, d, "documents"), "doc_id", "text")
        graft.queries.TextSketch.cdcChunkTable(s, d)
          .join(keep.select($"keeper_id".as("doc_id")), Seq("doc_id"),
            "left_semi")
          .groupBy($"chunk_md5", $"chunk_len")
          .agg(count(lit(1)).as("n_occ"),
            countDistinct($"doc_id").as("n_docs"),
            min($"doc_id").as("first_doc"))
          .filter($"n_occ" >= 2)
          .orderBy($"chunk_md5")
      },
      Some("""WITH dfk AS (SELECT md5(text) AS h, min(doc_id) AS keeper_id
          FROM documents GROUP BY 1),
        dfd AS (SELECT d.doc_id, d.text, length(d.text) AS n
          FROM documents d JOIN dfk ON d.doc_id = dfk.keeper_id
          WHERE length(d.text) >= 1),
        dfb AS (SELECT doc_id, text,
            list_concat(list_concat([CAST(0 AS BIGINT)],
              list_filter(range(8, n), p ->
                CAST('0x' || substr(md5(substr(text, CAST(p - 7 AS INTEGER), 8)), 1, 8)
                  AS BIGINT) % 64 = 0)), [CAST(n AS BIGINT)]) AS bs
          FROM dfd),
        dfh AS (SELECT doc_id,
            md5(substr(text, CAST(bs[CAST(i AS INTEGER)] + 1 AS INTEGER),
              CAST(bs[CAST(i + 1 AS INTEGER)] - bs[CAST(i AS INTEGER)] AS INTEGER)))
              AS chunk_md5,
            CAST(bs[CAST(i + 1 AS INTEGER)] - bs[CAST(i AS INTEGER)] AS BIGINT)
              AS chunk_len
          FROM (SELECT doc_id, text, bs, unnest(range(1, len(bs))) AS i FROM dfb))
        SELECT chunk_md5, chunk_len, count(*) AS n_occ,
          count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
        FROM dfh GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY chunk_md5"""),
      "dedup-first CDC chunk dedup: exact keepers collapse replication before the chunk rollup"),

    // --------------------------------- intra-doc repetition (round-18)
    // The LOOPING-OUTPUT quality screen every synthetic/generated-text
    // gate needs and the cross-doc family can't express: a document
    // that repeats its own 3-gram phrases (degenerate generation, spam
    // keyword stuffing, boilerplate self-padding) is invisible to
    // exact/near/substring dedup — those compare ACROSS docs — but its
    // repeated-gram mass ratio exposes it in one narrow per-doc
    // projection: rep_ppm = (n_grams − n_distinct)·10⁶ div n_grams
    // over word-3-grams, integer-exact (no float at a future keep/drop
    // boundary). No shuffle at all except the presentation sort; at
    // 100 TB this is a scan-proportional map, the cheapest shape there
    // is. Docs under 3 words carry no 3-gram and are out of the
    // measure's domain (dropped, matching the oracle's len >= 3 gate).
    "q289_intradoc_repetition" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "documents")
          .select($"doc_id", TextFunctions.words($"text").as("w"))
          .filter(size($"w") >= 3)
          .select($"doc_id",
            transform(sequence(lit(1), size($"w") - 2),
              i => concat_ws(" ", slice($"w", i, lit(3)))).as("g"))
          .select($"doc_id",
            size($"g").cast("long").as("n_grams"),
            size(array_distinct($"g")).cast("long").as("n_distinct"))
          .withColumn("rep_ppm",
            expr("((n_grams - n_distinct) * 1000000) div n_grams"))
          .orderBy($"doc_id")
      },
      Some("""WITH rpw AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents),
        rpg AS (SELECT doc_id, list_transform(range(1, len(ws) - 1),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g
          FROM rpw WHERE len(ws) >= 3)
        SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
          CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
          CAST(((len(g) - len(list_distinct(g))) * 1000000) // len(g)
            AS BIGINT) AS rep_ppm
        FROM rpg ORDER BY doc_id"""),
      "intra-doc repetition ratio: the looping-generation screen, one narrow per-doc pass"),

    // ------------------------------------------------ overlapping chunking
    // The windowing step every RAG index and long-context pretraining
    // pipeline runs: split each document into C-token chunks at stride
    // S (C=32, S=24 → 8-token overlap), with STABLE chunk identities
    // (doc_id, chunk_idx, start_tok) so re-chunking a re-crawled doc
    // produces diffable ids. One narrow generate per doc — chunk count
    // is ⌈n/S⌉, output scales with corpus tokens, no shuffle at all
    // (the explode and the projection pipeline inside one stage). The
    // chunk text rides out as an md5 so the hash compare is exact.
    "q193_chunk_overlap" -> Q(
      (s, d) => {
        import s.implicits._
        val S = 24; val C = 32
        t(s, d, "documents")
          .select($"doc_id", TextFunctions.words($"text").as("w"))
          .withColumn("n", size($"w"))
          .withColumn("chunk_idx", explode(sequence(lit(0L), expr(s"(n - 1) div $S"))))
          .select($"doc_id", $"chunk_idx",
            ($"chunk_idx" * S).as("start_tok"),
            least(lit(C.toLong), $"n" - $"chunk_idx" * S).as("n_tok"),
            md5(array_join(slice($"w", ($"chunk_idx" * S + 1).cast("int"), lit(C)), " "))
              .as("chunk_hash"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS toks,
            len(string_split(lower(text), ' ')) AS n
          FROM documents),
        s AS (SELECT doc_id, toks, n,
            unnest(generate_series(0, (n - 1) // 24)) AS chunk_idx
          FROM w)
        SELECT doc_id, chunk_idx, chunk_idx * 24 AS start_tok,
          least(32, n - chunk_idx * 24) AS n_tok,
          md5(array_to_string(list_slice(toks,
            chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' ')) AS chunk_hash
        FROM s ORDER BY doc_id, chunk_idx"""),
      "overlapping C-token chunking at stride S with stable chunk ids"),

    // ---------------------------------------------------- k-anonymity audit
    // Privacy audit before a training-data release: group rows by the
    // quasi-identifier tuple (nation, segment, balance-bucket) and
    // report the equivalence-class size distribution — the dataset's
    // k-anonymity is the smallest class, and every class below the
    // policy k (5 here) is a re-identification risk. Two hash
    // aggregates: rows → classes (QID-bounded), classes → size
    // histogram (bounded by distinct sizes). The risk flag is an
    // integer compare; floor() buckets the double balance identically
    // on both engines (round() half-up vs banker's would not).
    "q194_k_anonymity" -> Q(
      (s, d) => {
        import s.implicits._
        val classes = t(s, d, "customer")
          .groupBy($"c_nationkey", $"c_mktsegment",
            floor($"c_acctbal" / 100).as("bal_bucket"))
          .agg(count(lit(1)).as("class_size"))
        classes.groupBy($"class_size")
          .agg(count(lit(1)).as("n_classes"),
            sum($"class_size").as("n_rows"))
          .withColumn("at_risk", ($"class_size" < 5).cast("int"))
          .select($"class_size", $"n_classes", $"n_rows", $"at_risk")
          .orderBy($"class_size")
      },
      Some("""WITH classes AS (SELECT c_nationkey, c_mktsegment,
            floor(c_acctbal / 100) AS bal_bucket, count(*) AS class_size
          FROM customer GROUP BY 1, 2, 3)
        SELECT class_size, count(*) AS n_classes,
          CAST(sum(class_size) AS BIGINT) AS n_rows,
          CAST(class_size < 5 AS INTEGER) AS at_risk
        FROM classes GROUP BY class_size ORDER BY class_size"""),
      "k-anonymity equivalence-class size distribution over quasi-identifiers"),

    // --------------------------------------------- group split + leak audit
    // Train/test assignment by GROUP hash (source domain), not by row:
    // row-level splits leak near-duplicates across the boundary, so the
    // split key must be the unit that shares content. Assignment is the
    // q134 md5 idiom (seedless, engine-portable, stable under
    // re-partitioning); the audit then counts content fingerprints that
    // STILL straddle the boundary (cross-source duplication — exactly
    // what group splitting cannot fix and decontamination (q82) must).
    // Every aggregate is corpus- or fingerprint-bounded; the final
    // frame is one row.
    "q195_group_split" -> Q(
      (s, d) => {
        import s.implicits._
        val assigned = t(s, d, "documents")
          .withColumn("split",
            when(conv(substring(md5(concat(lit("q195:"), $"source")), 1, 15), 16, 10)
              .cast("long") % 100 < 80, "train").otherwise("test"))
          .withColumn("fp", TextFunctions.fingerprint($"text"))
          .transform(GraftGlue.materialize(_)) // feeds the split totals AND the fp audit
        val totals = assigned.groupBy($"split")
          .agg(countDistinct($"source").as("gs"), count(lit(1)).as("docs"),
            sum(TextFunctions.wordCount($"text")).as("toks"))
        val row = totals.select(
          sum(when($"split" === "train", $"gs")).as("n_train_groups"),
          sum(when($"split" === "train", $"docs")).as("n_train_docs"),
          sum(when($"split" === "train", $"toks")).as("n_train_tokens"),
          sum(when($"split" === "test", $"gs")).as("n_test_groups"),
          sum(when($"split" === "test", $"docs")).as("n_test_docs"),
          sum(when($"split" === "test", $"toks")).as("n_test_tokens"))
        val leak = assigned.groupBy($"fp")
          .agg(sum(when($"split" === "train", 1L).otherwise(0L)).as("tr"),
            sum(when($"split" === "test", 1L).otherwise(0L)).as("te"))
          .filter($"tr" > 0 && $"te" > 0)
          .agg(coalesce(count(lit(1)), lit(0L)).as("straddling_fps"),
            coalesce(sum($"tr" * $"te"), lit(0L)).as("straddling_doc_pairs"))
        row.crossJoin(leak)
      },
      Some("""WITH a AS (SELECT *,
            CASE WHEN CAST('0x' || substr(md5('q195:' || source), 1, 15) AS BIGINT) % 100 < 80
              THEN 'train' ELSE 'test' END AS split,
            md5(array_to_string(list_sort(list_distinct(
              string_split(lower(text), ' '))), ' ')) AS fp,
            len(string_split(lower(text), ' ')) AS n_tok
          FROM documents),
        tot AS (SELECT
            CAST(sum(CASE WHEN split = 'train' THEN gs END) AS BIGINT) AS n_train_groups,
            CAST(sum(CASE WHEN split = 'train' THEN docs END) AS BIGINT) AS n_train_docs,
            CAST(sum(CASE WHEN split = 'train' THEN toks END) AS BIGINT) AS n_train_tokens,
            CAST(sum(CASE WHEN split = 'test' THEN gs END) AS BIGINT) AS n_test_groups,
            CAST(sum(CASE WHEN split = 'test' THEN docs END) AS BIGINT) AS n_test_docs,
            CAST(sum(CASE WHEN split = 'test' THEN toks END) AS BIGINT) AS n_test_tokens
          FROM (SELECT split, count(DISTINCT source) AS gs, count(*) AS docs,
              CAST(sum(n_tok) AS BIGINT) AS toks FROM a GROUP BY split)),
        leak AS (SELECT coalesce(count(*), 0) AS straddling_fps,
            CAST(coalesce(sum(tr * te), 0) AS BIGINT) AS straddling_doc_pairs
          FROM (SELECT fp,
              CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS tr,
              CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS te
            FROM a GROUP BY fp)
          WHERE tr > 0 AND te > 0)
        SELECT * FROM tot, leak"""),
      "group-hash train/test split with a cross-split fingerprint leak audit"),

    // ------------------------------------------ temporal embargo split
    // The time-series evaluation split: train strictly before T, test
    // strictly after T + embargo, the embargo day DROPPED — the gap
    // absorbs lagged features/labels that would otherwise leak future
    // information into training (the backtest-hygiene standard).
    // The audit counts ENTITIES (users) active on both sides: temporal
    // splits do not isolate entities, so per-user state (q80/q85
    // features) can still leak — that count is the decision input for
    // switching to a user-hash split. One scan, enum-bounded aggregate,
    // one user-bounded distinct aggregate. Timestamp literals compare
    // in UTC on both engines (session TZ pinned).
    "q196_time_embargo_split" -> Q(
      (s, d) => {
        import s.implicits._
        val tCut = lit("2024-01-20 00:00:00").cast("timestamp")
        val tTest = lit("2024-01-21 00:00:00").cast("timestamp")
        val tagged = t(s, d, "events")
          .withColumn("split",
            when($"ts" < tCut, "train")
              .when($"ts" >= tTest, "test").otherwise("embargo"))
        val counts = tagged.groupBy($"split").agg(count(lit(1)).as("n"))
          .select(
            sum(when($"split" === "train", $"n")).as("n_train"),
            sum(when($"split" === "test", $"n")).as("n_test"),
            sum(when($"split" === "embargo", $"n")).as("n_embargo_dropped"))
        val users = tagged.filter($"split" =!= "embargo")
          .groupBy($"user_id")
          .agg(max(when($"split" === "train", 1).otherwise(0)).as("tr"),
            max(when($"split" === "test", 1).otherwise(0)).as("te"))
          .agg(sum($"tr").cast("long").as("n_users_train"),
            sum($"te").cast("long").as("n_users_test"),
            sum($"tr" * $"te").cast("long").as("n_users_straddling"))
        counts.crossJoin(users)
      },
      Some("""WITH tagged AS (SELECT *,
            CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
              WHEN ts >= TIMESTAMP '2024-01-21 00:00:00' THEN 'test'
              ELSE 'embargo' END AS split
          FROM events),
        counts AS (SELECT
            CAST(sum(CASE WHEN split = 'train' THEN 1 END) AS BIGINT) AS n_train,
            CAST(sum(CASE WHEN split = 'test' THEN 1 END) AS BIGINT) AS n_test,
            CAST(sum(CASE WHEN split = 'embargo' THEN 1 END) AS BIGINT) AS n_embargo_dropped
          FROM tagged),
        users AS (SELECT CAST(sum(tr) AS BIGINT) AS n_users_train,
            CAST(sum(te) AS BIGINT) AS n_users_test,
            CAST(sum(tr * te) AS BIGINT) AS n_users_straddling
          FROM (SELECT user_id,
              max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr,
              max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS te
            FROM tagged WHERE split <> 'embargo' GROUP BY user_id))
        SELECT * FROM counts, users"""),
      "temporal train/test split with an embargo gap and entity-straddle audit"),

    // ------------------------------------------------ CUPED adjustment
    // The A/B-testing variance-reduction standard (Deng et al., WSDM'13):
    // adjust the experiment metric y by the pre-period covariate x,
    // y' = y − θ·(x − E[x]) with θ = cov(x,y)/var(x) POOLED, shrinking
    // metric variance by exactly ρ² without biasing the treatment
    // contrast. Here: variant = md5 coin flip on custkey (the q134
    // idiom), y = a customer's 1996+ order cents, x = their pre-1996
    // cents. Everything reduces to one customer-keyed aggregate + one
    // 5-moment DECIMAL-exact scalar row; the adjusted means and the ρ²
    // reduction are single IEEE trees over those exact moments (bit-
    // equal cross-engine), rounded at 1e-4 for the hash.
    "q198_cuped_adjustment" -> Q(
      (s, d) => {
        import s.implicits._
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val per = t(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(
            sum(when($"o_orderdate" < "1996-01-01",
              expr("CAST(round(o_totalprice * 100) AS BIGINT)")).otherwise(0L)).as("x"),
            sum(when($"o_orderdate" >= "1996-01-01",
              expr("CAST(round(o_totalprice * 100) AS BIGINT)")).otherwise(0L)).as("y"))
          .withColumn("variant",
            when(conv(substring(md5(concat(lit("q198:"), $"o_custkey".cast("string"))),
              1, 15), 16, 10).cast("long") % 2 === 0, "control").otherwise("treatment"))
          .transform(GraftGlue.materialize(_)) // feeds the pooled moments AND the variant rows
        val pooled = per.agg(count(lit(1)).as("n"),
            sum(d38($"x")).as("sx"), sum(d38($"y")).as("sy"),
            sum(d38($"x") * d38($"y")).as("sxy"),
            sum(d38($"x") * d38($"x")).as("sxx"),
            sum(d38($"y") * d38($"y")).as("syy"))
          .select(
            (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
              ($"n" * $"sxx" - $"sx" * $"sx").cast("double")).as("theta"),
            ($"sx".cast("double") / $"n").as("mx_all"),
            (pow(($"n" * $"sxy" - $"sx" * $"sy").cast("double"), 2) /
              (($"n" * $"sxx" - $"sx" * $"sx").cast("double") *
                ($"n" * $"syy" - $"sy" * $"sy").cast("double"))).as("rho2"))
        per.groupBy($"variant")
          .agg(count(lit(1)).as("n"),
            sum(d38($"x")).as("vx"), sum(d38($"y")).as("vy"))
          .crossJoin(broadcast(pooled))
          .select($"variant", $"n",
            round($"vy".cast("double") / $"n" / 100.0, 4).as("mean_y"),
            round(($"vy".cast("double") / $"n" -
              $"theta" * ($"vx".cast("double") / $"n" - $"mx_all")) / 100.0, 4)
              .as("mean_y_adj"),
            round($"rho2", 4).as("var_reduction"))
          .orderBy($"variant")
      },
      Some("""WITH per AS (SELECT o_custkey,
            sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS x,
            sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS y,
            CASE WHEN CAST('0x' || substr(md5('q198:' || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
              THEN 'control' ELSE 'treatment' END AS variant
          FROM orders GROUP BY o_custkey,
            CASE WHEN CAST('0x' || substr(md5('q198:' || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
              THEN 'control' ELSE 'treatment' END),
        pooled AS (SELECT
            CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
            CAST(sx AS DOUBLE) / n AS mx_all,
            pow(CAST(n * sxy - sx * sy AS DOUBLE), 2) /
              (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS rho2
          FROM (SELECT count(*) AS n,
              sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy,
              sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
              sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
              sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
            FROM per)),
        v AS (SELECT variant, count(*) AS n,
            sum(CAST(x AS DECIMAL(38,0))) AS vx, sum(CAST(y AS DECIMAL(38,0))) AS vy
          FROM per GROUP BY variant)
        SELECT variant, n,
          round(CAST(vy AS DOUBLE) / n / 100.0, 4) AS mean_y,
          round((CAST(vy AS DOUBLE) / n -
            theta * (CAST(vx AS DOUBLE) / n - mx_all)) / 100.0, 4) AS mean_y_adj,
          round(rho2, 4) AS var_reduction
        FROM v, pooled ORDER BY variant"""),
      "CUPED pre-period covariate adjustment: exact-moment theta, rho-squared reduction"),

    // ------------------------------------------- exponential decay score
    // Recency-weighted scoring — the freshness signal rankers and
    // retention models use: each event contributes value·2^(−age/half-
    // life) toward its type's score (half-life 1 day against a fixed
    // as-of instant, so the query is reproducible). One scan, one
    // enum-bounded aggregate; ages are integer seconds (both engines
    // truncate to the epoch second), the weight is one pow() per row,
    // and the sums are rounded at 1e-2 — three orders above the ~1e-9
    // float-summation-order noise of a 10k-term double sum.
    "q199_decayed_score" -> Q(
      (s, d) => {
        import s.implicits._
        val asOf = lit("2024-01-31 00:00:00").cast("timestamp")
        t(s, d, "events")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            round(sum(round($"value" * 100).cast("long") *
              pow(lit(0.5), (unix_timestamp(asOf) - unix_timestamp($"ts"))
                .cast("double") / 86400.0)) / 100.0, 2).as("decayed_value"),
            round(sum(pow(lit(0.5), (unix_timestamp(asOf) - unix_timestamp($"ts"))
              .cast("double") / 86400.0)), 4).as("effective_n"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
          round(sum(CAST(round(value * 100) AS BIGINT) *
            pow(0.5, CAST(floor(epoch(TIMESTAMP '2024-01-31 00:00:00')) -
              floor(epoch(ts)) AS DOUBLE) / 86400.0)) / 100.0, 2) AS decayed_value,
          round(sum(pow(0.5, CAST(floor(epoch(TIMESTAMP '2024-01-31 00:00:00')) -
            floor(epoch(ts)) AS DOUBLE) / 86400.0)), 4) AS effective_n
        FROM events GROUP BY event_type ORDER BY event_type"""),
      "half-life decayed value and effective sample size per event type"),

    // ------------------------------------------- sample-ratio mismatch
    // The A/B guardrail that runs BEFORE any metric is read: if the
    // realized variant counts deviate from the designed 50/50 beyond
    // chance, the assignment is broken and every downstream readout is
    // invalid. χ² = Σ(obs−exp)²/exp over the two cells against the
    // df=1 95% critical value 3.841 — closed form, no CDF needed, the
    // compare an integer-free single IEEE tree. Uses q198's exact
    // assignment so the two queries audit the same experiment. One
    // customer-bounded aggregate.
    "q200_srm_check" -> Q(
      (s, d) => {
        import s.implicits._
        t(s, d, "orders")
          .select($"o_custkey").distinct()
          .withColumn("variant",
            when(conv(substring(md5(concat(lit("q198:"), $"o_custkey".cast("string"))),
              1, 15), 16, 10).cast("long") % 2 === 0, "control").otherwise("treatment"))
          .agg(count(lit(1)).as("n"),
            sum(when($"variant" === "control", 1L).otherwise(0L)).as("n_control"),
            sum(when($"variant" === "treatment", 1L).otherwise(0L)).as("n_treatment"))
          .select($"n", $"n_control", $"n_treatment",
            round(pow($"n_control".cast("double") - $"n".cast("double") / 2, 2) /
                ($"n".cast("double") / 2) +
              pow($"n_treatment".cast("double") - $"n".cast("double") / 2, 2) /
                ($"n".cast("double") / 2), 4).as("chi2"),
            (pow($"n_control".cast("double") - $"n".cast("double") / 2, 2) /
                ($"n".cast("double") / 2) +
              pow($"n_treatment".cast("double") - $"n".cast("double") / 2, 2) /
                ($"n".cast("double") / 2) < 3.841).cast("int").as("srm_ok"))
      },
      Some("""WITH a AS (SELECT DISTINCT o_custkey,
            CASE WHEN CAST('0x' || substr(md5('q198:' || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
              THEN 'control' ELSE 'treatment' END AS variant
          FROM orders),
        c AS (SELECT count(*) AS n,
            CAST(sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
            CAST(sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_treatment
          FROM a)
        SELECT n, n_control, n_treatment,
          round(pow(CAST(n_control AS DOUBLE) - CAST(n AS DOUBLE) / 2, 2) /
              (CAST(n AS DOUBLE) / 2) +
            pow(CAST(n_treatment AS DOUBLE) - CAST(n AS DOUBLE) / 2, 2) /
              (CAST(n AS DOUBLE) / 2), 4) AS chi2,
          CAST(pow(CAST(n_control AS DOUBLE) - CAST(n AS DOUBLE) / 2, 2) /
              (CAST(n AS DOUBLE) / 2) +
            pow(CAST(n_treatment AS DOUBLE) - CAST(n AS DOUBLE) / 2, 2) /
              (CAST(n AS DOUBLE) / 2) < 3.841 AS INTEGER) AS srm_ok
        FROM c"""),
      "sample-ratio-mismatch guardrail: chi-squared vs the designed 50/50"),

    // ------------------------------------------------ Poisson bootstrap
    // Confidence intervals at 100 TB: classical bootstrap resampling
    // needs B full shuffled resamples; the POISSON bootstrap (Chamandy
    // et al., Google 2012) observes that multinomial resample counts
    // are asymptotically independent Poisson(1), so each row draws its
    // per-replicate weight from a hash — ONE narrow pass expands rows
    // ×B with map-side combine into |groups|·B cells, no resampling
    // shuffle, fully deterministic (the weight is inverse-CDF over an
    // md5-derived integer in [0, 1e6), thresholds 367879/735758/919698/
    // 981011/996340 = ⌊CDF·1e6⌋, capped at 5). Replicate means quantize
    // to 1e-6 cents so the spread statistics are exact DECIMAL sums; the
    // reported CI is mean ± 1.96·se_boot, rounded at 1e-4.
    // Hashing rides the q101 less-hashing construction: replicate b =
    // 4g+s reads hex slice s (7 chars = 28 bits, %1e6 bias 2.7e-4 —
    // immaterial to a bootstrap weight) of digest g — 8 md5 calls per
    // row for 32 replicates, not 32 (measured 5.1 → 3.1 s at sf0.1).
    "q201_poisson_bootstrap" -> Q(
      (s, d) => {
        import s.implicits._
        val B = 32
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val rows = t(s, d, "orders")
          .select($"o_orderpriority".as("prio"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
            $"o_orderkey")
        // r18 (guide §2.5): 8 md5 digests per order row is the query's
        // dominant compute and the chain below is narrow — over the
        // single-row-group scan it ran as ONE task; spread only when
        // the scan is actually narrow (identity at production fan-out)
        val rep = Relational.spreadIfNarrow(rows)
          .withColumn("g", explode(sequence(lit(0), lit(B / 4 - 1))))
          .withColumn("dg", md5(concat(lit("q201:"), $"g".cast("string"),
            lit(":"), $"o_orderkey".cast("string"))))
          .withColumn("s", explode(sequence(lit(0), lit(3))))
          .withColumn("b", $"g" * 4 + $"s")
          .withColumn("u",
            conv(expr("substring(dg, s * 7 + 1, 7)"), 16, 10)
              .cast("long") % 1000000L)
          .withColumn("w",
            Poisson1CdfMicro.zipWithIndex
              .foldRight(lit(Poisson1CdfMicro.size.toLong)) {
                case ((cut, k), rest) => when($"u" < cut, k.toLong).otherwise(rest)
              })
          .groupBy($"prio", $"b")
          .agg(sum($"w" * $"cents").as("sw"), sum($"w").as("nw"))
          .select($"prio",
            round($"sw".cast("double") / $"nw" * 1e6).cast("long").as("mq"))
        val boot = rep.groupBy($"prio")
          .agg(count(lit(1)).as("nb"),
            sum(d38($"mq")).as("sm"),
            sum(d38($"mq") * d38($"mq")).as("smm"))
        val exact = rows.groupBy($"prio")
          .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
        exact.join(boot, "prio")
          .select($"prio", $"n",
            round($"sc".cast("double") / $"n" / 100.0, 4).as("mean"),
            round(sqrt(($"nb" * $"smm" - $"sm" * $"sm").cast("double") /
              ($"nb" * ($"nb" - 1)).cast("double")) / 1e6 / 100.0, 4).as("se_boot"),
            round(($"sc".cast("double") / $"n" -
              lit(1.96) * sqrt(($"nb" * $"smm" - $"sm" * $"sm").cast("double") /
                ($"nb" * ($"nb" - 1)).cast("double")) / 1e6) / 100.0, 4).as("ci_lo"),
            round(($"sc".cast("double") / $"n" +
              lit(1.96) * sqrt(($"nb" * $"smm" - $"sm" * $"sm").cast("double") /
                ($"nb" * ($"nb" - 1)).cast("double")) / 1e6) / 100.0, 4).as("ci_hi"))
          .orderBy($"prio")
      },
      Some(s"""WITH rep AS (SELECT prio, b,
            CAST(round(CAST(sw AS DOUBLE) / nw * 1e6) AS BIGINT) AS mq
          FROM (SELECT o_orderpriority AS prio, b,
              sum(w * cents) AS sw, sum(w) AS nw
            FROM (SELECT o_orderpriority,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                4 * g + s AS b,
                CASE ${Poisson1CdfMicro.zipWithIndex
                  .map { case (c, k) => s"WHEN u < $c THEN $k" }
                  .mkString(" ")} ELSE ${Poisson1CdfMicro.size} END AS w
              FROM (SELECT *, CAST('0x' || substr(md5('q201:' || CAST(g AS VARCHAR)
                  || ':' || CAST(o_orderkey AS VARCHAR)), 1 + 7 * s, 7) AS BIGINT) % 1000000 AS u
                FROM orders,
                  (SELECT unnest(generate_series(0, 7)) AS g),
                  (SELECT unnest(generate_series(0, 3)) AS s)))
            GROUP BY 1, 2)),
        boot AS (SELECT prio, count(*) AS nb,
            sum(CAST(mq AS DECIMAL(38,0))) AS sm,
            sum(CAST(mq AS DECIMAL(38,0)) * CAST(mq AS DECIMAL(38,0))) AS smm
          FROM rep GROUP BY prio),
        exact AS (SELECT o_orderpriority AS prio, count(*) AS n,
            sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sc
          FROM orders GROUP BY 1)
        SELECT prio, n,
          round(CAST(sc AS DOUBLE) / n / 100.0, 4) AS mean,
          round(sqrt(CAST(nb * smm - sm * sm AS DOUBLE) /
            CAST(nb * (nb - 1) AS DOUBLE)) / 1e6 / 100.0, 4) AS se_boot,
          round((CAST(sc AS DOUBLE) / n -
            1.96 * sqrt(CAST(nb * smm - sm * sm AS DOUBLE) /
              CAST(nb * (nb - 1) AS DOUBLE)) / 1e6) / 100.0, 4) AS ci_lo,
          round((CAST(sc AS DOUBLE) / n +
            1.96 * sqrt(CAST(nb * smm - sm * sm AS DOUBLE) /
              CAST(nb * (nb - 1) AS DOUBLE)) / 1e6) / 100.0, 4) AS ci_hi
        FROM exact JOIN boot USING (prio) ORDER BY prio"""),
      "Poisson bootstrap CI (Chamandy 2012): one pass, B hash-weighted replicates"),

    // --------------------------------------------------- CUSUM drift
    // Sequential changepoint detection on a daily KPI — the monitor that
    // pages before a monthly aggregate would: the one-sided CUSUM
    // S_t = max(0, S_{t−1} + x_t − (μ+kδ)) detects a sustained upward
    // shift with the earliest expected alarm for a given false-alarm
    // rate (Page, Biometrika 1954). The recursion LOOKS inherently
    // sequential, but S_t ≡ P_t − min(0, min_{j≤t} P_j) for the drift-adjusted
    // prefix sum P — so it runs as two stacked windows (cumsum +
    // running min) over the DAY-bounded series, everything in exact
    // cents (alarm compares are integer). Baseline μ comes from the
    // first half-year; the detection span is the second. One scan, one
    // day-bounded aggregate, bounded windows.
    "q202_cusum_drift" -> Q(
      (s, d) => {
        import s.implicits._
        val daily = t(s, d, "orders")
          .filter(year($"o_orderdate") === 1995)
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))
          .transform(GraftGlue.materialize(_)) // baseline scalar + detection windows reuse it
        val base = daily.filter($"day" < "1995-07-01")
          .agg(expr("sum(c) div count(*)").as("mu"))
        val w = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.filter($"day" >= "1995-07-01")
          .crossJoin(broadcast(base))
          .withColumn("p", sum($"c" - $"mu" - expr("mu div 20")).over(w))
          // the running min must include the VIRTUAL P_0 = 0 (S_0 = 0 in
          // Page's recursion): without the least(0, ·) floor, an upward
          // shift starting at the very first detection day — the exact
          // case the monitor exists for — would zero S_1 by construction
          // and understate every later S_t by min P_j > 0
          .withColumn("cusum", $"p" - least(lit(0L), min($"p").over(w)))
          .select($"day", ($"c".cast("double") / 100.0).as("revenue"),
            ($"cusum".cast("double") / 100.0).as("cusum"),
            ($"cusum" > $"mu").cast("int").as("alarm"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
          FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        base AS (SELECT CAST(sum(c) // count(*) AS BIGINT) AS mu
          FROM daily WHERE day < DATE '1995-07-01'),
        p AS (SELECT day, c, mu,
            sum(c - mu - mu // 20) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
          FROM daily, base WHERE day >= DATE '1995-07-01')
        SELECT day, CAST(c AS DOUBLE) / 100.0 AS revenue,
          CAST(p - least(0, min(p) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE) / 100.0 AS cusum,
          CAST((p - least(0, min(p) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) > mu AS INTEGER) AS alarm
        FROM p ORDER BY day"""),
      "one-sided CUSUM changepoint monitor via the prefix-sum identity, exact cents"),

    // ------------------------------------------------ HLL merge as an MV
    // Distinct counts as a MAINTAINABLE materialized view — the q100/
    // q188 fold-identity pattern applied to HLL: each month aggregates
    // its own m-register sketch (one hash aggregate, register state
    // only), the year view folds them by element-wise register MAX, and
    // the oracle one-shots the registers over the whole year — so the
    // hash compare proves merge(sketch(Jan..Dec)) == sketch(year). At
    // 100 TB this is how "distinct users, any date range" dashboards
    // run: per-day register tables folded at query time, no re-scan of
    // history, ever. Exact distinct rides along for realized error.
    "q203_hll_mv_merge" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.operators.Sketches
        val o = t(s, d, "orders").filter(year($"o_orderdate") === 1995)
        val monthly = Sketches.hllSketchGrouped(
          o.withColumn("m", month($"o_orderdate")),
          Seq("m"), $"o_custkey", b = 8, salt = "q203")
        val merged = Sketches.hllMerge(monthly.select($"reg", $"rho"))
        Sketches.hllEstimate(merged, b = 8)
          .crossJoin(broadcast(
            o.agg(countDistinct($"o_custkey").as("n_exact"))))
          .select($"n_nonzero", $"sum_pow50", $"est_distinct", $"n_exact")
      },
      Some(s"""WITH ${graft.operators.Sketches.hllOracleCtes(
          "CAST(o_custkey AS VARCHAR)",
          "orders WHERE year(o_orderdate) = 1995", b = 8, salt = "q203")},
        ex AS (SELECT count(DISTINCT o_custkey) AS n_exact
          FROM orders WHERE year(o_orderdate) = 1995)
        SELECT n_nonzero, sum_pow50, est_distinct, n_exact FROM hll, ex"""),
      "HLL as a maintainable MV: monthly register sketches fold to the year by max"),

    // ----------------------- two-digit-prefix quantile sketch as an MV
    // The quantile sibling of q203's HLL MV: a mergeable HDR-histogram-
    // style sketch whose bucket key is the value's TWO-SIGNIFICANT-
    // DIGIT decimal prefix (lower bound rebuilt as prefix || zeros —
    // pure string/integer ops, so the key is bit-identical on both
    // engines with no log() in sight; within-bucket relative width
    // ≤ 10%). Each CALENDAR month (a real year-month partition key,
    // yyyy*100+mm — not month-of-year, which would fold all ~7
    // shipping years into 12 cells and break the per-period MV story)
    // aggregates its own ≤ ~900-bucket histogram (one hash aggregate);
    // the full view folds them by element-wise SUM — counts are
    // linear, so merge(sketch(every year-month)) == sketch(all)
    // exactly, and the oracle one-shots the global buckets: the hash
    // compare IS the merge-closure proof. Quantile
    // ranks are INTEGER ceilings ((p·n + (den−1)) div den — no float
    // rank to straddle an engine boundary); the walk is a cumulative
    // window over the bounded bucket frame. At 100 TB this is the
    // "p99 latency, any date range" dashboard shape: per-day bucket
    // tables folded at query time, never a re-scan of history.
    // SketchSpec pins the ≤10% bound against exact sorted quantiles.
    "q234_prefix_quantile_mv" -> Q(
      (s, d) => {
        import s.implicits._
        val cents = t(s, d, "lineitem")
          .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
            (year($"l_shipdate") * 100 + month($"l_shipdate")).as("m"))
          .filter($"v" >= 10) // two significant digits by contract
          .select($"m", concat(substring($"v".cast("string"), 1, 2),
            expr("repeat('0', CAST(length(CAST(v AS STRING)) - 2 AS INT))"))
            .cast("long").as("lb"))
        val monthly = cents.groupBy($"m", $"lb").agg(count(lit(1)).as("cnt"))
        val merged = monthly.groupBy($"lb").agg(sum($"cnt").as("cnt"))
        // n rides a full-frame window over the SAME bounded bucket
        // frame — a separate agg branch would re-run the lineitem
        // scan + both aggregation layers (self-review catch)
        val cum = merged.select($"lb", $"cnt",
          sum($"cnt").over(Window.orderBy($"lb")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
          sum($"cnt").over(Window.orderBy($"lb")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("n"))
        cum
          .agg(max($"n").as("n"),
            min(when($"cum" >= expr("(n + 1) div 2"), $"lb"))
              .as("p50_lb"),
            min(when($"cum" >= expr("(9 * n + 9) div 10"), $"lb"))
              .as("p90_lb"),
            min(when($"cum" >= expr("(99 * n + 99) div 100"), $"lb"))
              .as("p99_lb"))
      },
      Some("""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem
            WHERE CAST(round(l_extendedprice * 100) AS BIGINT) >= 10),
        k AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 2) ||
              repeat('0', CAST(length(CAST(v AS VARCHAR)) - 2 AS INT))
            AS BIGINT) AS lb
          FROM c),
        merged AS (SELECT lb, CAST(count(*) AS BIGINT) AS cnt
          FROM k GROUP BY 1),
        cum AS (SELECT lb, cnt,
            sum(cnt) OVER (ORDER BY lb
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            CAST(sum(cnt) OVER (ORDER BY lb
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS BIGINT) AS n
          FROM merged)
        SELECT max(n) AS n,
          min(CASE WHEN cum >= (n + 1) // 2 THEN lb END) AS p50_lb,
          min(CASE WHEN cum >= (9 * n + 9) // 10 THEN lb END) AS p90_lb,
          min(CASE WHEN cum >= (99 * n + 99) // 100 THEN lb END) AS p99_lb
        FROM cum"""),
      "mergeable 2-digit-prefix quantile sketch: year-month histograms fold to the full view"),

    // --------------------------------------------------- WOE / IV screen
    // Weight-of-evidence binning + information value — the credit-
    // scoring feature screen (Siddiqi 2006) a feature platform runs
    // before training: per bin b, WOE_b = ln((good_b/G)/(bad_b/B)) and
    // IV = Σ (good_b/G − bad_b/B)·WOE_b grade how well the binned
    // feature separates the binary target. Bins are log2 price bands
    // (length(bin(cents))−1 — INTEGER, identical both engines), not
    // rank deciles: equal-frequency binning needs a global sort, log
    // bands are a narrow map + an enum-bounded aggregate that survives
    // any scale. Pure-band WOE is NULL (undefined), its IV term zero.
    "q204_woe_iv" -> Q(
      (s, d) => {
        import s.implicits._
        val binned = t(s, d, "orders")
          .select((length(bin(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))) - 1)
              .cast("long").as("band"), // DuckDB length() is BIGINT
            ($"o_orderstatus" === "F").cast("long").as("bad"))
        val bands = binned.groupBy($"band")
          .agg(count(lit(1)).as("n"), sum($"bad").as("n_bad"))
          .withColumn("n_good", $"n" - $"n_bad")
        val tot = bands.agg(sum($"n_good").as("g"), sum($"n_bad").as("b"))
        bands.crossJoin(broadcast(tot))
          .withColumn("woe",
            when($"n_good" > 0 && $"n_bad" > 0,
              round(log(($"n_good".cast("double") / $"g") /
                ($"n_bad".cast("double") / $"b")), 6)))
          .withColumn("iv_contrib",
            when($"woe".isNotNull,
              round(($"n_good".cast("double") / $"g" -
                $"n_bad".cast("double") / $"b") *
                log(($"n_good".cast("double") / $"g") /
                  ($"n_bad".cast("double") / $"b")), 6)).otherwise(lit(0.0)))
          .select($"band", $"n", $"n_bad", $"n_good", $"woe", $"iv_contrib")
          .orderBy($"band")
      },
      Some("""WITH binned AS (SELECT
            length(bin(CAST(round(o_totalprice * 100) AS BIGINT))) - 1 AS band,
            CAST(o_orderstatus = 'F' AS BIGINT) AS bad
          FROM orders),
        bands AS (SELECT band, count(*) AS n,
            CAST(sum(bad) AS BIGINT) AS n_bad,
            count(*) - CAST(sum(bad) AS BIGINT) AS n_good
          FROM binned GROUP BY band),
        tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS g,
            CAST(sum(n_bad) AS BIGINT) AS b FROM bands)
        SELECT band, n, n_bad, n_good,
          CASE WHEN n_good > 0 AND n_bad > 0
            THEN round(ln((CAST(n_good AS DOUBLE) / g) /
              (CAST(n_bad AS DOUBLE) / b)), 6) END AS woe,
          CASE WHEN n_good > 0 AND n_bad > 0
            THEN round((CAST(n_good AS DOUBLE) / g - CAST(n_bad AS DOUBLE) / b) *
              ln((CAST(n_good AS DOUBLE) / g) / (CAST(n_bad AS DOUBLE) / b)), 6)
            ELSE 0.0 END AS iv_contrib
        FROM bands, tot ORDER BY band"""),
      "weight-of-evidence bins + information value over scale-safe log2 bands"),

    // --------------------------------------------------- Zipf slope fit
    // The other half of q191's corpus diagnostics: fit ln(freq) ~
    // ln(rank) over the vocabulary's rank-frequency curve — a healthy
    // natural-language corpus sits near slope −1 (Zipf's law); template
    // spam and boilerplate-heavy crawls bend it. Token counts are the
    // only input-proportional aggregate; the rank window runs over the
    // VOCABULARY (the q63 legitimacy class), log coordinates quantize
    // to 1e-6 fixed-point so the OLS moments are exact DECIMAL sums of
    // integer products, and the closed-form slope/R² are single IEEE
    // trees over those moments, rounded at 1e-4 — far above any
    // cross-engine ln() ulp drift.
    "q197_zipf_slope" -> Q(
      (s, d) => {
        import s.implicits._
        val freq = t(s, d, "documents")
          .select(explode(TextFunctions.words($"text")).as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("n"))
        val ranked = freq
          .withColumn("rank", row_number().over(
            Window.orderBy($"n".desc, $"tok".asc)))
          .select(round(log($"rank".cast("double")) * 1e6).cast("long").as("x"),
            round(log($"n".cast("double")) * 1e6).cast("long").as("y"))
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        ranked.agg(count(lit(1)).as("nn"),
            sum(d38($"x")).as("sx"), sum(d38($"y")).as("sy"),
            sum(d38($"x") * d38($"y")).as("sxy"),
            sum(d38($"x") * d38($"x")).as("sxx"),
            sum(d38($"y") * d38($"y")).as("syy"))
          .select($"nn".as("n_vocab"),
            round(($"nn" * $"sxy" - $"sx" * $"sy").cast("double") /
              ($"nn" * $"sxx" - $"sx" * $"sx").cast("double"), 4).as("slope"),
            round(pow(($"nn" * $"sxy" - $"sx" * $"sy").cast("double"), 2) /
              (($"nn" * $"sxx" - $"sx" * $"sx").cast("double") *
                ($"nn" * $"syy" - $"sy" * $"sy").cast("double")), 4).as("r2"))
      },
      Some("""WITH freq AS (SELECT tok, count(*) AS n FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
          GROUP BY tok),
        ranked AS (SELECT
            CAST(round(ln(CAST(row_number() OVER (ORDER BY n DESC, tok) AS DOUBLE)) * 1e6) AS BIGINT) AS x,
            CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS y
          FROM freq),
        m AS (SELECT count(*) AS nn,
            sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy,
            sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
            sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
            sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
          FROM ranked)
        SELECT nn AS n_vocab,
          round(CAST(nn * sxy - sx * sy AS DOUBLE) /
            CAST(nn * sxx - sx * sx AS DOUBLE), 4) AS slope,
          round(pow(CAST(nn * sxy - sx * sy AS DOUBLE), 2) /
            (CAST(nn * sxx - sx * sx AS DOUBLE) * CAST(nn * syy - sy * sy AS DOUBLE)), 4) AS r2
        FROM m"""),
      "Zipf rank-frequency slope via exact-moment OLS on quantized log-log"),

    // ------------------------------------------- mutual information screen
    // The information-theoretic sibling of q204's WOE/IV: per log2 price
    // band b and binary target s, the MI contribution (n_bs/N)·
    // ln(N·n_bs/(n_b·n_s)) — summed it is I(band; status), the
    // model-free dependence measure a feature platform ranks candidate
    // features by (Cover & Thomas ch.2). One enum-bounded hash aggregate
    // over (band, s) cells; the band and class marginals re-aggregate
    // from the SAME cells (no second scan); N and class totals broadcast.
    // All inputs to ln are exact integer ratios, so the doubles agree
    // across engines; rounded at 1e-6.
    "q206_mutual_information" -> Q(
      (s, d) => {
        import s.implicits._
        val cells = t(s, d, "orders")
          .select((length(bin(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))) - 1)
              .cast("long").as("band"),
            ($"o_orderstatus" === "F").cast("long").as("bad"))
          .groupBy($"band", $"bad").agg(count(lit(1)).as("n_bs"))
          .transform(GraftGlue.materialize(_)) // marginals + cells from one aggregate
        val bandTot = cells.groupBy($"band").agg(sum($"n_bs").as("n_b"))
        val clsTot = cells.groupBy($"bad").agg(sum($"n_bs").as("n_s"))
        val tot = cells.agg(sum($"n_bs").as("nn"))
        cells.join(bandTot, "band")
          .join(broadcast(clsTot), "bad")
          .crossJoin(broadcast(tot))
          .withColumn("contrib",
            ($"n_bs".cast("double") / $"nn") *
              log(($"nn".cast("double") * $"n_bs") /
                ($"n_b".cast("double") * $"n_s")))
          .groupBy($"band")
          .agg(max($"n_b").as("n"), round(sum($"contrib"), 6).as("mi_contrib"))
          .orderBy($"band")
      },
      Some("""WITH cells AS (SELECT
            length(bin(CAST(round(o_totalprice * 100) AS BIGINT))) - 1 AS band,
            CAST(o_orderstatus = 'F' AS BIGINT) AS bad, count(*) AS n_bs
          FROM orders GROUP BY 1, 2),
        bt AS (SELECT band, CAST(sum(n_bs) AS BIGINT) AS n_b FROM cells GROUP BY band),
        ct AS (SELECT bad, CAST(sum(n_bs) AS BIGINT) AS n_s FROM cells GROUP BY bad),
        tt AS (SELECT CAST(sum(n_bs) AS BIGINT) AS nn FROM cells)
        SELECT band, max(n_b) AS n,
          round(sum((CAST(n_bs AS DOUBLE) / nn) *
            ln((CAST(nn AS DOUBLE) * n_bs) / (CAST(n_b AS DOUBLE) * n_s))), 6)
            AS mi_contrib
        FROM cells JOIN bt USING (band) JOIN ct USING (bad), tt
        GROUP BY band ORDER BY band"""),
      "mutual-information feature screen over enum-bounded (band, class) cells"),

    // --------------------------------------------------- Kaplan-Meier
    // The product-limit survival estimator (Kaplan & Meier, JASA 1958)
    // over customer lifetimes — the retention curve a subscription /
    // engagement dashboard draws: lifetime = days between a customer's
    // first and last order, right-CENSORED when the last order is near
    // the end of the data window (the customer may still be active).
    // S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) with nᵢ = customers still at risk.
    // The product runs as exp(Σ ln(1−dᵢ/nᵢ)) over a window on the
    // DISTINCT event days — day-bounded state like q202, never
    // row-proportional; the at-risk counts come from one cumulative sum
    // over the lifetime histogram. ln inputs are exact integer ratios.
    "q207_kaplan_meier" -> Q(
      (s, d) => {
        import s.implicits._
        val per = t(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(datediff(max($"o_orderdate"), min($"o_orderdate")).as("life"),
            (max($"o_orderdate") < "1998-06-01").cast("long").as("ev"))
        graft.operators.Stats.kaplanMeier(per)
      },
      Some("""WITH per AS (SELECT o_custkey,
            date_diff('day', min(o_orderdate), max(o_orderdate)) AS life,
            CAST(max(o_orderdate) < TIMESTAMP '1998-06-01 00:00:00' AS BIGINT) AS ev
          FROM orders GROUP BY 1),
        hist AS (SELECT life, count(*) AS n_all, CAST(sum(ev) AS BIGINT) AS d
          FROM per GROUP BY life),
        risk AS (SELECT *,
            CAST(sum(n_all) OVER () -
              COALESCE(sum(n_all) OVER (ORDER BY life
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS at_risk
          FROM hist)
        SELECT CAST(life AS BIGINT) AS t_days, d AS n_events, at_risk,
          round(exp(sum(ln(1.0 - CAST(d AS DOUBLE) / at_risk))
            OVER (ORDER BY life ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
            AS surv
        FROM risk WHERE d > 0 ORDER BY t_days"""),
      "Kaplan-Meier product-limit survival over the day-bounded lifetime histogram"),

    // --------------------------------------------- Nelson-Aalen hazard
    // The hazard-scale twin of q207's Kaplan-Meier over the SAME
    // censored customer lifetimes: Ĥ(t) = Σ d/n and the Fleming-
    // Harrington survival exp(−Ĥ) — the estimator of choice when event
    // counts are small relative to the risk set (its increments are the
    // raw hazard a churn model consumes). Mechanics shared with q207
    // via [[graft.operators.Stats.riskTable]] (day-bounded histogram,
    // one at-risk cumsum); the cumulative Σ d/n is an ORDERED window
    // fold, identical on both engines. StatsSpec pins the published
    // 6-MP trial hand fold and exp(−Ĥ) ≥ KM dominance.
    "q239_nelson_aalen" -> Q(
      (s, d) => {
        import s.implicits._
        val per = t(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(datediff(max($"o_orderdate"), min($"o_orderdate")).as("life"),
            (max($"o_orderdate") < "1998-06-01").cast("long").as("ev"))
        graft.operators.Stats.nelsonAalen(per)
      },
      Some("""WITH per AS (SELECT o_custkey,
            date_diff('day', min(o_orderdate), max(o_orderdate)) AS life,
            CAST(max(o_orderdate) < TIMESTAMP '1998-06-01 00:00:00' AS BIGINT) AS ev
          FROM orders GROUP BY 1),
        hist AS (SELECT life, count(*) AS n_all, CAST(sum(ev) AS BIGINT) AS d
          FROM per GROUP BY life),
        risk AS (SELECT *,
            CAST(sum(n_all) OVER () -
              COALESCE(sum(n_all) OVER (ORDER BY life
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS at_risk
          FROM hist),
        ch AS (SELECT life, d, at_risk,
            sum(CAST(d AS DOUBLE) / at_risk) OVER (ORDER BY life
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
          FROM risk WHERE d > 0)
        SELECT CAST(life AS BIGINT) AS t_days, d AS n_events, at_risk,
          round(ch, 6) AS cum_haz, round(exp(-ch), 6) AS surv_fh
        FROM ch ORDER BY t_days"""),
      "Nelson-Aalen cumulative hazard + Fleming-Harrington survival, KM's twin"),

    // ---------------------------------------------- jackknife influence
    // Quenouille/Tukey delete-1 jackknife WITHOUT materializing the n
    // leave-one-out replicates: loo_i = (S − xᵢ)/(n−1) is linear in the
    // sufficient statistics, so the extreme LOO means come from the
    // group min/max alone and the jackknife SE collapses algebraically
    // to √(Σ(xᵢ−m)²/(n(n−1))) — one exact-moment pass per group where
    // the textbook procedure runs n re-aggregations. The per-group
    // influence envelope (how far one dropped order can move the mean)
    // is the robustness audit a metrics platform runs on every KPI.
    "q208_jackknife_loo" -> Q(
      (s, d) => {
        import s.implicits._
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val o = t(s, d, "orders")
          .select($"o_orderpriority".as("prio"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        o.groupBy($"prio")
          .agg(count(lit(1)).as("n"), sum($"cents").as("sc"),
            sum(d38($"cents") * d38($"cents")).as("scc"),
            min($"cents").as("mn"), max($"cents").as("mx"))
          // delete-1 needs n >= 2: a singleton group would divide by
          // zero (NULL in Spark, Inf in DuckDB - a cross-engine trap)
          .filter($"n" > 1)
          .select($"prio", $"n",
            round($"sc".cast("double") / $"n" / 100.0, 4).as("mean"),
            round(($"sc" - $"mx").cast("double") / ($"n" - 1) / 100.0, 4).as("loo_lo"),
            round(($"sc" - $"mn").cast("double") / ($"n" - 1) / 100.0, 4).as("loo_hi"),
            round(sqrt(($"n" * $"scc" - d38($"sc") * d38($"sc")).cast("double") /
              ($"n".cast("double") * $"n" * ($"n" - 1))) / 100.0, 4).as("jk_se"))
          .orderBy($"prio")
      },
      Some("""WITH o AS (SELECT o_orderpriority AS prio,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        g AS (SELECT prio, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sc,
            sum(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS scc,
            min(cents) AS mn, max(cents) AS mx
          FROM o GROUP BY prio)
        SELECT prio, n,
          round(CAST(sc AS DOUBLE) / n / 100.0, 4) AS mean,
          round(CAST(sc - mx AS DOUBLE) / (n - 1) / 100.0, 4) AS loo_lo,
          round(CAST(sc - mn AS DOUBLE) / (n - 1) / 100.0, 4) AS loo_hi,
          round(sqrt(CAST(n * scc - CAST(sc AS DECIMAL(38,0)) * CAST(sc AS DECIMAL(38,0)) AS DOUBLE) /
            (CAST(n AS DOUBLE) * n * (n - 1))) / 100.0, 4) AS jk_se
        FROM g WHERE n > 1 ORDER BY prio"""),
      "delete-1 jackknife influence envelope + SE from sufficient statistics"),

    // ----------------------------------------- calibration / Brier bins
    // Reliability diagram + Murphy (1973) decomposition for a scored
    // binary outcome: a deterministic RATIONAL score p = c/(c+C)
    // (IEEE-exact in both engines — no libm in the score path) is
    // quantized to micro-units, binned into deciles, and each bin
    // reports mean predicted vs observed rate plus its reliability and
    // resolution contributions — every sum an exact integer aggregate
    // (micro-units and micro² as DECIMAL), floats only in the final
    // rounded divisions. The audit that catches a miscalibrated model
    // before anyone trusts its probabilities.
    "q209_calibration_bins" -> Q(
      (s, d) => {
        import s.implicits._
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val scored = t(s, d, "orders")
          .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
            ($"o_orderstatus" === "F").cast("long").as("y"))
          .withColumn("p_micro",
            round($"cents".cast("double") /
              ($"cents" + lit(20000000L)).cast("double") * 1e6).cast("long"))
          .withColumn("bin", least(expr("p_micro div 100000"), lit(9L)))
        val bins = scored.groupBy($"bin")
          .agg(count(lit(1)).as("n"), sum($"p_micro").as("sp"),
            sum($"y").as("sy"))
          .transform(GraftGlue.materialize(_)) // ybar + per-bin rows share the aggregate
        val tot = bins.agg(sum($"n").as("nn"), sum($"sy").as("syy"))
        bins.crossJoin(broadcast(tot))
          .select($"bin", $"n",
            round($"sp".cast("double") / $"n" / 1e6, 6).as("mean_p"),
            round($"sy".cast("double") / $"n", 6).as("rate_y"),
            round(($"n".cast("double") / $"nn") *
              pow($"sp".cast("double") / $"n" / 1e6 -
                $"sy".cast("double") / $"n", 2), 6).as("reliability_contrib"),
            round(($"n".cast("double") / $"nn") *
              pow($"sy".cast("double") / $"n" -
                $"syy".cast("double") / $"nn", 2), 6).as("resolution_contrib"))
          .orderBy($"bin")
      },
      Some("""WITH scored AS (SELECT
            CAST(round(CAST(cents AS DOUBLE) / (cents + 20000000) * 1e6) AS BIGINT)
              AS p_micro,
            y
          FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
              CAST(o_orderstatus = 'F' AS BIGINT) AS y FROM orders)),
        binned AS (SELECT least(p_micro // 100000, 9) AS bin, p_micro, y FROM scored),
        bins AS (SELECT bin, count(*) AS n, CAST(sum(p_micro) AS BIGINT) AS sp,
            CAST(sum(y) AS BIGINT) AS sy
          FROM binned GROUP BY bin),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(sy) AS BIGINT) AS syy
          FROM bins)
        SELECT bin, n,
          round(CAST(sp AS DOUBLE) / n / 1e6, 6) AS mean_p,
          round(CAST(sy AS DOUBLE) / n, 6) AS rate_y,
          round((CAST(n AS DOUBLE) / nn) *
            pow(CAST(sp AS DOUBLE) / n / 1e6 - CAST(sy AS DOUBLE) / n, 2), 6)
            AS reliability_contrib,
          round((CAST(n AS DOUBLE) / nn) *
            pow(CAST(sy AS DOUBLE) / n - CAST(syy AS DOUBLE) / nn, 2), 6)
            AS resolution_contrib
        FROM bins, tot ORDER BY bin"""),
      "reliability diagram + Murphy decomposition over decile bins, integer-exact sums"),

    // ------------------------------------------- caliper NN matching
    // Observational matching (the experimentation fallback when
    // randomization isn't available): within each order-priority
    // stratum, every TREATMENT order (the q198 md5 coin) matches its
    // nearest CONTROL by price — with replacement, via the
    // sorted-neighborhood trick: one sort per stratum, the previous and
    // next control arrive through ignore-null window frames, the closer
    // one wins (ties to the lower price). ATT per stratum = mean
    // treated-minus-matched difference, exact cents. No pairwise
    // stage anywhere: matching is two bounded window passes, the
    // scale-safe form of a nearest-neighbor join (Rubin 1973's caliper
    // matching, deterministic variant).
    "q210_caliper_match" -> Q(
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
          .select($"o_orderpriority".as("prio"), $"o_orderkey".as("okey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .withColumn("treat",
            (conv(substring(md5(concat(lit("q210:"), $"okey".cast("string"))),
              1, 15), 16, 10).cast("long") % 2 === 1).cast("int"))
        // both neighbor passes are RUNNING frames inside the operator —
        // the DuckDB mirror keeps the literal first_value-following
        // form, so the hash compare also proves the two formulations
        // equivalent (see Stats.caliperMatch for the O(n²) rationale)
        graft.operators.Stats.caliperMatch(o,
          stratum = "prio", key = "okey", value = "cents", treat = "treat")
      },
      Some("""WITH o AS (SELECT o_orderpriority AS prio, o_orderkey AS okey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
            CAST(CAST('0x' || substr(md5('q210:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
              AS BIGINT) % 2 = 1 AS INTEGER) AS treat
          FROM orders),
        fr AS (SELECT *,
            last_value(CASE WHEN treat = 0 THEN cents END IGNORE NULLS)
              OVER (PARTITION BY prio ORDER BY cents, okey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_c,
            first_value(CASE WHEN treat = 0 THEN cents END IGNORE NULLS)
              OVER (PARTITION BY prio ORDER BY cents, okey
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_c
          FROM o),
        m AS (SELECT prio, cents,
            CASE WHEN prev_c IS NULL THEN next_c
                 WHEN next_c IS NULL THEN prev_c
                 WHEN cents - prev_c <= next_c - cents THEN prev_c
                 ELSE next_c END AS match_c
          FROM fr WHERE treat = 1)
        SELECT prio, count(*) AS n_matched,
          round(CAST(sum(cents - match_c) AS DOUBLE) / count(*) / 100.0, 4) AS att,
          round(CAST(sum(abs(cents - match_c)) AS DOUBLE) / count(*) / 100.0, 4)
            AS mean_abs_gap
        FROM m WHERE match_c IS NOT NULL
        GROUP BY prio ORDER BY prio"""),
      "stratified caliper NN matching via ignore-null window frames; ATT in exact cents"),

    // ---------------------------------------------- conformal intervals
    // Split-conformal prediction (Vovk; Lei et al. JASA 2018) — the
    // distribution-free interval a serving platform wraps around ANY
    // point model: hash-split 70/15/15, fit the (deliberately simple)
    // per-group center on TRAIN, take the ⌈(n+1)·0.9⌉-th smallest
    // absolute residual on CALIBRATION as the interval half-width, and
    // MEASURE the resulting coverage on TEST — the honest check that
    // the 90% guarantee holds. Everything before the final divisions is
    // integer-exact (center = floor train mean in cents, residuals in
    // cents, the half-width an exact order statistic with full
    // tie-break). The rank window runs over the CALIBRATION split only
    // — bounded by design: conformal calibration needs ~10³ points for
    // a tight guarantee, so at 100 TB the cal split is sampled, never
    // the corpus.
    "q211_conformal_interval" -> Q(
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
          .select($"o_orderpriority".as("prio"), $"o_orderkey".as("okey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
          .withColumn("u",
            conv(substring(md5(concat(lit("q211:"), $"okey".cast("string"))),
              1, 15), 16, 10).cast("long") % 100)
          .withColumn("split",
            when($"u" < 70, "train").when($"u" < 85, "cal").otherwise("test"))
          .transform(GraftGlue.materialize(_)) // three splits read from one hashed frame
        val center = o.filter($"split" === "train")
          .groupBy($"prio")
          .agg(count(lit(1)).as("n_train"), expr("sum(cents) div count(*)").as("c0"))
        val cal = o.filter($"split" === "cal")
          .join(broadcast(center), "prio")
          .withColumn("r", abs($"cents" - $"c0"))
        val calN = cal.groupBy($"prio").agg(count(lit(1)).as("n_cal"))
          .withColumn("k",
            least(ceil(($"n_cal" + 1) * 0.9).cast("long"), $"n_cal"))
        val w = Window.partitionBy($"prio").orderBy($"r", $"okey")
        val qhat = cal.withColumn("rn", row_number().over(w))
          .join(broadcast(calN), "prio")
          .filter($"rn" === $"k")
          .select($"prio", $"n_cal", $"r".as("qh"))
        val test = o.filter($"split" === "test")
          .join(broadcast(center), "prio")
          .join(broadcast(qhat), "prio")
          .groupBy($"prio")
          .agg(max($"n_train").as("n_train"), max($"n_cal").as("n_cal"),
            count(lit(1)).as("n_test"), max($"c0").as("c0"), max($"qh").as("qh"),
            sum((abs($"cents" - $"c0") <= $"qh").cast("long")).as("n_cov"))
        test.select($"prio", $"n_train", $"n_cal", $"n_test",
            round($"c0".cast("double") / 100.0, 2).as("center"),
            round($"qh".cast("double") / 100.0, 2).as("half_width"),
            round($"n_cov".cast("double") / $"n_test", 6).as("coverage"))
          .orderBy($"prio")
      },
      Some("""WITH o AS (SELECT o_orderpriority AS prio, o_orderkey AS okey,
            CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
            CAST('0x' || substr(md5('q211:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
              AS BIGINT) % 100 AS u
          FROM orders),
        sp AS (SELECT *, CASE WHEN u < 70 THEN 'train'
            WHEN u < 85 THEN 'cal' ELSE 'test' END AS split FROM o),
        center AS (SELECT prio, count(*) AS n_train,
            CAST(sum(cents) // count(*) AS BIGINT) AS c0
          FROM sp WHERE split = 'train' GROUP BY prio),
        cal AS (SELECT s.prio, s.okey, abs(s.cents - c.c0) AS r
          FROM sp s JOIN center c USING (prio) WHERE split = 'cal'),
        caln AS (SELECT prio, count(*) AS n_cal,
            least(CAST(ceil((count(*) + 1) * 0.9) AS BIGINT), count(*)) AS k
          FROM cal GROUP BY prio),
        qh AS (SELECT prio, n_cal, r AS qh FROM (
            SELECT c.prio, c.r, n.n_cal, n.k,
              row_number() OVER (PARTITION BY c.prio ORDER BY c.r, c.okey) AS rn
            FROM cal c JOIN caln n USING (prio))
          WHERE rn = k)
        SELECT s.prio, max(c.n_train) AS n_train, max(q.n_cal) AS n_cal,
          count(*) AS n_test,
          round(CAST(max(c.c0) AS DOUBLE) / 100.0, 2) AS center,
          round(CAST(max(q.qh) AS DOUBLE) / 100.0, 2) AS half_width,
          round(CAST(sum(CAST(abs(s.cents - c.c0) <= q.qh AS BIGINT)) AS DOUBLE)
            / count(*), 6) AS coverage
        FROM sp s JOIN center c USING (prio) JOIN qh q USING (prio)
        WHERE s.split = 'test'
        GROUP BY s.prio ORDER BY s.prio"""),
      "split-conformal intervals: exact order-statistic half-width + honest test coverage"),

    // ------------------------------------------------ mSPRT monitor
    // Always-valid sequential testing (Johari, Koomen, Pekelis, Walsh —
    // KDD'17 "Peeking at A/B tests"): the mixture SPRT's likelihood
    // ratio against a N(0, τ²) mixture gives a p-value that is valid at
    // EVERY look, so the dashboard can be watched daily without
    // inflating false positives. Λ_t needs only cumulative per-arm
    // sums: log Λ_t = ½ln(V/(V+τ²)) + θ̂²τ²/(2V(V+τ²)) with θ̂ the
    // running mean difference and V its variance from pooled cumulative
    // moments; p_t = min(1, exp(−max_{j≤t} log Λ_j)) is monotone by the
    // running max. The md5 coin makes this an A/A monitor — the
    // expected output is NO rejection, which is exactly the always-
    // valid guarantee under daily peeking. Day-bounded windows (q202
    // posture); log-domain Λ so strong effects can't overflow.
    "q212_msprt_monitor" -> Q(
      (s, d) => {
        import s.implicits._
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val tau2 = 1e12 // mixture variance: (10^6 cents = $10k)^2
        val daily = t(s, d, "orders")
          .filter(year($"o_orderdate") === 1995)
          .withColumn("v",
            (conv(substring(md5(concat(lit("q212:"), $"o_orderkey".cast("string"))),
              1, 15), 16, 10).cast("long") % 2).cast("int"))
          .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(sum(when($"v" === 1, 1L).otherwise(0L)).as("nt"),
            sum(when($"v" === 1, $"cents").otherwise(0L)).as("st"),
            sum(when($"v" === 0, 1L).otherwise(0L)).as("nc"),
            sum(when($"v" === 0, $"cents").otherwise(0L)).as("sc"),
            sum(d38($"cents") * d38($"cents")).as("ss"))
        graft.operators.Stats.msprtMonitor(daily, tau2)
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
            CAST(sum(CASE WHEN v = 1 THEN cents ELSE 0 END) AS BIGINT) AS st,
            CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
            CAST(sum(CASE WHEN v = 0 THEN cents ELSE 0 END) AS BIGINT) AS sc,
            sum(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS ss
          FROM (SELECT *,
              CAST(CAST('0x' || substr(md5('q212:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
                AS BIGINT) % 2 AS INTEGER) AS v,
              CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE year(o_orderdate) = 1995)
          GROUP BY 1),
        cum AS (SELECT day,
            sum(nt) OVER wd AS cnt, sum(st) OVER wd AS cst,
            sum(nc) OVER wd AS cnc, sum(sc) OVER wd AS csc,
            sum(ss) OVER wd AS css
          FROM daily
          WINDOW wd AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        st AS (SELECT day, cnt + cnc AS nn,
            CAST(cst AS DOUBLE) / cnt - CAST(csc AS DOUBLE) / cnc AS theta,
            (CAST((cnt + cnc) * css - (CAST(cst AS DECIMAL(38,0)) + csc)
                 * (CAST(cst AS DECIMAL(38,0)) + csc) AS DOUBLE) /
              (CAST(cnt + cnc AS DOUBLE) * (cnt + cnc) * (cnt + cnc - 1)) * (cnt + cnc))
              * (1.0 / cnt + 1.0 / cnc) AS vv
          FROM cum WHERE cnt > 0 AND cnc > 0 AND cnt + cnc > 1),
        lam AS (SELECT day, nn, theta, vv,
            0.5 * ln(vv / (vv + 1e12)) +
              theta * theta * 1e12 / (2.0 * vv * (vv + 1e12)) AS llr
          FROM st)
        SELECT day, CAST(nn AS BIGINT) AS n_seen,
          round(theta / 100.0, 4) AS theta,
          round(llr, 6) AS log_lambda,
          round(least(1.0, exp(-max(llr) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6) AS p_always_valid,
          CAST(least(1.0, exp(-max(llr) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) <= 0.05 AS INTEGER)
            AS reject
        FROM lam ORDER BY day"""),
      "always-valid mSPRT p-values from cumulative moments; A/A monitor under daily peeking"),

    // --------------------------------------------- quantile treatment effects
    // Beyond the mean: QTE compares the WHOLE outcome distribution
    // between arms — the difference of exact interpolating quantiles at
    // the standard grid, the analysis that catches an effect
    // concentrated in the tail that the ATE averages away (Doksum 1974).
    // One grouped percentile aggregate per arm (the q59 machinery,
    // whose cross-engine interpolation equality is already proven),
    // then a 5-row join on the quantile index.
    "q213_qte" -> Q(
      (s, d) => {
        import s.implicits._
        val fracs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
        val byArm = t(s, d, "orders")
          .withColumn("v",
            (conv(substring(md5(concat(lit("q213:"), $"o_custkey".cast("string"))),
              1, 15), 16, 10).cast("long") % 2).cast("int"))
          .groupBy($"v")
          .agg(count(lit(1)).as("n"),
            percentile($"o_totalprice",
              array(fracs.map(lit): _*)).as("qs"))
          .select($"v", $"n", posexplode($"qs"))
          .select($"v", $"n", $"pos",
            element_at(array(fracs.map(lit): _*), $"pos" + 1).as("q"),
            $"col".as("val"))
        val tr = byArm.filter($"v" === 1)
          .select($"pos", $"q", $"n".as("n_treat"), $"val".as("q_treat"))
        val ct = byArm.filter($"v" === 0)
          .select($"pos", $"n".as("n_control"), $"val".as("q_control"))
        tr.join(ct, "pos")
          .select($"q", $"n_treat", $"n_control",
            round($"q_treat", 6).as("q_treat"),
            round($"q_control", 6).as("q_control"),
            round($"q_treat" - $"q_control", 6).as("qte"))
          .orderBy($"q")
      },
      Some("""WITH armed AS (SELECT o_totalprice,
            CAST(CAST('0x' || substr(md5('q213:' || CAST(o_custkey AS VARCHAR)), 1, 15)
              AS BIGINT) % 2 AS INTEGER) AS v
          FROM orders),
        qs AS (SELECT v, count(*) AS n,
            unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS q,
            unnest(quantile_cont(o_totalprice, [0.1, 0.25, 0.5, 0.75, 0.9])) AS val
          FROM armed GROUP BY v)
        SELECT CAST(t.q AS DOUBLE) AS q, t.n AS n_treat, c.n AS n_control,
          round(t.val, 6) AS q_treat, round(c.val, 6) AS q_control,
          round(t.val - c.val, 6) AS qte
        FROM (SELECT * FROM qs WHERE v = 1) t
        JOIN (SELECT * FROM qs WHERE v = 0) c USING (q)
        ORDER BY t.q"""),
      "quantile treatment effects: per-decile exact-quantile gap between arms"),

    // ------------------------------------------------ cluster ARI audit
    // External validation of dedup clustering (Hubert & Arabie 1985):
    // the Adjusted Rand Index between the near-dup connected components
    // (the q75 pipeline) and the provenance partition (`source`) — the
    // audit that tells a curation team whether duplicate families track
    // provenance or cut across it. ARI is pure pair-counting: Σ C(n_ij,2)
    // over the contingency cells against its expectation under the
    // permutation null — every sum an exact integer (n(n−1) is even, so
    // `div 2` is exact) and the marginal products run in DECIMAL(38,0)
    // (Spark) / HUGEINT (DuckDB) so neither wraps a LONG; floats appear
    // only in the final two divisions, evaluated in the same order on
    // exact operands. Contingency cells are bounded by clusters × labels.
    "q214_cluster_ari" -> Q(
      (s, d) => {
        import s.implicits._
        import graft.operators.Dedup
        // read 3x (pair shingles, node list, label join) — materialize
        // the 100-doc slice once (round-17 repeat-derivation sharing)
        val base = t(s, d, "documents").filter($"doc_id" < 100)
          .select($"doc_id", $"text", $"source").transform(GraftGlue.materialize(_))
        val pairs = Dedup.sparseJaccardPairs(base, "doc_id",
          TextFunctions.charNGrams($"text", 3), threshold = 0.6)
        // r18: the slice is structurally ≤ 100 nodes — the audit's CC is
        // a driver union-find (bounded-solve discipline, loud require at
        // 128), not ~30 one-task star-contraction jobs; labels identical
        // (the oracle's recursive CTE re-verifies them every run)
        val cc = Dedup.clusterBoundedDriver(base.select($"doc_id"),
          "doc_id", pairs, maxNodes = 128)
        val lab = cc.join(base.select($"doc_id".as("id"), $"source"), "id")
        graft.operators.Stats.clusterAri(lab, "cluster_id", "source")
      },
      Some("""WITH RECURSIVE s AS (SELECT doc_id, CASE WHEN length(text) >= 3
            THEN list_distinct(list_transform(range(1, length(text)-1), i -> substr(text, i, 3)))
            ELSE [text] END AS sh
          FROM documents WHERE doc_id < 100),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM s a, s b WHERE a.doc_id < b.doc_id
            AND round((len(a.sh)+len(b.sh)-len(list_distinct(list_concat(a.sh,b.sh))))::DOUBLE
              / len(list_distinct(list_concat(a.sh,b.sh))), 6) >= 0.6),
        und AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        walk(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents WHERE doc_id < 100
          UNION
          SELECT u.dst, w.lbl FROM walk w JOIN und u ON u.src = w.id),
        cc AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
        lab AS (SELECT cc.id, cc.cluster_id, d.source
          FROM cc JOIN documents d ON d.doc_id = cc.id),
        cells AS (SELECT cluster_id, source, count(*) AS nij
          FROM lab GROUP BY 1, 2),
        sij AS (SELECT CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS p_ij,
            count(DISTINCT cluster_id) AS n_clusters,
            count(DISTINCT source) AS n_labels FROM cells),
        sa AS (SELECT CAST(sum((a * (a - 1)) // 2) AS BIGINT) AS p_a
          FROM (SELECT count(*) AS a FROM lab GROUP BY cluster_id)),
        sb AS (SELECT CAST(sum((b * (b - 1)) // 2) AS BIGINT) AS p_b
          FROM (SELECT count(*) AS b FROM lab GROUP BY source)),
        nn AS (SELECT count(*) AS n FROM lab)
        SELECT n, n_clusters, n_labels, p_ij, p_a, p_b,
          CASE WHEN p_a = p_b AND (p_a = 0
              OR CAST(p_a AS HUGEINT) = CAST(n AS HUGEINT) * (n - 1) // 2)
          THEN NULL
          ELSE round((p_ij - CAST(CAST(p_a AS HUGEINT) * p_b AS DOUBLE)
              / CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS DOUBLE))
            / (CAST(CAST(p_a AS HUGEINT) + p_b AS DOUBLE) / 2.0
               - CAST(CAST(p_a AS HUGEINT) * p_b AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS DOUBLE)), 6)
          END AS ari
        FROM sij, sa, sb, nn"""),
      "Adjusted Rand Index: dedup clusters vs provenance, exact pair counting"),

    // ---------------------------------------------------- l-diversity
    // The sibling of q194's k-anonymity: class SIZE alone does not stop
    // attribute disclosure — a class of 50 people who all share one
    // sensitive value leaks it to anyone who can place a person in the
    // class. Per quasi-identifier class (nation × segment), distinct-l
    // and ENTROPY l-diversity (Machanavajjhala et al., ICDE 2006:
    // exp(H) of the sensitive distribution — here the account-balance
    // band) with the policy flag at l < 3. Entropy terms quantize to
    // nano-nats (the q143 discipline) and fold in DECIMAL(38,0) so a
    // ~4e8-row cell cannot wrap the sum; class totals ride a window
    // PARTITION BY the QIDs (NULL-safe — an equi-join would drop
    // NULL-valued QID classes from the audit); enum-bounded cells.
    "q215_l_diversity" -> Q(
      (s, d) => {
        import s.implicits._
        graft.operators.Quality.lDiversity(
          t(s, d, "customer")
            .select($"c_nationkey".as("nat"), $"c_mktsegment".as("seg"),
              floor($"c_acctbal" / 2000).cast("long").as("band")),
          qid = Seq("nat", "seg"), sensitive = "band", policyL = 3)
      },
      Some("""WITH cls AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
            CAST(floor(c_acctbal / 2000) AS BIGINT) AS band, count(*) AS c
          FROM customer GROUP BY 1, 2, 3),
        per AS (SELECT nat, seg, c,
            CAST(sum(c) OVER (PARTITION BY nat, seg) AS BIGINT) AS n,
            count(*) OVER (PARTITION BY nat, seg) AS l_distinct
          FROM cls),
        terms AS (SELECT nat, seg, n, l_distinct,
            CAST(c AS DECIMAL(38,0)) *
              CAST(CAST(round(1e9 * ln(CAST(n AS DOUBLE) / c)) AS BIGINT)
                AS DECIMAL(38,0)) AS term
          FROM per)
        SELECT nat, seg, n, l_distinct,
          round(exp(CAST(sum(term) AS DOUBLE) / 1e9 / n), 6) AS entropy_l,
          CAST(l_distinct < 3 AS INTEGER) AS at_risk
        FROM terms GROUP BY nat, seg, n, l_distinct
        ORDER BY nat, seg"""),
      "entropy l-diversity per QID class (nano-nat exact fold) + distinct-l risk flag"),

    // ------------------------------------------------ Bradley-Terry fit
    // Pairwise-preference strength fitting (Bradley & Terry 1952; the
    // model under RLHF reward-data pipelines): items = order
    // priorities, a "comparison" = one 1995 day, i beats j when i's
    // daily revenue exceeds j's (ties drop). Strengths come from
    // Hunter (2004)'s MM fixed point w_i ← W_i / Σ_j g_ij/(w_i+w_j),
    // run as TEN integer fixed-point iterations in nano-units — every
    // float op is a single division/multiply on integer operands
    // followed by floor(x+0.5), the q131-BPE iteration discipline, so
    // the trajectory is bit-reproducible and the oracle replays it as
    // ten unrolled CTEs. The comparison aggregate is (days × items²)-
    // bounded; the solve runs on the ≤ items² win matrix (the PCA
    // d²-bounded driver-solve pattern) and ships strength_nano as an
    // exact LONG — the compare is arithmetic, not float-lucky.
    "q217_bradley_terry" -> Q(
      (s, d) => {
        import s.implicits._
        val daily = t(s, d, "orders").filter(year($"o_orderdate") === 1995)
          .groupBy(to_date($"o_orderdate").as("day"), $"o_orderpriority".as("prio"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
          .transform(GraftGlue.materialize(_)) // both self-join sides read it
        val a = daily.select($"day", $"prio".as("i"), $"rev".as("ra"))
        val b = daily.select($"day", $"prio".as("j"), $"rev".as("rb"))
        val wins = a.join(b, Seq("day")).filter($"i" =!= $"j")
          .groupBy($"i", $"j")
          .agg(sum(($"ra" > $"rb").cast("long")).as("w"))
        // enum-bounded driver solve: ≤ items² cells
        val cells = wins.collect()
          .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
        val items = cells.keys.map(_._1).toSeq.distinct.sorted
        require(items.size <= 64, s"BT solve is enum-bounded: ${items.size} items")
        val winTot = items.map(i =>
          i -> items.filter(_ != i).map(j => cells.getOrElse((i, j), 0L)).sum).toMap
        val games = (for (i <- items; j <- items if i != j) yield
          (i, j) -> (cells.getOrElse((i, j), 0L) + cells.getOrElse((j, i), 0L))).toMap
        val nItems = items.size
        var w = items.map(_ -> 1000000000L).toMap
        for (_ <- 1 to 10) {
          val raw = items.map { i =>
            val dsum = items.filter(_ != i).map { j =>
              math.floor(1e18 * games((i, j)) / (w(i) + w(j)) + 0.5).toLong
            }.sum
            i -> math.floor(winTot(i) * 1e18 / dsum + 0.5).toLong
          }.toMap
          val ssum = raw.values.sum
          w = items.map(i =>
            i -> math.floor(raw(i) * (nItems * 1e9) / ssum + 0.5).toLong).toMap
        }
        val rows = items.map(i => (i, winTot(i),
          items.filter(_ != i).map(j => games((i, j))).sum, w(i)))
        s.createDataFrame(rows)
          .toDF("prio", "wins", "games", "strength_nano")
          .orderBy($"prio")
      },
      Some {
        def itSql(k: Int): String =
          s"""d$k AS (SELECT p.i AS prio,
               CAST(sum(CAST(floor(1e18 * p.g / (wi.w + wj.w) + 0.5) AS BIGINT)) AS BIGINT) AS dsum
             FROM pairs p JOIN it${k - 1} wi ON wi.prio = p.i
               JOIN it${k - 1} wj ON wj.prio = p.j
             GROUP BY 1),
           r$k AS MATERIALIZED (SELECT d$k.prio,
               CAST(floor(wt.wins * 1e18 / d$k.dsum + 0.5) AS BIGINT) AS wraw
             FROM d$k JOIN wtot wt USING (prio)),
           s$k AS (SELECT CAST(sum(wraw) AS BIGINT) AS s FROM r$k),
           it$k AS MATERIALIZED (SELECT prio,
               CAST(floor(wraw * (nit.n * 1e9) / s$k.s + 0.5) AS BIGINT) AS w
             FROM r$k, s$k, nit)"""
        s"""WITH daily AS MATERIALIZED (SELECT CAST(o_orderdate AS DATE) AS day,
              o_orderpriority AS prio,
              sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
            FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1, 2),
          wins AS MATERIALIZED (SELECT a.prio AS i, b.prio AS j,
              CAST(sum(CASE WHEN a.rev > b.rev THEN 1 ELSE 0 END) AS BIGINT) AS w
            FROM daily a JOIN daily b ON a.day = b.day AND a.prio <> b.prio
            GROUP BY 1, 2),
          pairs AS MATERIALIZED (SELECT w1.i, w1.j, w1.w + w2.w AS g
            FROM wins w1 JOIN wins w2 ON w1.i = w2.j AND w1.j = w2.i),
          wtot AS MATERIALIZED (SELECT i AS prio, CAST(sum(w) AS BIGINT) AS wins
            FROM wins GROUP BY 1),
          gtot AS (SELECT i AS prio, CAST(sum(g) AS BIGINT) AS games
            FROM pairs GROUP BY 1),
          nit AS (SELECT count(*) AS n FROM wtot),
          it0 AS MATERIALIZED (SELECT prio, CAST(1000000000 AS BIGINT) AS w FROM wtot),
          ${(1 to 10).map(itSql).mkString(",\n          ")}
          SELECT wt.prio, wt.wins, gt.games, it10.w AS strength_nano
          FROM wtot wt JOIN gtot gt USING (prio) JOIN it10 USING (prio)
          ORDER BY wt.prio"""
      },
      "Bradley-Terry preference strengths via ten integer fixed-point MM iterations"),

    // ------------------------------------------------------- log-rank test
    // The two-cohort sequel to q207's Kaplan-Meier curve: does the
    // BUILDING market segment retain customers differently from the
    // rest? [[graft.operators.Stats.logRank]] (Mantel 1966) folds the
    // per-event-time hypergeometric O−E and variance terms — quantized
    // to exact nano integers so the DECIMAL(38,0)/HUGEINT sums compare
    // arithmetically — into one (n0, n1, o1, e1, v1, chi2) row. Window
    // state is bounded by the day calendar (the q207 shape), never the
    // customer count; chi2 is NULL by contract on a zero-variance
    // degenerate cohort.
    "q220_logrank" -> Q(
      (s, d) => {
        import s.implicits._
        val per = t(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(datediff(max($"o_orderdate"), min($"o_orderdate")).as("life"),
            (max($"o_orderdate") < "1998-06-01").cast("long").as("ev"))
          .join(t(s, d, "customer").select($"c_custkey",
            ($"c_mktsegment" === "BUILDING").cast("long").as("grp")),
            $"o_custkey" === $"c_custkey")
        graft.operators.Stats.logRank(per)
      },
      Some("""WITH lt AS (SELECT o_custkey,
            date_diff('day', min(o_orderdate), max(o_orderdate)) AS life,
            CAST(max(o_orderdate) < TIMESTAMP '1998-06-01 00:00:00' AS BIGINT) AS ev
          FROM orders GROUP BY 1),
        per AS (SELECT lt.*, CAST(c_mktsegment = 'BUILDING' AS BIGINT) AS grp
          FROM lt JOIN customer ON o_custkey = c_custkey),
        hist AS (SELECT life, count(*) AS c_all,
            CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_1,
            CAST(sum(ev) AS BIGINT) AS d_all,
            CAST(sum(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT) AS d_1
          FROM per GROUP BY life),
        risk AS (SELECT *,
            CAST(sum(c_all) OVER () - COALESCE(sum(c_all) OVER (ORDER BY life
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at,
            CAST(sum(c_1) OVER () - COALESCE(sum(c_1) OVER (ORDER BY life
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1_at
          FROM hist),
        terms AS (SELECT d_1,
            CAST(round(1e9 * d_all * n1_at / n_at) AS BIGINT) AS e_nano,
            CAST(round(1e9 * d_all * (n_at - d_all) / (n_at - 1)
              * n1_at / n_at * (n_at - n1_at) / n_at) AS BIGINT) AS v_nano
          FROM risk WHERE d_all > 0 AND n_at > 1),
        counts AS (SELECT
            CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
            CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
          FROM per),
        fin AS (SELECT CAST(sum(d_1) AS BIGINT) AS o1,
            CAST(sum(CAST(e_nano AS HUGEINT)) AS HUGEINT) AS e1n,
            CAST(sum(CAST(v_nano AS HUGEINT)) AS HUGEINT) AS v1n
          FROM terms)
        SELECT n0, n1, o1,
          round(CAST(e1n AS DOUBLE) / 1e9, 6) AS e1,
          round(CAST(v1n AS DOUBLE) / 1e9, 6) AS v1,
          CASE WHEN v1n > 0 THEN
            round((CAST(o1 AS DOUBLE) - CAST(e1n AS DOUBLE) / 1e9)
              * (CAST(o1 AS DOUBLE) - CAST(e1n AS DOUBLE) / 1e9)
              / (CAST(v1n AS DOUBLE) / 1e9), 6)
          END AS chi2
        FROM fin CROSS JOIN counts"""),
      "Mantel log-rank: BUILDING-vs-rest customer retention, nano-exact folds"),

    // ------------------------------------------- Holt linear smoothing
    // Double exponential smoothing with a linear trend (Holt 1957) over
    // the monthly revenue calendar — level/trend in micro-cent integer
    // fixed point, so the inherently sequential recurrence is
    // bit-reproducible and the oracle replays the WHOLE trajectory as
    // one recursive CTE (truncating integer division matches: Scala /,
    // DuckDB // both round toward zero). The driver fold is DECLARED
    // calendar-bounded ([[graft.operators.TimeSeries.holtLinear]]
    // fails loudly past 1000 periods or on any Long wrap via *Exact
    // arithmetic); the heavy lifting — the monthly aggregate — is one
    // map-side-combined shuffle over the raw rows.
    "q221_holt_linear" -> Q(
      (s, d) => {
        import s.implicits._
        val ser = t(s, d, "orders")
          .filter($"o_orderdate" >= "1994-01-01" && $"o_orderdate" < "1998-01-01")
          .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate"))
            .cast("long").as("ym"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        graft.operators.TimeSeries.holtLinear(ser, "ym", "cents")
      },
      Some("""WITH RECURSIVE ser AS (
          SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM orders
          WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1998-01-01'
          GROUP BY 1),
        idx AS MATERIALIZED (SELECT ym, cents,
            row_number() OVER (ORDER BY ym) AS rn FROM ser),
        holt(rn, ym, cents, l, b) AS (
          SELECT i.rn, i.ym, i.cents, i.cents * 1000000,
              ((SELECT cents FROM idx WHERE rn = 2) - i.cents) * 1000000
            FROM idx i WHERE i.rn = 1
          UNION ALL
          SELECT i.rn, i.ym, i.cents,
              (2 * i.cents * 1000000 + 8 * (h.l + h.b)) // 10,
              (1 * ((2 * i.cents * 1000000 + 8 * (h.l + h.b)) // 10 - h.l)
                + 9 * h.b) // 10
            FROM holt h JOIN idx i ON i.rn = h.rn + 1)
        SELECT ym, cents, l AS level_micro, b AS trend_micro,
          l + b AS forecast_micro
        FROM holt ORDER BY ym"""),
      "Holt linear-trend smoothing, the full trajectory oracled as one recursive CTE"),

    // --------------------------------------------- isotonic calibration
    // Pool-adjacent-violators isotonic fit (Ayer et al. 1955) of the
    // return rate against the discount level — the monotone calibration
    // map a scoring pipeline fits over its score bins. The heavy stage
    // is ONE map-side-combined aggregate into the ≤11-cell discount
    // enum; the sequential stack then runs as the declared driver fold
    // ([[graft.operators.Stats.isotonicFit]], BigInt-exact merges). The
    // oracle is the INDEPENDENT minimax identity iso(i) = max_{j≤i}
    // min_{k≥i} avg(j..k) — a theorem of the PAVA optimum evaluated
    // over all O(bins²) intervals — so the hash compare proves the
    // stack against a different algorithm entirely.
    "q223_isotonic_calibration" -> Q(
      (s, d) => {
        import s.implicits._
        val bins = t(s, d, "lineitem")
          .select(round($"l_discount" * 100).cast("int").as("bin"),
            ($"l_returnflag" === "R").cast("long").as("y"))
          .groupBy($"bin")
          .agg(count(lit(1)).as("n"), sum($"y").as("events"))
        graft.operators.Stats.isotonicFit(bins, "bin", "n", "events")
      },
      Some("""WITH bins AS (SELECT CAST(round(l_discount * 100) AS INT) AS bin,
            count(*) AS n,
            CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS events
          FROM lineitem GROUP BY 1),
        ord AS (SELECT *, row_number() OVER (ORDER BY bin) AS i FROM bins),
        pre AS (SELECT *,
            sum(n) OVER (ORDER BY i) AS cn,
            sum(events) OVER (ORDER BY i) AS ce
          FROM ord),
        iv AS (SELECT j.i AS j, k.i AS k,
            CAST(k.ce - COALESCE(jp.ce, 0) AS DOUBLE)
              / (k.cn - COALESCE(jp.cn, 0)) AS avgv
          FROM pre j JOIN pre k ON j.i <= k.i
          LEFT JOIN pre jp ON jp.i = j.i - 1),
        inner_min AS (SELECT v.j, o.i, min(v.avgv) AS m
          FROM iv v JOIN ord o ON v.j <= o.i AND v.k >= o.i
          GROUP BY 1, 2),
        iso AS (SELECT i, max(m) AS isov FROM inner_min GROUP BY 1)
        SELECT CAST(o.bin AS BIGINT) AS bin, CAST(o.n AS BIGINT) AS n, o.events,
          round(CAST(o.events AS DOUBLE) / o.n, 6) AS rate,
          round(iso.isov, 6) AS iso
        FROM ord o JOIN iso ON o.i = iso.i ORDER BY o.bin"""),
      "PAVA isotonic calibration, oracled by the independent minimax identity"),

    // --------------------------------------- seasonal decomposition
    // Classical additive decomposition (Persons 1919 — the statsmodels
    // seasonal_decompose shape) of the monthly revenue calendar:
    // centered 2×12 moving-average trend, zero-sum monthly seasonal
    // indices from the detrended phase means, remainder as what's left.
    // The decomposition sibling of q221's Holt SMOOTHER — this one
    // separates the series into components instead of forecasting it.
    // All arithmetic is exact integer micro-cents with truncating
    // division mirrored on both engines; windows and phase means run
    // over the 48-row calendar aggregate, never raw orders.
    "q224_seasonal_decompose" -> Q(
      (s, d) => {
        import s.implicits._
        val ser = t(s, d, "orders")
          .filter($"o_orderdate" >= "1994-01-01" && $"o_orderdate" < "1998-01-01")
          .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate"))
            .cast("long").as("ym"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        graft.operators.TimeSeries.classicalDecompose(ser, "ym", "cents")
      },
      Some("""WITH ser AS (SELECT
            CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM orders
          WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1998-01-01'
          GROUP BY 1),
        wt AS (SELECT ym, cents,
            CASE WHEN count(*) OVER (ORDER BY ym
                ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) = 13
              THEN sum(cents) OVER (ORDER BY ym
                  ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) * 2
                + lag(cents, 6) OVER (ORDER BY ym)
                + lead(cents, 6) OVER (ORDER BY ym)
            END AS t2p
          FROM ser),
        tr AS (SELECT *,
            CAST(CAST(t2p AS HUGEINT) * 1000000 // 24 AS BIGINT) AS trend_micro,
            cents * 1000000
              - CAST(CAST(t2p AS HUGEINT) * 1000000 // 24 AS BIGINT) AS detr
          FROM wt),
        season AS (SELECT ym % 12 AS m,
            CAST(sum(CAST(detr AS HUGEINT)) // count(*) AS BIGINT) AS s_raw
          FROM tr WHERE detr IS NOT NULL GROUP BY 1),
        adj AS (SELECT CAST(sum(CAST(s_raw AS HUGEINT)) // 12 AS BIGINT) AS a
          FROM season),
        sadj AS (SELECT m, s_raw - a AS seasonal_micro
          FROM season CROSS JOIN adj)
        SELECT t.ym, t.cents, t.trend_micro, s.seasonal_micro,
          t.detr - s.seasonal_micro AS remainder_micro
        FROM tr t LEFT JOIN sadj s ON t.ym % 12 = s.m
        ORDER BY t.ym"""),
      "classical trend/seasonal/remainder decomposition, integer-exact both engines"),

    // --------------------------------------------- RFM segmentation
    // The classic recency/frequency/monetary customer segmentation
    // (Hughes 1994): per-customer R/F/M from ONE hash aggregate over
    // orders, quintile scores per dimension, then the 125-cell segment
    // rollup. Deliberately NOT ntile() — a partitionless window is a
    // single-partition total sort, the one shape that cannot scale.
    // Instead the quintile cutpoints come from the exact-quantile
    // engine ([[graft.operators.Relational.exactQuantilesQuantized]]:
    // bounded histogram passes, no global sort), land in a ONE-ROW
    // broadcast frame, and scoring is a narrow CASE over it. Cutpoint
    // parity: quintile interpolation fractions are fifths, so p·5 is
    // integer up to IEEE ULPs and round(p·5) is identical on both
    // engines (the q149 eighth-cent discipline); scores compare
    // metric·5 > cutpoint·5 in exact integers. R is reverse-scored
    // (most recent = 5) per the textbook convention.
    "q226_rfm_segments" -> Q(
      (s, d) => {
        import s.implicits._
        val rfm = t(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(datediff(lit("2001-08-02"), max($"o_orderdate"))
              .cast("long").as("r_days"),
            count(lit(1)).as("f"),
            graft.operators.Relational.centsSum($"o_totalprice").as("m"))
          .transform(GraftGlue.materialize(_)) // feeds the quantile build + the scoring pass
        // ONE three-metric quantile build (round-17: the multi-column
        // engine folds the former 3 per-metric builds — 9 histogram
        // passes — into 3)
        val bounds = graft.operators.Relational.exactQuantilesQuantizedMulti(
            rfm, Seq("r_days", "f", "m"), Seq(0.2, 0.4, 0.6, 0.8), scale = 1,
            // r18 one-pass engine path: r/f are enum/count-bounded and m's
            // per-value histogram is bounded by the CUSTOMER dimension the
            // input frame already carries (hist ≤ input cardinality)
            domainBounded = true)
          .select(Seq("r_days", "f", "m").flatMap(c => (0 to 3).map(i =>
            round(col(s"${c}_p$i") * 5).cast("long").as(s"${c}_b$i"))): _*)
        def score(c: Column, pre: String): Column = (0 to 3).map(i =>
          when(c * 5 > col(s"${pre}_b$i"), 1).otherwise(0)).reduce(_ + _)
        rfm.crossJoin(broadcast(bounds))
          .select((lit(5) - score($"r_days", "r_days")).as("r_score"),
            (lit(1) + score($"f", "f")).as("f_score"),
            (lit(1) + score($"m", "m")).as("m_score"),
            $"m")
          .groupBy($"r_score", $"f_score", $"m_score")
          .agg(count(lit(1)).as("n_cust"),
            // truncating integer division: exact on both engines (a
            // round(·,2) double here died on a half-cent boundary)
            expr("sum(m) div count(1)").as("avg_cents"))
          .orderBy($"r_score", $"f_score", $"m_score")
      },
      Some("""WITH rfm AS (SELECT o_custkey,
            CAST(date_diff('day', max(o_orderdate), DATE '2001-08-02') AS BIGINT)
              AS r_days,
            CAST(count(*) AS BIGINT) AS f,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
          FROM orders GROUP BY 1),
        b AS (SELECT
            CAST(round(quantile_cont(CAST(r_days AS DOUBLE), 0.2) * 5) AS BIGINT) AS r_b0,
            CAST(round(quantile_cont(CAST(r_days AS DOUBLE), 0.4) * 5) AS BIGINT) AS r_b1,
            CAST(round(quantile_cont(CAST(r_days AS DOUBLE), 0.6) * 5) AS BIGINT) AS r_b2,
            CAST(round(quantile_cont(CAST(r_days AS DOUBLE), 0.8) * 5) AS BIGINT) AS r_b3,
            CAST(round(quantile_cont(CAST(f AS DOUBLE), 0.2) * 5) AS BIGINT) AS f_b0,
            CAST(round(quantile_cont(CAST(f AS DOUBLE), 0.4) * 5) AS BIGINT) AS f_b1,
            CAST(round(quantile_cont(CAST(f AS DOUBLE), 0.6) * 5) AS BIGINT) AS f_b2,
            CAST(round(quantile_cont(CAST(f AS DOUBLE), 0.8) * 5) AS BIGINT) AS f_b3,
            CAST(round(quantile_cont(CAST(m AS DOUBLE), 0.2) * 5) AS BIGINT) AS m_b0,
            CAST(round(quantile_cont(CAST(m AS DOUBLE), 0.4) * 5) AS BIGINT) AS m_b1,
            CAST(round(quantile_cont(CAST(m AS DOUBLE), 0.6) * 5) AS BIGINT) AS m_b2,
            CAST(round(quantile_cont(CAST(m AS DOUBLE), 0.8) * 5) AS BIGINT) AS m_b3
          FROM rfm),
        sc AS (SELECT m,
            5 - (CASE WHEN r_days * 5 > r_b0 THEN 1 ELSE 0 END
               + CASE WHEN r_days * 5 > r_b1 THEN 1 ELSE 0 END
               + CASE WHEN r_days * 5 > r_b2 THEN 1 ELSE 0 END
               + CASE WHEN r_days * 5 > r_b3 THEN 1 ELSE 0 END) AS r_score,
            1 + (CASE WHEN f * 5 > f_b0 THEN 1 ELSE 0 END
               + CASE WHEN f * 5 > f_b1 THEN 1 ELSE 0 END
               + CASE WHEN f * 5 > f_b2 THEN 1 ELSE 0 END
               + CASE WHEN f * 5 > f_b3 THEN 1 ELSE 0 END) AS f_score,
            1 + (CASE WHEN m * 5 > m_b0 THEN 1 ELSE 0 END
               + CASE WHEN m * 5 > m_b1 THEN 1 ELSE 0 END
               + CASE WHEN m * 5 > m_b2 THEN 1 ELSE 0 END
               + CASE WHEN m * 5 > m_b3 THEN 1 ELSE 0 END) AS m_score
          FROM rfm CROSS JOIN b)
        SELECT r_score, f_score, m_score,
          CAST(count(*) AS BIGINT) AS n_cust,
          CAST(sum(m) // count(*) AS BIGINT) AS avg_cents
        FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      "RFM quintile segmentation via the exact-quantile engine, no ntile sort"),

    // ------------------------------------------- EWMA control chart
    // Completes the classical monitor trio (q202 CUSUM catches small
    // persistent shifts, q217 mSPRT is always-valid sequential testing;
    // EWMA is the smoothed-level chart between them). Integer fixed
    // point as q221, seeded at the center line (Σy·1e6) div n — the
    // Roberts start; a first-observation seed would over-alarm
    // in-control starts (see TimeSeries.ewmaChart): the inherently
    // sequential recurrence runs as the
    // DECLARED calendar-bounded driver fold
    // ([[graft.operators.TimeSeries.ewmaChart]], loud caps, *Exact
    // arithmetic), the oracle replays the whole trajectory as ONE
    // recursive CTE, and the control-limit doubles are written
    // token-for-token on both engines so every alarm flag hashes
    // identically. The one data-proportional stage is the daily rollup.
    "q229_ewma_chart" -> Q(
      (s, d) => {
        import s.implicits._
        val ser = t(s, d, "orders")
          .filter($"o_orderdate" >= "1997-01-01" && $"o_orderdate" < "1998-01-01")
          .groupBy(datediff($"o_orderdate", lit("1997-01-01"))
            .cast("long").as("day"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        graft.operators.TimeSeries.ewmaChart(ser, "day", "cents")
      },
      Some("""WITH RECURSIVE ser AS (SELECT
            CAST(date_diff('day', DATE '1997-01-01', o_orderdate) AS BIGINT) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM orders
          WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
          GROUP BY 1),
        idx AS MATERIALIZED (SELECT day, cents,
            row_number() OVER (ORDER BY day) AS rn FROM ser),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(cents) AS BIGINT) AS sy,
            sum(CAST(cents AS HUGEINT) * cents) AS sy2
          FROM ser),
        ew(rn, day, cents, z) AS (
          SELECT i.rn, i.day, i.cents,
              (2 * i.cents * 1000000
                + 8 * ((CAST(st.sy AS HUGEINT) * 1000000) // st.n)) // 10
            FROM idx i CROSS JOIN st WHERE i.rn = 1
          UNION ALL
          SELECT i.rn, i.day, i.cents,
              (2 * i.cents * 1000000 + 8 * e.z) // 10
            FROM ew e JOIN idx i ON i.rn = e.rn + 1),
        lim AS (SELECT CAST(sy AS DOUBLE) / n AS mean_c,
            3.0 * sqrt((CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
              * sqrt((2.0 / 10.0) / (2.0 - 2.0 / 10.0)) AS band
          FROM st)
        SELECT day, cents, CAST(z AS BIGINT) AS ewma_micro,
          CASE WHEN abs(CAST(z AS DOUBLE) / 1000000.0 - mean_c) > band
            THEN 1 ELSE 0 END AS alarm
        FROM ew CROSS JOIN lim ORDER BY day"""),
      "EWMA control chart, trajectory and alarm flags oracled via recursive CTE"),

    // ------------------------------------------- uplift deciles + Qini
    // Targeting evaluation (Radcliffe 2007): rank the population by a
    // model score, split into deciles, and read the cumulative
    // treatment-vs-control conversion gap — the uplift curve — plus
    // the Qini value Q(k) = convT_cum − convC_cum·nT_cum/nC_cum (the
    // expected extra conversions at depth k had controls been
    // treated). Deciles come from the exact-quantile ENGINE's nine
    // cutpoints (q149 — distinct-cents-bounded, never a global row
    // sort: ntile() over the population is exactly the 100 TB hazard
    // this avoids), assignment is one broadcast compare chain, and
    // everything to the last division is exact integers (treatment =
    // the q134 seedless md5 coin; conversion = a 1996-buyer semi-join
    // flag). On a random coin the true uplift is ~0 — the machinery,
    // not the effect, is what the oracle pins. Decile 0 = top scores.
    "q248_uplift_qini" -> Q(
      (s, d) => {
        import s.implicits._
        val buyers = t(s, d, "orders")
          .filter(year($"o_orderdate") === 1996)
          .select($"o_custkey".as("c_custkey")).distinct()
        val base = t(s, d, "customer")
          .select($"c_custkey",
            expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"),
            (conv(substring(md5(concat(lit("q248:"),
              $"c_custkey".cast("string"))), 1, 15), 16, 10)
              .cast("long") % 2).as("treat"))
          .join(buyers.withColumn("conv", lit(1L)), Seq("c_custkey"), "left")
          .select($"cents", $"treat", coalesce($"conv", lit(0L)).as("conv"))
          .transform(GraftGlue.materialize(_)) // feeds the quantile engine AND bucketing
        val bounds = Relational.exactQuantilesQuantized(
            base, "cents", (1 to 9).map(_ / 10.0), scale = 1,
            // r18: acctbal cents — bounded money domain; one-pass engine
            domainBounded = true)
          .select((0 to 8).map(i =>
            round(col(s"p$i") * 10).cast("long").as(s"b$i")): _*)
        val above = (0 to 8).map(i =>
            when($"cents" * 10 > col(s"b$i"), 1).otherwise(0))
          .reduce(_ + _)
        val byDec = base.crossJoin(broadcast(bounds))
          .groupBy((lit(9) - above).as("decile"))
          .agg(sum(when($"treat" === 1, 1L).otherwise(0L)).as("n_t"),
            sum(when($"treat" === 0, 1L).otherwise(0L)).as("n_c"),
            sum(when($"treat" === 1, $"conv").otherwise(0L)).as("conv_t"),
            sum(when($"treat" === 0, $"conv").otherwise(0L)).as("conv_c"))
        val w = Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byDec
          .select($"decile", $"n_t", $"n_c", $"conv_t", $"conv_c",
            sum($"n_t").over(w).as("cnt"), sum($"n_c").over(w).as("cnc"),
            sum($"conv_t").over(w).as("cct"), sum($"conv_c").over(w).as("ccc"))
          .select($"decile", $"n_t", $"n_c", $"conv_t", $"conv_c",
            round($"cct".cast("double") / $"cnt"
              - $"ccc".cast("double") / $"cnc", 6).as("uplift_cum"),
            round($"cct".cast("double")
              - $"ccc".cast("double") * $"cnt" / $"cnc", 6).as("qini"))
          .orderBy($"decile")
      },
      Some("""WITH base AS (SELECT
            CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
            CAST('0x' || substr(md5('q248:' || CAST(c_custkey AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS treat,
            CASE WHEN c_custkey IN (SELECT o_custkey FROM orders
              WHERE year(o_orderdate) = 1996) THEN 1 ELSE 0 END AS conv
          FROM customer),
        b AS (SELECT
            CAST(round(quantile_cont(cents, 0.1) * 10) AS BIGINT) AS b0,
            CAST(round(quantile_cont(cents, 0.2) * 10) AS BIGINT) AS b1,
            CAST(round(quantile_cont(cents, 0.3) * 10) AS BIGINT) AS b2,
            CAST(round(quantile_cont(cents, 0.4) * 10) AS BIGINT) AS b3,
            CAST(round(quantile_cont(cents, 0.5) * 10) AS BIGINT) AS b4,
            CAST(round(quantile_cont(cents, 0.6) * 10) AS BIGINT) AS b5,
            CAST(round(quantile_cont(cents, 0.7) * 10) AS BIGINT) AS b6,
            CAST(round(quantile_cont(cents, 0.8) * 10) AS BIGINT) AS b7,
            CAST(round(quantile_cont(cents, 0.9) * 10) AS BIGINT) AS b8
          FROM base),
        dec AS (SELECT 9 - (CASE WHEN cents * 10 > b0 THEN 1 ELSE 0 END
            + CASE WHEN cents * 10 > b1 THEN 1 ELSE 0 END
            + CASE WHEN cents * 10 > b2 THEN 1 ELSE 0 END
            + CASE WHEN cents * 10 > b3 THEN 1 ELSE 0 END
            + CASE WHEN cents * 10 > b4 THEN 1 ELSE 0 END
            + CASE WHEN cents * 10 > b5 THEN 1 ELSE 0 END
            + CASE WHEN cents * 10 > b6 THEN 1 ELSE 0 END
            + CASE WHEN cents * 10 > b7 THEN 1 ELSE 0 END
            + CASE WHEN cents * 10 > b8 THEN 1 ELSE 0 END) AS decile,
            treat, conv
          FROM base CROSS JOIN b),
        g AS (SELECT decile,
            CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
            CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
            CAST(sum(CASE WHEN treat = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_t,
            CAST(sum(CASE WHEN treat = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_c
          FROM dec GROUP BY 1),
        c AS (SELECT *,
            CAST(sum(n_t) OVER (ORDER BY decile) AS BIGINT) AS cnt,
            CAST(sum(n_c) OVER (ORDER BY decile) AS BIGINT) AS cnc,
            CAST(sum(conv_t) OVER (ORDER BY decile) AS BIGINT) AS cct,
            CAST(sum(conv_c) OVER (ORDER BY decile) AS BIGINT) AS ccc
          FROM g)
        SELECT decile, n_t, n_c, conv_t, conv_c,
          round(CAST(cct AS DOUBLE) / cnt - CAST(ccc AS DOUBLE) / cnc, 6)
            AS uplift_cum,
          round(CAST(cct AS DOUBLE) - CAST(ccc AS DOUBLE) * cnt / cnc, 6)
            AS qini
        FROM c ORDER BY decile"""),
      "uplift deciles + Qini from exact-quantile cutpoints, no global row sort"),

    // --------------------------------- split-conformal calibration
    // Split-conformal prediction (Papadopoulos et al. 2002; Vovk's
    // inductive form): fit on one half, take q̂ = the ⌈(n+1)(1−α)⌉-th
    // smallest absolute calibration residual, and |y − ŷ| ≤ q̂ then
    // covers a fresh point with probability ≥ 1−α under
    // exchangeability — THE distribution-free interval the ML-serving
    // layer (q-serve/MLBENCH family) should attach to every
    // prediction. Everything is exact integers: the split is the q134
    // md5 coin on (orderkey, linenumber); the "model" is the
    // 1-parameter cents-per-unit rate fit by truncating integer
    // division on the calibration half; q̂ comes from a cumulative
    // window over the DISTINCT-residual histogram (q240's boundedness:
    // state scales with the price-grid, never row count) with the
    // ceiling rank as the integer compare 10·cum ≥ 9·(n+1); coverage
    // on the held-out half is the only division. StatsSpec asserts
    // the finite-sample guarantee (coverage ≥ 1−α−ε) and replays q̂
    // definitionally from a sorted driver-side array.
    "q249_conformal" -> Q(
      (s, d) => {
        import s.implicits._
        // r18 A/B: deliberately NOT spread — the md5-coin projection is
        // heavy, but a pre-checkpoint spread measured 2.01 → 2.40 s: the
        // raw-key shuffle plus 32-task scheduling on the three cheap
        // downstream passes cost more than parallelizing one 0.7 s
        // derivation bought (contrast q201, where EIGHT digests/row
        // amortize the same spread 2.9 → 1.4 s). A second variant —
        // spread the raw keys, then coalesce(4) the CHECKPOINTED blocks
        // so the downstream passes stay few-task — also measured flat
        // (2.19 vs 2.24 s over 4 warm passes), so the simple form stays.
        val li = t(s, d, "lineitem")
          .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
              .as("cents"),
            $"l_quantity".cast("long").as("qty"),
            (conv(substring(md5(concat(lit("q249:"),
              $"l_orderkey".cast("string"), lit(":"),
              $"l_linenumber".cast("string"))), 1, 15), 16, 10)
              .cast("long") % 2).as("calib"))
          .transform(GraftGlue.materialize(_)) // feeds rate, residual hist, test coverage
        val rate = li.filter($"calib" === 1)
          .agg(expr("sum(cents) div sum(qty)").as("rate"))
        val hist = li.filter($"calib" === 1).crossJoin(broadcast(rate))
          .groupBy(abs($"cents" - $"qty" * $"rate").as("r"))
          .agg(count(lit(1)).as("cw"))
        val cum = hist.select($"r", $"cw",
          sum($"cw").over(Window.orderBy($"r").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).as("cum"),
          sum($"cw").over(Window.orderBy($"r").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
        // k = ceil(9(n+1)/10); cum >= k  <=>  10*cum >= 9*(n+1)
        val qhat = cum.agg(max($"n").as("n_calib"),
          min(when($"cum" * 10 >= ($"n" + 1) * 9, $"r")).as("qhat_cents"))
        li.filter($"calib" === 0)
          .crossJoin(broadcast(qhat)).crossJoin(broadcast(rate))
          .agg(max($"rate").as("rate_cents_per_unit"),
            max($"n_calib").as("n_calib"),
            max($"qhat_cents").as("qhat_cents"),
            count(lit(1)).as("n_test"),
            sum(when(abs($"cents" - $"qty" * $"rate") <= $"qhat_cents", 1L)
              .otherwise(0L)).as("n_covered"))
          .withColumn("coverage",
            round($"n_covered".cast("double") / $"n_test", 6))
      },
      Some("""WITH li AS (SELECT
            CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
            CAST(l_quantity AS BIGINT) AS qty,
            CAST('0x' || substr(md5('q249:' || CAST(l_orderkey AS VARCHAR)
              || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)
              % 2 AS calib
          FROM lineitem),
        rate AS (SELECT CAST(sum(cents) // sum(qty) AS BIGINT) AS rate
          FROM li WHERE calib = 1),
        hist AS (SELECT abs(cents - qty * rate) AS r,
            CAST(count(*) AS BIGINT) AS cw
          FROM li CROSS JOIN rate WHERE calib = 1 GROUP BY 1),
        cum AS (SELECT r,
            CAST(sum(cw) OVER (ORDER BY r) AS BIGINT) AS cum,
            CAST(sum(cw) OVER () AS BIGINT) AS n
          FROM hist),
        qh AS (SELECT max(n) AS n_calib,
            min(CASE WHEN cum * 10 >= (n + 1) * 9 THEN r END) AS qhat_cents
          FROM cum)
        SELECT max(rate) AS rate_cents_per_unit,
          max(n_calib) AS n_calib, max(qhat_cents) AS qhat_cents,
          CAST(count(*) AS BIGINT) AS n_test,
          CAST(sum(CASE WHEN abs(cents - qty * rate) <= qhat_cents
            THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
          round(CAST(sum(CASE WHEN abs(cents - qty * rate) <= qhat_cents
            THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage
        FROM li CROSS JOIN rate CROSS JOIN qh WHERE calib = 0"""),
      "split-conformal 90% interval: integer rate fit, histogram-walk q-hat, held-out coverage")
  )
}
