package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Relational}

/** Text-analysis + dedup + multimodal-plumbing suite over `documents` —
  * the LLM-data-pipeline extensions (BASELINE.json north-star). Every
  * query is DuckDB-oracled, including the MinHash-LSH and SimHash
  * pipelines: their sketches are md5-derived, so the oracle re-derives
  * them bit-for-bit (see minhashOracle / simhashOracle below).
  */
object TextQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables(s, d, "documents")

  /** DuckDB mirror of [[graft.operators.Dedup.substringDedup]] over the
    * doc source `src` (a table name or a parenthesized subquery):
    * identical stride-1 md5 windows, identical (id·2²¹ + pos) packed
    * first-occurrence rule, gaps-and-islands interval merge, and the
    * cleaned text rebuilt via ordered string_agg over the kept gaps —
    * so clean_md5 hash-verifies the reconstruction char-for-char.
    * `extraSelect`/`extraJoin` let the dedup-first variant ride the
    * same chain with its copy-count column appended. */
  private def substringDedupOracle(src: String, extraSelect: String = "",
                                   extraJoin: String = ""): String =
    s"""WITH base AS (SELECT doc_id, text, length(text) AS orig_len
          FROM $src),
      wins AS (SELECT doc_id, g AS pos, md5(substr(text, g, 40)) AS wh
        FROM (SELECT doc_id, text,
            unnest(generate_series(1, length(text) - 39, 1)) AS g
          FROM base WHERE orig_len >= 40)),
      mk AS (SELECT doc_id, pos,
          count(*) OVER (PARTITION BY wh) AS n,
          min(doc_id * 2097152 + pos) OVER (PARTITION BY wh) AS fk
        FROM wins),
      marked AS (SELECT doc_id, pos, pos + 39 AS e FROM mk
        WHERE n >= 2 AND doc_id * 2097152 + pos <> fk),
      """ + substringRebuildTail(extraSelect, extraJoin)

  /** The gaps-and-islands merge + ordered-string_agg rebuild + final
    * select shared by the substring dedup and decontamination oracles:
    * consumes CTEs `base` (doc_id, text, orig_len) and `marked`
    * (doc_id, pos, e) from the caller's WITH chain. */
  private def substringRebuildTail(extraSelect: String = "",
                                   extraJoin: String = ""): String =
    s"""g1 AS (SELECT doc_id, pos, e,
          CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id
              ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            -2) + 1 THEN 1 ELSE 0 END AS brk
        FROM marked),
      g2 AS (SELECT doc_id, pos, e,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM g1),
      m AS (SELECT doc_id, grp, min(pos) AS s, max(e) AS e
        FROM g2 GROUP BY doc_id, grp),
      segs AS (
        SELECT doc_id,
          coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
          s - 1 AS ke
        FROM m
        UNION ALL
        SELECT m.doc_id, max(m.e) + 1 AS ks, max(b.orig_len) AS ke
        FROM m JOIN base b USING (doc_id) GROUP BY m.doc_id),
      rebuilt AS (
        SELECT s.doc_id,
          string_agg(substr(b.text, s.ks, greatest(s.ke - s.ks + 1, 0)), ''
            ORDER BY s.ks) AS ctext
        FROM segs s JOIN base b USING (doc_id) GROUP BY s.doc_id),
      stats AS (SELECT doc_id, count(*) AS n_spans,
          sum(e - s + 1) AS removed FROM m GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.orig_len AS BIGINT) AS orig_len,
      CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans_removed,
      CAST(coalesce(st.removed, 0) AS BIGINT) AS chars_removed,
      CAST(length(coalesce(r.ctext, b.text)) AS BIGINT) AS clean_len,
      md5(coalesce(r.ctext, b.text)) AS clean_md5$extraSelect
    FROM base b
    LEFT JOIN stats st USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    $extraJoin
    ORDER BY b.doc_id"""

  /** DuckDB mirror of [[graft.operators.Dedup.minhashNearDups]]: identical
    * md5-hex min-hash sketches, banding, stop-bucket cap and verify
    * arithmetic, so the driver hash-compares the full LSH pipeline. The
    * oracle uses a window + self-join where the engine uses a bucket
    * aggregate + nested explodes — same pair set, different (non-scalable,
    * oracle-only) plan shape. */
  /** Shared CTE chain `tok → sigs → bands → sized → cand` re-deriving the
    * engine's LSH candidate pairs in DuckDB — used by both the full
    * near-dup oracle ([[minhashOracle]]) and the precision/recall audit
    * ([[lshAuditOracle]]). */
  /** DuckDB re-derivation of Spark's `xxhash64` (XXH64, seed 42) over an
    * ASCII token column — the function has no DuckDB twin, so the oracle
    * rebuilds it from the XXH64 spec as pure 64-bit WRAPPING arithmetic
    * on HUGEINT: multiply-mod-2^64 via a 32-bit limb split (the 128-bit
    * signed HUGEINT can't hold a full 64×64 product), rotate-left as
    * shift-multiply + floor-div of disjoint bit ranges, `xor()` for the
    * mixes. Validated bit-exact against the Spark function on every
    * corpus token (11,695 at sf0.01). Handles inputs up to 16 UTF-8
    * bytes (two 8-byte words + one 4-byte chunk + 3 tail bytes; corpus
    * max is 8); a longer or non-ASCII token nulls `len` and so `xh` —
    * consumers must NOT let that NULL reach an aggregate that ignores
    * nulls (min would silently drop the token); the xx64 sigs CTE
    * guards it with an error() scalar subquery so an out-of-envelope
    * token fails the oracle query loudly. Emits CTEs `x0..xxh`; `xxh` exposes
    * (doc_id, sh, xh BIGINT) with xh = Spark's signed xxhash64(sh).
    * Reads (doc_id, sh) from `inCte`. */
  private[queries] def xxhash64Ctes(inCte: String): String = {
    val M = "18446744073709551616" // 2^64
    val (p1, p2, p3, p4, p5) = ("11400714785074694791", "14029467366897019727",
      "1609587929392839161", "9650029242287828579", "2870177450012600261")
    def mulmod(a: String, b: String): String =
      s"((((($a) // 4294967296) * $b) % 4294967296) * 4294967296" +
        s" + (($a) % 4294967296) * $b) % $M"
    def rotl(x: String, r: Int): String =
      s"((($x) * ${1L << r}) % $M + (($x) // ${1L << (64 - r)}))"
    def xor(a: String, b: String): String = s"xor($a, $b)"
    val maxLen = 16
    val byteCols = (1 to maxLen).map(i =>
      s"CASE WHEN length(sh) >= $i THEN CAST(ord(substr(sh, $i, 1)) AS HUGEINT)" +
        s" ELSE CAST(0 AS HUGEINT) END AS b$i").mkString(", ")
    def le(start: Int, n: Int): String =
      (0 until n).map(i => s"b${start + i} * ${BigInt(256).pow(i)}").mkString(" + ")
    val b = new StringBuilder
    b ++= s"""x0 AS (SELECT doc_id, sh,
      CASE WHEN octet_length(encode(sh)) = length(sh) AND length(sh) <= $maxLen
           THEN CAST(length(sh) AS HUGEINT) END AS len,
      $byteCols FROM $inCte),
    x1 AS (SELECT *, (2870177450012600303 + len) % $M AS h,
      ${le(1, 8)} AS w0, ${le(9, 8)} AS w1,
      CASE WHEN len // 8 = 0 THEN ${le(1, 4)} ELSE ${le(9, 4)} END AS c4,
      ${(0 until 3).map { t =>
        val pos = s"(len // 8) * 8 + CASE WHEN len % 8 >= 4 THEN 4 ELSE 0 END + ${t + 1}"
        s"""CASE WHEN ($pos) <= len THEN CASE ${(1 to maxLen)
            .map(i => s"WHEN ($pos) = $i THEN b$i").mkString(" ")} END
           END AS tb$t"""
      }.mkString(", ")}
      FROM x0),"""
    // 8-byte word rounds (len // 8 of them, at most two for maxLen 16)
    (0 until 2).foreach { i =>
      val prev = if (i == 0) "x1" else "xw0b"
      val k1 = mulmod(rotl(mulmod(s"w$i", p2), 31), p1)
      b ++= s"""xw${i}a AS (SELECT * EXCLUDE (h), CASE WHEN len // 8 > $i
          THEN ${xor("h", k1)} ELSE h END AS h FROM $prev),
        xw${i}b AS (SELECT * EXCLUDE (h), CASE WHEN len // 8 > $i
          THEN (${mulmod(rotl("h", 27), p1)} + $p4) % $M ELSE h END AS h
          FROM xw${i}a),"""
    }
    // 4-byte chunk, then up to three tail bytes, then the avalanche
    b ++= s"""x4 AS (SELECT * EXCLUDE (h), CASE WHEN len % 8 >= 4
        THEN (${mulmod(rotl(xor("h", mulmod("c4", p1)), 23), p2)} + $p3) % $M
        ELSE h END AS h FROM xw1b),"""
    (0 until 3).foreach { t =>
      val prev = if (t == 0) "x4" else s"xt${t - 1}"
      b ++= s"""xt$t AS (SELECT * EXCLUDE (h), CASE WHEN tb$t IS NOT NULL AND
          ((len // 8) * 8 + CASE WHEN len % 8 >= 4 THEN 4 ELSE 0 END + ${t + 1}) <= len
          THEN ${mulmod(rotl(xor("h", s"((tb$t) * $p5) % $M"), 11), p1)}
          ELSE h END AS h FROM $prev),"""
    }
    b ++= s"""xa1 AS (SELECT * EXCLUDE (h),
        ${mulmod(xor("h", "h // 8589934592"), p2)} AS h FROM xt2),
      xa2 AS (SELECT * EXCLUDE (h),
        ${mulmod(xor("h", "h // 536870912"), p3)} AS h FROM xa1),
      xxh AS (SELECT doc_id, sh,
        CAST(CASE WHEN ${xor("h", "h // 4294967296")} >= 9223372036854775808
             THEN ${xor("h", "h // 4294967296")} - $M
             ELSE ${xor("h", "h // 4294967296")} END AS BIGINT) AS xh FROM xa2)"""
    b.toString
  }

  private def lshCandidateCtes(pred: String, k: Int, bands: Int,
                               maxBucket: Int, scheme: String): String = {
    val r = k / bands
    // "salted": k/2 salted digests per token, one min per hash slot.
    // "lcg": mirrors Dedup.minhashSignaturesLcg — one 60-bit hash per
    //   token reduced mod LcgPrime, k slots via (a_j·h + b_j) mod P with
    //   the SAME (a_j, b_j) literals the Spark plan embeds.
    // "oph": mirrors Dedup.ophDensifiedSignatures — bin minima of a
    //   single 60-bit hash, rotation-densified over the doubled bin ring
    //   with a distance offset, re-widened by conditional mins.
    val lcgSigs = s"""sigs AS (SELECT doc_id, ${(0 until k).map { j =>
          val (a, b) = graft.operators.Dedup.lcgCoef(j)
          s"min(($a * h + $b) % ${graft.operators.Dedup.LcgPrime}) AS mh$j"
        }.mkString(", ")}
      FROM tok GROUP BY doc_id)"""
    val sigsCte =
      if (scheme == "lcg")
        s"""tok AS (
             SELECT doc_id,
               CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
                 % ${graft.operators.Dedup.LcgPrime} AS h
             FROM (SELECT doc_id,
                 unnest(list_distinct(string_split(lower(text), ' '))) AS sh
               FROM documents WHERE $pred)),
           $lcgSigs"""
      else if (scheme == "xx64")
        // the same LCG slot family over the xxhash64 token base — h is
        // Spark's pmod(xxhash64(sh), P) with xxhash64 re-derived by
        // [[xxhash64Ctes]]. The scalar-subquery guard makes an
        // out-of-envelope token (NULL xh) ERROR the whole oracle query
        // — without it the NULL would flow into the sigs CTE's min(),
        // which IGNORES nulls, and the token would be silently dropped
        // from the signature (surfacing only if it would have been a
        // slot minimizer).
        s"""tok0 AS (
             SELECT doc_id,
               unnest(list_distinct(string_split(lower(text), ' '))) AS sh
             FROM documents WHERE $pred),
           ${xxhash64Ctes("tok0")},
           xm AS MATERIALIZED (SELECT doc_id, sh, xh FROM xxh),
           xg AS (SELECT CASE WHEN count(*) = 0 THEN 0
                    ELSE CAST(error('xx64 oracle: token outside the hash envelope')
                              AS BIGINT) END AS guard
             FROM xm WHERE xh IS NULL),
           tok AS (SELECT doc_id,
               ((xh % ${graft.operators.Dedup.LcgPrime})
                 + ${graft.operators.Dedup.LcgPrime})
                 % ${graft.operators.Dedup.LcgPrime}
               + xg.guard AS h
             FROM xm, xg),
           $lcgSigs"""
      else if (scheme == "oph")
        s"""tok AS (
             SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
             FROM (SELECT doc_id,
                 unnest(list_distinct(string_split(lower(text), ' '))) AS sh
               FROM documents WHERE $pred)),
           binm AS (SELECT doc_id, h % $k AS pos, min(h) AS m
             FROM tok GROUP BY doc_id, h % $k),
           scaf AS (SELECT d.doc_id, r.range AS pos
             FROM (SELECT DISTINCT doc_id FROM binm) d, range(${2 * k}) r),
           ring AS (SELECT s.doc_id, s.pos, b.m FROM scaf s
             LEFT JOIN (SELECT doc_id, pos, m FROM binm
                        UNION ALL SELECT doc_id, pos + $k, m FROM binm) b
             ON b.doc_id = s.doc_id AND b.pos = s.pos),
           filled AS (SELECT doc_id, pos,
               first_value(m IGNORE NULLS) OVER w AS nval,
               first_value(CASE WHEN m IS NOT NULL THEN pos END IGNORE NULLS)
                 OVER w AS npos
             FROM ring WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
           sigs AS (SELECT doc_id, ${(0 until k).map(j =>
                 s"min(CASE WHEN pos = $j THEN nval + npos - pos END) AS mh$j")
               .mkString(", ")}
             FROM filled WHERE pos < $k GROUP BY doc_id)"""
      else
        s"""tok AS (
             SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS sh
             FROM documents WHERE $pred),
           sigs AS (SELECT doc_id, ${(0 until k).map(j =>
                 s"min(CAST('0x' || substr(md5('${j / 2}:' || sh), " +
                   s"${1 + 15 * (j % 2)}, 15) AS BIGINT)) AS mh$j").mkString(", ")}
             FROM tok GROUP BY doc_id)"""
    val bandSelects = (0 until bands).map { b =>
      val cat = (b * r until (b + 1) * r)
        .map(j => s"CAST(mh$j AS VARCHAR)").mkString(" || ':' || ")
      s"SELECT doc_id, $b AS band_idx, md5($cat) AS band_hash FROM sigs"
    }.mkString(" UNION ALL ")
    s"""$sigsCte,
       bands AS ($bandSelects),
       sized AS (SELECT * FROM (SELECT doc_id, band_idx, band_hash,
           count(*) OVER (PARTITION BY band_idx, band_hash) AS n FROM bands)
         WHERE n BETWEEN 2 AND $maxBucket),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sized a JOIN sized b USING (band_idx, band_hash)
         WHERE a.doc_id < b.doc_id)"""
  }

  /** CTE chain ending in `mh_pairs(id_a, id_b, jaccard)` — the verified
    * near-dup pair set of [[graft.operators.Dedup.minhashNearDups]] for
    * the given scheme, re-derived in DuckDB. */
  private def minhashPairsCtes(pred: String, k: Int, bands: Int,
                               threshold: Double, maxBucket: Int,
                               scheme: String): String =
    s"""${lshCandidateCtes(pred, k, bands, maxBucket, scheme)},
       sets AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS s
         FROM documents WHERE $pred),
       mh_pairs AS (SELECT * FROM (
         SELECT id_a, id_b,
           round((len(sa.s) + len(sb.s)
               - len(list_distinct(list_concat(sa.s, sb.s))))::DOUBLE
             / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
         FROM cand JOIN sets sa ON sa.doc_id = id_a
                   JOIN sets sb ON sb.doc_id = id_b)
       WHERE jaccard >= $threshold)"""

  private def minhashOracle(bound: Int, k: Int, bands: Int,
                            threshold: Double, maxBucket: Int,
                            scheme: String = "salted"): String =
    s"""WITH ${minhashPairsCtes(s"doc_id < $bound", k, bands, threshold, maxBucket, scheme)}
       SELECT id_a, id_b, jaccard FROM mh_pairs ORDER BY id_a, id_b"""

  /** DuckDB side of the LSH quality audit: the engine's exact candidate
    * set (via [[lshCandidateCtes]]) full-joined against the exact unigram
    * Jaccard ≥ threshold ground truth, reduced to candidate/truth/hit
    * counts and precision/recall. */
  private def lshAuditOracle(bound: Int, k: Int, bands: Int,
                             maxBucket: Int, threshold: Double): String = {
    val hit = "CASE WHEN c.id_a IS NOT NULL AND t.id_a IS NOT NULL THEN 1 ELSE 0 END"
    val isCand = "CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END"
    val isTrue = "CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END"
    s"""WITH ${lshCandidateCtes(s"doc_id < $bound", k, bands, maxBucket, "lcg")},
       sets AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS s
         FROM documents WHERE doc_id < $bound),
       truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sets a, sets b WHERE a.doc_id < b.doc_id
           AND round((len(a.s) + len(b.s)
               - len(list_distinct(list_concat(a.s, b.s))))::DOUBLE
             / len(list_distinct(list_concat(a.s, b.s))), 6) >= $threshold)
       SELECT CAST(sum($isCand) AS BIGINT) AS n_candidates,
         CAST(sum($isTrue) AS BIGINT) AS n_true,
         CAST(sum($hit) AS BIGINT) AS n_hit,
         round(CAST(sum($hit) AS DOUBLE) / sum($isCand), 6) AS prec,
         round(CAST(sum($hit) AS DOUBLE) / sum($isTrue), 6) AS recall
       FROM cand c FULL JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b"""
  }

  /** DuckDB mirror of [[graft.operators.Dedup.simhashChunks]] + all-pairs
    * Hamming: same md5-hex-digit bit source (strpos over the hex alphabet
    * = Spark's conv(_,16,10)), same ±1 bit sums, same 16-bit chunk packing
    * and popcount-of-xor distance. */
  /** Shared CTE chain `tok → dig → sums → sk` re-deriving the engine's
    * chunked SimHash sketches in DuckDB. */
  private def simhashSketchCtes(bound: Int): String = {
    val digits = (0 until 16)
      .map(i => s"strpos('0123456789abcdef', substr(md5(sh), ${i + 1}, 1)) - 1 AS d$i")
      .mkString(", ")
    val bitSums = (0 until 64)
      .map(b => s"sum(CASE WHEN ((d${b / 4} >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val chunks = (0 until 4).map { c =>
      (0 until 16)
        .map(j => s"(CASE WHEN b${16 * c + j} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ") + s" AS c$c"
    }.mkString(", ")
    s"""tok AS (
         SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS sh
         FROM documents WHERE doc_id < $bound),
       dig AS (SELECT doc_id, $digits FROM tok),
       sums AS (SELECT doc_id, $bitSums FROM dig GROUP BY doc_id),
       sk AS (SELECT doc_id, $chunks FROM sums)"""
  }

  private def simhashDist(a: String, b: String): String =
    (0 until 4).map(c => s"bit_count(xor($a.c$c, $b.c$c))").mkString(" + ")

  private def simhashOracle(bound: Int, maxDist: Int): String =
    s"""WITH ${simhashSketchCtes(bound)}
       SELECT * FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(${simhashDist("a", "b")} AS INTEGER) AS dist
         FROM sk a JOIN sk b ON a.doc_id < b.doc_id)
       WHERE dist <= $maxDist ORDER BY id_a, id_b"""

  /** DuckDB side of the banded (pigeonhole) SimHash pipeline: the same
    * sketches, candidates from shared (chunk_idx, chunk_value) buckets
    * via a UNION-ALL band table + equi-join, exact Hamming verify. */
  private def simhashBandedOracle(bound: Int, maxDist: Int): String =
    s"""WITH ${simhashSketchCtes(bound)},
       bands AS (SELECT doc_id, 0 AS bi, c0 AS bv FROM sk
         UNION ALL SELECT doc_id, 1, c1 FROM sk
         UNION ALL SELECT doc_id, 2, c2 FROM sk
         UNION ALL SELECT doc_id, 3, c3 FROM sk),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b USING (bi, bv) WHERE a.doc_id < b.doc_id)
       SELECT * FROM (
         SELECT id_a, id_b, CAST(${simhashDist("sa", "sb")} AS INTEGER) AS dist
         FROM cand JOIN sk sa ON sa.doc_id = id_a JOIN sk sb ON sb.doc_id = id_b)
       WHERE dist <= $maxDist ORDER BY id_a, id_b"""

  /** Closed-form dHash replay for the variant-PNG fixture
    * ([[graft.multimodal.Multimodal.encodeVariantPngs]]): rebuilds the
    * sampled 9×8 gray grid from the deterministic pixel formula through
    * integer CTEs — no codec, no md5 — ending in a `hash(media_id,
    * c0..c3)` CTE the callers SELECT from. Constants mirror
    * [[graft.multimodal.Multimodal.variantGray]] (Knuth multiplicative
    * mixer, 240-bounded base, +8 brightness for p=1, 3×3 white block for
    * p=2); sampling is the same integer nearest-neighbor (x·W/9, y·H/8).
    * All arithmetic stays non-negative BIGINT — DuckDB rejects 1<<63, so
    * the hash lives as four 16-bit chunks, the house sketch shape. */
  private val dhashOracle: String = dhashCtes(
    """SELECT doc_id AS media_id, doc_id // 3 AS s, doc_id % 3 AS p,
             (doc_id // 3) % 6 + 12 AS w, (doc_id // 3) % 5 + 10 AS h
           FROM documents""")

  /** The dHash CTE chain over an arbitrary `(media_id, s, p, w, h)`
    * source (q254's document ids, q260's per-frame synthetic ids). */
  private def dhashCtes(idsSql: String): String =
    s"""WITH ids AS ($idsSql),
       xs AS (SELECT unnest(generate_series(0, 8)) AS x),
       ys AS (SELECT unnest(generate_series(0, 7)) AS y),
       grid AS (SELECT media_id, s, p, x, y, (x * w) // 9 AS px, (y * h) // 8 AS py
                FROM ids, xs, ys),
       gray AS (SELECT media_id, x, y,
           CASE WHEN p = 2 AND px < 3 AND py < 3 THEN 255
                ELSE (((((s*7919 + px*104729 + py*130363) % 2147483648) * 2654435761) % 2147483648) >> 16) % 240
                     + CASE WHEN p = 1 THEN 8 ELSE 0 END END AS g
         FROM grid),
       bits AS (SELECT media_id, y, x, g,
           lead(g) OVER (PARTITION BY media_id, y ORDER BY x) AS gn FROM gray),
       hash AS (SELECT media_id,
           CAST(sum(CASE WHEN x < 8 AND gn > g AND (y*8+x) // 16 = 0 THEN 1 << ((y*8+x) % 16) ELSE 0 END) AS INTEGER) AS c0,
           CAST(sum(CASE WHEN x < 8 AND gn > g AND (y*8+x) // 16 = 1 THEN 1 << ((y*8+x) % 16) ELSE 0 END) AS INTEGER) AS c1,
           CAST(sum(CASE WHEN x < 8 AND gn > g AND (y*8+x) // 16 = 2 THEN 1 << ((y*8+x) % 16) ELSE 0 END) AS INTEGER) AS c2,
           CAST(sum(CASE WHEN x < 8 AND gn > g AND (y*8+x) // 16 = 3 THEN 1 << ((y*8+x) % 16) ELSE 0 END) AS INTEGER) AS c3
         FROM bits GROUP BY media_id)
    """

  /** Closed-form audio-fingerprint replay for the variant-WAV fixture
    * ([[graft.multimodal.Multimodal.encodeVariantWavs]]): PCM samples
    * from the quadratic congruential formula (mirroring
    * [[graft.multimodal.Multimodal.audioSample]]), per-frame energy
    * sums, adjacent-comparison bits packed into the 4×16-bit chunk
    * shape — integer CTEs only, no codec, ending in a
    * `hash(media_id, c0..c3)` CTE. */
  private val wavOracle: String =
    """WITH ids AS (SELECT doc_id AS media_id, doc_id // 3 AS s, doc_id % 3 AS p
           FROM documents),
       fr AS (SELECT unnest(generate_series(0, 64)) AS f),
       js AS (SELECT unnest(generate_series(0, 23)) AS j),
       v AS (SELECT media_id, p, f, j,
             (s*7919 + (f*24+j)*104729 + 12345) % 2147483648 AS v FROM ids, fr, js),
       smp AS (SELECT media_id, f,
           CASE WHEN p = 2 AND (f*24 + j) < 72 THEN 2047
                ELSE (CASE WHEN p = 1 THEN 2 ELSE 1 END) *
                  ((((v*v + 3*v) % 2147483648) >> 12) % 4096 - 2048) END AS x
         FROM v),
       en AS (SELECT media_id, f, sum(x*x) AS e FROM smp GROUP BY 1, 2),
       bits AS (SELECT media_id, f, e,
           lead(e) OVER (PARTITION BY media_id ORDER BY f) AS e2 FROM en),
       hash AS (SELECT media_id,
           CAST(sum(CASE WHEN f < 64 AND e2 > e AND f // 16 = 0 THEN 1 << (f % 16) ELSE 0 END) AS INTEGER) AS c0,
           CAST(sum(CASE WHEN f < 64 AND e2 > e AND f // 16 = 1 THEN 1 << (f % 16) ELSE 0 END) AS INTEGER) AS c1,
           CAST(sum(CASE WHEN f < 64 AND e2 > e AND f // 16 = 2 THEN 1 << (f % 16) ELSE 0 END) AS INTEGER) AS c2,
           CAST(sum(CASE WHEN f < 64 AND e2 > e AND f // 16 = 3 THEN 1 << (f % 16) ELSE 0 END) AS INTEGER) AS c3
         FROM bits GROUP BY media_id)
    """

  /** Closed-form 256-BIT dHash replay for the WIDE variant-PNG fixture
    * (20×18 base images, 17×16 sample grid — [[graft.multimodal
    * .Multimodal.dhashChunksGrid]]): the same staged-modular pixel
    * arithmetic as [[dhashOracle]], sixteen 16-bit chunks (chunk k =
    * row k's 16 horizontal comparisons), ending in a
    * `hash(media_id, c0..c15)` CTE. */
  private val dhash256Oracle: String = {
    val chunkCols = (0 until 16).map { k =>
      s"CAST(sum(CASE WHEN x < 16 AND gn > g AND y = $k THEN 1 << x ELSE 0 END) AS INTEGER) AS c$k"
    }.mkString(",\n           ")
    s"""WITH ids AS (SELECT doc_id AS media_id, doc_id // 3 AS s, doc_id % 3 AS p,
             (doc_id // 3) % 6 + 20 AS w, (doc_id // 3) % 5 + 18 AS h
           FROM documents),
       xs AS (SELECT unnest(generate_series(0, 16)) AS x),
       ys AS (SELECT unnest(generate_series(0, 15)) AS y),
       grid AS (SELECT media_id, s, p, x, y, (x * w) // 17 AS px, (y * h) // 16 AS py
                FROM ids, xs, ys),
       gray AS (SELECT media_id, x, y,
           CASE WHEN p = 2 AND px < 3 AND py < 3 THEN 255
                ELSE (((((s*7919 + px*104729 + py*130363) % 2147483648) * 2654435761) % 2147483648) >> 16) % 240
                     + CASE WHEN p = 1 THEN 8 ELSE 0 END END AS g
         FROM grid),
       bits AS (SELECT media_id, y, x, g,
           lead(g) OVER (PARTITION BY media_id, y ORDER BY x) AS gn FROM gray),
       hash AS (SELECT media_id,
           $chunkCols
         FROM bits GROUP BY media_id)
    """
  }

  // each bit_count is cast up front: DuckDB's bit_count returns TINYINT
  // and sixteen summed terms can reach 256, overflowing 127 mid-fold
  private def dhash256Dist(a: String, b: String): String =
    (0 until 16).map(c => s"CAST(bit_count(xor($a.c$c, $b.c$c)) AS INTEGER)")
      .mkString(" + ")

  /** Closed-form SPECTRAL-fingerprint replay for the spectral-WAV
    * fixture ([[graft.multimodal.Multimodal.encodeSpectralWavs]]):
    * pristine PCM from the staged-modular mixer, p=1 gain ×2, p=2
    * frame-local ascending sort (replayed WITHOUT a sort-merge: the
    * quarter-wave projection only needs each sample's POSITION in the
    * sorted frame, which is its rank — `row_number() OVER (PARTITION BY
    * media_id, f ORDER BY x0, j) − 1` — so the coefficient index jj
    * swaps from j to the rank and the aggregate is unchanged), exact
    * integer bin-6/bin-12 powers, adjacent comparisons packed c0/c1
    * from bin 6 (frames 0..32) and c2/c3 from bin 12 (frames 32..64).
    * Integer CTEs only, no codec, ending in `hash(media_id, c0..c3)`. */
  private val spectralOracle: String =
    """WITH ids AS (SELECT doc_id AS media_id, doc_id // 3 AS s, doc_id % 3 AS p
           FROM documents),
       fr AS (SELECT unnest(generate_series(0, 64)) AS f),
       js AS (SELECT unnest(generate_series(0, 23)) AS j),
       raw AS (SELECT media_id, p, f, j,
           (s*7919 + (f*24+j)*104729 + 12345) % 2147483648 AS v FROM ids, fr, js),
       base AS (SELECT media_id, p, f, j,
           ((((v*v + 3*v) % 2147483648) >> 12) % 4096 - 2048) AS x0 FROM raw),
       pos AS (SELECT media_id, f,
           x0 * (CASE WHEN p = 1 THEN 2 ELSE 1 END) AS x,
           CASE WHEN p = 2 THEN
               row_number() OVER (PARTITION BY media_id, f ORDER BY x0, j) - 1
             ELSE j END AS jj
         FROM base),
       sp AS (SELECT media_id, f,
           sum(CASE jj % 4 WHEN 0 THEN x WHEN 2 THEN -x ELSE 0 END) AS re6,
           sum(CASE jj % 4 WHEN 1 THEN x WHEN 3 THEN -x ELSE 0 END) AS im6,
           sum(CASE WHEN jj % 2 = 0 THEN x ELSE -x END) AS re12
         FROM pos GROUP BY 1, 2),
       pw AS (SELECT media_id, f, re6*re6 + im6*im6 AS p6, re12*re12 AS p12 FROM sp),
       bits AS (SELECT media_id, f, p6, p12,
           lead(p6) OVER (PARTITION BY media_id ORDER BY f) AS p6n,
           lead(p12) OVER (PARTITION BY media_id ORDER BY f) AS p12n
         FROM pw),
       hash AS (SELECT media_id,
           CAST(sum(CASE WHEN f < 16 AND p6n > p6 THEN 1 << (f % 16) ELSE 0 END) AS INTEGER) AS c0,
           CAST(sum(CASE WHEN f >= 16 AND f < 32 AND p6n > p6 THEN 1 << (f % 16) ELSE 0 END) AS INTEGER) AS c1,
           CAST(sum(CASE WHEN f >= 32 AND f < 48 AND p12n > p12 THEN 1 << (f % 16) ELSE 0 END) AS INTEGER) AS c2,
           CAST(sum(CASE WHEN f >= 48 AND f < 64 AND p12n > p12 THEN 1 << (f % 16) ELSE 0 END) AS INTEGER) AS c3
         FROM bits GROUP BY media_id)
    """

  private val EnStops = Seq("the", "a", "of", "and")
  private val DeStops = Seq("der", "die", "und", "das")
  private val EsStops = Seq("el", "la", "los", "y")
  private val FrStops = Seq("le", "les", "et", "dans")

  val all: Seq[(String, Q)] = Seq(

    // ------------------------------------------------------- token counting
    "q30_text_tokens" -> Q(
      (s, d) => {
        import s.implicits._
        docs(s, d).select(
          $"doc_id",
          length($"text").as("n_chars_actual"),
          wordCount($"text").as("n_tokens"),
          uniqueWordCount($"text").as("n_unique"),
          bpeishTokenCount($"text").as("n_bpeish"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_actual,
        CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
        CAST(len(list_distinct(string_split(lower(text), ' '))) AS INTEGER) AS n_unique,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpeish
        FROM documents ORDER BY doc_id"""),
      "token counting: whitespace + BPE-ish regex pre-tokenizer"),

    // ------------------------------------------------------ quality scoring
    "q31_text_quality" -> Q(
      (s, d) => {
        import s.implicits._
        docs(s, d).select(
          $"doc_id",
          wordCount($"text").as("n_words"),
          round(stopwordRatio($"text", EnStops), 6).as("stop_ratio"),
          round(alphaRatio($"text"), 6).as("alpha_ratio"),
          round(length(translate($"text", " ", "")).cast("double") /
            wordCount($"text"), 6).as("avg_word_len"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_words,
        round(CAST(len(list_filter(string_split(lower(text), ' '),
          w -> w IN ('the','a','of','and'))) AS DOUBLE) / len(string_split(lower(text), ' ')), 6) AS stop_ratio,
        round(CASE WHEN length(text) = 0 THEN 0.0
          ELSE CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS alpha_ratio,
        round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(lower(text), ' ')), 6) AS avg_word_len
        FROM documents ORDER BY doc_id"""),
      "quality scoring: length/stopword/alpha ratios"),

    // ---------------------------------------------------------- language-ID
    // Marker-word heuristic with a deterministic argmax; aggregated as a
    // (declared_lang × predicted_lang) contingency table. Scores come
    // from one explode + four codegen'd conditional sums per doc — the
    // langScore filter-HOF form evaluates interpreted and re-splits the
    // text once per language. explode of a null array emits NO rows, so
    // the scores are LEFT-joined back to the full document set with
    // missing scores coalesced to 0: a null-text doc keeps its row in the
    // contingency table (scoring 'en' on the all-zero tie), matching the
    // oracle's per-row COALESCE shape instead of silently vanishing.
    "q32_text_langid" -> Q(
      (s, d) => {
        import s.implicits._
        val scores = docs(s, d)
          .select($"doc_id", explode(words($"text")).as("w"))
          .groupBy($"doc_id")
          .agg(
            sum(when($"w".isin(EnStops: _*), 1).otherwise(0)).as("en"),
            sum(when($"w".isin(DeStops: _*), 1).otherwise(0)).as("de"),
            sum(when($"w".isin(EsStops: _*), 1).otherwise(0)).as("es"),
            sum(when($"w".isin(FrStops: _*), 1).otherwise(0)).as("fr"))
        docs(s, d).select($"doc_id", $"lang")
          .join(scores, Seq("doc_id"), "left")
          .select($"lang",
            langId(coalesce($"en", lit(0L)), coalesce($"de", lit(0L)),
              coalesce($"es", lit(0L)), coalesce($"fr", lit(0L))).as("pred_lang"))
          .groupBy($"lang", $"pred_lang")
          .agg(count(lit(1)).as("n"))
          .orderBy($"lang", $"pred_lang")
      },
      Some("""WITH sc AS (SELECT lang,
          COALESCE(len(list_filter(string_split(lower(text),' '), w -> w IN ('the','a','of','and'))), 0) AS en,
          COALESCE(len(list_filter(string_split(lower(text),' '), w -> w IN ('der','die','und','das'))), 0) AS de,
          COALESCE(len(list_filter(string_split(lower(text),' '), w -> w IN ('el','la','los','y'))), 0) AS es,
          COALESCE(len(list_filter(string_split(lower(text),' '), w -> w IN ('le','les','et','dans'))), 0) AS fr
        FROM documents)
        SELECT lang, CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
          WHEN de >= es AND de >= fr THEN 'de' WHEN es >= fr THEN 'es'
          ELSE 'fr' END AS pred_lang, count(*) AS n
        FROM sc GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""),
      "language-ID heuristic via marker-word argmax"),

    // ------------------------------------------------- Cohen's kappa
    // Chance-corrected agreement (Cohen, 1960) between the corpus's
    // DECLARED language labels and the q32 detector — the labeling-ops
    // audit that separates "the annotator and the model agree" from
    // "they agree no more than chance would force": κ = (p_o − p_e)/
    // (1 − p_e) with p_e from the marginal products. Everything is
    // exact integer until the one final division — κ's numerator and
    // denominator, N·ΣdiagN − Σr_k·c_k and N² − Σr_k·c_k, run in
    // DECIMAL(38,0) on the Spark side and HUGEINT in the mirror (the
    // products pass a LONG once N nears ~3e9 documents), so the compare
    // stays arithmetic, not float-lucky, at any corpus size. Confusion
    // cells are langs² ≤ 16; one corpus aggregate feeds everything.
    // sum_rc ships as BIGINT — its decimal value is cast at the output
    // boundary only, after the wide arithmetic is done, and that
    // boundary is GUARDED: past ~3e9 documents Σr·c exceeds a BIGINT,
    // where DuckDB's CAST(HUGEINT AS BIGINT) errors but Spark's
    // non-ANSI cast would wrap silently — the explicit raise_error
    // makes both engines fail loudly at the same boundary (pe/kappa
    // stay wide and correct either way).
    "q216_cohens_kappa" -> Q(
      (s, d) => {
        import s.implicits._
        val scores = docs(s, d)
          .select($"doc_id", explode(words($"text")).as("w"))
          .groupBy($"doc_id")
          .agg(
            sum(when($"w".isin(EnStops: _*), 1).otherwise(0)).as("en"),
            sum(when($"w".isin(DeStops: _*), 1).otherwise(0)).as("de"),
            sum(when($"w".isin(EsStops: _*), 1).otherwise(0)).as("es"),
            sum(when($"w".isin(FrStops: _*), 1).otherwise(0)).as("fr"))
        val conf = docs(s, d).select($"doc_id", $"lang")
          .join(scores, Seq("doc_id"), "left")
          .select($"lang",
            langId(coalesce($"en", lit(0L)), coalesce($"de", lit(0L)),
              coalesce($"es", lit(0L)), coalesce($"fr", lit(0L))).as("pred"))
          .groupBy($"lang", $"pred").agg(count(lit(1)).as("n"))
          .localCheckpoint() // diag + both marginals share it
        val agree = conf.filter($"lang" === $"pred")
          .agg(coalesce(sum($"n"), lit(0L)).as("n_agree"))
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val rc = conf.groupBy($"lang").agg(sum($"n").as("rk"))
          .join(conf.groupBy($"pred").agg(sum($"n").as("ck")),
            $"lang" === $"pred")
          .agg(sum(d38($"rk") * d38($"ck")).as("sum_rc_w"))
        val tot = conf.agg(sum($"n").as("nn"))
        tot.crossJoin(broadcast(agree)).crossJoin(broadcast(rc))
          .select($"nn".as("n"), $"n_agree",
            when(abs($"sum_rc_w") <= d38(lit(Long.MaxValue)),
              $"sum_rc_w".cast("long"))
              .otherwise(raise_error(lit(
                "q216 sum_rc exceeds BIGINT — report the wide column instead")))
              .as("sum_rc"),
            round($"n_agree".cast("double") / $"nn", 6).as("po"),
            round($"sum_rc_w".cast("double") /
              (d38($"nn") * d38($"nn")).cast("double"), 6).as("pe"),
            round((d38($"nn") * d38($"n_agree") - $"sum_rc_w").cast("double") /
              (d38($"nn") * d38($"nn") - $"sum_rc_w").cast("double"), 6)
              .as("kappa"))
      },
      Some("""WITH sc AS (SELECT lang,
          COALESCE(len(list_filter(string_split(lower(text),' '), w -> w IN ('the','a','of','and'))), 0) AS en,
          COALESCE(len(list_filter(string_split(lower(text),' '), w -> w IN ('der','die','und','das'))), 0) AS de,
          COALESCE(len(list_filter(string_split(lower(text),' '), w -> w IN ('el','la','los','y'))), 0) AS es,
          COALESCE(len(list_filter(string_split(lower(text),' '), w -> w IN ('le','les','et','dans'))), 0) AS fr
        FROM documents),
        conf AS (SELECT lang, CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
            WHEN de >= es AND de >= fr THEN 'de' WHEN es >= fr THEN 'es'
            ELSE 'fr' END AS pred, count(*) AS n
          FROM sc GROUP BY 1, 2),
        agree AS (SELECT COALESCE(CAST(sum(n) AS BIGINT), 0) AS n_agree
          FROM conf WHERE lang = pred),
        rc AS (SELECT CAST(sum(CAST(rk AS HUGEINT) * ck) AS HUGEINT) AS sum_rc_w
          FROM (SELECT lang, CAST(sum(n) AS BIGINT) AS rk FROM conf GROUP BY lang) r
          JOIN (SELECT pred, CAST(sum(n) AS BIGINT) AS ck FROM conf GROUP BY pred) c
            ON r.lang = c.pred),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM conf)
        SELECT nn AS n, n_agree, CAST(sum_rc_w AS BIGINT) AS sum_rc,
          round(CAST(n_agree AS DOUBLE) / nn, 6) AS po,
          round(CAST(sum_rc_w AS DOUBLE)
            / CAST(CAST(nn AS HUGEINT) * nn AS DOUBLE), 6) AS pe,
          round(CAST(CAST(nn AS HUGEINT) * n_agree - sum_rc_w AS DOUBLE)
            / CAST(CAST(nn AS HUGEINT) * nn - sum_rc_w AS DOUBLE), 6)
            AS kappa
        FROM tot, agree, rc"""),
      "Cohen's kappa: chance-corrected declared-vs-detected language agreement"),

    // -------------------------------------------------------- fingerprinting
    "q33_text_fingerprint" -> Q(
      (s, d) => {
        import s.implicits._
        docs(s, d).select($"doc_id", fingerprint($"text").as("fp")).orderBy($"doc_id")
      },
      Some("""SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
          string_split(lower(text), ' '))), ' ')) AS fp
        FROM documents ORDER BY doc_id"""),
      "normalization fingerprint (sorted distinct token set → md5)"),

    // ----------------------------------------------------------- exact dedup
    "q40_dedup_exact" -> Q(
      (s, d) => Dedup.exactStats(docs(s, d), "text"),
      Some("""SELECT count(*) AS n_docs,
        count(DISTINCT md5(text)) AS n_unique_exact,
        count(DISTINCT md5(array_to_string(list_sort(list_distinct(
          string_split(lower(text), ' '))), ' '))) AS n_unique_fingerprint
        FROM documents"""),
      "exact + fingerprint dedup stats in one pass"),

    // ------------------------------------------------- n-gram Jaccard pairs
    // Exact character-3-gram Jaccard over a bounded id range — the
    // ground-truth near-dup measure the LSH path approximates. Computed
    // with the sparse intersection-count join (explode → self equi-join on
    // the shingle → inclusion-exclusion), the shape that survives scale-up:
    // no array cross-join, every stage a codegen'd hash join/aggregate.
    "q41_dedup_ngram_jaccard" -> Q(
      (s, d) => {
        import s.implicits._
        Dedup.sparseJaccardPairs(docs(s, d).filter($"doc_id" < 100),
            "doc_id", charNGrams($"text", 3), threshold = 0.6)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH s AS (SELECT doc_id, CASE WHEN length(text) >= 3
          THEN list_distinct(list_transform(range(1, length(text)-1), i -> substr(text, i, 3)))
          ELSE [text] END AS sh
        FROM documents WHERE doc_id < 100)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round((len(a.sh)+len(b.sh)-len(list_distinct(list_concat(a.sh,b.sh))))::DOUBLE
            / len(list_distinct(list_concat(a.sh,b.sh))), 6) AS jaccard
        FROM s a, s b WHERE a.doc_id < b.doc_id
          AND round((len(a.sh)+len(b.sh)-len(list_distinct(list_concat(a.sh,b.sh))))::DOUBLE
            / len(list_distinct(list_concat(a.sh,b.sh))), 6) >= 0.6
        ORDER BY id_a, id_b"""),
      "exact n-gram Jaccard near-dup pairs (bounded baseline)"),

    // ------------------------------------------------ asymmetric containment
    // Broder containment C(src→dst) = |S_src ∩ S_dst|/|S_src| ≥ 1/2 over
    // word-4-gram shingles — catches a small doc living inside a large
    // one (quotes, benchmark leakage) that symmetric Jaccard dilutes
    // away. Both directions graded from ONE undirected intersection
    // count; the keep/drop compare is an integer cross-multiply. Word
    // n-grams (max df 4 on this corpus) keep the inverted-index join
    // df-bounded where unigrams (31-token vocabulary) would be dense.
    "q182_containment" -> Q(
      (s, d) => {
        import s.implicits._
        // A/B note: a words-specialized form (codegen'd shingle hashes
        // for candidates, string HOF semi-joined to candidate docs — the
        // q111 discipline) measured 4.96 s vs 3.35 s here: containment
        // at t=1/2 admits most of the corpus as candidates, so the
        // semi-join saves no HOF work while its extra stages cost; the
        // generic form's ONE checkpointed shingle table wins. Round-18:
        // that shingle table now comes from the materialized
        // TextSketch.shingleSets4 store (the interpreted shingle HOF
        // runs once at store build, not per query)
        Dedup.containmentPairsFromSets(TextSketch.shingleSets4(s, d),
            "doc_id", tNum = 1, tDen = 2,
            expectScheme = Some(Dedup.shingleSetScheme(4)))
          .orderBy($"id_src", $"id_dst")
      },
      Some("""WITH s AS (SELECT doc_id, CASE WHEN len(ws) >= 4
            THEN list_distinct(list_transform(range(1, len(ws) - 2),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))
            ELSE [array_to_string(ws, ' ')] END AS sh
          FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents)),
        t AS (SELECT doc_id, unnest(sh) AS g FROM s),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            count(*) AS n_inter
          FROM t a JOIN t b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        sized AS (SELECT id_a, id_b, n_inter, sa.n AS n_a, sb.n AS n_b
          FROM inter
          JOIN (SELECT doc_id, len(sh) AS n FROM s) sa ON sa.doc_id = id_a
          JOIN (SELECT doc_id, len(sh) AS n FROM s) sb ON sb.doc_id = id_b),
        d AS (SELECT id_a AS id_src, id_b AS id_dst, n_inter, n_a AS n_src
            FROM sized
          UNION ALL
          SELECT id_b, id_a, n_inter, n_b FROM sized)
        SELECT id_src, id_dst, n_inter, n_src,
          (n_inter * 1000000) // n_src AS cont_scaled
        FROM d WHERE n_inter * 2 >= n_src
        ORDER BY id_src, id_dst"""),
      "asymmetric containment pairs: doc-in-doc detection, df-bounded join"),

    // ------------------------------------------------------ MinHash+LSH dedup
    // Scale path: shingle → 64 minhashes → 8 bands of 8 → bucket grouping
    // → exact-Jaccard verify on candidates only. r=8 rows/band keeps the
    // candidate rate low even on this pathologically-self-similar corpus
    // (unigram Jaccard median ≈0.62); the id bound keeps the *query* fixed
    // across SFs — the operator itself is unbounded. Min-hashes are
    // lexicographic md5-hex minima, so the DuckDB oracle recomputes the
    // identical sketches and the whole pipeline is hash-verified.
    "q42_dedup_minhash_lsh" -> Q(
      (s, d) => {
        import s.implicits._
        // store-fed (round-18): signatures from the materialized
        // TextSketch.minhashSigs table (sketch at ingest — signatures
        // are per-doc, so the id-bound restriction equals a fresh
        // derivation); the exact-Jaccard verify still reads TRUE token
        // sets from the text, and the oracle re-derives the sketches
        Dedup.minhashNearDupsFromSigs(
            TextSketch.minhashSigs(s, d, "lcg").filter($"doc_id" < 1000),
            docs(s, d).filter($"doc_id" < 1000), "doc_id", "text",
            k = 64, bands = 8, threshold = 0.9, maxBucket = 100,
            expectScheme = Some(Dedup.minhashScheme("lcg", 64)))
          .orderBy($"id_a", $"id_b")
      },
      Some(minhashOracle(bound = 1000, k = 64, bands = 8,
        threshold = 0.9, maxBucket = 100, scheme = "lcg")),
      "MinHash+LSH near-dup pipeline (LCG hash family, banded, verify-on-candidates)"),

    // ------------------------------------- dedup-first composed pipeline
    // THE registered form of the composition the ×100 SCALING notes kept
    // arguing in prose: run EXACT dedup (one hash aggregate on the
    // content digest) BEFORE any pairwise stage, so k-fold-duplicated
    // corpora collapse to their distinct content before MinHash ever
    // explodes a shingle. Under ×k replication the raw q42/q116/q180/
    // q182 pair families grow by C(k,2) per duplicated doc BY DESIGN
    // (they answer "which pairs", and the true answer grows); this
    // composition answers the same question over distinct content and
    // carries each keeper's copy count, so pair_weight = copies_a ×
    // copies_b preserves the collapsed pair mass. ScalePostureSpec pins
    // the collapse functionally on a ×5-replicated corpus; the SCALING
    // x100 block measures it (the headline: near-linear where raw q116
    // ran 77×). Full corpus, no id bound — the exact stage IS the bound.
    "q205_dedup_first_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
        val keep = Dedup.exactKeepers(base, "doc_id", "text")
          .localCheckpoint() // read 3x: keeper filter + both copy joins
        val kept = base.join(
          keep.select($"keeper_id".as("doc_id")), Seq("doc_id"), "inner")
        // STAYS LIVE by measured A/B (round-18, the q271 stay-live
        // lesson on the signature store): feeding keeper signatures
        // from TextSketch.minhashSigs via a keeper semi-join measured
        // 3.98 s vs 2.89 s live (solo best-of-4 each, same window) —
        // the store semi-join adds a join stage where the live chain
        // reuses the keeper exchange, and the verify still has to read
        // kept text either way. The id-bounded consumers (q42/q95)
        // adopt the store; the dedup-first composition keeps deriving.
        Dedup.minhashNearDups(kept, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.9, maxBucket = 100,
            scheme = "lcg")
          .join(keep.select($"keeper_id".as("id_a"), $"n_copies".as("copies_a")), "id_a")
          .join(keep.select($"keeper_id".as("id_b"), $"n_copies".as("copies_b")), "id_b")
          .select($"id_a", $"id_b", $"jaccard", $"copies_a", $"copies_b",
            ($"copies_a" * $"copies_b").as("pair_weight"))
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH keep AS (SELECT md5(text) AS content_hash,
            min(doc_id) AS keeper_id, count(*) AS n_copies
          FROM documents GROUP BY 1),
        ${minhashPairsCtes("doc_id IN (SELECT keeper_id FROM keep)",
          k = 64, bands = 8, threshold = 0.9, maxBucket = 100,
          scheme = "lcg")}
        SELECT id_a, id_b, jaccard,
          ka.n_copies AS copies_a, kb.n_copies AS copies_b,
          ka.n_copies * kb.n_copies AS pair_weight
        FROM mh_pairs JOIN keep ka ON ka.keeper_id = id_a
          JOIN keep kb ON kb.keeper_id = id_b
        ORDER BY id_a, id_b"""),
      "dedup-first composition: exact hash-agg dedup, then MinHash-LSH over keepers only"),

    // -------------------------------------------- MinHash xx64 fast path
    // q42 with the md5 token digest swapped for one codegen'd xxhash64 —
    // the production hash when a single md5-per-token is too expensive.
    // This was the suite's one no-oracle entry ("DuckDB has no
    // xxhash64") until round 7: the oracle now RE-DERIVES Spark's
    // xxhash64 from the XXH64 spec in pure SQL ([[xxhash64Ctes]] —
    // wrapping 64-bit arithmetic on HUGEINT), so the full fast-path
    // pipeline hash-compares like every other entry. The q42/q95 bench
    // pair still carries the measured md5-vs-xxhash64 cost delta.
    "q95_minhash_xx64" -> Q(
      (s, d) => {
        import s.implicits._
        // store-fed like q42 — the xx64 signature store
        Dedup.minhashNearDupsFromSigs(
            TextSketch.minhashSigs(s, d, "xx64").filter($"doc_id" < 1000),
            docs(s, d).filter($"doc_id" < 1000), "doc_id", "text",
            k = 64, bands = 8, threshold = 0.9, maxBucket = 100,
            expectScheme = Some(Dedup.minhashScheme("xx64", 64)))
          .orderBy($"id_a", $"id_b")
      },
      Some(minhashOracle(bound = 1000, k = 64, bands = 8,
        threshold = 0.9, maxBucket = 100, scheme = "xx64")),
      "MinHash+LSH on the xxhash64 fast path, oracled via a SQL XXH64 re-derivation"),

    // ----------------------------------------------------------- SimHash dedup
    // 64-bit SimHash sketches (four 16-bit chunks from md5 hex digits —
    // portable, so the oracle rebuilds them), all-pairs Hamming ≤ 10 over
    // a bounded id range.
    "q43_dedup_simhash" -> Q(
      (s, d) => {
        import s.implicits._
        val sh = Dedup.simhashChunks(docs(s, d).filter($"doc_id" < 300), "doc_id", "text")
        val a = sh.select($"doc_id".as("id_a"),
          $"c0".as("a0"), $"c1".as("a1"), $"c2".as("a2"), $"c3".as("a3"))
        val b = sh.select($"doc_id".as("id_b"),
          $"c0".as("b0"), $"c1".as("b1"), $"c2".as("b2"), $"c3".as("b3"))
        a.join(b, $"id_a" < $"id_b")
          .withColumn("dist", Dedup.hammingChunks(
            Seq($"a0", $"a1", $"a2", $"a3"), Seq($"b0", $"b1", $"b2", $"b3")))
          .filter($"dist" <= 10)
          .select($"id_a", $"id_b", $"dist".cast("int").as("dist"))
          .orderBy($"id_a", $"id_b")
      },
      Some(simhashOracle(bound = 300, maxDist = 10)),
      "SimHash near-dup pairs (Hamming ≤ 10 over portable 64-bit sketches)"),

    // ------------------------------------------------- multimodal plumbing
    // Binary media columns with typed metadata: content as opaque bytes
    // (here derived from text — the container has no codecs), metadata
    // extracted relationally. The decode stub lives in
    // graft.multimodal.Multimodal; this query oracle-checks the
    // schema/bytes/digest plumbing end-to-end.
    "q44_multimodal_meta" -> Q(
      (s, d) => {
        import s.implicits._
        docs(s, d)
          .select($"doc_id", $"text".cast("binary").as("blob"))
          .select(
            $"doc_id",
            length($"blob").as("n_bytes"),
            sha2($"blob", 256).as("digest"),
            (length($"blob") % 640).as("fake_width"),
            (length($"blob") * 7 % 480).as("fake_height"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        sha256(text) AS digest,
        CAST(octet_length(encode(text)) % 640 AS INTEGER) AS fake_width,
        CAST(octet_length(encode(text)) * 7 % 480 AS INTEGER) AS fake_height
        FROM documents ORDER BY doc_id"""),
      "multimodal binary column: byte length, digest, stub decode dims"),

    // --------------------------------------------- REAL PNG decode leg
    // q44 pins the binary-column plumbing with a declared stub; this
    // query runs an ACTUAL image codec round-trip on the executors:
    // deterministic PNGs (geometry and fill color derived from doc_id,
    // pixel (0,0) channel-inverted so an echo-the-constant fake decoder
    // fails) encoded with javax.imageio, decoded back with ImageIO.read,
    // and the decoded geometry + exact per-channel pixel SUMS oracled
    // against DuckDB's closed-form re-derivation. PNG BYTES are not
    // canonical across encoder versions, so only decode-invariant
    // quantities are compared. Scale shape: mapPartitions both ways —
    // one codec context per partition, no shuffle anywhere.
    "q175_png_decode" -> Q(
      (s, d) => {
        import s.implicits._
        implicit val sp: SparkSession = s
        val base = docs(s, d).filter($"doc_id" < 300)
        val pngs = graft.multimodal.Multimodal.encodePngs(base, "doc_id")
        graft.multimodal.Multimodal.decodePngStats(pngs).toDF()
          .orderBy($"media_id")
      },
      Some("""SELECT doc_id AS media_id,
          CAST(doc_id % 13 + 4 AS INTEGER) AS width,
          CAST(doc_id % 7 + 3 AS INTEGER) AS height,
          CAST((doc_id % 256) * ((doc_id % 13 + 4) * (doc_id % 7 + 3) - 1)
            + (255 - doc_id % 256) AS BIGINT) AS sum_r,
          CAST((doc_id * 7 % 256) * ((doc_id % 13 + 4) * (doc_id % 7 + 3) - 1)
            + (255 - doc_id * 7 % 256) AS BIGINT) AS sum_g,
          CAST((doc_id * 13 % 256) * ((doc_id % 13 + 4) * (doc_id % 7 + 3) - 1)
            + (255 - doc_id * 13 % 256) AS BIGINT) AS sum_b
        FROM documents WHERE doc_id < 300 ORDER BY media_id"""),
      "real PNG codec round-trip: decoded geometry + exact pixel sums"),

    // --------------------------------------- perceptual hash (dHash)
    // The multimodal leg of the dedup family: dHash (Krawetz 2013) over
    // the variant-PNG fixture — one image per document row (so the image
    // count is data-proportional: corpus ×k ⇒ images ×k), source s =
    // doc_id/3 drawing a Knuth-mixed texture, variant p = doc_id%3
    // applying a perceptual perturbation (p=1 uniform brightness, p=2 a
    // local 3×3 edit). The Spark side runs the REAL codec round-trip
    // (ImageIO encode → decode → 9×8 nearest-neighbor gray sample in the
    // mapPartitions codec slot) then builds the hash as a pure codegen'd
    // 64-term expression tree ([[graft.multimodal.Multimodal
    // .dhashChunks]]); the oracle never touches a codec — it replays the
    // closed-form pixel arithmetic through integer CTEs, so agreement
    // proves the decode/sample/hash pipeline end-to-end (the q175
    // discipline, extended to the hash).
    "q254_dhash64" -> Q(
      (s, d) => {
        import s.implicits._
        implicit val sp: SparkSession = s
        val pngs = graft.multimodal.Multimodal.encodeVariantPngs(
          docs(s, d), "doc_id")
        val grid = graft.multimodal.Multimodal.sampleGrayGrid(pngs)
        grid.select($"media_id" +:
            graft.multimodal.Multimodal.dhashChunks($"grays"): _*)
          .orderBy($"media_id")
      },
      Some(dhashOracle + "\nSELECT media_id, c0, c1, c2, c3 FROM hash ORDER BY media_id"),
      "dHash-64 perceptual hash via real PNG codec round-trip, chunked c0..c3"),

    // ----------------------------- perceptual near-dup (Hamming-banded)
    // Near-duplicate IMAGE pairs: dHash sketches blocked by 8×8-bit
    // Hamming bands (equi-join on (band_idx, band_value) with the q42
    // stop-bucket cap — never all-pairs), candidates verified at exact
    // chunked Hamming ≤ 7. The ORACLE takes the INDEPENDENT path: exact
    // all-pairs Hamming over the closed-form hashes, no banding — the
    // hash-match therefore PROVES the 8-band pigeonhole recall guarantee
    // (d ≤ 7 < 8 bands ⇒ some band agrees exactly) plus the fact that no
    // fixture bucket overflows the cap (max bucket 57 at sf0.01, cap
    // 200; an overflow would drop a pair and fail loudly here). The
    // fixture guarantees signal: p=1 pairs sit at distance 0 (dHash's
    // brightness invariance), p=2 pairs at 1..7, cross-source mass at
    // mean ~32.
    "q255_dhash_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        // reads the materialized VERIFIED-PAIRS store (round-17: the
        // pair graph is an ingest artifact like the sketch itself —
        // MediaSketch.dhashPairs builds it once via the registered
        // banded operator at these exact parameters); the oracle's
        // closed-form pixel re-derivation keeps validating the build
        MediaSketch.dhashPairs(s, d)
          .orderBy($"id_a", $"id_b")
      },
      Some(dhashOracle + s"""
        SELECT * FROM (
          SELECT a.media_id AS id_a, b.media_id AS id_b,
            CAST(${simhashDist("a", "b")} AS INTEGER) AS dist
          FROM hash a JOIN hash b ON a.media_id < b.media_id)
        WHERE dist <= 7 ORDER BY id_a, id_b"""),
      "perceptual near-dup pairs: Hamming-banded dHash blocking vs exact-all-pairs oracle"),

    // --------------------------- perceptual dedup clusters + keepers
    // The q75 lifecycle on the IMAGE modality: dHash pairs are only
    // half a dedup pipeline — a near-dup of a near-dup is the same
    // image family even when the two ends never pair directly (the
    // brightness twin of A pairs at distance 0 while the locally-edited
    // sibling sits ≤ 7 from both), so the keeper policy runs on
    // CONNECTED COMPONENTS over the q255 pair graph via the one
    // clustering entry point ([[Dedup.cluster]] → star contraction).
    // Every image gets a cluster id (= min member id), cluster size,
    // and a keep-first keeper flag — the row a curation pipeline's
    // image leg would anti-join against. The oracle reaches the same
    // fixpoint through a recursive CTE over the closed-form exact pair
    // graph, so the whole iterative operator is hash-verified.
    // Bench note: ~4 s at sf0.1 (post-MediaSketch) is contraction-ROUND
    // overhead (each star alternation = checkpoint + signature jobs on
    // a tiny graph — the q75/q89 iterative class), NOT data volume; the
    // CC kernel's ×100 posture is q89's measured 1.33× and the pair
    // stage is q255's banding.
    "q257_dhash_clusters" -> Q(
      (s, d) => {
        import s.implicits._
        // the sketch store feeds the node list; the pair stage reads
        // the verified-pairs store (round-17 — both are per-generation
        // ingest artifacts); clustering stays the live operator
        val sketch = MediaSketch.dhash(s, d)
        val pairs = MediaSketch.dhashPairs(s, d)
        val cc = Dedup.cluster(sketch.select($"media_id"), "media_id",
          pairs.select($"id_a", $"id_b"))
        val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "cluster_id")
          .select($"id".as("media_id"), $"cluster_id", $"cluster_size",
            ($"id" === $"cluster_id").cast("int").as("is_keeper"))
          .orderBy($"media_id")
      },
      Some("WITH RECURSIVE" + dhashOracle.stripPrefix("WITH") + s""",
        pairs AS (SELECT * FROM (
            SELECT a.media_id AS id_a, b.media_id AS id_b,
              ${simhashDist("a", "b")} AS dist
            FROM hash a JOIN hash b ON a.media_id < b.media_id)
          WHERE dist <= 7),
        und AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        walk(id, lbl) AS (
          SELECT media_id, media_id FROM hash
          UNION
          SELECT u.dst, w.lbl FROM walk w JOIN und u ON u.src = w.id),
        cc AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
        sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
        SELECT cc.id AS media_id, cluster_id, cluster_size,
          CAST(cc.id = cluster_id AS INTEGER) AS is_keeper
        FROM cc JOIN sz USING (cluster_id) ORDER BY media_id"""),
      "perceptual near-dup graph -> CC clusters -> keeper per image family"),

    // ------------------------------------ audio fingerprint (real WAV)
    // The dedup family's SECOND real-codec modality: 65-frame × 24-
    // sample 16-bit PCM clips synthesized per document row, encoded
    // with the REAL javax.sound WAV codec (RIFF container) on the
    // executors, parsed back by the lock-free chunk-walking RIFF
    // parser (the platform reader serializes under executor threads —
    // Multimodal.parseWavPcm documents the A/B, and MultimodalSpec
    // pins the parser byte-for-byte against AudioSystem's reader),
    // folded to per-frame energies, and fingerprinted by the
    // adjacent-energy-comparison hash
    // ([[graft.multimodal.Multimodal.adjacentHashChunks]] — the
    // audio analogue of dHash: invariant to any linear gain, sensitive
    // to temporal structure). Variants mirror the image fixture: p=1
    // amplitude ×2 (fingerprint-invariant BY THEOREM — every energy
    // scales by exactly 4), p=2 a 3-frame burst (local edit). The
    // oracle replays sample synthesis + energies + packing through
    // integer CTEs with no codec, so the match proves the WAV
    // round-trip end-to-end (the q175/q254 discipline on audio).
    "q258_wav_fingerprint" -> Q(
      (s, d) => {
        import s.implicits._
        implicit val sp: SparkSession = s
        val wavs = graft.multimodal.Multimodal.encodeVariantWavs(
          docs(s, d), "doc_id")
        val en = graft.multimodal.Multimodal.decodeFrameEnergies(wavs)
        en.select($"media_id" +:
            graft.multimodal.Multimodal.adjacentHashChunks($"energies"): _*)
          .orderBy($"media_id")
      },
      Some(wavOracle + "\nSELECT media_id, c0, c1, c2, c3 FROM hash ORDER BY media_id"),
      "audio fingerprint via real WAV codec round-trip: frame-energy comparisons, chunked"),

    // ----------------------------- audio near-dup (Hamming-banded)
    // Near-duplicate AUDIO pairs through the SAME generic banding
    // operator as the image leg ([[Dedup.hammingBandedPairs]] — the
    // blocking stage is modality-agnostic once a 64-bit sketch exists,
    // which is the point of the chunked house shape). Oracle: exact
    // all-pairs over the closed-form fingerprints, so the hash match
    // again proves the 8-band pigeonhole recall guarantee on this
    // modality's distance distribution (gain twins at 0, bursts ≤ 3,
    // cross-source mass at mean ~32, min 5 measured).
    "q259_wav_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        implicit val sp: SparkSession = s
        val wavs = graft.multimodal.Multimodal.encodeVariantWavs(
          docs(s, d), "doc_id")
        val en = graft.multimodal.Multimodal.decodeFrameEnergies(wavs)
        val sketch = en.select($"media_id" +:
          graft.multimodal.Multimodal.adjacentHashChunks($"energies"): _*)
        Dedup.hammingBandedPairs(sketch, "media_id",
            maxDist = 7, nBands = 8, maxBucket = 200)
          .orderBy($"id_a", $"id_b")
      },
      Some(wavOracle + s"""
        SELECT * FROM (
          SELECT a.media_id AS id_a, b.media_id AS id_b,
            CAST(${simhashDist("a", "b")} AS INTEGER) AS dist
          FROM hash a JOIN hash b ON a.media_id < b.media_id)
        WHERE dist <= 7 ORDER BY id_a, id_b"""),
      "audio near-dup pairs: the generic Hamming banding on the WAV fingerprint"),

    // ------------------------------------ video near-dup (frame sets)
    // The THIRD modality, composed from proven parts the way real
    // video dedup works: frame-SAMPLE each video (every 2nd of its 8
    // synthetic frames — production fingerprints hash a SAMPLE, not
    // every frame; the explode is the Multimodal.sampleFrames fan-out
    // shape), per-frame perceptual dHash through the REAL PNG codec
    // (the q254 machinery — the codec runs once per DISTINCT frame
    // image), then video-level near-dup as JACCARD OVER FRAME-HASH
    // SETS via the token-join machinery (Dedup.sparseJaccardPairs —
    // shuffle keyed by hash token, never all-pairs). The fixture's
    // video variants demonstrate the perceptual composition: p=1 drops
    // the first frame (a temporal clip → sampled Jaccard 3/4), p=2
    // brightens frame 0 (dHash-INVARIANT by theorem → the edited
    // video's hash set is IDENTICAL, Jaccard 1 — a byte-level
    // fingerprint would call it a different video); cross-source sets
    // are disjoint. The oracle replays frame hashes closed-form and
    // reaches Jaccard through a token equi-join — the same scalable
    // shape, no codec.
    "q260_video_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        // frame-token sets from the materialized store (the MediaSketch
        // discipline on the video modality — the frame-codec pass was
        // the x100 sweep's most expensive per-query leg; PNG round-trip
        // coverage stays live via q254, and the oracle still re-derives
        // every frame hash from the closed-form pixel arithmetic)
        Dedup.sparseJaccardPairs(MediaSketch.videoTokens(s, d), "video",
            col("toks"), threshold = 0.7)
          .orderBy($"id_a", $"id_b")
      },
      Some(dhashCtes(
        """SELECT DISTINCT mid AS media_id, mid // 3 AS s, mid % 3 AS p,
              (mid // 3) % 6 + 12 AS w, (mid // 3) % 5 + 10 AS h
           FROM (SELECT doc_id AS video, doc_id % 3 AS vp, f,
                   3 * ((doc_id // 3) * 8 + f)
                     + CASE WHEN doc_id % 3 = 2 AND f = 0 THEN 1 ELSE 0 END AS mid
                 FROM documents, (SELECT unnest(generate_series(0, 6, 2)) AS f)
                 WHERE NOT (doc_id % 3 = 1 AND f = 0))""") + s""",
        vt AS (SELECT DISTINCT video,
            c0 || ':' || c1 || ':' || c2 || ':' || c3 AS tok
          FROM (SELECT doc_id AS video, doc_id % 3 AS vp, f,
                  3 * ((doc_id // 3) * 8 + f)
                    + CASE WHEN doc_id % 3 = 2 AND f = 0 THEN 1 ELSE 0 END AS mid
                FROM documents, (SELECT unnest(generate_series(0, 6, 2)) AS f)
                WHERE NOT (doc_id % 3 = 1 AND f = 0)) vf
          JOIN hash ON hash.media_id = vf.mid),
        sz AS (SELECT video, count(*) AS n FROM vt GROUP BY 1),
        inter AS (SELECT a.video AS id_a, b.video AS id_b,
            CAST(count(*) AS BIGINT) AS n_inter
          FROM vt a JOIN vt b ON a.tok = b.tok AND a.video < b.video
          GROUP BY 1, 2)
        SELECT * FROM (
          SELECT id_a, id_b,
            round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
          FROM inter JOIN sz sa ON sa.video = id_a JOIN sz sb ON sb.video = id_b)
        WHERE jaccard >= 0.7 ORDER BY id_a, id_b"""),
      "video near-dup: frame-sampled dHash sets, Jaccard via token join — clip-tolerant, brightness-invariant"),

    // -------------------- wide-band perceptual near-dup (density-proof)
    // The answer to the 8-bit band-space saturation the round-14 verdict
    // flagged: q255's 8×8-bit bands hold only 256 values per band, so a
    // 500k-sketch corpus averages ~1,953 members per bucket — nearly
    // every bucket trips the stop-cap and batch recall silently
    // collapses at density. This query registers the WIDE-BAND regime of
    // the same operator: 4×16-bit bands give 65,536 values per band
    // (×100 replica ⇒ ~7.6 avg members, two orders under the cap), so
    // the pair stage still EMITS at corpus density — SCALING.json's
    // x100 row records the measured nonzero pair count — at the cost of
    // the tighter pigeonhole guarantee d ≤ 3 (4 bands). The oracle is
    // the INDEPENDENT exact all-pairs construction at threshold 3, so
    // the hash match proves the 4-band pigeonhole (d ≤ 3 < 4 ⇒ some
    // 16-bit band agrees exactly) the way q255 proves the 8-band one.
    // On the fixture this keeps every p=1 brightness twin (distance 0
    // by theorem) and the p=2 local edits that moved ≤ 3 bits; the
    // d ∈ [4,7] tail is the declared trade for density-proof blocking
    // (recover it with a wider sketch — 256-bit dHash, 16×16-bit bands
    // — not with narrower bands).
    "q261_dhash_neardup_wide" -> Q(
      (s, d) => {
        import s.implicits._
        Dedup.hammingBandedPairs(MediaSketch.dhash(s, d), "media_id",
            maxDist = 3, nBands = 4, maxBucket = 200)
          .orderBy($"id_a", $"id_b")
      },
      Some(dhashOracle + s"""
        SELECT * FROM (
          SELECT a.media_id AS id_a, b.media_id AS id_b,
            CAST(${simhashDist("a", "b")} AS INTEGER) AS dist
          FROM hash a JOIN hash b ON a.media_id < b.media_id)
        WHERE dist <= 3 ORDER BY id_a, id_b"""),
      "density-proof perceptual near-dup: 4x16-bit Hamming bands (d<=3) whose buckets stay sparse at 500k sketches"),

    // ----------------------- query-by-image top-k (brute-force exact)
    // Multimodal similarity SEARCH over the MediaSketch store — the
    // ANN ladder (q47/q87/q93) replayed on the Hamming metric: for each
    // query image (media_id < 24 — top-k search is a small-|Q| contract,
    // the q87 discipline), the k = 5 nearest corpus images by exact
    // chunked-Hamming distance, ties broken deterministically by
    // (dist, cand_id). Queries broadcast, so the plan is ONE narrow
    // corpus pass (BroadcastNestedLoopJoin with a 24-row build side —
    // the exactness baseline; q263 is the pruned scale path). Oracle:
    // exact all-pairs top-k in DuckDB over the closed-form hashes.
    "q262_hamming_knn" -> Q(
      (s, d) => {
        import s.implicits._
        val sketch = MediaSketch.dhash(s, d)
        graft.operators.Similarity.hammingTopK(
            sketch.filter($"media_id" < 24), sketch, "media_id", k = 5)
          .orderBy($"query_id", $"rank")
      },
      Some(dhashOracle + """
        SELECT * FROM (
          SELECT q.media_id AS query_id,
            CAST(row_number() OVER (PARTITION BY q.media_id
              ORDER BY bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1))
                + bit_count(xor(q.c2, c.c2)) + bit_count(xor(q.c3, c.c3)),
                c.media_id) AS INTEGER) AS rank,
            c.media_id AS cand_id,
            CAST(bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1))
              + bit_count(xor(q.c2, c.c2)) + bit_count(xor(q.c3, c.c3)) AS INTEGER) AS dist
          FROM hash q JOIN hash c ON q.media_id < 24 AND c.media_id <> q.media_id)
        WHERE rank <= 5 ORDER BY query_id, rank"""),
      "query-by-image: brute-force Hamming top-k over the sketch store, one broadcast corpus pass"),

    // ------------------ query-by-image k-NN, banded (the scale path)
    // The same search through 4×16-bit band blocking: candidates come
    // from the (band_idx, band_value) equi-join between the broadcast
    // query band table and the corpus band table, verified at exact
    // Hamming ≤ radius 3, ranked (dist, cand_id). Radius < nBands makes
    // within-radius recall EXACT by pigeonhole, so the oracle is the
    // brute-force all-pairs top-k RESTRICTED to dist ≤ 3 — the banded
    // plan must reproduce it hash-for-hash (the q93 multiprobe
    // discipline on the Hamming metric). No stop-bucket cap is needed:
    // each corpus band row meets ≤ |Q| broadcast query rows, so cost is
    // |Q|-linear in the corpus — and the 16-bit band space keeps
    // buckets sparse at the ×100 density where 8-bit bands saturate.
    "q263_hamming_knn_banded" -> Q(
      (s, d) => {
        import s.implicits._
        val sketch = MediaSketch.dhash(s, d)
        graft.operators.Similarity.hammingTopKBanded(
            sketch.filter($"media_id" < 24), sketch, "media_id",
            k = 5, radius = 3, nBands = 4)
          .orderBy($"query_id", $"rank")
      },
      Some(dhashOracle + """
        SELECT * FROM (
          SELECT q.media_id AS query_id,
            CAST(row_number() OVER (PARTITION BY q.media_id
              ORDER BY bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1))
                + bit_count(xor(q.c2, c.c2)) + bit_count(xor(q.c3, c.c3)),
                c.media_id) AS INTEGER) AS rank,
            c.media_id AS cand_id,
            CAST(bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1))
              + bit_count(xor(q.c2, c.c2)) + bit_count(xor(q.c3, c.c3)) AS INTEGER) AS dist
          FROM hash q JOIN hash c ON q.media_id < 24 AND c.media_id <> q.media_id)
        WHERE rank <= 5 AND dist <= 3 ORDER BY query_id, rank"""),
      "query-by-image scale path: banded Hamming k-NN within radius 3, pigeonhole-exact recall"),

    // ---------------------------- spectral audio fingerprint (real WAV)
    // The frequency-domain upgrade of q258 (round-14 verdict #5): the
    // energy fingerprint is gain-invariant but BLIND to any energy-
    // preserving edit — Parseval makes a within-frame sample permutation
    // invisible to Σx². This fingerprint reads per-frame band POWERS at
    // the two exactly-integer DFT bins of a 24-sample frame (k=6 quarter
    // wave, k=12 Nyquist — the only nontrivial bins whose coefficients
    // are exact integers, so the whole pipeline stays replayable without
    // a float) through the REAL WAV codec round-trip. The fixture's p=2
    // variant sorts each frame's samples: the energy hash calls it a
    // DUPLICATE at distance 0 while this hash separates it at measured
    // distance 28–41 (MultimodalSpec pins the discrimination); p=1 gain
    // ×2 stays invariant for both BY THEOREM (every DFT coefficient
    // scales ×2, every power ×4). Oracle: integer CTEs replaying PCM →
    // quarter-wave powers → packing, the sorted frame reproduced via
    // rank (no list sort needed — the projection only uses positions).
    "q264_spectral_fingerprint" -> Q(
      (s, d) => {
        import s.implicits._
        implicit val sp: SparkSession = s
        val wavs = graft.multimodal.Multimodal.encodeSpectralWavs(
          docs(s, d), "doc_id")
        val spec = graft.multimodal.Multimodal.decodeFrameSpectra(wavs)
        spec.select($"media_id" +:
            graft.multimodal.Multimodal.spectralHashChunks($"p6", $"p12"): _*)
          .orderBy($"media_id")
      },
      Some(spectralOracle + "\nSELECT media_id, c0, c1, c2, c3 FROM hash ORDER BY media_id"),
      "spectral audio fingerprint: integer quarter-wave band powers via real WAV round-trip"),

    // ------------------------- spectral near-dup (the discrimination)
    // Near-dup pairs over the SPECTRAL sketch in the round-15 wide-band
    // posture (4×16-bit bands, d ≤ 3 — density-proof like q261): gain
    // twins pair at distance 0; the sorted-frame variant does NOT pair
    // (spectral distance ~30) even though the ENERGY fingerprint puts
    // it at distance 0 — running q258's hash here would wrongly merge
    // spectrally different content, which is precisely the upgrade this
    // query registers. Oracle: exact all-pairs at threshold 3 over the
    // closed-form spectral hashes.
    "q265_spectral_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        // sketch from the materialized store (the q255 MediaSketch
        // discipline on the audio modality): hash at ingest, N
        // analyses — the live codec round-trip stays q264's job
        Dedup.hammingBandedPairs(MediaSketch.spectral(s, d), "media_id",
            maxDist = 3, nBands = 4, maxBucket = 200)
          .orderBy($"id_a", $"id_b")
      },
      Some(spectralOracle + s"""
        SELECT * FROM (
          SELECT a.media_id AS id_a, b.media_id AS id_b,
            CAST(${simhashDist("a", "b")} AS INTEGER) AS dist
          FROM hash a JOIN hash b ON a.media_id < b.media_id)
        WHERE dist <= 3 ORDER BY id_a, id_b"""),
      "spectral near-dup: separates energy-identical spectral edits, keeps gain twins"),

    // ------------------------- 256-bit dHash near-dup (wide SKETCH)
    // The wider-sketch upgrade both saturation docs pointed at — and
    // the completion of the density story: q255's 8-bit bands saturate
    // at 500k sketches; q261's 16-bit bands stay sparse but surrender
    // recall to d ≤ 3; a 256-BIT dHash (17×16 sample grid over the
    // 20×18 wide fixture) gives SIXTEEN 16-bit bands that are
    // simultaneously sparse at density AND pigeonhole-guaranteed to
    // d ≤ 15 — strictly MORE recall range than the 8-band regime ever
    // had (the fixture's p=2 edits land at 4..8 on this hash: inside
    // d ≤ 15, outside q261's d ≤ 3 — the recovered band). Pairs from
    // the materialized verified-pairs store (built once per generation
    // by the generalized chunk-banding operator at exactly these
    // parameters); oracle = exact all-pairs at threshold 15 over the
    // closed-form 256-bit hashes, so the match proves the 16-chunk
    // pigeonhole — and the store build — end to end.
    "q266_dhash256_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        // the verified-pairs store at the full d <= 15 band (round-17;
        // build = the registered 16-band operator at these parameters,
        // oracle = exact all-pairs from closed-form pixels)
        MediaSketch.dhash256Pairs(s, d)
          .orderBy($"id_a", $"id_b")
      },
      Some(dhash256Oracle + s"""
        SELECT * FROM (
          SELECT a.media_id AS id_a, b.media_id AS id_b,
            CAST(${dhash256Dist("a", "b")} AS INTEGER) AS dist
          FROM hash a JOIN hash b ON a.media_id < b.media_id)
        WHERE dist <= 15 ORDER BY id_a, id_b"""),
      "256-bit dHash near-dup: 16x16-bit bands — sparse at density AND d<=15 recall, the full upgrade"),

    // ------- grouped-band near-dup on the 256-bit sketch (round-16):
    // q281's radius ↔ sparsity dial on the PAIR side, where it matters
    // MORE — a crowded pair bucket is stop-DROPPED (recall lost), not
    // merely slow, so squaring each band's value space (2 chunks/band
    // → 32-bit values) is how the pair stage stays under the cap at
    // corpus densities where sixteen 16-bit bands crowd. The price is
    // the per-GROUP pigeonhole: d ≤ 7 over 8 bands — still covering
    // the fixture's gain twins (d = 0) and most p=2 edits (4..8; the
    // handful at exactly 8 fall outside BOTH engine and oracle, so
    // the hash compare pins the boundary). Oracle: exact all-pairs at
    // threshold 7 over the closed-form 256-bit hashes. Stays LIVE (not
    // a dhash256Pairs store filter) on purpose: its ×100 evidence is
    // that grouped bands stay under the stop-cap where the store
    // build's 16-bit bands drop buckets — a store filter would inherit
    // those drops and fake the recall claim (the q271/q274 lesson).
    "q283_dhash256_neardup_grouped" -> Q(
      (s, d) => {
        import s.implicits._
        Dedup.hammingBandedPairsChunks(MediaSketch.dhash256(s, d),
            "media_id", maxDist = 7, nChunks = 16, maxBucket = 200,
            chunksPerBand = 2)
          .orderBy($"id_a", $"id_b")
      },
      Some(dhash256Oracle + s"""
        SELECT * FROM (
          SELECT a.media_id AS id_a, b.media_id AS id_b,
            CAST(${dhash256Dist("a", "b")} AS INTEGER) AS dist
          FROM hash a JOIN hash b ON a.media_id < b.media_id)
        WHERE dist <= 7 ORDER BY id_a, id_b"""),
      "grouped-band 256-bit near-dup: 8x32-bit bands keep pair buckets under the stop-cap at density"),

    // ---------------- query-by-image k-NN on the 256-bit sketch (wide)
    // The q263 search ladder carried onto the wide sketch: banded
    // radius-15 k-NN over the dhash256 store — each 16-bit chunk is one
    // band (the q266 discipline), so within-radius recall is EXACT by
    // pigeonhole across the FULL perceptual band (d ≤ 15), where the
    // 64-bit search had to choose radius 3. Same plan shape: broadcast
    // query bands, corpus band equi-join, exact 16-chunk verify,
    // deterministic (dist, cand_id) top-k. Oracle: 256-bit all-pairs
    // top-k restricted to d ≤ 15 (ranking by (dist, id) commutes with
    // the radius filter, as in q263).
    "q267_hamming_knn_wide" -> Q(
      (s, d) => {
        import s.implicits._
        val sketch = MediaSketch.dhash256(s, d)
        graft.operators.Similarity.hammingTopKBanded(
            sketch.filter($"media_id" < 24), sketch, "media_id",
            k = 5, radius = 15, nBands = 16, nChunks = 16)
          .orderBy($"query_id", $"rank")
      },
      Some(dhash256Oracle + s"""
        SELECT * FROM (
          SELECT q.media_id AS query_id,
            CAST(row_number() OVER (PARTITION BY q.media_id
              ORDER BY ${dhash256Dist("q", "c")}, c.media_id) AS INTEGER) AS rank,
            c.media_id AS cand_id,
            CAST(${dhash256Dist("q", "c")} AS INTEGER) AS dist
          FROM hash q JOIN hash c ON q.media_id < 24 AND c.media_id <> q.media_id)
        WHERE rank <= 5 AND dist <= 15 ORDER BY query_id, rank"""),
      "query-by-image on the 256-bit sketch: banded k-NN with d<=15 pigeonhole-exact recall"),

    // ------- grouped-band k-NN on the 256-bit sketch (round-16): the
    // radius ↔ sparsity dial the 1:1 chunk-banding rule was missing —
    // the SAME 256-bit store banded as 8 bands of 2 chunks (32-bit
    // band values), radius ≤ 7. Each band's value space SQUARES
    // (2^16 → 2^32), so buckets stay sparse at corpus densities where
    // sixteen 16-bit bands crowd, and the per-query join fan-out
    // halves (8 band rows per sketch, not 16) — the price is recall
    // range (d ≤ 7, still covering the fixture's 4..8-distance edits
    // except the handful at 8, which the oracle's radius filter
    // excludes identically). Pigeonhole per GROUP: d ≤ 7 < 8 bands
    // forces some 2-chunk group to agree entirely — recall within the
    // radius stays a theorem, which the brute-force-derived oracle
    // checks end to end.
    "q281_hamming_knn_grouped" -> Q(
      (s, d) => {
        import s.implicits._
        val sketch = MediaSketch.dhash256(s, d)
        graft.operators.Similarity.hammingTopKBanded(
            sketch.filter($"media_id" < 24), sketch, "media_id",
            k = 5, radius = 7, nBands = 8, nChunks = 16)
          .orderBy($"query_id", $"rank")
      },
      Some(dhash256Oracle + s"""
        SELECT * FROM (
          SELECT q.media_id AS query_id,
            CAST(row_number() OVER (PARTITION BY q.media_id
              ORDER BY ${dhash256Dist("q", "c")}, c.media_id) AS INTEGER) AS rank,
            c.media_id AS cand_id,
            CAST(${dhash256Dist("q", "c")} AS INTEGER) AS dist
          FROM hash q JOIN hash c ON q.media_id < 24 AND c.media_id <> q.media_id)
        WHERE rank <= 5 AND dist <= 7 ORDER BY query_id, rank"""),
      "grouped-band k-NN: 8x32-bit bands over the 256-bit sketch — sparser buckets, d<=7 exact recall"),

    // --------------------------- query-by-audio k-NN (spectral sketch)
    // The similarity-search mandate completed on the AUDIO modality:
    // the q263 banded Hamming k-NN ladder over the spectral fingerprint
    // store ([[MediaSketch.spectral]]) — for each query clip
    // (media_id < 24), the k = 5 nearest corpus clips at exact
    // chunked-Hamming distance ≤ 3 through the 4×16-bit band blocking,
    // ties broken (dist, cand_id). Pigeonhole makes within-radius
    // recall EXACT, so the oracle is the brute-force all-pairs top-k
    // over the closed-form integer spectra restricted to d ≤ 3 — gain
    // twins surface at distance 0 (by the ×2 theorem), sorted-frame
    // spectral edits do NOT (distance ~30), which is exactly what an
    // audio search should return and an energy-hash search would get
    // wrong. Plan shape = q263's: broadcast query bands, corpus band
    // equi-join, exact verify, |Q|-linear in the corpus.
    "q268_spectral_knn" -> Q(
      (s, d) => {
        import s.implicits._
        val sketch = MediaSketch.spectral(s, d)
        graft.operators.Similarity.hammingTopKBanded(
            sketch.filter($"media_id" < 24), sketch, "media_id",
            k = 5, radius = 3, nBands = 4)
          .orderBy($"query_id", $"rank")
      },
      Some(spectralOracle + """
        SELECT * FROM (
          SELECT q.media_id AS query_id,
            CAST(row_number() OVER (PARTITION BY q.media_id
              ORDER BY bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1))
                + bit_count(xor(q.c2, c.c2)) + bit_count(xor(q.c3, c.c3)),
                c.media_id) AS INTEGER) AS rank,
            c.media_id AS cand_id,
            CAST(bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1))
              + bit_count(xor(q.c2, c.c2)) + bit_count(xor(q.c3, c.c3)) AS INTEGER) AS dist
          FROM hash q JOIN hash c ON q.media_id < 24 AND c.media_id <> q.media_id)
        WHERE rank <= 5 AND dist <= 3 ORDER BY query_id, rank"""),
      "query-by-audio: banded Hamming k-NN over the spectral sketch store, d<=3 pigeonhole-exact"),

    // ------------------------------- winnowing fingerprints (MOSS)
    // Schleimer, Wilkerson & Aiken SIGMOD 2003: hash every 4-token
    // gram, select the minimum hash (rightmost on ties) of every
    // window of 4 consecutive gram hashes, keep distinct selections.
    // Position-ROBUST document fingerprinting — a one-token insertion
    // shifts every later gram, which kills fixed-stride sampling
    // (q124's documented alignment sensitivity) but changes only O(w)
    // winnowing selections near the edit; any shared run of ≥ k+w−1
    // tokens is GUARANTEED a shared fingerprint. The min-with-
    // rightmost-tie-break selection rides one windowed `array_min`
    // via the key packing (hash·2²¹ + 2²¹−1−pos, keys < 2⁵³ — exact
    // in both engines); the whole selection is narrow codegen'd HOFs,
    // zero shuffles. Oracle replays gram → md5 → packing → window
    // minima in DuckDB list functions digit-for-digit.
    "q269_winnow_fingerprints" -> Q(
      (s, d) => {
        import s.implicits._
        // the materialized store (TextSketch — winnow at ingest, the
        // MediaSketch discipline on text); the oracle re-derives every
        // fingerprint from the md5 closed form, validating the build
        TextSketch.winnowFps(s, d)
          .orderBy($"doc_id", $"pos")
      },
      Some("""WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents),
        ks AS (SELECT doc_id, list_transform(range(0, len(ws) - 3), i ->
            CAST('0x' || substr(md5(array_to_string(ws[i+1:i+4], ' ')), 1, 8) AS BIGINT)
              * 2097152 + (2097151 - i)) AS ks
          FROM ws WHERE len(ws) >= 4),
        sel AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(0, greatest(len(ks) - 4, 0) + 1),
            j -> list_min(ks[j+1:least(j+4, len(ks))])))) AS key
          FROM ks)
        SELECT doc_id, key >> 21 AS fp,
          CAST(2097151 - (key & 2097151) AS INTEGER) AS pos
        FROM sel ORDER BY doc_id, pos"""),
      "winnowing fingerprint selection (MOSS): windowed-min gram hashes, position-robust"),

    // -------------------------- winnow-overlap near-dup pairs
    // The consumer that makes winnowing a dedup operator: documents
    // sharing >= 3 distinct fingerprint HASHES pair, through the
    // inverted fingerprint index (equi-join on fp, group-count) —
    // never all-pairs. Fingerprints in > 50 docs are stop-dropped
    // before the join (the stop-gram twin of the LSH stop-bucket cap),
    // so pair cost is sum C(df,2) over surviving fingerprints —
    // df-bounded postings, the shape that survives 100 TB (measured
    // max df on this corpus is 6, so the cap is slack here). At the
    // ×100 replica every fp's df multiplies by the replication factor
    // and crosses the cap — the stop-gram filter then drops ALL
    // recall, exactly the saturation regime the duplication docs
    // describe; q271 is the registered dedup-first answer, measured
    // side by side in SCALING. Oracle: identical postings construction
    // over the closed-form fingerprints.
    "q270_winnow_neardup" -> Q(
      (s, d) => {
        import s.implicits._
        // postings from the materialized fingerprint store (round-16:
        // winnow at ingest, pair at analysis — the TextSketch face);
        // expectScheme refuses a store built under a different (k, w)
        Dedup.winnowPairsFromFps(
            TextSketch.winnowFps(s, d).select($"doc_id", $"fp"),
            "doc_id", minShared = 3, maxDf = 50,
            expectScheme = Some(Dedup.winnowScheme(4, 4)))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents),
        ks AS (SELECT doc_id, list_transform(range(0, len(ws) - 3), i ->
            CAST('0x' || substr(md5(array_to_string(ws[i+1:i+4], ' ')), 1, 8) AS BIGINT)
              * 2097152 + (2097151 - i)) AS ks
          FROM ws WHERE len(ws) >= 4),
        sel AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(0, greatest(len(ks) - 4, 0) + 1),
            j -> list_min(ks[j+1:least(j+4, len(ks))])))) AS key
          FROM ks),
        fps AS (SELECT DISTINCT doc_id, key >> 21 AS fp FROM sel),
        keep AS (SELECT fp FROM fps GROUP BY fp
          HAVING count(*) BETWEEN 2 AND 50),
        posts AS (SELECT doc_id, fp FROM fps WHERE fp IN (SELECT fp FROM keep))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM posts a JOIN posts b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 3
        ORDER BY id_a, id_b"""),
      "winnow-overlap near-dup: >=3 shared winnowed fingerprints via df-capped postings join"),

    // ---------------- dedup-first winnowing (the density answer)
    // The q205 composition discipline applied to winnowing: exact
    // hash-agg dedup FIRST (one content-hash aggregate collapses every
    // exact replica to its min-id keeper), THEN winnow-overlap pairs
    // over keepers only, with each pair carrying the collapsed copy
    // counts. This is the registered answer to q270's ×100 saturation:
    // replication drives every fingerprint's df past the stop-gram cap
    // in the naive path (all recall dropped), while here the exact
    // stage absorbs the duplication BEFORE any posting materializes —
    // keeper dfs equal the base corpus dfs, so the pair stage emits
    // the SAME near-dup structure at any replication factor. Both
    // paths are measured side by side in SCALING.
    "q271_winnow_dedup_first" -> Q(
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
        val keep = Dedup.exactKeepers(base, "doc_id", "text")
          .localCheckpoint() // read 3x: keeper filter + both copy joins
        val kept = base.join(
          keep.select($"keeper_id".as("doc_id")), Seq("doc_id"), "inner")
        // deliberately NOT store-fed (unlike q269/q270): the
        // composition's point is that the expensive derivation runs
        // over KEEPERS ONLY — at replication density keepers are a
        // sliver of the corpus and the live keeper derivation beats
        // any full-corpus store scan (measured at x100: the store-fed
        // variant semi-joins 9.9M stored fps where this derives ~100k)
        Dedup.winnowedNearDupPairs(kept, "doc_id", $"text",
            k = 4, w = 4, minShared = 3, maxDf = 50)
          .join(keep.select($"keeper_id".as("id_a"), $"n_copies".as("copies_a")), "id_a")
          .join(keep.select($"keeper_id".as("id_b"), $"n_copies".as("copies_b")), "id_b")
          .select($"id_a", $"id_b", $"shared", $"copies_a", $"copies_b")
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH keep AS (SELECT md5(text) AS content_hash,
            min(doc_id) AS keeper_id, count(*) AS n_copies
          FROM documents GROUP BY 1),
        ws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents WHERE doc_id IN (SELECT keeper_id FROM keep)),
        ks AS (SELECT doc_id, list_transform(range(0, len(ws) - 3), i ->
            CAST('0x' || substr(md5(array_to_string(ws[i+1:i+4], ' ')), 1, 8) AS BIGINT)
              * 2097152 + (2097151 - i)) AS ks
          FROM ws WHERE len(ws) >= 4),
        sel AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(0, greatest(len(ks) - 4, 0) + 1),
            j -> list_min(ks[j+1:least(j+4, len(ks))])))) AS key
          FROM ks),
        fps AS (SELECT DISTINCT doc_id, key >> 21 AS fp FROM sel),
        kf AS (SELECT fp FROM fps GROUP BY fp
          HAVING count(*) BETWEEN 2 AND 50),
        posts AS (SELECT doc_id, fp FROM fps WHERE fp IN (SELECT fp FROM kf)),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
          FROM posts a JOIN posts b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT id_a, id_b, shared,
          ka.n_copies AS copies_a, kb.n_copies AS copies_b
        FROM pairs JOIN keep ka ON ka.keeper_id = id_a
          JOIN keep kb ON kb.keeper_id = id_b
        ORDER BY id_a, id_b"""),
      "dedup-first winnowing: exact keepers, then winnow-overlap pairs — recall survives replication"),

    // ------------------------ query-by-video top-k (token Jaccard)
    // The search mandate completed across ALL THREE modalities
    // (image q262/q263/q267, audio q268, video here): for each query
    // video (video < 24), the k = 3 most similar corpus videos by
    // exact frame-token-set Jaccard — candidates from the inverted
    // frame-hash token join (a video sharing ZERO frames is
    // unreachable, which is what a search index returns), scored by
    // inclusion–exclusion, ranked (jaccard desc, cand_id asc) on the
    // 6-dp-rounded score so rank order is engine-independent. Token
    // sets from the materialized video store; the oracle re-derives
    // every frame hash closed-form and replays the same top-k. The
    // fixture's families surface exactly as a video search should:
    // the clip variant at 3/4, the brightness variant at 1.0.
    "q272_video_knn" -> Q(
      (s, d) => {
        import s.implicits._
        val toks = MediaSketch.videoTokens(s, d)
        graft.operators.Similarity.jaccardTopK(
            toks.filter($"video" < 24), toks, "video", "toks", k = 3)
          .orderBy($"query_id", $"rank")
      },
      Some(dhashCtes(
        """SELECT DISTINCT mid AS media_id, mid // 3 AS s, mid % 3 AS p,
              (mid // 3) % 6 + 12 AS w, (mid // 3) % 5 + 10 AS h
           FROM (SELECT doc_id AS video, doc_id % 3 AS vp, f,
                   3 * ((doc_id // 3) * 8 + f)
                     + CASE WHEN doc_id % 3 = 2 AND f = 0 THEN 1 ELSE 0 END AS mid
                 FROM documents, (SELECT unnest(generate_series(0, 6, 2)) AS f)
                 WHERE NOT (doc_id % 3 = 1 AND f = 0))""") + s""",
        vt AS (SELECT DISTINCT video,
            c0 || ':' || c1 || ':' || c2 || ':' || c3 AS tok
          FROM (SELECT doc_id AS video, doc_id % 3 AS vp, f,
                  3 * ((doc_id // 3) * 8 + f)
                    + CASE WHEN doc_id % 3 = 2 AND f = 0 THEN 1 ELSE 0 END AS mid
                FROM documents, (SELECT unnest(generate_series(0, 6, 2)) AS f)
                WHERE NOT (doc_id % 3 = 1 AND f = 0)) vf
          JOIN hash ON hash.media_id = vf.mid),
        sz AS (SELECT video, count(*) AS n FROM vt GROUP BY 1),
        inter AS (SELECT q.video AS query_id, c.video AS cand_id,
            CAST(count(*) AS BIGINT) AS n_inter
          FROM vt q JOIN vt c ON q.tok = c.tok
            AND q.video < 24 AND c.video <> q.video
          GROUP BY 1, 2)
        SELECT * FROM (
          SELECT query_id,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY round(CAST(n_inter AS DOUBLE) / (sq.n + sc.n - n_inter), 6) DESC,
                cand_id) AS INTEGER) AS rank,
            cand_id,
            round(CAST(n_inter AS DOUBLE) / (sq.n + sc.n - n_inter), 6) AS jaccard
          FROM inter JOIN sz sq ON sq.video = query_id
            JOIN sz sc ON sc.video = cand_id)
        WHERE rank <= 3 ORDER BY query_id, rank"""),
      "query-by-video: frame-token Jaccard top-k via the inverted frame-hash join"),

    // ------------------------------------ exact substring DEDUP (Lee'22)
    // q124 PROFILES substring duplication; this is the transformation
    // the paper actually ships — excise every non-first occurrence of
    // any duplicated 40-char window (stride 1 = the exact construction:
    // every duplicated span >= 40 chars is caught under arbitrary
    // alignment), merge overlapping/adjacent removed windows per doc,
    // rebuild the cleaned text with an interval-fold. clean_md5 pins the
    // reconstructed TEXT cross-engine — the oracle rebuilds it through
    // gaps-and-islands + ordered string_agg where the engine folds a
    // sorted interval array; identical chars or the hashes differ. One
    // row per input doc, untouched docs included (n_spans_removed = 0).
    "q273_substring_dedup" -> Q(
      (s, d) => Dedup.substringDedup(docs(s, d), "doc_id", "text",
          width = 40,
          // window stream from the materialized store (round-16
          // TextSketch — the rows the ingest scrubber persists, built
          // once; the oracle re-derives every window md5 from text)
          wins = Some(TextSketch.substringWh(s, d)))
        .orderBy(col("doc_id")),
      Some(substringDedupOracle("documents")),
      "exact substring dedup (Lee et al. ACL'22): excise non-first duplicated windows, rebuild text"),

    // ---------------- dedup-first substring dedup (the q205 discipline)
    // The composition for exact-copy-heavy corpora: exact hash-agg
    // keepers FIRST (one content-hash aggregate), THEN the window
    // stream is built over keepers only — under xN replication the
    // stride-1 window stream (the dominant cost, corpus-byte-
    // proportional) collapses back to base size before any md5 runs.
    // Unlike q270's df-capped postings, q273 loses NO recall at density
    // (count+min aggregates have no cap to saturate) — so here the
    // composition buys COST, not recall, and the keeper output equals
    // the base-corpus result modulo copy counts; both paths measured
    // side by side in SCALING's x100 block.
    "q274_substring_dedup_first" -> Q(
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
        val keep = Dedup.exactKeepers(base, "doc_id", "text")
          .localCheckpoint() // read twice: keeper filter + copy-count join
        val kept = base.join(
          keep.select($"keeper_id".as("doc_id")), Seq("doc_id"), "inner")
        // deliberately NOT store-fed (unlike q273/q282): the
        // dedup-first claim IS that the stride-1 stream collapses to
        // keeper size BEFORE it is built — at replication density the
        // live keeper derivation (~2.2M windows) beats semi-joining
        // the 149M-row full-corpus store (measured at x100: 1.3 s live
        // vs 6.0 s store-fed), and the 0.37x density datum is the
        // composition's own derivation, not a store read
        Dedup.substringDedup(kept, "doc_id", "text", width = 40)
          .join(keep.select($"keeper_id".as("doc_id"), $"n_copies"), "doc_id")
          .orderBy($"doc_id")
      },
      Some(substringDedupOracle(
        """(SELECT d.* FROM documents d JOIN (SELECT min(doc_id) AS keeper_id,
             count(*) AS n_copies FROM documents GROUP BY md5(text)) k
           ON d.doc_id = k.keeper_id)""",
        extraSelect = ", k2.n_copies",
        extraJoin = """JOIN (SELECT min(doc_id) AS keeper_id,
            CAST(count(*) AS BIGINT) AS n_copies FROM documents
            GROUP BY md5(text)) k2 ON k2.keeper_id = b.doc_id""")),
      "dedup-first substring dedup: exact keepers collapse the window stream before any md5 runs"),

    // ------------- substring dedup, rolling-hash engine (q273's twin)
    // The production-shaped plan for the same contract: window hashes
    // from ONE codegen'd O(n) rolling pass per doc (RollingWindowHash,
    // 8-byte keys through the wh shuffle) instead of an md5 digest per
    // window (O(n·40) + 32-char hex keys), plus an exact substring
    // verify over candidate rows only — a 61-bit collision can cost a
    // verify row, never a wrong excision. Output is DEFINED identical
    // to q273, so the oracle is the SAME substring-grouped SQL: the
    // hash-compare proves the rolling+verify path reproduces the md5
    // path's excision byte-for-byte (and the spec pins frame equality
    // on the adversarial fixtures). The q42-vs-q95 convention: one
    // portable-hash formulation, one production-hash formulation,
    // both oracled.
    "q275_substring_dedup_rolling" -> Q(
      (s, d) => Dedup.substringDedupRolling(docs(s, d), "doc_id", "text",
          width = 40)
        .orderBy(col("doc_id")),
      Some(substringDedupOracle("documents")),
      "substring dedup via codegen'd rolling window hash + exact-substring verify"),

    // -------- dedup-first ROLLING substring dedup (q274 × q275, r16)
    // q274 composes exact keepers with the md5 engine only — but the
    // engine you'd actually run at 100 TB is the rolling one, so the
    // PRODUCTION composition gets its own registered density answer:
    // exact hash-agg keepers first (the window stream — still the
    // dominant cost even at O(n) hashing — collapses to base size
    // under any replication BEFORE the rolling pass runs), then
    // q275's O(n) codegen'd engine over keepers only. Output is
    // DEFINED identical to q274's (the rolling+verify path reproduces
    // the md5 path's excision byte-for-byte), so the oracle is q274's
    // same keeper-composed SQL — the hash compare pins the whole
    // composed plan, keepers and engine together.
    "q280_substring_rolling_first" -> Q(
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
        val keep = Dedup.exactKeepers(base, "doc_id", "text")
          .localCheckpoint() // read twice: keeper filter + copy-count join
        val kept = base.join(
          keep.select($"keeper_id".as("doc_id")), Seq("doc_id"), "inner")
        Dedup.substringDedupRolling(kept, "doc_id", "text", width = 40)
          .join(keep.select($"keeper_id".as("doc_id"), $"n_copies"), "doc_id")
          .orderBy($"doc_id")
      },
      Some(substringDedupOracle(
        """(SELECT d.* FROM documents d JOIN (SELECT min(doc_id) AS keeper_id,
             count(*) AS n_copies FROM documents GROUP BY md5(text)) k
           ON d.doc_id = k.keeper_id)""",
        extraSelect = ", k2.n_copies",
        extraJoin = """JOIN (SELECT min(doc_id) AS keeper_id,
            CAST(count(*) AS BIGINT) AS n_copies FROM documents
            GROUP BY md5(text)) k2 ON k2.keeper_id = b.doc_id""")),
      "dedup-first ROLLING substring dedup: exact keepers collapse the window stream, then the O(n) production engine"),

    // ---------------- substring DECONTAMINATION (round-16): the q273
    // excision machinery pointed at BENCHMARK overlap — the span-level
    // form of q82's doc-level gate. q82 DROPS a doc past 50% 8-gram
    // overlap; this TRANSFORMS it: every span whose 40-char window
    // occurs anywhere in the bench set (doc_id < 50, the house
    // convention) is excised from every corpus doc — ALL occurrences,
    // no first-keeper (training data may not retain benchmark text at
    // all), so a long doc quoting one benchmark paragraph keeps its
    // other content instead of dying whole. Scale posture is strictly
    // CHEAPER than the dedup twin: the bench window set is
    // benchmark-sized by contract, so it broadcasts and the
    // corpus-byte-proportional window stream never shuffles (plan-
    // pinned: no Exchange on the wins side). Oracle: bench window
    // hashes as an IN-set over the same stride-1 windows, then the
    // shared gaps-and-islands rebuild — clean_md5 pins every byte.
    "q282_substring_decontaminate" -> Q(
      (s, d) => {
        import s.implicits._
        val all = docs(s, d)
        // corpus and bench window streams are row-subsets of the ONE
        // materialized window table (round-16 TextSketch)
        val wh = TextSketch.substringWh(s, d)
        Dedup.substringDecontaminate(all.filter($"doc_id" >= 50),
            all.filter($"doc_id" < 50), "doc_id", "text", width = 40,
            docsWins = Some(wh.filter($"doc_id" >= 50)),
            benchWins = Some(wh.filter($"doc_id" < 50)))
          .orderBy($"doc_id")
      },
      Some("""WITH base AS (SELECT doc_id, text, length(text) AS orig_len
            FROM documents WHERE doc_id >= 50),
          bwh AS (SELECT DISTINCT md5(substr(text, g, 40)) AS wh
            FROM (SELECT text,
                unnest(generate_series(1, length(text) - 39, 1)) AS g
              FROM documents WHERE doc_id < 50 AND length(text) >= 40)),
          wins AS (SELECT doc_id, g AS pos, md5(substr(text, g, 40)) AS wh
            FROM (SELECT doc_id, text,
                unnest(generate_series(1, length(text) - 39, 1)) AS g
              FROM base WHERE orig_len >= 40)),
          marked AS (SELECT doc_id, pos, pos + 39 AS e FROM wins
            WHERE wh IN (SELECT wh FROM bwh)),
          """ + substringRebuildTail()),
      "substring decontamination: excise every span whose 40-char window occurs in the bench set"),

    // ------------- winnow decontamination (round-16): the FUZZY rung
    // of the decontamination ladder. q82 (exact 8-grams) and q282
    // (verbatim 40-char windows) are both broken by ONE edited token;
    // winnowed-fingerprint overlap is not — any unbroken shared run of
    // ≥ k+w−1 = 7 tokens guarantees a shared fingerprint (the q269
    // theorem), so an edited quote still flags. The fixture makes the
    // claim adversarial (the q279 construction): every 25th corpus doc
    // gets an EDITED 20-token quote of bench doc (doc_id mod 50)
    // appended — tokens 3..22 with the 10th replaced by an
    // out-of-vocabulary edit, splitting the quote into runs of 7 and
    // 12, so ≥ 2 shared fingerprints are GUARANTEED and the planted
    // docs must all flag at minShared = 2 (natural corpus/bench
    // overlaps flag identically in both engines on top). Flagging,
    // not excision: winnow evidence localizes to gram positions, so
    // the operator reports (doc, n_shared, n_fps) and the caller
    // decides — the q82 convention.
    "q285_winnow_decontaminate" -> Q(
      (s, d) => {
        import s.implicits._
        val all = docs(s, d)
        val bench = all.filter($"doc_id" < 50)
        val ws = words($"text")
        val bsnip = bench.filter(size(ws) >= 22)
          .select(($"doc_id").as("__bid"),
            array_join(concat(slice(ws, 3, 7), array(lit("zzedit")),
              slice(ws, 11, 12)), " ").as("__snip"))
        val corpus = all.filter($"doc_id" >= 50)
          .withColumn("__bid",
            when($"doc_id" % 25 === 0, $"doc_id" % 50).otherwise(lit(-1L)))
          .join(broadcast(bsnip), Seq("__bid"), "left")
          .select($"doc_id",
            when($"__snip".isNotNull, concat($"text", lit(" "), $"__snip"))
              .otherwise($"text").as("text"))
        Dedup.winnowDecontaminate(corpus, bench.select($"doc_id", $"text"),
            "doc_id", $"text", k = 4, w = 4, minShared = 2)
          .orderBy($"doc_id")
      },
      Some("""WITH ws0 AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents),
        bsnip AS (SELECT doc_id AS bid,
            array_to_string(list_concat(list_concat(ws[3:9], ['zzedit']),
              ws[11:22]), ' ') AS snip
          FROM ws0 WHERE doc_id < 50 AND len(ws) >= 22),
        corpus AS (SELECT d.doc_id,
            CASE WHEN d.doc_id % 25 = 0 AND b.snip IS NOT NULL
              THEN d.text || ' ' || b.snip ELSE d.text END AS text
          FROM documents d LEFT JOIN bsnip b ON b.bid = d.doc_id % 50
          WHERE d.doc_id >= 50),
        cws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM corpus),
        cks AS (SELECT doc_id, list_transform(range(0, len(ws) - 3), i ->
            CAST('0x' || substr(md5(array_to_string(ws[i+1:i+4], ' ')), 1, 8) AS BIGINT)
              * 2097152 + (2097151 - i)) AS ks
          FROM cws WHERE len(ws) >= 4),
        csel AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(0, greatest(len(ks) - 4, 0) + 1),
            j -> list_min(ks[j+1:least(j+4, len(ks))])))) AS key
          FROM cks),
        cf AS (SELECT DISTINCT doc_id, key >> 21 AS fp FROM csel),
        bks AS (SELECT doc_id, list_transform(range(0, len(ws) - 3), i ->
            CAST('0x' || substr(md5(array_to_string(ws[i+1:i+4], ' ')), 1, 8) AS BIGINT)
              * 2097152 + (2097151 - i)) AS ks
          FROM ws0 WHERE doc_id < 50 AND len(ws) >= 4),
        bsel AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(0, greatest(len(ks) - 4, 0) + 1),
            j -> list_min(ks[j+1:least(j+4, len(ks))])))) AS key
          FROM bks),
        bf AS (SELECT DISTINCT key >> 21 AS fp FROM bsel),
        agg AS (SELECT doc_id, count(*) AS n_fps,
            sum(CASE WHEN fp IN (SELECT fp FROM bf) THEN 1 ELSE 0 END)
              AS n_shared
          FROM cf GROUP BY 1)
        SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared,
          CAST(n_fps AS BIGINT) AS n_fps
        FROM agg WHERE n_shared >= 2 ORDER BY doc_id"""),
      "winnow decontamination: edited bench quotes flag on guaranteed shared fingerprints"),

    // --------------------------- weighted Jaccard near-dup (tf axis)
    // The similarity axis the set family can't express: term
    // FREQUENCIES are part of document identity, so repetition-heavy
    // twins that set-Jaccard calls identical score apart (spec pins
    // the discriminating example). Defined over the df <= 50 token
    // space (stop-gram discipline applied to numerator AND norms so
    // the score stays a true Jaccard on the filtered space), exact
    // integer arithmetic end-to-end, integer cross-multiply threshold
    // 3/10. Registered DEDUP-FIRST (the q271/q274 lesson at
    // registration time): exact keepers collapse replication BEFORE
    // any posting's df multiplies across the cap, so the x100 row
    // EMITS instead of recording a saturation zero.
    "q278_weighted_jaccard" -> Q(
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
        val keep = Dedup.exactKeepers(base, "doc_id", "text")
          .localCheckpoint() // read 3x: keeper filter + both copy joins
        val kept = base.join(
          keep.select($"keeper_id".as("doc_id")), Seq("doc_id"), "inner")
        // store-fed by measured A/B (round-18): the tf store replaces
        // the DOMINANT stage (gram HOF → explode → tf aggregate over
        // kept text) — 5.95 s live vs 1.53 s store-fed, solo best-of-4
        // each, same window. Contrast q205, whose store only replaced
        // the cheap signature aggregate and LOST to exchange reuse —
        // the store pays exactly where the replaced derivation
        // dominates. df recomputes over the keeper space inside the
        // face (the cap must see keeper frequencies), so store-fed
        // equals live by construction; the oracle re-derives everything
        Dedup.weightedJaccardPairsFromTf(
            TextSketch.tfPostings4(s, d).join(
              keep.select($"keeper_id".as("doc")), Seq("doc"), "left_semi"),
            maxDf = 50, tNum = 3, tDen = 10,
            expectScheme = Some(Dedup.tfPostingScheme(4)))
          .join(keep.select($"keeper_id".as("id_a"), $"n_copies".as("copies_a")), "id_a")
          .join(keep.select($"keeper_id".as("id_b"), $"n_copies".as("copies_b")), "id_b")
          .select($"id_a", $"id_b", $"w_inter", $"w_union", $"wjaccard",
            $"copies_a", $"copies_b")
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH keep AS (SELECT md5(text) AS h, min(doc_id) AS keeper_id,
            count(*) AS n_copies FROM documents GROUP BY 1),
        kd AS (SELECT d.doc_id, d.text FROM documents d
          JOIN keep k ON d.doc_id = k.keeper_id),
        ws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM kd),
        tf AS (SELECT doc_id AS doc, w, count(*) AS tf FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(ws) - 2),
              i -> array_to_string(ws[i:i+3], ' '))) AS w
            FROM ws WHERE len(ws) >= 4) GROUP BY 1, 2),
        dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        insp AS (SELECT tf.doc, tf.w, tf.tf FROM tf
          JOIN dft USING (w) WHERE df <= 50),
        norms AS (SELECT doc, sum(tf) AS norm FROM insp GROUP BY 1),
        posts AS (SELECT insp.doc, insp.w, insp.tf FROM insp
          JOIN dft USING (w) WHERE df BETWEEN 2 AND 50),
        inter AS (SELECT a.doc AS id_a, b.doc AS id_b,
            sum(least(a.tf, b.tf)) AS w_inter
          FROM posts a JOIN posts b ON a.w = b.w AND a.doc < b.doc
          GROUP BY 1, 2)
        SELECT id_a, id_b, CAST(w_inter AS BIGINT) AS w_inter,
          CAST(na.norm + nb.norm - w_inter AS BIGINT) AS w_union,
          round(CAST(w_inter AS DOUBLE) / (na.norm + nb.norm - w_inter), 6)
            AS wjaccard,
          CAST(ka.n_copies AS BIGINT) AS copies_a,
          CAST(kb.n_copies AS BIGINT) AS copies_b
        FROM inter JOIN norms na ON na.doc = id_a
          JOIN norms nb ON nb.doc = id_b
          JOIN keep ka ON ka.keeper_id = id_a
          JOIN keep kb ON kb.keeper_id = id_b
        WHERE w_inter * 10 >= (na.norm + nb.norm - w_inter) * 3
        ORDER BY id_a, id_b"""),
      "tf-weighted Jaccard near-dup: df-capped postings, integer-exact, dedup-first"),

    // --------------------- query-by-SNIPPET search (MOSS as search)
    // The text-search gap between q238 (exact phrase — needs the
    // snippet verbatim) and q129 (BM25 — bags the words away):
    // winnow-fingerprint search finds the SOURCE of an edited or
    // partial quote. Queries are constructed, deterministically in
    // both engines, as adversarial snippets of every 25th doc: tokens
    // 3..22 with the 10th token replaced by an out-of-vocabulary edit
    // — a 20-token quote with a mid-edit, exactly what exact phrase
    // search cannot find. The edit splits the snippet into runs of 7
    // and 12 shared tokens, both ≥ k+w−1 = 7, so the q269 theorem
    // GUARANTEES ≥ 2 shared fingerprints with the source doc — the
    // search must surface it. Corpus postings are df ≤ 50 stop-capped
    // (q270's discipline), query fingerprints broadcast, ranking
    // (shared desc, cand_id) top-3 per query. The index is built over
    // EXACT KEEPERS (dedup-first at registration, q278's convention):
    // a real snippet index indexes distinct content, and under ×N
    // replication the keeper dfs equal base dfs — the capped search
    // keeps surfacing sources where a raw-corpus index would saturate
    // to zero (the q270 regime).
    "q279_winnow_search" -> Q(
      (s, d) => {
        import s.implicits._
        val base = docs(s, d)
        // the search INDEX is built over exact keepers (what a real
        // snippet index indexes — the q278/q271 dedup-first discipline,
        // which also keeps the df cap meaningful under replication)
        val kept = base.join(
          Dedup.exactKeepers(base, "doc_id", "text")
            .select($"keeper_id".as("doc_id")), Seq("doc_id"), "inner")
          .localCheckpoint() // read twice: query construction + corpus
        val ws = words($"text")
        val snippet = array_join(concat(
          slice(ws, 3, 7), array(lit("zzedit")), slice(ws, 11, 12)), " ")
        val queries = kept.filter($"doc_id" % 25 === 0 && size(ws) >= 22)
          .select($"doc_id", snippet.as("text"))
        // corpus postings from the store, keeper-restricted (winnow
        // selection is per-doc, so the semi-join equals re-derivation)
        val keptFps = TextSketch.winnowFps(s, d)
          .join(kept.select($"doc_id"), Seq("doc_id"), "left_semi")
        Dedup.winnowSearchTopKFps(queries, keptFps, "doc_id", $"text",
            k = 4, w = 4, maxDf = 50, topK = 3)
          .orderBy($"query_id", $"rank")
      },
      Some("""WITH keep AS (SELECT min(doc_id) AS keeper_id
          FROM documents GROUP BY md5(text)),
        ws0 AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents WHERE doc_id IN (SELECT keeper_id FROM keep)),
        q AS (SELECT doc_id, array_to_string(list_concat(
            list_concat(ws[3:9], ['zzedit']), ws[11:22]), ' ') AS text
          FROM ws0 WHERE doc_id % 25 = 0 AND len(ws) >= 22),
        qws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM q),
        qks AS (SELECT doc_id, list_transform(range(0, len(ws) - 3), i ->
            CAST('0x' || substr(md5(array_to_string(ws[i+1:i+4], ' ')), 1, 8) AS BIGINT)
              * 2097152 + (2097151 - i)) AS ks
          FROM qws WHERE len(ws) >= 4),
        qsel AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(0, greatest(len(ks) - 4, 0) + 1),
            j -> list_min(ks[j+1:least(j+4, len(ks))])))) AS key
          FROM qks),
        qf AS (SELECT DISTINCT doc_id AS query_id, key >> 21 AS fp FROM qsel),
        cks AS (SELECT doc_id, list_transform(range(0, len(ws) - 3), i ->
            CAST('0x' || substr(md5(array_to_string(ws[i+1:i+4], ' ')), 1, 8) AS BIGINT)
              * 2097152 + (2097151 - i)) AS ks
          FROM ws0 WHERE len(ws) >= 4),
        csel AS (SELECT doc_id, unnest(list_distinct(list_transform(
            range(0, greatest(len(ks) - 4, 0) + 1),
            j -> list_min(ks[j+1:least(j+4, len(ks))])))) AS key
          FROM cks),
        cf AS (SELECT DISTINCT doc_id AS cand_id, key >> 21 AS fp FROM csel),
        fkeep AS (SELECT fp FROM cf GROUP BY fp HAVING count(*) <= 50),
        posts AS (SELECT cand_id, fp FROM cf
          WHERE fp IN (SELECT fp FROM fkeep)),
        sh AS (SELECT query_id, cand_id, count(*) AS shared
          FROM qf JOIN posts USING (fp) GROUP BY 1, 2)
        SELECT * FROM (
          SELECT query_id,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY shared DESC, cand_id) AS INTEGER) AS rank,
            cand_id, CAST(shared AS BIGINT) AS shared
          FROM sh)
        WHERE rank <= 3 ORDER BY query_id, rank"""),
      "query-by-snippet: winnow-fingerprint search finds the source of an edited quote"),

    // ------------------------------------------------ near-dup clustering
    // Pairs are only half a dedup pipeline: LSH/Jaccard emit EDGES, and
    // the keeper policy needs CLUSTERS (a near-dup of a near-dup is the
    // same document family even when the two ends never pair directly).
    // Connected components over the char-3-gram Jaccard ≥ 0.6 pair graph
    // via the single clustering entry point ([[graft.operators.Dedup
    // .cluster]], which routes to shape-safe star contraction); every doc
    // gets a cluster id (= min member id), cluster size, and a keep-first
    // keeper flag. The DuckDB oracle reaches the identical fixpoint
    // through a recursive CTE, so the whole iterative operator is
    // hash-verified, not rows-counted.
    "q75_dedup_clusters" -> Q(
      (s, d) => {
        import s.implicits._
        // read twice (pair shingles, node list) — materialize the
        // 100-doc slice once (round-17 repeat-derivation sharing)
        val base = docs(s, d).filter($"doc_id" < 100)
          .select($"doc_id", $"text").localCheckpoint()
        val pairs = Dedup.sparseJaccardPairs(base, "doc_id",
          charNGrams($"text", 3), threshold = 0.6)
        // r18: ≤ 100 nodes by construction — driver union-find (bounded-
        // solve discipline, loud require) replaces ~30 one-task star-
        // contraction jobs; identical labels, oracle-verified every run
        val cc = Dedup.clusterBoundedDriver(base.select($"doc_id"),
          "doc_id", pairs, maxNodes = 128)
        val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "cluster_id")
          .select($"id".as("doc_id"), $"cluster_id", $"cluster_size",
            ($"id" === $"cluster_id").cast("int").as("is_keeper"))
          .orderBy($"doc_id")
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
        sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
        SELECT cc.id AS doc_id, cluster_id, cluster_size,
          CAST(cc.id = cluster_id AS INTEGER) AS is_keeper
        FROM cc JOIN sz USING (cluster_id) ORDER BY doc_id"""),
      "near-dup graph -> connected-component clusters -> keeper per cluster"),

    // --------------------------------------------- repetition signals
    // Gopher-style repetition filters (Rae et al. 2021 §A1.1): fraction
    // of tokens taken by the single most frequent unigram / bigram, and
    // the duplicate-token fraction. Each signal is an explode + two hash
    // aggregates — map-side combinable, shuffle bounded by (doc ×
    // distinct-gram), never all-pairs. Thresholds (0.12 / 0.65 / 0.08)
    // are the tunable curation policy; `flagged` marks docs exceeding
    // any. Flags compare the ROUNDED fractions so the engine and oracle
    // agree at threshold boundaries.
    "q76_repetition_signals" -> Q(
      (s, d) => {
        import s.implicits._
        val ws = words($"text")
        val uni = docs(s, d)
          .select($"doc_id", explode(ws).as("w"))
          .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_unique"),
               max($"c").as("top_uni"))
        val bi = docs(s, d)
          .transform(Relational.spread(_, $"doc_id")) // spread the zip
          .select($"doc_id", explode(arrays_zip(
            slice(ws, lit(1), size(ws) - 1),
            slice(ws, lit(2), size(ws) - 1))).as("z"))
          .select($"doc_id", concat_ws(" ", $"z.0", $"z.1").as("b"))
          .groupBy($"doc_id", $"b").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(sum($"c").as("n_bi"), max($"c").as("top_bi"))
        uni.join(bi, Seq("doc_id"), "left")
          .select($"doc_id", $"n_tokens",
            round($"top_uni".cast("double") / $"n_tokens", 6).as("top_uni_frac"),
            round(($"n_tokens" - $"n_unique").cast("double") / $"n_tokens", 6)
              .as("dup_frac"),
            round(coalesce($"top_bi".cast("double") / $"n_bi", lit(0.0)), 6)
              .as("top_bi_frac"))
          .select($"doc_id", $"n_tokens", $"top_uni_frac", $"dup_frac", $"top_bi_frac",
            ($"top_uni_frac" > 0.12 || $"dup_frac" > 0.65 || $"top_bi_frac" > 0.08)
              .cast("int").as("flagged"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents),
        uc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
        uni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
            count(*) AS n_unique, max(c) AS top_uni
          FROM uc GROUP BY doc_id),
        bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
            i -> ws[i] || ' ' || ws[i+1])) AS b
          FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents)),
        bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
        bi AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bi, max(c) AS top_bi
          FROM bc GROUP BY doc_id),
        fr AS (SELECT doc_id, n_tokens,
            round(CAST(top_uni AS DOUBLE) / n_tokens, 6) AS top_uni_frac,
            round(CAST(n_tokens - n_unique AS DOUBLE) / n_tokens, 6) AS dup_frac,
            round(COALESCE(CAST(top_bi AS DOUBLE) / n_bi, 0.0), 6) AS top_bi_frac
          FROM uni LEFT JOIN bi USING (doc_id))
        SELECT doc_id, n_tokens, top_uni_frac, dup_frac, top_bi_frac,
          CAST(top_uni_frac > 0.12 OR dup_frac > 0.65 OR top_bi_frac > 0.08
            AS INTEGER) AS flagged
        FROM fr ORDER BY doc_id"""),
      "Gopher-style repetition signals: top-unigram/bigram/dup-token fractions"),

    // ----------------------------------------------------- LSH quality audit
    // Sketch-quality measurement, the tuning loop of a production dedup
    // pipeline: the LCG MinHash-LSH candidate set vs the exact unigram
    // Jaccard ≥ 0.9 ground truth over a bounded range, reduced to
    // precision/recall. Candidates come from the SAME banding operators
    // as q42; truth from the sparse intersection join (no all-pairs
    // blowup). One full-outer join + one aggregate — the audit itself
    // scales like the pipeline it measures. Expect high recall (banding
    // r=8 catches j ≥ 0.9 with P ≈ 0.99) and low precision on this
    // pathologically self-similar corpus (unigram Jaccard median ≈ 0.62
    // sits on the S-curve's shoulder) — exactly the trade the stop-bucket
    // cap and verify stage exist to absorb.
    "q77_lsh_audit" -> Q(
      (s, d) => {
        import s.implicits._
        val base = docs(s, d).filter($"doc_id" < 300)
        val cands = Dedup.lshCandidates(
          Dedup.lshBands(
            Dedup.minhashSignaturesLcg(
              Relational.spread(Dedup.tokens(base, "doc_id", "text"), $"doc_id"),
              "doc_id", k = 64),
            "doc_id", k = 64, bands = 8),
          "doc_id", maxBucket = 100)
        val truth = Dedup.sparseJaccardPairs(base, "doc_id",
            array_distinct(words($"text")), threshold = 0.9)
          .select($"id_a", $"id_b")
        val hit = $"is_cand" === 1 && $"is_true" === 1
        cands.withColumn("is_cand", lit(1))
          .join(truth.withColumn("is_true", lit(1)), Seq("id_a", "id_b"), "full_outer")
          .agg(
            sum(coalesce($"is_cand", lit(0))).as("n_candidates"),
            sum(coalesce($"is_true", lit(0))).as("n_true"),
            sum(when(hit, 1).otherwise(0)).as("n_hit"))
          .select($"n_candidates", $"n_true", $"n_hit",
            round($"n_hit".cast("double") / $"n_candidates", 6).as("prec"),
            round($"n_hit".cast("double") / $"n_true", 6).as("recall"))
      },
      Some(lshAuditOracle(bound = 300, k = 64, bands = 8,
        maxBucket = 100, threshold = 0.9)),
      "MinHash-LSH candidate precision/recall vs exact-Jaccard ground truth"),

    // ----------------------------------------------- banded SimHash dedup
    // The SCALABLE SimHash path (q43 is the bounded all-pairs ground
    // truth): by pigeonhole, two 64-bit sketches within Hamming ≤ 3 must
    // share one of their four 16-bit chunks exactly, so candidates come
    // from (chunk_idx, chunk_value) bucket equi-joins — no n² anywhere,
    // with PROVABLY exact recall at this radius (unlike probabilistic
    // MinHash banding). Verification is the exact chunked Hamming
    // distance on candidates only. Same sketches as q43, so the oracle
    // re-derives the identical pipeline.
    "q86_simhash_banded" -> Q(
      (s, d) => {
        import s.implicits._
        Dedup.simhashBandedPairs(docs(s, d).filter($"doc_id" < 300),
            "doc_id", "text", maxDist = 3)
          .orderBy($"id_a", $"id_b")
      },
      Some(simhashBandedOracle(bound = 300, maxDist = 3)),
      "banded SimHash near-dups: pigeonhole chunk buckets, exact recall at d<=3"),

    // ------------------------------ star-contraction connected components
    // The adversarial-shape clustering path: a planted 7-chain path graph
    // (edges doc_id → doc_id+7, diameter ~28) where min-label propagation
    // (q75's operator) needs diameter-many rounds, but alternating
    // large-star/small-star contraction (Kiveris SoCC'14) converges in
    // O(log² n). Same fixpoint labels, so the recursive-CTE oracle that
    // verifies q75/q78 verifies this operator too.
    "q89_cc_stars_paths" -> Q(
      (s, d) => {
        import s.implicits._
        val base = docs(s, d).filter($"doc_id" < 200).select($"doc_id")
        val pairs = base.filter($"doc_id" < 193)
          .select($"doc_id".as("id_a"), ($"doc_id" + 7).as("id_b"))
        val cc = Dedup.cluster(base, "doc_id", pairs)
        val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "cluster_id")
          .select($"id".as("doc_id"), $"cluster_id", $"cluster_size")
          .orderBy($"doc_id")
      },
      Some("""WITH RECURSIVE pairs AS (SELECT doc_id AS id_a, doc_id + 7 AS id_b
          FROM documents WHERE doc_id < 193),
        und AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
        walk(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
          UNION
          SELECT u.dst, w.lbl FROM walk w JOIN und u ON u.src = w.id),
        cc AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
        sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
        SELECT cc.id AS doc_id, cluster_id, cluster_size
        FROM cc JOIN sz USING (cluster_id) ORDER BY doc_id"""),
      "large-star/small-star components on a chain-shaped dup graph"),

    // ----------------------------------------------- BPE tokenizer APPLY
    // q131 trained the merges; this is the other half a tokenizer ships:
    // ENCODE the corpus under those merges and report per-source token
    // economics (the number every data-mixture budget is denominated
    // in). Scale shape: the corpus collapses to a (source, word, count)
    // table in ONE shuffle; the 6 merge folds run on the VOCABULARY only
    // (never re-touching the corpus); and the learned per-word token
    // count broadcast-joins back onto the word table. The oracle
    // re-derives the identical merges (Bpe.bpeOracleCtes) and re-encodes
    // every word, so tokens_per_word is hash-equal, not approximate.
    "q150_bpe_encode" -> Q(
      (s, d) => {
        import s.implicits._
        val sw = docs(s, d)
          .select($"source", explode(split(lower($"text"), " ")).as("w"))
          .filter($"w".rlike("^[a-z0-9]+$"))
          .groupBy($"source", $"w").agg(count(lit(1)).as("cnt"))
          .localCheckpoint() // reused: global vocab + token join-back
        val vocab = sw.groupBy($"w").agg(sum($"cnt").as("freq"))
        val tok = graft.operators.Bpe.encodeVocab(vocab, "w", "freq", rounds = 6)
          .select(col("word").as("w"), col("n_tokens"))
        sw.join(broadcast(tok), Seq("w"))
          .groupBy($"source")
          .agg(sum($"cnt").as("n_words"),
            sum($"cnt" * $"n_tokens").as("n_tokens"),
            round(sum($"cnt" * $"n_tokens").cast("double") / sum($"cnt"), 6)
              .as("tokens_per_word"))
          .orderBy($"source")
      },
      Some(s"""WITH sw AS (SELECT source, w, count(*) AS cnt FROM (
              SELECT source, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
            WHERE regexp_matches(w, '^[a-z0-9]+$$')
            GROUP BY source, w),
          bpe_words AS (SELECT w AS word, CAST(sum(cnt) AS BIGINT) AS freq
            FROM sw GROUP BY w),
          ${graft.operators.Bpe.bpeOracleCtes(6)},
          tok AS (SELECT word,
              CAST(len(string_split(trim(state, '|'), '||')) AS BIGINT) AS n_tokens
            FROM bpe_s6)
          SELECT source, CAST(sum(cnt) AS BIGINT) AS n_words,
            CAST(sum(cnt * n_tokens) AS BIGINT) AS n_tokens,
            round(CAST(sum(cnt * n_tokens) AS DOUBLE) / sum(cnt), 6)
              AS tokens_per_word
          FROM sw JOIN tok ON sw.w = tok.word
          GROUP BY source ORDER BY source"""),
      "encode the corpus under learned BPE merges, per-source token stats"),

    // --------------------------------------------- feature hashing
    // The hashing trick (Weinberger et al. ICML'09): tokens map to a
    // fixed 64-bucket feature space via md5, with a ±1 sign bit from
    // the same digest so collisions cancel in expectation instead of
    // accumulating bias. No vocabulary table at all — the defining
    // property: feature extraction is a pure per-row projection plus
    // one bounded (doc × 64) aggregate, nothing global, which is why
    // the trick scales to any corpus and vocabulary drift can't break
    // the feature space.
    "q156_feature_hashing" -> Q(
      (s, d) => {
        import s.implicits._
        docs(s, d).filter($"doc_id" < 20)
          .select($"doc_id", explode(split(lower($"text"), " ")).as("w"))
          .filter($"w".rlike("^[a-z0-9]+$"))
          .select($"doc_id",
            conv(substring(md5(concat(lit("q156:"), $"w")), 1, 15), 16, 10)
              .cast("long").as("h"))
          .select($"doc_id", pmod($"h", lit(64L)).as("bucket"),
            when(shiftright($"h", 6).bitwiseAND(lit(1L)) === 1L, 1L)
              .otherwise(-1L).as("sign"))
          .groupBy($"doc_id", $"bucket")
          .agg(sum($"sign").as("val"))
          .filter($"val" =!= 0)
          .orderBy($"doc_id", $"bucket")
      },
      Some("""WITH h AS (SELECT doc_id,
              CAST('0x' || substr(md5('q156:' || w), 1, 15) AS BIGINT) AS h
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              FROM documents WHERE doc_id < 20)
            WHERE regexp_matches(w, '^[a-z0-9]+$')),
          f AS (SELECT doc_id, h % 64 AS bucket,
              CASE WHEN ((h >> 6) & 1) = 1 THEN 1 ELSE -1 END AS sign
            FROM h)
          SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS val
          FROM f GROUP BY doc_id, bucket
          HAVING CAST(sum(sign) AS BIGINT) <> 0
          ORDER BY doc_id, bucket"""),
      "hashing-trick features: 64 signed buckets, no vocabulary table"),

    // ------------------------------------- frequency subsampling
    // word2vec-style frequent-word subsampling (Mikolov et al.
    // NIPS'13): occurrence of word w with corpus frequency z = f/N
    // survives with p = min(1, (sqrt(z/0.001)+1)·0.001/z) — stopwords
    // thin aggressively, rare words always survive. The coin flip is
    // a deterministic md5 of (doc, position), so the SAMPLE itself is
    // reproducible across engines/runs/partitionings — the property
    // that makes a 100 TB curation run auditable. One shuffle for the
    // vocab frequencies; thresholds broadcast back onto the stream.
    "q157_word_subsample" -> Q(
      (s, d) => {
        import s.implicits._
        val occ = docs(s, d)
          .select($"doc_id", $"source",
            posexplode(split(lower($"text"), " ")).as(Seq("pos", "w")))
          .filter($"w".rlike("^[a-z0-9]+$"))
          .localCheckpoint() // reused: vocab + the sampled pass
        val n = occ.agg(count(lit(1)).as("n_total"))
        val vocab = occ.groupBy($"w").agg(count(lit(1)).as("f"))
          .crossJoin(broadcast(n))
          .withColumn("z", $"f".cast("double") / $"n_total")
          .withColumn("p_keep",
            least(lit(1.0), (sqrt($"z" / 0.001) + 1.0) * 0.001 / $"z"))
          .select($"w", $"p_keep")
        occ.join(broadcast(vocab), Seq("w"))
          .withColumn("h", conv(substring(md5(concat(lit("q157:"),
            $"doc_id".cast("string"), lit(":"), $"pos".cast("string"))),
            1, 15), 16, 10).cast("long"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_before"),
            sum(when($"h".cast("double") < $"p_keep" * pow(lit(2.0), lit(60.0)),
              1L).otherwise(0L)).as("n_after"))
          .select($"source", $"n_before", $"n_after",
            round($"n_after".cast("double") / $"n_before", 6).as("keep_rate"))
          .orderBy($"source")
      },
      Some("""WITH occ AS (SELECT doc_id, source, i - 1 AS pos, ws[i] AS w
            FROM (SELECT doc_id, source, ws,
                unnest(generate_series(1, len(ws))) AS i
              FROM (SELECT doc_id, source,
                string_split(lower(text), ' ') AS ws FROM documents))
            WHERE regexp_matches(ws[i], '^[a-z0-9]+$')),
          n AS (SELECT count(*) AS n_total FROM occ),
          vocab AS (SELECT w, p_keep FROM (
            SELECT w, least(1.0, (sqrt(z / 0.001) + 1.0) * 0.001 / z) AS p_keep
            FROM (SELECT w, CAST(count(*) AS DOUBLE) / n_total AS z
              FROM occ CROSS JOIN n GROUP BY w, n_total))),
          keep AS (SELECT source,
              CAST('0x' || substr(md5('q157:' || CAST(doc_id AS VARCHAR)
                || ':' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT) AS h,
              p_keep
            FROM occ JOIN vocab USING (w))
          SELECT source, count(*) AS n_before,
            CAST(sum(CASE WHEN CAST(h AS DOUBLE) < p_keep * pow(2.0, 60.0)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
            round(CAST(sum(CASE WHEN CAST(h AS DOUBLE) < p_keep * pow(2.0, 60.0)
              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS keep_rate
          FROM keep GROUP BY source ORDER BY source"""),
      "Mikolov frequency subsampling with a deterministic md5 coin"),

    // ----------------------------------------------- Heaps-law profile
    // Vocabulary-saturation curve (Heaps' law V ≈ K·N^β): distinct
    // vocabulary and token mass at each tenth of the corpus, in doc-id
    // order — the profile that answers "is more of THIS corpus still
    // buying new vocabulary?" when sizing corpora and tokenizers. The
    // distributed trick: prefix-vocabulary needs no per-prefix rescans
    // and no global sort — a token's FIRST-OCCURRENCE doc (one hash
    // aggregate, vocabulary-bounded) fully determines which prefixes
    // count it, so each decile is a conditional sum over the token
    // table against a broadcast 10-row threshold frame. Token mass per
    // decile likewise folds from the per-doc count table. All integers.
    "q191_heaps_curve" -> Q(
      (s, d) => {
        import s.implicits._
        val toks = docs(s, d)
          .select($"doc_id", explode(words($"text")).as("w"))
        val tok = toks.groupBy($"w")
          .agg(min($"doc_id").as("fd"), count(lit(1)).as("c"))
        val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("nt"))
        val dec = docs(s, d).agg((max($"doc_id") + 1).as("n"))
          .select(explode(sequence(lit(1), lit(10))).as("decile"), $"n")
          .select($"decile", expr("n * decile div 10").as("thr"))
        val docsTok = dl.crossJoin(broadcast(dec))
          .groupBy($"decile")
          .agg(sum(when($"doc_id" < $"thr", lit(1L)).otherwise(0L)).as("n_docs"),
            sum(when($"doc_id" < $"thr", $"nt").otherwise(0L)).as("n_tokens"))
        val vocab = tok.crossJoin(broadcast(dec))
          .groupBy($"decile")
          .agg(sum(when($"fd" < $"thr", lit(1L)).otherwise(0L)).as("vocab"))
        docsTok.join(vocab, "decile")
          .select($"decile", $"n_docs", $"n_tokens", $"vocab",
            expr("vocab * 1000000 div n_tokens").as("vocab_per_mtoken"))
          .orderBy($"decile")
      },
      Some("""WITH toks AS (SELECT doc_id,
            unnest(string_split(lower(text), ' ')) AS w FROM documents),
        tok AS (SELECT w, min(doc_id) AS fd, count(*) AS c
          FROM toks GROUP BY w),
        dl AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
        mx AS (SELECT max(doc_id) + 1 AS n FROM documents),
        dec AS (SELECT d AS decile, (n * d) // 10 AS thr
          FROM range(1, 11) t(d), mx),
        dt AS (SELECT decile,
            CAST(sum(CASE WHEN doc_id < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN doc_id < thr THEN nt ELSE 0 END) AS BIGINT) AS n_tokens
          FROM dl, dec GROUP BY decile),
        vc AS (SELECT decile,
            CAST(sum(CASE WHEN fd < thr THEN 1 ELSE 0 END) AS BIGINT) AS vocab
          FROM tok, dec GROUP BY decile)
        SELECT CAST(dt.decile AS INTEGER) AS decile, n_docs, n_tokens, vocab,
          (vocab * 1000000) // n_tokens AS vocab_per_mtoken
        FROM dt JOIN vc ON dt.decile = vc.decile
        ORDER BY decile"""),
      "Heaps-law vocabulary saturation per corpus decile, first-occurrence trick"),

    // ------------------------------------- length-bucketed batch profile
    // The inference-side counterpart to q179's training packing: batch
    // inputs padded to a common length waste FLOPs on pad tokens, and
    // bucketing by length is the standard cure. Each doc lands in the
    // smallest 16-multiple bucket that holds it (capped at 128 — longer
    // docs truncate, the serving contract); the profile reports per-
    // bucket doc count, real-token mass, pad waste, and waste as exact
    // ppm — the numbers that decide bucket boundaries. One narrow
    // projection + one ≤8-group hash aggregate at any corpus size.
    "q192_length_buckets" -> Q(
      (s, d) => {
        import s.implicits._
        docs(s, d)
          .select(least(wordCount($"text").cast("long"), lit(128L)).as("nt"))
          .select($"nt",
            least(expr("((nt + 15) div 16) * 16"), lit(128L)).as("bucket"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum($"nt").as("n_tokens"),
            sum($"bucket" - $"nt").as("pad_tokens"))
          .select($"bucket", $"n_docs", $"n_tokens", $"pad_tokens",
            expr("pad_tokens * 1000000 div (n_tokens + pad_tokens)")
              .as("waste_ppm"))
          .orderBy($"bucket")
      },
      Some("""WITH nt AS (SELECT least(CAST(len(string_split(lower(text), ' '))
              AS BIGINT), 128) AS nt FROM documents),
        b AS (SELECT nt, least(((nt + 15) // 16) * 16, 128) AS bucket FROM nt)
        SELECT bucket, count(*) AS n_docs,
          CAST(sum(nt) AS BIGINT) AS n_tokens,
          CAST(sum(bucket - nt) AS BIGINT) AS pad_tokens,
          (CAST(sum(bucket - nt) AS BIGINT) * 1000000)
            // CAST(sum(bucket) AS BIGINT) AS waste_ppm
        FROM b GROUP BY bucket ORDER BY bucket"""),
      "length-bucket padding profile: pad waste per 16-token bucket, exact ppm"),

    // ---------------------------------------- distribution drift (KL/JSD)
    // Corpus-slice drift monitor: add-1-smoothed unigram distributions
    // per language, compared pairwise by directed KL divergence
    // (Kullback & Leibler 1951) and the symmetric bounded
    // Jensen-Shannon divergence (Lin 1991) — the audit a training-data
    // platform runs to detect when one slice's token mix shifts against
    // another (or a refreshed crawl against the last one). Smoothing is
    // DECLARED over the GLOBAL union vocabulary, so every pair shares
    // one dense vector space: langs × vocab rows, pair-joined on the
    // token — the whole computation is bounded by langs² · vocab (the
    // enum × vocabulary shuffle class), never by corpus rows. Counts
    // stay exact integers; each row's probabilities are one identical
    // IEEE expression in both engines; only the final sums (rounded at
    // 1e-6, noise ~1e-13) ride float order.
    "q222_kl_drift" -> Q(
      (s, d) => {
        import s.implicits._
        val counts = docs(s, d)
          .select($"lang", explode(words($"text")).as("w"))
          .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
          .localCheckpoint() // vocab, langs, totals and dense share it
        val vocab = counts.select($"w").distinct()
        val nv = vocab.agg(count(lit(1)).as("vv"))
        val langs = counts.select($"lang").distinct()
        val totals = counts.groupBy($"lang").agg(sum($"c").as("n"))
        val dense = langs.crossJoin(vocab)
          .join(counts, Seq("lang", "w"), "left")
          .join(broadcast(totals), "lang")
          .crossJoin(broadcast(nv))
          .select($"lang", $"w", $"n", $"vv",
            ((coalesce($"c", lit(0L)) + 1).cast("double") / ($"n" + $"vv"))
              .as("p"))
          .localCheckpoint(eager = false) // both pair sides read it
        val a = dense.select($"lang".as("lang_a"), $"w",
          $"n".as("n_a"), $"vv", $"p".as("pa"))
        val b = dense.select($"lang".as("lang_b"), $"w",
          $"n".as("n_b"), $"p".as("pb"))
        a.join(b, Seq("w")).filter($"lang_a" < $"lang_b")
          .groupBy($"lang_a", $"lang_b")
          .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
            max($"vv").as("vocab"),
            round(sum($"pa" * log($"pa" / $"pb")), 6).as("kl_ab"),
            round(sum($"pb" * log($"pb" / $"pa")), 6).as("kl_ba"),
            round(sum(lit(0.5) * ($"pa" * log($"pa" * 2.0 / ($"pa" + $"pb")) +
              $"pb" * log($"pb" * 2.0 / ($"pa" + $"pb")))), 6).as("jsd"))
          .orderBy($"lang_a", $"lang_b")
      },
      Some("""WITH toks AS (SELECT lang,
            unnest(string_split(lower(text), ' ')) AS w FROM documents),
        counts AS (SELECT lang, w, count(*) AS c FROM toks GROUP BY 1, 2),
        vocab AS (SELECT DISTINCT w FROM counts),
        nv AS (SELECT count(*) AS vv FROM vocab),
        langs AS (SELECT DISTINCT lang FROM counts),
        totals AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n
          FROM counts GROUP BY 1),
        dense AS MATERIALIZED (SELECT l.lang, v.w, t.n, nv.vv,
            CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (t.n + nv.vv) AS p
          FROM langs l CROSS JOIN vocab v CROSS JOIN nv
          LEFT JOIN counts c ON c.lang = l.lang AND c.w = v.w
          JOIN totals t ON t.lang = l.lang)
        SELECT a.lang AS lang_a, b.lang AS lang_b,
          max(a.n) AS n_a, max(b.n) AS n_b, max(a.vv) AS vocab,
          round(sum(a.p * ln(a.p / b.p)), 6) AS kl_ab,
          round(sum(b.p * ln(b.p / a.p)), 6) AS kl_ba,
          round(sum(0.5 * (a.p * ln(a.p * 2.0 / (a.p + b.p)) +
            b.p * ln(b.p * 2.0 / (a.p + b.p)))), 6) AS jsd
        FROM dense a JOIN dense b ON a.w = b.w AND a.lang < b.lang
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      "pairwise KL + Jensen-Shannon drift across language slices, global-vocab smoothing"),

    // ------------------------- interpolated Kneser-Ney bigram model
    // The n-gram language model every data pipeline fits for perplexity
    // filtering and domain scoring (Kneser & Ney 1995; Chen & Goodman
    // 1999's interpolated form, D = 0.75):
    //   P(w2|w1) = max(c−D,0)/c(w1·) + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    // where the continuation probability counts CONTEXTS, not tokens —
    // the famous "San Francisco" correction. Scale shape: bigram
    // extraction is one NARROW zip_with over the token arrays (no
    // shuffle, no window); every aggregate and join after it runs on
    // the bigram-TYPE table — vocabulary²-bounded, not corpus-bounded —
    // and the total-types frame is a broadcast scalar. The probability
    // is one double expression over exact counts, written
    // token-for-token as the oracle's, and TextDedupSpec pins the
    // independent normalization identity Σ_w2 P(w2|w1) = 1.
    "q230_kneser_ney" -> Q(
      (s, d) => {
        import s.implicits._
        val toks = docs(s, d)
          .select(split(lower($"text"), " ").as("a"))
        val big = toks
          .select(explode(zip_with(
            slice($"a", lit(1), size($"a") - 1),
            slice($"a", lit(2), size($"a") - 1),
            (x, y) => struct(x.as("w1"), y.as("w2")))).as("bg"))
          .select($"bg.w1", $"bg.w2")
        val c = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
          .localCheckpoint() // left/right/total marginals + the join read it
        val left = c.groupBy($"w1")
          .agg(sum($"c").as("c1"), count(lit(1)).as("n1p_l"))
        val right = c.groupBy($"w2").agg(count(lit(1)).as("n1p_r"))
        val total = c.agg(count(lit(1)).as("n_types"))
        c.join(left, "w1").join(right, "w2").crossJoin(broadcast(total))
          .filter($"c" >= 5)
          .select($"w1", $"w2", $"c",
            round(greatest($"c" - 0.75, lit(0.0)) / $"c1" +
              lit(0.75) / $"c1" * $"n1p_l" * ($"n1p_r" / $"n_types"), 6)
              .as("p_kn"))
          .orderBy($"p_kn".desc, $"w1", $"w2")
          .limit(15)
      },
      Some("""WITH toks AS (SELECT string_split(lower(text), ' ') AS a
            FROM documents),
        ix AS (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
          FROM toks),
        bg AS (SELECT a[i] AS w1, a[i + 1] AS w2 FROM ix),
        c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
          FROM bg GROUP BY 1, 2),
        lf AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
            CAST(count(*) AS BIGINT) AS n1p_l
          FROM c GROUP BY 1),
        rt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_r
          FROM c GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c)
        SELECT w1, w2, c,
          round(greatest(c - 0.75, 0.0) / c1
            + 0.75 / c1 * n1p_l * (n1p_r / n_types), 6) AS p_kn
        FROM c JOIN lf USING (w1) JOIN rt USING (w2) CROSS JOIN tot
        WHERE c >= 5
        ORDER BY p_kn DESC, w1, w2 LIMIT 15"""),
      "interpolated Kneser-Ney bigram probabilities, continuation counts and all"),

    // ------------------------------- positional phrase search
    // Exact phrase retrieval over a positional inverted index — the
    // search-engine primitive BM25 (q66-family) can't express: find
    // every occurrence of "slow hash batch" as adjacent positions.
    // Scale shape is the classic IR one: the postings frame is
    // FILTERED TO THE PHRASE'S TERMS before anything joins (candidate
    // volume bounded by the rarest term's document frequency, not the
    // corpus), checkpointed once, and the adjacency test is two
    // equi-joins on (doc_id, pos±k) — no windows, no per-doc sorts.
    // Positions are 0-based on both engines (DuckDB's 1-based
    // list positions shifted by construction). Construction factored
    // as Curation.phraseSearch; TextDedupSpec replays every sf0.01 hit
    // against a definitional sliding-window scan AND hand-pins literal
    // tuples on adversarial text (the reversed-phrase doc that a
    // pos+offset convention slip would false-match).
    "q238_phrase_search" -> Q(
      (s, d) => {
        import s.implicits._
        graft.operators.Curation
          .phraseSearch(docs(s, d), "doc_id", "text",
            Seq("slow", "hash", "batch"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS a
            FROM documents),
        post AS (SELECT doc_id, i - 1 AS pos, a[i] AS term
          FROM (SELECT doc_id, a,
              unnest(generate_series(1, len(a))) AS i FROM toks)
          WHERE a[i] IN ('slow', 'hash', 'batch')),
        hits AS (SELECT p0.doc_id, p0.pos AS start
          FROM post p0
          JOIN post p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
          JOIN post p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
          WHERE p0.term = 'slow' AND p1.term = 'hash' AND p2.term = 'batch')
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
          CAST(min(start) AS BIGINT) AS first_pos
        FROM hits GROUP BY 1 ORDER BY 1"""),
      "positional phrase search: term-filtered postings, adjacency as equi-joins"),

    // ------------------------------ edit-distance blocked near-dup
    // Entity-resolution-style near-dup via Levenshtein distance under
    // BLOCKING — the string-similarity family's answer where MinHash
    // (token sets, q42) is blind: character-level edits that preserve
    // most of the token multiset. All-pairs Levenshtein is O(n²·L²)
    // and never acceptable; the standard blocking discipline bounds
    // it: candidates must share (first token, token-count band) — a
    // hash aggregate + an equi-join, never a cross join — and hot
    // blocks are dropped by a loud structural cap (the q42 maxBucket
    // stop-bucket move). The compared key is the 80-char PREFIX (the
    // blocker convention for long documents: cap the O(L²) DP row
    // length; both engines' classic Levenshtein on the same substring
    // is bit-identical integer output). Output: candidate pairs at
    // distance ≤ 10 — on this fixture that is exact-prefix duplicates
    // plus true small-edit variants, with every ≥41-distance in-block
    // pair rejected (measured at sf0.01).
    "q246_edit_blocking" -> Q(
      (s, d) => {
        import s.implicits._
        // repartition BEFORE the checkpoint: a small corpus arrives as
        // one scan partition and would run every DP single-threaded
        // (the q42 minhash lesson — this was measured 4.8 s -> well
        // under 1 s with the spread + the length short-circuit below)
        val base = docs(s, d).select($"doc_id",
            substring($"text", 1, 80).as("pfx"),
            concat(element_at(split(lower($"text"), " "), 1), lit(":"),
              expr("size(split(lower(text), ' ')) div 8").cast("string"))
              .as("blk"))
          .transform(Relational.spread(_, col("blk"))) // vs AQE coalesce
          .localCheckpoint() // feeds block sizes AND both join sides
        val okBlocks = base.groupBy($"blk").agg(count(lit(1)).as("n"))
          .filter($"n" <= 200) // stop-block cap: a degenerate hot block
          .select($"blk")      // (shared boilerplate head) is skipped
        val pool = base.join(broadcast(okBlocks), "blk")
        pool.select($"blk", $"doc_id".as("id_a"), $"pfx".as("pfx_a"))
          .join(pool.select($"blk", $"doc_id".as("id_b"), $"pfx".as("pfx_b")),
            "blk")
          // the length gap lower-bounds edit distance, so this
          // semantics-free short-circuit skips the O(L²) DP on most
          // pairs (predicates evaluate in order under codegen)
          .filter($"id_a" < $"id_b" &&
            abs(length($"pfx_a") - length($"pfx_b")) <= 10)
          .select($"id_a", $"id_b",
            levenshtein($"pfx_a", $"pfx_b").as("dist"))
          .filter($"dist" <= 10)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH d AS (SELECT doc_id, substr(text, 1, 80) AS pfx,
            string_split(lower(text), ' ')[1] || ':' ||
              CAST(len(string_split(lower(text), ' ')) // 8 AS VARCHAR) AS blk
          FROM documents),
        ok AS (SELECT blk FROM d GROUP BY blk HAVING count(*) <= 200),
        p AS (SELECT d.* FROM d JOIN ok USING (blk))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS dist
        FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pfx, b.pfx) <= 10
        ORDER BY id_a, id_b"""),
      "Levenshtein near-dup under (first-token, length-band) blocking with a stop-block cap")
  )
}
