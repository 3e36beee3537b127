package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark plan plus (when SQL-expressible) the
  * equivalent ANSI SQL the driver runs in DuckDB for the hash-compare.
  *
  * Contract notes (from the driver):
  *  - result column names must match the oracle's exactly (compare sorts
  *    columns by name before hashing);
  *  - every query orders its output deterministically with full tie-breaks;
  *  - double outputs are either exact (cent-quantized integer sums, see
  *    [[graft.operators.Relational.centsSum]]) or rounded at a scale where
  *    cross-engine float-summation-order noise is orders of magnitude
  *    smaller than the rounding step.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Every persisted store's one home: the key format and the publish
  * path. A store is a pure function of its source tables, built once
  * and read by every consumer (TextSketch, MediaSketch, TradeGraph, the
  * q94/q171 layouts, the q172/PQ indexes, the q173–q189 round trips).
  *
  * Key: `<root>/<head table path>_<table:mtime-…>/<tag>`, with root
  * `graft_layout` under `/tmp`; every store sits exactly two levels
  * under the root. The key folds EVERY source table's name and mtime,
  * so regenerating any of them — not just the head table — invalidates
  * the store. Names sit beside mtimes because a bare mtime list
  * collides when a caller swaps one sibling for another written by the
  * same datagen run; the ':' keeps (name, mtime) pairs unambiguous for
  * names ending in digits. java.io lastModified is 0 for a missing
  * file, so the key still changes once the file appears. java.io.File
  * mtime probing is local-FS only — a real deployment swaps in the
  * Hadoop FileSystem mtime and a durable root.
  *
  * Version: the tag is the ONLY scheme/code input to the key. A change
  * to what a store's build writes must bump its tag (the `_mN` suffix,
  * e.g. `winnow_fp_k4w4_m1`); nothing else retires an older store.
  *
  * Publish: [[dir]] builds into a hidden tmp sibling and publishes it
  * with one rename through [[graft.io.Fs.promoteDir]], guarded by the
  * build's `_SUCCESS` marker: a published store is never rebuilt, a
  * torn one is rebuilt, and no reader sees a half-built listing. */
object Store {
  def key(d: String, tables: Seq[String], tag: String): String = {
    require(tables.nonEmpty, "need at least one source table")
    val head = new java.io.File(s"$d/${tables.head}.parquet")
    val stamp = tables
      .map(t => s"$t:${new java.io.File(s"$d/$t.parquet").lastModified}")
      .mkString("-")
    "/tmp/graft_layout/" +
      s"${head.getPath.replaceAll("[^A-Za-z0-9._-]", "_")}_$stamp/$tag"
  }

  /** [[key]] plus build-and-publish: runs `build(tmp)` only when the
    * store is not already published (the build must write `_SUCCESS`
    * into `tmp`, as every Spark file write does) and returns the
    * published dir. */
  def dir(s: SparkSession, d: String, tables: Seq[String], tag: String)
         (build: String => Unit): String = {
    val path = key(d, tables, tag)
    graft.io.Fs.promoteDir(s, path, "_SUCCESS")(build)
    path
  }
}

object Registry {
  /** Insertion-ordered full suite. */
  lazy val all: Seq[(String, Q)] = {
    val qs = RelationalQueries.all ++ TextQueries.all ++ VectorQueries.all ++
      ExtendedQueries.all ++ ScaleQueries.all ++ OlapQueries.all ++
      AnalyticsQueries.all ++ StatsQueries.all ++ CurationQueries.all ++
      PipelineQueries.all
    // a duplicate name would silently shadow a query in the toMap below —
    // the shadowed one would neither run nor be oracled, with no signal
    val dups = qs.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    // Some(null) oracles happen via object-initialization-order slips
    // (a val captured before its initializer ran) and would NPE the
    // Verify dump after all queries executed — fail at first touch instead
    val nullSql = qs.collect { case (n, Q(_, Some(null), _)) => n }
    require(nullSql.isEmpty, s"null oracle SQL (init order?): ${nullSql.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, q) => n -> q.fn }.toMap

  lazy val oracleSql: Map[String, String] =
    all.collect { case (n, Q(_, Some(sql), _)) => n -> sql }.toMap
}
