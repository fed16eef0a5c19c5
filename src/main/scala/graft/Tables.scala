package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Typed loaders for the harness star schema + pipeline tables
  * (see repo:FIXTURES.md). One parquet file per table under `dir`.
  *
  * Every loader is a plain parquet scan so Catalyst gets full
  * predicate pushdown / column pruning; at cluster scale these would
  * be partitioned tables and the same code holds (partition pruning
  * composes with the pushed filters).
  */
final class Tables(spark: SparkSession, dir: String) {
  // Per-session catalog-relation reuse: every `spark.read.parquet`
  // call re-resolves the relation (file listing + a schema-inference
  // footer read + plan construction) — with ~256 registry queries
  // each touching several tables, that re-resolution is a measurable
  // slice of every query's fixed floor. The DataFrame is an immutable
  // LAZY plan, so reusing it per (session, path) changes nothing
  // about execution: every action still scans the parquet. A path
  // rewritten through Publish is dropped from the memo and
  // re-resolved (Tables.forget).
  private def t(name: String): DataFrame =
    Tables.resolved(spark, s"$dir/$name.parquet")

  def region: DataFrame    = t("region")
  def nation: DataFrame    = t("nation")
  def customer: DataFrame  = t("customer")
  def supplier: DataFrame  = t("supplier")
  def part: DataFrame      = t("part")
  def orders: DataFrame    = t("orders")
  def lineitem: DataFrame  = t("lineitem")
  /** events.ts has shipped in several physical parquet encodings over
    * the fixture's life — TIMESTAMP(NANOS) (read as LongType nanos
    * under `spark.sql.legacy.parquet.nanosAsLong=true`),
    * TIMESTAMP(µs, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ),
    * and plain UTC-adjusted TIMESTAMP µs. A 100 TB lake has mixed
    * parquet writers, so the loader normalizes all logical timestamp
    * variants to TimestampType at the table boundary; downstream
    * operators never see the storage-level encoding.
    *
    * Sessions run in UTC (all entry points set
    * `spark.sql.session.timeZone=UTC`), so the NTZ→TimestampType cast
    * reinterprets wall-time as UTC instants — the same view DuckDB
    * takes of the file.
    */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        // Nanos-as-long form: require the legacy flag so we know the
        // longs really are nanos (not an unrelated INT64 column).
        // `ts / 1000` would be DOUBLE division: ns-epoch magnitudes
        // (~1.7e18) exceed 2^53, so the rounded quotient is off by up
        // to ±1 µs. `div` is exact integer division on longs.
        require(
          spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
            .contains("true"),
          "events.ts arrived as LongType: expected nanos-encoded " +
            "parquet read under spark.sql.legacy.parquet.nanosAsLong=true")
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // µs/isAdjustedToUTC=false → wall-time; lossless ONLY under a
        // UTC session (the cast interprets wall-time in the session
        // zone, so any other zone silently shifts every instant).
        // Mirror the LongType arm: fail loudly instead.
        require(
          spark.conf.getOption("spark.sql.session.timeZone").contains("UTC"),
          "events.ts arrived as TIMESTAMP_NTZ: the cast to TimestampType " +
            "is only lossless under spark.sql.session.timeZone=UTC " +
            s"(session zone is ${spark.conf.getOption("spark.sql.session.timeZone").getOrElse("unset")})")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Resolve-once parquet relations, keyed (session, path) — the one
    * relation memo (table loaders and the KG index relations). Plans
    * only — never results or cached blocks — so this is catalog
    * state, not data state. `graft.operators.Publish` drops the
    * entries at, under or above every path it swaps ([[forget]]), so
    * an in-session rewrite is re-resolved instead of served from a
    * stale file listing. Bounded like JlProject's matrix cache: past
    * [[MaxResolved]] distinct relations the map clears wholesale (a
    * post-clear miss merely re-resolves), keeping a long-lived JVM
    * serving many sessions from retaining dead sessions' plans.
    */
  private val MaxResolved = 512
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  private[graft] def resolved(spark: SparkSession, path: String): DataFrame =
    resolved(spark, path, ())

  /** [[resolved]], running `ensure` (which may publish `path`) first
    * on a miss. It runs outside the map's compute: a publish drops
    * memo entries, and a ConcurrentHashMap changed from inside its own
    * mapping function throws.
    */
  private[graft] def resolved(spark: SparkSession, path: String,
                              ensure: => Unit): DataFrame = {
    val k = (spark, path)
    Option(memo.get(k)).getOrElse {
      ensure
      if (memo.size >= MaxResolved) memo.clear()
      val df = spark.read.parquet(path)
      Option(memo.putIfAbsent(k, df)).getOrElse(df)
    }
  }

  /** Drop every memoized relation whose path is `target`, lies under
    * it, or contains it.
    */
  private[graft] def forget(target: String): Unit = {
    val t = new org.apache.hadoop.fs.Path(target).toString
    def related(p: String): Boolean = {
      val q = new org.apache.hadoop.fs.Path(p).toString
      q == t || q.startsWith(t + "/") || t.startsWith(q + "/")
    }
    memo.keySet.removeIf(k => related(k._2))
    ()
  }
}
