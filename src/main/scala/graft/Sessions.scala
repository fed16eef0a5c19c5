package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's tuned SparkSession posture — ONE place both driver
  * mains (Bench, Verify) and any library consumer apply it from, so
  * the measured configuration is the ENGINE's, not a harness local
  * (round-17 verdict: a consumer building its own session silently
  * lost the cached-plan coalescing win when the flag lived only in
  * the mains).
  */
object Sessions {

  /** Apply the engine defaults to a builder. Every entry is
    * scale-adaptive or scale-neutral — nothing here is tuned to the
    * bench host's core count:
    *
    *  - `spark.sql.adaptive.enabled`: AQE on (default since 3.2,
    *    pinned for clarity) — partition coalescing and skew handling
    *    derive widths from runtime sizes.
    *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`:
    *    AQE may re-coalesce plans that feed a cache. Multi-consumer
    *    persisted relations (`materialized`, incremental-dedup
    *    probe sides) otherwise pin the session shuffle width into the
    *    cache and every downstream job launches session-width
    *    near-empty tasks over a tiny cached relation. Scale-neutral:
    *    at 100 TB cached relations are large and AQE's advisory size
    *    keeps them wide. (The r15 measurement that rejected this flag
    *    predates the generation-write sizing in StreamOps — it was
    *    re-measured as a win in round 17; see OPTIMIZATION_r17.md.)
    *  - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet has
    *    shipped as TIMESTAMP(NANOS) in some generations; keep the
    *    nanos form readable (Tables.events normalizes every encoding
    *    variant to TimestampType).
    *  - `spark.cleaner.periodicGC.interval=60s`: the ContextCleaner
    *    frees broadcast/checkpoint blocks only when the driver GCs;
    *    the 30 min default is longer than a whole bench run, so
    *    hundreds of query executions' broadcasts otherwise pile up in
    *    unified memory and late queries pay the eviction storm. At
    *    cluster scale a long-lived driver wants the same bound.
    *  - `spark.sql.codegen.cache.maxEntries=4500`: the JVM-wide LRU
    *    of compiled generated classes. Spark's default of 100 is
    *    exactly the kg-lookup working set (its eight request kinds
    *    compile 100 classes on first touch), so the LRU evicted classes
    *    still in use and every request recompiled ~4 of them (~49 ms).
    *    Generated code does not depend on a request's ids — string
    *    literals are passed as references, not inlined — so a cache
    *    that holds the working set compiles nothing after first touch.
    *    4500 holds the largest working set graft runs in one JVM: one
    *    `graft.Verify` pass over all 256 rows at sf0.01 compiles 4414
    *    distinct classes (counted with the cache unbounded), so a JVM
    *    that runs the registry more than once (Bench's warm-up and
    *    timed passes) keeps each row's classes between passes. An entry
    *    costs ~20 KB of heap (116 cached classes against one: +2.4 MB
    *    live after GC); a JVM fills the cache only as far as its own
    *    working set.
    *    Static: it takes effect only when set before the JVM's first
    *    codegen.
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.cleaner.periodicGC.interval", "60s")
    .config("spark.sql.codegen.cache.maxEntries", "4500")

  /** Persist and eagerly materialize a multi-consumer relation: its
    * consumers run as concurrent stages of one job, and a lazy cache
    * would be raced — each stage recomputing the relation before the
    * first one populates it. One count() up front makes every consumer
    * a cache read. A relation whose plan is already cached
    * (`storageLevel` consults the CacheManager with plan matching) —
    * a caller-shared input, or a plan a fixture block cached first —
    * passes through: the no-op re-persist logs `CacheManager: Asked to
    * cache already cached data` per call, and the bench tail is pinned
    * WARN-free. [[release]] drops what this persists.
    */
  private[graft] def materialized(df: DataFrame): DataFrame =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

  /** Drop one query's cached and checkpointed state before the next
    * starts. `clearCache` empties only the SQL CacheManager, so every
    * persistent RDD (localCheckpoint blocks) is unpersisted too, and
    * SYNCHRONOUSLY — non-blocking removal raced the next query and the
    * ContextCleaner (r4 driver tail). GC then enqueues the dead
    * references and the async cleaner needs a beat to drain them;
    * without it iterative queries crept rep-over-rep (q69: 8 s → 19 s
    * → 26 s). Best effort: a failure here must not fail the caller.
    */
  def release(spark: SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => }
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    catch { case _: Throwable => }
    System.gc()
    Thread.sleep(200)
  }
}
