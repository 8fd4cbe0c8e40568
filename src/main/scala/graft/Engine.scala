package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampNTZType, TimestampType}

/** Session factory + shared helpers for the graft engine.
  *
  * Tuned for the harness's `local[32]` single-JVM mode but written for a
  * real cluster: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), shuffle partitions sized to the active parallelism instead
  * of Spark's default 200, and broadcast joins left to Catalyst's
  * statistics with explicit `broadcast()` hints where we know a side is a
  * dimension table.
  */
object Engine {

  /** Confs fixed for the life of the JVM or the SparkContext: a session
    * built after the first one ignores them. [[session]] and the test
    * suite's session apply this one list, so the tests run under the
    * production settings.
    *
    * `spark.sql.codegen.cache.maxEntries` sizes the process-wide cache
    * of Janino-compiled generated classes (Spark's default is 100). A
    * Worker runs the same fetch → transform → store cycle every few
    * hours in one process, so a warm cycle should compile nothing, but
    * an LRU cache smaller than the cycle's working set evicts every
    * class before its reuse. Measured on `perfbench` `hourly_refresh`
    * (4 cores): the process generates ~400 distinct classes and one
    * `advance --delta --compact-at 2` needs ~160 of them. At 100 each
    * timed advance recompiled 300–305 classes (~5 s of Janino time,
    * and each recompiled class is a new class for the JIT); at 1000
    * the warm advances compile 4–8, the classes whose code inlines the
    * batch predicate's literal. CodegenReuseSpec holds the bound.
    */
  val StaticConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.ui.enabled" -> "false")

  def session(appName: String = "graft",
              cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's micros-based
      // TimestampType cannot hold — read as bigint epoch-nanos instead
      // (queries do exact integer arithmetic on it; DuckDB side uses
      // epoch_ns(ts) for the same value).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Let V2 sources that report KeyGroupedPartitioning (the
      // graft-shards store clusters by shard) satisfy downstream
      // distribution requirements without an exchange (storage-
      // partitioned joins / pre-partitioned aggregation).
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config(StaticConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.attach(spark)
    // deployment face of the reliable-checkpoint escape hatch (see the
    // lineage-truncation section below): every main engages it unedited
    sys.env.get("GRAFT_CHECKPOINT_DIR")
      .foreach(d => spark.conf.set(CheckpointDirKey, d))
    spark
  }

  /** Read one of the driver-generated tables (TESTDATA.md), normalizing
    * the event-time column to the engine's bigint epoch-nanos convention
    * (see [[normalizeTs]]).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  /** The ONE corpus-rewrite staleness hook: an operator that rewrites
    * a corpus dir IN PLACE (fixtures regenerated, a backfill landing
    * over the same path) calls this before re-querying, and every
    * pack's session-lifetime state keyed on that dir — the dedup
    * registries' derived frames and cached corpus scans, similarity's
    * trained IVF-PQ model and tracked relations — is dropped, so the
    * next call rereads the rewritten files instead of serving
    * pre-rewrite cached blocks (the cache manager matches canonical
    * plans, not file contents). Out of scope, deliberately: the
    * pid-scoped scratch STORES on disk (delete the scratch dir) and
    * pointer-served generation roots (immutable by contract — rewrite
    * means a new generation + flip, never an in-place edit).
    */
  def invalidateCorpus(spark: SparkSession, dir: String): Unit = {
    graft.operators.Dedup.invalidateLpEdges(spark, dir)
    graft.operators.Similarity.invalidateCorpus(spark, dir)
  }

  /** The driver's testdata has shipped `events.ts` in two physical
    * encodings across rounds: parquet TIMESTAMP(NANOS) (which
    * `nanosAsLong` surfaces as bigint epoch-nanos) and timestamp[us]
    * (which arrives as TIMESTAMP_NTZ / TIMESTAMP). Every downstream
    * operator does exact integer window math on epoch-nanos, so
    * normalize at the read boundary: a timestamp-typed `ts` becomes
    * `unix_micros(ts) * 1000`. The session time zone is UTC, so the
    * NTZ->LTZ cast is the identity on the underlying micros and the
    * conversion is exact. A bigint `ts` passes through untouched.
    * DuckDB oracles use epoch_us/epoch_ns on the same column, which are
    * correct for either timestamp encoding — so one normalization here
    * keeps 24 event queries agnostic to the fixture's physical type.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn(
          "ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  // ---------------------------------------------------------------------
  // Cross-engine-deterministic numerics.
  //
  // The driver's correctness gate hash-compares our result values against
  // DuckDB running the oracle SQL on the same parquet files. Raw
  // floating-point aggregation is NOT reproducible across engines (the
  // summation order differs), and even double->DECIMAL casts disagree
  // (Spark rounds the shortest string repr HALF_UP, DuckDB rounds the
  // true binary value). So every money/measure aggregate uses scaled
  // fixed-point built ONLY from IEEE ops that are bit-identical given
  // identical inputs, mirrored term-for-term in the oracle SQL:
  //
  //   1. compute the per-row measure in DOUBLE,
  //   2. quantize: floor(measure * 10000.0 + 0.5) AS BIGINT
  //      (multiply, add, floor — all exactly specified by IEEE 754),
  //   3. SUM the bigints (exact, order-independent),
  //   4. present as CAST(sum AS DOUBLE) / 10000.0 (sum < 2^53, so the
  //      int->double conversion is exact and the division is one
  //      correctly-rounded op in both engines).
  // ---------------------------------------------------------------------

  /** Step 2: per-row measure -> scaled fixed-point (1e-4 units). */
  def m4(c: Column): Column =
    floor(c.cast(DoubleType) * lit(10000.0) + lit(0.5)).cast(LongType)

  /** Step 4: scaled bigint -> presentation double. */
  def d2(c: Column): Column = c.cast(DoubleType) / lit(10000.0)

  /** SQL mirror of [[m4]]. */
  def m4s(e: String): String =
    s"CAST(floor(CAST($e AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)"

  /** SQL mirror of [[d2]]. */
  def d2s(e: String): String = s"(CAST($e AS DOUBLE) / 10000.0)"

  /** sum(m4(expr)) presented via d2 — the standard money aggregate. */
  def sumM(c: Column): Column = d2(sum(m4(c)))
  def sumMs(e: String): String = d2s(s"SUM(${m4s(e)})")

  // ---------------------------------------------------------------------
  // Lineage truncation with a fault-tolerance escape hatch.
  //
  // The engine truncates lineage at ~60 points: label-propagation
  // iteration chains (whose plans would otherwise grow per round),
  // registry-shared pair/edge frames (scanned by several consumers),
  // and incremental-fold intermediates. The DEFAULT is
  // localCheckpoint(): blocks pinned to executors, no filesystem
  // round-trip — measured optimal on local[32], and the right default
  // anywhere executors are stable. Its cost model on a real cluster:
  // one lost executor invalidates the truncated blocks WITHOUT a
  // recompute path (lineage is gone by design), failing a multi-hour
  // LP job outright — acceptable when jobs are short or retried at
  // the orchestrator level, unacceptable mid-way through a 100 TB
  // clustering pass.
  //
  // Setting `spark.conf.set("graft.checkpoint.dir", <hdfs/dbfs path>)`
  // routes EVERY truncation point through reliable checkpoint() into
  // that directory instead: blocks land on the cluster's fault-
  // tolerant store and survive executor loss (the standard cluster-LP
  // discipline). The trade is one distributed write + read per
  // truncation — BENCHING.md's adjudication quantifies it. Files
  // accumulate per checkpoint unless
  // `spark.cleaner.referenceTracking.cleanCheckpoints=true`; a
  // deployment points the dir at a TTL'd scratch bucket.
  // ---------------------------------------------------------------------

  /** Runtime-conf key selecting reliable checkpoints (see above). */
  val CheckpointDirKey = "graft.checkpoint.dir"

  // last dir this process set per context — setCheckpointDir is
  // context-global, while graft.checkpoint.dir is per-SESSION runtime
  // conf, so two sessions on one context with different values could
  // flap the global setting and land one session's checkpoint in the
  // other's directory (e.g. a TTL'd scratch bucket purged on a
  // different schedule). A per-context read-write lock closes that:
  // checkpoints under the CURRENT dir share the read lock (the steady
  // state — fully concurrent), a dir CHANGE takes the write lock, so
  // it waits out in-flight checkpoints and its own checkpoint cannot
  // be flapped mid-write either.
  private val ckptDirSet =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext, String]
  private val ckptLocks =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext,
      java.util.concurrent.locks.ReentrantReadWriteLock]

  /** Truncate `df`'s lineage: localCheckpoint() by default, reliable
    * checkpoint() into [[CheckpointDirKey]] when set. Both eager, so
    * call-site semantics (materialize-now) are identical.
    */
  def truncate(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(CheckpointDirKey) match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // sweep stopped contexts from BOTH maps (the FrameRegistry
        // purgeDead discipline): a process that cycles contexts must
        // not pin each dead one plus its lock for the process lifetime
        ckptLocks.keySet.removeIf(_.isStopped)
        ckptDirSet.keySet.removeIf(_.isStopped)
        val lock = ckptLocks.computeIfAbsent(sc,
          _ => new java.util.concurrent.locks.ReentrantReadWriteLock)
        val r = lock.readLock()
        r.lock()
        val fast =
          try {
            if (ckptDirSet.get(sc) == dir) Some(df.checkpoint()) else None
          } finally r.unlock()
        fast.getOrElse {
          val w = lock.writeLock()
          w.lock()
          try {
            if (ckptDirSet.get(sc) != dir) {
              sc.setCheckpointDir(dir)
              ckptDirSet.put(sc, dir)
            }
            df.checkpoint()
          } finally w.unlock()
        }
    }

  /** Run `body` with the given session conf values set, restoring each
    * key in `finally` — to its prior value, or unset if it was unset.
    * The ONE save/set/restore scope for every harness-local conf flip,
    * so none can drift or leak. The flip is session-global for its
    * duration (safe for the sequential Verify/Bench harnesses), and it
    * only covers work the body forces inside the scope: a lazily
    * returned DataFrame plans after the restore.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val was = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally was.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Postfix face of [[truncate]] — the engine's truncation points
    * read `frame.truncated()` where they once read
    * `frame.localCheckpoint()`.
    */
  implicit final class GraftFrameOps(private val df: DataFrame)
      extends AnyVal {
    def truncated(): DataFrame = truncate(df)
  }
}

/** A named group of queries plus their DuckDB oracle SQL. Each operator
  * pack contributes one; [[SparkEntry]] is the union.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** DuckDB-runnable ANSI SQL per query key; keys absent here get the
    * driver's weaker rows-only check (non-SQL-expressible operators).
    */
  def oracles: Map[String, String]
}
