package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit}

import graft.Engine._
import graft.QueryPack
import graft.operators.{Banded, BandedStore, Dedup, Multimodal, Similarity, StoreKind}

/** Oracle gates for the Structured Streaming surface: each replay
  * family feeds a fixture through one streaming operator as a real
  * multi-batch stream and hash-compares the emitted rows against an
  * independent DuckDB restatement of the operator's semantics.
  *
  * Every family is one row of [[families]]; one driver ([[replay]])
  * runs them all, and each row yields two keys — `st_<name>_replay`
  * (in-order feed) and `st_<name>_ooo_replay` (bounded feed disorder,
  * see [[jittered]]) — that share the row's oracle by construction.
  *
  * Replay protocol: rows enter in event-time order, split into
  * [[ReplayBatches]] micro-batches with explicit boundaries
  * (`processAllAvailable` per batch), so the run exercises cross-batch
  * state carry, watermark advancement, and the event-time timeout
  * path — not just one big batch. Deferral-based operators then drain
  * through the family's flush sentinels ([[Flush]]).
  *
  * The near-dup family, for instance: documents enter at one tick
  * (1 s of event time) per doc_id. The operator's gap-based owner
  * eviction makes the match set a pure function of event-time order
  * (see nearDupStream's scaladoc), which is what the oracle restates
  * as gaps-and-islands SQL: break a band bucket's timeline wherever
  * consecutive activity is more than [[HorizonTicks]] apart; every
  * document in an island matches the island's first document, one row
  * per colliding band. The horizon is deliberately SMALLER than the
  * fixture's median collision gap so the replay exercises both
  * outcomes: close collisions match, stale buckets evict and re-own.
  */
object StreamReplay extends QueryPack {

  /** Event-time per doc_id step: 1 second. */
  private[graft] val TickNs = 1000000000L
  /** Owner liveness horizon in ticks (= seconds of event time). The
    * sf0.01 fixture's band-collision doc_id gaps span 1..400+ with a
    * median of ~154, so 128 ticks yields a healthy mix of matches and
    * evictions.
    */
  private[graft] val HorizonTicks = 128L
  private[graft] val HorizonNs = HorizonTicks * TickNs
  /** Number of micro-batches the corpus is split into. Three is the
    * smallest count that still exercises what the gates exist for —
    * state carried across a batch boundary, watermark advanced
    * mid-replay (boundary 1), and a boundary landing while earlier
    * batches' deferred rows are still draining (boundary 2) — and the
    * per-batch scheduling floor is the replay family's dominant wall
    * cost, so the harness doesn't buy batches it doesn't need.
    * Disorder coverage doesn't lean on this count: the _ooo gates
    * jitter feed positions across whatever boundaries exist, and
    * DisorderPropertySpec sweeps random orders with its own batching.
    */
  private[graft] val ReplayBatches = 3

  private val DayNs = 86400000000000L

  private val sinkSeq = new java.util.concurrent.atomic.AtomicInteger

  /** Detach a replay's memory sink from the catalog and hand back its
    * rows as a plain DataFrame. Every gate funnels its sink through
    * this: the temp view is dropped as soon as the (eagerly analyzed)
    * DataFrame holds the resolved relation, so a bench/verify session
    * running dozens of replay reps doesn't accumulate one driver-heap
    * row-set per rep for the session's lifetime — the rows become
    * garbage as soon as the caller drops the returned frame. (r16:
    * sinks were never dropped before; 40+ retained result sets were
    * exactly the kind of heap ballast the late-run bench regressions
    * correlate with.)
    */
  private def detachSink(s: SparkSession, sink: String): DataFrame = {
    val out = s.table(sink)
    s.catalog.dropTempView(sink)
    out
  }

  /** Run `body` under the replay conf scope (restored on exit):
    *
    *  - shuffle partitions scoped down to 2: a stateful streaming
    *    query creates one state-store partition per shuffle partition
    *    PER micro-batch, so at fixture scale 32 partitions mean ~160
    *    state-store commits of a few rows each — pure per-batch
    *    overhead, measured ~25% of replay wall. The production ingest
    *    path sizes partitions for corpus-scale state as usual.
    *    Measured at sf0.1: 2 beats 4 by 8-11% on the stream-stream
    *    join and sessionizer replays (fewer state-store commits per
    *    batch) while 1 is worse (no task overlap at all).
    *  - the heap-backed checkpoint manager (r22): the replay gates'
    *    per-batch floor was profiled to the Hadoop-FS software path
    *    under the offset/commit WAL and the state-store delta commits
    *    (~150-400 ms per batch; a RAM-disk checkpoint changed nothing,
    *    so it is not disk). The manager preserves every checkpoint
    *    semantic the gates use (atomic visibility, no-overwrite
    *    create, list/delete, cross-batch state read-back) in process
    *    memory — a local-mode measurement-harness conf, NOT a
    *    production setting (see InMemoryCheckpointFileManager's scope
    *    note). Every gate's oracle hash re-verified identical under it.
    *  - no-data micro-batches OFF (the default-on extra batch after
    *    every data batch that applies the just-advanced watermark):
    *    they double the micro-batch count — the replay family's cost
    *    is a per-batch scheduling floor, not compute — and the replay
    *    protocol never needs them, because a watermark advanced by
    *    batch k is applied by batch k+1 and every flushing gate ends
    *    with a sentinel-terminated data batch whose watermark a FINAL
    *    sentinel batch applies (see [[Flush]]). The final sentinel
    *    re-raises to the same flush value, so the dropped trailing
    *    no-data batch had nothing left to emit. Emissions shift one
    *    batch earlier or later; the accumulated append-mode sink is
    *    identical — re-verified by every gate's oracle hash.
    */
  private def withReplayPartitions[T](s: SparkSession)(body: => T): T =
    withConf(s,
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[InMemoryCheckpointFileManager].getName,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(body)

  /** The replay batching protocol, defined ONCE: ceil-divide the feed
    * into [[ReplayBatches]] equal micro-batches.
    */
  private def batched[T](items: Seq[T]): IndexedSeq[IndexedSeq[T]] = {
    val per = math.max(1, (items.length + ReplayBatches - 1) / ReplayBatches)
    items.grouped(per).map(_.toIndexedSeq).toIndexedSeq
  }

  /** The at-least-once crash-re-delivery batching, defined ONCE for
    * every exactly-once ingest gate: each batch k >= 1 first
    * re-delivers the whole previous batch, then repeats its own head
    * mid-batch — the page-oriented source resuming after a crash.
    */
  private def atLeastOnce[T](batches: IndexedSeq[IndexedSeq[T]])
      : IndexedSeq[IndexedSeq[T]] =
    batches.zipWithIndex.map { case (b, i) =>
      val redelivered =
        if (i == 0) IndexedSeq.empty[T] else batches(i - 1)
      redelivered ++ b ++ b.take(math.max(1, b.length / 4))
    }

  /** Deterministic bounded feed disorder, defined ONCE for every _ooo
    * gate: each event is displaced by a pseudo-random jitter of up to
    * `slackNs` in feed POSITION (multiplicative hash of event_id; the
    * event keeps its own ts), so all gates exercise the same disorder
    * model and each caller's jitter bound stays strictly inside its
    * watermark delay.
    */
  private def jittered[T](rows: Seq[T], slackNs: Long)
                         (ts: T => Long, id: T => Long): IndexedSeq[T] =
    rows.sortBy(r =>
      (ts(r) + java.lang.Math.floorMod(id(r) * 2654435761L, slackNs),
        id(r))).toIndexedSeq

  /** The store a family's stream probes, built ONCE per corpus and
    * predicate (`pred` selects the stored rows; "" = the kind's own
    * build half). The ivfpq kind ignores `pred`.
    */
  private final case class Served(kind: StoreKind, pred: String = "") {
    def ensure(s: SparkSession, dir: String): String = kind match {
      case k: Banded      => BandedStore.ensure(k, s, dir, pred)
      case StoreKind.IvfPq => Similarity.ensureIvfPqStore(s, dir)
    }
  }

  /** How each micro-batch reaches the query's input stream(s): one
    * stream per side, each fed the batch rows its side accepts.
    */
  private sealed trait Feed[-T] { def sides: Seq[T => Boolean] = Seq(_ => true) }
  private case object Plain extends Feed[Any]
  /** Plain, with every feed batch re-delivered as [[atLeastOnce]]. */
  private case object AtLeastOnce extends Feed[Any]
  /** Several input streams batched in lockstep over the same global
    * batch boundaries (the stream-stream join's two sides). */
  private final case class Lockstep[T](override val sides: Seq[T => Boolean])
      extends Feed[T]

  /** Where a family's flush sentinels ride after the feed batches. */
  private sealed trait Tail
  /** The two-batch sentinel flush for deferral-based operators: one
    * far-future sentinel (id -1) advances the watermark past every
    * buffered obligation (published at that batch's END), then a
    * second batch (id -2) at the same ts fires the timeouts the
    * advance armed. A sentinel's own state (if its type even reaches
    * the operator) sits past the final watermark and never emits, and
    * every flushing family's projection filters its reserved ids.
    */
  private case object TwoBatch extends Tail
  /** The first sentinel rides in the LAST feed batch — a row is
    * late-filtered against the watermark published by the PREVIOUS
    * batch, so the sentinel cannot drop its own batch-mates, and that
    * batch's END publishes the flushed watermark; one trailing
    * sentinel batch then applies it (r16: one micro-batch fewer than
    * [[TwoBatch]] at identical sink contents).
    */
  private case object InLastBatch extends Tail
  /** One trailing sentinel batch (id -1) that advances no watermark
    * but runs one more micro-batch, in which every timeout armed by
    * the last feed batch's watermark fires deterministically.
    */
  private case object OneBatch extends Tail
  /** A flush: its tail and the sentinel for (fed rows, sentinel id). */
  private final case class Flush[T](tail: Tail, sentinel: (IndexedSeq[T], Long) => T)

  /** One replay family — a row of [[families]].
    *
    * @param name     key stem: the row gates `st_<name>_replay` and
    *                 `st_<name>_ooo_replay`
    * @param load     the fixture rows in feed order (in-order gate)
    * @param ts       a row's event time, for [[jittered]]
    * @param id       a row's tie-break id, for [[jittered]]
    * @param oooSlackNs the _ooo gate's jitter bound over the loaded
    *                 rows, strictly inside the operator's watermark
    *                 delay (or its dedup state TTL)
    * @param store    the served store the stream probes, if any
    * @param stream   (input streams, served store path or "", fed
    *                 rows) -> the streaming query under test
    * @param feed     how batches reach the input stream(s)
    * @param flush    the drain after the feed, if the operator defers
    * @param project  sink rows -> the gated projection and order
    * @param oracle   DuckDB SQL of the batch semantics both keys equal
    */
  private final case class Family[T <: Product : TypeTag](
      name: String,
      load: (SparkSession, String) => IndexedSeq[T],
      ts: T => Long, id: T => Long,
      oooSlackNs: IndexedSeq[T] => Long,
      store: Option[Served] = None,
      stream: (Seq[MemoryStream[T]], String, IndexedSeq[T]) => Dataset[_],
      feed: Feed[T] = Plain,
      flush: Option[Flush[T]] = None,
      project: DataFrame => DataFrame,
      oracle: String) {
    def enc: Encoder[T] = Encoders.product[T]
    def key(ooo: Boolean): String =
      s"st_${name}_${if (ooo) "ooo_" else ""}replay"
    def keys: Seq[String] = Seq(key(false), key(true))
  }

  /** Every micro-batch a replay feeds, in order: the [[batched]] feed
    * (re-delivered under [[AtLeastOnce]]), then the flush sentinels.
    */
  private def protocol[T <: Product](f: Family[T], fed: IndexedSeq[T])
      : IndexedSeq[IndexedSeq[T]] = {
    val data = f.feed match {
      case AtLeastOnce => atLeastOnce(batched(fed))
      case _           => batched(fed)
    }
    f.flush.fold(data) { case Flush(tail, sentinel) =>
      def one(id: Long) = IndexedSeq(sentinel(fed, id))
      tail match {
        case TwoBatch    => data :+ one(-1L) :+ one(-2L)
        case InLastBatch => data.init :+ (data.last ++ one(-1L)) :+ one(-2L)
        case OneBatch    => data :+ one(-1L)
      }
    }
  }

  /** The one replay driver: load (and for _ooo, jitter) the family's
    * rows, ensure its served store, run its stream into a memory sink
    * under the replay conf scope over [[protocol]]'s batches, and
    * project the detached sink. Fixture-scale harness: the fixture is
    * collected to the driver ONLY to feed MemoryStream with explicit
    * batch boundaries; the production ingest path is readStream ->
    * operator with no driver hop.
    */
  private def replay[T <: Product](f: Family[T], ooo: Boolean)
                                  (s: SparkSession, dir: String): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val enc: Encoder[T] = f.enc
    val rows = f.load(s, dir)
    val fed = if (ooo) jittered(rows, f.oooSlackNs(rows))(f.ts, f.id) else rows
    val store = f.store.fold("")(_.ensure(s, dir))
    val sides = f.feed.sides
    val ins = sides.map(_ => MemoryStream[T])
    val sink = s"st_${f.name}_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = f.stream(ins, store, fed)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try protocol(f, fed).foreach { b =>
        ins.zip(sides).foreach { case (in, side) =>
          in.addData(b.filter(side))
        }
        q.processAllAvailable()
      } finally q.stop()
    }
    f.project(detachSink(s, sink))
  }

  /** The documents `pred` selects as a doc stream, `ts` ticks apart in
    * doc_id order. ts never starts at zero: an epoch-0 event time sits
    * exactly on the initial watermark and the stateful operator's
    * late-row predicate can drop it.
    */
  private def tickedDocs(s: SparkSession, dir: String, pred: String,
                         ts: String): IndexedSeq[StreamDoc] = {
    import s.implicits._
    table(s, dir, "documents").where(pred)
      .selectExpr("doc_id", s"($ts) * ${TickNs}L AS ts", "text")
      .as[StreamDoc].collect().sortBy(_.doc_id).toIndexedSeq
  }

  /** The embeddings `pred` selects as a vector stream, `ts` ticks apart
    * in vec_id order. */
  private def tickedVecs(s: SparkSession, dir: String, pred: String,
                         ts: String): IndexedSeq[StreamVec] = {
    import s.implicits._
    table(s, dir, "embeddings").where(pred)
      .selectExpr("vec_id", s"($ts) * ${TickNs}L AS ts", "embedding")
      .as[StreamVec].collect().sortBy(_.vec_id).toIndexedSeq
  }

  /** The ingest half's tick: rank in id order, from one. */
  private def rankTick(id: String) = s"row_number() OVER (ORDER BY $id)"

  /** The events fixture with ts as `ts`, sorted for in-order replay. */
  private def events(ts: String)(s: SparkSession, dir: String)
      : IndexedSeq[Event] = {
    import s.implicits._
    table(s, dir, "events")
      .selectExpr("event_id", s"$ts AS ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id)).toIndexedSeq
  }

  /** The documents fixture as a media stream (payload = the UTF-8 text
    * bytes, the mm pack's stand-in). */
  private def mediaItems(s: SparkSession, dir: String)
      : IndexedSeq[StreamMedia] = {
    import s.implicits._
    table(s, dir, "documents")
      .selectExpr("doc_id", s"(doc_id + 1) * ${TickNs}L AS ts",
        "source AS modality", "cast(text AS binary) AS payload")
      .as[StreamMedia].collect().sortBy(_.doc_id).toIndexedSeq
  }

  /** The media replay's study horizon: the corpus span plus a tick. */
  private def mediaSpanNs(items: IndexedSeq[StreamMedia]): Long =
    (items.map(_.doc_id).max + 2L) * TickNs

  /** An event sentinel `afterNs` past the fed rows' max ts, carrying
    * the reserved user -1. */
  private def eventSentinel(afterNs: Long, eventType: String)
      : (IndexedSeq[Event], Long) => Event =
    (evs, id) => Event(id, evs.map(_.ts).max + afterNs, -1L, eventType, 0.0)

  /** The _ooo jitter every served-store gate shares: 64 ticks, strictly
    * inside the 10-minute pair-dedup delay — the stream-static probes
    * are stateless, so the only disorder hazard is a pair's duplicate
    * band hits outliving the dedup state, which 64 s of jitter against
    * a 600 s TTL cannot.
    */
  private val StoreSlackNs = 64L * TickNs
  /** 20 minutes of feed-order disorder: inside the 30-minute delay
    * (sessions gap, attribution per-side delay, dedup horizon, window
    * delay) of every event family that uses it. */
  private val TwentyMinNs = 1200L * 1000000000L

  /** Session gap for the sessionizer replay: 30 minutes, the same gap
    * as the batch q18_sessionize query, so the two rows cross-check the
    * same session structure computed three independent ways (stream
    * state machine, Spark batch window, DuckDB gaps-and-islands).
    */
  private[graft] val SessionGapNs = 1800L * 1000000000L

  /** Watermark delay for the funnel replays: 2 days — comfortably above
    * the OOO gate's 1-day feed disorder (so nothing late-drops) and far
    * below [[Streams.FunnelIdleTtlDays]] so the no-mid-replay-expiry
    * guard's margin is the TTL itself.
    */
  private val FunnelReplayDelayDays = 2L
  private val FunnelReplayDelay = s"$FunnelReplayDelayDays days"
  private val FunnelReplayDelayNs = FunnelReplayDelayDays * DayNs

  /** The funnel replays' no-mid-replay-expiry guard. A full-history
    * replay must reproduce the batch funnel exactly, so no user's
    * state may expire mid-replay (expiry + later activity restarts the
    * funnel and re-emits step 1 — the operator's documented
    * bounded-state approximation). A user can only expire while still
    * having undrained events if some consecutive per-user gap exceeds
    * the idle TTL (+ the watermark delay, which only adds slack), so
    * guard on the largest gap over the funnel's step events — a
    * fixture regeneration that opens a TTL-sized hole fails loudly
    * here instead of silently double-counting step 1.
    */
  private def funnelTtlGuard(evs: Seq[Event]): Unit = {
    val funnelTtlNs = Streams.FunnelIdleTtlDays * DayNs
    val stepTypes = Set("view", "click", "purchase") // funnelStream default
    val maxGapNs = evs.filter(e => stepTypes(e.event_type))
      .groupBy(_.user_id).values.map { es =>
        val ts = es.map(_.ts).sorted
        if (ts.size < 2) 0L
        else ts.sliding(2).map(p => p(1) - p(0)).max
      }.foldLeft(0L)(math.max)
    require(maxGapNs < funnelTtlNs,
      s"FunnelIdleTtlDays (${Streams.FunnelIdleTtlDays}) too SMALL for " +
        s"this fixture: a user has a ${maxGapNs / DayNs}-day " +
        "event gap, so their funnel state would expire mid-replay and " +
        "the sink would diverge from the batch oracle")
  }

  /** Attribution window for the stream-stream join replay: 1 hour,
    * [[Streams.attributeStream]]'s default.
    */
  private val AttribWindowUs = 3600000000L

  // Retention replay watermark delay = the replay's STUDY HORIZON (25
  // days), not the production lateness knob, chosen for the 30-day
  // fixture (days 19723..19752; first-seen cohort days cluster in the
  // first few days, through 19726 at sf0.1) so that by end of feed the
  // watermark (last_ts - 25 d ~= day 19727.98) (a) has passed every
  // cohort day start -> all provisional cohorts finalize and emit, and
  // (b) has NOT reached the first window-lapse boundary ((min cohort +
  // maxOffset + 1) * day) -> no state expires mid-replay, because
  // expiry + post-window re-activity would re-cohort the user (the
  // documented bounded-state approximation) and a full-history replay
  // must reproduce exact batch MIN(day) semantics. Backfill lateness
  // and steady-state lateness are different deployment knobs;
  // StreamsSpec covers the short-delay expiry path the fixture must
  // avoid. Both window conditions are ASSERTED against the actual feed
  // ([[retentionWindowGuard]]), so a fixture regeneration that moves
  // cohorts outside the window fails loudly naming this constant
  // instead of silently dropping rows.
  private val RetentionReplayDelayDays = 25L
  private val RetentionReplayDelay = s"$RetentionReplayDelayDays days"

  /** The retention replays' window guard: every cohort finalizes by
    * the end of the feed, and none lapses mid-replay. */
  private def retentionWindowGuard(evs: Seq[Event]): Unit = {
    val wmEndNs = evs.map(_.ts).max - RetentionReplayDelayDays * DayNs
    val cohortDays = evs.groupBy(_.user_id).values
      .map(_.map(_.ts).min / DayNs)
    // Spark fires an event-time timeout only when timeout < watermark
    // STRICTLY, on the millisecond channel (the watermark is the
    // ms-floored max event time minus delay) — so the guard must be
    // strict on that same ms channel: a fixture landing exactly on the
    // boundary would pass a <=-on-nanos check yet never finalize its
    // max cohort, surfacing as a confusing oracle hash mismatch
    // instead of this loud require.
    require(cohortDays.max * DayNs / 1000000L < wmEndNs / 1000000L,
      s"RetentionReplayDelay ($RetentionReplayDelay) too LARGE for this " +
        s"fixture: the end-of-feed watermark (day ${wmEndNs / DayNs}) " +
        s"never strictly passes cohort day ${cohortDays.max} on the ms " +
        "timeout channel, so that cohort would never finalize and the " +
        "replay would drop its rows")
    require((cohortDays.min + Streams.RetentionMaxOffset + 1) * DayNs > wmEndNs,
      s"RetentionReplayDelay ($RetentionReplayDelay) too SMALL for this " +
        s"fixture: the watermark (day ${wmEndNs / DayNs}) passes cohort " +
        s"${cohortDays.min}'s window-lapse boundary mid-replay, so its " +
        "users' state would expire and post-window activity re-cohort")
  }

  // The eviction semantics, restated: per (band, bucket), order the
  // documents by event time, break the timeline where the gap between
  // consecutive documents exceeds the horizon (the stream refreshes a
  // bucket's `last_ns` on every row, so liveness is consecutive-gap,
  // not distance-to-owner), then match every non-head document of an
  // island to the island head.
  private val stNearDupReplaySql =
    s"""WITH ${Dedup.duckBandRowsSql},
       |w AS (
       |  SELECT band, bk, doc_id,
       |    CASE WHEN (doc_id - lag(doc_id) OVER
       |           (PARTITION BY band, bk ORDER BY doc_id)) * $TickNs
       |         > $HorizonNs THEN 1 ELSE 0 END AS brk
       |  FROM nd_bands),
       |isl AS (
       |  SELECT band, bk, doc_id,
       |    SUM(brk) OVER (PARTITION BY band, bk ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM w)
       |SELECT doc_id, owner_id, CAST(band AS BIGINT) AS band FROM (
       |  SELECT doc_id, band,
       |    MIN(doc_id) OVER (PARTITION BY band, bk, grp) AS owner_id
       |  FROM isl)
       |WHERE doc_id <> owner_id
       |ORDER BY doc_id, owner_id, band""".stripMargin

  // The batch restatement: guarded band rows (shared CTE with every
  // embed oracle), old-new bucket colliders, exact rounded-cosine
  // verify — the DISTINCT mirrors the stream's per-pair dedup of
  // per-band evidence.
  private val stStoreDedupReplaySql =
    s"""WITH ${Dedup.duckEmbedBandsSql},
       |sp AS (SELECT max(vec_id) // 2 + 1 AS s FROM embeddings),
       |cand AS (
       |  SELECT DISTINCT n.vec_id AS vec_id, o.vec_id AS owner_id
       |  FROM emb_bands n JOIN emb_bands o
       |    ON n.band = o.band AND n.bkt = o.bkt
       |  JOIN sp ON n.vec_id >= sp.s AND o.vec_id < sp.s)
       |SELECT cand.vec_id, cand.owner_id FROM cand
       |JOIN e a ON a.vec_id = cand.vec_id
       |JOIN e b ON b.vec_id = cand.owner_id
       |WHERE ${Dedup.duckEmbedCos("a", "b")} >= 0.4
       |ORDER BY cand.vec_id, cand.owner_id""".stripMargin

  // The sessionizer's semantics, restated as gaps-and-islands: per
  // user, order events by (time, event_id), break the timeline where
  // the inter-event gap exceeds the session gap, and aggregate each
  // island to one session row. Micros on both sides (epoch_us ==
  // ts div 1000 for the micro-aligned feed).
  private val stSessionsReplaySql = {
    val gapUs = SessionGapNs / 1000L
    s"""WITH w AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
       |           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |         > $gapUs THEN 1 ELSE 0 END AS brk
       |  FROM events),
       |isl AS (
       |  SELECT user_id, us,
       |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM w)
       |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MAX(us) - MIN(us) AS duration_us
       |FROM isl GROUP BY user_id, grp
       |ORDER BY user_id, start_us""".stripMargin
  }

  private val stFunnelReplaySql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e
      |       JOIN s1 ON s1.user_id = e.user_id
      |       WHERE event_type = 'click' AND us > t1 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e
      |       JOIN s2 ON s2.user_id = e.user_id
      |       WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id)
      |SELECT user_id, step, at_us FROM (
      |  SELECT user_id, CAST(1 AS BIGINT) AS step, t1 AS at_us FROM s1
      |  UNION ALL
      |  SELECT user_id, CAST(2 AS BIGINT), t2 FROM s2
      |  UNION ALL
      |  SELECT user_id, CAST(3 AS BIGINT), t3 FROM s3)
      |ORDER BY user_id, step""".stripMargin

  private val stAttribReplaySql =
    s"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       |  epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us,
       |  p.value
       |FROM events c JOIN events p
       |  ON c.event_type = 'click' AND p.event_type = 'purchase'
       | AND p.user_id = c.user_id
       | AND epoch_us(p.ts) >= epoch_us(c.ts)
       | AND epoch_us(p.ts) <= epoch_us(c.ts) + $AttribWindowUs
       |ORDER BY purchase_id, click_id""".stripMargin

  private val stDedupReplaySql =
    """SELECT event_id, epoch_us(ts) AS us, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  private val stMmIngestReplaySql =
    """SELECT doc_id AS keep_id, md5(text) AS digest,
      |  source AS modality, CAST(strlen(text) AS BIGINT) AS n_bytes
      |FROM (SELECT doc_id, text, source,
      |        row_number() OVER (PARTITION BY md5(text)
      |          ORDER BY doc_id) AS rn
      |      FROM documents)
      |WHERE rn = 1 ORDER BY digest""".stripMargin

  private val stWindowReplaySql = {
    val hourUs = 3600000000L
    s"""SELECT win * $hourUs AS win_start_us, event_type,
       |  COUNT(*) AS n
       |FROM (SELECT epoch_us(ts) // $hourUs AS win, event_type
       |      FROM events)
       |GROUP BY win, event_type ORDER BY win_start_us, event_type""".stripMargin
  }

  private val stRetentionReplaySql = {
    val dayUs = 86400000000L
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $dayUs AS day
       |  FROM events),
       |coh AS (
       |  SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id)
       |SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
       |  CAST(COUNT(*) AS BIGINT) AS n_users
       |FROM ud JOIN coh c ON ud.user_id = c.user_id
       |WHERE ud.day - c.cohort_day <= ${Streams.RetentionMaxOffset}
       |GROUP BY c.cohort_day, ud.day - c.cohort_day
       |ORDER BY cohort_day, day_offset""".stripMargin
  }

  private def pairs(id: String): DataFrame => DataFrame =
    _.selectExpr(id, "owner_id").orderBy(id, "owner_id")

  /** The replay families, one row each. */
  private val families: Seq[Family[_ <: Product]] = Seq(

    // The near-dup gate: the documents fixture at one tick per doc_id
    // through nearDupStream. The deferred fold holds the trailing
    // horizon of band rows; the sentinel must produce band rows to
    // advance the watermark, so it reuses a REAL document's text at a
    // far-future tick — every bucket it lands in has lapsed by then,
    // so it re-owns and emits nothing, and its negative doc_id is
    // filtered out. _ooo: each doc displaced by up to 64 ticks in feed
    // position — half the 128-tick horizon (= the watermark delay), so
    // nothing is late-dropped, but documents routinely reach a bucket
    // behind later colliders. The sink must STILL equal the
    // gaps-and-islands oracle — the buffer-and-drain fold keeps the
    // owner chain a pure function of event-time order, where the old
    // fold-on-arrival machine would have crowned whichever collider
    // arrived first.
    Family[StreamDoc](
      name = "neardup",
      load = tickedDocs(_, _, "true", "doc_id + 1"),
      ts = _.ts, id = _.doc_id, oooSlackNs = _ => 64L * TickNs,
      stream = (ins, _, _) => Streams.nearDupStream(ins.head.toDF(), HorizonNs),
      flush = Some(Flush[StreamDoc](TwoBatch, (docs, id) =>
        StreamDoc(id, docs.map(_.ts).max + 3 * HorizonNs, docs.head.text))),
      project = _.filter("doc_id >= 0 AND owner_id >= 0")
        .selectExpr("doc_id", "owner_id", "cast(band as bigint) AS band")
        .orderBy("doc_id", "owner_id", "band"),
      oracle = stNearDupReplaySql),

    // Ingest vectors deduped against the SERVED embed-cluster store:
    // the store is built ONCE from the old vector half (the same
    // scratch store dd_embed_cluster_store gates), the stream feeds
    // the NEW half as ticked vectors, and the sink must equal the
    // batch restatement — every (new, stored) pair that shares an
    // RH-LSH band bucket AND cosine-verifies at >= 0.4, exactly the
    // old-new slice of the fold's probe. No flush sentinel: the only
    // stateful operator is a watermarked dropDuplicates, which emits
    // append rows immediately (the watermark bounds its state, never
    // defers output). The same holds for every served-store row.
    Family[StreamVec](
      name = "store_dedup",
      load = (s, dir) => {
        val split = Dedup.embedSplit(s, dir)
        tickedVecs(s, dir, s"vec_id >= $split", s"vec_id - $split + 1")
      },
      ts = _.ts, id = _.vec_id, oooSlackNs = _ => StoreSlackNs,
      store = Some(Served(StoreKind.Embed)),
      stream = (ins, store, _) => Streams.storeDedupStream(ins.head.toDF(), store),
      project = pairs("vec_id"),
      oracle = stStoreDedupReplaySql),

    // The MinHash twin: the persistent cluster store is built ONCE
    // from the old document half (the same scratch store
    // dd_cluster_store gates), the stream feeds the NEW half as ticked
    // docs, and the sink must equal the INDEPENDENT all-pairs old-new
    // Jaccard spec (Dedup's oracle discipline for this family: the
    // banding is never restated, so the gate verifies the stream's
    // banded recall against the exact spec on real data).
    Family[StreamDoc](
      name = "store_neardup",
      load = tickedDocs(_, _, s"NOT (${Dedup.oldPred})", rankTick("doc_id")),
      ts = _.ts, id = _.doc_id, oooSlackNs = _ => StoreSlackNs,
      store = Some(Served(StoreKind.Cluster)),
      stream = (ins, store, _) =>
        Streams.storeNearDupStream(ins.head.toDF(), store),
      project = pairs("doc_id"),
      oracle = Dedup.duckStoreNearDupSql),

    // The streaming face of dd_decontaminate: the eval slice's
    // signature store is built ONCE (over evalPred — at deployment
    // scale, once per eval release), the stream feeds every CORPUS doc
    // as ticked ingest, and each arrival that Jaccard-matches a stored
    // eval doc is flagged ON ARRIVAL as (doc_id, owner_id = the leaked
    // eval doc) — contamination never waits for the nightly batch
    // pass. The probe machinery is storeNearDupStream unchanged; only
    // the served store differs. Gated against the INDEPENDENT
    // all-pairs corpus-vs-eval spec, the same pair set
    // dd_decontaminate aggregates (StoreDecontaminateReplaySpec pins
    // that agreement in-engine).
    Family[StreamDoc](
      name = "decontaminate",
      load = tickedDocs(_, _, s"NOT (${Dedup.evalPred})", rankTick("doc_id")),
      ts = _.ts, id = _.doc_id, oooSlackNs = _ => StoreSlackNs,
      store = Some(Served(StoreKind.Cluster, Dedup.evalPred)),
      stream = (ins, store, _) =>
        Streams.storeNearDupStream(ins.head.toDF(), store),
      project = pairs("doc_id"),
      oracle = Dedup.duckDecontaminateReplaySql),

    // The SEMANTIC twin (lexical leakage escapes paraphrase; embedding
    // similarity does not): the eval slice's embed store is built once
    // (evalVecPred), every corpus vector streams through the unchanged
    // storeDedupStream probe, and arrivals that cosine-match (>= 0.4)
    // a stored eval vector are flagged online. Gated against the
    // banded corpus-vs-eval slice — the dd_decontaminate_semantic
    // oracle convention, pairwise.
    Family[StreamVec](
      name = "decontaminate_semantic",
      load = tickedVecs(_, _, s"NOT (${Dedup.evalVecPred})", rankTick("vec_id")),
      ts = _.ts, id = _.vec_id, oooSlackNs = _ => StoreSlackNs,
      store = Some(Served(StoreKind.Embed, Dedup.evalVecPred)),
      stream = (ins, store, _) => Streams.storeDedupStream(ins.head.toDF(), store),
      project = pairs("vec_id"),
      oracle = Dedup.duckDecontaminateSemanticReplaySql),

    // Online ANN top-k against the SERVED IVF-PQ store: the
    // full-corpus-trained index is persisted ONCE (the same
    // ensureIvfPqStore instance sim_ivfpq_stored gates), the query
    // batch (vec_id >= IvfQ, exactly the batch key's query set) streams
    // in as ticked vectors, and the per-query top-3 must equal the
    // batch serving plan — the oracle IS sim_ivfpq's self-contained
    // train+score SQL, shared verbatim, so stream serving, batch
    // serving, and DuckDB all pin the same table. Ranking emits
    // immediately (all of a query's candidates ride its own
    // micro-batch; see annServeStream). Disorder robustness is
    // trivially strong here — the path is fully stateless, so ANY
    // permutation of the feed lands on the same table; the _ooo gate
    // uses the standard bounded jitter to stay comparable.
    Family[StreamVec](
      name = "ann_serve",
      load = tickedVecs(_, _, s"vec_id >= ${Similarity.IvfQ}",
        s"vec_id - ${Similarity.IvfQ} + 1"),
      ts = _.ts, id = _.vec_id, oooSlackNs = _ => StoreSlackNs,
      store = Some(Served(StoreKind.IvfPq)),
      stream = (ins, store, _) => Streams.annServeStream(ins.head.toDF(), store),
      project = _.selectExpr("query_id", "cell", "neighbor_id", "adc_dist", "rnk")
        .orderBy("query_id", "rnk"),
      oracle = Similarity.oracles("sim_ivfpq")),

    // The perceptual-hash member of the served-store family: the phash
    // store is built ONCE from the old document half (the media
    // fixture poses documents as payloads — Multimodal's convention),
    // the stream feeds the NEW half as ticked payloads, and the sink
    // must equal the INDEPENDENT all-pairs old-new Hamming spec.
    Family[StreamDoc](
      name = "store_phash",
      load = tickedDocs(_, _, s"NOT (${Dedup.oldPred})", rankTick("doc_id")),
      ts = _.ts, id = _.doc_id, oooSlackNs = _ => StoreSlackNs,
      store = Some(Served(StoreKind.Phash)),
      stream = (ins, store, _) => Streams.storePhashStream(ins.head.toDF(), store),
      project = pairs("doc_id"),
      oracle = Multimodal.duckStorePhashSql),

    // The flatMapGroupsWithState sessionizer — the hardest streaming
    // state machine (conditional emission + state rewrite + event-time
    // timeout). Per-batch watermark advancement fires the inactivity
    // timeout for users whose sessions lapse mid-replay (both close
    // paths run, not just the next-event one), and the far-future
    // flush advances the watermark past every buffered event AND every
    // open session's gap deadline, so trailing sessions close too. ts
    // is MICRO-ALIGNED on the way in ((ts div 1000) * 1000): the
    // stream's state machine compares nanosecond gaps while DuckDB's
    // parquet reader truncates TIMESTAMP(NANOS) to micros, so
    // alignment makes the gap test and the (ts, event_id) fold order
    // exact integers in both engines (the q18 convention). _ooo: up to
    // 20 MINUTES of feed disorder, inside the 30-minute watermark
    // delay (= the gap) — the buffer-and-drain design folds by event
    // time, where the old fold-on-arrival machine would drag session
    // ends backward and split islands a late-delivered bridge event
    // should have joined.
    Family[Event](
      name = "sessions",
      load = events("(ts div 1000) * 1000"),
      ts = _.ts, id = _.event_id, oooSlackNs = _ => TwentyMinNs,
      stream = (ins, _, _) => Streams.sessionize(ins.head.toDS(), SessionGapNs),
      flush = Some(Flush(TwoBatch, eventSentinel(3 * SessionGapNs, "sentinel"))),
      project = _.filter("user_id >= 0")
        .selectExpr("user_id", "start_ns div 1000 AS start_us",
          "end_ns div 1000 AS end_us", "n_events",
          "duration_ns div 1000 AS duration_us")
        .orderBy("user_id", "start_us"),
      oracle = stSessionsReplaySql),

    // The fMGWS funnel tracker: per user, the first view sets step 1,
    // the first later click step 2, the first still-later purchase
    // step 3 (strict '>' between steps, micros granularity). The
    // operator buffers events in state and folds them only once the
    // watermark passes (see funnelStream's deferral note), so the
    // advance set is a pure function of EVENT-TIME order under any
    // disorder bounded by the watermark delay — which is what the
    // oracle restates as three chained MIN aggregates. No
    // micro-alignment is needed: the state machine compares in micros,
    // so nanosecond ties within a microsecond cannot change any strict
    // '>' outcome. Only step traffic can advance the funnel's clock
    // (the step filter sits below the watermark node), so the flush
    // sentinel must BE a step event ("view"): it pushes the watermark
    // a full day past every real event. _ooo: up to ONE DAY of feed
    // disorder, inside the 2-day delay, so clicks routinely reach the
    // operator before their views — the old fold-on-arrival machine
    // would silently skip every backward step pair.
    Family[Event](
      name = "funnel",
      load = events("ts"),
      ts = _.ts, id = _.event_id, oooSlackNs = _ => DayNs,
      stream = (ins, _, evs) => {
        funnelTtlGuard(evs)
        Streams.funnelStream(ins.head.toDS(), delay = FunnelReplayDelay)
      },
      flush = Some(Flush(TwoBatch,
        eventSentinel(FunnelReplayDelayNs + DayNs, "view"))),
      project = _.filter("user_id >= 0")
        .selectExpr("user_id", "cast(step as bigint) AS step", "at_us")
        .orderBy("user_id", "step"),
      oracle = stFunnelReplaySql),

    // The stream-stream attribution join: clicks and purchases are fed
    // as two streams batched in lockstep over the same global time
    // ranges. An event-time range inner join's match set is
    // independent of micro-batch boundaries by construction — Spark
    // buffers each side and only evicts a click once the watermark
    // passes its last possible match — so the oracle is the plain
    // batch join over the same window arithmetic. Inner-join emission
    // needs no watermark advance, so no sentinel. _ooo (the r15
    // VERDICT's named blind spot: two watermarks, two buffers): up to
    // 20 minutes of feed disorder, strictly inside BOTH sides'
    // 30-minute delays, so no delivered row is ever late, and a click
    // is only evicted once the global watermark passes click_time +
    // window, by which point every purchase that could match it has
    // been delivered.
    Family[Event](
      name = "attrib",
      load = events("ts"),
      ts = _.ts, id = _.event_id, oooSlackNs = _ => TwentyMinNs,
      stream = (ins, _, _) =>
        Streams.attributeStream(ins(0).toDF(), ins(1).toDF()),
      feed = Lockstep[Event](Seq(_.event_type == "click",
        _.event_type == "purchase")),
      project = _.selectExpr("user_id", "click_id", "purchase_id",
          "unix_micros(click_time) AS click_us",
          "unix_micros(purchase_time) AS purchase_us", "value")
        .orderBy("purchase_id", "click_id"),
      oracle = stAttribReplaySql),

    // The exactly-once ingest face: events fed in ts order under the
    // at-least-once re-delivery pattern of a page-oriented source
    // resuming after a crash (SURVEY.md §2 S1/St2).
    // dropDuplicatesWithinWatermark must collapse all of it back to
    // one row per event_id. The output set is deterministic regardless
    // of where the watermark lands per batch: a re-delivered row
    // either still has a state entry (dropped as a duplicate) or its
    // state expired — but expiry requires watermark > ts + horizon >
    // ts, which makes the re-delivery late, so the late-row filter
    // drops it instead. Either path, exactly one emission, so the
    // oracle is the events table itself. _ooo: up to 20 minutes of
    // extra disorder, strictly inside the 30-minute dedup horizon, so
    // no ORIGINAL delivery is ever late and the argument is unchanged.
    Family[Event](
      name = "dedup",
      load = events("ts"),
      ts = _.ts, id = _.event_id, oooSlackNs = _ => TwentyMinNs,
      stream = (ins, _, _) => Streams.dedupStream(ins.head.toDF()),
      feed = AtLeastOnce,
      project = _.selectExpr("event_id", "ts div 1000 AS us", "user_id",
          "event_type", "value")
        .orderBy("event_id"),
      oracle = stDedupReplaySql),

    // The multimodal ingest dedup: the documents fixture fed as a
    // media stream with the same at-least-once re-delivery as
    // st_dedup_replay. The deferral keeper must land on mm_dedup's
    // min-(ts, doc_id) row per digest — restated in DuckDB — and
    // exactly once, by the state-hit-or-late-drop argument. The dedup
    // horizon (= watermark delay) is the feed's STUDY HORIZON
    // ([[mediaSpanNs]]): the fixture's exact-dup pairs can sit
    // anywhere in doc_id order, so no digest's state may expire
    // mid-replay or a later copy would re-emit as a keeper. Deferred
    // emission means nothing fires until the sentinel flush advances
    // the watermark past every candidate (media sentinels carry a
    // payload digest no corpus document shares). _ooo: up to HALF the
    // horizon of feed disorder — a first-arrival keeper would crown
    // whichever copy the jitter delivered first; the deferral keeper
    // must still land on the SAME batch MIN table.
    Family[StreamMedia](
      name = "mm_ingest",
      load = mediaItems,
      ts = _.ts, id = _.doc_id,
      oooSlackNs = items => (items.map(_.doc_id).max + 2L) / 2L * TickNs,
      stream = (ins, _, items) =>
        Streams.mmIngestStream(ins.head.toDF(), horizonNs = mediaSpanNs(items)),
      feed = AtLeastOnce,
      flush = Some(Flush[StreamMedia](TwoBatch, (items, id) =>
        StreamMedia(id, items.map(_.ts).max + 3L * mediaSpanNs(items),
          "flush", Array[Byte]('x')))),
      project = _.filter("keep_id >= 0").orderBy("digest"),
      oracle = stMmIngestReplaySql),

    // The windowed aggregation: a far-future sentinel advances the
    // watermark past every real window's end so append mode emits them
    // all (the sentinel's own window stays open and is filtered out by
    // event_type). Nothing is ever late (the _ooo jitter is bounded
    // strictly inside the 30-min delay), so the emitted set is exactly
    // the batch hour-grouping of the fixture — restated in DuckDB on
    // the micros channel. Counts only: the stream's total_value is an
    // order-dependent double sum (gated by StreamsSpec), while n is
    // exact in any engine. A windowed COUNT is order-insensitive once
    // no row is lost, so the _ooo gate pins the "no silent late drops
    // under bounded disorder" half of the contract.
    Family[Event](
      name = "window",
      load = events("ts"),
      ts = _.ts, id = _.event_id, oooSlackNs = _ => TwentyMinNs,
      stream = (ins, _, _) => Streams.tumblingCounts(ins.head.toDF()),
      flush = Some(Flush(InLastBatch,
        eventSentinel(3L * 3600000000000L, "sentinel"))),
      project = _.filter("event_type <> 'sentinel'")
        .selectExpr("unix_micros(window.start) AS win_start_us",
          "event_type", "n")
        .orderBy("win_start_us", "event_type"),
      oracle = stWindowReplaySql),

    // The retention tracker: hits aggregated per (cohort_day,
    // day_offset) after the stream drains must equal the batch
    // st_retention cohort table — restated in DuckDB on the micros
    // channel (micro-truncation cannot cross a midnight). The operator
    // cohortens by MIN day with emission deferred to watermark
    // finalization, so the equality holds under any disorder bounded
    // by the watermark delay. The sentinel rides at the feed's max ts
    // (the feed may be disordered, so the max is explicit): every real
    // user's finalization timeout, set once the last feed batch
    // published the watermark, fires in its batch, and the sentinel
    // user's own pending state emits nothing. _ooo: up to ONE DAY of
    // feed disorder, well inside the delay, so users' first-SEEN days
    // frequently differ from their minimum days (including across
    // midnights) — a first-seen cohorting would mis-cohort here.
    Family[Event](
      name = "retention",
      load = events("ts"),
      ts = _.ts, id = _.event_id, oooSlackNs = _ => DayNs,
      stream = (ins, _, evs) => {
        retentionWindowGuard(evs)
        Streams.retentionStream(ins.head.toDS(), delay = RetentionReplayDelay)
      },
      flush = Some(Flush(OneBatch, eventSentinel(0L, "sentinel"))),
      project = _.groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset"),
      oracle = stRetentionReplaySql))

  private def gates[T <: Product](f: Family[T])
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(false, true).map(ooo => f.key(ooo) -> replay(f, ooo) _)

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(f => gates(f)).toMap

  override val oracles: Map[String, String] =
    families.flatMap(f => f.keys.map(_ -> f.oracle)).toMap

  /** The keys whose first run builds the served store they probe. */
  private[graft] val servedStoreKeys: Set[String] =
    families.filter(_.store.isDefined).flatMap(_.keys).toSet
}
