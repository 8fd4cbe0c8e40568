package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** One event row as carried by the `events` table (`ts` = epoch-nanos
  * bigint; see Engine.session's nanosAsLong note).
  */
case class Event(event_id: Long, ts: Long, user_id: Long,
                 event_type: String, value: Double)

/** One event buffered in sessionizer state until the watermark passes
  * it (ns timestamp, id for deterministic tie-break).
  */
case class SessPend(ts: Long, event_id: Long)

/** Per-user sessionizer state: the open session (first/last event ns
  * and event count; nEvents == 0 means none open) plus the events
  * still above the watermark, deferred so the gaps-and-islands fold
  * only ever sees a complete, ordered prefix of the user's timeline.
  * `hwTs`/`hwId` is the user's ARRIVAL high-water — the max
  * (ts, event_id) over everything delivered so far — which feeds the
  * [[Streams.DisorderMetrics]] absorbed counter (an arrival strictly
  * below it is cross-batch disorder the deferral absorbed); MinValue =
  * nothing arrived yet.
  */
case class SessionBufState(startNs: Long, lastNs: Long, nEvents: Long,
                           pend: Seq[SessPend],
                           hwTs: Long = Long.MinValue,
                           hwId: Long = Long.MinValue)

/** A closed session emitted once its gap elapses. */
case class ClosedSession(user_id: Long, start_ns: Long, end_ns: Long,
                         n_events: Long, duration_ns: Long)

/** One document row for the streaming near-dup path (`ts` epoch-nanos). */
case class StreamDoc(doc_id: Long, ts: Long, text: String)

/** One ingest vector (ts in epoch-nanos) — the [[StreamDoc]] of the
  * embedding serve path (Streams.storeDedupStream).
  */
case class StreamVec(vec_id: Long, ts: Long, embedding: Seq[Float])

/** One media item on the ingest stream: opaque payload + metadata (the
  * streaming twin of the mm pack's MediaItem, with an event time).
  */
case class StreamMedia(doc_id: Long, ts: Long, modality: String,
                       payload: Array[Byte])

/** One scored ANN candidate riding the serve stream (annServeStream's
  * pre-ranking row), and one emitted top-k hit.
  */
case class AnnCand(query_id: Long, ts: Long, cell: Long,
                   neighbor_id: Long, adc_dist: Long)
case class AnnHit(query_id: Long, cell: Long, neighbor_id: Long,
                  adc_dist: Long, rnk: Long)

/** Digest + metadata of one media item — all that flows past the
  * map-side digesting (the payload never leaves the scan partition).
  */
case class MediaMeta(doc_id: Long, ts: Long, digest: String,
                     modality: String, n_bytes: Long,
                     event_time: java.sql.Timestamp)

/** Per-digest keeper state: whether the keeper row was emitted, the
  * best (ts, doc_id) candidate so far with its metadata (MaxValue
  * sentinels = none yet), and the newest copy's ns timestamp (drives
  * the post-emission dedup-horizon TTL).
  */
case class DigestOwnerState(emitted: Boolean, bestTs: Long, bestDoc: Long,
                            bestModality: String, bestBytes: Long,
                            lastSeenNs: Long,
                            hwTs: Long = Long.MinValue,
                            hwId: Long = Long.MinValue)

/** The keeper record mm ingest emits, exactly once per distinct
  * payload: mm_dedup's min-doc_id keeper with its digest + metadata.
  */
case class MediaKeeper(keep_id: Long, digest: String, modality: String,
                       n_bytes: Long)

/** [[Event]] narrowed for the sessionizer, with the watermarked
  * `event_time` kept in the row so the stateful operator sees the
  * watermark annotation (same pattern as [[BandRow]]).
  */
case class SessionEvent(event_id: Long, ts: Long, user_id: Long,
                        event_time: java.sql.Timestamp)

/** One (band, band-key) expansion row of a document. The watermarked
  * `event_time` column must stay in the row so the stateful operator
  * sees the watermark annotation.
  */
case class BandRow(band: Int, bkey: String, doc_id: Long, ts: Long,
                   event_time: java.sql.Timestamp)

/** [[Event]] narrowed for the funnel tracker, with the watermarked
  * `event_time` kept in the row so the stateful operator sees the
  * watermark annotation (same pattern as [[SessionEvent]]).
  */
case class FunnelEvent(event_id: Long, ts: Long, user_id: Long,
                       event_type: String,
                       event_time: java.sql.Timestamp)

/** One band row buffered in bucket state until the watermark passes it
  * (ns timestamp, doc id for deterministic tie-break, band for the
  * eventual match row).
  */
case class BandPend(ts: Long, doc_id: Long, band: Int)

/** Band-bucket state: the current bucket owner (`open == false` means
  * none) with the bucket's last activity time (`last_ns`, drives
  * gap-based owner eviction), plus the band rows still above the
  * watermark, deferred so the owner chain only ever folds a complete,
  * ordered prefix of the bucket's timeline.
  */
case class BandBufState(owner_id: Long, last_ns: Long,
                        open: Boolean, pend: Seq[BandPend],
                        hwTs: Long = Long.MinValue,
                        hwId: Long = Long.MinValue)

/** Near-dup candidate evidence: `doc_id` collided with the bucket owner
  * in `band`. Same contract as batch banding — a CANDIDATE, to be
  * exact-re-checked downstream (dd_minhash_lsh's est_sim / dd_jaccard's
  * graft_isect), never a verdict by itself.
  */
case class BandMatch(doc_id: Long, owner_id: Long, band: Int)

/** Structured Streaming surface (SURVEY.md §2.9). The reference's worker
  * loop (`worker.py:166-184`) is a poll-every-30s batch rerun whose
  * incrementality lives in the checkpoint watermark (St2); here the same
  * dataflow is expressed as true streams: file-source micro-batches,
  * event-time tumbling windows with watermark-based late-data handling,
  * and custom session state via flatMapGroupsWithState — none of which
  * the reference has, all of which its 6-hourly "fetch then re-transform"
  * loop approximates.
  *
  * Scale notes: the windowed aggregation is partial+final over
  * `(window, event_type)` — state per open window per type, bounded by
  * the 30-min watermark; session state is per active user, dropped at
  * emission, so executor state stays proportional to concurrent users,
  * not history.
  */
object Streams {

  /** The event-time annotation every stateful machine shares: project
    * `ts` (epoch-nanos) to a MICROS event_time column and declare the
    * watermark. One definition — before r20 this pair was copy-pasted
    * ten times, the exact class of drift the nearDupStream comment
    * records a bug from.
    */
  private def eventTimed(df: DataFrame, delay: String): DataFrame =
    df.withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("event_time", delay)

  /** [[eventTimed]] with the delay given in nanos, CEILED to whole
    * ms: a floored-seconds rendering once turned a sub-second horizon
    * into a ZERO delay that silently late-dropped the rows the
    * deferral contract promises to buffer (see nearDupStream) —
    * delay >= the ns bound always holds here.
    */
  private def eventTimedNs(df: DataFrame, delayNs: Long): DataFrame =
    eventTimed(df, s"${(delayNs + 999999L) / 1000000L} milliseconds")


  /** The engine-facing event schema: `ts` is bigint epoch-nanos (the
    * convention every downstream operator's integer window math uses).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // epoch-nanos (normalized at the source)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Micro-batch file source over an events directory (parquet), the
    * streaming analog of `Engine.table(_, dir, "events")`. A streaming
    * source needs its schema fixed up front, but the fixture has shipped
    * `ts` as both bigint-nanos and timestamp[us] across rounds — so
    * sniff the physical type from the parquet footer (a driver-side
    * metadata read of whatever files exist at start) and normalize to
    * epoch-nanos with the same rule as `Engine.normalizeTs`.
    *
    * Deployment contract: parquet cannot read one physical `ts` type
    * through the other's schema, so the directory's encoding must be
    * uniform and representative files must exist BEFORE the stream
    * starts — or the caller passes `fileSchema` explicitly (the
    * production pattern: the table spec is known). Starting on an
    * empty directory falls back to the canonical [[eventSchema]]
    * (bigint nanos) and will fail at runtime if timestamp-encoded
    * files land later; pass the schema to override.
    */
  def eventFileStream(spark: SparkSession, dir: String,
                      fileSchema: Option[StructType] = None): DataFrame = {
    // Only the empty-directory / unable-to-infer case falls back to the
    // canonical schema; a genuine read problem (permissions, corrupt
    // footer) must propagate instead of silently degrading to a schema
    // that fails later as a confusing mid-stream error.
    val schema = fileSchema.getOrElse(
      try spark.read.parquet(dir).schema
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"eventFileStream: no readable parquet at $dir yet; " +
              "falling back to the canonical bigint-nanos event schema")
          eventSchema
      })
    graft.Engine.normalizeTs(
      spark.readStream.schema(schema).parquet(dir))
  }

  /** Event-time tumbling counts: 1-hour windows, 30-minute watermark.
    * Late events beyond the watermark are dropped (the reference has no
    * analog — its date-granularity refetch re-reads the whole tail day,
    * SURVEY.md §2.9 St2).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    eventTimed(events, "30 minutes")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Streaming ingest dedup: drop events whose id was already seen,
    * with state bounded by the event-time watermark — the streaming
    * face of the dd_* batch pack (an at-least-once source like the
    * paginated Jira scan re-delivers pages after a crash; this makes
    * the downstream exactly-once per id). `dropDuplicatesWithinWatermark`
    * keeps one state row per id and expires it once the watermark
    * passes, so executor state is proportional to the dedup horizon,
    * not the stream's history.
    */
  def dedupStream(events: DataFrame,
                  horizon: String = "30 minutes"): DataFrame =
    eventTimed(events, horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Multimodal ingest: exact payload dedup at the door — the streaming
    * face of mm_dedup. The digest and byte metadata are computed
    * MAP-SIDE and the payload column is projected away BEFORE the
    * stateful dedup, so at 100 TB of media only (digest, metadata) rows
    * enter the shuffle and the state store — payload bytes never leave
    * the scan partition (the mm pack's "payloads never shuffle"
    * invariant, extended to ingest).
    *
    * Keeper semantics are mm_dedup's EXACTLY: the minimum (ts, doc_id)
    * copy per digest, DISORDER-PROOF BY DEFERRAL like the other
    * stateful machines — but because min is order-independent, the
    * "buffer" is just the running best candidate (one row of state per
    * in-flight digest, no pend list). Emission waits until the
    * watermark strictly passes the best candidate's ms timestamp: any
    * later delivery has event_time >= the watermark, so it can never
    * beat the emitted keeper, and under disorder bounded by the
    * watermark delay no copy is ever late-dropped — the keeper equals
    * the batch MIN over all copies. A first-arrival keeper (the stock
    * dropDuplicatesWithinWatermark, which [[dedupStream]] represents)
    * would instead crown whichever copy the transport delivered first.
    *
    * Exactly-once under at-least-once re-delivery: a re-delivered copy
    * either finds the emitted flag still in state (ignored) or arrives
    * after the dedup horizon lapsed the state away — but then it is
    * necessarily late and the watermark filter drops it. State is
    * removed once the horizon passes the newest copy, so residency
    * tracks distinct payloads within one horizon, not stream history.
    *
    * Input: (doc_id bigint, ts bigint epoch-nanos, modality string,
    * payload binary).
    */
  def mmIngestStream(media: DataFrame,
                     horizonNs: Long = 30L * 60 * 1000000000L,
                     metrics: Option[DisorderMetrics] = None)
      : Dataset[MediaKeeper] = {
    import media.sparkSession.implicits._
    // serialize only the accumulator into the state closure
    val absorbedAcc = metrics.map(_.absorbed)
    media
      .select(col("doc_id"), col("ts"),
        md5(col("payload")).as("digest"),
        col("modality"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .transform(eventTimedNs(_, horizonNs))
      .select("doc_id", "ts", "digest", "modality", "n_bytes",
        "event_time")
      .as[MediaMeta]
      .groupByKey(_.digest)
      .flatMapGroupsWithState[DigestOwnerState, MediaKeeper](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (digest, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          val out = Seq.newBuilder[MediaKeeper]
          var st =
            if (state.hasTimedOut) state.get
            else {
              var s = state.getOption.getOrElse(DigestOwnerState(
                emitted = false, Long.MaxValue, Long.MaxValue, "", 0L, 0L))
              val rs = rows.toSeq
              // this machine is order-insensitive by construction (a
              // min-fold), so "absorbed" here counts the inversions
              // the fold NEUTRALIZED: arrivals below the digest's
              // pre-batch high-water, the same observeAbsorbed
              // accounting as the deferral machines
              val (hwTs, hwId) = Streams.observeAbsorbed(
                s.hwTs, s.hwId,
                rs.map(r => (r.ts, r.doc_id)), absorbedAcc)
              s = s.copy(hwTs = hwTs, hwId = hwId)
              rs.foreach { r =>
                s = s.copy(lastSeenNs = math.max(s.lastSeenNs, r.ts))
                if (!s.emitted &&
                    (r.ts < s.bestTs ||
                      (r.ts == s.bestTs && r.doc_id < s.bestDoc)))
                  s = s.copy(bestTs = r.ts, bestDoc = r.doc_id,
                    bestModality = r.modality, bestBytes = r.n_bytes)
              }
              s
            }
          // strict ms: at wm == best ms a same-ms smaller-doc copy is
          // not yet late, so it could still arrive and win
          if (!st.emitted && st.bestTs != Long.MaxValue &&
              wm > st.bestTs / 1000000L) {
            out += MediaKeeper(st.bestDoc, digest, st.bestModality,
              st.bestBytes)
            st = st.copy(emitted = true)
          }
          // removal re-checked in NS (mirrors nearDupStream's eviction):
          // an ms-floored compare would let a copy still inside the ns
          // horizon arrive after removal and re-emit as a second keeper
          if (st.emitted && wm * 1000000L > st.lastSeenNs + horizonNs)
            state.remove() // further copies are necessarily late
          else {
            state.update(st)
            val target =
              if (!st.emitted) st.bestTs / 1000000L + 1L
              else (st.lastSeenNs + horizonNs) / 1000000L + 1L
            state.setTimeoutTimestamp(math.max(target, wm + 1L))
          }
          out.result().iterator
      }
  }

  /** Streaming LSH near-dup: flag each incoming document that collides
    * with an earlier document in any MinHash band — the ingest-time form
    * of dd_minhash_lsh, sharing its exact banding
    * ([[graft.operators.Dedup.bandRows]]) so stream and batch surface
    * the same candidates. State is ONE owner row per occupied band
    * bucket.
    *
    * Eviction is GAP-based: a bucket whose last activity is more than
    * `horizonNs` before a row's event time has lapsed, so that row
    * becomes the new owner instead of matching a stale one. The fold
    * is DISORDER-PROOF BY DEFERRAL (the same design as [[sessionize]]
    * and [[funnelStream]]): band rows buffer in bucket state and fold
    * in `(ts, doc_id)` order only once the watermark strictly passes
    * them, so the owner chain depends only on EVENT-TIME order — not
    * on micro-batch boundaries or delivery order — under any disorder
    * bounded by the watermark delay (= the horizon). That is what
    * makes the replay gates (st_neardup_replay and its _ooo variant)
    * reproducible in a batch engine: the oracle is the gaps-and-
    * islands restatement (break a bucket's timeline where the gap
    * exceeds the horizon; everything in an island matches the island's
    * first document).
    *
    * State is one owner row plus at most one horizon window of pending
    * band rows per occupied bucket, REMOVED once nothing is pending
    * and the watermark strictly passes `last + horizon` in ns (a
    * lapsed bucket can never match a future row — any arrival carries
    * ts at or above the watermark and would re-own it anyway), keeping
    * executor state proportional to active band buckets in the
    * horizon — never the stream's history. Emitted matches are
    * candidate evidence (up to 4 rows per colliding pair, one per
    * band); the exact similarity re-check stays a downstream batch
    * join, exactly as in the batch pipeline.
    */
  def nearDupStream(docs: DataFrame,
                    horizonNs: Long = 30L * 60 * 1000000000L,
                    metrics: Option[DisorderMetrics] = None)
      : Dataset[BandMatch] = {
    import docs.sparkSession.implicits._
    // serialize only the accumulator into the state closure
    val absorbedAcc = metrics.map(_.absorbed)
    val horizonMs = horizonNs / 1000000L
    graft.operators.Dedup.bandRows(docs)
      .transform(eventTimedNs(_, horizonNs))
      .select("band", "bkey", "doc_id", "ts", "event_time")
      .as[BandRow]
      .groupByKey(r => s"${r.band}:${r.bkey}")
      .flatMapGroupsWithState[BandBufState, BandMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          val out = Seq.newBuilder[BandMatch]
          def drain(st0: BandBufState): BandBufState = {
            val (ready, hold) = st0.pend.partition(_.ts / 1000000L < wm)
            var st = st0.copy(pend = hold)
            ready.sortBy(p => (p.ts, p.doc_id)).foreach { p =>
              if (st.open && p.ts - st.last_ns <= horizonNs) {
                if (p.doc_id != st.owner_id)
                  out += BandMatch(p.doc_id, st.owner_id, p.band)
                st = st.copy(last_ns = p.ts)
              } else // empty bucket, or owner lapsed -> new owner
                st = st.copy(owner_id = p.doc_id,
                  last_ns = p.ts, open = true)
            }
            st
          }
          // Remove once nothing is pending and the bucket has lapsed
          // STRICTLY past last + horizon in ns (mirrors the
          // sessionizer's strict closure: at wm*1e6 == last + horizon
          // a row AT the boundary could still arrive and match).
          def schedule(st: BandBufState): Unit =
            if (st.pend.isEmpty &&
                (!st.open || wm * 1000000L > st.last_ns + horizonNs))
              state.remove()
            else {
              val targets =
                (if (st.pend.nonEmpty)
                   Seq(st.pend.iterator.map(_.ts / 1000000L).min + 1)
                 else Nil) ++
                (if (st.open) Seq(st.last_ns / 1000000L + horizonMs)
                 else Nil)
              state.update(st)
              state.setTimeoutTimestamp(math.max(targets.min, wm + 1))
            }
          val st0 =
            if (state.hasTimedOut) state.get
            else {
              val rs = rows.toSeq
              val prev = state.getOption.getOrElse(
                BandBufState(0L, 0L, open = false, Nil))
              // cross-batch arrival inversions vs the bucket's
              // pre-batch high-water (observeAbsorbed)
              val (hwTs, hwId) = Streams.observeAbsorbed(
                prev.hwTs, prev.hwId,
                rs.map(r => (r.ts, r.doc_id)), absorbedAcc)
              prev.copy(pend = prev.pend ++
                rs.map(r => BandPend(r.ts, r.doc_id, r.band)),
                hwTs = hwTs, hwId = hwId)
            }
          schedule(drain(st0))
          out.result().iterator
      }
  }

  /** Materialize a stream-static join's STATIC side once per stream
    * construction (r22): Spark re-executes the static plan on EVERY
    * micro-batch, so an uncached store relation pays its full scan —
    * at 100 TB, a full index read — per batch. Cached, the relation is
    * scanned once (batch 0 populates it lazily), keeps its reported
    * bucketed partitioning (InMemoryTableScan preserves the child
    * scan's outputPartitioning, so the probe joins stay exchange-free —
    * PlanSpec re-pins the shape through the cache), and spills rather
    * than OOMs (MEMORY_AND_DISK). Never stale by construction: the
    * served generation chain is immutable for the stream's lifetime
    * (the pointer-advance contract below). The replay harness's
    * clearCache between reps drops it, so every bench rep still
    * computes from parquet.
    */
  private def staticSide(df: DataFrame): DataFrame = df.cache()

  /** Online near-dup at INGEST against a SERVED banded store of kind
    * `k` (the [[graft.operators.StoreKind]] table): flag each incoming
    * row that verifies against a stored one — the streaming face of
    * the kind's fold probe, sharing its banding and verify arithmetic
    * term-for-term through the table.
    *
    * Shape: two STREAM-STATIC equi-joins with the per-pair dedup in
    * BETWEEN — the row's band keys probe the stored `bands/` index on
    * (band, key); a watermark-TTL'd dropDuplicates collapses the
    * per-band hits of a candidate pair to ONE (id, owner_id) row (the
    * batch path's DISTINCT-before-verify, streamed); only then do
    * survivors join the stored payload relation for the exact verify —
    * the full-width relation is touched, and the verify runs, once per
    * distinct candidate pair, not once per band hit. Stateless apart
    * from the dedup (state = candidate pairs inside the watermark
    * delay, carrying the incoming row's own payload; a pair's band
    * copies all carry the same event time, so keying on it keeps the
    * dedup exact under any disorder bounded by the delay, and
    * append-mode emission is immediate). The verified REP pair then
    * fans out to member pairs by one equi-join through the stored
    * membership (identity for pre-layout generations) — true output,
    * linear in real matches. Unbandable rows (empty shingle sets,
    * zero vectors) never reach the band side.
    *
    * At 100 TB this is the serve path: the store is immutable and
    * never re-derived, `bands/` and the payload relation are bucketed
    * on their probe keys (exchange-free store sides, PlanSpec), and
    * per-row work is its band keys plus one verify per distinct
    * candidate — independent of corpus size.
    *
    * POINTER-ADVANCE CONTRACT (all served-store streams — these and
    * [[annServeStream]]): `store` is a resolved GENERATION path and
    * its delta chain is read ONCE, here at stream construction, over
    * immutable generations — a `StoreCtl advance` landing mid-stream
    * changes NOTHING this stream emits (its frozen chain stays
    * readable: generations never mutate and gc's grace window keeps a
    * displaced chain alive for in-flight readers). Serving the
    * advanced store requires a STREAM RESTART against the re-resolved
    * pointer. This is deliberate: a static side that mutated between
    * micro-batches would emit pair sets no single store version
    * justifies — restart-to-advance is the blue/green discipline the
    * pointer file exists for (PointerAdvanceContractSpec pins both
    * halves).
    */
  private[graft] def storeStream(k: graft.operators.Banded, in: DataFrame,
                                 store: String, delay: String,
                                 metrics: Option[DisorderMetrics])
      : DataFrame = {
    val s = in.sparkSession
    graft.functions.VectorFunctions.ensureRegistered(s)
    val oldBands = staticSide(graft.operators.StoreFiles
      .readRelChain(s, store, "bands")
      .toDF("owner_id", "band", k.key))
    val oldPayload = staticSide(graft.operators.StoreFiles
      .readRelChain(s, store, k.payload)
      .toDF("owner_id" +: k.payloadCols.map("old_" + _): _*))
    val grp = staticSide(
      graft.operators.Dedup.storeGrp(s, store, "member_id"))
    k.probe(observeArrivals(in, k.id, metrics))
      .join(oldBands, Seq("band", k.key))
      .transform(eventTimed(_, delay))
      .select(k.id, "owner_id" +: "event_time" +: k.payloadCols: _*)
      .dropDuplicates(k.id, "owner_id", "event_time")
      .join(oldPayload, Seq("owner_id"))
      .transform(k.probeVerify)
      .select(col(k.id), col("owner_id").as("rep"))
      .join(grp, Seq("rep"))
      .select(col(k.id), col("member_id").as("owner_id"))
  }

  /** Semantic dedup against an embed store (cosine >= 0.4). Input
    * columns: vec_id, ts (epoch-nanos bigint), embedding. */
  def storeDedupStream(vecs: DataFrame, store: String,
                       delay: String = "10 minutes",
                       metrics: Option[DisorderMetrics] = None)
      : DataFrame =
    storeStream(graft.operators.StoreKind.Embed, vecs, store, delay, metrics)

  /** Text near-dup against a cluster store (Jaccard >= 0.6). Input
    * columns: doc_id, ts (epoch-nanos bigint), text. */
  def storeNearDupStream(docs: DataFrame, store: String,
                         delay: String = "10 minutes",
                         metrics: Option[DisorderMetrics] = None)
      : DataFrame =
    storeStream(graft.operators.StoreKind.Cluster, docs, store, delay,
      metrics)

  /** Media near-dup against a phash store (Hamming <= 3; the payload
    * never survives the signature projection). Input columns: doc_id,
    * ts (epoch-nanos bigint), text (payload). */
  def storePhashStream(media: DataFrame, store: String,
                       delay: String = "10 minutes",
                       metrics: Option[DisorderMetrics] = None)
      : DataFrame =
    storeStream(graft.operators.StoreKind.Phash, media, store, delay,
      metrics)

  /** Online ANN retrieval against the DISK-persisted IVF-PQ index —
    * the streaming twin of sim_ivfpq_stored: each incoming query
    * vector probes its IvfNprobe nearest coarse cells, scores that
    * cell slice of the stored code table by asymmetric distance, and
    * emits its top-`k` hits. The scoring plan is
    * [[graft.operators.Similarity.annServeCandidates]] (the batch
    * serving arithmetic restated with stream-legal operators only —
    * same flattened codebook literals, same tie-breaks); this wrapper
    * adds the one thing batch SQL gets from a window function and a
    * stream cannot: per-query top-k ranking, as a
    * flatMapGroupsWithState that emits IMMEDIATELY and never writes
    * state — every candidate of a query rides the SAME micro-batch
    * (all are derived from the query's single input row through
    * stream-static joins), so the group always folds complete
    * evidence. Input contract: at-most-once per query_id (an
    * at-least-once source deduplicates upstream, e.g. with
    * dropDuplicatesWithinWatermark).
    *
    * At 100 TB this is the retrieval serve path: the index is
    * immutable and never re-derived (add() lands as new generations —
    * sim_ivfpq_fold_stored), the code table is one cell equi-join a
    * deployment co-locates by bucketing on cell, and per-query work
    * is IvfNprobe cell slices + PqM lookups per candidate —
    * independent of corpus size.
    */
  def annServeStream(queries: DataFrame, store: String, k: Int = 3,
                     metrics: Option[DisorderMetrics] = None)
      : Dataset[AnnHit] = {
    val s = queries.sparkSession
    import s.implicits._
    val loaded = graft.operators.Similarity.IvfPqStore.load(s, store)
    // the code table is the stream-static join's static side — cached
    // once per stream like the other store probes (see staticSide)
    val model = loaded.copy(codes = staticSide(loaded.codes))
    graft.operators.Similarity.annServeCandidates(
        observeArrivals(queries, "vec_id", metrics), model)
      .as[AnnCand]
      .groupByKey(_.query_id)
      .flatMapGroupsWithState[Boolean, AnnHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (qid, rows, _) =>
          rows.toSeq.sortBy(r => (r.adc_dist, r.neighbor_id))
            .take(k).zipWithIndex
            .map { case (r, i) =>
              AnnHit(qid, r.cell, r.neighbor_id, r.adc_dist, i + 1L)
            }.iterator
      }
  }

  /** One funnel event buffered in state until the watermark passes it
  * (ns timestamp, id for deterministic tie-break, step index 1-3).
  */
case class FunnelPend(ts: Long, event_id: Long, step: Int)

/** Per-user funnel state: finalized progress (micro timestamps of the
  * first step-1 event, the first step-2 event after it, and the first
  * step-3 event after that; MinValue = not reached), the newest
  * event's ms timestamp (drives the idle TTL), and the events still
  * ABOVE the watermark, deferred so the step machine only ever folds
  * a complete, ordered prefix of the user's history. `hwTs`/`hwId` is
  * the arrival high-water feeding the [[Streams.DisorderMetrics]]
  * absorbed counter (see [[SessionBufState]]).
  */
case class FunnelBufState(t1: Long, t2: Long, t3: Long,
                          lastSeenMs: Long, pend: Seq[FunnelPend],
                          hwTs: Long = Long.MinValue,
                          hwId: Long = Long.MinValue)

/** Emitted whenever a user ADVANCES a step: their id, the new step
  * count reached (1-3), and the micro timestamp of the advancing event.
  */
case class FunnelAdvance(user_id: Long, step: Int, at_us: Long)

/** Gap-based sessionization (30-min inactivity) as explicit state,
    * DISORDER-PROOF BY DEFERRAL (the same design as [[funnelStream]]):
    * the gaps-and-islands fold is order-sensitive — an out-of-order
    * event folded on arrival would drag the session end BACKWARD or
    * split an island a later-delivered earlier event should have
    * bridged — so events buffer in per-user state and fold in
    * `(ts, event_id)` order only once the watermark strictly passes
    * them. The machine therefore always folds a complete ordered
    * prefix of the user's timeline, and the closed-session set equals
    * the batch gaps-and-islands table (q18_sessionize's shape) under
    * ANY disorder bounded by the watermark delay (= the gap; the _ooo
    * replay gate feeds exactly that).
    *
    * A session CLOSES once the watermark passes `last + gap` with no
    * drained event extending it — by then every event that could
    * extend the session has been delivered (disorder is bounded by the
    * delay) and drained (its ts would be below the watermark), so the
    * closure is exactly the batch gap split, just emitted one delay
    * later than the eager fold would have. Executor state is the open
    * session plus at most one delay window of that user's pending
    * events; state is removed once the session closes with nothing
    * pending, so residency is bounded by users active within one gap
    * of the watermark, never by stream history.
    */
  def sessionize(events: Dataset[Event],
                 gapNs: Long = 30L * 60 * 1000000000L,
                 metrics: Option[DisorderMetrics] = None)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    // serialize only the accumulator into the state closure, not the
    // metrics wrapper (whose listener half is driver-only)
    val absorbedAcc = metrics.map(_.absorbed)
    val gapMs = gapNs / 1000000L
    eventTimedNs(events.toDF(), gapNs)
      .select("event_id", "ts", "user_id", "event_time")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBufState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId: Long, batch: Iterator[SessionEvent],
              state: GroupState[SessionBufState]) =>
          val wm = state.getCurrentWatermarkMs()
          val out = Seq.newBuilder[ClosedSession]
          def emit(st: SessionBufState): Unit =
            out += ClosedSession(userId, st.startNs, st.lastNs,
              st.nEvents, st.lastNs - st.startNs)
          // Fold every buffered event the watermark has strictly
          // passed, in (ts, event_id) order — the exact batch
          // gaps-and-islands fold, including mid-drain gap closures.
          def drain(st0: SessionBufState): SessionBufState = {
            val (ready, hold) = st0.pend.partition(_.ts / 1000000L < wm)
            var st = st0.copy(pend = hold)
            ready.sortBy(p => (p.ts, p.event_id)).foreach { p =>
              if (st.nEvents == 0L)
                st = st.copy(startNs = p.ts, lastNs = p.ts, nEvents = 1L)
              else if (p.ts - st.lastNs > gapNs) {
                emit(st)
                st = st.copy(startNs = p.ts, lastNs = p.ts, nEvents = 1L)
              } else
                st = st.copy(lastNs = p.ts, nEvents = st.nEvents + 1L)
            }
            // Inactivity closure, STRICT on the ns deadline: any held
            // or future event has ts >= wm ms-quantized (the late
            // filter and the strict-< drain guarantee it), so only
            // once wm*1e6 strictly exceeds last + gap can no event
            // still extend the session. A non-strict ms check would
            // close a session while a bridging event exactly AT the
            // gap deadline is still held (ts ms == wm), splitting an
            // island the batch gaps-and-islands fold keeps whole.
            if (st.nEvents > 0L && wm * 1000000L > st.lastNs + gapNs) {
              emit(st)
              st = st.copy(nEvents = 0L)
            }
            st
          }
          // Wake at whichever obligation comes first: draining the
          // earliest pending event, or the open session's gap
          // deadline. Timeouts must sit strictly above the watermark.
          def schedule(st: SessionBufState): Unit = {
            val targets =
              (if (st.pend.nonEmpty)
                 Seq(st.pend.iterator.map(_.ts / 1000000L).min + 1)
               else Nil) ++
              (if (st.nEvents > 0L) Seq(st.lastNs / 1000000L + gapMs)
               else Nil)
            if (targets.isEmpty) state.remove()
            else {
              state.update(st)
              state.setTimeoutTimestamp(math.max(targets.min, wm + 1))
            }
          }
          val st0 =
            if (state.hasTimedOut) state.get
            else {
              val evs = batch.toSeq
              val prev = state.getOption
                .getOrElse(SessionBufState(0L, 0L, 0L, Nil))
              // Disorder observation: an arrival strictly below the
              // PRE-batch high-water was delivered out of order across
              // a batch boundary — exactly what an eager fold would
              // have mis-folded and the deferral absorbs (the
              // accounting itself lives in observeAbsorbed).
              val (hwTs, hwId) = Streams.observeAbsorbed(
                prev.hwTs, prev.hwId,
                evs.map(e => (e.ts, e.event_id)), absorbedAcc)
              prev.copy(pend = prev.pend ++
                evs.map(e => SessPend(e.ts, e.event_id)),
                hwTs = hwTs, hwId = hwId)
            }
          schedule(drain(st0))
          out.result().iterator
      }
  }

  /** Per-user retention state. While `finalized` is false the cohort is
    * still PROVISIONAL: `cohortDay` is the minimum day seen so far and
    * `seenMask` holds day offsets RELATIVE TO IT (bit 0 = the min day
    * itself; re-based by a left shift whenever an earlier day arrives
    * out of order). Once the event-time watermark passes the start of
    * `cohortDay`, no earlier event can ever be delivered (Spark drops
    * rows older than the watermark before the stateful operator), so
    * the cohort is FINAL: the backlog of in-window offsets is emitted
    * and the mask becomes the emitted-offsets dedup set.
    */
  case class RetentionState(cohortDay: Long, seenMask: Long,
                            finalized: Boolean)

  /** Emitted when a user is active on `cohort_day + day_offset`
    * (offsets 0..7), exactly once per (user, offset). Counting hits per
    * (cohort_day, day_offset) downstream reproduces the batch
    * st_retention cohort table incrementally.
    */
  case class RetentionHit(user_id: Long, cohort_day: Long, day_offset: Long)

  /** Disorder observability for the stateful streaming machines
    * ([[retentionStream]], [[sessionize]], [[funnelStream]],
    * [[nearDupStream]], [[mmIngestStream]]). Deferral
    * makes within-delay disorder CORRECT but previously also made it
    * INVISIBLE — production could run arbitrarily close to the
    * watermark cliff with no signal. Two counters split disorder at
    * that cliff:
    *
    *   - `absorbed` (executor-side `LongAccumulator`, fed from inside
    *     the state function): disorder the delay absorbed. For
    *     retention that is cohort re-bases (an event with a day
    *     EARLIER than the provisional cohort day); for the sessionizer,
    *     funnel, near-dup buckets, and media-digest keeper it is
    *     cross-batch arrival inversions (an event
    *     arriving strictly below the group's pre-batch arrival
    *     high-water `(ts, id)` — the events an eager
    *     fold-on-arrival machine would have mis-folded; the min-fold
    *     keeper is order-insensitive by construction, so there the
    *     counter reports the inversions the fold NEUTRALIZED). Accumulators
    *     count once per completed task attempt; a retried micro-batch
    *     can over-count, which is the standard (and acceptable)
    *     contract for an observability channel — correctness never
    *     reads this value.
    *   - `lateDropped` (driver-side, fed by the registered progress
    *     listener from `numRowsDroppedByWatermark`): rows the
    *     watermark dropped before the operator saw them — disorder the
    *     delay did NOT absorb, i.e. silently lost evidence. The
    *     listener is per-query-name and QUERY-WIDE by default (an
    *     alarm must fail loud; see [[registerDropped]] for the
    *     optional per-operator scoping when several stateful
    *     operators compose in one query).
    *
    * Alert on `lateDropped > 0` (data loss: widen `delay`); trend
    * `absorbed` as the early-warning (disorder volume approaching the
    * cliff).
    */
  final class DisorderMetrics private[streaming] (
      val absorbed: org.apache.spark.util.LongAccumulator) {
    /** Retention's historical name for [[absorbed]] (cohort re-bases). */
    def rebases: org.apache.spark.util.LongAccumulator = absorbed

    /** Observer instances [[observeArrivals]] allocated against this
      * metrics object — the keys [[release]] evicts.
      */
    private[streaming] val arrivalInsts =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()

    /** Evict this object's per-(instance, partition) arrival
      * high-waters from the executor-JVM mark map. Call after
      * stopping the owning query (alongside `removeListener`): the
      * marks are meaningless once the query is gone, and a long-lived
      * session cycling many probe queries would otherwise accrete an
      * entry pair per (query, partition) forever. Releasing while the
      * query still runs is safe but resets the inversion baseline
      * (the next batch sees fresh marks and under-counts once).
      */
    def release(): Unit = Streams.evictArrivalMarks(this)

    private val lateDroppedTotal = new java.util.concurrent.atomic.AtomicLong
    private val registered = new java.util.concurrent.atomic.AtomicBoolean
    private val warnedUnregistered =
      new java.util.concurrent.atomic.AtomicBoolean

    /** Cumulative watermark-dropped rows for the registered query.
      * Reading it on a metrics object whose listener was never
      * registered logs a loud warning (once) instead of failing
      * silent-zero — the alert channel must not vanish because a
      * caller forgot [[registerDropped]].
      */
    def lateDropped: Long = {
      if (!registered.get() && warnedUnregistered.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "DisorderMetrics.lateDropped read but no listener was ever " +
            "registered (call registerDropped before starting the " +
            "query): the value can only ever be 0")
      lateDroppedTotal.get()
    }

    /** Build AND register the progress listener feeding `lateDropped`
      * from query `queryName`. By default the counter is QUERY-WIDE
      * (every stateful operator's `numRowsDroppedByWatermark`): a
      * data-loss alarm must fail loud, and an operator-name default
      * would silently count nothing for any machine that compiles to
      * a different operator (dropDuplicatesWithinWatermark, windowed
      * aggregation, stream-stream join) — the exact silent-zero this
      * class exists to prevent. Pass `operatorName = Some(...)` (e.g.
      * "flatMapGroupsWithState") ONLY when composing several stateful
      * operators in one query and the metric must attribute drops to
      * one of them; with a filter, a name typo or an operator rename
      * across Spark versions degrades to zero, so scoped use should
      * cross-check against the unfiltered count. Call before starting
      * the query; pass the returned listener to
      * `spark.streams.removeListener` after `stop()`.
      */
    def registerDropped(spark: SparkSession, queryName: String,
                        operatorName: Option[String] = None)
        : org.apache.spark.sql.streaming.StreamingQueryListener = {
      val l = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          if (e.progress.name == queryName)
            lateDroppedTotal.addAndGet(
              e.progress.stateOperators
                .filter(op => operatorName.forall(_ == op.operatorName))
                .map(_.numRowsDroppedByWatermark).sum)
      }
      spark.streams.addListener(l)
      registered.set(true)
      l
    }
  }

  /** The one shared absorbed-inversion accounting (serializable — it
    * runs inside state functions): count arrivals strictly below the
    * group's PRE-batch `(ts, id)` high-water into `acc`, then return
    * the advanced high-water. Every arrival compares against the same
    * pre-batch mark, so the count is independent of the group
    * iterator's nondeterministic order; within-batch inversions are
    * harness scheduling, not transport disorder, and count nothing.
    * Used by all four keyed machines so the tiebreak and the
    * pre-batch-vs-running-mark rule live in exactly one place.
    */
  private[streaming] def observeAbsorbed(
      preTs: Long, preId: Long, rows: Iterable[(Long, Long)],
      acc: Option[org.apache.spark.util.LongAccumulator]): (Long, Long) = {
    acc.foreach { a =>
      rows.foreach { case (t, i) =>
        if (t < preTs || (t == preTs && i < preId)) a.add(1L)
      }
    }
    rows.foldLeft((preTs, preId)) { case ((t0, i0), (t, i)) =>
      if (t > t0 || (t == t0 && i > i0)) (t, i) else (t0, i0)
    }
  }

  /** Hard residency cap on [[arrivalHw]]: [[DisorderMetrics.release]]
    * only reaches the JVM it runs in (the driver — in local mode that
    * IS the executor JVM, so release is exact there), so on a
    * multi-executor cluster a dead query's executor-side marks would
    * otherwise accrete forever. The map is LRU past this cap; an
    * evicted ACTIVE mark merely resets that partition's baseline —
    * the channel is observability-grade by contract (the same
    * under/over-count caveats as the accumulator it feeds), never
    * correctness.
    */
  private val ArrivalMarkCap = 8192

  /** Process-global arrival high-waters for [[observeArrivals]],
    * keyed (observer instance, source partition). Executor-JVM state,
    * NOT stream state: the stateless probe streams have no keyed
    * state store to carry a cross-batch mark, and a mark that lives
    * in the JVM is exactly as durable as the accumulator feeding the
    * same channel. Entries are a pair of longs per (instance,
    * partition); a long-lived session evicts a query's entries via
    * [[DisorderMetrics.release]] after stopping it — exact in the
    * JVM release runs in, while remote executors fall back to the
    * [[ArrivalMarkCap]] LRU bound.
    */
  private val arrivalHw: java.util.Map[(Long, Int), (Long, Long)] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(Long, Int), (Long, Long)](
          64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Long, Int), (Long, Long)]): Boolean =
          size() > ArrivalMarkCap
      })
  private val arrivalSeq = new java.util.concurrent.atomic.AtomicLong

  /** Drop every (instance, partition) arrival mark owned by `m` —
    * the [[DisorderMetrics.release]] body (here because the map is
    * private to the observer).
    */
  private[streaming] def evictArrivalMarks(m: DisorderMetrics): Unit = {
    // iteration over a synchronizedMap needs the map's own monitor
    arrivalHw.synchronized {
      val it = arrivalHw.keySet().iterator()
      while (it.hasNext)
        if (m.arrivalInsts.contains(it.next()._1)) it.remove()
    }
    m.arrivalInsts.clear()
  }

  /** Test hook: live arrival-mark count for a metrics object. */
  private[graft] def arrivalMarkCount(m: DisorderMetrics): Int =
    arrivalHw.synchronized {
      var n = 0
      val it = arrivalHw.keySet().iterator()
      while (it.hasNext) if (m.arrivalInsts.contains(it.next()._1)) n += 1
      n
    }

  /** Arrival-inversion observation for the STATELESS served-store
    * probe streams — the `absorbed` face the keyed machines get from
    * [[observeAbsorbed]], restated for pipelines with no keyed state:
    * a pass-through over the SOURCE partitions that counts arrivals
    * strictly below the partition's pre-batch (ts, id) high-water
    * into `metrics.absorbed`, then advances the mark. Within a source
    * partition the iterator order IS the arrival order, so the
    * pre-batch-mark contract (count independent of within-batch
    * order, the keyed machines' accounting) carries over verbatim
    * with the partition as the group.
    *
    * Observability-grade, like the accumulator it feeds: the
    * high-water lives per executor JVM, so on a multi-executor
    * cluster a partition whose consecutive batches schedule on
    * different executors under-counts across that boundary (and task
    * retries over-count — the documented accumulator contract).
    * Exact in local / single-executor runs, which is what the
    * StoreStreamDisorderSpec driver-fold cases pin. `lateDropped`
    * needs no operator support here — the probes' watermarked dedup
    * reports drops through the query-wide [[DisorderMetrics
    * .registerDropped]] listener like every other stateful operator.
    *
    * With `metrics` None the input is returned UNTOUCHED — the
    * production serve plans (and the bench) see zero change.
    */
  private[graft] def observeArrivals(
      df: DataFrame, idCol: String,
      metrics: Option[DisorderMetrics]): DataFrame =
    metrics match {
      case None => df
      case Some(m) =>
        val acc = m.absorbed
        val inst = arrivalSeq.incrementAndGet()
        m.arrivalInsts.add(inst)
        val idIdx = df.schema.fieldIndex(idCol)
        val tsIdx = df.schema.fieldIndex("ts")
        df.mapPartitions { it =>
          val ctx = org.apache.spark.TaskContext.get()
          val key = (inst, ctx.partitionId())
          val pre = Option(arrivalHw.get(key))
            .getOrElse((Long.MinValue, Long.MinValue))
          var hwTs = pre._1
          var hwId = pre._2
          // The mark persists on TASK COMPLETION, not iterator
          // exhaustion: a downstream early-stop (limit, an
          // empty-other-side short-circuit) leaves the iterator
          // undrained, and an exhaustion-hook mark would stay stale —
          // every later batch re-counting the same arrivals as
          // absorbed. Successful attempts only: a failed attempt's
          // retry must compare against the attempt-start mark
          // (count-once-per-completed-attempt, the accumulator's own
          // contract), so a failure advancing the mark would hide the
          // retry's inversions. KILLED/interrupted attempts
          // (speculative duplicates, stage cancellation) count as
          // failed here too: Spark discards their accumulator
          // updates, so letting their mark land would advance the
          // baseline past rows that were never counted — hiding the
          // winning attempt's inversions below it.
          ctx.addTaskCompletionListener[Unit] { c =>
            if (!c.isFailed() && !c.isInterrupted())
              arrivalHw.put(key, (hwTs, hwId))
          }
          new scala.collection.AbstractIterator[
              org.apache.spark.sql.Row] {
            override def hasNext: Boolean = it.hasNext
            override def next(): org.apache.spark.sql.Row = {
              val r = it.next()
              val ts = r.getLong(tsIdx)
              val id = r.getLong(idIdx)
              if (ts < pre._1 || (ts == pre._1 && id < pre._2)) acc.add(1L)
              if (ts > hwTs || (ts == hwTs && id > hwId)) {
                hwTs = ts; hwId = id
              }
              r
            }
          }
        }(org.apache.spark.sql.Encoders.row(df.schema))
    }

  /** Retention's historical class name (pre-r16, before the metrics
    * were shared with the sessionizer and funnel).
    */
  type RetentionMetrics = DisorderMetrics

  /** New metrics object for one stateful-stream instance. */
  def disorderMetrics(spark: SparkSession): DisorderMetrics =
    new DisorderMetrics(
      spark.sparkContext.longAccumulator("graft.stream.disorder.absorbed"))

  /** New metrics object for one [[retentionStream]] instance. */
  def retentionMetrics(spark: SparkSession): RetentionMetrics =
    disorderMetrics(spark)

  /** Default day-offset ceiling (day-7 retention). Shared with the
    * replay gate's window-lapse guard
    * (StreamReplay.retentionWindowGuard) so the state-removal boundary
    * `(cohortDay + maxOffset + 1) * dayNs` and the guard that asserts
    * no cohort crosses it mid-replay cannot drift.
    */
  val RetentionMaxOffset: Int = 7

  /** Streaming face of the batch st_retention query: day-N cohort
    * retention as flatMapGroupsWithState with BOUNDED state. Day
    * arithmetic is exact integer `ts div 1 day` — identical to the
    * batch query, and micro vs nano granularity cannot disagree
    * (midnights are whole microseconds).
    *
    * Cohorting contract: the cohort is the user's MINIMUM event day —
    * the batch MIN(day) — under ARBITRARY bounded disorder, not just
    * in-order delivery. Emission is deferred until the watermark
    * passes the start of the provisional cohort day (at which point no
    * earlier event can arrive, so the min is final); disorder within
    * the watermark's `delay` therefore re-bases the provisional mask
    * instead of mis-cohorting, and a negative offset after
    * finalization is structurally IMPOSSIBLE (any arriving event has
    * `ts >= watermark >= cohortDay * dayNs`), which is why there is no
    * negative-offset drop path to count. The provisional mask tracks
    * offsets up to 63 days above the running min; larger spans cannot
    * lose hits (offsets only grow when the min re-bases downward, and
    * anything above `maxOffset` never emits).
    *
    * State lifecycle (the 100 TB bound): per-user state is ~17 bytes
    * and is REMOVED by an event-time timeout once the watermark passes
    * `(cohortDay + maxOffset + 1) * dayNs` — the user's retention
    * window is complete and every in-window event has been delivered,
    * so executor state is proportional to users active within one
    * retention window (+ `delay`) of the watermark, never to lifetime
    * user cardinality. The one semantic this trades away: a user
    * resurfacing AFTER expiry is indistinguishable from a new user and
    * starts a fresh cohort at their return day (the standard
    * bounded-state approximation; batch MIN(day) semantics over
    * unbounded history require unbounded memory in ANY engine). A
    * full-history REPLAY that must reproduce the batch table exactly
    * therefore sets `delay` to the replay's study horizon so no cohort
    * expires before the stream drains — backfill lateness and
    * steady-state lateness are different deployment knobs (see
    * the retention row of StreamReplay's family table).
    */
  def retentionStream(events: Dataset[Event],
                      dayNs: Long = 86400000000000L,
                      maxOffset: Int = RetentionMaxOffset,
                      delay: String = "24 hours",
                      metrics: Option[RetentionMetrics] = None)
      : Dataset[RetentionHit] = {
    // serialize only the accumulator into the state closure, not the
    // metrics wrapper (whose listener half is driver-only)
    val rebaseAcc = metrics.map(_.rebases)
    // the seen-bitmask is one Long: offsets above 63 would wrap the
    // shifts (1L << 64 == 1L) and silently alias day-64 onto day-0
    require(maxOffset >= 0 && maxOffset <= 63,
      s"retentionStream maxOffset must be in [0, 63], got $maxOffset")
    import events.sparkSession.implicits._
    val dayMs = dayNs / 1000000L
    eventTimed(events.toDF(), delay)
      .select("event_id", "ts", "user_id", "event_time")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId: Long, batch: Iterator[SessionEvent],
              state: GroupState[RetentionState]) =>
          val out = Seq.newBuilder[RetentionHit]
          val wm = state.getCurrentWatermarkMs()

          // emit the provisional backlog (offsets <= maxOffset) and
          // return the finalized state
          def finalizeCohort(st: RetentionState): RetentionState = {
            var off = 0
            while (off <= maxOffset) {
              if ((st.seenMask & (1L << off)) != 0L)
                out += RetentionHit(userId, st.cohortDay, off.toLong)
              off += 1
            }
            st.copy(finalized = true)
          }

          def scheduleAndStore(st: RetentionState): Unit =
            if (st.finalized && wm >= (st.cohortDay + maxOffset + 1) * dayMs) {
              // window complete AND every in-window event delivered:
              // the state can never emit again
              state.remove()
            } else {
              state.update(st)
              val target =
                if (st.finalized) (st.cohortDay + maxOffset + 1) * dayMs
                else st.cohortDay * dayMs
              state.setTimeoutTimestamp(math.max(target, wm + 1))
            }

          if (state.hasTimedOut) {
            val st = state.get
            if (!st.finalized) scheduleAndStore(finalizeCohort(st))
            else { state.remove() } // retention window lapsed
            out.result().iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts, e.event_id))
            var st = state.getOption.orNull
            sorted.foreach { e =>
              val day = e.ts / dayNs
              if (st == null) {
                st = RetentionState(day, 1L, finalized = false)
              } else if (!st.finalized) {
                if (day < st.cohortDay) {
                  // out-of-order earlier day: re-base the provisional
                  // mask (bits pushed past 63 are > maxOffset forever —
                  // offsets only grow on re-base — so losing them is
                  // harmless)
                  val shift = st.cohortDay - day
                  val shifted = if (shift > 63) 0L else st.seenMask << shift
                  st = RetentionState(day, shifted | 1L, finalized = false)
                  rebaseAcc.foreach(_.add(1L))
                } else if (day - st.cohortDay <= 63) {
                  st = st.copy(seenMask =
                    st.seenMask | (1L << (day - st.cohortDay)))
                }
              } else {
                // finalized: ts >= watermark >= cohortDay * dayNs, so
                // off >= 0 always
                val off = day - st.cohortDay
                if (off <= maxOffset && (st.seenMask & (1L << off)) == 0L) {
                  st = st.copy(seenMask = st.seenMask | (1L << off))
                  out += RetentionHit(userId, st.cohortDay, off)
                }
              }
            }
            if (st != null) {
              if (!st.finalized && wm >= st.cohortDay * dayMs)
                st = finalizeCohort(st)
              scheduleAndStore(st)
            }
            out.result().iterator
          }
      }
  }

  /** Stream-stream attribution join: each purchase is matched to the
    * click(s) by the same user within the preceding hour — the streaming
    * face of the batch conversion analyses (st_funnel / st_retention).
    * Both sides carry a 30-minute watermark and the join condition is a
    * bounded event-time RANGE, which is exactly what lets Spark evict
    * buffered state: a click older than (watermark − 1 h) can never
    * match a future purchase and is dropped, so state is proportional
    * to one attribution window of traffic per side, not stream history.
    * Inner join: unattributed purchases fall out (the left-outer
    * variant just flips the join type; semantics bound identically).
    */
  def attributeStream(clicks: DataFrame, purchases: DataFrame,
                      attributionWindow: String = "1 hour"): DataFrame = {
    val c = clicks
      .withColumn("click_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("click_time", "30 minutes")
      .select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("click_time"))
    val p = purchases
      .withColumn("purchase_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("purchase_time", "30 minutes")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("purchase_time"),
        col("value"))
    c.join(p, expr(
      s"""c_user = p_user
         |AND purchase_time >= click_time
         |AND purchase_time <= click_time + interval $attributionWindow"""
        .stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_time"), col("purchase_time"),
        col("value"))
  }

  /** Default idle TTL, in days of event-time inactivity, after which a
    * funnel user's state is dropped (see [[funnelStream]]'s state
    * lifecycle note). Shared with the replay gate's no-mid-replay-
    * expiry guard (StreamReplay.funnelTtlGuard) so the operator's
    * expiry boundary and the guard that asserts no user crosses it
    * cannot drift.
    */
  val FunnelIdleTtlDays: Long = 90L

  /** Streaming face of the batch st_funnel query: per-user ordered-step
    * tracking (view -> click -> purchase at micro granularity, strict
    * '>' between steps like the batch query) as flatMapGroupsWithState,
    * emitting an advance record each time a user reaches a new step.
    * Counting advances per step downstream reproduces st_funnel's
    * per-step user counts incrementally.
    *
    * DISORDER-PROOF BY DEFERRAL: the step machine is order-sensitive
    * (a click folded before its view advances nothing, and is never
    * revisited), so events are NOT folded on arrival. They are
    * buffered in state and drained in `(ts, event_id)` order only once
    * the watermark STRICTLY passes them — at which point no earlier
    * event can ever be delivered (Spark drops rows older than the
    * watermark before the stateful operator), so the machine always
    * folds a complete ordered prefix of the user's history and the
    * advance set equals the batch chained-MIN table under ANY disorder
    * bounded by the watermark `delay` (the _ooo replay gate feeds
    * exactly that). The cost: emission lags the watermark, and each
    * user holds their above-watermark events in state — bounded by one
    * `delay` window of that user's step traffic, the same bound the
    * stream-stream join's buffer carries.
    *
    * State lifecycle (the 100 TB bound): the finalized triple plus the
    * bounded pending buffer per user, REMOVED by an event-time timeout
    * once the watermark passes `idleTtlDays` of event-time inactivity
    * (the buffer is necessarily drained by then — pending events are
    * at most `delay` old, and the TTL clamps at >= 1 day). Executor
    * state is therefore proportional to users active within one TTL of
    * the watermark, never to lifetime user cardinality. The semantic
    * this trades away: a user resurfacing AFTER expiry restarts from
    * step 1 and re-emits the steps they reach again — the same
    * bounded-state approximation as [[retentionStream]] (exact
    * whole-history funnel semantics require unbounded memory in ANY
    * engine). A full-history REPLAY that must reproduce the batch
    * table exactly therefore needs the TTL to exceed the largest
    * per-user event-time gap in the feed, which
    * StreamReplay.funnelTtlGuard asserts against the actual fixture.
    *
    * The stream clock advances on step traffic only: the step filter
    * sits below the watermark node (Catalyst pushes it there anyway —
    * a non-step row can never advance the watermark, so a flush
    * sentinel must BE a step event; replays use one from a reserved
    * negative user id and filter that id from the sink — its own
    * buffered event sits past every watermark and never emits).
    */
  def funnelStream(events: Dataset[Event],
                   steps: Seq[String] = Seq("view", "click", "purchase"),
                   delay: String = "24 hours",
                   idleTtlDays: Long = FunnelIdleTtlDays,
                   metrics: Option[DisorderMetrics] = None)
      : Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    // accumulator only in the closure; the wrapper stays driver-side
    val absorbedAcc = metrics.map(_.absorbed)
    require(steps.size == 3, "funnelStream tracks a 3-step funnel")
    require(idleTtlDays >= 1, s"idleTtlDays must be >= 1, got $idleTtlDays")
    val NotReached = Long.MinValue
    val ttlMs = idleTtlDays * 86400000L
    val stepIdx = steps.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    eventTimed(events.toDF()
      .filter(col("event_type").isin(steps: _*)), delay)
      .select("event_id", "ts", "user_id", "event_type", "event_time")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId: Long, batch: Iterator[FunnelEvent],
              state: GroupState[FunnelBufState]) =>
          val wm = state.getCurrentWatermarkMs()
          // Fold every buffered event the watermark has strictly
          // passed through the step machine, in (ts, event_id) order;
          // keep the rest pending. Strict '<' on the ms channel: an
          // event AT the watermark could still be joined by a peer in
          // the same millisecond (arrivals at >= wm pass the late
          // filter), so it is not yet safely ordered.
          def drain(st0: FunnelBufState)
              : (FunnelBufState, Seq[FunnelAdvance]) = {
            val (ready, hold) = st0.pend.partition(_.ts / 1000000L < wm)
            if (ready.isEmpty) (st0, Nil)
            else {
              var st = st0
              val out = Seq.newBuilder[FunnelAdvance]
              ready.sortBy(p => (p.ts, p.event_id)).foreach { p =>
                val us = p.ts / 1000
                if (p.step == 1 && st.t1 == NotReached) {
                  st = st.copy(t1 = us)
                  out += FunnelAdvance(userId, 1, us)
                } else if (p.step == 2 && st.t2 == NotReached
                    && st.t1 != NotReached && us > st.t1) {
                  st = st.copy(t2 = us)
                  out += FunnelAdvance(userId, 2, us)
                } else if (p.step == 3 && st.t3 == NotReached
                    && st.t2 != NotReached && us > st.t2) {
                  st = st.copy(t3 = us)
                  out += FunnelAdvance(userId, 3, us)
                }
              }
              (st.copy(pend = hold), out.result())
            }
          }
          // Store + schedule: while events are pending, wake as soon
          // as the watermark can pass the earliest one; once drained,
          // the only future obligation is the idle TTL (or removal,
          // if it has already lapsed). Timeouts must sit strictly
          // above the current watermark or Spark rejects them.
          def schedule(st: FunnelBufState): Unit =
            if (st.pend.nonEmpty) {
              state.update(st)
              val next = st.pend.iterator.map(_.ts / 1000000L).min + 1
              state.setTimeoutTimestamp(math.max(next, wm + 1))
            } else if (wm >= st.lastSeenMs + ttlMs) {
              state.remove()
            } else {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.lastSeenMs + ttlMs, wm + 1))
            }
          val st0 =
            if (state.hasTimedOut) state.get
            else {
              val evs = batch.toSeq
              val prev = state.getOption.getOrElse(FunnelBufState(
                NotReached, NotReached, NotReached, Long.MinValue, Nil))
              // cross-batch arrival inversions vs the pre-batch
              // high-water (observeAbsorbed); only step traffic
              // reaches this operator, so the count is over the
              // funnel's own event universe
              val (hwTs, hwId) = Streams.observeAbsorbed(
                prev.hwTs, prev.hwId,
                evs.map(e => (e.ts, e.event_id)), absorbedAcc)
              prev.copy(
                lastSeenMs = math.max(prev.lastSeenMs,
                  evs.iterator.map(_.ts).max / 1000000L),
                pend = prev.pend ++ evs.map(e =>
                  FunnelPend(e.ts, e.event_id, stepIdx(e.event_type))),
                hwTs = hwTs, hwId = hwId)
            }
          val (st, out) = drain(st0)
          schedule(st)
          out.iterator
      }
  }
}
