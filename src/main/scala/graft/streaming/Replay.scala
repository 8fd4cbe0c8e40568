package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.Engine._
import graft.QueryPack
import graft.operators.{BandedStore, Dedup, StoreKind}

/** Oracle gate for the Structured Streaming surface: replay the
  * `documents` fixture through [[Streams.nearDupStream]] as a real
  * multi-batch stream and hash-compare the emitted matches against an
  * independent DuckDB restatement of the operator's semantics.
  *
  * Replay protocol: documents enter in doc_id order at one tick
  * (1 s of event time) per doc_id, split into [[ReplayBatches]]
  * micro-batches with explicit boundaries (`processAllAvailable` per
  * batch), so the run exercises cross-batch state carry, watermark
  * advancement, and the event-time timeout path — not just one big
  * batch. The operator's gap-based owner eviction makes the match set
  * a pure function of event-time order (see nearDupStream's scaladoc),
  * which is what the oracle restates as gaps-and-islands SQL: break a
  * band bucket's timeline wherever consecutive activity is more than
  * [[HorizonTicks]] apart; every document in an island matches the
  * island's first document, one row per colliding band. The horizon is
  * deliberately SMALLER than the fixture's median collision gap so the
  * replay exercises both outcomes: close collisions match, stale
  * buckets evict and re-own.
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

  /** Run `body` with the session's shuffle partitions scoped down for a
    * replay: a stateful streaming query creates one state-store
    * partition per shuffle partition PER micro-batch, so at fixture
    * scale 32 partitions mean ~160 state-store commits of a few rows
    * each — pure per-batch overhead, measured ~25% of replay wall.
    * The production ingest path sizes partitions for corpus-scale state
    * as usual; this scoping is the replay harness's own (the same
    * sequential-harness conf discipline as the LP loop's AQE scope;
    * restored in `finally`). Measured at sf0.1: 2 beats 4 by 8-11% on
    * the stream-stream join and sessionizer replays (fewer state-store
    * commits per batch) while 1 is worse (no task overlap at all).
    */
  private def withReplayPartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val fmKey = "spark.sql.streaming.checkpointFileManagerClass"
    val was = s.conf.get(key)
    val ndWas = s.conf.getOption(ndKey)
    val fmWas = s.conf.getOption(fmKey)
    s.conf.set(key, "2")
    // Heap-backed checkpoint manager (r22): the replay gates' per-batch
    // floor was profiled to the Hadoop-FS software path under the
    // offset/commit WAL and the state-store delta commits (~150-400 ms
    // per batch; a RAM-disk checkpoint changed nothing, so it is not
    // disk). The manager preserves every checkpoint semantic the gates
    // use (atomic visibility, no-overwrite create, list/delete,
    // cross-batch state read-back) in process memory — a local-mode
    // measurement-harness conf like the 2-partition scope above, NOT a
    // production setting (see InMemoryCheckpointFileManager's scope
    // note). Every gate's oracle hash re-verified identical under it.
    s.conf.set(fmKey, classOf[InMemoryCheckpointFileManager].getName)
    // No-data micro-batches (the default-on extra batch after every
    // data batch that applies the just-advanced watermark) are OFF in
    // the replay scope: they double the micro-batch count — the
    // replay family's cost is a per-batch scheduling floor, not
    // compute — and the replay protocol never needs them, because a
    // watermark advanced by batch k is applied by batch k+1 and every
    // flushing gate ends with a sentinel-terminated data batch whose
    // watermark a FINAL sentinel batch applies (two trailing batches,
    // or one when the first sentinel rides in the last feed batch —
    // windowReplaySink). The final sentinel re-raises to the same
    // flush value, so the dropped trailing no-data batch had nothing
    // left to emit. Emissions shift one batch earlier or later; the
    // accumulated append-mode sink is identical — re-verified by
    // every gate's oracle hash.
    s.conf.set(ndKey, "false")
    try body finally {
      s.conf.set(key, was)
      ndWas match {
        case Some(v) => s.conf.set(ndKey, v)
        case None    => s.conf.unset(ndKey)
      }
      fmWas match {
        case Some(v) => s.conf.set(fmKey, v)
        case None    => s.conf.unset(fmKey)
      }
    }
  }

  /** The replay batching protocol, defined ONCE: ceil-divide the feed
    * into [[ReplayBatches]] equal micro-batches.
    */
  private def batched[T](items: Seq[T]): IndexedSeq[IndexedSeq[T]] = {
    val per = math.max(1, (items.length + ReplayBatches - 1) / ReplayBatches)
    items.grouped(per).map(_.toIndexedSeq).toIndexedSeq
  }

  /** Feed batches with explicit boundaries (`processAllAvailable` per
    * batch — the discipline every replay gate depends on).
    */
  private def feed[T](in: MemoryStream[T],
                      q: org.apache.spark.sql.streaming.StreamingQuery,
                      batches: Seq[Seq[T]]): Unit =
    batches.foreach { b => in.addData(b); q.processAllAvailable() }

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

  /** The documents fixture as a tick-spaced doc stream. ts starts at
    * ONE tick, not zero: an epoch-0 event time sits exactly on the
    * initial watermark and the stateful operator's late-row predicate
    * can drop it.
    */
  private def tickedDocs(s: SparkSession, dir: String): Array[StreamDoc] = {
    import s.implicits._
    table(s, dir, "documents")
      .selectExpr("doc_id", s"(doc_id + 1) * ${TickNs}L AS ts", "text")
      .as[StreamDoc].collect().sortBy(_.doc_id)
  }

  // Fixture-scale replay harness: the corpus is collected to the
  // driver ONLY to feed MemoryStream with explicit batch boundaries.
  // This query verifies the streaming operator; the production ingest
  // path is readStream -> nearDupStream with no driver hop.
  private def nearDupReplaySink(s: SparkSession,
                                docs: Seq[StreamDoc]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[StreamDoc]
    val sink = s"st_neardup_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.nearDupStream(in.toDF(), HorizonNs)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        feed(in, q, batched(docs.toIndexedSeq))
        // The deferred fold holds the trailing horizon of band rows;
        // flush with the two-batch sentinel idiom. The sentinel must
        // produce band rows to advance the watermark, so it reuses a
        // REAL document's text at a far-future tick — every bucket it
        // lands in has lapsed by then, so it re-owns and emits
        // nothing, and its negative doc_id is filtered below anyway.
        val flushTs = docs.map(_.ts).max + 3 * HorizonNs
        flushAndFireWith[StreamDoc](in, q,
          id => StreamDoc(id, flushTs, docs.head.text))
      } finally q.stop()
    }
    detachSink(s, sink)
      .filter("doc_id >= 0 AND owner_id >= 0")
      .selectExpr("doc_id", "owner_id", "cast(band as bigint) AS band")
      .orderBy("doc_id", "owner_id", "band")
  }

  private def stNearDupReplay(s: SparkSession, dir: String): DataFrame =
    nearDupReplaySink(s, tickedDocs(s, dir).toIndexedSeq)

  // The bounded-disorder gate: the same ticked docs with each one
  // displaced by up to 64 ticks in feed position — half the 128-tick
  // horizon (= the watermark delay), so nothing is late-dropped, but
  // documents routinely reach a bucket behind later colliders. The
  // sink must STILL equal the gaps-and-islands oracle — the
  // buffer-and-drain fold keeps the owner chain a pure function of
  // event-time order, where the old fold-on-arrival machine would
  // have crowned whichever collider arrived first.
  private def stNearDupOooReplay(s: SparkSession, dir: String): DataFrame = {
    val slackNs = 64L * TickNs
    nearDupReplaySink(s,
      jittered(tickedDocs(s, dir).toIndexedSeq, slackNs)(_.ts, _.doc_id))
  }

  // -- st_store_dedup_replay: ingest vectors deduped against the SERVED store -
  // The streaming serve path of the persistent embed-cluster store:
  // the store is built ONCE from the old vector half (the same
  // scratch store dd_embed_cluster_store gates), the
  // stream feeds the NEW half as ticked vectors, and the sink must
  // equal the batch restatement — every (new, stored) pair that
  // shares an RH-LSH band bucket AND cosine-verifies at >= 0.4,
  // exactly the old-new slice of the fold's probe. No flush
  // sentinel: the only stateful operator is a watermarked
  // dropDuplicates, which emits append rows immediately (the
  // watermark bounds its state, never defers output).
  private def tickedVecs(s: SparkSession, dir: String)
      : IndexedSeq[StreamVec] = {
    import s.implicits._
    val split = Dedup.embedSplit(s, dir)
    table(s, dir, "embeddings")
      .where(s"vec_id >= $split")
      .selectExpr("vec_id",
        s"(vec_id - $split + 1) * ${TickNs}L AS ts", "embedding")
      .as[StreamVec].collect().sortBy(_.vec_id).toIndexedSeq
  }

  private def storeDedupReplaySink(s: SparkSession, dir: String,
                                   vecs: Seq[StreamVec]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = BandedStore.ensure(StoreKind.Embed, s, dir)
    val in = MemoryStream[StreamVec]
    val sink = s"st_store_dedup_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.storeDedupStream(in.toDF(), store)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try feed(in, q, batched(vecs.toIndexedSeq))
      finally q.stop()
    }
    detachSink(s, sink)
      .selectExpr("vec_id", "owner_id")
      .orderBy("vec_id", "owner_id")
  }

  private def stStoreDedupReplay(s: SparkSession, dir: String): DataFrame =
    storeDedupReplaySink(s, dir, tickedVecs(s, dir))

  // Bounded disorder strictly inside the 10-minute dedup delay: the
  // stream-static probe is stateless, so the only disorder hazard is
  // a pair's duplicate band hits outliving the dedup state — 64 s of
  // jitter against a 600 s TTL cannot.
  private def stStoreDedupOooReplay(s: SparkSession,
                                    dir: String): DataFrame = {
    val slackNs = 64L * TickNs
    storeDedupReplaySink(s, dir,
      jittered(tickedVecs(s, dir), slackNs)(_.ts, _.vec_id))
  }

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

  // -- st_store_neardup_replay: ingest TEXT deduped against the SERVED store --
  // The MinHash twin of st_store_dedup_replay: the persistent cluster
  // store is built ONCE from the old document half (the same
  // scratch store dd_cluster_store gates), the stream
  // feeds the NEW half as ticked docs, and the sink must equal the
  // INDEPENDENT all-pairs old-new Jaccard spec (Dedup's oracle
  // discipline for this family: the banding is never restated, so the
  // gate verifies the stream's banded recall against the exact spec
  // on real data). No flush sentinel: the only stateful operator is a
  // watermarked dropDuplicates, which emits append rows immediately.
  private def tickedNewDocs(s: SparkSession, dir: String)
      : IndexedSeq[StreamDoc] = {
    import s.implicits._
    table(s, dir, "documents")
      .where(s"NOT (${Dedup.oldPred})")
      .selectExpr("doc_id",
        s"(row_number() OVER (ORDER BY doc_id)) * ${TickNs}L AS ts",
        "text")
      .as[StreamDoc].collect().sortBy(_.doc_id).toIndexedSeq
  }

  private def storeNearDupReplaySink(s: SparkSession, dir: String,
                                     docs: Seq[StreamDoc]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = BandedStore.ensure(StoreKind.Cluster, s, dir)
    val in = MemoryStream[StreamDoc]
    val sink = s"st_store_neardup_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.storeNearDupStream(in.toDF(), store)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try feed(in, q, batched(docs.toIndexedSeq))
      finally q.stop()
    }
    detachSink(s, sink)
      .selectExpr("doc_id", "owner_id")
      .orderBy("doc_id", "owner_id")
  }

  private def stStoreNearDupReplay(s: SparkSession, dir: String): DataFrame =
    storeNearDupReplaySink(s, dir, tickedNewDocs(s, dir))

  // Bounded disorder strictly inside the 10-minute dedup delay — the
  // stream-static probes are stateless, so (as with the embed twin)
  // the only disorder hazard is a pair's duplicate band hits outliving
  // the dedup state: 64 s of jitter against a 600 s TTL cannot.
  private def stStoreNearDupOooReplay(s: SparkSession,
                                      dir: String): DataFrame = {
    val slackNs = 64L * TickNs
    storeNearDupReplaySink(s, dir,
      jittered(tickedNewDocs(s, dir), slackNs)(_.ts, _.doc_id))
  }

  // -- st_decontaminate_replay: ingest docs screened against the SERVED eval --
  // The streaming face of dd_decontaminate: the eval slice's signature
  // store is built ONCE (BandedStore.ensure over evalPred — at
  // deployment scale, once per eval release), the stream feeds every CORPUS doc
  // as ticked ingest, and each arrival that Jaccard-matches a stored
  // eval doc is flagged ON ARRIVAL as (doc_id, owner_id = the leaked
  // eval doc) — contamination never waits for the nightly batch pass.
  // The probe machinery is storeNearDupStream unchanged (same banding,
  // same verify, same dedup-between-joins shape); only the served
  // store differs. Gated against the INDEPENDENT all-pairs
  // corpus-vs-eval spec, the same pair set dd_decontaminate
  // aggregates (StoreDecontaminateReplaySpec pins that agreement
  // in-engine).
  private def tickedCorpusDocs(s: SparkSession, dir: String)
      : IndexedSeq[StreamDoc] = {
    import s.implicits._
    table(s, dir, "documents")
      .where(s"NOT (${Dedup.evalPred})")
      .selectExpr("doc_id",
        s"(row_number() OVER (ORDER BY doc_id)) * ${TickNs}L AS ts",
        "text")
      .as[StreamDoc].collect().sortBy(_.doc_id).toIndexedSeq
  }

  private def decontaminateReplaySink(s: SparkSession, dir: String,
                                      docs: Seq[StreamDoc]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = BandedStore.ensure(StoreKind.Cluster, s, dir, Dedup.evalPred)
    val in = MemoryStream[StreamDoc]
    val sink = s"st_decontaminate_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.storeNearDupStream(in.toDF(), store)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try feed(in, q, batched(docs.toIndexedSeq))
      finally q.stop()
    }
    detachSink(s, sink)
      .selectExpr("doc_id", "owner_id")
      .orderBy("doc_id", "owner_id")
  }

  private def stDecontaminateReplay(s: SparkSession,
                                    dir: String): DataFrame =
    decontaminateReplaySink(s, dir, tickedCorpusDocs(s, dir))

  // Bounded disorder strictly inside the 10-minute dedup delay (the
  // st_store_neardup_ooo argument: the probes are stateless, so the
  // only hazard is a pair's duplicate band hits outliving the dedup
  // state — 64 s of jitter against a 600 s TTL cannot).
  private def stDecontaminateOooReplay(s: SparkSession,
                                       dir: String): DataFrame = {
    val slackNs = 64L * TickNs
    decontaminateReplaySink(s, dir,
      jittered(tickedCorpusDocs(s, dir), slackNs)(_.ts, _.doc_id))
  }

  // -- st_decontaminate_semantic_replay: embedding-space eval screening -------
  // The SEMANTIC twin of st_decontaminate_replay (lexical leakage
  // escapes paraphrase; embedding similarity does not): the eval
  // slice's embed store is built once (BandedStore.ensure, evalVecPred),
  // every corpus vector streams through the unchanged storeDedupStream
  // probe, and arrivals that cosine-match (>= 0.4) a stored eval
  // vector are flagged online. Gated against the banded corpus-vs-eval
  // slice — the dd_decontaminate_semantic oracle convention, pairwise.
  private def tickedCorpusVecs(s: SparkSession, dir: String)
      : IndexedSeq[StreamVec] = {
    import s.implicits._
    table(s, dir, "embeddings")
      .where(s"NOT (${Dedup.evalVecPred})")
      .selectExpr("vec_id",
        s"(row_number() OVER (ORDER BY vec_id)) * ${TickNs}L AS ts",
        "embedding")
      .as[StreamVec].collect().sortBy(_.vec_id).toIndexedSeq
  }

  private def decontaminateSemanticReplaySink(
      s: SparkSession, dir: String, vecs: Seq[StreamVec]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = BandedStore.ensure(StoreKind.Embed, s, dir, Dedup.evalVecPred)
    val in = MemoryStream[StreamVec]
    val sink =
      s"st_decontaminate_semantic_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.storeDedupStream(in.toDF(), store)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try feed(in, q, batched(vecs.toIndexedSeq))
      finally q.stop()
    }
    detachSink(s, sink)
      .selectExpr("vec_id", "owner_id")
      .orderBy("vec_id", "owner_id")
  }

  private def stDecontaminateSemanticReplay(s: SparkSession,
                                            dir: String): DataFrame =
    decontaminateSemanticReplaySink(s, dir, tickedCorpusVecs(s, dir))

  private def stDecontaminateSemanticOooReplay(s: SparkSession,
                                               dir: String): DataFrame = {
    val slackNs = 64L * TickNs
    decontaminateSemanticReplaySink(s, dir,
      jittered(tickedCorpusVecs(s, dir), slackNs)(_.ts, _.vec_id))
  }

  // -- st_store_phash_replay: media ingest near-dup against the SERVED store -
  // The perceptual-hash member of the served-store gate family: the
  // phash store is built ONCE from the old document half (the media
  // fixture poses documents as payloads — Multimodal's convention),
  // the stream feeds the NEW half as ticked payloads, and the sink
  // must equal the INDEPENDENT all-pairs old-new Hamming spec. No
  // flush sentinel (stateless but for the watermarked pair dedup).
  private def storePhashReplaySink(s: SparkSession, dir: String,
                                   docs: Seq[StreamDoc]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = BandedStore.ensure(StoreKind.Phash, s, dir)
    val in = MemoryStream[StreamDoc]
    val sink = s"st_store_phash_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.storePhashStream(in.toDF(), store)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try feed(in, q, batched(docs.toIndexedSeq))
      finally q.stop()
    }
    detachSink(s, sink)
      .selectExpr("doc_id", "owner_id")
      .orderBy("doc_id", "owner_id")
  }

  private def stStorePhashReplay(s: SparkSession, dir: String): DataFrame =
    storePhashReplaySink(s, dir, tickedNewDocs(s, dir))

  // Bounded disorder strictly inside the 10-minute dedup delay — as
  // with the other store probes, the joins are stateless and only the
  // pair dedup holds state, TTL'd far past the 64-tick jitter.
  private def stStorePhashOooReplay(s: SparkSession,
                                    dir: String): DataFrame = {
    val slackNs = 64L * TickNs
    storePhashReplaySink(s, dir,
      jittered(tickedNewDocs(s, dir), slackNs)(_.ts, _.doc_id))
  }

  // -- st_ann_serve_replay: online ANN top-k against the SERVED IVF-PQ store -
  // The retrieval face: the full-corpus-trained index is persisted
  // ONCE (the same ensureIvfPqStore instance sim_ivfpq_stored gates),
  // the query batch (vec_id >= IvfQ, exactly the batch key's query
  // set) streams in as ticked vectors, and the per-query top-3 must
  // equal the batch serving plan — the oracle IS sim_ivfpq's
  // self-contained train+score SQL, shared verbatim, so stream
  // serving, batch serving, and DuckDB all pin the same table. No
  // sentinel: ranking emits immediately (all of a query's candidates
  // ride its own micro-batch; see annServeStream).
  private def tickedQueryVecs(s: SparkSession, dir: String)
      : IndexedSeq[StreamVec] = {
    import s.implicits._
    val q0 = graft.operators.Similarity.IvfQ
    table(s, dir, "embeddings")
      .where(s"vec_id >= $q0")
      .selectExpr("vec_id",
        s"(vec_id - $q0 + 1) * ${TickNs}L AS ts", "embedding")
      .as[StreamVec].collect().sortBy(_.vec_id).toIndexedSeq
  }

  private def annServeReplaySink(s: SparkSession, dir: String,
                                 vecs: Seq[StreamVec]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = graft.operators.Similarity.ensureIvfPqStore(s, dir)
    val in = MemoryStream[StreamVec]
    val sink = s"st_ann_serve_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.annServeStream(in.toDF(), store)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try feed(in, q, batched(vecs.toIndexedSeq))
      finally q.stop()
    }
    detachSink(s, sink)
      .selectExpr("query_id", "cell", "neighbor_id", "adc_dist", "rnk")
      .orderBy("query_id", "rnk")
  }

  private def stAnnServeReplay(s: SparkSession, dir: String): DataFrame =
    annServeReplaySink(s, dir, tickedQueryVecs(s, dir))

  // Disorder robustness is trivially strong here — the path is fully
  // stateless (immediate per-batch ranking, no watermark, no state),
  // so ANY permutation of the feed lands on the same table; the gate
  // uses the standard bounded jitter to stay comparable with the
  // other _ooo twins.
  private def stAnnServeOooReplay(s: SparkSession, dir: String): DataFrame = {
    val slackNs = 64L * TickNs
    annServeReplaySink(s, dir,
      jittered(tickedQueryVecs(s, dir), slackNs)(_.ts, _.vec_id))
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

  /** Session gap for the sessionizer replay: 30 minutes, the same gap
    * as the batch q18_sessionize query, so the two rows cross-check the
    * same session structure computed three independent ways (stream
    * state machine, Spark batch window, DuckDB gaps-and-islands).
    */
  private[graft] val SessionGapNs = 1800L * 1000000000L

  // Replay gate for the flatMapGroupsWithState sessionizer — the
  // hardest streaming state machine (conditional emission + state
  // rewrite + event-time timeout). The events fixture is fed in ts
  // order as explicit micro-batches; per-batch watermark advancement
  // fires the inactivity timeout for users whose sessions lapse
  // mid-replay (both close paths run, not just the next-event one),
  // and a final sentinel event pushes the watermark past every open
  // session's deadline so trailing sessions close too. ts is
  // MICRO-ALIGNED on the way in ((ts div 1000) * 1000): the stream's
  // state machine compares nanosecond gaps while DuckDB's parquet
  // reader truncates TIMESTAMP(NANOS) to micros, so alignment makes
  // the gap test and the (ts, event_id) fold order exact integers in
  // both engines (the q18 convention).
  private def sessionsReplaySink(s: SparkSession,
                                 evs: Seq[Event]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Event]
    val sink = s"st_sessions_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.sessionize(in.toDS(), SessionGapNs)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        feed(in, q, batched(evs.toIndexedSeq))
        // The far-future flush advances the watermark past every
        // buffered event AND every open session's gap deadline, so the
        // drain + inactivity-closure path runs for all real users.
        flushAndFire(in, q, evs.map(_.ts).max + 3 * SessionGapNs,
          "sentinel")
      } finally q.stop()
    }
    detachSink(s, sink)
      .filter("user_id >= 0")
      .selectExpr("user_id", "start_ns div 1000 AS start_us",
        "end_ns div 1000 AS end_us", "n_events",
        "duration_ns div 1000 AS duration_us")
      .orderBy("user_id", "start_us")
  }

  private def stSessionsReplay(s: SparkSession, dir: String): DataFrame =
    sessionsReplaySink(s, microAlignedEvents(s, dir).toIndexedSeq)

  // The bounded-disorder gate: the same micro-aligned events with each
  // one displaced by a deterministic pseudo-random jitter of up to 20
  // MINUTES in feed position — inside the sessionizer's 30-minute
  // watermark delay (= the gap), so nothing is late-dropped, but
  // events routinely reach the operator behind later peers. The sink
  // must STILL equal the batch gaps-and-islands table — the
  // buffer-and-drain design folds by event time, where the old
  // fold-on-arrival machine would drag session ends backward and
  // split islands a late-delivered bridge event should have joined.
  private def stSessionsOooReplay(s: SparkSession, dir: String): DataFrame = {
    val slackNs = 1200L * 1000000000L // 20 min of feed-order disorder
    sessionsReplaySink(s,
      jittered(microAlignedEvents(s, dir), slackNs)(_.ts, _.event_id))
  }

  // The sessionizer's semantics, restated as gaps-and-islands: per
  // user, order events by (time, event_id), break the timeline where
  // the inter-event gap exceeds the session gap, and aggregate each
  // island to one session row. Micros on both sides (epoch_us ==
  // ts div 1000 for the micro-aligned feed above).
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

  /** The events fixture sorted for in-order replay. */
  private def orderedEvents(s: SparkSession, dir: String): Array[Event] = {
    import s.implicits._
    table(s, dir, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
  }

  /** The events fixture micro-aligned (`(ts div 1000) * 1000`) and
    * sorted for replay — the alignment is load-bearing for the
    * sessions oracle's exact-integer equivalence (see the sessions
    * gate comment), so it is defined once for both sessions gates.
    */
  private def microAlignedEvents(s: SparkSession,
                                 dir: String): Array[Event] = {
    import s.implicits._
    table(s, dir, "events")
      .selectExpr("event_id", "(ts div 1000) * 1000 AS ts", "user_id",
        "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts, e.event_id))
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

  /** The two-batch sentinel flush for deferral-based operators: one
    * far-future event advances the watermark past every buffered
    * obligation (published at that batch's END), then a second batch
    * at the same ts fires the timeouts the advance armed. The sentinel
    * carries the reserved user -1/-2; its own state (if its type even
    * reaches the operator) sits past the final watermark and never
    * emits, and every sink filters `user_id >= 0` regardless.
    */
  private def flushAndFireWith[T](
      in: MemoryStream[T],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      mkSentinel: Long => T): Unit = {
    in.addData(mkSentinel(-1L))
    q.processAllAvailable()
    in.addData(mkSentinel(-2L))
    q.processAllAvailable()
  }

  private def flushAndFire(in: MemoryStream[Event],
                           q: org.apache.spark.sql.streaming.StreamingQuery,
                           flushTs: Long, eventType: String): Unit = {
    flushAndFireWith[Event](in, q,
      id => Event(id, flushTs, -1L, eventType, 0.0))
  }

  // Replay gate for the fMGWS funnel tracker: per user, the first
  // view sets step 1, the first later click step 2, the first
  // still-later purchase step 3 (strict '>' between steps, micros
  // granularity). The operator buffers events in state and folds them
  // only once the watermark passes (see funnelStream's deferral note),
  // so the advance set is a pure function of EVENT-TIME order under
  // any disorder bounded by the watermark delay — which is what the
  // oracle restates as three chained MIN aggregates (the batch
  // st_funnel shape, here per user with the advance timestamps, not
  // just counts), and why the in-order and _ooo gates share one SQL.
  // No micro-alignment is needed: the state machine compares in
  // micros (ts div 1000), so nanosecond order ties within a
  // microsecond cannot change any strict '>' outcome.
  /** Watermark delay for the funnel replays: 2 days — comfortably above
    * the OOO gate's 1-day feed disorder (so nothing late-drops) and far
    * below [[Streams.FunnelIdleTtlDays]] so the no-mid-replay-expiry
    * guard's margin is the TTL itself.
    */
  private val FunnelReplayDelayDays = 2L
  private val FunnelReplayDelay = s"$FunnelReplayDelayDays days"
  private val FunnelReplayDelayNs = FunnelReplayDelayDays * 86400000000000L

  private def funnelReplaySink(s: SparkSession,
                               evs: Seq[Event]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // A full-history replay must reproduce the batch funnel exactly, so
    // no user's state may expire mid-replay (expiry + later activity
    // restarts the funnel and re-emits step 1 — the operator's
    // documented bounded-state approximation). A user can only expire
    // while still having undrained events if some consecutive per-user
    // gap exceeds the idle TTL (+ the watermark delay, which only adds
    // slack), so guard on the largest gap over the funnel's step events
    // — a fixture regeneration that opens a TTL-sized hole fails loudly
    // here instead of silently double-counting step 1.
    val funnelTtlNs = Streams.FunnelIdleTtlDays * 86400000000000L
    val stepTypes = Set("view", "click", "purchase") // funnelStream default
    val maxGapNs = evs.filter(e => stepTypes(e.event_type))
      .groupBy(_.user_id).values.map { es =>
        val ts = es.map(_.ts).sorted
        if (ts.size < 2) 0L
        else ts.sliding(2).map(p => p(1) - p(0)).max
      }.foldLeft(0L)(math.max)
    require(maxGapNs < funnelTtlNs,
      s"FunnelIdleTtlDays (${Streams.FunnelIdleTtlDays}) too SMALL for " +
        s"this fixture: a user has a ${maxGapNs / 86400000000000L}-day " +
        "event gap, so their funnel state would expire mid-replay and " +
        "the sink would diverge from the batch oracle")
    val in = MemoryStream[Event]
    val sink = s"st_funnel_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.funnelStream(in.toDS(), delay = FunnelReplayDelay)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        feed(in, q, batched(evs.toIndexedSeq))
        // The machine defers every event until the watermark strictly
        // passes it, so the trailing `delay` of history is still
        // buffered when the feed ends. Only step traffic can advance
        // the funnel's clock (the step filter sits below the watermark
        // node), so the flush sentinel must BE a step event ("view"):
        // it pushes the watermark a full day past every real event.
        flushAndFire(in, q,
          evs.map(_.ts).max + FunnelReplayDelayNs + 86400000000000L,
          "view")
      } finally q.stop()
    }
    detachSink(s, sink)
      .filter("user_id >= 0")
      .selectExpr("user_id", "cast(step as bigint) AS step", "at_us")
      .orderBy("user_id", "step")
  }

  private def stFunnelReplay(s: SparkSession, dir: String): DataFrame =
    funnelReplaySink(s, orderedEvents(s, dir).toIndexedSeq)

  // The bounded-disorder gate: the same events with each one displaced
  // by a deterministic pseudo-random jitter of up to ONE DAY in feed
  // position (sorted by ts + jitter(event_id)), inside the replay's
  // 2-day watermark delay so nothing is late-dropped, but clicks
  // routinely reach the operator before their views. The sink must
  // STILL equal the batch chained-MIN table — this is what the
  // buffer-and-drain design buys; the old fold-on-arrival machine
  // would silently skip every backward step pair here.
  private def stFunnelOooReplay(s: SparkSession, dir: String): DataFrame = {
    val slackNs = 86400000000000L // 1 day of feed-order disorder
    funnelReplaySink(s,
      jittered(orderedEvents(s, dir).toIndexedSeq, slackNs)(_.ts, _.event_id))
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

  /** Attribution window for the stream-stream join replay: 1 hour,
    * [[Streams.attributeStream]]'s default.
    */
  private val AttribWindowUs = 3600000000L

  // Replay gate for the stream-stream attribution join: clicks and
  // purchases (filtered from the events fixture) are fed as two
  // MemoryStreams batched in lockstep over the same global time
  // ranges. An event-time range inner join's match set is independent
  // of micro-batch boundaries by construction — Spark buffers each
  // side and only evicts a click once the watermark passes its last
  // possible match, which a feed whose disorder stays inside the
  // 30-minute per-side delay can never outrun — so the oracle is the
  // plain batch join over the same window arithmetic. Inner-join
  // emission needs no watermark advance, so no sentinel.
  private def attribReplaySink(s: SparkSession, evs: Seq[Event]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val sink = s"st_attrib_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.attributeStream(clicks.toDF(), purchases.toDF())
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // lockstep two-stream feed: same global batch boundaries
        batched(evs.toIndexedSeq).foreach { b =>
          clicks.addData(b.filter(_.event_type == "click"))
          purchases.addData(b.filter(_.event_type == "purchase"))
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    detachSink(s, sink)
      .selectExpr("user_id", "click_id", "purchase_id",
        "unix_micros(click_time) AS click_us",
        "unix_micros(purchase_time) AS purchase_us", "value")
      .orderBy("purchase_id", "click_id")
  }

  private def stAttribReplay(s: SparkSession, dir: String): DataFrame =
    attribReplaySink(s, orderedEvents(s, dir).toIndexedSeq)

  // The bounded-disorder gate for the stream-stream join — the r15
  // VERDICT's named blind spot (two watermarks, two buffers: exactly
  // where disorder bugs hide). The same lockstep feed with every event
  // displaced by up to 20 minutes in feed position, strictly inside
  // BOTH sides' 30-minute delays. No delivered row is ever late (the
  // jitter bound argument), and the join-state eviction is
  // watermark-gated: a click is only evicted once the global watermark
  // passes click_time + window, by which point every purchase that
  // could match it has been delivered (its ts would otherwise be under
  // the watermark). The match set must therefore STILL equal the batch
  // join — one SQL for both gates.
  private def stAttribOooReplay(s: SparkSession, dir: String): DataFrame = {
    val slackNs = 1200L * 1000000000L // 20 min < both 30-min delays
    attribReplaySink(s,
      jittered(orderedEvents(s, dir).toIndexedSeq, slackNs)(_.ts, _.event_id))
  }

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

  // Replay gate for the exactly-once ingest face: events are fed in ts
  // order, but every batch k >= 1 FIRST re-delivers the whole previous
  // batch and then repeats its own head mid-batch — the at-least-once
  // re-delivery pattern of a page-oriented source resuming after a
  // crash (SURVEY.md §2 S1/St2). dropDuplicatesWithinWatermark must
  // collapse all of it back to one row per event_id. The output set is
  // deterministic regardless of where the watermark lands per batch: a
  // re-delivered row either still has a state entry (dropped as a
  // duplicate) or its state expired — but expiry requires watermark >
  // ts + horizon > ts, which makes the re-delivery late, so it is
  // dropped by the late-row filter instead. Either path, exactly one
  // emission. The oracle is therefore the events table itself — any
  // leaked duplicate or wrongly dropped original hash-mismatches.
  private def dedupReplaySink(s: SparkSession, evs: Seq[Event]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Event]
    val sink = s"st_dedup_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.dedupStream(in.toDF())
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try feed(in, q, atLeastOnce(batched(evs.toIndexedSeq)))
      finally q.stop()
    }
    detachSink(s, sink)
      .selectExpr("event_id", "ts div 1000 AS us", "user_id",
        "event_type", "value")
      .orderBy("event_id")
  }

  private def stDedupReplay(s: SparkSession, dir: String): DataFrame =
    dedupReplaySink(s, orderedEvents(s, dir).toIndexedSeq)

  // The bounded-disorder gate: the same at-least-once re-delivery feed
  // with every event additionally displaced by up to 20 minutes in
  // feed position — strictly inside the 30-minute dedup horizon, so no
  // ORIGINAL delivery is ever late (prior deliveries satisfy
  // ts' < ts + slack, hence the watermark stays < ts). The
  // exactly-once argument is unchanged under disorder: a re-delivered
  // copy either still finds its state row (dropped as duplicate) or
  // the state expired — but expiry needs watermark > ts + horizon,
  // which makes the copy late and the late filter drops it instead.
  // Either path, exactly one emission per event_id: the oracle stays
  // the events table itself.
  private def stDedupOooReplay(s: SparkSession, dir: String): DataFrame = {
    val slackNs = 1200L * 1000000000L // 20 min < the 30-min horizon
    dedupReplaySink(s,
      jittered(orderedEvents(s, dir).toIndexedSeq, slackNs)(_.ts, _.event_id))
  }

  private val stDedupReplaySql =
    """SELECT event_id, epoch_us(ts) AS us, user_id, event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  // Replay gate for the multimodal ingest dedup: the documents fixture
  // fed as a media stream (payload = the UTF-8 text bytes, the mm
  // pack's stand-in) with the same at-least-once re-delivery pattern
  // as st_dedup_replay (previous batch replayed, own head repeated).
  // The deferral keeper must land on mm_dedup's min-(ts, doc_id) row
  // per digest — restated in DuckDB — and exactly once, by the
  // state-hit-or-late-drop argument. The dedup horizon (= watermark
  // delay) is the feed's STUDY HORIZON (computed from the corpus span,
  // like the retention replay's): the fixture's exact-dup pairs can
  // sit anywhere in doc_id order, so no digest's state may expire
  // mid-replay or a later copy would re-emit as a keeper. Deferred
  // emission means nothing fires until the sentinel flush advances the
  // watermark past every candidate (the flushAndFire discipline, with
  // media sentinels carrying doc_id -1/-2 and a payload digest no
  // corpus document shares).
  private def mediaItems(s: SparkSession, dir: String)
      : IndexedSeq[StreamMedia] = {
    import s.implicits._
    table(s, dir, "documents")
      .selectExpr("doc_id", s"(doc_id + 1) * ${TickNs}L AS ts",
        "source AS modality", "cast(text AS binary) AS payload")
      .as[StreamMedia].collect().sortBy(_.doc_id).toIndexedSeq
  }

  private def mmIngestReplaySink(s: SparkSession,
                                 items: IndexedSeq[StreamMedia])
      : DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val spanNs = (items.map(_.doc_id).max + 2L) * TickNs
    val in = MemoryStream[StreamMedia]
    val sink = s"st_mm_ingest_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.mmIngestStream(in.toDF(), horizonNs = spanNs)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        feed(in, q, atLeastOnce(batched(items)))
        val flushTs = items.map(_.ts).max + 3L * spanNs
        flushAndFireWith[StreamMedia](in, q,
          id => StreamMedia(id, flushTs, "flush", Array[Byte]('x')))
      } finally q.stop()
    }
    detachSink(s, sink).filter("keep_id >= 0").orderBy("digest")
  }

  private def stMmIngestReplay(s: SparkSession, dir: String): DataFrame =
    mmIngestReplaySink(s, mediaItems(s, dir))

  // The bounded-disorder gate: the same media items displaced by up to
  // HALF the horizon in feed position. A first-arrival keeper
  // (dropDuplicatesWithinWatermark) would crown whichever copy the
  // jitter delivered first; the deferral keeper must still land on the
  // SAME batch MIN table.
  private def stMmIngestOooReplay(s: SparkSession, dir: String)
      : DataFrame = {
    val items = mediaItems(s, dir)
    val slackNs = (items.map(_.doc_id).max + 2L) / 2L * TickNs
    mmIngestReplaySink(s, jittered(items, slackNs)(_.ts, _.doc_id))
  }

  private val stMmIngestReplaySql =
    """SELECT doc_id AS keep_id, md5(text) AS digest,
      |  source AS modality, CAST(strlen(text) AS BIGINT) AS n_bytes
      |FROM (SELECT doc_id, text, source,
      |        row_number() OVER (PARTITION BY md5(text)
      |          ORDER BY doc_id) AS rn
      |      FROM documents)
      |WHERE rn = 1 ORDER BY digest""".stripMargin

  // Replay gate for the windowed aggregation: events fed as explicit
  // micro-batches, then a far-future sentinel advances the watermark
  // past every real window's end so append mode emits them all (the
  // sentinel's own window stays open and is filtered out by
  // event_type). Nothing is ever late (in-order trivially; the _ooo
  // gate's jitter is bounded strictly inside the 30-min delay), so the
  // emitted set is exactly the batch hour-grouping of the fixture —
  // restated in DuckDB on the micros channel (epoch_us == ts div 1000,
  // both engines floor to the epoch-aligned hour with integer
  // division). Counts only: the stream's total_value is an
  // order-dependent double sum (gated by StreamsSpec), while n is
  // exact in any engine.
  //
  // Sentinel protocol (r16, VERDICT item 3): the FIRST flush sentinel
  // rides in the LAST feed batch — a row is late-filtered against the
  // watermark published by the PREVIOUS batch, so the sentinel cannot
  // drop its own batch-mates, and that batch's END publishes the
  // flushed watermark; one trailing sentinel batch then applies it and
  // emits every closed window. Replaces the r15 two-extra-batch tail
  // (4 micro-batches total, was 5) at identical sink contents.
  private def windowReplaySink(s: SparkSession, evs: Seq[Event]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[Event]
    val sink = s"st_window_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.tumblingCounts(in.toDF())
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val flushTs = evs.map(_.ts).max + 3L * 3600000000000L
        val batches = batched(evs.toIndexedSeq)
        feed(in, q, batches.init :+
          (batches.last :+ Event(-1L, flushTs, -1L, "sentinel", 0.0)))
        in.addData(Event(-2L, flushTs, -1L, "sentinel", 0.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    detachSink(s, sink)
      .filter("event_type <> 'sentinel'")
      .selectExpr("unix_micros(window.start) AS win_start_us",
        "event_type", "n")
      .orderBy("win_start_us", "event_type")
  }

  private def stWindowReplay(s: SparkSession, dir: String): DataFrame =
    windowReplaySink(s, orderedEvents(s, dir).toIndexedSeq)

  // The bounded-disorder gate: the same events displaced by up to 20
  // MINUTES in feed position — strictly inside the 30-minute watermark
  // delay, so nothing is late-dropped, but rows routinely reach their
  // window's state behind later peers. A windowed COUNT is
  // order-insensitive once no row is lost, so the sink must equal the
  // SAME batch hour-grouping — this gate pins the "no silent late
  // drops under bounded disorder" half of the contract, which the
  // in-order feed never exercises.
  private def stWindowOooReplay(s: SparkSession, dir: String): DataFrame = {
    val slackNs = 1200L * 1000000000L // 20 min < the 30-min delay
    windowReplaySink(s,
      jittered(orderedEvents(s, dir).toIndexedSeq, slackNs)(_.ts, _.event_id))
  }

  private val stWindowReplaySql = {
    val hourUs = 3600000000L
    s"""SELECT win * $hourUs AS win_start_us, event_type,
       |  COUNT(*) AS n
       |FROM (SELECT epoch_us(ts) // $hourUs AS win, event_type
       |      FROM events)
       |GROUP BY win, event_type ORDER BY win_start_us, event_type""".stripMargin
  }

  // Replay gate for the retention tracker: hits aggregated per
  // (cohort_day, day_offset) after the stream drains must equal the
  // batch st_retention cohort table — restated in DuckDB on the micros
  // channel (micro-truncation cannot cross a midnight; see the batch
  // operator's note). The operator cohortens by MIN day with emission
  // deferred to watermark finalization, so the equality holds under
  // any disorder bounded by the watermark delay (the _ooo variant
  // exercises exactly that).
  //
  // Watermark delay = the replay's STUDY HORIZON (25 days), not the
  // production lateness knob, chosen for the 30-day fixture (days
  // 19723..19752; first-seen cohort days cluster in the first few
  // days, through 19726 at sf0.1) so that by end of feed the watermark
  // (last_ts - 25 d ~= day 19727.98) (a) has passed every cohort day
  // start -> all provisional cohorts finalize and emit, and (b) has
  // NOT reached the first window-lapse boundary ((min cohort +
  // maxOffset + 1) * day) -> no state expires mid-replay, because
  // expiry + post-window
  // re-activity would re-cohort the user (the documented bounded-state
  // approximation) and a full-history replay must reproduce exact
  // batch MIN(day) semantics. Backfill lateness and steady-state
  // lateness are different deployment knobs; StreamsSpec covers the
  // short-delay expiry path the fixture must avoid. Both window
  // conditions are ASSERTED against the actual feed below, so a
  // fixture regeneration that moves cohorts outside the window fails
  // loudly naming this constant instead of silently dropping rows.
  private val RetentionReplayDelayDays = 25L
  private val RetentionReplayDelay = s"$RetentionReplayDelayDays days"

  private def retentionReplaySink(s: SparkSession,
                                  evs: Seq[Event]): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dayNs = 86400000000000L
    val wmEndNs = evs.map(_.ts).max - RetentionReplayDelayDays * dayNs
    val cohortDays = evs.groupBy(_.user_id).values
      .map(_.map(_.ts).min / dayNs)
    // Spark fires an event-time timeout only when timeout < watermark
    // STRICTLY, on the millisecond channel (the watermark is the
    // ms-floored max event time minus delay) — so the guard must be
    // strict on that same ms channel: a fixture landing exactly on the
    // boundary would pass a <=-on-nanos check yet never finalize its
    // max cohort, surfacing as a confusing oracle hash mismatch
    // instead of this loud require.
    require(cohortDays.max * dayNs / 1000000L < wmEndNs / 1000000L,
      s"RetentionReplayDelay ($RetentionReplayDelay) too LARGE for this " +
        s"fixture: the end-of-feed watermark (day ${wmEndNs / dayNs}) " +
        s"never strictly passes cohort day ${cohortDays.max} on the ms " +
        "timeout channel, so that cohort would never finalize and the " +
        "replay would drop its rows")
    require((cohortDays.min + Streams.RetentionMaxOffset + 1) * dayNs > wmEndNs,
      s"RetentionReplayDelay ($RetentionReplayDelay) too SMALL for this " +
        s"fixture: the watermark (day ${wmEndNs / dayNs}) passes cohort " +
        s"${cohortDays.min}'s window-lapse boundary mid-replay, so its " +
        "users' state would expire and post-window activity re-cohort")
    val in = MemoryStream[Event]
    val sink = s"st_retention_replay_sink_${sinkSeq.incrementAndGet()}"
    withReplayPartitions(s) {
      val q = Streams.retentionStream(in.toDS(),
          delay = RetentionReplayDelay)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        feed(in, q, batched(evs.toIndexedSeq))
        // sentinel data batch at the SAME max ts (the feed may be
        // disordered, so take the max explicitly): advances no
        // watermark, but runs one more micro-batch in which every
        // real user's finalization timeout (set once the last feed
        // batch published the watermark) fires deterministically. The
        // sentinel user's own pending state emits nothing.
        in.addData(Event(-1L, evs.map(_.ts).max, -1L, "sentinel", 0.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    detachSink(s, sink)
      .groupBy("cohort_day", "day_offset")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  private def stRetentionReplay(s: SparkSession, dir: String): DataFrame =
    retentionReplaySink(s, orderedEvents(s, dir).toIndexedSeq)

  // The bounded-disorder gate: the same events with each one displaced
  // by a deterministic pseudo-random jitter of up to ONE DAY in feed
  // position (sorted by ts + jitter(event_id)), well inside the replay
  // watermark delay, so nothing is late-dropped but users' first-SEEN
  // days frequently differ from their minimum days (including across
  // midnights). The sink must STILL equal the batch cohort table —
  // this is what the provisional-mask + watermark-finalization design
  // buys; a first-seen cohorting would mis-cohort and drop offsets
  // here.
  private def stRetentionOooReplay(s: SparkSession, dir: String): DataFrame = {
    val slackNs = 86400000000000L // 1 day of feed-order disorder
    retentionReplaySink(s,
      jittered(orderedEvents(s, dir).toIndexedSeq, slackNs)(_.ts, _.event_id))
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

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("st_neardup_replay" -> (stNearDupReplay _),
        "st_neardup_ooo_replay" -> (stNearDupOooReplay _),
        "st_store_dedup_replay" -> (stStoreDedupReplay _),
        "st_store_dedup_ooo_replay" -> (stStoreDedupOooReplay _),
        "st_store_neardup_replay" -> (stStoreNearDupReplay _),
        "st_store_neardup_ooo_replay" -> (stStoreNearDupOooReplay _),
        "st_decontaminate_replay" -> (stDecontaminateReplay _),
        "st_decontaminate_ooo_replay" -> (stDecontaminateOooReplay _),
        "st_decontaminate_semantic_replay" ->
          (stDecontaminateSemanticReplay _),
        "st_decontaminate_semantic_ooo_replay" ->
          (stDecontaminateSemanticOooReplay _),
        "st_ann_serve_replay" -> (stAnnServeReplay _),
        "st_ann_serve_ooo_replay" -> (stAnnServeOooReplay _),
        "st_store_phash_replay" -> (stStorePhashReplay _),
        "st_store_phash_ooo_replay" -> (stStorePhashOooReplay _),
        "st_sessions_replay" -> (stSessionsReplay _),
        "st_sessions_ooo_replay" -> (stSessionsOooReplay _),
        "st_funnel_replay" -> (stFunnelReplay _),
        "st_funnel_ooo_replay" -> (stFunnelOooReplay _),
        "st_attrib_replay" -> (stAttribReplay _),
        "st_attrib_ooo_replay" -> (stAttribOooReplay _),
        "st_dedup_replay" -> (stDedupReplay _),
        "st_dedup_ooo_replay" -> (stDedupOooReplay _),
        "st_mm_ingest_replay" -> (stMmIngestReplay _),
        "st_mm_ingest_ooo_replay" -> (stMmIngestOooReplay _),
        "st_window_replay" -> (stWindowReplay _),
        "st_window_ooo_replay" -> (stWindowOooReplay _),
        "st_retention_replay" -> (stRetentionReplay _),
        "st_retention_ooo_replay" -> (stRetentionOooReplay _))

  override val oracles: Map[String, String] =
    Map("st_neardup_replay" -> stNearDupReplaySql,
        "st_neardup_ooo_replay" -> stNearDupReplaySql,
        "st_store_dedup_replay" -> stStoreDedupReplaySql,
        "st_store_neardup_replay" -> Dedup.duckStoreNearDupSql,
        // the disorder gate must land on the SAME all-pairs spec
        "st_store_neardup_ooo_replay" -> Dedup.duckStoreNearDupSql,
        "st_decontaminate_replay" -> Dedup.duckDecontaminateReplaySql,
        // the disorder gate must land on the SAME all-pairs spec
        "st_decontaminate_ooo_replay" -> Dedup.duckDecontaminateReplaySql,
        "st_decontaminate_semantic_replay" ->
          Dedup.duckDecontaminateSemanticReplaySql,
        // the disorder gate must land on the SAME banded slice
        "st_decontaminate_semantic_ooo_replay" ->
          Dedup.duckDecontaminateSemanticReplaySql,
        // the streaming serve must land on the batch key's own table
        "st_ann_serve_replay" ->
          graft.operators.Similarity.oracles("sim_ivfpq"),
        "st_ann_serve_ooo_replay" ->
          graft.operators.Similarity.oracles("sim_ivfpq"),
        "st_store_phash_replay" ->
          graft.operators.Multimodal.duckStorePhashSql,
        // the disorder gate must land on the SAME all-pairs spec
        "st_store_phash_ooo_replay" ->
          graft.operators.Multimodal.duckStorePhashSql,
        // the disorder gate must land on the SAME batch pair set
        "st_store_dedup_ooo_replay" -> stStoreDedupReplaySql,
        "st_sessions_replay" -> stSessionsReplaySql,
        "st_sessions_ooo_replay" -> stSessionsReplaySql,
        "st_funnel_replay" -> stFunnelReplaySql,
        "st_funnel_ooo_replay" -> stFunnelReplaySql,
        "st_attrib_replay" -> stAttribReplaySql,
        // the disorder gate must land on the SAME batch join
        "st_attrib_ooo_replay" -> stAttribReplaySql,
        "st_dedup_replay" -> stDedupReplaySql,
        // the disorder gate must still emit exactly-once per event_id
        "st_dedup_ooo_replay" -> stDedupReplaySql,
        "st_mm_ingest_replay" -> stMmIngestReplaySql,
        // the disorder gate must land on the SAME batch MIN table
        "st_mm_ingest_ooo_replay" -> stMmIngestReplaySql,
        "st_window_replay" -> stWindowReplaySql,
        // the disorder gate must land on the SAME hour grouping
        "st_window_ooo_replay" -> stWindowReplaySql,
        "st_retention_replay" -> stRetentionReplaySql,
        // the disorder gate must land on the SAME batch cohort table
        "st_retention_ooo_replay" -> stRetentionReplaySql)
}
