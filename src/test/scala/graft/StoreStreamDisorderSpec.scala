package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BandedStore, Dedup, Similarity, StoreKind}
import graft.streaming.{StreamDoc, StreamVec, Streams}

/** Seeded RANDOM bounded-disorder sweeps for the served-store probe
  * streams — the property-level companion to the fixed-jitter
  * `st_store_*_ooo_replay` gates, the same way DisorderPropertySpec
  * backs the fMGWS machines' replay gates. These streams hold no
  * custom state (two stream-static joins around a watermark-TTL'd
  * per-pair dedup), so their disorder invariance is STRUCTURAL: a
  * pair's duplicate band hits carry one event time, and the verify is
  * order-free arithmetic against the immutable store. The sweeps
  * check exactly that claim — any delivery order bounded inside the
  * dedup delay must land on the batch pair query's old-new slice —
  * across random orders the fixed replay jitter cannot reach.
  */
class StoreStreamDisorderSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"
  private val TickNs = 1000000000L

  private def newDocs(): IndexedSeq[StreamDoc] = {
    val s = spark
    import s.implicits._
    Engine.table(s, dir, "documents")
      .where(s"NOT (${Dedup.oldPred})")
      .selectExpr("doc_id",
        s"(row_number() OVER (ORDER BY doc_id)) * ${TickNs}L AS ts",
        "text")
      .as[StreamDoc].collect().sortBy(_.doc_id).toIndexedSeq
  }

  private def newVecs(split: Long): IndexedSeq[StreamVec] = {
    val s = spark
    import s.implicits._
    Engine.table(s, dir, "embeddings")
      .where(s"vec_id >= $split")
      .selectExpr("vec_id",
        s"(vec_id - $split + 1) * ${TickNs}L AS ts", "embedding")
      .as[StreamVec].collect().sortBy(_.vec_id).toIndexedSeq
  }

  /** A pair query's old-vs-new slice re-oriented as (new, old owner),
    * the reference every delivery order must land on.
    */
  private def oldNewSlice(key: String, a: String, b: String,
                          isOld: Long => Boolean): Set[(Long, Long)] =
    SparkEntry.queries(key)(spark, dir)
      .select(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (x, y) =>
        (isOld(x), isOld(y)) match {
          case (true, false) => Some((y, x))
          case (false, true) => Some((x, y))
          case _             => None
        }
      }.toSet

  /** The driver-side restatement of [[Streams.observeArrivals]]'
    * accounting for a single-source-partition feed (one MemoryStream
    * block per micro-batch): per fed batch, count arrivals strictly
    * below the PRE-batch (ts, id) high-water, then advance it —
    * DisorderPropertySpec's absorbedRefBy with the partition as the
    * (single) group. Exact equality is the property under test: these
    * are single-JVM local[] runs, so the accumulator's documented
    * retry/migration slack cannot legitimately fire.
    */
  private def absorbedRef[T](batches: Seq[Seq[T]])(
      ts: T => Long, id: T => Long): Long = {
    var n = 0L
    var hw = (Long.MinValue, Long.MinValue)
    batches.foreach { b =>
      val pre = hw
      b.foreach { e =>
        if (ts(e) < pre._1 || (ts(e) == pre._1 && id(e) < pre._2)) n += 1
        if (ts(e) > hw._1 || (ts(e) == hw._1 && id(e) > hw._2))
          hw = (ts(e), id(e))
      }
    }
    n
  }

  /** One generic sweep: 3 seeds of random feed-position jitter up to
    * 64 ticks (strictly inside the streams' 10-minute dedup delay),
    * fed in micro-batches; the sink's (id, owner) set must equal the
    * reference regardless of order, the absorbed counter must equal
    * the exact driver fold of the fed batches, and the watermark must
    * have dropped nothing (the disorder is bounded inside the delay).
    */
  private def sweep[T <: Product](
      name: String, reference: Set[(Long, Long)], rows: IndexedSeq[T],
      idCol: String)(ts: T => Long, id: T => Long)(
      mk: (DataFrame, Option[Streams.DisorderMetrics]) => DataFrame)(
      implicit enc: org.apache.spark.sql.Encoder[T]): Unit = {
    val s = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    assert(reference.nonEmpty,
      s"$name: fixture produced zero old-new matches — sweep is vacuous")
    var absorbedTotal = 0L
    (1L to 3L).foreach { seed =>
      val rnd = new scala.util.Random(seed * 7919L)
      val order = rows
        .map(r => (ts(r) + rnd.nextLong(64L * TickNs), id(r), r))
        .sortBy(t => (t._1, t._2)).map(_._3)
      val batches = order.grouped(60).toIndexedSeq
      val in = MemoryStream[T]
      val sink = s"${name}_sweep_$seed"
      val metrics = Streams.disorderMetrics(s)
      val listener = metrics.registerDropped(s, sink)
      val q = mk(in.toDF(), Some(metrics))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append()).start()
      val got =
        try {
          batches.foreach { b => in.addData(b); q.processAllAvailable() }
          s.table(sink).select(idCol, "owner_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        } finally {
          q.stop()
          s.streams.removeListener(listener)
        }
      assert(Streams.arrivalMarkCount(metrics) > 0,
        s"$name seed $seed: the observer persisted no arrival marks")
      metrics.release()
      assert(Streams.arrivalMarkCount(metrics) == 0,
        s"$name seed $seed: release left arrival marks behind")
      s.catalog.dropTempView(sink)
      assert(got == reference,
        s"$name seed $seed: ${got.size} pairs vs reference " +
          s"${reference.size}")
      val expected = absorbedRef(batches)(ts, id)
      assert(metrics.absorbed.value == expected,
        s"$name seed $seed: absorbed ${metrics.absorbed.value} vs " +
          s"driver fold $expected")
      assert(metrics.lateDropped == 0L,
        s"$name seed $seed: watermark dropped rows under bounded " +
          "disorder")
      absorbedTotal += expected
    }
    assert(absorbedTotal > 0,
      s"$name: no seed produced a cross-batch inversion — the " +
        "absorbed property is vacuous at this jitter")
  }

  private def oldDocIds(): Set[Long] =
    Engine.table(spark, dir, "documents")
      .where(Dedup.oldPred).select("doc_id")
      .collect().map(_.getLong(0)).toSet

  test("storePhashStream lands on the batch old-new Hamming slice " +
      "under random bounded disorder (3 seeds)") {
    val s0 = spark; import s0.implicits._
    val store = BandedStore.ensure(StoreKind.Phash, spark, dir)
    val olds = oldDocIds()
    sweep("store_phash",
      oldNewSlice("mm_phash_pairs", "doc_a", "doc_b", olds),
      newDocs(), "doc_id")(_.ts, _.doc_id)(
      (df, m) => Streams.storePhashStream(df, store, metrics = m))
  }

  test("storeNearDupStream lands on the batch old-new Jaccard slice " +
      "under random bounded disorder (3 seeds)") {
    val s0 = spark; import s0.implicits._
    val store = BandedStore.ensure(StoreKind.Cluster, spark, dir)
    val olds = oldDocIds()
    sweep("store_neardup",
      oldNewSlice("dd_jaccard", "doc_a", "doc_b", olds),
      newDocs(), "doc_id")(_.ts, _.doc_id)(
      (df, m) => Streams.storeNearDupStream(df, store, metrics = m))
  }

  test("storeDedupStream lands on the banded old-new cosine slice " +
      "under random bounded disorder (3 seeds)") {
    val s0 = spark; import s0.implicits._
    val store = BandedStore.ensure(StoreKind.Embed, spark, dir)
    val split = Dedup.embedSplit(spark, dir)
    // banded pair query's slice: the store probe is banded, so banded
    // — not all-pairs — is the contract
    sweep("store_dedup",
      oldNewSlice("dd_embed_cosine_lsh", "vec_a", "vec_b", _ < split),
      newVecs(split), "vec_id")(_.ts, _.vec_id)(
      (df, m) => Streams.storeDedupStream(df, store, metrics = m))
  }

  private def tickedDocsWhere(pred: String): IndexedSeq[StreamDoc] = {
    val s = spark
    import s.implicits._
    Engine.table(s, dir, "documents")
      .where(pred)
      .selectExpr("doc_id",
        s"(row_number() OVER (ORDER BY doc_id)) * ${TickNs}L AS ts",
        "text")
      .as[StreamDoc].collect().sortBy(_.doc_id).toIndexedSeq
  }

  private def tickedVecsWhere(pred: String): IndexedSeq[StreamVec] = {
    val s = spark
    import s.implicits._
    Engine.table(s, dir, "embeddings")
      .where(pred)
      .selectExpr("vec_id",
        s"(row_number() OVER (ORDER BY vec_id)) * ${TickNs}L AS ts",
        "embedding")
      .as[StreamVec].collect().sortBy(_.vec_id).toIndexedSeq
  }

  test("decontamination probe (eval cluster store) lands on the " +
      "corpus-vs-eval Jaccard slice under random bounded disorder") {
    val s0 = spark; import s0.implicits._
    val store = BandedStore.ensure(StoreKind.Cluster, spark, dir, Dedup.evalPred)
    sweep("decon_text",
      oldNewSlice("dd_jaccard", "doc_a", "doc_b", _ % 50 == 0),
      tickedDocsWhere("doc_id % 50 <> 0"), "doc_id")(_.ts, _.doc_id)(
      (df, m) => Streams.storeNearDupStream(df, store, metrics = m))
  }

  test("semantic decontamination probe (eval embed store) lands on " +
      "the banded corpus-vs-eval cosine slice under random bounded " +
      "disorder") {
    val s0 = spark; import s0.implicits._
    val store =
      BandedStore.ensure(StoreKind.Embed, spark, dir, Dedup.evalVecPred)
    sweep("decon_embed",
      oldNewSlice("dd_embed_cosine_lsh", "vec_a", "vec_b", _ % 50 == 0),
      tickedVecsWhere("vec_id % 50 <> 0"), "vec_id")(_.ts, _.vec_id)(
      (df, m) => Streams.storeDedupStream(df, store, metrics = m))
  }

  test("annServeStream exposes the absorbed/lateDropped counters with " +
      "the exact driver-fold accounting, and its hits are disorder-" +
      "invariant") {
    val s0 = spark; import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s0.sqlContext
    val store = Similarity.ensureIvfPqStore(spark, dir)
    val queries: IndexedSeq[StreamVec] = newVecs(Similarity.IvfQ.toLong)
    assert(queries.nonEmpty)
    def run(order: IndexedSeq[StreamVec], sink: String)
        : (Set[(Long, Long, Long)], Long, Long, Long) = {
      val batches = order.grouped(3).toIndexedSeq
      val in = MemoryStream[StreamVec]
      val metrics = Streams.disorderMetrics(s0)
      val listener = metrics.registerDropped(s0, sink)
      val q = Streams.annServeStream(in.toDF(), store, metrics = Some(metrics))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append()).start()
      val got =
        try {
          batches.foreach { b => in.addData(b); q.processAllAvailable() }
          s0.table(sink).select("query_id", "neighbor_id", "rnk")
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        } finally {
          q.stop()
          s0.streams.removeListener(listener)
          metrics.release()
        }
      s0.catalog.dropTempView(sink)
      (got, metrics.absorbed.value,
        absorbedRef(batches)(_.ts, _.vec_id), metrics.lateDropped)
    }
    val (inOrder, a0, e0, d0) = run(queries, "ann_metrics_inorder")
    assert(a0 == e0 && e0 == 0L,
      s"in-order feed must absorb nothing, got $a0 (fold $e0)")
    assert(d0 == 0L)
    val rnd = new scala.util.Random(7919L)
    val shuffled = queries
      .map(r => (r.ts + rnd.nextLong(64L * TickNs), r.vec_id, r))
      .sortBy(t => (t._1, t._2)).map(_._3)
    val (ooo, a1, e1, d1) = run(shuffled, "ann_metrics_ooo")
    assert(ooo == inOrder, "hits changed under bounded disorder")
    assert(a1 == e1, s"absorbed $a1 vs driver fold $e1")
    assert(e1 > 0, "jitter produced no cross-batch inversion — vacuous")
    assert(d1 == 0L)
  }
  test("observeArrivals persists the seen-prefix mark under downstream " +
      "early-stop, and release() evicts the marks") {
    val s = spark
    import s.implicits._
    val metrics = Streams.disorderMetrics(s)
    val df = Seq((5L, 10L), (6L, 11L), (1L, 12L))
      .toDF("ts", "id").coalesce(1)
    val observed = Streams.observeArrivals(df, "id", Some(metrics))
    // early-stop: a limit consumes one row and abandons the iterator,
    // so an exhaustion-hook mark would never persist — the task-
    // completion listener must persist the SEEN prefix's high-water
    assert(observed.limit(1).collect().length == 1)
    assert(Streams.arrivalMarkCount(metrics) == 1,
      "no arrival mark persisted after an early-stopped scan")
    // a second full pass compares against that persisted mark (5, 10):
    // only (1, 12) sits strictly below it — with the stale
    // (exhaustion-hook) behavior the mark is absent and this counts 0
    assert(observed.collect().length == 3)
    assert(metrics.absorbed.value == 1L,
      s"absorbed ${metrics.absorbed.value}: the early-stopped scan's " +
        "seen prefix did not persist")
    metrics.release()
    assert(Streams.arrivalMarkCount(metrics) == 0,
      "release() left this query's arrival marks behind")
  }
}
