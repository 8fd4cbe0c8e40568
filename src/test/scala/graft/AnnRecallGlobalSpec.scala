package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, StoreFiles}
import graft.run.StoreCtl

/** GLOBAL recall of the served ANN cascade on a CLUSTERABLE fixture —
  * the measurement sim_ann_recall_stored's doctrine deliberately
  * defers: that key is pool-restricted (isolates quantization loss)
  * because on the driver's near-uniform noise fixture coarse-probe
  * coverage is low by construction and a global number would only
  * measure the fixture. Here the fixture HAS the structure IVF
  * assumes — four well-separated planted clusters whose centers are
  * the first KmK vectors, so the coarse cells align with the planted
  * geometry — and global recall@3 (exact integer-L2 top-3 over the
  * WHOLE corpus vs the deployed ADC→refine window) becomes a
  * meaningful end-to-end alarm covering probe coverage ×
  * quantization × the store chain at once.
  *
  * The served index is a DELTA chain (r18: gen-0 trains on the even
  * half, `advance --delta` lands the odd half increment-only), so the
  * floor also gates chain-serve: a chain read that dropped a parent's
  * codes removes half of every cluster from the candidate set and
  * fails the floor immediately, as does a mis-probed serve (probing
  * the wrong cells — demonstrated by the counterfactual below) or a
  * scrambled codebook (ADC ranking a far cell's members first).
  *
  * DECLARED FLOOR: mean global recall@3 >= 0.9. By construction the
  * expected value is 1.0 — each cluster (8 members) fits inside the
  * refine window (RefineR = 10) once its cell is probed — so the
  * floor allows measurement noise only, never a structural failure.
  */
class AnnRecallGlobalSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark

  private val Dim = 64          // PqM(4) x PqDim(16)
  private val Clusters = 4      // = KmK, one planted cluster per cell
  private val PerCluster = 7    // cluster size 8 (center + 7) <= RefineR
  private val QueryBase = Similarity.IvfQ.toLong // 492

  /** Planted vector: cluster block c carries 8.0 in components
    * [16c, 16c+16); members and queries add a deterministic jitter
    * two orders below the inter-cluster separation.
    */
  private def vec(cluster: Int, id: Long, jitter: Boolean): Array[Float] = {
    val a = Array.fill(Dim)(0.0f)
    (16 * cluster until 16 * (cluster + 1)).foreach(i => a(i) = 8.0f)
    if (jitter)
      (0 until Dim).foreach { i =>
        a(i) += (((id * 31 + i * 7) % 11) - 5) * 0.01f
      }
    a
  }

  private lazy val fixDir: String = {
    val d = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_annglobal_fixture_p${ProcessHandle.current().pid()}").toString
    // ids 0..3 ARE the pure centers (trainIvfPq's coarse init takes
    // vec_id < KmK); corpus members 4..31 (cluster = id % 4); queries
    // 492..499 (the serving convention's vec_id >= IvfQ), jittered
    // around their own center
    val rows: Seq[(Long, Array[Float])] =
      (0L until Clusters.toLong).map(c => (c, vec(c.toInt, c, false))) ++
        (Clusters.toLong until (Clusters * (1 + PerCluster)).toLong)
          .map(v => (v, vec((v % Clusters).toInt, v, true))) ++
        (QueryBase until QueryBase + 2L * Clusters)
          .map(q => (q, vec((q % Clusters).toInt, q, true)))
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "cast(vec_id % 4 as int) AS label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def x4(v: Array[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 10000.0 + 0.5).toLong)

  private def dist(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum

  test("global recall@3 of the delta-chain-served IVF-PQ cascade holds " +
      "the declared 0.9 floor on planted clusters, and a mis-probed " +
      "serve fails it") {
    val s = spark
    // pointer-served DELTA chain: even half self-contained (covers
    // the coarse seeds 0..3), odd half increment-only
    val root = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_annglobal_root_p${ProcessHandle.current().pid()}").toString
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rec)
      f.delete()
    }
    rec(new java.io.File(root)); new java.io.File(root).mkdirs()
    def runOrFail(cmd: String*): Unit =
      StoreCtl.run(s, cmd) match {
        case Left(e)  => fail(s"${cmd.mkString(" ")}: $e")
        case Right(_) => ()
      }
    runOrFail("build", "ivfpq", fixDir, s"$root/gen-0",
      s"vec_id < $QueryBase AND (vec_id < $Clusters OR vec_id % 2 = 0)")
    runOrFail("flip", root, "gen-0")
    runOrFail("advance", "--delta", "ivfpq", fixDir, root,
      s"vec_id >= $Clusters AND vec_id < $QueryBase AND vec_id % 2 = 1")
    val served = StoreFiles.serve(root)
      .getOrElse(fail("chain root did not serve"))
    assert(served.endsWith("gen-1"), served)
    val model = Similarity.IvfPqStore.load(s, served)

    // driver-side exact ground truth (32 corpus + 8 query vectors)
    val all = Engine.table(s, fixDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), x4(r.getSeq[Float](1).toArray)))
    val corpus = all.filter(_._1 < QueryBase)
    val queries = all.filter(_._1 >= QueryBase)
    def exactTop3(q: Array[Long]): Seq[Long] =
      corpus.map { case (id, v) => (dist(q, v), id) }
        .sortBy(identity).take(3).map(_._2).toSeq
    // fixture sanity: every query's exact top-3 sits in its own cluster
    queries.foreach { case (qid, qv) =>
      assert(exactTop3(qv).forall(_ % Clusters == qid % Clusters),
        s"query $qid: planted clusters did not separate — spec vacuous")
    }

    // the deployed cascade: real serving candidates (probe + ADC over
    // the chain-loaded codes), per-query ADC top-RefineR window
    import s.implicits._
    val qdf = queries.map(_._1).toSeq
      .toDF("vec_id").withColumn("ts",
        org.apache.spark.sql.functions.lit(0L))
      .join(Engine.table(s, fixDir, "embeddings"), Seq("vec_id"))
      .select("vec_id", "ts", "embedding")
    val window = Similarity.annServeCandidates(qdf, model)
      .select("query_id", "neighbor_id", "adc_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, cs) =>
        q -> cs.sortBy(c => (c._3, c._2)).take(Similarity.RefineR)
          .map(_._2).toSet
      }
    val recalls = queries.map { case (qid, qv) =>
      exactTop3(qv).count(window.getOrElse(qid, Set.empty)) / 3.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9,
      s"global recall@3 $mean fell below the declared 0.9 floor — " +
        "probe coverage, quantization, or the delta chain broke")

    // the floor DISCRIMINATES: a mis-probed serve (the two FARTHEST
    // cells) fails it even with an exact-distance window — more
    // favorable than ADC, and still structurally wrong
    val cents = model.cents.map { case (c, v) => (c, v.toArray) }
    val codes = model.codes.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 < QueryBase).groupBy(_._2)
    val misRecalls = queries.map { case (qid, qv) =>
      val far = cents.map { case (c, cv) => (dist(qv, cv), c) }
        .sortBy(t => (-t._1, t._2)).take(2).map(_._2)
      val pool = far.flatMap(c =>
        codes.getOrElse(c, Array.empty).map(_._1))
      val w = pool.map(id =>
          (dist(qv, corpus.find(_._1 == id).get._2), id))
        .sortBy(identity).take(Similarity.RefineR).map(_._2).toSet
      exactTop3(qv).count(w) / 3.0
    }
    val misMean = misRecalls.sum / misRecalls.length
    assert(misMean < 0.9,
      s"mis-probed recall $misMean passed the floor — the alarm " +
        "cannot catch a wrong-cell serve on this fixture")
    rec(new java.io.File(root))
  }
}
