package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import graft.run.StoreCtl
import graft.operators.{Dedup, StoreFiles}

/** The ALIGNED chain table (StoreFiles.readChainAligned): a delta
  * chain whose generations all share the bucketed layout reads as ONE
  * partitioned+bucketed catalog table — one partition per generation
  * with a custom LOCATION — so Spark groups bucket files ACROSS
  * generations and the chain scan reports HashPartitioning at any
  * depth. Row identity with the per-generation union, the depth
  * partition's generation mapping, the exchange-free serve plans at
  * depth 3, and the mixed-layout fallback are each pinned here; the
  * 12-deep end-to-end bit-identity lives in StoreCtlSpec.
  *
  * The tests share one cluster-kind chain root and run IN ORDER: the
  * last test mutates the root (deletes a sidecar) to force the
  * fallback, so it must stay last.
  */
class ChainAlignedSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private val root: String = {
    val f = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_chainaligned_p${ProcessHandle.current().pid()}")
    def rec(g: java.io.File): Unit = {
      if (g.isDirectory) g.listFiles().foreach(rec)
      g.delete()
    }
    rec(f)
    f.mkdirs()
    def runOrDie(cmd: Seq[String]): Unit = {
      val r = StoreCtl.run(spark, cmd)
      assert(r.isRight, s"$cmd: $r")
    }
    runOrDie(Seq("build", "cluster", dir, s"$f/gen-0", "doc_id % 3 = 0"))
    runOrDie(Seq("flip", f.toString, "gen-0"))
    runOrDie(Seq("advance", "--delta", "cluster", dir, f.toString,
      "doc_id % 3 = 1"))
    runOrDie(Seq("advance", "--delta", "cluster", dir, f.toString,
      "doc_id % 3 = 2"))
    f.toString
  }

  private def served: String = StoreFiles.serve(root).toOption.get

  // Looks THROUGH InMemoryTableScan into the cached plan (r22: the
  // streaming serve paths cache their static sides; the cached
  // relation preserves the aligned chain scan's reported partitioning,
  // which is what these pins assert) — the PlanSpec helper's rule.
  private def chainScans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect {
      case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("graft_chn_")) =>
        Seq(f)
      case m: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec =>
        chainScans(m.relation.cachedPlan)
    }.flatten

  test("aligned chain read = the per-generation union, and each depth " +
      "partition holds exactly its generation's rows, newest at 0") {
    val gens = StoreFiles.chainPaths(served).toOption.get
    assert(gens.length == 3, gens)
    val aligned = StoreFiles.readChainAligned(
      spark, gens.map(g => s"$g/sigs"), Some("gd")).get
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val union = gens.map(g => StoreFiles.readRel(spark, s"$g/sigs"))
      .reduce(_ union _)
    assert(rows(aligned.drop("gd")) == rows(union))
    gens.zipWithIndex.foreach { case (g, d) =>
      assert(rows(aligned.where(s"gd = $d").drop("gd")) ==
        rows(StoreFiles.readRel(spark, s"$g/sigs")),
        s"depth $d is not generation $g")
    }
    // re-reads resolve the same registration (the ADD PARTITION
    // statement is idempotent — a racer between a creator's CREATE
    // and ADD must still see the full chain)
    val again = StoreFiles.readChainAligned(
      spark, gens.map(g => s"$g/sigs"), None).get
    assert(rows(again) == rows(union))
  }

  test("readRelChain routes a depth-3 chain through the aligned table " +
      "and the scan reports the bucketed partitioning (zero exchange " +
      "on a bucket-key agg)") {
    Dedup.withAqeOff(spark) {
      val bands = StoreFiles.readRelChain(spark, served, "bands")
      val keyed = bands.groupBy("band", "bk").count()
      val p = keyed.queryExecution.executedPlan
      assert(chainScans(p).nonEmpty,
        s"no aligned chain scan:\n${p.toString.take(3000)}")
      assert(chainScans(p).forall(_.bucketedScan), p.toString.take(3000))
      assert(p.collect { case e: Exchange => e }.isEmpty,
        s"a bucket-key agg over the chain shuffles:\n${
          p.toString.take(3000)}")
    }
  }

  test("storeAssignment over a depth-3 chain: the last-writer-wins " +
      "min_by agg is exchange-free (the id-bucketed chain scan " +
      "satisfies the grouping)") {
    Dedup.withAqeOff(spark) {
      val p = Dedup.storeAssignment(spark, served, "doc_id")
        .queryExecution.executedPlan
      assert(chainScans(p).nonEmpty, p.toString.take(3000))
      assert(p.collect { case e: Exchange => e }.isEmpty,
        s"the chain assignment agg shuffles:\n${p.toString.take(3000)}")
    }
  }

  /** The depth->1 probe contract, shared by every served-store stream
    * case: each join child that holds an aligned chain scan (and no
    * nested join — an outer join's child legitimately contains the
    * batch side's exchange below an inner join) must be exchange-free
    * and scan bucketed.
    */
  private def assertChainProbeSidesExchangeFree(p: SparkPlan): Unit = {
    val probeSides = p.collect {
      case j: BaseJoinExec => j.children.filter(c =>
        chainScans(c).nonEmpty &&
          c.collect { case n: BaseJoinExec => n }.isEmpty)
    }.flatten
    assert(probeSides.nonEmpty,
      s"no join probes the chain tables:\n${p.toString.take(4000)}")
    probeSides.foreach { c =>
      assert(c.collect { case e: Exchange => e }.isEmpty,
        s"a chain-side probe input shuffles:\n${c.toString.take(3000)}")
      assert(chainScans(c).forall(_.bucketedScan),
        c.toString.take(3000))
    }
  }

  private def withNoBroadcast[T](body: => T): T = {
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try body finally spark.conf.set(k, was)
  }

  /** A fresh depth-3 chain root of `kind` over per-third predicates —
    * the fixture behind the per-stream depth-3 pins below.
    */
  private def depth3Root(tag: String, kind: String,
                         preds: Seq[String]): String = {
    val f = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_chainaligned_${tag}_p${ProcessHandle.current().pid()}")
    def rec(g: java.io.File): Unit = {
      if (g.isDirectory) g.listFiles().foreach(rec)
      g.delete()
    }
    rec(f); f.mkdirs()
    def runOrDie(cmd: Seq[String]): Unit = {
      val r = StoreCtl.run(spark, cmd)
      assert(r.isRight, s"$cmd: $r")
    }
    runOrDie(Seq("build", kind, dir, s"$f/gen-0", preds(0)))
    runOrDie(Seq("flip", f.toString, "gen-0"))
    preds.drop(1).foreach(p =>
      runOrDie(Seq("advance", "--delta", kind, dir, f.toString, p)))
    f.toString
  }

  test("storeNearDupStream over a depth-3 chain: the store sides stay " +
      "bucketed scans with NO exchange — the r19 depth-1 contract " +
      "now holds without waiting for compact") {
    val docs = Engine.table(spark, dir, "documents")
      .selectExpr("doc_id", "(doc_id + 1) * 1000000000L AS ts", "text")
    withNoBroadcast {
      Dedup.withAqeOff(spark) {
        assertChainProbeSidesExchangeFree(
          streaming.Streams.storeNearDupStream(docs, served)
            .queryExecution.executedPlan)
      }
    }
  }

  test("storePhashStream over a depth-3 phash chain: bands and sigs " +
      "stay bucketed scans with NO exchange — the served-media pin " +
      "at depth > 1") {
    val root = depth3Root("ph3", "phash",
      Seq("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2"))
    val cur = StoreFiles.serve(root).toOption.get
    assert(StoreFiles.chainPaths(cur).exists(_.length == 3))
    val docs = Engine.table(spark, dir, "documents")
      .selectExpr("doc_id", "(doc_id + 1) * 1000000000L AS ts", "text")
    withNoBroadcast {
      Dedup.withAqeOff(spark) {
        assertChainProbeSidesExchangeFree(
          streaming.Streams.storePhashStream(docs, cur)
            .queryExecution.executedPlan)
      }
    }
  }

  test("annServeStream over a depth-3 ivfpq chain: the chained code " +
      "table reaches its cell join scan+union only — zero Exchange " +
      "on the store side, the tiny query side broadcasting (the " +
      "designed serve shape at any depth; codes is DELIBERATELY " +
      "unbucketed, so this pin is exchange-freedom, not bucketing)") {
    val root = depth3Root("iv3", "ivfpq",
      Seq("vec_id % 3 = 0", "vec_id % 3 = 1", "vec_id % 3 = 2"))
    val cur = StoreFiles.serve(root).toOption.get
    assert(StoreFiles.chainPaths(cur).exists(_.length == 3))
    val queries = Engine.table(spark, dir, "embeddings")
      .where(s"vec_id >= ${graft.operators.Similarity.IvfQ}")
      .selectExpr("vec_id", "cast(1 as bigint) AS ts", "embedding")
    Dedup.withAqeOff(spark) {
      val p = streaming.Streams.annServeStream(queries, cur)
        .queryExecution.executedPlan
      // looks through the stream's cached static side (see chainScans)
      def codesScans(c: SparkPlan): Seq[FileSourceScanExec] = c.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("/codes")) => Seq(f)
        case m: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec =>
          codesScans(m.relation.cachedPlan)
      }.flatten
      val joins = p.collect {
        case j: BaseJoinExec
          if j.children.exists(codesScans(_).nonEmpty) => j
      }
      assert(joins.nonEmpty,
        s"no join reads the code table:\n${p.toString.take(4000)}")
      val codesSides = joins.last.children.filter(codesScans(_).nonEmpty)
      assert(codesSides.nonEmpty)
      codesSides.foreach { c =>
        assert(c.collect { case e: Exchange => e }.isEmpty,
          s"the chained codes side shuffles:\n${c.toString.take(3000)}")
        assert(codesScans(c).size == 3,
          "all three generations' codes must feed one union: " +
            c.toString.take(3000))
      }
      // the per-batch query side reaches the code join as a broadcast
      assert(p.collect {
        case b: org.apache.spark.sql.execution.exchange
          .BroadcastExchangeExec => b
      }.nonEmpty, p.toString.take(4000))
    }
  }

  test("chain-table registrations live exactly as long as their " +
      "generation files: delta advances never drop a displaced " +
      "chain's table, and gc reclaims precisely the collected " +
      "chains' registrations") {
    // assert on SPECIFIC registrations via the chainTableFor hook:
    // the StoreCtl verbs read chains internally (the fold probes), so
    // global graft_chn_* counts are not attributable to this test
    def registered(paths: Seq[String]): Boolean =
      spark.catalog.tableExists(StoreFiles.chainTableFor(paths).get)
    val gens3 = StoreFiles.chainPaths(served).toOption.get
    val sigs3 = gens3.map(g => s"$g/sigs")
    val rows3 = StoreFiles.readChainAligned(spark, sigs3, None)
      .get.collect().map(_.mkString("|")).toSet
    assert(registered(sigs3))
    // two delta advances: the displaced chains' registrations SURVIVE
    // (their generations are ancestors of the pointed one, so gc
    // keeps their files — a stream frozen on either keeps listing its
    // partitions through the live catalog, the restart-to-advance
    // contract's envelope)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "cluster", dir,
      root, "doc_id % 7 = 3")).isRight)
    val sigs4 = StoreFiles.chainPaths(served).toOption.get
      .map(g => s"$g/sigs")
    assert(StoreFiles.readChainAligned(spark, sigs4, None).nonEmpty)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "cluster", dir,
      root, "doc_id % 7 = 5")).isRight)
    val sigs5 = StoreFiles.chainPaths(served).toOption.get
      .map(g => s"$g/sigs")
    val rows5 = StoreFiles.readChainAligned(spark, sigs5, None)
      .get.collect().map(_.mkString("|")).toSet
    assert(rows3.subsetOf(rows5))
    assert(registered(sigs3) && registered(sigs4) && registered(sigs5),
      "a displaced chain's registration must survive while its " +
        "generation files do")
    // capture the names now: after gc the sidecars are gone and
    // chainTableFor can no longer derive them
    val t3 = StoreFiles.chainTableFor(sigs3).get
    val t4 = StoreFiles.chainTableFor(sigs4).get
    val t5 = StoreFiles.chainTableFor(sigs5).get
    // a SINGLE-generation bucketed table over a soon-collected
    // generation (registered by test 1's per-generation readRel
    // calls) follows the same reclamation contract
    val tBkt = StoreFiles.sidecarTable(sigs3.head).get
    assert(spark.catalog.tableExists(tBkt))
    // compact seals the chain; one more advance walks prev past the
    // old chain; gc then deletes its generations AND this JVM's
    // chain-table registrations over them (registration lifetime ==
    // file lifetime)
    assert(StoreCtl.run(spark, Seq("compact", "cluster", root)).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "cluster", dir,
      root, "doc_id % 7 = 6")).isRight)
    val gcd = StoreCtl.run(spark, Seq("gc", root))
    assert(gcd.exists(m => m.contains("collected") &&
      m.contains("store-table registration")), gcd)
    assert(!spark.catalog.tableExists(t3) &&
      !spark.catalog.tableExists(t4) && !spark.catalog.tableExists(t5),
      "gc must drop the collected chains' registrations")
    assert(!spark.catalog.tableExists(tBkt),
      "gc must drop a collected generation's bucketed-table " +
        "registration too")
    // a read of the gc'd chain cleanly refuses at the layout gate
    // (the sidecars died with the files — no catalog touch)
    assert(StoreFiles.readChainAligned(spark, sigs3, None).isEmpty)
    // and the pointed chain keeps serving aligned
    val sigsNow = StoreFiles.chainPaths(served).toOption.get
      .map(g => s"$g/sigs")
    assert(sigsNow.size == 2)
    assert(StoreFiles.readChainAligned(spark, sigsNow, None).nonEmpty)
  }

  test("a mixed-layout chain (one generation lost its sidecar) falls " +
      "back to the plain union with identical rows — MUST RUN LAST, " +
      "mutates the root") {
    val gens = StoreFiles.chainPaths(served).toOption.get
    val before = StoreFiles.readRelChain(spark, served, "sigs")
      .collect().map(_.mkString("|")).toSet
    val sidecar = java.nio.file.Paths.get(gens(1), "sigs", "_BUCKETS")
    assert(java.nio.file.Files.deleteIfExists(sidecar))
    assert(StoreFiles.readChainAligned(
      spark, gens.map(g => s"$g/sigs"), None).isEmpty,
      "a mixed-layout chain must not claim alignment")
    val after = StoreFiles.readRelChain(spark, served, "sigs")
      .collect().map(_.mkString("|")).toSet
    assert(after == before, "the fallback union diverged")
    // a PRE-sort-line (3-field) sidecar must read as "no sidecar" —
    // the plain-parquet fallback, never a parse crash (the files are
    // plain parquet either way, so rows are identical)
    java.nio.file.Files.write(sidecar,
      "8\nband,bk\nIGNORED-LEGACY-DDL".getBytes("UTF-8"))
    val legacy = StoreFiles.readRelChain(spark, served, "sigs")
      .collect().map(_.mkString("|")).toSet
    assert(legacy == before, "the legacy-sidecar fallback diverged")
    assert(StoreFiles.sidecarTable(gens(1) + "/sigs").isEmpty)
  }
}
