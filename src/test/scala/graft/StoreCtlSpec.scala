package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.run.StoreCtl
import graft.operators.{Banded, Dedup, StoreFiles, StoreKind}

/** The named-path operational face of the persistent stores: build /
  * fold / stats round-trips through StoreCtl.run for each store kind,
  * plus the refusal contracts (build onto a committed store, fold
  * from nothing, fold onto a committed generation).
  */
class StoreCtlSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private def tmp(name: String): String = {
    val f = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_storectl_${name}_p${ProcessHandle.current().pid()}")
    def rec(g: java.io.File): Unit = {
      if (g.isDirectory) g.listFiles().foreach(rec)
      g.delete()
    }
    rec(f)
    f.toString
  }

  test("phash: build → stats → fold → stats round-trip, with the " +
      "immutability refusals") {
    val store = tmp("ph0")
    val gen1 = tmp("ph1")
    assert(StoreCtl.run(spark,
      Seq("build", "phash", dir, store, Dedup.oldPred)).isRight)
    val st0 = StoreCtl.run(spark, Seq("stats", store))
    assert(st0.exists(_.contains("\"bands\": 4")), st0)
    // a committed store refuses a second build
    assert(StoreCtl.run(spark,
      Seq("build", "phash", dir, store)).isLeft)
    // fold the other half as generation 1
    assert(StoreCtl.run(spark, Seq("fold", "phash", dir, store, gen1,
      s"NOT (${Dedup.oldPred})")).isRight)
    val st1 = StoreCtl.run(spark, Seq("stats", gen1))
    assert(st1.isRight, st1)
    // the generation counts grew and gen-0 is untouched
    def docs(st: Either[String, String]): Long =
      """"docs":\s*(\d+)""".r
        .findFirstMatchIn(st.toOption.get).get.group(1).toLong
    assert(docs(st1) > docs(st0))
    assert(StoreCtl.run(spark, Seq("stats", store)) == st0)
    // a committed generation refuses to be folded onto
    assert(StoreCtl.run(spark, Seq("fold", "phash", dir, store, gen1,
      "true")).isLeft)
    // folding FROM an empty path refuses
    assert(StoreCtl.run(spark,
      Seq("fold", "phash", dir, tmp("phnone"), tmp("phout"),
        "true")).isLeft)
  }

  test("cluster and ivfpq kinds build + stats through the same face") {
    val cst = tmp("cl0")
    assert(StoreCtl.run(spark,
      Seq("build", "cluster", dir, cst, Dedup.oldPred)).isRight)
    assert(StoreCtl.run(spark, Seq("stats", cst))
      .exists(_.contains("\"threshold\"")))
    val ist = tmp("iv0")
    assert(StoreCtl.run(spark,
      Seq("build", "ivfpq", dir, ist)).isRight)
    assert(StoreCtl.run(spark, Seq("stats", ist))
      .exists(_.contains("\"cents\"")))
    // usage errors surface as Left, never an exception
    assert(StoreCtl.run(spark, Seq("frobnicate")).isLeft)
    assert(StoreCtl.run(spark,
      Seq("build", "nosuch", dir, tmp("x"))).isLeft)
  }

  test("flip / serve / gc manage a generation root with one cycle of " +
      "reader grace, and never collect an uncommitted fold") {
    val root = tmp("root")
    new java.io.File(root).mkdirs()
    val g0 = s"$root/gen-0"; val g1 = s"$root/gen-1"
    val g2 = s"$root/gen-2"
    assert(StoreCtl.run(spark,
      Seq("build", "phash", dir, g0, Dedup.oldPred)).isRight)
    // an unpointed root refuses serve and gc; flip refuses an
    // uncommitted generation and a path-escaping name
    assert(StoreCtl.run(spark, Seq("serve", root)).isLeft)
    assert(StoreCtl.run(spark, Seq("gc", root)).isLeft)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-1")).isLeft)
    assert(StoreCtl.run(spark, Seq("flip", root, "../gen-0")).isLeft)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("serve", root)) == Right(g0))
    // fold the rest in as gen-1, flip: gen-0 becomes the displaced
    // prev and survives one gc cycle so in-flight readers finish
    assert(StoreCtl.run(spark, Seq("fold", "phash", dir, g0, g1,
      s"NOT (${Dedup.oldPred})")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-1")).isRight)
    assert(StoreCtl.run(spark, Seq("serve", root)) == Right(g1))
    // an idempotent RE-flip to the served generation must not drop the
    // displaced generation's grace window (prev stays gen-0)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-1")).isRight)
    assert(StoreCtl.run(spark, Seq("gc", root))
      .exists(_.contains("nothing")))
    assert(new java.io.File(g0).exists)
    // one more generation + flip: gen-0 falls out of grace
    assert(StoreCtl.run(spark,
      Seq("fold", "phash", dir, g1, g2, "false")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-2")).isRight)
    val collected = StoreCtl.run(spark, Seq("gc", root))
    assert(collected.exists(_.contains("gen-0")), collected)
    assert(!new java.io.File(g0).exists)
    assert(new java.io.File(g1).exists && new java.io.File(g2).exists)
    // an in-flight fold (no marker yet) is never collected
    new java.io.File(s"$root/gen-3/sigs").mkdirs()
    assert(StoreCtl.run(spark, Seq("gc", root))
      .exists(_.contains("nothing")))
    assert(new java.io.File(s"$root/gen-3").exists)
    // serve re-checks the marker: a generation deleted out from under
    // the pointer fails at resolve time, not as a mid-scan read error
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rec)
      f.delete()
    }
    rec(new java.io.File(g2))
    assert(StoreCtl.run(spark, Seq("serve", root)).isLeft)
  }

  test("advance folds the served generation and walks the pointer, " +
      "reserving crash litter's names") {
    val root = tmp("adv")
    new java.io.File(root).mkdirs()
    // advance refuses an unpointed root
    assert(StoreCtl.run(spark,
      Seq("advance", "phash", dir, root, "true")).isLeft)
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      Dedup.oldPred)).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    // crash litter: an uncommitted dir keeps its gen number reserved
    new java.io.File(s"$root/gen-1/sigs").mkdirs()
    val a1 = StoreCtl.run(spark, Seq("advance", "phash", dir, root,
      s"NOT (${Dedup.oldPred}) AND doc_id % 2 = 0"))
    assert(a1.exists(_.endsWith("gen-2")), a1)
    assert(StoreCtl.run(spark, Seq("serve", root)) ==
      Right(s"$root/gen-2"))
    val a2 = StoreCtl.run(spark, Seq("advance", "phash", dir, root,
      s"NOT (${Dedup.oldPred}) AND doc_id % 2 = 1"))
    assert(a2.exists(_.endsWith("gen-3")), a2)
    // the chain equals the one-shot fold of everything — compared at
    // MEMBER level (grp ⨝ sigs, the serve semantics): the collapsed
    // layout picks reps per batch, so a group spanning the parity
    // split carries different rep rows down the two fold paths
    val one = tmp("adv_oneshot")
    assert(StoreCtl.run(spark, Seq("fold", "phash", dir, s"$root/gen-0",
      one, s"NOT (${Dedup.oldPred})")).isRight)
    def sigSet(p: String): Set[(Long, Long)] =
      Dedup.storeGrp(spark, p, "doc_id")
        .join(spark.read.parquet(s"$p/sigs").toDF("rep", "phash"),
          Seq("rep"))
        .select("doc_id", "phash")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sigSet(s"$root/gen-3") == sigSet(one))
    // gc: gen-2 is prev (grace), gen-0 collected, litter gen-1 kept
    // (the message may carry a store-table reclamation suffix — this
    // JVM's write registered gen-0's bucketed tables)
    val g = StoreCtl.run(spark, Seq("gc", root))
    assert(g.exists(_.startsWith("[gc] collected gen-0")), g)
    assert(new java.io.File(s"$root/gen-1").exists)
    assert(new java.io.File(s"$root/gen-2").exists)
    // a COMMITTED generation NEWER than the pointer (an advance that
    // crashed between its fold's marker and the flip) is kept by gc —
    // it is the very generation the advance docs tell an operator to
    // flip to by hand, and a cron'd gc must not destroy it
    assert(StoreCtl.run(spark, Seq("fold", "phash", dir, s"$root/gen-3",
      s"$root/gen-4", "false")).isRight)
    assert(StoreCtl.run(spark, Seq("gc", root))
      .exists(_.contains("nothing")))
    assert(new java.io.File(s"$root/gen-4").exists)
    // ...and advance/compact REFUSE while it sits above the pointer:
    // proceeding would allocate gen-5, fold from the POINTED gen-3,
    // and flip above gen-4 — stranding the crashed fold's batch below
    // the pointer where the next gc silently deletes it
    val refusedAdv = StoreCtl.run(spark,
      Seq("advance", "phash", dir, root, "false"))
    assert(refusedAdv.isLeft &&
      refusedAdv.swap.exists(_.contains("gen-4")), refusedAdv)
    val refusedCmp = StoreCtl.run(spark, Seq("compact", "phash", root))
    assert(refusedCmp.isLeft &&
      refusedCmp.swap.exists(_.contains("gen-4")), refusedCmp)
    assert(!new java.io.File(s"$root/gen-5").exists,
      "a refused advance/compact must not reserve a generation name")
    // the operator completes the crashed advance by hand: flip to it,
    // and gc then retires the displaced chain outside the grace window
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-4")).isRight)
    val g2 = StoreCtl.run(spark, Seq("gc", root))
    assert(g2.exists(_.startsWith("[gc] collected gen-2")), g2)
    assert(new java.io.File(s"$root/gen-3").exists)
  }

  private def rows(p: String, cols: Int): Set[Seq[Any]] =
    spark.read.parquet(p).collect()
      .map(r => (0 until cols).map(r.get).toSeq).toSet

  /** A generation's MEMBER-level rows for a rep-keyed relation
    * (grp ⨝ rel): the serve semantics. Raw rep rows legitimately
    * differ between a fold chain and a one-shot build — each batch
    * collapses to its own reps — while the expansion must not.
    */
  private def memberRows(gen: String, rel: String,
                         cols: Int): Set[Seq[Any]] = {
    val r = spark.read.parquet(s"$gen/$rel")
    val relCols = r.columns.toSeq
    Dedup.storeGrp(spark, gen, "member_id")
      .join(r.toDF(Seq("rep") ++ relCols.tail: _*), Seq("rep"))
      .select((Seq("member_id") ++ relCols.tail).map(
        org.apache.spark.sql.functions.col): _*)
      .collect().map(row => (0 until cols).map(row.get).toSeq).toSet
  }

  private def partFiles(p: String): Int =
    Option(new java.io.File(p).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))

  test("compact seals the served cluster generation: a " +
      "fold→fold→compact→fold chain bit-matches the one-shot build") {
    val root = tmp("cmp_cl"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "cluster", dir,
      s"$root/gen-0", "doc_id % 3 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "cluster", dir, root,
      "doc_id % 3 = 1")).exists(_.endsWith("gen-1")))
    // compact refuses a kind whose layout the served gen doesn't hold
    assert(StoreCtl.run(spark, Seq("compact", "ivfpq", root)).isLeft)
    val c = StoreCtl.run(spark, Seq("compact", "cluster", root))
    assert(c.exists(_.endsWith("gen-2")), c)
    assert(StoreCtl.run(spark, Seq("serve", root)) ==
      Right(s"$root/gen-2"))
    // a compacted generation is a pure relayout of its source: same
    // rows, sealed into the BUCKETED serving layout (r19: one file
    // per bucket — count = the writer session's shuffle parallelism,
    // 4 in this suite — sidecar recording the layout)
    for ((rel, n) <- Seq(("assignment", 2), ("sigs", 2), ("bands", 3),
        ("grp", 2))) {
      assert(rows(s"$root/gen-2/$rel", n) == rows(s"$root/gen-1/$rel", n),
        s"$rel rows changed under compact")
      assert(partFiles(s"$root/gen-2/$rel") <= 8, rel)
      assert(new java.io.File(s"$root/gen-2/$rel/_BUCKETS").exists,
        s"$rel lost the bucketed serving layout under compact")
    }
    // folding ON TOP of the compacted generation completes the corpus
    // and matches the one-shot whole-corpus build: assignment
    // bit-for-bit, sigs/bands at MEMBER level (see memberRows)
    assert(StoreCtl.run(spark, Seq("advance", "cluster", dir, root,
      "doc_id % 3 = 2")).exists(_.endsWith("gen-3")))
    val one = tmp("cmp_cl_one")
    assert(StoreCtl.run(spark,
      Seq("build", "cluster", dir, one)).isRight)
    assert(rows(s"$root/gen-3/assignment", 2) == rows(s"$one/assignment", 2),
      "assignment diverged from the unchained build")
    for ((rel, n) <- Seq(("sigs", 2), ("bands", 3)))
      assert(memberRows(s"$root/gen-3", rel, n) == memberRows(one, rel, n),
        s"$rel diverged from the unchained build")
  }

  test("compact seals the served phash generation inside a fold chain") {
    val root = tmp("cmp_ph"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir,
      s"$root/gen-0", "doc_id % 3 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "phash", dir, root,
      "doc_id % 3 = 1")).exists(_.endsWith("gen-1")))
    assert(StoreCtl.run(spark, Seq("compact", "phash", root))
      .exists(_.endsWith("gen-2")))
    for ((rel, n) <- Seq(("sigs", 2), ("bands", 3), ("grp", 2))) {
      assert(rows(s"$root/gen-2/$rel", n) == rows(s"$root/gen-1/$rel", n),
        s"$rel rows changed under compact")
      assert(partFiles(s"$root/gen-2/$rel") <= 8, rel)
      assert(new java.io.File(s"$root/gen-2/$rel/_BUCKETS").exists, rel)
    }
    assert(StoreCtl.run(spark, Seq("advance", "phash", dir, root,
      "doc_id % 3 = 2")).exists(_.endsWith("gen-3")))
    val one = tmp("cmp_ph_one")
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, one)).isRight)
    for ((rel, n) <- Seq(("sigs", 2), ("bands", 3)))
      assert(memberRows(s"$root/gen-3", rel, n) == memberRows(one, rel, n),
        s"$rel diverged from the unchained build")
    // the compacted marker carried the source generation's counts
    val st = StoreCtl.run(spark, Seq("stats", s"$root/gen-2"))
    assert(st == StoreCtl.run(spark, Seq("stats", s"$root/gen-1")), st)
  }

  test("compact seals ivfpq (model.json carried, codes relaid out) " +
      "and embed (grp carried) generations") {
    // ivfpq: the marker is model.json, the one relation is the code
    // table — compact must relayout codes by (cell, vec_id) and carry
    // the codebooks byte-for-byte
    val iroot = tmp("cmp_iv"); new java.io.File(iroot).mkdirs()
    assert(StoreCtl.run(spark,
      Seq("build", "ivfpq", dir, s"$iroot/gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", iroot, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("compact", "ivfpq", iroot))
      .exists(_.endsWith("gen-1")))
    assert(rows(s"$iroot/gen-1/codes", 6) == rows(s"$iroot/gen-0/codes", 6))
    assert(partFiles(s"$iroot/gen-1/codes") <= 4)
    assert(StoreCtl.run(spark, Seq("stats", s"$iroot/gen-1")) ==
      StoreCtl.run(spark, Seq("stats", s"$iroot/gen-0")))
    // embed: all four relations relaid out, grp included
    val eroot = tmp("cmp_em"); new java.io.File(eroot).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "embed", dir,
      s"$eroot/gen-0", "vec_id % 2 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", eroot, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("compact", "embed", eroot))
      .exists(_.endsWith("gen-1")))
    for ((rel, n) <- Seq(("assignment", 2), ("vecs", 3), ("bands", 3),
        ("grp", 2))) {
      assert(rows(s"$eroot/gen-1/$rel", n) == rows(s"$eroot/gen-0/$rel", n),
        s"$rel rows changed under compact")
      assert(partFiles(s"$eroot/gen-1/$rel") <= 8, rel)
      assert(new java.io.File(s"$eroot/gen-1/$rel/_BUCKETS").exists, rel)
    }
    // the recall drift alarm serves the pointed ivfpq generation and
    // reports the measured fraction; a non-ivfpq root is refused
    val rec = StoreCtl.run(spark, Seq("recall", iroot, dir))
    assert(rec.exists(_.contains("mean recall@3")), rec)
    assert(StoreCtl.run(spark, Seq("recall", eroot, dir)).isLeft)
  }
  test("fold --delta (phash): increment-only generations chain-serve " +
      "bit-identically, compact seals the chain, gc keeps parents") {
    val root = tmp("dlt_ph"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      Dedup.oldPred)).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
      root, s"NOT (${Dedup.oldPred}) AND doc_id % 2 = 0"))
      .exists(_.endsWith("gen-1")))
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
      root, s"NOT (${Dedup.oldPred}) AND doc_id % 2 = 1"))
      .exists(_.endsWith("gen-2")))
    // delta generations hold ONLY their batch: every banded doc of
    // gen-2's own parquet is outside gen-1's and gen-0's
    def ownIds(gen: String): Set[Long] =
      spark.read.parquet(s"$root/$gen/sigs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ownIds("gen-1").intersect(ownIds("gen-0")).isEmpty)
    assert(ownIds("gen-2").intersect(ownIds("gen-1")).isEmpty)
    // ...and the _PARENT links chain them
    assert(graft.operators.StoreFiles.readParent(
      java.nio.file.Paths.get(root, "gen-2")) == Some("gen-1"))
    // chain-serve equals the one-shot self-contained fold, at MEMBER
    // level (the serve semantics — reps are per-batch)
    val one = tmp("dlt_ph_one")
    assert(StoreCtl.run(spark, Seq("fold", "phash", dir, s"$root/gen-0",
      one, s"NOT (${Dedup.oldPred})")).isRight)
    def sigSet(p: String): Set[(Long, Long)] =
      Dedup.storeGrp(spark, p, "doc_id")
        .join(graft.operators.StoreFiles.readRelChain(spark, p, "sigs")
          .toDF("rep", "phash"), Seq("rep"))
        .select("doc_id", "phash")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sigSet(s"$root/gen-2") == sigSet(one),
      "delta chain diverged from the self-contained fold")
    // gc keeps the pointed generation's WHOLE chain (gen-0 is neither
    // pointed nor prev, but gen-2 cannot serve without it)
    assert(StoreCtl.run(spark, Seq("gc", root))
      .exists(_.contains("nothing")))
    assert(new java.io.File(s"$root/gen-0/manifest.json").exists)
    // compact seals the chain into one self-contained generation
    assert(StoreCtl.run(spark, Seq("compact", "phash", root))
      .exists(_.endsWith("gen-3")))
    assert(graft.operators.StoreFiles.readParent(
      java.nio.file.Paths.get(root, "gen-3")).isEmpty,
      "a compacted generation must be self-contained")
    assert(sigSet(s"$root/gen-3") == sigSet(one),
      "compact changed the chain's member rows")
    // the streaming probe serves the delta chain: its store reads go
    // through the same chain reader (identity on sealed generations),
    // pinned here by reading bands across both forms
    assert(graft.operators.StoreFiles.readRelChain(spark,
        s"$root/gen-2", "bands").count() ==
      spark.read.parquet(s"$root/gen-3/bands").count())
  }

  test("fold --delta (ivfpq): increment-only code tables chain-load " +
      "bit-identically; recall serves the chain; cluster refuses") {
    val root = tmp("dlt_iv"); new java.io.File(root).mkdirs()
    val half = graft.operators.Similarity.IvfTrainOld
    assert(StoreCtl.run(spark, Seq("build", "ivfpq", dir, s"$root/gen-0",
      s"vec_id < $half")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "ivfpq", dir,
      root, s"vec_id >= $half AND vec_id % 2 = 0"))
      .exists(_.endsWith("gen-1")))
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "ivfpq", dir,
      root, s"vec_id >= $half AND vec_id % 2 = 1"))
      .exists(_.endsWith("gen-2")))
    def own(gen: String): Set[Long] =
      spark.read.parquet(s"$root/$gen/codes")
        .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(own("gen-1").forall(_ >= half) && own("gen-2").forall(_ >= half))
    assert(own("gen-1").intersect(own("gen-2")).isEmpty)
    // chain-load == the self-contained fold, bit for bit
    val one = tmp("dlt_iv_one")
    assert(StoreCtl.run(spark, Seq("fold", "ivfpq", dir, s"$root/gen-0",
      one, s"vec_id >= $half")).isRight)
    def codes(p: String): Set[Seq[Any]] =
      graft.operators.Similarity.IvfPqStore.load(spark, p).codes
        .collect().map(r => (0 until 6).map(r.get).toSeq).toSet
    assert(codes(s"$root/gen-2") == codes(one),
      "delta code chain diverged from the self-contained fold")
    // the drift alarm serves the chain (model frozen, codes unioned)
    val rec = StoreCtl.run(spark, Seq("recall", root, dir))
    assert(rec.exists(_.contains("mean recall@3")), rec)
    // compact seals the chain
    assert(StoreCtl.run(spark, Seq("compact", "ivfpq", root))
      .exists(_.endsWith("gen-3")))
    assert(codes(s"$root/gen-3") == codes(one))
  }

  test("fold --delta (cluster): the delta assignment holds exactly the " +
      "changed rows — a new bridge's relabel of an OLD doc lands in " +
      "the delta and wins at read time; chain == one-shot fold") {
    // fixture with a GUARANTEED merge-through-bridge: old docs 10 and
    // 20 share too few bigrams to pair (j < 0.6), the new doc 30
    // overlaps both at j = 11/17 ≈ 0.647 — folding it must merge the
    // two old clusters, relabeling old doc 20 to cluster 10
    val words = (1 to 18).map(i => s"w$i")
    val fixRows: Seq[(Long, String, String)] = Seq(
      (10L, words.slice(0, 12).mkString(" "), "src1"),
      (20L, words.slice(6, 18).mkString(" "), "src1"),
      (25L, "completely different tokens here nothing shared at all " +
        "with anyone else ever", "src1"),
      (30L, words.mkString(" "), "src10"))
    val fix = tmp("dlt_cl_fix")
    locally {
      import spark.implicits._
      fixRows.toDF("doc_id", "text", "source")
        .selectExpr("doc_id", "text", "'xx' AS lang", "source",
          "cast(length(text) as bigint) AS n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$fix/documents.parquet")
    }
    val root = tmp("dlt_cl"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "cluster", fix, s"$root/gen-0",
      "doc_id < 30")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "cluster", fix,
      root, "doc_id = 30")).exists(_.endsWith("gen-1")))
    // the delta generation's OWN assignment parquet: the new doc and
    // the relabeled old doc ONLY — never the unchanged rows
    val own = spark.read.parquet(s"$root/gen-1/assignment")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(own == Map(30L -> 10L, 20L -> 10L), own)
    // chain-served assignment (last-writer-wins) == the one-shot fold
    val one = tmp("dlt_cl_one")
    assert(StoreCtl.run(spark, Seq("fold", "cluster", fix, s"$root/gen-0",
      one, "doc_id = 30")).isRight)
    def assign(p: String): Map[Long, Long] =
      Dedup.storeAssignment(spark, p, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chain = assign(s"$root/gen-1")
    assert(chain == assign(one), chain)
    assert(chain(20L) == 10L && chain(30L) == 10L && chain(25L) == 25L)
    // compact seals the chain: the relabeled row must not resurface
    // from the parent in the sealed assignment
    assert(StoreCtl.run(spark, Seq("compact", "cluster", root))
      .exists(_.endsWith("gen-2")))
    assert(assign(s"$root/gen-2") == chain)
    assert(graft.operators.StoreFiles.readParent(
      java.nio.file.Paths.get(root, "gen-2")).isEmpty)
  }

  test("fold --delta (embed): bridge-merge relabels land in the delta " +
      "and chain-serve equals the one-shot fold") {
    // old vectors 0 and 1 at cos 0.136 (< 0.4 — separate clusters);
    // the new vector 5 is their normalized midpoint (cos ≈ 0.75 to
    // each) and VERIFIED to band-collide with both under the fixed
    // graft_rh_buckets planes (RH-LSH collision at ~40° is
    // probabilistic per plane family, so the fixture pins vectors
    // that actually collide rather than trusting the odds)
    val vA = Array(0.41855693f, 0.3370022f, -0.34816658f, -0.4057591f,
      0.10299027f, 0.25094342f, -0.29954645f, -0.5119293f)
    val vB = Array(-0.072735816f, 0.566138f, 0.30562f, -0.04628749f,
      0.53729916f, -0.24388161f, -0.46078557f, 0.13475567f)
    val vBr = Array(0.2294388f, 0.5991982f, -0.028227987f, -0.29991522f,
      0.424807f, 0.0046852343f, -0.50445056f, -0.25023994f)
    val fixRows: Seq[(Long, Array[Float])] = Seq(
      (0L, vA),
      (1L, vB),
      (2L, Array(0.0f, 0.0f, -1.0f, 0.0f, 0.0f, 0.0f, 0.0f, 0.0f)),
      (5L, vBr))
    val fix = tmp("dlt_em_fix")
    locally {
      import spark.implicits._
      fixRows.toDF("vec_id", "embedding")
        .selectExpr("vec_id", "embedding", "cast(0 as int) AS label")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$fix/embeddings.parquet")
    }
    val root = tmp("dlt_em"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "embed", fix, s"$root/gen-0",
      "vec_id < 5")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "embed", fix,
      root, "vec_id = 5")).exists(_.endsWith("gen-1")))
    val own = spark.read.parquet(s"$root/gen-1/assignment")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(own == Map(5L -> 0L, 1L -> 0L), own)
    val one = tmp("dlt_em_one")
    assert(StoreCtl.run(spark, Seq("fold", "embed", fix, s"$root/gen-0",
      one, "vec_id = 5")).isRight)
    def assign(p: String): Map[Long, Long] =
      Dedup.storeAssignment(spark, p, "vec_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chain = assign(s"$root/gen-1")
    assert(chain == assign(one), chain)
    assert(chain(1L) == 0L && chain(5L) == 0L && chain(2L) == 2L)
  }
  test("chain plumbing fails loudly: dangling parents, cycles, and a " +
      "relation missing from every generation are errors, never a " +
      "silent partial union") {
    import graft.operators.StoreFiles
    val root = tmp("chain_edge"); new java.io.File(root).mkdirs()
    def mkGen(name: String, parent: Option[String]): String = {
      val d = new java.io.File(root, name); d.mkdirs()
      parent.foreach(StoreFiles.writeParent(d.toString, _))
      StoreFiles.writeManifest(d.toString, """{"docs": 0}""")
      d.toString
    }
    // dangling: the parent name resolves to nothing
    val dangling = mkGen("gen-1", Some("gen-0"))
    val d = StoreFiles.chainPaths(dangling)
    assert(d.isLeft && d.swap.exists(_.contains("dangling")), d)
    // a missing-parent chain must also fail the assignment reader
    // (a silently partial assignment is the worst store failure mode)
    intercept[IllegalStateException] {
      Dedup.storeAssignment(spark, dangling, "doc_id").count()
    }
    // cycle: two committed generations naming each other
    val a = mkGen("gen-2", Some("gen-3"))
    mkGen("gen-3", Some("gen-2"))
    val c = StoreFiles.chainPaths(a)
    assert(c.isLeft && c.swap.exists(_.contains("cycles")), c)
    // a relation absent from EVERY generation in a valid chain throws
    val base = mkGen("gen-4", None)
    val child = mkGen("gen-5", Some("gen-4"))
    assert(StoreFiles.chainPaths(child)
      .exists(_ == Seq(child, base)), StoreFiles.chainPaths(child))
    intercept[IllegalStateException] {
      StoreFiles.readRelChain(spark, child, "bands").count()
    }
    // gc on this root: pointed gen-5's chain keeps gen-4 alive even
    // though it is neither pointed, prev, nor newer-than-pointer —
    // while the dangling/cyclic litter (gen-1..3, committed, below
    // the pointer, on nobody's chain) is correctly collected
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-5")).isRight)
    val g = StoreCtl.run(spark, Seq("gc", root))
    assert(g.exists(_.startsWith("[gc] collected gen-1, gen-2, gen-3")),
      g)
    assert(new java.io.File(s"$root/gen-4/manifest.json").exists,
      "gc ate a chained parent")
  }

  test("a DEEP delta chain (12 generations) chain-serves " +
      "bit-identically through the pointer and one compact seals it") {
    import graft.operators.StoreFiles
    val root = tmp("deep_ph"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      "doc_id % 12 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    (1 to 11).foreach { k =>
      val r = StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
        root, s"doc_id % 12 = $k"))
      assert(r.exists(_.contains(s"gen-$k")), r)
      // healthy depths stay below the default warn threshold — silent
      assert(r.exists(!_.contains("WARNING")), r)
    }
    val served = StoreFiles.serve(root).toOption.get
    assert(StoreFiles.chainPaths(served).exists(_.length == 12),
      StoreFiles.chainPaths(served))
    // member-level content at depth 12 == the one-shot self-contained
    // fold of the same 11 batches
    val one = tmp("deep_ph_one")
    assert(StoreCtl.run(spark, Seq("fold", "phash", dir, s"$root/gen-0",
      one, "doc_id % 12 <> 0")).isRight)
    def sigSet(p: String): Set[(Long, Long)] =
      Dedup.storeGrp(spark, p, "doc_id")
        .join(StoreFiles.readRelChain(spark, p, "sigs")
          .toDF("rep", "phash"), Seq("rep"))
        .select("doc_id", "phash")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sigSet(served) == sigSet(one),
      "12-deep chain diverged from the self-contained fold")
    // one compact seals all 12 generations
    assert(StoreCtl.run(spark, Seq("compact", "phash", root))
      .exists(_.endsWith("gen-12")))
    assert(graft.operators.StoreFiles.readParent(
      java.nio.file.Paths.get(root, "gen-12")).isEmpty)
    assert(sigSet(s"$root/gen-12") == sigSet(one))
  }

  test("advance --delta depth guard: warns past graft.store.chain.warn, " +
      "refuses past graft.store.chain.max without claiming a name") {
    import graft.operators.StoreFiles
    val root = tmp("guard_ph"); new java.io.File(root).mkdirs()
    spark.conf.set(StoreCtl.ChainWarnKey, "2")
    spark.conf.set(StoreCtl.ChainMaxKey, "3")
    try {
      assert(StoreCtl.run(spark, Seq("build", "phash", dir,
        s"$root/gen-0", "doc_id % 5 = 0")).isRight)
      assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
      // depth 2: at the warn threshold, not past it — silent
      val r1 = StoreCtl.run(spark, Seq("advance", "--delta", "phash",
        dir, root, "doc_id % 5 = 1"))
      assert(r1.exists(!_.contains("WARNING")), r1)
      // depth 3: past warn, at max — lands, but LOUD, naming compact
      val r2 = StoreCtl.run(spark, Seq("advance", "--delta", "phash",
        dir, root, "doc_id % 5 = 2"))
      assert(r2.exists(m => m.contains("WARNING") &&
        m.contains("compact")), r2)
      assert(StoreFiles.serve(root).exists(_.endsWith("gen-2")))
      // depth 4: past max — refused BEFORE claiming a generation dir
      // (no gen-3 litter) and without moving the pointer
      val r3 = StoreCtl.run(spark, Seq("advance", "--delta", "phash",
        dir, root, "doc_id % 5 = 3"))
      assert(r3.isLeft && r3.swap.exists(_.contains("compact")), r3)
      assert(!new java.io.File(s"$root/gen-3").exists,
        "a refused advance left litter")
      assert(StoreFiles.serve(root).exists(_.endsWith("gen-2")))
      // a non-delta advance is not depth-guarded — it SEALS the chain
      val r4 = StoreCtl.run(spark, Seq("advance", "phash", dir, root,
        "doc_id % 5 = 3"))
      assert(r4.isRight, r4)
      // ...after which the delta cadence resumes quietly
      val r5 = StoreCtl.run(spark, Seq("advance", "--delta", "phash",
        dir, root, "doc_id % 5 = 4"))
      assert(r5.isRight && r5.exists(!_.contains("WARNING")), r5)
    } finally {
      spark.conf.unset(StoreCtl.ChainWarnKey)
      spark.conf.unset(StoreCtl.ChainMaxKey)
    }
  }

  test("chain verb: lists the served chain base-last with bytes, " +
      "parent links, and the live guard thresholds") {
    val root = tmp("chainv"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      "doc_id % 3 = 0")).isRight)
    // chain on an unpointed root refuses (nothing is served)
    assert(StoreCtl.run(spark, Seq("chain", root)).isLeft)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
      root, "doc_id % 3 = 1")).isRight)
    val out = StoreCtl.run(spark, Seq("chain", root))
    assert(out.isRight, out)
    val msg = out.toOption.get
    assert(msg.contains("serves 2 generation(s)"), msg)
    // base-last: the served delta first, its parent linked by name
    assert(msg.contains("gen-1") && msg.contains("-> gen-0"), msg)
    assert(msg.contains("(self-contained)"), msg)
    assert(msg.contains("warn > ") && msg.contains("refuse > "), msg)
    // the guard state mirrors what the NEXT delta advance will do
    // (depth-after = length + 1 — the guard's own arithmetic, so the
    // verb agrees with the refusal at the exact boundary)
    spark.conf.set(StoreCtl.ChainWarnKey, "2")
    try
      assert(StoreCtl.run(spark, Seq("chain", root))
        .exists(_.contains("will WARN")), "no guard state at warn edge")
    finally spark.conf.unset(StoreCtl.ChainWarnKey)
    spark.conf.set(StoreCtl.ChainMaxKey, "2")
    try
      assert(StoreCtl.run(spark, Seq("chain", root))
        .exists(_.contains("REFUSED")), "no refuse state at max edge")
    finally spark.conf.unset(StoreCtl.ChainMaxKey)
  }

  test("an EMPTY delta increment stays readable without the writer's " +
      "catalog entries — the sidecar carries the schema, so a fresh " +
      "session never needs parquet inference over zero data files") {
    import graft.operators.StoreFiles
    val root = tmp("empty_ph"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      "doc_id % 2 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    // the no-new-rows cron tick: a committed, EMPTY delta generation
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
      root, "false")).exists(_.endsWith("gen-1")))
    val gen0Bands = StoreFiles.readRelChain(spark, s"$root/gen-0",
      "bands").count()
    // simulate a fresh session's catalog: drop the writer-registered
    // bucketed tables for the empty generation's relations
    Seq("sigs", "bands", "grp").foreach { rel =>
      val t = StoreFiles.sidecarTable(s"$root/gen-1/$rel")
        .getOrElse(fail(s"no sidecar for $rel"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    // the chain read re-registers from the sidecar (schema included)
    // and serves gen-0's rows + the increment's zero
    assert(StoreFiles.readRelChain(spark, s"$root/gen-1", "bands")
      .count() == gen0Bands)
    assert(Dedup.storeGrp(spark, s"$root/gen-1", "doc_id").count() > 0)
    // and compact can seal the chain containing the empty increment
    assert(StoreCtl.run(spark, Seq("compact", "phash", root))
      .exists(_.endsWith("gen-2")))
    assert(StoreFiles.readRelChain(spark, s"$root/gen-2", "bands")
      .count() == gen0Bands)
  }

  test("delta sibling-root checks and the chain walk normalize " +
      "equivalent path spellings") {
    import graft.operators.StoreFiles
    val root = tmp("norm_ph"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      "doc_id % 2 = 0")).isRight)
    // 'root/./gen-1' is the same sibling root as 'root/gen-0' — the
    // un-normalized compare refused exactly this spelling before r19
    val r = StoreCtl.run(spark, Seq("fold", "--delta", "phash", dir,
      s"$root/gen-0", s"$root/./gen-1", "doc_id % 2 = 1"))
    assert(r.isRight, r)
    // the chain walk collapses both spellings to one generation each
    assert(StoreFiles.chainPaths(s"$root/./gen-1")
      .exists(_.length == 2), StoreFiles.chainPaths(s"$root/./gen-1"))
    // a STORE spelled 'gen-1/.' must record _PARENT = 'gen-1', not
    // the raw spelling's last segment '.': the sibling-root requires
    // normalize (so they accept this spelling), and an un-normalized
    // parent derivation would COMMIT a generation whose chain can
    // never resolve (gen-2 -> '.' -> the root, no marker there)
    val r2 = StoreCtl.run(spark, Seq("fold", "--delta", "phash", dir,
      s"$root/gen-1/.", s"$root/gen-2", "false"))
    assert(r2.isRight, r2)
    assert(StoreFiles.readParent(
      java.nio.file.Paths.get(root, "gen-2")) == Some("gen-1"))
    assert(StoreFiles.chainPaths(s"$root/gen-2").exists(_.length == 3),
      StoreFiles.chainPaths(s"$root/gen-2"))
  }

  test("an EMPTY non-delta fold commits: the manifest count reads the " +
      "zero-file bucketed assignment through the sidecar schema") {
    // an empty store's relations are bucketed writes with ZERO data
    // files — raw-parquet schema inference on them throws, which
    // would abort the fold AFTER all relations landed (marker-less
    // litter); the count must go through StoreFiles.readRel
    val st = tmp("empty_cl")
    val built = StoreCtl.run(spark,
      Seq("build", "cluster", dir, st, "false"))
    assert(built.isRight, built)
    val out = tmp("empty_cl_fold")
    val folded = StoreCtl.run(spark,
      Seq("fold", "cluster", dir, st, out, "false"))
    assert(folded.isRight, folded)
    assert(StoreCtl.run(spark, Seq("stats", out))
      .exists(_.contains("\"docs\": 0")))
  }

  test("doctor: HEALTHY on a clean chain root, and one finding per " +
      "failure class as the root degrades") {
    import graft.operators.StoreFiles
    val root = tmp("doc_ph"); new java.io.File(root).mkdirs()

    // earlier SUITES in this shared JVM delete store dirs out-of-band
    // (exactly the dead-JVM shape the dangling audit exists for) —
    // sweep their registrations once so this test's HEALTHY
    // assertions judge only the root it builds
    assert(StoreCtl.run(spark, Seq("doctor", "--fix", root)).isRight)

    // unpointed root: a diagnosis, not a refusal (unlike gc/serve)
    val r0 = StoreCtl.run(spark, Seq("doctor", root))
    assert(r0.exists(m => m.contains("WARN") && m.contains("pointer")),
      r0)

    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      "doc_id % 4 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
      root, "doc_id % 4 = 1")).isRight)
    val healthy = StoreCtl.run(spark, Seq("doctor", root))
    assert(healthy.exists(_.contains("HEALTHY")), healthy)

    // a committed generation ABOVE the pointer (the crashed-advance
    // window): fold gen-2 by hand without flipping
    assert(StoreCtl.run(spark, Seq("fold", "--delta", "phash", dir,
      s"$root/gen-1", s"$root/gen-2", "doc_id % 4 = 2")).isRight)
    val orphaned = StoreCtl.run(spark, Seq("doctor", root))
    assert(orphaned.exists(m => m.contains("WARN") &&
      m.contains("gen-2") && m.contains("ABOVE")), orphaned)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-2")).isRight)
    assert(StoreCtl.run(spark, Seq("doctor", root))
      .exists(_.contains("HEALTHY")))

    // uncommitted litter: reported as a note, never deleted
    new java.io.File(root, "gen-9").mkdirs()
    val littered = StoreCtl.run(spark, Seq("doctor", root))
    assert(littered.exists(m => m.contains("note") &&
      m.contains("gen-9") && !m.contains("WARN")), littered)
    assert(new java.io.File(root, "gen-9").delete())

    // a mixed bucket layout in the chain: plain-union note names the
    // relation and the remedy
    val sidecar = java.nio.file.Paths.get(root, "gen-1", "sigs",
      "_BUCKETS")
    val saved = java.nio.file.Files.readAllBytes(sidecar)
    java.nio.file.Files.delete(sidecar)
    val mixed = StoreCtl.run(spark, Seq("doctor", root))
    assert(mixed.exists(m => m.contains("sigs/") &&
      m.contains("compact")), mixed)
    java.nio.file.Files.write(sidecar, saved)

    // depth past the live warn threshold: a note naming compact
    spark.conf.set(StoreCtl.ChainWarnKey, "2")
    try {
      val deep = StoreCtl.run(spark, Seq("doctor", root))
      assert(deep.exists(m => m.contains("depth 3") &&
        m.contains("compact")), deep)
    } finally spark.conf.unset(StoreCtl.ChainWarnKey)

    // a dangling parent (gen-1's store gutted): WARN, and the
    // would-collect preview never lists the orphanless remainder
    val marker = java.nio.file.Paths.get(root, "gen-1", "manifest.json")
    val savedM = java.nio.file.Files.readAllBytes(marker)
    java.nio.file.Files.delete(marker)
    val broken = StoreCtl.run(spark, Seq("doctor", root))
    assert(broken.exists(m => m.contains("WARN") &&
      m.contains("chain")), broken)
    java.nio.file.Files.write(marker, savedM)
    assert(StoreCtl.run(spark, Seq("doctor", root))
      .exists(_.contains("HEALTHY")))

    // an ivfpq delta chain is HEALTHY even though codes/ carries no
    // bucketed sidecars: the code table is deliberately unbucketed
    // (its probe broadcasts the query side) — plain union is its
    // healthy serving shape, not a finding
    val iroot = tmp("doc_iv"); new java.io.File(iroot).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "ivfpq", dir,
      s"$iroot/gen-0", "vec_id % 2 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", iroot, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "ivfpq", dir,
      iroot, "vec_id % 2 = 1")).isRight)
    val ivf = StoreCtl.run(spark, Seq("doctor", iroot))
    assert(ivf.exists(_.contains("HEALTHY")), ivf)
  }

  test("doctor lists dangling graft-table registrations (files gone, " +
      "the dead-JVM shape) and --fix drops exactly those — live " +
      "serving tables untouched") {
    import graft.operators.StoreFiles
    val live = tmp("dang_live"); new java.io.File(live).mkdirs()
    val dead = tmp("dang_dead"); new java.io.File(dead).mkdirs()
    for (root <- Seq(live, dead)) {
      assert(StoreCtl.run(spark, Seq("build", "phash", dir,
        s"$root/gen-0", "doc_id % 2 = 0")).isRight)
      assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
      assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
        root, "doc_id % 2 = 1")).isRight)
      // register both faces: the aligned chain table (depth-2 read)
      // and the build's single-generation bucketed tables
      assert(StoreFiles.readRelChain(spark,
        StoreFiles.serve(root).toOption.get, "sigs").count() > 0)
    }
    // sweep earlier suites' out-of-band deletions so the assertions
    // below attribute every finding to THIS test's dead root
    assert(StoreCtl.run(spark, Seq("doctor", "--fix", live)).isRight)
    val liveGens = StoreFiles.chainPaths(
      StoreFiles.serve(live).toOption.get).toOption.get
    val deadGens = StoreFiles.chainPaths(
      StoreFiles.serve(dead).toOption.get).toOption.get
    // capture names BEFORE the files die (the sidecars go with them)
    val liveChn = StoreFiles.chainTableFor(
      liveGens.map(g => s"$g/sigs")).get
    val deadChn = StoreFiles.chainTableFor(
      deadGens.map(g => s"$g/sigs")).get
    val liveBkt = StoreFiles.sidecarTable(s"${liveGens.last}/sigs").get
    val deadBkt = StoreFiles.sidecarTable(s"${deadGens.last}/sigs").get
    assert(spark.catalog.tableExists(deadChn) &&
      spark.catalog.tableExists(deadBkt))
    // the dead JVM's shape: generation files deleted with no gc in
    // the registering process (tmp() re-deletes recursively)
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rec)
      f.delete()
    }
    rec(new java.io.File(dead))
    val rep = StoreCtl.run(spark, Seq("doctor", live)).toOption.get
    assert(rep.contains(deadChn) && rep.contains(deadBkt) &&
      rep.contains("dangling"), rep)
    assert(!rep.contains(liveChn) && !rep.contains(liveBkt),
      s"a live registration was reported dangling:\n$rep")
    val fixed = StoreCtl.run(spark, Seq("doctor", "--fix", live))
      .toOption.get
    assert(fixed.contains("dropped") && fixed.contains(deadChn), fixed)
    assert(!spark.catalog.tableExists(deadChn) &&
      !spark.catalog.tableExists(deadBkt))
    assert(spark.catalog.tableExists(liveChn) &&
      spark.catalog.tableExists(liveBkt),
      "--fix must never touch a table whose files exist")
    // the live chain still serves, and the next report is clean
    assert(StoreFiles.readRelChain(spark,
      StoreFiles.serve(live).toOption.get, "sigs").count() > 0)
    assert(StoreCtl.run(spark, Seq("doctor", live))
      .exists(!_.contains("dangling")))
  }

  test("advance --delta --compact-at n compacts inline once the " +
      "post-advance depth reaches n, bit-identical to advance + " +
      "manual compact") {
    import graft.operators.StoreFiles
    val auto = tmp("cat_auto"); new java.io.File(auto).mkdirs()
    val manual = tmp("cat_man"); new java.io.File(manual).mkdirs()
    for (root <- Seq(auto, manual)) {
      assert(StoreCtl.run(spark, Seq("build", "phash", dir,
        s"$root/gen-0", "doc_id % 4 = 0")).isRight)
      assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    }
    def adv(root: String, pred: String, at: Boolean): String = {
      val cmd =
        if (at) Seq("advance", "--delta", "--compact-at", "3", "phash",
          dir, root, pred)
        else Seq("advance", "--delta", "phash", dir, root, pred)
      val r = StoreCtl.run(spark, cmd)
      assert(r.isRight, s"$cmd: $r")
      r.toOption.get
    }
    // depth 2: below the threshold — no inline compact
    val m1 = adv(auto, "doc_id % 4 = 1", at = true)
    assert(!m1.contains("[compact]"), m1)
    // depth 3: the inline compact fires and seals to depth 1
    val m2 = adv(auto, "doc_id % 4 = 2", at = true)
    assert(m2.contains("[advance]") && m2.contains("[compact]"), m2)
    val servedAuto = StoreFiles.serve(auto).toOption.get
    assert(StoreFiles.chainPaths(servedAuto).exists(_.length == 1),
      StoreFiles.chainPaths(servedAuto))
    // the manual twin: same advances, compact by hand
    adv(manual, "doc_id % 4 = 1", at = false)
    adv(manual, "doc_id % 4 = 2", at = false)
    assert(StoreCtl.run(spark, Seq("compact", "phash", manual)).isRight)
    val servedMan = StoreFiles.serve(manual).toOption.get
    for (rel <- Seq("sigs", "bands")) {
      val a = StoreFiles.readRelChain(spark, servedAuto, rel)
        .collect().map(_.mkString("|")).sorted
      val b = StoreFiles.readRelChain(spark, servedMan, rel)
        .collect().map(_.mkString("|")).sorted
      assert(a.sameElements(b), s"$rel diverged from the manual seal")
    }
    val ga = Dedup.storeGrp(spark, servedAuto, "doc_id")
      .collect().map(_.mkString("|")).sorted
    val gm = Dedup.storeGrp(spark, servedMan, "doc_id")
      .collect().map(_.mkString("|")).sorted
    assert(ga.sameElements(gm), "membership diverged")
    // validation: --compact-at below 2 is a usage error, not a verb
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "--compact-at",
      "1", "phash", dir, auto, "true")).isLeft)
    // a threshold past the hard depth guard can never fire — the
    // advance would be REFUSED first, wedging the cron; refuse the
    // flag combination up front instead
    spark.conf.set(StoreCtl.ChainMaxKey, "4")
    try {
      val r = StoreCtl.run(spark, Seq("advance", "--delta",
        "--compact-at", "5", "phash", dir, auto, "true"))
      assert(r.isLeft && r.swap.exists(_.contains("depth guard")), r)
    } finally spark.conf.unset(StoreCtl.ChainMaxKey)
  }

  test("advance --delta --compact-at seals every kind in one pass: " +
      "rows, manifest bytes and serving layout of advance + manual " +
      "compact, at depth 1 with no _PARENT") {
    for ((kind, id) <- Seq("cluster" -> "doc_id", "embed" -> "vec_id",
                           "phash" -> "doc_id", "ivfpq" -> "vec_id")) {
      val k = StoreKind.named(kind).get
      val auto = tmp(s"seal_${kind}_auto"); new java.io.File(auto).mkdirs()
      val manual = tmp(s"seal_${kind}_man"); new java.io.File(manual).mkdirs()
      for (root <- Seq(auto, manual)) {
        assert(StoreCtl.run(spark, Seq("build", kind, dir,
          s"$root/gen-0", s"$id % 4 = 0")).isRight)
        assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
      }
      def adv(root: String, b: Int, at: Boolean): String = {
        val cmd = Seq("advance", "--delta") ++
          (if (at) Seq("--compact-at", "3") else Nil) ++
          Seq(kind, dir, root, s"$id % 4 = $b")
        val r = StoreCtl.run(spark, cmd)
        assert(r.isRight, s"$cmd: $r")
        r.toOption.get
      }
      assert(!adv(auto, 1, at = true).contains("[compact]"))
      val m2 = adv(auto, 2, at = true)
      assert(m2.contains("[advance]") && m2.contains("[compact]") &&
        !m2.contains("WARNING"), m2)
      adv(manual, 1, at = false)
      adv(manual, 2, at = false)
      assert(StoreCtl.run(spark, Seq("compact", kind, manual)).isRight)
      val (sa, sm) = (StoreFiles.serve(auto).toOption.get,
        StoreFiles.serve(manual).toOption.get)
      assert(StoreFiles.chainPaths(sa) == Right(Seq(sa)), s"$kind: $sa")
      assert(!Files.exists(java.nio.file.Paths.get(sa, StoreFiles.ParentName)))
      val (ma, mm) = (StoreFiles.marker(sa).get, StoreFiles.marker(sm).get)
      assert(ma.getFileName == mm.getFileName &&
        Files.readAllBytes(ma).sameElements(Files.readAllBytes(mm)),
        s"$kind manifest diverged from the manual seal")
      for ((rel, _) <- k.rels) {
        def rows(gen: String): Seq[String] =
          StoreKind.readChain(spark, gen, rel, k.id)
            .collect().map(_.mkString("|")).toSeq.sorted
        assert(rows(sa) == rows(sm), s"$kind $rel diverged from the manual seal")
        if (rel != "codes")
          assert(StoreFiles.sidecarLayout(s"$sa/$rel") ==
            StoreFiles.sidecarLayout(s"$sm/$rel"),
            s"$kind $rel serving layout diverged from the manual seal")
      }
    }
  }

  test("bucket-count evolution: growing graft.store.buckets mid-chain " +
      "serves via plain union, doctor names the re-seal target, and " +
      "compact re-seals the WHOLE chain at the NEW count") {
    import graft.operators.StoreFiles
    val root = tmp("bkev"); new java.io.File(root).mkdirs()
    spark.conf.set(StoreFiles.StoreBucketsKey, "2")
    try {
      assert(StoreCtl.run(spark, Seq("build", "phash", dir,
        s"$root/gen-0", "doc_id % 2 = 0")).isRight)
      assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
      // corpus growth: the deployment doubles its bucket count — new
      // generations land at 4, the base stays at 2
      spark.conf.set(StoreFiles.StoreBucketsKey, "4")
      assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
        root, "doc_id % 2 = 1")).isRight)
      val served = StoreFiles.serve(root).toOption.get
      val gens = StoreFiles.chainPaths(served).toOption.get
      // mixed layouts must not claim alignment; rows still serve
      assert(StoreFiles.readChainAligned(spark,
        gens.map(g => s"$g/sigs"), None).isEmpty)
      val before = StoreFiles.readRelChain(spark, served, "sigs")
        .collect().map(_.mkString("|")).sorted
      val rep = StoreCtl.run(spark, Seq("doctor", root)).toOption.get
      assert(rep.contains("diverge") &&
        rep.contains("current bucket count (4)"), rep)
      assert(StoreCtl.run(spark, Seq("compact", "phash", root)).isRight)
      val sealedGens = StoreFiles.chainPaths(
        StoreFiles.serve(root).toOption.get).toOption.get
      assert(sealedGens.length == 1)
      for (rel <- Seq("sigs", "bands")) {
        val n = StoreFiles.sidecarLayout(s"${sealedGens.head}/$rel").get._1
        assert(n == 4, s"$rel re-sealed at $n buckets, not the " +
          "session's grown count")
      }
      val after = StoreFiles.readRelChain(spark, sealedGens.head, "sigs")
        .collect().map(_.mkString("|")).sorted
      assert(after.sameElements(before), "the re-seal changed rows")
    } finally spark.conf.unset(StoreFiles.StoreBucketsKey)
  }

  test("a LEGACY 3-field sidecar still yields its schema DDL: an " +
      "empty pre-upgrade increment reads schema-correct with zero " +
      "data files, never through parquet inference") {
    import graft.operators.StoreFiles
    val root = tmp("leg_ph"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      "doc_id % 2 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    // a no-rows increment: zero data files in every gen-1 relation
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
      root, "false")).isRight)
    val gen0Sigs = StoreFiles.readRel(spark, s"$root/gen-0/sigs").count()
    for (rel <- Seq("sigs", "bands", "grp")) {
      val p = s"$root/gen-1/$rel"
      val (n, keys, _, ddl) = StoreFiles.sidecarLayout(p).get
      // the writer-registered bucketed table would mask the legacy
      // read path — drop it, as a fresh session's catalog would
      spark.sql(s"DROP TABLE IF EXISTS ${StoreFiles.sidecarTable(p).get}")
      // rewrite to the pre-sort-line 3-field form (n, keys, ddl)
      java.nio.file.Files.write(java.nio.file.Paths.get(p, "_BUCKETS"),
        s"$n\n${keys.mkString(",")}\n$ddl".getBytes("UTF-8"))
      assert(StoreFiles.sidecarLayout(p).isEmpty)
      assert(StoreFiles.legacySidecarDdl(p).contains(ddl))
      // the empty relation reads through the recovered DDL — zero
      // rows, the WRITER's schema, no inference crash
      val df = StoreFiles.readRel(spark, p)
      assert(df.count() == 0)
      // names+types (file reads relax nullability): the point is the
      // WRITER's schema arrived without touching parquet inference
      assert(df.schema.map(f => (f.name, f.dataType)) ==
        org.apache.spark.sql.types.StructType.fromDDL(ddl)
          .map(f => (f.name, f.dataType)), rel)
    }
    // the chain read unions the legacy-sidecar empty increment with
    // the bucketed base: same rows as the base alone
    assert(StoreFiles.readRelChain(spark,
      StoreFiles.serve(root).toOption.get, "sigs").count() == gen0Sigs)
  }

  test("an externally dropped chain table self-heals on the next " +
      "read even after this JVM memoized its partition registration") {
    import graft.operators.StoreFiles
    val root = tmp("heal_ph"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      "doc_id % 2 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
      root, "doc_id % 2 = 1")).isRight)
    val gens = StoreFiles.chainPaths(
      StoreFiles.serve(root).toOption.get).toOption.get
    val paths = gens.map(g => s"$g/sigs")
    def rows(): Set[String] =
      StoreFiles.readChainAligned(spark, paths, None).get
        .collect().map(_.mkString("|")).toSet
    val first = rows()
    // second read memoizes past the per-read ADD PARTITION
    assert(rows() == first)
    // a concurrent session drops the registration (gc on its side);
    // the deterministic name re-registers THROUGH the memo, with the
    // retry forcing a fresh ADD — rows identical, not a partial chain
    spark.sql(s"DROP TABLE ${StoreFiles.chainTableFor(paths).get}")
    assert(rows() == first)
  }

  test("an unwritable scratch tmpdir degrades the aligned chain read " +
      "to the plain union — IOException is inside the fallback " +
      "contract, never an aborted read") {
    import graft.operators.StoreFiles
    val root = tmp("iofb_ph"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "phash", dir, s"$root/gen-0",
      "doc_id % 3 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("advance", "--delta", "phash", dir,
      root, "doc_id % 3 = 1")).isRight)
    val served = StoreFiles.serve(root).toOption.get
    val gens = StoreFiles.chainPaths(served).toOption.get
    val expected = gens.map(g =>
      StoreFiles.readRel(spark, s"$g/sigs").count()).sum
    // point java.io.tmpdir at a regular FILE: the chain table's
    // scratch-metadata createDirectories now throws IOException
    val blocker = java.nio.file.Files.createTempFile("graft_iofb", ".f")
    val was = sys.props("java.io.tmpdir")
    sys.props("java.io.tmpdir") = blocker.toString
    try {
      assert(StoreFiles.readChainAligned(spark,
        gens.map(g => s"$g/sigs"), None).isEmpty,
        "an unwritable scratch dir must degrade to the union, " +
          "not register a chain table")
      // the full chain read still serves every row through the union
      assert(StoreFiles.readRelChain(spark, served, "sigs")
        .count() == expected)
    } finally {
      sys.props("java.io.tmpdir") = was
      java.nio.file.Files.deleteIfExists(blocker)
    }
    // the failure record is NOT a life sentence: reads re-probe
    // periodically, so once the scratch dir is writable again the
    // chain comes back aligned within one re-probe window
    val healed = (1 to 40).exists { _ =>
      StoreFiles.readChainAligned(spark,
        gens.map(g => s"$g/sigs"), None).nonEmpty
    }
    assert(healed,
      "a healed registration must return within one re-probe window")
  }

  // ---- crash windows, every kind in the StoreKind table ------------------
  // An advance writes the kind's relations in table order, then
  // `_PARENT`, then the commit marker, then flips the pointer; each cut
  // is simulated on a finished advance by deleting what the crash would
  // not yet have written, so no fault hook lives in the engine.

  private def ok(args: String*): String =
    StoreCtl.run(spark, args).fold(e => fail(s"$args: $e"), identity)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach(p =>
      Files.copy(p, to.resolve(from.relativize(p).toString)))

  /** Every relation of the served chain, as readers resolve it. */
  private def served(k: StoreKind, root: Path): Map[String, Set[Row]] = {
    val gen = ok("serve", root.toString)
    k.rels.map { case (rel, _) =>
      rel -> StoreKind.readChain(spark, gen, rel, k.id).collect().toSet
    }.toMap
  }

  // (cut, what the crash had not written yet in gen-2, what doctor says)
  private val cuts: Seq[(String, (StoreKind, Path) => Seq[Path], String)] =
    Seq(
      ("between relations", (k, gen) =>
        k.rels.drop(1).map(r => gen.resolve(r._1)) ++
          Seq(gen.resolve(StoreFiles.ParentName)),
        "uncommitted dir(s) gen-2"),
      ("before the manifest", (_, _) => Nil, "uncommitted dir(s) gen-2"),
      ("after the manifest, before the flip", (_, _) => Nil,
        "committed generation(s) gen-2 sit ABOVE the pointer"))

  StoreKind.all.foreach { k =>
    test(s"${k.name}: a cut advance is named by doctor and the next " +
        "advance --delta serves what the uncut chain serves") {
      val batch = (i: Int) => s"${k.id} % 4 = $i"
      val base = Files.createTempDirectory(s"graft_crash_${k.name}")
      val uncut = base.resolve("uncut")
      Files.createDirectories(uncut)
      ok("build", k.name, dir, uncut.resolve("gen-0").toString, batch(0))
      ok("flip", uncut.toString, "gen-0")
      ok("advance", "--delta", k.name, dir, uncut.toString, batch(1))
      val pointerAt1 =
        Files.readAllBytes(uncut.resolve(StoreFiles.CurrentName))
      ok("advance", "--delta", k.name, dir, uncut.toString, batch(2))
      val advanced = base.resolve("advanced")
      copyTree(uncut, advanced)
      val served2 = served(k, uncut)
      ok("advance", "--delta", k.name, dir, uncut.toString, batch(3))
      val served3 = served(k, uncut)

      cuts.zipWithIndex.foreach { case ((cut, unwritten, named), i) =>
        val root = base.resolve(s"cut$i")
        copyTree(advanced, root)
        val gen2 = root.resolve("gen-2")
        Files.write(root.resolve(StoreFiles.CurrentName), pointerAt1)
        if (i < 2)
          Files.delete(StoreFiles.marker(gen2.toString).get)
        unwritten(k, gen2).foreach(p => StoreFiles.deleteTree(p.toFile))
        val report = ok("doctor", root.toString)
        assert(report.contains(named), s"$cut: $report")
        // the cron re-runs the cut batch; past a committed orphan the
        // advance refuses until the operator flips to it, and then the
        // next batch lands on top
        val retry = StoreCtl.run(spark,
          Seq("advance", "--delta", k.name, dir, root.toString, batch(2)))
        if (i < 2) {
          assert(retry.isRight, s"$cut: $retry")
          assert(served(k, root) == served2, s"$cut: batch 2 diverged")
        } else {
          assert(retry.left.exists(_.contains("`flip`")), s"$cut: $retry")
          ok("flip", root.toString, "gen-2")
          ok("advance", "--delta", k.name, dir, root.toString, batch(3))
          assert(served(k, root) == served3, s"$cut: batch 3 diverged")
        }
      }
      StoreFiles.deleteTree(base.toFile)
    }
  }

  // ---- concurrent builds, every banded kind --------------------------------
  // A build's session views are qualified by its store path, so two
  // builds of one kind running in one session can never analyze each
  // other's rows.

  StoreKind.all.collect { case k: Banded => k }.foreach { k =>
    test(s"${k.name}: two builds running concurrently in one session " +
        "over different predicates equal their sequential builds") {
      val preds = Seq(s"${k.id} % 2 = 0", s"${k.id} % 3 = 0")
      def build(p: String, store: String): Unit =
        ok("build", k.name, dir, store, p)
      def contents(store: String) =
        (new String(Files.readAllBytes(
          java.nio.file.Paths.get(store, "manifest.json"))),
          k.rels.map { case (rel, _) =>
            rel -> StoreFiles.readRel(spark, s"$store/$rel").collect().toSet
          }.toMap)
      val sequential = preds.map { p =>
        val st = tmp(s"seq_${k.name}_${preds.indexOf(p)}")
        build(p, st)
        st
      }
      val concurrent = preds.indices.map(i => tmp(s"conc_${k.name}_$i"))
      // the label-propagation loop swaps these session confs without
      // a lock (a known non-atomic save/restore), so two concurrent LP
      // loops can leave the loser's values behind: restore them for
      // the suites that share this session
      val confKeys =
        Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      val confWas = confKeys.map(c => c -> spark.conf.getOption(c))
      val pool = Executors.newFixedThreadPool(2)
      try preds.zip(concurrent).map { case (p, st) =>
        pool.submit(new Callable[Unit] { def call(): Unit = build(p, st) })
      }.foreach(_.get())
      finally {
        pool.shutdown()
        confWas.foreach {
          case (c, Some(v)) => spark.conf.set(c, v)
          case (c, None)    => spark.conf.unset(c)
        }
      }
      sequential.zip(concurrent).foreach { case (a, b) =>
        assert(contents(a) == contents(b), s"$a vs $b")
      }
    }
  }
}
