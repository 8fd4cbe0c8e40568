package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine._

/** One persistent store kind — a row of the [[StoreKind.all]] table
  * that the build/fold/serve path ([[BandedStore]]), the streaming
  * probe (`Streams.storeStream`) and the `StoreCtl` verbs look kinds
  * up in, so none of them keeps its own kind list.
  */
private[graft] sealed trait StoreKind {
  def name: String
  /** Corpus table a build/fold predicate selects rows from. */
  def table: String
  def id: String
  /** Relations in write order, each with its serve-key sort order:
    * the columns before the trailing id are the bucket keys, the id
    * sorts inside each bucket (a one-column order buckets on itself).
    */
  def rels: Seq[(String, Seq[String])]
  /** The relations a serving reader resolves (ChainDepth times them). */
  def served: Seq[String]
  /** Build a self-contained store from the rows `pred` selects (None:
    * the whole corpus). */
  def build(s: SparkSession, corpus: String, store: String,
            pred: Option[String]): Unit
  /** Land the next generation at `out`: `store` plus the rows `pred`
    * selects; `delta` lands the increment alone plus a `_PARENT` link. */
  def foldInto(s: SparkSession, corpus: String, store: String, out: String,
               pred: String, delta: Boolean): Unit
}

/** A banded near-dup store. Layout, one row of [[StoreKind.all]] each:
  *
  *   assignment/ (id, cluster_id)   the converged LP labels (kinds with
  *                                  an edge `verify` only)
  *   <payload>/  (id, payload…)     the exact-verify side: cluster
  *                                  sigs (sorted shingle hashes), embed
  *                                  vecs (embedding, n2), phash sigs
  *   bands/      (id, band, <key>)  the LSH probe index
  *   grp/        (id, rep)          rep-collapse membership
  *   manifest.json                  written temp+ATOMIC_MOVE LAST — the
  *                                  store's commit marker
  *
  * A fold probes bands(new) against the stored index, verifies only
  * the candidates against the stored payload plus the new batch, and
  * contract-merges into the stored assignment — it NEVER re-reads old
  * rows from the corpus (ClusterStoreSpec / EmbedClusterStoreSpec
  * destroy the old half after the build and the fold still bit-matches
  * batch re-clustering of the original corpus).
  *
  * REP-COLLAPSED: payload and band rows exist for the min-id
  * REPRESENTATIVE of each signature-identical group only; grp/ maps
  * every member to its rep. Exact because a member's signature equals
  * its rep's (identical shingle set, identical vector bytes and n2,
  * identical phash), so every score any consumer computes against a
  * member is bit-identical against its rep: the streaming probes
  * verify once per group and recover member pairs by ONE equi-join
  * through grp/ after the verify, and components are preserved
  * because the k-1 star edges are true edges and the stored
  * assignment already links members to reps. Generations without grp/
  * (pre-layout) read as the identity mapping (`Dedup.storeGrp`).
  *
  * DELTA generations hold only their increment plus `_PARENT`; readers
  * union the append-only relations across the chain. The assignment is
  * global state (a fold relabels old rows through new-batch bridges),
  * so a delta's assignment holds the rows the merge CHANGED and
  * readers recover it LAST-WRITER-WINS per id (`Dedup.storeAssignment`).
  *
  * @param tag       one letter prefixing view and scratch names
  * @param storeKey  the query key serving the build (its LP op name)
  * @param foldKey   the query key serving the fold
  * @param key       band-key column of bands/
  * @param bandKey   SQL of band b's key over a signature view
  * @param bandGuard rows kept off the band index ("" = none)
  * @param sigs      (corpus, pred) -> signature rows: id, payload and
  *                  what bandKey reads
  * @param grp       signature view -> eagerly checkpointed (id, rep)
  * @param oldPred   the query keys' build half; a fold defaults to
  *                  its negation
  * @param verify    Some for kinds that keep an LP assignment: the
  *                  (x, y, from, a, b) SELECT of x, y over `from`
  *                  (aliases a, b) keeping the pairs that verify
  * @param probe     stream rows (id, ts, source) -> (id, ts, payload…,
  *                  band, key), banded exactly like bands/
  * @param probeVerify keeps the probe pairs whose payload and the
  *                  stored `old_`-prefixed payload verify
  */
private[graft] final case class Banded(
    name: String, table: String, id: String, tag: String,
    storeKey: String, foldKey: String,
    payload: String, payloadCols: Seq[String],
    key: String, bands: Int, bandKey: Int => String, bandGuard: String,
    sigs: (SparkSession, String, String) => DataFrame,
    grp: (SparkSession, String) => DataFrame,
    oldPred: (SparkSession, String) => String,
    verify: Option[(String, String, String, String, String) => String],
    probe: DataFrame => DataFrame,
    probeVerify: DataFrame => DataFrame,
    manifest: Long => String) extends StoreKind {

  def rels: Seq[(String, Seq[String])] =
    verify.map(_ => "assignment" -> Seq(id)).toSeq ++ Seq(
      payload -> Seq(id),
      "bands" -> Seq("band", key, id),
      "grp" -> Seq("rep", id))

  def served: Seq[String] =
    if (verify.isDefined) Seq("assignment", "grp") else Seq("grp", "bands")

  def build(s: SparkSession, corpus: String, store: String,
            pred: Option[String]): Unit =
    BandedStore.build(this, s, corpus, store, pred.getOrElse("true"))

  def foldInto(s: SparkSession, corpus: String, store: String, out: String,
               pred: String, delta: Boolean): Unit =
    BandedStore.foldInto(this, s, corpus, store, pred, out, delta)
}

private[graft] object StoreKind {

  val Cluster: Banded = Banded(
    name = "cluster", table = "documents", id = "doc_id", tag = "c",
    storeKey = "dd_cluster_store", foldKey = "dd_cluster_fold_stored",
    payload = "sigs", payloadCols = Seq("hs"),
    key = "bk", bands = Dedup.JacBands, bandKey = Dedup.jacBandKeySpark,
    bandGuard = s"sig_0 <> ${Long.MaxValue}L",
    sigs = (s, dir, pred) =>
      Dedup.jacSigsOf(table(s, dir, "documents").where(pred)),
    grp = Dedup.shingleGrpFrame,
    oldPred = (_, _) => Dedup.oldPred,
    // the dd_jaccard arithmetic, term-for-term
    verify = Some((x, y, from, a, b) =>
      s"""SELECT $x, $y FROM (
         |  SELECT $x, $y,
         |    round(cast(graft_isect($a.hs, $b.hs) as double)
         |      / (size($a.hs) + size($b.hs) - graft_isect($a.hs, $b.hs)), 6)
         |      AS jaccard
         |  FROM $from
         |  WHERE least(size($a.hs), size($b.hs)) * 10
         |        >= greatest(size($a.hs), size($b.hs)) * 6)
         |WHERE jaccard >= 0.6""".stripMargin),
    probe = docs =>
      BandedStore.explodeBands(Cluster, Dedup.jacSigsOf(docs, Seq("ts"))),
    probeVerify = _.where(
      "least(size(hs), size(old_hs)) * 10" +
        " >= greatest(size(hs), size(old_hs)) * 6" +
        " AND round(cast(graft_isect(hs, old_hs) as double)" +
        " / (size(hs) + size(old_hs) - graft_isect(hs, old_hs)), 6) >= 0.6"),
    manifest = n =>
      s"""{"docs": $n, "bands": ${Dedup.JacBands}, "rows_per_band": 2,
         | "threshold": 0.6}""".stripMargin)

  val Embed: Banded = Banded(
    name = "embed", table = "embeddings", id = "vec_id", tag = "e",
    storeKey = "dd_embed_cluster_store",
    foldKey = "dd_embed_cluster_fold_stored",
    payload = "vecs", payloadCols = Seq("embedding", "n2"),
    key = "bkt", bands = Dedup.CosBands,
    bandKey = b => s"element_at(bks, ${b + 1})",
    // a zero vector's buckets are constant and its cosine NaN
    bandGuard = "n2 > 0",
    sigs = (s, dir, pred) =>
      table(s, dir, "embeddings").where(pred)
        .selectExpr("vec_id", "embedding",
          "graft_dot(embedding, embedding) AS n2",
          "graft_rh_buckets(embedding) AS bks"),
    grp = Dedup.embedGrpFrame,
    oldPred = (s, dir) => s"vec_id < ${Dedup.embedSplit(s, dir)}",
    // the dd_embed_cosine_lsh arithmetic, term-for-term
    verify = Some((x, y, from, a, b) =>
      s"""SELECT $x, $y FROM (
         |  SELECT $x, $y, round(cs, 6) AS cos_sim FROM (
         |    SELECT $x, $y,
         |      graft_cos($a.embedding, $b.embedding, $a.n2, $b.n2) AS cs
         |    FROM $from)
         |  WHERE cs > 0.3999994)
         |WHERE cos_sim >= 0.4""".stripMargin),
    probe = _.selectExpr("vec_id", "ts", "embedding",
        "graft_dot(embedding, embedding) AS n2",
        "graft_rh_buckets(embedding) AS bks")
      .where("n2 > 0")
      .select(col("vec_id"), col("ts"), col("embedding"), col("n2"),
        posexplode(col("bks")).as(Seq("band", "bkt"))),
    probeVerify = _.withColumn("cs",
        expr("graft_cos(embedding, old_embedding, n2, old_n2)"))
      .where("cs > 0.3999994 AND round(cs, 6) >= 0.4"),
    manifest = n =>
      s"""{"vecs": $n, "bands": ${Dedup.CosBands}, "rows_per_band": 5,
         | "threshold": 0.4}""".stripMargin)

  // The 4x16-bit pigeonhole index is EXACT (<= 3 differing bits leave
  // >= 1 band identical), so banded recall is a theorem; no LP here —
  // the media store serves pairs, not components.
  val Phash: Banded = Banded(
    name = "phash", table = "documents", id = "doc_id", tag = "p",
    storeKey = "mm_phash_store", foldKey = "mm_phash_fold_stored",
    payload = "sigs", payloadCols = Seq("phash"),
    key = "bv", bands = 4,
    bandKey = b => s"shiftright(phash, ${16 * b}) & 65535", bandGuard = "",
    sigs = (s, dir, pred) =>
      Multimodal.phashSigsOf(Multimodal.media(s, dir).where(pred)),
    grp = Multimodal.phashGrpFrame,
    oldPred = (_, _) => Dedup.oldPred,
    verify = None,
    // n_chars from the payload in hand (the corpus column is the same
    // value — TESTDATA contract); the payload dies in the signature
    probe = media => BandedStore.explodeBands(Phash, Multimodal.phashSigsOf(
      media.selectExpr("doc_id", "ts", "text", "length(text) AS n_chars"),
      carry = Seq("ts"))),
    probeVerify = _.where("bit_count(phash ^ old_phash) <= 3"),
    manifest = n => s"""{"docs": $n, "bands": 4, "bits": ${
      Multimodal.PhashBits}, "hamming": 3}""")

  /** The trained IVF-PQ index: frozen codebooks in model.json (its
    * commit marker), codes appended per fold. */
  object IvfPq extends StoreKind {
    val name = "ivfpq"
    val table = "embeddings"
    val id = "vec_id"
    val rels = Seq("codes" -> Seq("cell", "vec_id"))
    val served = Seq("codes")
    def build(s: SparkSession, corpus: String, store: String,
              pred: Option[String]): Unit = {
      new java.io.File(store).mkdirs()
      Similarity.IvfPqStore.save(
        Similarity.trainIvfPq(s, corpus, trainWhere = pred.getOrElse("")),
        store)
    }
    def foldInto(s: SparkSession, corpus: String, store: String, out: String,
                 pred: String, delta: Boolean): Unit =
      Similarity.ivfPqStoreFoldInto(s, corpus, store, out, pred, delta)
  }

  val all: Seq[StoreKind] = Seq(Cluster, Embed, IvfPq, Phash)

  def named(name: String): Option[StoreKind] = all.find(_.name == name)

  /** Relation `rel` as readers resolve it over `gen`'s chain: the
    * assignment last-writer-wins per id, grp with identity membership
    * for pre-layout generations, anything else the plain chain union.
    */
  def readChain(s: SparkSession, gen: String, rel: String,
                id: String): DataFrame = rel match {
    case "assignment" => Dedup.storeAssignment(s, gen, id)
    case "grp"        => Dedup.storeGrp(s, gen, id)
    case _            => StoreFiles.readRelChain(s, gen, rel)
  }
}

/** Build, fold and ensure for every [[Banded]] kind — one
  * implementation over the kind table. */
private[graft] object BandedStore {

  /** Store-path-qualified view name — ONE derivation for every view a
    * build or fold registers, so concurrent builds/folds of DIFFERENT
    * stores in one session cannot rebind each other's views (folds
    * from the SAME store are serialized by the generation-name claim,
    * builds of one store by [[StoreFiles.ensure]]'s lock).
    */
  private[graft] def storeView(prefix: String, store: String,
                               suffix: String): String =
    prefix + StoreFiles.md5Hex(store, 8) + suffix

  /** `df` with its columns named `cols`, aliasing only the ones that
    * change: a no-op rename would stack a Project over a cached plan,
    * and `unpersist` on the renamed frame would then miss the cache. */
  private def renamed(df: DataFrame, cols: String*): DataFrame =
    if (df.columns.toSeq == cols) df
    else df.select(df.columns.toSeq.zip(cols).map { case (c, n) =>
      if (c == n) col(c) else col(c).as(n) }: _*)

  /** `pred`, or the complement of the kind's old half when empty. */
  private def newHalf(k: Banded, s: SparkSession, dir: String,
                      pred: String): String =
    if (pred.isEmpty) s"NOT (${k.oldPred(s, dir)})" else pred

  private def pairCol(k: Banded, side: String): String =
    k.id.stripSuffix("_id") + "_" + side

  private[graft] def bandSelects(k: Banded, view: String): String = {
    val guard = if (k.bandGuard.isEmpty) "" else s" WHERE ${k.bandGuard}"
    (0 until k.bands)
      .map(b => s"SELECT ${k.id}, $b AS band, ${k.bandKey(b)} AS ${k.key}" +
        s" FROM $view$guard")
      .mkString(" UNION ALL ")
  }

  /** (id, ts, payload…, band, key) rows of a signature frame, banded
    * like bands/ — the guard drops unbandable rows before the explode
    * (the bucket-bomb argument holds for the probe side too). */
  private[graft] def explodeBands(k: Banded, sigs: DataFrame): DataFrame = {
    val keep = Seq(k.id, "ts") ++ k.payloadCols
    val structs = (0 until k.bands)
      .map(b => s"struct($b AS band, ${k.bandKey(b)} AS ${k.key})")
    (if (k.bandGuard.isEmpty) sigs else sigs.where(k.bandGuard))
      .selectExpr(
        keep :+ s"explode(array(${structs.mkString(", ")})) AS bb": _*)
      .selectExpr(
        keep ++ Seq("bb.band AS band", s"bb.${k.key} AS ${k.key}"): _*)
  }

  /** Register `sigs` as view `_sigs`, its collapse membership as
    * `_grp`, and the representatives' rows (eager) as `_rep`. */
  private def collapse(k: Banded, s: SparkSession, sigs: DataFrame,
                       v: String => String): Unit = {
    sigs.createOrReplaceTempView(v("_sigs"))
    k.grp(s, v("_sigs")).createOrReplaceTempView(v("_grp"))
    s.sql(
      s"""SELECT s.* FROM ${v("_sigs")} s
         |JOIN (SELECT DISTINCT rep FROM ${v("_grp")}) r ON s.${k.id} = r.rep"""
        .stripMargin)
      .truncated().createOrReplaceTempView(v("_rep"))
  }

  /** Write the collapsed increment's relations at `out` in the kind's
    * serving layout: each append-only relation unioned with `prior`'s
    * chain when one is given (a self-contained generation), the
    * assignment as computed. */
  private def land(k: Banded, s: SparkSession, out: String,
                   v: String => String, assignment: Option[DataFrame],
                   prior: Option[String]): Unit = {
    val rep = v("_rep")
    val inc = Map(
      k.payload -> s"SELECT ${(k.id +: k.payloadCols).mkString(", ")} FROM $rep",
      "bands" -> s"SELECT ${k.id}, band, ${k.key} FROM (${bandSelects(k, rep)})",
      "grp" -> s"SELECT ${k.id}, rep FROM ${v("_grp")}")
    k.rels.foreach { case (rel, order) =>
      val df =
        if (rel == "assignment") assignment.get
        else prior.fold(s.sql(inc(rel)))(p =>
          StoreKind.readChain(s, p, rel, k.id).union(s.sql(inc(rel))))
      StoreFiles.writeOrdered(df, s"$out/$rel", order)
    }
  }

  /** Build the store from the corpus rows matching `pred` ("" = the
    * kind's old half): one collapse, for LP kinds one banded self-join
    * over REPRESENTATIVES + exact verify + star edges and one LP to
    * convergence, then the relations, manifest last. Built this way a
    * duplicate-bombed corpus costs O(k) edges and every later probe
    * ONE collision per group instead of k.
    */
  def build(k: Banded, s: SparkSession, dir: String, store: String,
            pred: String = ""): Unit = {
    val v = (sfx: String) => storeView(k.tag + "st", store, sfx)
    val sigs = k.sigs(s, dir,
      if (pred.isEmpty) k.oldPred(s, dir) else pred).cache()
    collapse(k, s, sigs, v)
    val (a, b) = (pairCol(k, "a"), pairCol(k, "b"))
    val lbl = k.verify.map { verify =>
      val pairs = s.sql(
        s"""WITH bands AS (${bandSelects(k, v("_rep"))}),
           |cand AS (
           |  SELECT DISTINCT x.${k.id} AS $a, y.${k.id} AS $b
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.${k.key} = y.${k.key}
           |    AND x.${k.id} < y.${k.id})
           |${verify(a, b, s"cand JOIN ${v("_sigs")} a ON a.${k.id} = $a " +
              s"JOIN ${v("_sigs")} b ON b.${k.id} = $b", "a", "b")}
           |UNION ALL
           |SELECT rep AS $a, ${k.id} AS $b FROM ${v("_grp")}
           |WHERE ${k.id} <> rep""".stripMargin)
      val lp = Dedup.labelPropagate(k.storeKey,
        renamed(pairs, "doc_a", "doc_b"), renamed(sigs.select(k.id), "doc_id"))
      renamed(lp, k.id, "cluster_id")
    }
    new java.io.File(store).mkdirs()
    land(k, s, store, v, lbl, prior = None)
    val n = sigs.count()
    sigs.unpersist()
    lbl.foreach(_.unpersist())
    StoreFiles.writeManifest(store, k.manifest(n))
  }

  /** The fold's new-batch signature relation (eagerly checkpointed) and
    * its verified-edge frame, LAZY — split out so PlanSpec can pin the
    * probe join's physical shape without running the fold.
    *
    * Candidates: bands(new reps) probe the STORED index (old-new) plus
    * a banded self-join of the new reps (new-new); old-old pairs never
    * regenerate — the assignment summarizes them. The verify is
    * SIDE-SPLIT: an id is never both stored and new, so the branches
    * are disjoint and each endpoint verifies against its ONE home — old
    * endpoints against the stored payload (bucketed by id, so the store
    * side is exchange-free at any scale), new ones against the
    * checkpointed increment; only the candidate pair list moves.
    * least/greatest orients the old-new branch (the split need not be
    * by id; both scores are symmetric). The new batch's star edges ride
    * along; the old side needs none — a group is one stored component.
    */
  def edgeFrame(k: Banded, s: SparkSession, dir: String, store: String,
                newPred: String = ""): (DataFrame, DataFrame) = {
    val verify = k.verify.get
    val v = (sfx: String) => storeView(k.tag + "fo", store, sfx)
    // localCheckpoint (EAGER), not cache: the relation feeds every band
    // side, both verify join-backs and the node list inside ONE edge
    // job, and a lazy cache populating mid-job let the racing scans
    // each recompute the signature chains (measured ~10x the cost)
    val newSigs = k.sigs(s, dir, newHalf(k, s, dir, newPred)).truncated()
    collapse(k, s, newSigs, v)
    StoreFiles.readRelChain(s, store, "bands")
      .createOrReplaceTempView(v("_oldbands"))
    StoreFiles.readRelChain(s, store, k.payload)
      .createOrReplaceTempView(v("_old"))
    val (a, b) = (pairCol(k, "a"), pairCol(k, "b"))
    val (o, n) = (pairCol(k, "o"), pairCol(k, "n"))
    val (id, key) = (k.id, k.key)
    val edges = s.sql(
      s"""WITH newbands AS (${bandSelects(k, v("_rep"))}),
         |cand_on AS (
         |  SELECT DISTINCT o.$id AS $o, n.$id AS $n
         |  FROM ${v("_oldbands")} o JOIN newbands n
         |    ON o.band = n.band AND o.$key = n.$key),
         |cand_nn AS (
         |  SELECT DISTINCT x.$id AS $a, y.$id AS $b
         |  FROM newbands x JOIN newbands y
         |    ON x.band = y.band AND x.$key = y.$key AND x.$id < y.$id),
         |v_on AS (
         |  SELECT least($o, $n) AS $a, greatest($o, $n) AS $b FROM (
         |${verify(o, n, s"cand_on JOIN ${v("_old")} o ON o.$id = $o " +
            s"JOIN ${v("_sigs")} n ON n.$id = $n", "o", "n")})),
         |v_nn AS (
         |${verify(a, b, s"cand_nn JOIN ${v("_sigs")} a ON a.$id = $a " +
            s"JOIN ${v("_sigs")} b ON b.$id = $b", "a", "b")})
         |SELECT $a, $b FROM v_on
         |UNION ALL
         |SELECT $a, $b FROM v_nn
         |UNION ALL
         |SELECT rep AS $a, $id AS $b FROM ${v("_grp")}
         |WHERE $id <> rep""".stripMargin)
    (newSigs, edges)
  }

  /** The new batch's checkpointed signature relation and the merged
    * (store + new) assignment, UNSORTED. The edge list is checkpointed
    * EAGERLY first: handed on as lineage, the verify threshold over the
    * expensive score projection gets pushed into the contracted merge's
    * join conditions. AQE stays on, so the verify join-backs broadcast
    * model-sized sides at runtime and revert to sort-merge at scale.
    */
  private def increment(k: Banded, s: SparkSession, dir: String,
                        store: String, newPred: String)
      : (DataFrame, DataFrame) = {
    val (newSigs, edgesLazy) = edgeFrame(k, s, dir, store, newPred)
    val edges = edgesLazy.truncated()
    val lblA = Dedup.storeAssignment(s, store, "doc_id")
    val merged = Dedup.contractedMerge(k.foldKey + "#merge", lblA,
      renamed(edges, "doc_a", "doc_b"),
      renamed(newSigs.select(k.id), "doc_id"))
    (newSigs, renamed(merged, k.id, "cluster_id"))
  }

  /** Fold the rows matching `newPred` ("" = the complement of the old
    * half) into the stored clustering and serve the merged assignment,
    * bit-identical to batch re-clustering (contractedMerge's argument).
    */
  def fold(k: Banded, s: SparkSession, dir: String, store: String,
           newPred: String = ""): DataFrame =
    increment(k, s, dir, store, newPred)._2.orderBy(col(k.id))

  /** Write the NEXT generation at `out` from `store` + the rows
    * matching `newPred`. Stores are IMMUTABLE: `store` is never
    * touched, so a reader serving it is never disturbed, and old rows
    * are never re-read from the corpus at any generation. The
    * increment lands rep-collapsed; a new group identical to a stored
    * one keeps its own rep (bounded by generation count, re-sealed by
    * `StoreCtl compact`).
    */
  def foldInto(k: Banded, s: SparkSession, dir: String, store: String,
               newPred: String, out: String,
               delta: Boolean = false): Unit = {
    if (delta)
      require(StoreFiles.normParent(out) == StoreFiles.normParent(store),
        "a delta generation links its parent by bare sibling name — " +
          s"$out and $store must share a root")
    val v = (sfx: String) => storeView(k.tag + "fo", store, sfx)
    val np = newHalf(k, s, dir, newPred)
    val (newSigs, merged) =
      if (k.verify.isDefined) {
        val (sigs, m) = increment(k, s, dir, store, np)
        (sigs, Some(m.truncated()))
      } else {
        val sigs = k.sigs(s, dir, np).cache()
        collapse(k, s, sigs, v)
        (sigs, None)
      }
    new java.io.File(out).mkdirs()
    // a delta assignment = the rows the merge CHANGED (set difference
    // against the parent chain's served assignment — exact because
    // assignment rows are one (id, label) pair per id)
    land(k, s, out, v,
      merged.map(m =>
        if (delta) m.except(Dedup.storeAssignment(s, store, k.id)) else m),
      prior = if (delta) None else Some(store))
    if (delta)
      StoreFiles.writeParent(out, StoreFiles.parentGenName(store))
    // docs = everything the SERVED store covers: the merge for LP
    // kinds (readRel, never inference — an empty fold's assignment has
    // no data files), the prior count plus the batch otherwise
    val n = merged match {
      case Some(m) =>
        if (delta) m.count()
        else StoreFiles.readRel(s, s"$out/assignment").count()
      case None =>
        val added = newSigs.count()
        newSigs.unpersist()
        val prior = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(store, "manifest.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        """"docs":\s*(\d+)""".r.findFirstMatchIn(prior)
          .map(_.group(1).toLong).getOrElse(0L) + added
    }
    StoreFiles.writeManifest(out, k.manifest(n))
  }

  /** Per-(process, corpus, pred) scratch store ("" = the old half):
    * the first caller builds under the store's lock, later calls are
    * pure load+serve — the restarted-session story at fixture scale.
    */
  def ensure(k: Banded, s: SparkSession, dir: String,
             pred: String = ""): String = {
    val store = StoreFiles.scratchDir(s"graft_${k.tag}store_" +
      (if (pred.isEmpty) "" else StoreFiles.md5Hex(pred, 8) + "_"), dir)
    StoreFiles.ensure(store)(build(k, s, dir, store, pred))
  }
}
