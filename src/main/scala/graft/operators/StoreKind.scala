package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CorpusState
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
  *   assignment/ (id, cluster_id)   the converged LP labels (`lp`
  *                                  kinds only)
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
  * every member to its rep ([[BandedStore]] has the exactness
  * argument). The streaming probes verify once per group and recover
  * member pairs by ONE equi-join through grp/ after the verify, and
  * the stored assignment already links members to reps. Generations
  * without grp/ (pre-layout) read as the identity mapping
  * (`Dedup.storeGrp`).
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
  * @param bandGuard rows a probe keeps off the band index ("" = none);
  *                  `grp` leaves them out of every collapse
  * @param rows      (session, corpus) -> the corpus rows signatures
  *                  are taken of
  * @param sigs      corpus rows -> signature rows: id, payload and what
  *                  bandKey reads
  * @param grp       signature view -> eagerly checkpointed (id, rep)
  * @param oldPred   the query keys' build half; a fold defaults to
  *                  its negation
  * @param lp        the kind keeps an LP assignment over the edges
  *                  `score` verifies
  * @param score     the exact verify of a candidate pair
  * @param probe     stream rows (id, ts, source) -> (id, ts, payload…,
  *                  band, key), banded exactly like bands/
  */
private[graft] final case class Banded(
    name: String, table: String, id: String, tag: String,
    storeKey: String, foldKey: String,
    payload: String, payloadCols: Seq[String],
    key: String, bands: Int, bandKey: Int => String, bandGuard: String,
    rows: (SparkSession, String) => DataFrame,
    sigs: DataFrame => DataFrame,
    grp: (SparkSession, String) => DataFrame,
    oldPred: (SparkSession, String) => String,
    lp: Boolean,
    score: Score,
    probe: DataFrame => DataFrame,
    manifest: Long => String) extends StoreKind {

  def rels: Seq[(String, Seq[String])] =
    (if (lp) Seq("assignment" -> Seq(id)) else Nil) ++ Seq(
      payload -> Seq(id),
      "bands" -> Seq("band", key, id),
      "grp" -> Seq("rep", id))

  def served: Seq[String] =
    if (lp) Seq("assignment", "grp") else Seq("grp", "bands")

  def build(s: SparkSession, corpus: String, store: String,
            pred: Option[String]): Unit =
    BandedStore.build(this, s, corpus, store, pred.getOrElse("true"))

  def foldInto(s: SparkSession, corpus: String, store: String, out: String,
               pred: String, delta: Boolean): Unit =
    BandedStore.foldInto(this, s, corpus, store, pred, out, delta)
}

/** One pair score as every Spark-side consumer spells it: the batch
  * pair families, the store build and fold verify, the stream probe
  * verify and dd_incremental's near-dup gate. Columns are named by
  * prefix: "a." for a SQL alias, "" and "old_" for a probe row's own
  * and stored payload.
  *
  * @param name  the score column
  * @param value the exact (rounded) score of a pair
  * @param prune a pure prefilter conjunct ("" = none): rows it drops
  *              never meet `keep`
  * @param keep  the threshold on `name` ("" = `prune` decides alone)
  * @param raw   Some: an expensive raw score, computed once as `cs`,
  *              that `value` rounds and `prune` reads
  * @param within the score of two identical signatures
  */
private[graft] final case class Score(
    name: String,
    value: (String, String) => String,
    prune: (String, String) => String,
    keep: String,
    raw: Option[(String, String) => String] = None,
    within: Column = lit(1.0d)) {

  private def where(p: String): String = if (p.isEmpty) "" else s" WHERE $p"

  /** `x`, `y` and the score of the pairs of `from` (aliases a, b) the
    * prefilter keeps. */
  def rows(x: String, y: String, from: String,
           a: String = "a.", b: String = "b."): String = raw match {
    case Some(r) =>
      s"""SELECT $x, $y, ${value(a, b)} AS $name FROM (
         |  SELECT $x, $y, ${r(a, b)} AS cs FROM $from)${where(prune(a, b))}"""
        .stripMargin
    case None =>
      s"SELECT $x, $y, ${value(a, b)} AS $name FROM $from${where(prune(a, b))}"
  }

  /** The pairs of `from` that verify, projected to `proj`. */
  def verify(proj: String, x: String, y: String, from: String,
             a: String = "a.", b: String = "b."): String =
    s"SELECT $proj FROM (${rows(x, y, from, a, b)})" +
      where(if (keep.isEmpty) "" else s"$name $keep")

  /** The stream probe's verify: the rows whose payload and stored
    * `old_` payload verify. */
  def probe(df: DataFrame): DataFrame =
    raw.fold(df)(r => df.withColumn("cs", expr(r("", "old_"))))
      .where(Seq(prune("", "old_"),
        if (keep.isEmpty) "" else s"${value("", "old_")} $keep")
        .filter(_.nonEmpty).mkString(" AND "))
}

private[graft] object Score {

  private def isect(a: String, b: String) = s"graft_isect(${a}hs, ${b}hs)"

  /** dd_jaccard's arithmetic; the length-ratio prune holds because
    * j >= 0.6 implies min(sz)/max(sz) >= 0.6 (exact integers). */
  val Jaccard: Score = Score("jaccard",
    (a, b) => s"round(cast(${isect(a, b)} as double)" +
      s" / (size(${a}hs) + size(${b}hs) - ${isect(a, b)}), 6)",
    (a, b) => s"least(size(${a}hs), size(${b}hs)) * 10" +
      s" >= greatest(size(${a}hs), size(${b}hs)) * 6",
    ">= 0.6")

  /** Containment allows any size mismatch: no prune. */
  val Containment: Score = Score("containment",
    (a, b) => s"round(cast(${isect(a, b)} as double)" +
      s" / least(size(${a}hs), size(${b}hs)), 6)",
    (_, _) => "", ">= 0.8")

  /** graft_cos fuses dot/sqrt/divide into one kernel call; the raw
    * prefilter is strictly looser than the rounded threshold (round6(x)
    * >= 0.4 implies x >= 0.3999995 - ulp > 0.3999994), so the
    * BigDecimal `round` only runs for near-threshold survivors. */
  val Cosine: Score = Score("cos_sim", (_, _) => "round(cs, 6)",
    (_, _) => "cs > 0.3999994", ">= 0.4",
    raw = Some((a, b) =>
      s"graft_cos(${a}embedding, ${b}embedding, ${a}n2, ${b}n2)"))

  val Hamming: Score = Score("hamming",
    (a, b) => s"cast(bit_count(${a}phash ^ ${b}phash) as int)",
    (a, b) => s"bit_count(${a}phash ^ ${b}phash) <= 3", "",
    within = lit(0).cast("int"))
}

/** A rep-collapsed batch pair family over a [[Banded]] kind's
  * signatures, collapse and (unless `cands`) banding, verified by
  * `score` — its relations shared per (session, corpus) through
  * [[graft.CorpusState]] as `<name>_pairs` ([[BandedStore.relations]]).
  *
  * @param repCols the columns the rep rows carry beside the id: the
  *                band-key inputs (or `cands`' inputs)
  * @param cands   Some: the candidate CTE chain (ending in `cand`) over
  *                a rep view, verified against the rep rows, in place
  *                of the banded self-join verified against the sigs
  */
private[graft] final case class PairFamily(
    name: String, kind: Banded, score: Score, repCols: Seq[String],
    cands: Option[(SparkSession, String) => String] = None)

private[graft] object PairFamily {
  private val sigCols = (0 until 2 * Dedup.JacBands).map("sig_" + _)

  val Jaccard: PairFamily = PairFamily("jac", StoreKind.Cluster,
    Score.Jaccard, sigCols)
  val Containment: PairFamily = PairFamily("cont", StoreKind.Cluster,
    Score.Containment, sigCols)
  /** The prefix-probe candidates over the reps, the REPARTITION hint on
    * the probe side (see [[Dedup.contSmallsideCandSql]]). */
  val ContainmentSmallside: PairFamily = PairFamily("contp",
    StoreKind.Cluster, Score.Containment, Seq("hs"),
    cands = Some((s, rep) => Dedup.contSmallsideCandSql(rep, "df.df, i.h",
      probeParts = s.conf.get("spark.sql.shuffle.partitions").toInt)))
  val Cosine: PairFamily =
    PairFamily("cos", StoreKind.Embed, Score.Cosine, Seq("bks"))
  val Phash: PairFamily = PairFamily("phash", StoreKind.Phash,
    Score.Hamming, Seq("phash"))
}

private[graft] object StoreKind {

  val Cluster: Banded = Banded(
    name = "cluster", table = "documents", id = "doc_id", tag = "c",
    storeKey = "dd_cluster_store", foldKey = "dd_cluster_fold_stored",
    payload = "sigs", payloadCols = Seq("hs"),
    key = "bk", bands = Dedup.JacBands, bandKey = Dedup.jacBandKeySpark,
    bandGuard = s"sig_0 <> ${Long.MaxValue}L",
    rows = table(_, _, "documents"), sigs = Dedup.jacSigsOf(_),
    grp = Dedup.shingleGrpFrame,
    oldPred = (_, _) => Dedup.oldPred,
    lp = true, score = Score.Jaccard,
    probe = docs =>
      BandedStore.explodeBands(Cluster, Dedup.jacSigsOf(docs, Seq("ts"))),
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
    rows = table(_, _, "embeddings"),
    sigs = _.selectExpr("vec_id", "embedding",
      "graft_dot(embedding, embedding) AS n2",
      "graft_rh_buckets(embedding) AS bks"),
    grp = Dedup.embedGrpFrame,
    oldPred = (s, dir) => s"vec_id < ${Dedup.embedSplit(s, dir)}",
    lp = true, score = Score.Cosine,
    probe = _.selectExpr("vec_id", "ts", "embedding",
        "graft_dot(embedding, embedding) AS n2",
        "graft_rh_buckets(embedding) AS bks")
      .where("n2 > 0")
      .select(col("vec_id"), col("ts"), col("embedding"), col("n2"),
        posexplode(col("bks")).as(Seq("band", "bkt"))),
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
    rows = Multimodal.media, sigs = Multimodal.phashSigsOf(_),
    grp = Multimodal.phashGrpFrame,
    oldPred = (_, _) => Dedup.oldPred,
    lp = false, score = Score.Hamming,
    // n_chars from the payload in hand (the corpus column is the same
    // value — TESTDATA contract); the payload dies in the signature
    probe = media => BandedStore.explodeBands(Phash, Multimodal.phashSigsOf(
      media.selectExpr("doc_id", "ts", "text", "length(text) AS n_chars"),
      carry = Seq("ts"))),
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

/** Build, fold and ensure for every [[Banded]] kind, and the batch
  * pair families over the same rows ([[PairFamily]]) — one
  * implementation over the kind table: one signature relation
  * ([[sigs]]), one collapse, one banded candidate self-join
  * ([[candSql]]) and the kind's one [[Score]].
  *
  * REP-COLLAPSE EXACTNESS, for every collapse site (store build and
  * fold, the pair families, `Dedup.embedClusterEdges`). Rows with
  * identical signatures group under their min-id REPRESENTATIVE, and
  * only reps are banded and verified. Exact because a member's
  * signature equals its rep's (identical shingle set, identical vector
  * bytes and n2, identical phash): every score computed against a
  * member is bit-identical against its rep, and a member's banded
  * candidates are carried by its identically banded rep. Member pairs
  * come back by one equi-join through the membership after the verify
  * (a cross-group pair carries its rep pair's score; a within-group
  * pair scores [[Score.within]] by identity), and star edges from each
  * rep to its members are true edges, so components are preserved.
  * The carve-outs keep rows whose score is undefined out of every
  * group, so identical twins never pair: empty shingle sets (jaccard
  * and containment 0/0; they also minhash to one constant band key,
  * which the band guard keeps off the bands) and zero-norm vectors
  * (cosine 0/0 = NaN; constant buckets). Phash has none: hamming is
  * defined on every signature, and identical phash is hamming 0 <= 3.
  * A duplicate-bombed corpus thus costs O(groups) candidates and
  * verifies; what stays quadratic is the member expansion, which is
  * the answer itself.
  */
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

  /** The band rows of the rows at `view`, unguarded: every caller bands
    * collapsed reps, and the kind's `grp` already leaves out every row
    * its band guard would drop. */
  private[graft] def bandSelects(k: Banded, view: String): String =
    (0 until k.bands)
      .map(b => s"SELECT ${k.id}, $b AS band, ${k.bandKey(b)} AS ${k.key}" +
        s" FROM $view")
      .mkString(" UNION ALL ")

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

  /** Run `body` with its jobs named after the store phase `what`
    * (Engine.phase). */
  private def named[T](k: Banded, s: SparkSession, what: String)(
      body: => T): T =
    phase(s, s"${k.name} store: $what")(body)

  /** The kind's signature rows over the whole corpus at `dir`, CACHED:
    * they feed the collapse, every band side and both verify
    * join-backs, so the signature chains run once, and later calls
    * serve the same blocks (the cache manager keys on the canonical
    * plan). Tracked, so `Engine.invalidateCorpus` releases them. */
  private[graft] def sigs(k: Banded, s: SparkSession,
                          dir: String): DataFrame =
    CorpusState.track(s, dir, k.sigs(k.rows(s, dir)).cache())

  /** Register `sigs` as view `_sigs`, its collapse membership as `_grp`
    * and the representatives' rows (eager) as `_rep`; returns the
    * membership and, with `repCols`, its row count. Without `repCols`
    * the reps keep the whole signature row (a store lands its payload
    * from them) and no count runs. With them the reps carry the id plus
    * `repCols`, coalesced to a width from the membership count (one job
    * over the checkpointed frame; it bounds the rep count from above).
    */
  private[graft] def collapse(k: Banded, s: SparkSession, sigs: DataFrame,
                              v: String => String,
                              repCols: Seq[String] = Nil): (DataFrame, Long) = {
    sigs.createOrReplaceTempView(v("_sigs"))
    val grp = k.grp(s, v("_sigs"))
    grp.createOrReplaceTempView(v("_grp"))
    val cols =
      if (repCols.isEmpty) "s.*" else (k.id +: repCols).map("s." + _).mkString(", ")
    val reps = s.sql(
      s"""SELECT $cols FROM ${v("_sigs")} s
         |JOIN (SELECT DISTINCT rep FROM ${v("_grp")}) r ON s.${k.id} = r.rep"""
        .stripMargin)
    val n = if (repCols.isEmpty) 0L else grp.count()
    (if (repCols.isEmpty) reps else reps.coalesce(Dedup.repPartitions(s, n)))
      .truncated().createOrReplaceTempView(v("_rep"))
    (grp, n)
  }

  /** The distinct id pairs (`a` < `b`) sharing a band key in the band
    * relation `bands`. */
  private[graft] def candSql(k: Banded, bands: String, a: String,
                             b: String): String =
    s"""SELECT DISTINCT x.${k.id} AS $a, y.${k.id} AS $b
       |  FROM $bands x JOIN $bands y
       |    ON x.band = y.band AND x.${k.key} = y.${k.key}
       |    AND x.${k.id} < y.${k.id}""".stripMargin

  /** The CTEs `bands` (the rows at `rep`, banded) and `cand` (their
    * banded self-join). */
  private def bandedCands(k: Banded, rep: String): String =
    s"""bands AS (${bandSelects(k, rep)}),
       |cand AS (${candSql(k, "bands", pairCol(k, "a"), pairCol(k, "b"))})"""
      .stripMargin

  /** The candidates `cands` defines, each verified by `score` against
    * the payload rows at `home`, projected to `proj`. */
  private def verifySql(k: Banded, score: Score, cands: String,
                        home: String, proj: String): String = {
    val (a, b) = (pairCol(k, "a"), pairCol(k, "b"))
    s"""WITH $cands
       |${score.verify(proj, a, b, s"cand JOIN $home a ON a.${k.id} = $a " +
          s"JOIN $home b ON b.${k.id} = $b")}""".stripMargin
  }

  /** The family's rep-level verified pairs (rep_a, rep_b, score), LAZY,
    * and its membership (eager): PlanSpec pins the verify's physical
    * shape without running it, and [[relations]] checkpoints it. */
  private[graft] def verifyFrame(f: PairFamily, s: SparkSession,
                                 dir: String): (DataFrame, DataFrame) = {
    val k = f.kind
    val v = Map("_sigs" -> Dedup.cview(f.name + "_sigs", dir),
      "_grp" -> Dedup.uview(f.name + "_grp"),
      "_rep" -> Dedup.uview(f.name + "_rep"))
    val (grp, _) = collapse(k, s, sigs(k, s, dir), v, f.repCols)
    val proj = s"${pairCol(k, "a")} AS rep_a, ${pairCol(k, "b")} AS rep_b, " +
      f.score.name
    val ver = s.sql(f.cands match {
      case Some(c) => verifySql(k, f.score, c(s, v("_rep")), v("_rep"), proj)
      case None => verifySql(k, f.score, bandedCands(k, v("_rep")),
        v("_sigs"), proj)
    })
    Dedup.dropUviews(s, v("_grp"), v("_rep"))
    (grp, ver)
  }

  /** The family's verified rep pairs (checkpointed) and membership,
    * built once per (session, corpus) in [[graft.CorpusState]]. */
  def relations(f: PairFamily, s: SparkSession,
                dir: String): Dedup.PairRelations =
    CorpusState.getOrBuild(s, dir, s"${f.name}_pairs") {
      val (grp, ver) = verifyFrame(f, s, dir)
      Dedup.PairRelations(ver.truncated(), grp)
    }

  /** The family's LP edges (doc_a, doc_b): the verified rep pairs plus
    * star edges from each rep to its members. */
  def edges(f: PairFamily, s: SparkSession, dir: String): DataFrame = {
    val (rel, id) = (relations(f, s, dir), f.kind.id)
    rel.repVer.select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"))
      .unionAll(rel.grp.where(col(id) =!= col("rep"))
        .select(col("rep").as("doc_a"), col(id).as("doc_b")))
  }

  /** The family's member-level pairs, unordered: row-for-row the
    * uncollapsed banded pair table. DataFrame joins DIRECTLY on the
    * registry's frames, no temp views: a view-based expansion would
    * bring back a shared name binding that two threads on different
    * corpora could interleave on (one corpus's rep pairs expanding
    * through the other's membership). */
  def pairs(f: PairFamily, s: SparkSession, dir: String): DataFrame = {
    val (rel, id, score) = (relations(f, s, dir), f.kind.id, f.score.name)
    val (outA, outB) = (pairCol(f.kind, "a"), pairCol(f.kind, "b"))
    def side(rep: Column, m: String) = rel.grp.select(rep, col(id).as(m))
    val cross = rel.repVer
      .join(side(col("rep").as("rep_a"), "__ma"), "rep_a")
      .join(side(col("rep").as("rep_b"), "__mb"), "rep_b")
      .select(least(col("__ma"), col("__mb")).as(outA),
        greatest(col("__ma"), col("__mb")).as(outB), col(score))
    val within = side(col("rep"), "__ma").join(side(col("rep"), "__mb"), "rep")
      .where(col("__ma") < col("__mb"))
      .select(col("__ma").as(outA), col("__mb").as(outB),
        f.score.within.as(score))
    cross.unionAll(within)
  }

  /** Write the collapsed increment's relations at `out` in the kind's
    * serving layout: each append-only relation unioned with `prior`'s
    * chain when one is given (a self-contained generation), the
    * assignment as computed. The increment is hash-partitioned to the
    * bucket layout before that union: the stored side's bucketed scan
    * already has it, so the union keeps it and only the increment
    * shuffles (a stored side of another bucket count, or unbucketed,
    * still writes correctly through the write's own repartition). */
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
          StoreKind.readChain(s, p, rel, k.id)
            .union(StoreFiles.inBucketLayout(s.sql(inc(rel)), order)))
      named(k, s, s"write $rel")(
        StoreFiles.writeOrdered(df, s"$out/$rel", order))
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
    val sigs = k.sigs(k.rows(s, dir).where(
      if (pred.isEmpty) k.oldPred(s, dir) else pred)).cache()
    collapse(k, s, sigs, v)
    val (a, b) = (pairCol(k, "a"), pairCol(k, "b"))
    val lbl = Option.when(k.lp) {
      val pairs = s.sql(
        s"""${verifySql(k, k.score, bandedCands(k, v("_rep")), v("_sigs"),
              s"$a, $b")}
           |UNION ALL
           |SELECT rep AS $a, ${k.id} AS $b FROM ${v("_grp")}
           |WHERE ${k.id} <> rep""".stripMargin)
      val lp = Dedup.labelPropagate(k.storeKey,
        renamed(pairs, "doc_a", "doc_b"), renamed(sigs.select(k.id), "doc_id"))
      renamed(lp, k.id, "cluster_id")
    }
    new java.io.File(store).mkdirs()
    land(k, s, store, v, lbl, prior = None)
    val n = named(k, s, "seal")(sigs.count())
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
    val v = (sfx: String) => storeView(k.tag + "fo", store, sfx)
    // localCheckpoint (EAGER), not cache: the relation feeds every band
    // side, both verify join-backs and the node list inside ONE edge
    // job, and a lazy cache populating mid-job let the racing scans
    // each recompute the signature chains (measured ~10x the cost)
    val newSigs = named(k, s, "sigs") {
      val sigs = k.sigs(k.rows(s, dir).where(newHalf(k, s, dir, newPred)))
        .truncated()
      collapse(k, s, sigs, v)
      sigs
    }
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
         |cand_nn AS (${candSql(k, "newbands", a, b)}),
         |v_on AS (
         |  SELECT least($o, $n) AS $a, greatest($o, $n) AS $b FROM (
         |${k.score.verify(s"$o, $n", o, n, s"cand_on JOIN ${v("_old")} o " +
            s"ON o.$id = $o JOIN ${v("_sigs")} n ON n.$id = $n", "o.", "n.")})),
         |v_nn AS (
         |${k.score.verify(s"$a, $b", a, b, s"cand_nn JOIN ${v("_sigs")} a " +
            s"ON a.$id = $a JOIN ${v("_sigs")} b ON b.$id = $b")})
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
    val edges = named(k, s, "edges")(edgesLazy.truncated())
    val lblA = Dedup.storeAssignment(s, store, "doc_id")
    val merged = named(k, s, "merge")(
      Dedup.contractedMerge(k.foldKey + "#merge", lblA,
        renamed(edges, "doc_a", "doc_b"),
        renamed(newSigs.select(k.id), "doc_id")))
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
      if (k.lp) {
        val (sigs, m) = increment(k, s, dir, store, np)
        (sigs, Some(named(k, s, "merge")(m.truncated())))
      } else named(k, s, "sigs") {
        val sigs = k.sigs(k.rows(s, dir).where(np)).cache()
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
    // docs = everything the SERVED store covers, from rows the fold
    // holds, never a re-read of the relations just written: the
    // checkpointed merge for LP kinds (the rows the self-contained
    // assignment holds; a batch that re-selects stored ids lands more
    // than prior + batch there), the prior count plus the batch
    // otherwise
    val n = named(k, s, "seal")(merged match {
      case Some(m) => m.count()
      case None =>
        val added = newSigs.count()
        newSigs.unpersist()
        val prior = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(store, "manifest.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        """"docs":\s*(\d+)""".r.findFirstMatchIn(prior)
          .map(_.group(1).toLong).getOrElse(0L) + added
    })
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
