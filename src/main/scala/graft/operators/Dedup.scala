package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine._
import graft.{CorpusState, QueryPack}

/** Deduplication operators over the `documents` / `embeddings` tables:
  * exact (hash group-by), n-gram Jaccard (inverted-index join), MinHash +
  * LSH banding, SimHash, and embedding-cosine near-dup.
  *
  * Every variant is expressed so the exact same arithmetic runs in DuckDB
  * (the driver's oracle): token hashes come from `md5` hex prefixes (not
  * engine-native `hash()`, which differs between engines), min-hashing
  * uses fixed `(a*h + b) mod p` families with literal constants, and all
  * similarity ratios are single IEEE divisions rounded to 6 digits.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-aggregate on a derived key — group on
  *    `md5(text)` so the shuffle carries a 32-byte key, not the document;
  *  - Jaccard generates candidates with a banded-MinHash equi-join and
  *    re-checks only candidates exactly (graft_isect merge) — shuffle is
  *    8 band keys per document, never a pair cross product, and the
  *    banded result is verified identical to the all-pairs spec on every
  *    test scale;
  *  - MinHash signatures are computed per-document in one narrow pass
  *    (HOF `aggregate` over the shingle array — no explode/shuffle), and
  *    only band keys (4 x 16 bytes/doc) are shuffled for candidate
  *    generation;
  *  - SimHash is likewise a narrow per-document fold; the 16-bit variant
  *    here keeps the oracle tractable, widen the mask set for 64-bit.
  */
object Dedup extends QueryPack {

  private val P = 2147483647L // 2^31 - 1
  private val K = 16          // minhash signature length
  private val Bands = 4       // LSH bands (4 rows each)
  private def A(j: Int): Long = (1103515245L * (j + 1)) % 65521L
  private def B(j: Int): Long = (12345L * (j + 17)) % 65521L

  /** Word-bigram shingles, identical construction in both dialects.
    * Guarded for single-token docs: Spark's `sequence(1, 0)` descends to
    * `[1, 0]` (and `element_at(toks, 0)` throws), while DuckDB's
    * `range(1, 1)` is empty — the CASE makes both yield `[]`.
    */
  // graft_bigrams is the fused codegen form of the original HOF head
  //   array_distinct(transform(sequence(1, size(toks) - 1),
  //     i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))
  // (KernelDifferentialSpec pins exact equality, incl. first-occurrence
  // order); the CASE keeps the legacy null-toks parity — size(null) is
  // null, so a null token array still yields [] rather than null.
  private val sparkGrams =
    "CASE WHEN size(toks) >= 2 THEN graft_bigrams(toks)" +
      " ELSE cast(array() as array<string>) END"
  private val duckGrams =
    "list_distinct(list_transform(range(1, len(toks))," +
      " i -> toks[i] || ' ' || toks[i + 1]))"

  /** DuckDB form of the 32-bit shingle hash from the md5 hex prefix;
    * value-identical to the fused [[graft.functions.Md5PrefixHash]]
    * kernel (digest -> long, no hex string round-trip) the Spark side
    * calls as `graft_h32a`.
    */
  private def duckH(v: String) =
    s"CAST('0x' || substr(md5($v), 1, 8) AS BIGINT)"

  // -- dd_exact: exact duplicate groups --------------------------------------
  private def ddExact(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("h"))

  private val ddExactSql =
    """SELECT md5(text) AS h, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  // -- dd_jaccard: banded-MinHash candidates + exact Jaccard re-check ---------
  // The 100 TB shape: candidate pairs come from an LSH band EQUI-join over
  // the 16-perm MinHash signatures (8 bands x 2 rows — so the shuffle
  // carries 8 small keys per document, never a pair cross product), and
  // only candidates pay the exact re-check: a codegen'd two-pointer merge
  // (graft_isect) over the per-doc sorted 60-bit shingle-hash arrays.
  //
  // RECALL CONTRACT (probabilistic, stated explicitly): the exact
  // re-check removes every false candidate, so precision is 1.0; recall
  // against the all-pairs spec is bounded by the banding — a true pair
  // with Jaccard j collides in some band with prob 1-(1-j^2)^8, which is
  // 0.972 at EXACTLY the j = 0.6 threshold, 0.995 at j = 0.7, 0.9998 at
  // this corpus's weakest true pair (j = 0.818), ~1-1e-12 at its median
  // (j = 0.92). Near-dup corpora are bimodal (true pairs far above the
  // threshold, noise far below), so the boundary regime is empty in
  // practice; callers needing a harder floor raise K/bands (recall
  // 1-(1-j^2)^b), trading b shuffle keys per document.
  //
  // The DuckDB oracle is the INDEPENDENT all-pairs formulation, NOT the
  // banding — the driver's hash-compare therefore verifies the banded
  // result against the exact spec on real data every round (identical at
  // sf0.001/0.01/0.1, while scanning 61x fewer pairs at sf0.1: 203 k
  // candidates vs 12.5 M ordered pairs).
  private def sparkH64(v: String) = s"graft_h64($v)"
  private def duckH64(v: String) =
    s"CAST('0x' || substr(md5($v), 1, 15) AS BIGINT)"

  /** 2-row band key over the K=16 signature columns (8 bands). */
  private[graft] val JacBands = 8
  private[graft] def jacBandKeySpark(b: Int): String =
    s"md5(concat_ws(',', cast(sig_${2 * b} as string)," +
      s" cast(sig_${2 * b + 1} as string)))"

  /** Band-side skew guard for every JACCARD-VERIFIED banding site. A
    * doc whose shingle set is empty (text shorter than one word-bigram)
    * minhashes to Long.MaxValue in EVERY signature — minhash16's fold
    * identity with nothing to fold — so all such docs share one
    * identical (band, bk) key in all 8 bands. On a web-scale corpus
    * that single bucket generates |empty|²/2 candidate pairs per band:
    * a quadratic bucket bomb, every pair of which the exact verify
    * then rejects anyway (Jaccard against an empty hash set is
    * 0/len = 0 or 0/0 = NULL in both engines, never >= 0.6 — pinned
    * by ShortDocGuardSpec). Dropping empty-sig docs from the BAND
    * side before candidate generation is therefore semantics-free for
    * this family — they still flow through every node list and exact
    * path, surfacing as singletons — and turns the bomb into a linear
    * skip. NOT applied to the signature-similarity family
    * (dd_minhash_lsh est_sim, dd_simhash* hamming), where two empty
    * docs have identical signatures and legitimately pair.
    */
  private val jacBandGuard = s" WHERE sig_0 <> ${Long.MaxValue}L"

  /** Scale-adaptive partition count for a checkpointed group/rep-scale
    * frame that is scanned many times inside one edge job (the band
    * selects): ~256k rows per partition — prepLpEdges' sizing rule —
    * capped at the session's shuffle parallelism (the corpus-scale
    * setting a deployment tunes) and floored at 1. Replaces the
    * literal `coalesce(4)`s (r22): right at sf0.1 where the rep set is
    * a few thousand rows, wrong on a corpus whose signatures are
    * mostly unique (reps ≈ corpus → billions of rows through 4
    * partitions). `rows` is a cheap count over an already-checkpointed
    * frame.
    */
  private[graft] def repPartitions(s: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      s.conf.get("spark.sql.shuffle.partitions").toLong,
      rows / 262144L + 1L)).toInt

  /** Scoped AQE-off, the edge-checkpoint discipline (measured note at
    * [[ddClusterIncremental]]): one definition for every site so the
    * save/set/restore dance cannot drift or leak. Works only when the
    * body forces planning INSIDE the scope (a localCheckpoint or an
    * executedPlan access) — a lazily-returned DataFrame plans after
    * the finally has already restored the conf.
    */
  private[graft] def withAqeOff[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.adaptive.enabled" -> "false")(body)

  /** Per-call-unique temp view name for the shared-frame BUILDERS'
    * CHECKPOINT-BACKED intermediates. They run OUTSIDE the registry
    * lock ([[graft.CorpusState]]'s build rule: two corpora may build
    * concurrently on one SparkSession), so a fixed view name is a
    * shared mutable binding a concurrent builder could rebind between
    * registration and SQL analysis — one corpus's verify silently
    * reading the other corpus's relation. Unique names make
    * interleaved builds safe by construction. Every uview MUST be
    * dropped via [[dropUviews]] once the last s.sql() that names it
    * has been ANALYZED (Dataset creation is eagerly analyzed, so view
    * resolution has already inlined the plan and the returned lazy
    * frames keep working): the catalog holds the analyzed plan —
    * for a checkpointed frame, its LogicalRDD — so an undropped
    * unique view pins the checkpoint's executor blocks FOREVER
    * (ddLpEdges rebuilds a corpus-sized frame per call; before r19
    * each rebuild leaked its blocks past every registry
    * invalidation, unbounded). Dropping is safe precisely because
    * these views are checkpoint-backed, never .cache()'d:
    * dropTempView only uncaches a MATCHING cache entry, and there is
    * none. Cached relations use [[cview]] instead.
    */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong
  private[graft] def uview(prefix: String): String =
    prefix + "_u" + viewSeq.incrementAndGet()

  /** Drop builder temp views whose consuming SQL is already analyzed
    * (see [[uview]]'s contract). dropTempView also uncaches a cache
    * entry matching the view's plan — call this only on
    * checkpoint-backed views.
    */
  private[graft] def dropUviews(s: SparkSession, names: String*): Unit =
    names.foreach(s.catalog.dropTempView(_))

  /** Deterministic per-(prefix, session-shared corpus) name for the
    * CACHED builder relations (the sig/embedding scans behind the
    * band sides). These views must OUTLIVE the builder — dropping
    * them would unpersist the shared cache entry the lazy verify
    * frames and sibling families still scan — so, unlike [[uview]],
    * the name must not grow per build: keying on the corpus dir keeps
    * one binding per (prefix, corpus) for the session's lifetime.
    * Concurrency: different corpora get different names (the race
    * [[uview]] closes); two concurrent builds of the SAME corpus
    * rebind the name to PLAN-EQUIVALENT relations, so an interleaved
    * analysis resolves to an equivalent plan — benign by
    * construction. The cached blocks themselves are released by
    * [[graft.Engine.invalidateCorpus]] through [[graft.CorpusState]].
    */
  private[graft] def cview(prefix: String, dir: String): String =
    prefix + "_c" + StoreFiles.md5Hex(dir, 12)

  /** The shingle-set collapse membership (doc_id, rep) over a
    * registered sig view: identical shingle sets group under their
    * min-doc_id representative, empty-shingle docs carved out (their
    * pairwise score is 0/0 in every family — never a pair, so never a
    * group). Eagerly checkpointed (the dc_grp discipline — the frame
    * is scanned several times inside one pair-materialization job).
    * Shared by the jaccard AND containment families: the collapse key
    * is the shingle set itself, which both score functions are
    * constant on.
    */
  private[graft] def shingleGrpFrame(s: SparkSession, view: String): DataFrame =
    s.sql(
      s"""SELECT k.doc_id, g.rep FROM
         |  (SELECT doc_id, md5(cast(hs as string)) AS hkey
         |   FROM $view WHERE sig_0 <> ${Long.MaxValue}L) k
         |JOIN
         |  (SELECT md5(cast(hs as string)) AS hkey, min(doc_id) AS rep
         |   FROM $view WHERE sig_0 <> ${Long.MaxValue}L
         |   GROUP BY 1) g
         |ON k.hkey = g.hkey""".stripMargin)
      .truncated()

  /** [[shingleGrpFrame]]'s EMBED-keyed twin (md5 of the vector bytes,
    * zero-norm carve-out — a zero vector's cosine is NaN, never an
    * edge): ONE definition for the four embed collapse sites
    * (PairFamily.Cosine, embedClusterEdges, and the embed store's
    * build and fold), which carried byte-identical inline copies
    * before r20.
    */
  private[graft] def embedGrpFrame(s: SparkSession, view: String): DataFrame =
    s.sql(
      s"""SELECT k.vec_id, g.rep FROM
         |  (SELECT vec_id, md5(cast(embedding as string)) AS vk
         |   FROM $view WHERE n2 > 0) k
         |JOIN
         |  (SELECT md5(cast(embedding as string)) AS vk,
         |          min(vec_id) AS rep
         |   FROM $view WHERE n2 > 0 GROUP BY 1) g
         |ON k.vk = g.vk""".stripMargin)
      .truncated()

  private def ddJaccard(s: SparkSession, dir: String): DataFrame =
    BandedStore.pairs(PairFamily.Jaccard, s, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The all-pairs docs CTE + scored-pairs subquery shared by the
    * jaccard-family oracles (ddJaccardSql, ddSourceOverlapSql) — ONE
    * definition so a tuning change (threshold, hash width, grams)
    * cannot desynchronize the gates that all feed from
    * PairFamily.Jaccard's pairs on the Spark side.
    */
  private val duckJacDocsCte =
    s"""docs AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(list_transform(grams,
       |      g -> ${duckH64("g")}))) AS hs
       |  FROM (
       |    SELECT doc_id, $duckGrams AS grams FROM (
       |      SELECT doc_id, string_split(text, ' ') AS toks FROM documents)))"""
      .stripMargin

  private val duckJacScoredPairs =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
      |      / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6)
      |      AS jaccard
      |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      |  WHERE least(len(a.hs), len(b.hs)) * 10
      |        >= greatest(len(a.hs), len(b.hs)) * 6""".stripMargin

  /** The independent all-pairs spec (no banding): hash-comparing the
    * banded Spark result against it makes the driver's gate verify the
    * banding's recall on real data, not just replay a shared shortcut.
    */
  private val ddJaccardSql =
    s"""WITH $duckJacDocsCte
       |SELECT doc_a, doc_b, jaccard FROM (
       |  $duckJacScoredPairs)
       |WHERE jaccard >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  // -- dd_decontaminate: FUZZY eval-set decontamination -----------------------
  // The near-dup companion to txt_decontaminate's exact 8-gram gate
  // (the procedure pretraining reports pair with exact overlap: a
  // corpus document is contaminated when it is a near-duplicate of ANY
  // held-out eval document, not only when it shares a verbatim gram).
  // Eval set = the deterministic doc_id % 50 == 0 slice, the same
  // stand-in txt_decontaminate uses. Composed ENTIRELY from the banded
  // jaccard machinery — the pair table is PairFamily.Jaccard's (one
  // banded self-join + exact verify, sig relation cached once), sliced
  // to corpus-eval pairs and folded to per-doc flags — so at 100 TB
  // the cost is the dedup pass the pipeline already runs, and the
  // (small) eval side rides the same band index rather than a second
  // scan. The oracle is the INDEPENDENT all-pairs spec restricted the
  // same way, so the hash-compare gates the banding's recall on the
  // contamination question itself.
  private def ddDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // single pass over the pair table: a symmetric union of two
    // orientation projections embeds the banded-join + verify subtree
    // twice in the plan (exchange reuse reclaims only the shuffles) —
    // a crossing pair instead selects its corpus side directly
    val hits = BandedStore.pairs(PairFamily.Jaccard, s, dir)
      .where("(doc_a % 50 = 0) <> (doc_b % 50 = 0)")
      .selectExpr("CASE WHEN doc_a % 50 = 0 THEN doc_b ELSE doc_a END AS d")
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_eval_matches"))
    table(s, dir, "documents").where("doc_id % 50 <> 0")
      .select(col("doc_id"))
      .join(hits, col("doc_id") === col("d"), "left")
      .selectExpr("doc_id",
        "cast(coalesce(n_eval_matches, 0) as bigint) AS n_eval_matches",
        "coalesce(n_eval_matches, 0) > 0 AS contaminated")
      .orderBy(col("doc_id"))
  }

  private val ddDecontaminateSql =
    s"""WITH $duckJacDocsCte,
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    $duckJacScoredPairs)
       |  WHERE jaccard >= 0.6),
       |h AS (
       |  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_eval_matches FROM (
       |    SELECT doc_a AS d, doc_b AS e FROM p
       |    UNION ALL SELECT doc_b AS d, doc_a AS e FROM p)
       |  WHERE d % 50 <> 0 AND e % 50 = 0 GROUP BY d)
       |SELECT doc_id,
       |  CAST(COALESCE(n_eval_matches, 0) AS BIGINT) AS n_eval_matches,
       |  COALESCE(n_eval_matches, 0) > 0 AS contaminated
       |FROM documents LEFT JOIN h ON doc_id = h.d
       |WHERE doc_id % 50 <> 0
       |ORDER BY doc_id""".stripMargin

  // -- dd_decontaminate_semantic: embedding-space eval decontamination --------
  // The SEMANTIC companion to dd_decontaminate (lexical leakage escapes
  // paraphrase; embedding similarity does not): a corpus vector is
  // flagged when it cosine-matches (>= 0.4) any held-out eval vector
  // (vec_id % 50 == 0, the family's eval stand-in). Composed from the
  // banded RH-LSH pair table (PairFamily.Cosine's, cached bucketed
  // relation shared with the cosine family), so at corpus scale the
  // flags cost one slice of the semantic-dedup pass. Per the repo's
  // banded-query convention the oracle is the BANDED restatement
  // (banding recall on this noise fixture is ~49% by design — see
  // dd_embed_cluster — so an all-pairs oracle would differ by
  // construction; recall itself is gated by the exact anchors).
  private def ddDecontaminateSemantic(s: SparkSession,
                                      dir: String): DataFrame = {
    // single pass over the pair table (see ddDecontaminate)
    val hits = BandedStore.pairs(PairFamily.Cosine, s, dir)
      .where("(vec_a % 50 = 0) <> (vec_b % 50 = 0)")
      .selectExpr("CASE WHEN vec_a % 50 = 0 THEN vec_b ELSE vec_a END AS d")
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_eval_matches"))
    table(s, dir, "embeddings").where("vec_id % 50 <> 0")
      .select(col("vec_id"))
      .join(hits, col("vec_id") === col("d"), "left")
      .selectExpr("vec_id",
        "cast(coalesce(n_eval_matches, 0) as bigint) AS n_eval_matches",
        "coalesce(n_eval_matches, 0) > 0 AS contaminated")
      .orderBy(col("vec_id"))
  }

  // lazy: the embed-oracle building blocks (plane dots, band selects)
  // are declared further down the object; a strict val here would read
  // them mid-initialization and silently render empty SQL
  private lazy val ddDecontaminateSemanticSql =
    s"""WITH ${duckEmbedECte()},
       |bands AS ($duckEmbedBandSelects),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
       |p AS (
       |  SELECT vec_a, vec_b FROM (
       |    SELECT vec_a, vec_b, ${duckEmbedCos("a", "b")} AS cos_sim
       |    FROM cand JOIN e a ON a.vec_id = vec_a
       |              JOIN e b ON b.vec_id = vec_b)
       |  WHERE cos_sim >= 0.4),
       |h AS (
       |  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_eval_matches FROM (
       |    SELECT vec_a AS d, vec_b AS e FROM p
       |    UNION ALL SELECT vec_b AS d, vec_a AS e FROM p)
       |  WHERE d % 50 <> 0 AND e % 50 = 0 GROUP BY d)
       |SELECT vec_id,
       |  CAST(COALESCE(n_eval_matches, 0) AS BIGINT) AS n_eval_matches,
       |  COALESCE(n_eval_matches, 0) > 0 AS contaminated
       |FROM embeddings LEFT JOIN h ON vec_id = h.d
       |WHERE vec_id % 50 <> 0
       |ORDER BY vec_id""".stripMargin

  // -- dd_source_overlap: cross-source duplicate leakage matrix ---------------
  // The curation report behind dedup prioritization: how much near-dup
  // content each PAIR of sources shares (CCNet/mC4-style cross-dump
  // overlap — a dump that mostly duplicates another gets deduped
  // against it first, or dropped). Composes the banded Jaccard pairs
  // with the tiny (doc_id, source) projection and counts pairs per
  // unordered source pair.
  //
  // Scale shape: the two source lookups are doc_id equi-joins of the
  // pair list (|pairs| << |docs|, narrow columns only) against a
  // two-column projection of the corpus scan; the final aggregate is
  // |sources|^2-bounded. No new shuffle class beyond dd_jaccard itself.
  private def ddSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val pairs = BandedStore.pairs(PairFamily.Jaccard, s, dir)
    val src = table(s, dir, "documents").select("doc_id", "source")
    pairs
      .join(src.toDF("doc_a", "src_a"), "doc_a")
      .join(src.toDF("doc_b", "src_b"), "doc_b")
      .selectExpr("least(src_a, src_b) AS source_a",
        "greatest(src_a, src_b) AS source_b")
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  // Independent all-pairs restatement (no banding), same unordered
  // source-pair canonicalization — recall of the banded pair source
  // feeds straight into this gate too.
  private val ddSourceOverlapSql =
    s"""WITH $duckJacDocsCte,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    $duckJacScoredPairs)
       |  WHERE jaccard >= 0.6)
       |SELECT least(sa.source, sb.source) AS source_a,
       |  greatest(sa.source, sb.source) AS source_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM pairs
       |JOIN documents sa ON sa.doc_id = doc_a
       |JOIN documents sb ON sb.doc_id = doc_b
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // -- dd_containment: asymmetric substring-style dedup -----------------------
  // Jaccard misses the quote/superset case: a doc wholly contained in a
  // bigger one has high containment c(A,B) = |A∩B|/min(|A|,|B|) but can
  // have low Jaccard. This operator reports pairs with max-direction
  // containment >= 0.8 — the shingle-level form of the "exact substring
  // dedup" family (Lee et al.'s dedup of quoted/boilerplate spans).
  //
  // Candidates come from the SAME 8x2 MinHash banding as dd_jaccard
  // (one band-key shuffle, no cross product), WITHOUT the length-ratio
  // prune (containment explicitly allows size mismatch). RECALL
  // CONTRACT: MinHash banding collides with probability driven by
  // JACCARD, so a subset pair with low Jaccard (tiny doc inside huge
  // doc) can be missed; measured on this corpus every containment>=0.8
  // pair also has j >= 0.6 (0 low-jaccard escapes at sf0.01 and sf0.1,
  // verified against the all-pairs oracle below each round). Corpora
  // with extreme size skew need the small-side candidate scheme —
  // implemented below as dd_containment_smallside (deterministic
  // prefix filtering, guaranteed recall; DedupRecallSpec drives it
  // over an adversarial tiny-doc-in-huge-doc fixture this banding
  // would miss).
  //
  // DUPLICATE-BOMB GUARD (r18): identical docs have containment 1.0,
  // so a k-copy bomb detonates this family exactly like jaccard's.
  // Containment, like jaccard, is a function of the two shingle SETS
  // only, so the same collapse (PairFamily.Containment) defuses it.
  private def ddContainment(s: SparkSession, dir: String): DataFrame =
    BandedStore.pairs(PairFamily.Containment, s, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Independent all-pairs spec — catches any subset pair the
    * Jaccard-tuned banding would drop (see recall contract above).
    */
  private val ddContainmentSql =
    s"""WITH $duckJacDocsCte
       |SELECT doc_a, doc_b, containment FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |      / least(len(a.hs), len(b.hs)), 6) AS containment
       |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id)
       |WHERE containment >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // -- dd_containment_smallside: skew-proof containment candidates ------------
  // The candidate scheme the dd_containment recall contract calls for on
  // size-skewed corpora: small-side PREFIX FILTERING (the SSJoin/PPJoin
  // family, Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) instead of
  // Jaccard-tuned MinHash banding. Each doc PROBES with floor(|d|/5)+1
  // of its shingle hashes and is INDEXED by its full hash set; a
  // qualifying pair (A,B), |A| <= |B|, has at most floor(0.2*|A|) of
  // A's shingles outside B, so by pigeonhole at least one probe hash
  // hits B's index — recall is GUARANTEED for ANY choice of probe
  // subset, which is why this query's all-pairs oracle gates candidate
  // recall exactly.
  //
  // The probe subset is the RAREST-FIRST prefix (order by corpus
  // document frequency, hash as tiebreak — deterministic in both
  // engines): probing with a doc's rarest shingles keeps hot
  // boilerplate shingles off the probe side, bounding join fan-out per
  // probe key by the df of RARE hashes. On real web text with heavy
  // boilerplate the hot keys carry most of the fan-out and
  // rarest-first is the standard fix (Xiao et al.'s df-ascending
  // canonical order); the ordering costs one df aggregation + one
  // per-doc window, both linear.
  //
  // MULTI-HIT PRUNING: probing with ⌊0.2|A|⌋+1 hashes guarantees ≥1
  // index hit for a qualifying pair; the standard generalization
  // (Xiao et al.'s l-prefix) probes ⌊0.2|A|⌋+k and requires ≥k hits —
  // a qualifying pair has at most ⌊0.2|A|⌋ probe misses total, so by
  // pigeonhole ≥k of the k+⌊0.2|A|⌋ probes hit, for ANY k ≥ 1 and any
  // probe subset. Each +1 of slack costs one more probe row per doc
  // but multiplies away chance collisions: on this corpus (931
  // distinct shingle hashes — heavily collided by construction, so a
  // random pair already shares ~3 hashes) k=3 cuts the re-check input
  // from 5.11M candidate pairs to 0.63M for 256 true matches, which
  // halved the query's measured CPU at sf0.1. The per-pair HAVING
  // bound uses the probing (smaller) doc's ACTUAL prefix length
  // (least(sz, sz div 5 + k)), so short docs — whose whole hash set
  // is the prefix — keep the exact pigeonhole requirement. Equal-size
  // pairs probe in ONE direction only (the lower doc_id probes), so
  // the per-pair count stays a single-direction hit count and the
  // >= k requirement is never diluted by summing both directions.
  //
  // Scale shape: one df aggregation + one per-doc window to rank probe
  // hashes, then an inverted-index equi-join feeding one pair-keyed
  // count — all linear in corpus shingles, never a cross product; AQE
  // skew-join covers what residual index-side heat remains. The exact
  // per-pair re-check (graft_isect >= 0.8 * min size) is unchanged
  // from dd_containment and now runs over a pruned candidate set.
  private val ContPrefixSlack = 3

  /** The smallside candidate CTE chain. `probeOrder` picks the probe
    * prefix: `"df.df, i.h"` is the production rarest-first order;
    * `"i.h"` is the naive smallest-hash prefix DedupRecallSpec measures
    * it against (recall is guaranteed for EITHER — the pigeonhole
    * argument holds for any probe subset — the order only controls
    * candidate fan-out on boilerplate-skewed corpora). `slack` is the
    * extra prefix length k: probe ⌊sz/5⌋+k hashes, require ≥k hits
    * (capped to the doc's own size for short docs).
    *
    * `probeParts` pins the probe side of the cand join to an explicit
    * REPARTITION(n, h): the probe relation's MAP output is tiny (a
    * prefix of each doc's hashes) so AQE's coalescer folds the join
    * down to ~2 partitions, but the join's OUTPUT explodes (the
    * inverted-index fan-out — 0.63 M pairs / 55 MB / ~6 CPU-s at
    * sf0.1), and coalescing by INPUT size serializes exactly the
    * stage all the CPU lives in (r16 ProfileOne: 2 tasks, 5.7 CPU-s,
    * the query's wall cap). A user-numbered repartition is exempt
    * from AQE coalescing, and the join must read both sides at the
    * same partitioning, so the explosive stage keeps full
    * parallelism; AQE skew handling stays on for everything else. At
    * real scale the inputs are no longer tiny and the hint is simply
    * the partitioning the join would pick anyway.
    */
  private[graft] def contSmallsideCandSql(view: String, probeOrder: String,
                                   slack: Int = ContPrefixSlack,
                                   probeParts: Int = 0): String = {
    val probeHint =
      if (probeParts > 0) s"/*+ REPARTITION($probeParts, h) */ " else ""
    s"""idx AS (
       |  SELECT doc_id, size(hs) AS sz, h
       |  FROM $view LATERAL VIEW explode(hs) t AS h),
       |df AS (SELECT h, count(*) AS df FROM idx GROUP BY h),
       |probe AS (
       |  SELECT $probeHint doc_id, sz, h FROM (
       |    SELECT i.doc_id, i.sz, i.h,
       |      row_number() OVER (PARTITION BY i.doc_id
       |        ORDER BY $probeOrder) AS rn
       |    FROM idx i JOIN df ON i.h = df.h)
       |  WHERE rn <= (sz div 5) + $slack),
       |cand AS (
       |  SELECT least(p.doc_id, i.doc_id) AS doc_a,
       |         greatest(p.doc_id, i.doc_id) AS doc_b
       |  FROM probe p JOIN idx i
       |    ON p.h = i.h
       |   AND (p.sz < i.sz OR (p.sz = i.sz AND p.doc_id < i.doc_id))
       |  GROUP BY least(p.doc_id, i.doc_id), greatest(p.doc_id, i.doc_id)
       |  HAVING count(*) >=
       |    least(min(p.sz), min(p.sz) div 5 + $slack) - min(p.sz) div 5)"""
      .stripMargin
  }

  /** Candidate pairs alone, with either probe order — exposed so
    * DedupRecallSpec can gate the rarest-first fan-out advantage (and
    * 100% recall) on a boilerplate-skewed fixture.
    */
  private[graft] def containmentCandidates(s: SparkSession, dir: String,
                                           rarestFirst: Boolean): DataFrame = {
    BandedStore.sigs(StoreKind.Cluster, s, dir)
      .createOrReplaceTempView("contp_sigs")
    val ord = if (rarestFirst) "df.df, i.h" else "i.h"
    s.sql(s"""WITH ${contSmallsideCandSql("contp_sigs", ord)}
             |SELECT doc_a, doc_b FROM cand""".stripMargin)
  }

  // DUPLICATE-BOMB GUARD (r18): same rep-collapse as [[ddContainment]],
  // applied BEFORE prefix selection — both the probe AND the inverted
  // index hold representatives only, so a k-copy bomb contributes ONE
  // probe prefix and ONE index row set instead of k of each (the
  // uncollapsed index paid k² candidate rows AND k-fold hotter df on
  // every bomb shingle, polluting the rarest-first ranking). The
  // recall pigeonhole is per-PAIR and each rep is a real document, so
  // it holds unchanged on the rep corpus; df computed over reps is
  // the better rarity signal (duplicates no longer masquerade as
  // boilerplate). PairFamily.ContainmentSmallside.
  private def ddContainmentSmallside(s: SparkSession, dir: String): DataFrame =
    BandedStore.pairs(PairFamily.ContainmentSmallside, s, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  // -- dd_threshold_sweep: tune the dedup threshold from ONE candidate pass ---
  // Choosing the Jaccard cutoff is a sweep, not a constant: pipelines
  // re-run dedup at several thresholds and compare removal volume. This
  // answers the whole sweep in one pass over the banded candidates:
  // bucket every pair by floor(j*10) and report, per bucket >= 0.6, the
  // pair count AND the cumulative pairs-removed-at-threshold
  // (cum_at_or_above — the number a run at t = bucket/10 would drop).
  // The cumulative window runs over the <= 5-row bucket table, not the
  // pairs. Contract: buckets below 0.6 are out of scope — that is the
  // banding's recall floor (dd_jaccard's contract); sweeping lower
  // requires re-banding, not re-scanning. Oracle: the independent
  // all-pairs formulation, same buckets.
  private def ddThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bucket10").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    BandedStore.pairs(PairFamily.Jaccard, s, dir)
      .selectExpr("cast(floor(jaccard * 10) as bigint) AS bucket10")
      .groupBy("bucket10").agg(count(lit(1)).as("n_pairs"))
      // <= 5 aggregate rows: the unpartitioned window is bounded-small
      .withColumn("cum_at_or_above", sum("n_pairs").over(w))
      .orderBy(col("bucket10"))
  }

  private val ddThresholdSweepSql =
    s"""WITH $duckJacDocsCte,
       |pairs AS (
       |  SELECT CAST(floor(jaccard * 10) AS BIGINT) AS bucket10 FROM (
       |    SELECT round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
       |        / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))),
       |        6) AS jaccard
       |    FROM docs a JOIN docs b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.6)
       |SELECT bucket10, n_pairs,
       |  CAST(SUM(n_pairs) OVER (ORDER BY bucket10 DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_at_or_above
       |FROM (SELECT bucket10, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |      FROM pairs GROUP BY bucket10)
       |ORDER BY bucket10""".stripMargin

  // -- dd_incremental: dedup a NEW batch against an EXISTING corpus -----------
  // The ingestion-time form of dedup: a production corpus is not rebuilt
  // from scratch — each crawl/batch lands against what is already
  // curated, and only the batch side may be dropped. Sources with id
  // >= 10 play the incoming batch here; < 10 the standing corpus. A new
  // document is tagged 'exact_dup' (md5(text) matches an existing doc),
  // else 'near_dup' (Jaccard >= 0.6 against some existing doc), else
  // 'kept'.
  //
  // Scale shape: the exact gate is an equi-join on 32-byte text
  // digests; near-dup candidates come from the same 8x2 MinHash banding
  // as dd_jaccard but only ACROSS the batch boundary (new x existing —
  // the batch side is typically a small fraction of the corpus, so the
  // band join's probe side is small), and only candidates pay the exact
  // graft_isect re-check. Neither text nor shingle arrays shuffle for
  // candidate generation — band keys only. The DuckDB oracle is the
  // INDEPENDENT all-pairs formulation (no banding), so this row also
  // gates banding recall at the 0.6 threshold, like dd_jaccard's.
  private def ddIncremental(s: SparkSession, dir: String): DataFrame = {
    val incSigs = table(s, dir, "documents")
      .selectExpr("doc_id", "md5(text) AS th",
        "cast(substring(source, 4) as int) >= 10 AS is_new",
        "split(text, ' ') AS toks")
      .selectExpr("doc_id", "th", "is_new", s"$sparkGrams AS grams")
      .selectExpr("doc_id", "th", "is_new",
        "graft_h64sd(grams) AS hs",
        "graft_h32a(grams) AS ghs")
      .selectExpr(Seq("doc_id", "th", "is_new", "hs",
        "graft_minhash16(ghs) AS sigarr"): _*)
      .selectExpr(Seq("doc_id", "th", "is_new", "hs") ++ sparkSigCols: _*)
      .cache()
    CorpusState.track(s, dir, incSigs).createOrReplaceTempView("inc_sigs")
    val bandSelects = (0 until JacBands)
      .map(b => s"SELECT doc_id, is_new, $b AS band," +
        s" ${jacBandKeySpark(b)} AS bk FROM inc_sigs$jacBandGuard")
      .mkString(" UNION ALL ")
    s.sql(
      s"""WITH bands AS ($bandSelects),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bk = y.bk
         |   AND x.is_new AND NOT y.is_new),
         |near AS (
         |  SELECT DISTINCT new_id FROM (
         |    SELECT new_id,
         |      ${Score.Jaccard.value("a.", "b.")} AS j
         |    FROM cand JOIN inc_sigs a ON a.doc_id = new_id
         |              JOIN inc_sigs b ON b.doc_id = old_id)
         |  WHERE j >= 0.6),
         |ex AS (
         |  SELECT DISTINCT n.doc_id FROM inc_sigs n
         |  JOIN inc_sigs o ON n.th = o.th AND n.is_new AND NOT o.is_new)
         |SELECT doc_id,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
         |       WHEN doc_id IN (SELECT new_id FROM near) THEN 'near_dup'
         |       ELSE 'kept' END AS status
         |FROM inc_sigs WHERE is_new ORDER BY doc_id""".stripMargin)
  }

  // -- dd_incremental_bloom: the broadcast-Bloom exact gate -------------------
  // Same contract and SAME ORACLE as dd_incremental; only the exact
  // gate's join strategy changes to the 100 TB-friendly two-tier form:
  // the standing corpus's digest keys fold into ONE 16 KiB Bloom filter
  // (graft_bloom_agg — map-side partial merge, one row out), the
  // incoming batch probes it with the codegen'd graft_bloom_contains,
  // and only the PROBABLE duplicates (true dups + the filter's ~0.1%
  // false positives) reach the exact digest equi-join. A mostly-novel
  // batch therefore never shuffles against the corpus at all on the
  // exact path — the surviving probe set is broadcast-sized — while
  // false positives are removed by the exact join (Bloom has no false
  // negatives, so the result is bit-identical to dd_incremental's).
  // The probe key is the digest's leading 60 bits as a bigint; a key
  // collision only adds a false positive, which the th equality then
  // discards.
  private def ddIncrementalBloom(s: SparkSession, dir: String): DataFrame = {
    val incbSigs = table(s, dir, "documents")
      .selectExpr("doc_id", "md5(text) AS th",
        "cast(substring(source, 4) as int) >= 10 AS is_new",
        "split(text, ' ') AS toks")
      .selectExpr("doc_id", "th", "is_new", s"$sparkGrams AS grams")
      .selectExpr("doc_id", "th", "is_new",
        "cast(conv(substring(th, 1, 15), 16, 10) as bigint) AS bk64",
        "graft_h64sd(grams) AS hs",
        "graft_h32a(grams) AS ghs")
      .selectExpr(Seq("doc_id", "th", "is_new", "bk64", "hs",
        "graft_minhash16(ghs) AS sigarr"): _*)
      .selectExpr(Seq("doc_id", "th", "is_new", "bk64", "hs") ++
        sparkSigCols: _*)
      .cache()
    CorpusState.track(s, dir, incbSigs).createOrReplaceTempView("incb_sigs")
    val bandSelects = (0 until JacBands)
      .map(b => s"SELECT doc_id, is_new, $b AS band," +
        s" ${jacBandKeySpark(b)} AS bk FROM incb_sigs$jacBandGuard")
      .mkString(" UNION ALL ")
    s.sql(
      s"""WITH bands AS ($bandSelects),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bk = y.bk
         |   AND x.is_new AND NOT y.is_new),
         |near AS (
         |  SELECT DISTINCT new_id FROM (
         |    SELECT new_id,
         |      ${Score.Jaccard.value("a.", "b.")} AS j
         |    FROM cand JOIN incb_sigs a ON a.doc_id = new_id
         |              JOIN incb_sigs b ON b.doc_id = old_id)
         |  WHERE j >= 0.6),
         |bloom AS (
         |  SELECT graft_bloom_agg(bk64) AS bits FROM incb_sigs
         |  WHERE NOT is_new),
         |probable AS (
         |  SELECT n.doc_id, n.th FROM incb_sigs n
         |  WHERE n.is_new
         |    AND graft_bloom_contains((SELECT bits FROM bloom), n.bk64)),
         |ex AS (
         |  SELECT DISTINCT p.doc_id FROM probable p
         |  JOIN incb_sigs o ON o.th = p.th AND NOT o.is_new)
         |SELECT doc_id,
         |  CASE WHEN doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
         |       WHEN doc_id IN (SELECT new_id FROM near) THEN 'near_dup'
         |       ELSE 'kept' END AS status
         |FROM incb_sigs WHERE is_new ORDER BY doc_id""".stripMargin)
  }

  private val ddIncrementalSql =
    s"""WITH d AS (
       |  SELECT doc_id, md5(text) AS th,
       |    CAST(substr(source, 4) AS INT) >= 10 AS is_new,
       |    list_sort(list_distinct(list_transform(grams,
       |      g -> ${duckH64("g")}))) AS hs
       |  FROM (
       |    SELECT doc_id, text, source, $duckGrams AS grams FROM (
       |      SELECT doc_id, text, source, string_split(text, ' ') AS toks
       |      FROM documents))),
       |near AS (
       |  SELECT DISTINCT n.doc_id FROM d n JOIN d o
       |    ON n.is_new AND NOT o.is_new
       |  WHERE round(CAST(len(list_intersect(n.hs, o.hs)) AS DOUBLE)
       |      / (len(n.hs) + len(o.hs) - len(list_intersect(n.hs, o.hs))),
       |      6) >= 0.6),
       |ex AS (
       |  SELECT DISTINCT n.doc_id FROM d n
       |  JOIN d o ON n.th = o.th AND n.is_new AND NOT o.is_new)
       |SELECT doc_id,
       |  CASE WHEN doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
       |       WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
       |       ELSE 'kept' END AS status
       |FROM d WHERE is_new ORDER BY doc_id""".stripMargin

  // -- dd_span: cross-document repeated-substring spans -----------------------
  // The ExactSubstr pass (Lee et al. 2022, "Deduplicating Training Data
  // Makes Language Models Better"): near-dup pair detection misses the
  // common web-corpus failure where only a PORTION of a document (a
  // licence header, a quoted article, a templated footer) is duplicated
  // across otherwise-distinct pages. This finds, per document, the
  // maximal token spans whose every 8-word window also occurs in at
  // least one OTHER document — the spans a span-level dedup pass would
  // cut. The reference's scraper has no analogue; this is training-data
  // hygiene the engine adds (same rationale as txt_decontaminate,
  // TextAnalysis.scala).
  //
  // Shape, replacing the paper's monolithic suffix array (which needs
  // the whole corpus in one address space) with pure shuffle-parallel
  // relational ops:
  //   1. explode each doc into positioned 8-gram md5 keys — narrow
  //      per-doc pass, the wide toks array is pruned inside the same
  //      codegen stage;
  //   2. keys held by >= 2 distinct docs — tested as min(doc_id) !=
  //      max(doc_id), a plain partial-aggregable min/max pair instead
  //      of a count-distinct (whose two-phase expand shuffles every
  //      (k, doc_id) pair twice for a predicate that only needs "more
  //      than one");
  //   3. LEFT SEMI join positions back onto the surviving keys —
  //      equi-join, map-side-prunable, never a pair product (a gram
  //      shared by n docs costs n index rows, not n^2 pair rows —
  //      the reason this scales where all-pairs span intersection
  //      cannot);
  //   4. gaps-and-islands per doc: windows partitioned BY DOC (fully
  //      parallel, no global sort) merge positions whose 8-token
  //      intervals overlap or touch (gap <= 8) into maximal spans.
  // The final ORDER BY is presentation-only. All arithmetic is integer;
  // the DuckDB oracle restates the identical five stages.
  private val SpanK = 8
  private def ddSpan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gk = table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .filter(s"size(toks) >= $SpanK")
      .selectExpr("doc_id", "toks",
        s"explode(sequence(1, size(toks) - ${SpanK - 1})) AS pos")
      .selectExpr("doc_id", "cast(pos as bigint) AS pos",
        s"md5(concat_ws(' ', slice(toks, pos, $SpanK))) AS k")
    // The gram table DELIBERATELY computes twice (once under the dup
    // aggregate, once as the probe side): forcing a shared
    // k-exchange to scan documents once was tried and is WORSE at
    // scale — it shuffles the full-width gram table (40 B/position)
    // where this form shuffles only the map-side-combined (k, min,
    // max) triples (duplicate grams collapse before the wire) and
    // leaves the probe side shuffle-free when the dup-key set
    // broadcasts; re-scanning text (~6 B/token) plus a second md5
    // pass is the cheaper side of that trade, and column pruning
    // diverges the two branches anyway, defeating ReuseExchange.
    val dup = gk.groupBy("k")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("k")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // (doc_id, pos) is unique in gk by construction (pos is a
    // per-doc sequence) and LEFT SEMI never duplicates rows, so the
    // matched positions feed the window directly — the r19 plan paid
    // a full extra distinct() shuffle of the largest intermediate
    // here (17 MB at sf0.1, the bench's top shuffle key) for rows
    // that were already unique
    gk.join(dup, Seq("k"), "left_semi")
      .select("doc_id", "pos")
      // lag = null on the first row: null <= 8 is null -> otherwise(1),
      // starting a new island, identically three-valued in DuckDB
      .withColumn("flag",
        when(col("pos") - lag("pos", 1).over(w) <= SpanK, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("grp", sum("flag")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(SpanK - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
      .orderBy("doc_id", "span_start")
  }

  private val ddSpanSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents),
       |g AS (SELECT doc_id, unnest(range(1, len(toks) - ${SpanK - 2}))
       |        AS pos, toks
       |      FROM t WHERE len(toks) >= $SpanK),
       |gk AS (SELECT doc_id, pos,
       |         md5(array_to_string(toks[pos:pos+${SpanK - 1}], ' ')) AS k
       |       FROM g),
       |dup AS (SELECT k FROM gk GROUP BY k
       |        HAVING COUNT(DISTINCT doc_id) >= 2),
       |m AS (SELECT DISTINCT doc_id, pos FROM gk
       |      WHERE k IN (SELECT k FROM dup)),
       |fl AS (SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
       |                ORDER BY pos) <= $SpanK
       |              THEN 0 ELSE 1 END AS flag
       |       FROM m),
       |isl AS (SELECT doc_id, pos,
       |          SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |        FROM fl)
       |SELECT doc_id, MIN(pos) AS span_start,
       |       MAX(pos) + ${SpanK - 1} AS span_end,
       |       CAST(COUNT(*) AS BIGINT) AS n_grams
       |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start"""
      .stripMargin

  // -- dd_minhash: per-document MinHash signatures ----------------------------
  // One narrow pass: signature j = min over shingles of (A_j*h + B_j) mod P.
  // The md5 shingle hash is hoisted into a per-doc array FIRST so it runs
  // once per shingle, and all 16 signatures come from ONE compiled pass
  // over it (graft_minhash16 — see GraftHashes.minhash16, which bakes the
  // same A/B/P family as the oracle SQL below; integer-exact, so the
  // unfused DuckDB formulation is unchanged).
  private def sparkSigCols: Seq[String] =
    (0 until K).map(j => s"element_at(sigarr, ${j + 1}) AS sig_$j")

  /** (doc_id, carry…, hs, sig_0..sig_15) of a frame holding doc_id and
    * text: sorted 60-bit word-bigram shingle hashes (the exact-verify
    * side) and the 16-perm MinHash signature the 8x2 band keys read —
    * ONE chain for the jaccard/containment pair relations and the
    * cluster store's build, fold and stream probe, so none of them can
    * shingle or band differently.
    */
  private[graft] def jacSigsOf(df: DataFrame,
                               carry: Seq[String] = Nil): DataFrame = {
    val k = "doc_id" +: carry
    df.selectExpr(k :+ "split(text, ' ') AS toks": _*)
      .selectExpr(k :+ s"$sparkGrams AS grams": _*)
      .selectExpr(k ++ Seq("graft_h32a(grams) AS ghs",
        "graft_h64sd(grams) AS hs"): _*)
      .selectExpr(k ++ Seq("hs", "graft_minhash16(ghs) AS sigarr"): _*)
      .selectExpr(k ++ Seq("hs") ++ sparkSigCols: _*)
  }

  /** Streaming reuse ([[graft.streaming.Streams.nearDupStream]]): the
    * (band, bkey) expansion of a document frame — IDENTICAL banding to
    * dd_minhash_lsh (same shingles, same 16-perm MinHash, same 4 x 4
    * band keys), so the stream flags exactly the candidates the batch
    * pass would. Input columns: doc_id, ts, text.
    */
  private[graft] def bandRows(docs: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map(b =>
      s"struct($b AS band, ${bandKeySpark(b)} AS bkey)")
    docs
      .selectExpr("doc_id", "ts", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "ts", s"$sparkGrams AS grams")
      .selectExpr("doc_id", "ts", "graft_h32a(grams) AS ghs")
      .selectExpr("doc_id", "ts", "graft_minhash16(ghs) AS sigarr")
      .selectExpr(Seq("doc_id", "ts") ++ sparkSigCols: _*)
      .selectExpr("doc_id", "ts",
        s"explode(array(${bandCols.mkString(", ")})) AS bb")
      .selectExpr("bb.band AS band", "bb.bkey AS bkey", "doc_id", "ts")
  }

  private def duckSigCols: Seq[String] = (0 until K).map { j =>
    // empty-shingle guard: DuckDB's list_reduce ERRORS on an empty
    // list, while graft_minhash16 returns its fold identity
    // (Long.MaxValue) — a sub-2-token doc must yield the identical
    // identity signature in both engines, not an oracle crash (the
    // fixtures never hit this; ShortDocGuardSpec's doctored corpora
    // are exactly the input class that does)
    s"CASE WHEN len(ghs) = 0 THEN ${Long.MaxValue}" +
      s" ELSE list_reduce(list_transform(ghs," +
      s" h -> (${A(j)} * h + ${B(j)}) % $P)," +
      s" (x, y) -> least(x, y)) END AS sig_$j"
  }

  /** DuckDB restatement of [[bandRows]]'s (doc_id, band, bk) expansion,
    * as two WITH clauses (`nd_sigs`, `nd_bands`) — shared by the
    * streaming replay oracle (st_neardup_replay) so stream and batch
    * banding stay provably identical.
    */
  private[graft] def duckBandRowsSql: String = {
    val bandSelects = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeyDuck(b)} AS bk" +
        " FROM nd_sigs")
      .mkString(" UNION ALL ")
    s"""nd_sigs AS (
       |  SELECT doc_id, ${duckSigCols.mkString(", ")} FROM ($duckSigInput)),
       |nd_bands AS ($bandSelects)""".stripMargin
  }

  /** documents -> (doc_id, ghs: array<bigint>) hashed-shingle pipeline. */
  private def sigInput(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", s"$sparkGrams AS grams")
      .selectExpr("doc_id", "graft_h32a(grams) AS ghs")
  }

  private val duckSigInput =
    s"""SELECT doc_id, list_transform(grams, g -> ${duckH("g")}) AS ghs
       |FROM (SELECT doc_id, $duckGrams AS grams FROM (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents))"""
      .stripMargin

  private def ddMinhash(s: SparkSession, dir: String): DataFrame =
    sigInput(s, dir)
      .selectExpr("doc_id", "graft_minhash16(ghs) AS sigarr")
      .selectExpr(Seq("doc_id") ++ sparkSigCols: _*)
      .orderBy(col("doc_id"))

  private val ddMinhashSql =
    s"""SELECT doc_id, ${(0 until K).map("sig_" + _).mkString(", ")} FROM (
       |  SELECT doc_id, ${duckSigCols.mkString(", ")} FROM ($duckSigInput))
       |ORDER BY doc_id""".stripMargin

  // -- dd_minhash_lsh: banded candidate pairs + signature similarity ----------
  // Shuffle carries only (band, 32-byte key) per doc; est_sim >= 0.5 filter.
  private def bandKeySpark(b: Int): String = {
    val cols = (0 until K / Bands).map(r => s"cast(sig_${b * K / Bands + r} as string)")
    s"md5(concat_ws(',', ${cols.mkString(", ")}))"
  }

  private def bandKeyDuck(b: Int): String = {
    val cols = (0 until K / Bands).map(r => s"CAST(sig_${b * K / Bands + r} AS VARCHAR)")
    s"md5(${cols.mkString(" || ',' || ")})"
  }

  private def ddMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    // The signature relation is referenced three times in the plan below
    // (both band sides + the similarity join-back); cache it so the
    // md5/conv signature chain runs once per document, not three times.
    val sigs = sigInput(s, dir)
      .selectExpr("doc_id", "graft_minhash16(ghs) AS sigarr")
      .selectExpr(Seq("doc_id") ++ sparkSigCols: _*)
      .cache()
    CorpusState.track(s, dir, sigs).createOrReplaceTempView("dd_sigs")
    val bandSelects = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeySpark(b)} AS bk FROM dd_sigs")
      .mkString(" UNION ALL ")
    val matches = (0 until K)
      .map(j => s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s.sql(
      s"""WITH bands AS ($bandSelects),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |  round(cast(($matches) as double) / $K, 6) AS est_sim
         |FROM cand JOIN dd_sigs a ON a.doc_id = doc_a
         |          JOIN dd_sigs b ON b.doc_id = doc_b
         |WHERE round(cast(($matches) as double) / $K, 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  private val ddMinhashLshSql = {
    val bandSelects = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeyDuck(b)} AS bk FROM sigs")
      .mkString(" UNION ALL ")
    val matches = (0 until K)
      .map(j => s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sigs AS (
       |  SELECT doc_id, ${duckSigCols.mkString(", ")} FROM ($duckSigInput)),
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  round(CAST(($matches) AS DOUBLE) / $K, 6) AS est_sim
       |FROM cand JOIN sigs a ON a.doc_id = doc_a
       |          JOIN sigs b ON b.doc_id = doc_b
       |WHERE round(CAST(($matches) AS DOUBLE) / $K, 6) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -- dd_simhash: 16-bit SimHash per document --------------------------------
  // Token hashes are hoisted into one array (each md5 runs once, not once
  // per bit) and all 16 bit-counters fold in one compiled pass
  // (graft_simhash16); integer addition is order-independent, so the
  // unfused per-bit DuckDB formulation below is value-identical.
  private def simhashCore(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "graft_h16a(toks) AS hts")
      .selectExpr("doc_id", "cast(graft_simhash16(hts) as int) AS simhash")
  }

  private def ddSimhash(s: SparkSession, dir: String): DataFrame =
    simhashCore(s, dir).orderBy(col("doc_id"))

  private def duckH16(v: String) =
    s"CAST('0x' || substr(md5($v), 1, 4) AS BIGINT)"

  private val ddSimhashSql = {
    val bits = (0 until 16).map { b =>
      val mask = 1 << b
      s"CASE WHEN list_aggregate(list_transform(toks, t ->" +
        s" CASE WHEN (${duckH16("t")} & $mask) > 0 THEN 1 ELSE -1 END)," +
        s" 'sum') > 0 THEN $mask ELSE 0 END"
    }
    s"""SELECT doc_id, ${bits.mkString(" + ")} AS simhash
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // -- dd_simhash_pairs: Hamming-distance near-dup pairs ----------------------
  private def ddSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    // Hamming-ball EQUI-join instead of an all-pairs loop: every 16-bit
    // signature within distance <= 2 of `x` is `x ^ m` for one of the
    // 1 + 16 + C(16,2) = 137 masks, so exploding side A by the mask set
    // turns near-dup search into `a.simhash ^ m = b.simhash` — a hash
    // join whose shuffle is 137 x N small rows, not N^2 pairs. Each
    // qualifying pair matches exactly one mask (distinct xor patterns),
    // so no dedup is needed. This is the shape that survives corpus
    // scale; the DuckDB oracle keeps the O(N^2) formulation as the
    // independent spec of the same result set.
    val masks = Seq(0) ++
      (0 until 16).map(1 << _) ++
      (for { i <- 0 until 16; j <- i + 1 until 16 }
        yield (1 << i) | (1 << j))
    val sims = CorpusState.track(s, dir, simhashCore(s, dir).cache())
    val a = sims
      .select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
      .withColumn("variant",
        explode(array(masks.map(m => col("sim_a").bitwiseXOR(lit(m))): _*)))
    val b = sims.select(col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"))
    a.join(b, col("variant") === col("sim_b")
        && col("doc_a") < col("doc_b"))
      .selectExpr("doc_a", "doc_b",
        "cast(bit_count(sim_a ^ sim_b) as int) AS hamming")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val ddSimhashPairsSql = {
    val bits = (0 until 16).map { b =>
      val mask = 1 << b
      s"CASE WHEN list_aggregate(list_transform(toks, t ->" +
        s" CASE WHEN (${duckH16("t")} & $mask) > 0 THEN 1 ELSE -1 END)," +
        s" 'sum') > 0 THEN $mask ELSE 0 END"
    }
    s"""WITH sims AS (
       |  SELECT doc_id, ${bits.mkString(" + ")} AS simhash
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -- dd_simhash64: 64-bit SimHash + banded Hamming equi-join ----------------
  // The production-width variant (the 16-bit one above keeps the historic
  // oracle but saturates at ~10^5 docs: 65 k possible signatures). Token
  // hashes take all 16 md5 hex chars as two 32-bit halves; the signature
  // is one fused pass (graft_simhash64), and near-dup search uses the
  // PIGEONHOLE banding that generalizes the 137-mask trick: if
  // hamming(a, b) <= 3 then at least one of the four 16-bit bands is
  // IDENTICAL, so an equi-join on (band, band_value) yields a
  // guaranteed superset of the answer — 4 small keys per doc shuffle,
  // never a pair cross product, and the exact bit_count re-check keeps
  // the result EXACT (the DuckDB oracle states the same result as the
  // independent O(N^2) spec). Band extraction (sig >> 16b) & 65535 is
  // two's-complement-safe: the mask keeps only low bits, so arithmetic
  // vs logical shift cannot differ.
  private def ddSimhash64(s: SparkSession, dir: String): DataFrame = {
    val sims = table(s, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        "graft_h32a(toks) AS los",
        // hex digits 9..16 of the same md5 — the fused form of
        // conv(substring(md5(t), 9, 8), 16, 10) per element
        "graft_h32b(toks) AS his")
      .selectExpr("doc_id", "graft_simhash64(los, his) AS sig")
      .cache()
    CorpusState.track(s, dir, sims).createOrReplaceTempView("sh64_sims")
    val bandSelects = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band," +
        s" shiftright(sig, ${16 * b}) & 65535 AS bv FROM sh64_sims")
      .mkString(" UNION ALL ")
    s.sql(
      s"""WITH bands AS ($bandSelects),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |  cast(bit_count(a.sig ^ b.sig) as int) AS hamming
         |FROM cand JOIN sh64_sims a ON a.doc_id = doc_a
         |          JOIN sh64_sims b ON b.doc_id = doc_b
         |WHERE bit_count(a.sig ^ b.sig) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** Corpus-scale SimHash candidate generator with a TUNABLE block
    * scheme (Manku et al., WWW 2007, generalized): split the 64-bit
    * signature into `blocks` contiguous blocks and key one candidate
    * table on every combination of `blocks - k` of them. If
    * `hamming(a, b) <= k`, the differing bits touch at most `k`
    * blocks, so some untouched combination keys identically — the
    * same pigeonhole guarantee as the fixed 4x16 banding, which is
    * EXACTLY this scheme at (blocks = 4, k = 3): C(4,1) = 4 tables
    * keyed on one 16-bit block each. The scale knob: at corpus size n,
    * 16-bit keys collide quadratically (4 * n^2 / 2^17 background
    * pairs at ANY n); raising `blocks` to 6 keys C(6,3) = 20 tables on
    * ~33 bits each — 20x the tables but 2^17x fewer collisions per
    * table, the right trade as soon as n outgrows the key space.
    * SimhashScalingSpec pins the guarantee (equality with brute-force
    * Hamming <= k, not just a superset) and the noise shrink.
    *
    * Input: (doc_id BIGINT, sig BIGINT). Output: distinct candidate
    * pairs (doc_a < doc_b) — callers re-check `bit_count(xor) <= k`
    * exactly, as dd_simhash64 does over its banding.
    */
  private[graft] def simhash64Candidates(sigs: DataFrame, blocks: Int,
                                         k: Int): DataFrame = {
    require(blocks > k && blocks <= 64,
      s"need k < blocks <= 64, got blocks=$blocks k=$k")
    val widths = (0 until blocks)
      .map(b => 64 / blocks + (if (b < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val tables = (0 until blocks).combinations(blocks - k).toSeq
    val maxKeyBits = tables.map(_.map(widths).sum).max
    require(maxKeyBits <= 63,
      s"combined key would carry $maxKeyBits bits; raise k or blocks")
    val keyStructs = tables.zipWithIndex.map { case (sel, ti) =>
      // shift-accumulate the selected blocks into one BIGINT key
      val key = sel.foldLeft("0L") { (acc, b) =>
        s"(shiftleft($acc, ${widths(b)}) | " +
          s"(shiftright(sig, ${offsets(b)}) & ${(1L << widths(b)) - 1}L))"
      }
      s"struct($ti AS tbl, $key AS bv)"
    }
    val exploded = sigs.selectExpr("doc_id",
        s"explode(array(${keyStructs.mkString(", ")})) AS key")
      .select(col("doc_id"), col("key.tbl"), col("key.bv"))
    exploded.alias("x").join(exploded.alias("y"),
        col("x.tbl") === col("y.tbl") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  private val ddSimhash64Sql = {
    def lo(t: String) = s"CAST('0x' || substr(md5($t), 1, 8) AS BIGINT)"
    def hi(t: String) = s"CAST('0x' || substr(md5($t), 9, 8) AS BIGINT)"
    val terms = (0 until 64).map { b =>
      val bit =
        if (b < 32) s"(${lo("t")} & ${1L << b})"
        else s"(${hi("t")} & ${1L << (b - 32)})"
      val value =
        if (b < 63) (1L << b).toString else "(-9223372036854775807 - 1)"
      s"CASE WHEN list_aggregate(list_transform(toks, t ->" +
        s" CASE WHEN $bit <> 0 THEN 1 ELSE -1 END), 'sum') > 0" +
        s" THEN $value ELSE 0 END"
    }
    s"""WITH sims AS (
       |  SELECT doc_id, ${terms.mkString(" + ")} AS sig
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -- dd_embed_cosine / dd_embed_cosine_lsh: embedding near-dup pairs --------
  // Two variants with an explicit spec relationship:
  //
  //  * dd_embed_cosine — the EXACT spec: every ordered pair scored with
  //    the same IEEE dot-product fold in both engines, threshold
  //    cos >= 0.4. Spark side is an all-pairs join (quadratic — this is
  //    the small-scale exactness oracle, same role as sim_topk_brute for
  //    the ANN paths, NOT the 100 TB path); the DuckDB oracle is an
  //    INDEPENDENT all-pairs formulation, so the hash-compare checks the
  //    arithmetic, not a shared shortcut.
  //
  //  * dd_embed_cosine_lsh — the production 100 TB shape: candidates from
  //    a multi-table random-hyperplane LSH band equi-join (12 bands x 5
  //    sign bits, deterministic integer hyperplanes identical in both
  //    dialects), exact graft_dot re-score on same-bucket pairs only.
  //    Shuffle carries 12 small (band, bucket) keys per vector; pair
  //    generation is bucket-local, never a cross product (PlanSpec
  //    asserts this). Its result is BY CONTRACT a subset of
  //    dd_embed_cosine: the banding is a candidate filter with
  //    probabilistic recall, and the same banding runs in its oracle so
  //    the deterministic candidate set is hash-compared exactly.
  //    DedupRecallSpec asserts the subset relation against the exact
  //    variant on real data.
  //
  // Recall (measured, sf0.01): this corpus's embeddings are uniform-random
  // — the pairs >= 0.4 are the extreme tail of NOISE (angle ~66° vs 90°
  // background), and at that separation no sub-quadratic method keeps
  // every pair (per-hyperplane agreement 0.63 vs 0.50 background); the
  // 12x5 banding keeps ~49% of them while scoring 3.6x fewer pairs. In
  // the regime LSH pruning is FOR — near-dups at cos >= 0.9 (agreement
  // 0.857) — the same banding has recall 1-(1-0.857^5)^12 = 0.998.
  private[graft] val CosBands = 12
  private val CosRows = 5

  /** Hyperplane j, 1-based component i: ((j+1)*2654435761 + 40503*i)
    * mod 97 - 48 — an LCG-style integer family with period 97 > 60 in j
    * (the round-3 `% 11` family repeats after 11 planes), identical
    * arithmetic in both dialects. The Spark side computes all 60 plane
    * folds in one compiled pass (graft_rh_buckets — GraftHashes.rhBuckets
    * bakes this same family with the same IEEE fold order); the DuckDB
    * oracle keeps the unfused per-plane formulation below.
    */
  private def cosPlaneDotD(j: Int): String = {
    val cj = (j + 1) * 2654435761L
    s"list_reduce(list_transform(range(1, len(embedding) + 1), i ->" +
      s" CAST(embedding[i] AS DOUBLE)" +
      s" * CAST(($cj + 40503 * i) % 97 - 48 AS DOUBLE)), (x, y) -> x + y)"
  }

  private def cosBucket(dot: Int => String, b: Int): String =
    (0 until CosRows)
      .map(k => s"(CASE WHEN ${dot(b * CosRows + k)} > 0" +
        s" THEN ${1 << k} ELSE 0 END)")
      .mkString(" + ")

  /** The exact all-pairs spec (small-scale oracle; `_lsh` is the scale
    * path). `a.vec_id < b.vec_id` is a non-equi condition, so this is
    * deliberately a nested-loop join — quadratic by definition of the
    * spec, like sim_topk_brute.
    */
  private def ddEmbedExactPairs(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        "graft_dot(embedding, embedding) AS n2")
    e.createOrReplaceTempView("cosx_e")
    // graft_cos fuses dot/sqrt/divide into one kernel call; the raw
    // prefilter (strictly looser than the rounded threshold: round6(x)
    // >= 0.4 implies x >= 0.3999995 - ulp > 0.3999994) discards the
    // overwhelming majority of pairs on a primitive double compare, so
    // the BigDecimal `round` only runs for near-threshold survivors.
    // The exact rounded filter stays — the result set is unchanged.
    // The streamed side is ROUND-ROBIN repartitioned (r21): the
    // corpus is one parquet file at fixture scale, so the nested-loop
    // grid — quadratic by spec — otherwise ran in the scan's single
    // partition on one core (the recall frames' pattern; round-robin
    // is neither elidable nor AQE-coalescible).
    val exP = s.conf.get("spark.sql.shuffle.partitions").toInt
    e.selectExpr("vec_id AS vec_a", "embedding AS ea", "n2 AS na")
      .repartition(exP)
      .join(e.selectExpr("vec_id AS vec_b", "embedding AS eb",
        "n2 AS nb"), col("vec_a") < col("vec_b"))
      .selectExpr("vec_a", "vec_b", "graft_cos(ea, eb, na, nb) AS cs")
      .where("cs > 0.3999994")
      .selectExpr("vec_a", "vec_b", "round(cs, 6) AS cos_sim")
      .where("cos_sim >= 0.4")
  }

  private def ddEmbedCosineExact(s: SparkSession, dir: String): DataFrame =
    ddEmbedExactPairs(s, dir).orderBy(col("vec_a"), col("vec_b"))

  private val ddEmbedCosineExactSql =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS n2
      |  FROM embeddings)
      |SELECT vec_a, vec_b, cos_sim FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round(list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
      |        (x, y) -> x + y) / sqrt(a.n2 * b.n2), 6) AS cos_sim
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |WHERE cos_sim >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  private def ddEmbedCosineLsh(s: SparkSession, dir: String): DataFrame =
    BandedStore.pairs(PairFamily.Cosine, s, dir)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Corpus-scale candidate generator with TUNABLE banding — the same
    * bucket-local equi-join shape as PairFamily.Cosine, but over the
    * parameterized plane family (`graft_rh_buckets_n`). The fixed 12x5
    * default is the fixture/oracle path (its weights are baked into the
    * DuckDB restatements); a deployment sizes `rows ~ log2(n / bands)`
    * so background collisions stay O(bands) per vector instead of
    * quadratic in corpus size, and grows `bands` alongside to hold
    * near-dup recall (the math is on [[graft.functions.GraftHashes
    * .rhBucketsN]]). LshScalingSpec pins both directions: noise
    * candidates shrink ~2^(rows delta), planted near-dups survive.
    */
  private[graft] def embedLshCandidates(emb: DataFrame, bands: Int,
                                        rows: Int): DataFrame = {
    val bandsDf = emb
      .selectExpr("vec_id", "embedding",
        s"graft_rh_buckets_n(embedding, $bands, $rows) AS bks")
      // same zero-norm band guard as the Embed row (constant-bucket
      // bomb + NaN-cosine wave-through; see the comment there)
      .where(expr("graft_dot(embedding, embedding) > 0"))
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("band", "bkt")))
    bandsDf.alias("x").join(bandsDf.alias("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** The edge frame dd_embed_cluster / dd_semdedup /
    * dd_embed_cluster_incremental feed into label propagation (via the
    * shared embed_lsh registry entry), with the EXACT-DUPLICATE bomb
    * defused the same way as [[ddClusterEdges]]: k identical
    * embeddings (duplicate docs embed identically) share every RH-LSH
    * bucket, so the banded join would emit k²/2 pairs that all verify
    * at cos 1. The Embed row's collapse bands representatives only and
    * attaches members by k-1 star edges (the exactness argument is at
    * [[BandedStore]]), so the component partition is bit-identical to
    * the uncollapsed banded graph. Collapse frames are eager pruned
    * localCheckpoints, never lazy caches (the measured traps at
    * [[ddClusterEdges]]).
    */
  private[graft] def embedClusterEdges(s: SparkSession,
                                       dir: String): DataFrame = {
    val k = StoreKind.Embed
    val v = Map("_sigs" -> cview("cos_sigs", dir),
      "_grp" -> uview("ec_grp"), "_rep" -> uview("ec_repsigs"))
    val rbv = uview("ec_repbands")
    val (_, nGrp) = BandedStore.collapse(k, s,
      BandedStore.sigs(k, s, dir), v, Seq("bks"))
    // the band relation is CosBands rows per rep: a count-derived width
    s.sql(BandedStore.bandSelects(k, v("_rep")))
      .coalesce(repPartitions(s, CosBands.toLong * nGrp)).truncated()
      .createOrReplaceTempView(rbv)
    val edges = s.sql(
      s"""WITH cand AS (${BandedStore.candSql(k, rbv, "vec_a", "vec_b")}),
         |ver AS (${k.score.verify("vec_a, vec_b", "vec_a", "vec_b",
              s"cand JOIN ${v("_sigs")} a ON a.vec_id = vec_a " +
              s"JOIN ${v("_sigs")} b ON b.vec_id = vec_b")})
         |SELECT vec_a, vec_b FROM ver
         |UNION ALL
         |SELECT rep AS vec_a, vec_id AS vec_b FROM ${v("_grp")}
         |WHERE vec_id <> rep""".stripMargin)
    dropUviews(s, v("_grp"), v("_rep"), rbv)
    edges
  }

  private val ddEmbedCosineLshSql =
    s"""WITH ${duckEmbedECte()},
       |bands AS ($duckEmbedBandSelects),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id)
       |SELECT vec_a, vec_b, cos_sim FROM (
       |  SELECT vec_a, vec_b,
       |    ${duckEmbedCos("a", "b")} AS cos_sim
       |  FROM cand JOIN e a ON a.vec_id = vec_a
       |            JOIN e b ON b.vec_id = vec_b)
       |WHERE cos_sim >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  // -- dd_cluster: near-dup connected components ------------------------------
  // Pairs are only half the dedup story — a keep-one-per-group pipeline
  // needs CLUSTER assignments. Edges are the banded dd_jaccard pairs
  // (j >= 0.6); components come from iterative min-label propagation:
  // each round every doc takes the min cluster id among itself and its
  // neighbors, converging in O(component diameter) rounds — near-dup
  // components are shallow (dozens of docs, diameter ~2-3), so this is
  // 2-4 small equi-join shuffles, never a transitive-closure blowup.
  // This is the same algorithm GraphFrames' connectedComponents runs.
  // The label frame is localCheckpoint'd EVERY round, truncating lineage
  // so plan depth (and re-planning cost) stays bounded no matter how
  // many rounds a deep component needs. The driver-side loop is CONTROL
  // FLOW only — convergence is read from an accumulator filled during
  // the checkpoint job itself, so each round is exactly ONE Spark job
  // and no row data ever reaches the driver.
  //
  // The DuckDB oracle is independent twice over: all-pairs edges (no
  // banding) and a recursive-CTE transitive closure (no label
  // propagation), so the hash-compare checks both the candidate recall
  // and the component arithmetic. cluster_id = min doc_id reachable;
  // docs in no pair are singleton clusters of themselves.
  /** Min-label propagation over an undirected pair list: every node in
    * `nodes` starts as its own cluster, takes the min label among itself
    * and its `pairs` neighbors each round, and the loop stops at the
    * fixed point. Shared by dd_cluster (jaccard edges), dd_embed_cluster
    * (cosine-LSH edges) and mm_phash_cluster (phash edges) — see
    * dd_cluster's comment for the full scale rationale. `op` names the
    * calling operator in the non-convergence error.
    *
    * Node ids must be BIGINT (every graft table's id column is) — the
    * convergence tap reads them as longs.
    *
    * RELEASE CONTRACT: the returned frame is `.cache()`'d (the global
    * sort most callers add executes its input twice — range-partition
    * sampling plus the sort — and the nodes scan can be expensive).
    * The caller that materializes the result owns the release:
    * `unpersist()` it (or `catalog.clearCache()`) once consumed, as
    * Verify does per query and Bench per rep. Intermediate per-round
    * localCheckpoint RDD blocks are reclaimed by the ContextCleaner
    * once the loop drops its references.
    */
  /** Propagate+shortcut passes folded into each LP round's single
    * checkpoint job. See the round-loop comment for the measured trade.
    */
  private val LpPassesPerRound = 2

  /** A prepared LP edge structure: the symmetric closure, hash-
    * partitioned by the neighbor-join key and checkpointed (see the
    * comments at the build site), plus the shuffle sizing derived from
    * its measured edge count.
    */
  private final case class LpEdges(edgesBoth: DataFrame, nEdges: Long,
                                   loopP: Int)

  /** Materialize one LP edge structure from a pair pipeline. Callers
    * run this under the LP loop's AQE-off scope (labelPropagate's
    * withLoopConf, or [[ddLpEdges]]'s own) so the build's plan shape is
    * identical on every path.
    */
  private def prepLpEdges(session: SparkSession, pairs: => DataFrame,
                          defaultP: Int): LpEdges = {
    // Both checkpointed frames are exactly two BIGINT columns per
    // edge — any column the pair pipeline carried (cos_sim, band,
    // shingle sets) is projected away by the caller, so the
    // materialized rows are as small as an edge can be.
    val e1 = pairs.toDF("pa", "pb").truncated()
    // With AQE scoped off, nothing coalesces the loop's shuffles, so
    // size them from the measured edge count instead — the work AQE's
    // runtime coalescing was doing, paid once here rather than one
    // stage-materialization job per shuffle per round. Every loop
    // shuffle carries O(edge-incident nodes) <= 2*|E| rows, so
    // ~256k rows/partition keeps tasks meaningful at any scale; the
    // session default stays as the cap (a cluster deployment sizes
    // that for the corpus, and the loop never needs more than the
    // corpus-scale setting). The count is one tiny job over the
    // already-checkpointed RDD.
    val nEdges = e1.count()
    val loopP = math.max(1L, math.min(defaultP.toLong,
      2L * nEdges / 262144L + 1L)).toInt
    // The symmetric closure is hash-partitioned by `dst` (the
    // neighbor-join key), sorted within partitions, and checkpointed
    // ONCE: localCheckpoint preserves outputPartitioning and
    // outputOrdering in the LogicalRDD leaf (asserted by
    // LpFrontierSpec), so EVERY round's neighbor join finds the edge
    // side already exchanged+sorted and only moves the label side —
    // per-round shuffle drops from O(E) to O(V), the difference
    // between re-exchanging a billion-edge list five times and once
    // at corpus scale. This replaces the old per-round
    // coalesce+union (which also collapsed task waves to loopP, as
    // the repartition here does, but rebuilt and re-shuffled the 2E
    // closure inside every round). The one-time cost is a single 2E
    // exchange over already-materialized blocks.
    val edgesBoth = e1
      .union(e1.select(col("pb"), col("pa")))
      .toDF("src", "dst")
      .repartition(loopP, col("dst"))
      .sortWithinPartitions(col("dst"))
      .truncated()
    LpEdges(edgesBoth, nEdges, loopP)
  }

  /** The collapse relations a banded pair family shares per
    * (session, corpus) through [[graft.CorpusState]]: the rep-level
    * VERIFIED pair table and the (member, rep) membership, both
    * lineage-truncated. grp is small by construction; repVer is bounded
    * by the rep-level candidate volume — never the member expansion,
    * which stays lazy in each consumer.
    */
  private[graft] final case class PairRelations(repVer: DataFrame, grp: DataFrame) {
    /** Membership row count — computed ONCE per (session, corpus)
      * registry entry (the frames are eagerly checkpointed, so this is
      * one tiny job on first use) and reused by every consumer that
      * needs a scale-adaptive partition width (repPartitions).
      */
    lazy val nGrp: Long = grp.count()
  }

  /** Fixed-name builder views whose EAGER checkpoints pin executor
    * blocks for as long as they stay registered (a rebind releases
    * the PREVIOUS generation through the ContextCleaner, but the
    * current one lives until session end). Dropped on invalidation so
    * a long-lived session that is done with a corpus sheds the last
    * block set too — the blocks are rebuild-on-demand state, never
    * the only copy of anything. The names are corpus-agnostic, so the
    * drop is session-wide; the views rebuild on the next builder call.
    * NOTE the single-session contract these names imply: the
    * per-corpus builders (dc_/cinc_/inc_/...) run serially within a
    * session (the harness and every CLI do); a concurrent-builder
    * session must key its corpora to separate SparkSessions. The
    * store builders are path-qualified and exempt.
    */
  private[graft] def dropBuilderViews(session: SparkSession): Unit =
    Seq("inc_sigs", "incb_sigs", "dd_sigs", "sh64_sims")
      .foreach(session.catalog.dropTempView)

  /** `frontier = false` opts a call out of semi-naive rounds: full
    * passes scan the whole label set, which is only a cost when that
    * set is large relative to the changing frontier. The contracted
    * merge LP inverts that premise — its node set is |clusters| +
    * |new nodes| BY CONSTRUCTION — and there the frontier path
    * measured strictly worse at sf0.1 (dd_embed_cluster_incremental
    * merge: 6 rounds with a 2.8 s final compounded-frontier round —
    * the pass-2 tree references pass 1's three times and the frontier
    * filter rides every reference, so the round's DRIVER planning
    * cost balloons — vs 5 rounds, no tail, with full passes; the
    * frontier-restricted pointer-jump also skips shortcuts, hence the
    * extra round). LpFrontierSpec holds the two paths to identical
    * fixed points.
    *
    * `shareKey` = (corpus dir, entry name): the prepared edges are
    * built once per (session, corpus) in [[graft.CorpusState]] and
    * reused by every consumer naming the same entry — the banded
    * candidate pipeline is the dominant cost of every LP consumer, and
    * dd_embed_cluster / dd_semdedup consume the IDENTICAL edge set.
    */
  private[graft] def labelPropagate(op: String,
                                    pairs: => DataFrame,
                                    nodes: DataFrame,
                                    shareKey: Option[(String, String)] = None,
                                    frontier: Boolean = true)
      : DataFrame = {
    // The edge list is localCheckpoint'd (eager), not cached: every round
    // references it, and a checkpoint both materializes the (possibly
    // expensive) pair pipeline exactly once AND collapses its logical
    // plan — often a large banded-join tree — to a leaf, so per-round
    // Catalyst work doesn't re-traverse it.
    // The PAIR list is checkpointed BEFORE the symmetric closure: a
    // union of the pipeline with its own column swap embeds the banded
    // join tree twice, and exchange reuse only dedupes the subtrees
    // below the last shuffle — the top join + verify stages ran once
    // per branch (measured at sf0.1: the dd_cluster edge phase carried
    // ~50 of its 55 jobs). Checkpointing first runs the pipeline once;
    // the closure is then two narrow scans of the materialized RDD,
    // cheap enough to leave unmaterialized in the per-round plan.
    val session = nodes.sparkSession
    import session.implicits._
    // AQE is scoped OFF for the edge materialization AND the per-round
    // jobs (and restored after the loop, before the singleton rejoin,
    // where its runtime broadcast decision IS wanted). Inside the loop
    // AQE buys nothing — every round is the same fixed plan over
    // LogicalRDD leaves whose sizes AQE can't estimate better than the
    // planner — but it costs one Spark JOB PER QUERY STAGE: each
    // round's checkpoint ran as 5-6 stage-materialization jobs instead
    // of 1, and the LP consumers (dd_embed_cluster 140, dd_semdedup
    // 143 jobs/run) paid a per-job scheduling floor on every one of
    // them under host contention. The same arithmetic applies to the
    // edge checkpoint: the banded pair pipelines ran as 12-19
    // stage-materialization jobs under AQE for no plan benefit (their
    // join sides are derived frames the static planner shapes
    // identically — measured at sf0.1: edge-phase wall unchanged,
    // dd_semdedup 51 -> 20 jobs and dd_cluster 33 -> 13 once the edge
    // phase joined the AQE-off scope). What the edge phase gives up is
    // AQE's skew-join splitting during pair generation; the banded
    // pipelines are built so that loss is contained — candidate joins
    // are bucket-bounded by banding, containment probing is
    // rarest-first, and the nbrMin aggregate partially aggregates
    // map-side, so a hot key skews no single reducer.
    // NOTE: the conf flip is session-global for its duration — safe
    // for the sequential Verify/Bench harnesses; a concurrent query
    // on the same session would silently lose AQE until the finally.
    val shufKey = "spark.sql.shuffle.partitions"
    val shufWas = session.conf.get(shufKey)
    // the body sets the loop's own shuffle partitions; the scope's
    // shufWas entry restores them
    def withLoopConf[T](body: => T): T =
      withConf(session, "spark.sql.adaptive.enabled" -> "false",
        shufKey -> shufWas)(body)
    var converged = false
    var iter = 0
    def prepEdges(): LpEdges =
      prepLpEdges(session, pairs, defaultP = shufWas.toInt)
    def runLoop(): DataFrame = {
      // Shared edge pipelines are prepared once per (session, key) and
      // reused by every consumer; the loop conf (shuffle partitions)
      // is re-applied on a registry hit because withLoopConf restores
      // it after every call.
      val LpEdges(edgesBoth, _, loopP) = shareKey match {
        case Some((dir, name)) =>
          CorpusState.getOrBuild(session, dir, name)(prepEdges())
        case None    => prepEdges()
      }
      session.conf.set(shufKey, loopP.toString)
      // Only nodes incident to >=1 edge can ever change label, so the
      // loop runs on the pair graph alone — at corpus scale that's a
      // tiny fraction of the table (near-dups are rare), so every
      // per-round shuffle carries O(edge nodes), not O(corpus).
      // Singletons rejoin once, after the fixed point.
      var labels = edgesBoth
        .select(col("src").as("doc_id"))
        .distinct()
        .select(col("doc_id"), col("doc_id").as("cluster_id"))
      // One propagate+shortcut pass over a (doc_id, prev, cluster_id)
      // frame: each node takes the min of its own label, its neighbors'
      // labels (one edge hop), and its label's label (pointer jumping —
      // label(v) is always a node of the same component, since labels
      // only ever point within the component and only ever decrease, so
      // the extra hop changes nothing about the fixed point but lets the
      // component minimum travel two label-links per pass). `prev` (the
      // round-start label, for the convergence tap) rides along
      // untouched.
      //
      // `frontier` (None = full pass) is SEMI-NAIVE evaluation: labels
      // are monotone non-increasing, so once u has incorporated
      // neighbor w's label, w contributes nothing new until w CHANGES —
      // only last pass's changed nodes (with their new labels) can
      // lower anyone this pass. Round 0 is a full pass (everyone
      // incorporates every neighbor's initial label); after that, each
      // change lands in the next pass's frontier, so at changed == 0
      // every node has seen every neighbor's final label — labels are
      // constant across every edge, i.e. exactly the component minimum.
      // The pointer-jump hop restricted to the frontier may skip a
      // shortcut a full pass would take (label(v)'s label changed
      // before v adopted label(v)); that only costs rounds, never the
      // fixed point — the edge part alone converges, the hop is an
      // accelerator. What the frontier buys at scale: the per-round
      // neighbor join probes O(edges incident to changed nodes) and the
      // nbr_min aggregate shuffles only those rows, so tail rounds
      // (changed counts 28 -> 7 -> 2 on the sf0.1 fixture, and the
      // same long tail on any chain-heavy corpus) stop paying the full
      // O(E) join+aggregate that dominated them.
      def mkFrontier(src: DataFrame): DataFrame = src
        .filter(col("prev") =!= col("cluster_id"))
        .select(col("doc_id").as("f_id"), col("cluster_id").as("f_lab"))
      def onePass(cur: DataFrame, frontier: Option[DataFrame]): DataFrame = {
        val contrib = frontier match {
          case Some(f) => edgesBoth
            .join(f, col("dst") === col("f_id"))
            .select(col("src"), col("f_lab").as("cluster_id"))
          case None => edgesBoth
            .join(cur, edgesBoth("dst") === cur("doc_id"))
            .select(col("src"), col("cluster_id"))
        }
        val nbrMin = contrib
          .groupBy(col("src"))
          .agg(min(col("cluster_id")).as("nbr_min"))
        val hop = frontier match {
          case Some(f) => f.select(col("f_id").as("h_id"),
            col("f_lab").as("hop2"))
          case None => cur.select(col("doc_id").as("h_id"),
            col("cluster_id").as("hop2"))
        }
        cur
          .join(nbrMin, cur("doc_id") === nbrMin("src"), "left")
          .join(hop, cur("cluster_id") === hop("h_id"), "left")
          .select(cur("doc_id"), cur("prev"),
            least(
              least(col("cluster_id"),
                coalesce(col("nbr_min"), col("cluster_id"))),
              coalesce(col("hop2"), col("cluster_id"))).as("cluster_id"))
      }
      var lastStep: DataFrame = null
      while (!converged && iter < 50) {
      // ONE pass for round 0, TWO composed passes per round after
      // (LpPassesPerRound): composing passes makes the effective reach
      // per round two edge hops with two label-squarings interleaved,
      // so label depth on chains more than halves per round — the
      // compounding argument of Kiveris et al.'s MapReduce CC family
      // (large-star/small-star), realized by pass composition instead
      // of edge rewriting (edge squaring can blow up |E| on hubs;
      // composing passes never grows the edge list). Measured at sf0.1
      // on the embed-LSH graph: 9 rounds -> 5, same fixed point.
      // The trade: pass B references pass A's unmaterialized tree
      // three times (nbrMin, hop, main), and only the exchanges below
      // survive ReuseExchange, so a compounded round costs roughly
      // double — right when the per-job scheduling floor dominates
      // (the contended regime this bench lives in, where halving the
      // barrier count wins outright), wrong for round 0, which does
      // the bulk of the propagation over the full label set and where
      // the bushy near-dup components (diameter 2-3) finish without
      // ever needing reach (shallow graphs: dd_cluster compounded
      // round 0 cost +5 CPU-s at sf0.1 and saved nothing). Hence
      // adaptive: round 0 single, chain-tail rounds compounded.
      // One pass per round (hop-per-round everywhere) suits quiet-box
      // wall runs; deeper than two grows the duplicated subtree 3x per
      // pass for one fewer barrier — measured slower everywhere.
      val seeded = labels.select(col("doc_id"),
        col("cluster_id").as("prev"), col("cluster_id"))
      val passes = if (iter == 0) 1 else LpPassesPerRound
      // Round 0 and `frontier = false` calls run full passes; later
      // rounds run semi-naive, seeding pass 1's frontier
      // from the previous round's checkpointed step (prev there is
      // that round's start label, so the filter is changed-during-
      // round — a superset of changed-in-last-pass, which is all
      // soundness needs) and pass 2's from pass 1's unmaterialized
      // output (changed-since-round-start = changed-in-pass-1).
      var stepPlan = seeded
      var front: Option[DataFrame] =
        if (iter == 0 || !frontier) None else Some(mkFrontier(lastStep))
      for (_ <- 1 to passes) {
        stepPlan = onePass(stepPlan, front)
        if (front.isDefined) front = Some(mkFrontier(stepPlan))
      }
      // localCheckpoint EVERY round (eager). This is lineage control, not
      // caching: step N's logical plan embeds TWO copies of step N-1's
      // (the nbrMin side and the join side), so without truncation the
      // analyzed tree — and driver-side planning cost — DOUBLES per round
      // (measured: the round-3 executed plan string was 111 MB and rounds
      // slowed 1.5 -> 3 -> 8 -> 17 s on constant-size data). Caching does
      // not help: InMemoryRelation substitution happens at planning, but
      // the analyzed tree is still walked in full each round. Checkpointing
      // collapses every round to a LogicalRDD leaf — the same reason
      // GraphFrames' connectedComponents checkpoints every few iterations.
      // Old round RDDs are reclaimed by the ContextCleaner once
      // unreferenced.
      //
      // Convergence piggybacks on the SAME job: a mapPartitions tap
      // counts changed labels into an accumulator while the checkpoint
      // materializes, so each round is one Spark job, not two (the
      // separate count() job roughly doubled wall time at sf0.1, where
      // the contended-box floor is ~1-2 s per job regardless of data).
      // Task retries can only over-count — rows that DID change counted
      // twice — never under-count, so `changed == 0` stays exact: a
      // benign extra round in the worst case, and only on retry. The
      // accumulator is named, so `graft.Probe stages` prints each
      // round's changed count on the line of the stage that ran it.
      val acc = session.sparkContext.longAccumulator(s"$op-lp-changed-$iter")
      val tapped = stepPlan.as[(Long, Long, Long)]
        .mapPartitions { it =>
          it.map { r => if (r._2 != r._3) acc.add(1L); r }
        }
        .toDF("doc_id", "prev", "cluster_id")
      val step = tapped.truncated()
      val changed = acc.value
      lastStep = step
      labels = step.drop("prev")
      converged = changed == 0
      iter += 1
      }
      labels
    }
    val labels = withLoopConf(runLoop())
    // silent truncation would hand a keep-one-per-cluster pipeline
    // partially-merged groups; a >50-hop min-label chain means the
    // corpus isn't the shallow near-dup graph this operator is for
    if (!converged) throw new IllegalStateException(
      s"$op: not converged after $iter rounds — component " +
        "diameter exceeds the cap")
    // Singletons (no edge) are their own cluster: one narrow left join of
    // the full node table against the converged labels. No broadcast hint:
    // the label set is data-dependent (ALL edge-incident nodes — on a
    // high-near-dup web corpus that can be a large fraction of the
    // table, past the 8 GB broadcast ceiling), so the join strategy is
    // left to the planner — AQE sees the actual checkpointed size at
    // runtime and picks broadcast exactly when it is safe.
    // Returned UNSORTED (callers that dump add their own orderBy): a sort
    // here would sit inside every composition's lineage, and the range
    // partitioner's sampling pass re-executes the input pipeline.
    nodes
      .select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .cache()
  }

  /** dd_cluster's edge set with the EXACT-DUPLICATE bomb defused. On a
    * web-scale corpus, k byte-identical copies of one page (mirrors,
    * boilerplate) share every minhash band key, so the banded
    * candidate join emits k²/2 pairs — all of which verify at
    * jaccard 1 and enter the edge set. That quadratic blowup is the
    * classic production failure of minhash-LSH, and no AQE skew split
    * fixes it (the pairs are real output, not reducer imbalance).
    * Components don't need the clique: collapse identical texts to
    * their min-doc_id REPRESENTATIVE (one map-side-combinable groupBy
    * on md5(text) — never a window, whose single-partition-per-key
    * shuffle carries the same bomb), band only the representatives,
    * and connect members by k-1 STAR edges. Exactness, not heuristic:
    * identical text ⟹ identical shingle set ⟹ jaccard 1 ≥ 0.6, so
    * every star edge is a true edge; and a member's sig/hs equal its
    * rep's, so any banded-verified edge the member would have carried
    * is carried by its rep — the component partition (hence the
    * min-label assignment) is bit-identical to the uncollapsed graph.
    * Empty-shingle docs are EXCLUDED from collapse groups (no star
    * edges): two identical too-short texts share md5 but their
    * jaccard is 0/0 = never ≥ 0.6, so they must stay singletons —
    * same reason the band guard keeps them off the band side.
    */
  private[graft] def ddClusterEdges(s: SparkSession, dir: String): DataFrame =
    // COMPOSED from the jaccard family's shared relations (r21): every
    // dd_cluster call used to re-run the banded self-join + verify the
    // registry had already materialized for dd_jaccard /
    // dd_decontaminate / dd_source_overlap (~9 CPU-s per call at sf0.1)
    BandedStore.edges(PairFamily.Jaccard, s, dir)

  private def ddCluster(s: SparkSession, dir: String): DataFrame =
    labelPropagate("dd_cluster",
      ddClusterEdges(s, dir),
      table(s, dir, "documents").select("doc_id"),
      // shared LP edge structure: the closure/repartition of the (now
      // registry-served) pair table is itself materialized once per
      // (session, corpus) — the dd_embed_cluster discipline
      shareKey = Some(dir -> "dd_cluster_edges"))
      .orderBy(col("doc_id"))

  // -- dd_cluster_incremental: fold a NEW batch into EXISTING clusters --------
  // The 100 TB companion to dd_cluster: production clustering is not
  // re-run over the whole corpus per ingest — the previous run's
  // (doc_id, cluster_id) assignment is stored, and an increment only
  // pays for edges that TOUCH the new batch (bands(new) probed against
  // bands(all): O(|new| band keys) join work, never a rebuild of the
  // old corpus's edge set). Supernode contraction makes that exact,
  // not approximate: each existing cluster is a connected component of
  // the old-old edge graph, so contracting it to one node preserves
  // the full graph's components 1-1 (old-old edges never leave a
  // supernode by definition; every new-touching edge is added
  // explicitly), and because a cluster id is the MIN doc_id of its
  // members, min-label propagation over the contracted graph — old
  // cluster ids plus new doc ids — converges to the global component
  // minimum. The result is therefore BIT-IDENTICAL to batch
  // re-clustering of the full corpus, which is exactly what the
  // oracle states (the same all-pairs recursive-closure SQL as
  // dd_cluster); new edges can and do MERGE old clusters — the
  // contracted LP handles that case, an assign-only shortcut would
  // not. At fixture scale the "stored prior assignment" is computed
  // in-query by a first LP over the old-old edges (the measured query
  // honestly carries both phases); the contracted merge LP runs over
  // |clusters| + |new| nodes, the part that stays small at any corpus
  // size. Split convention shared with dd_incremental: sources srcNN
  // with NN >= 10 are the new batch.
  //
  // SCALE NOTE (exact-duplicate bombs): this path carries a PER-SIDE
  // representative collapse (the [[ddClusterEdges]] guard, split by
  // the batch boundary): old docs collapse among old, new among new,
  // each group keyed by its shingle set (md5 of the sorted hash
  // array), members connect to their side's min-doc_id representative
  // by k-1 star edges, and only representatives are banded — so a
  // bombed increment (k identical new docs) contributes k-1 edges
  // plus ONE rep-rep crossing edge per matching old group, never the
  // k²/2 clique. Collapsing ACROSS the split would be wrong in a
  // subtler way: a new-side representative standing in for old
  // members would carry old-old connectivity, changing which merges
  // the phase-1 "stored prior" sees (final components stay identical,
  // but the prior-assignment stand-in would diverge from a real
  // stored run). Exactness per side is [[ddClusterEdges]]' argument
  // verbatim — identical hs ⟹ jaccard 1 star edges are true edges,
  // and a member's banding equals its rep's, so every banded edge a
  // member would carry (including crossing edges to the OTHER side's
  // reps) is carried by its rep; the component partition, hence the
  // phase split and the min-label assignment, is bit-identical to the
  // uncollapsed graph's.
  private def ddClusterIncremental(s: SparkSession, dir: String): DataFrame = {
    val pairsAll = ddClusterIncrementalEdges(s, dir)
    val docs = incrementalDocFlags(s, dir)
    // phase 1 — the stored prior assignment (stand-in): LP over the
    // old corpus's own edges. Corpus-deterministic end to end, so the
    // CONVERGED ASSIGNMENT is registry-shared per (session, corpus)
    // (r22 — r21 shared only the closure structure and still re-ran
    // the rounds per call); the merge phase's contracted edges depend
    // on this phase's output and stay per-call.
    val lblA = CorpusState.getOrBuild(s, dir, "cinc_prior_lbl") {
      labelPropagate("dd_cluster_incremental#prior",
        pairsAll.filter("NOT a_new AND NOT b_new")
          .select("doc_a", "doc_b"),
        docs.filter("NOT is_new").select("doc_id"),
        shareKey = Some(dir -> "cinc_prior_edges"))
        .truncated()
    }
    // phase 2 — the increment: only edges touching the new batch
    contractedMerge("dd_cluster_incremental#merge", lblA,
      pairsAll.filter("a_new OR b_new").select("doc_a", "doc_b"),
      docs.filter("is_new").select("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** The split flag shared by the incremental cluster query's phases
    * (srcNN with NN >= 10 is the new batch — the family's split
    * convention).
    */
  private def incrementalDocFlags(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id",
        "cast(substring(source, 4) as int) >= 10 AS is_new")

  /** dd_cluster_incremental's side-tagged edge set (doc_a, doc_b,
    * a_new, b_new), duplicate-bomb-guarded per side — exposed so
    * DupBombGuardSpec can pin the linearity on a bombed increment.
    *
    * COMPOSED from the jaccard family's shared pair relations (r21).
    * Before, this method re-ran the full banded pipeline with an
    * is_new tag riding along (~15 CPU-s per call at sf0.1 — the
    * dominant stage of the query's profile). But the side-tagged edge
    * set is exactly derivable from the GLOBAL collapse relations,
    * because both banding and the jaccard verify are functions of the
    * shingle set, i.e. constant on each hs-equality class:
    *
    *   - per-side collapse groups = the global classes split by
    *     is_new, each with its side-min doc_id as side rep (the same
    *     empty-shingle carve-out — docs outside the global membership
    *     get no stars and never band);
    *   - a pair of side reps is a banded CANDIDATE iff their classes
    *     share a band key iff the global reps do (identical sigs);
    *     it VERIFIES iff the class-level jaccard >= 0.6 iff the
    *     global rep pair is in repVer (cross-class), or the classes
    *     are equal (jaccard 1 — the one same-class crossing edge
    *     between the two sides' reps);
    *   - star edges are the per-side member fan-in, as before.
    *
    * Row-for-row the r16 inline pipeline's output (DupBombGuardSpec
    * re-pins the bombed-increment linearity on this form), at the
    * cost of a few joins over the registry's checkpointed frames plus
    * one narrow documents scan for the flags — the banded corpus
    * pass is shared with the rest of the jaccard family instead of
    * rebuilt per call (guide §2.4).
    */
  private[graft] def ddClusterIncrementalEdges(s: SparkSession,
                                               dir: String): DataFrame = {
    val rel = BandedStore.relations(PairFamily.Jaccard, s, dir)
    val flags = incrementalDocFlags(s, dir)
    // Scale-adaptive derivation width (r22; was a session-global
    // spark.sql.shuffle.partitions=4 pin — right at sf0.1 where these
    // are sub-5k-row joins drowning in 32-task-wave floors, wrong at
    // 100 TB where grp × documents is corpus-proportional, and a
    // non-atomic conf mutation besides). Explicit repartitions at a
    // count-derived width k seed every downstream exchange: with AQE
    // off, joins and aggregates keyed on (a subset of) an existing
    // hash partitioning reuse it, and exchanges inserted to co-locate
    // the other side match its partition count — so the whole
    // derivation runs at k, no conf touched, and k grows with the
    // corpus (repPartitions: ~256k rows/partition, capped at the
    // session's shuffle parallelism).
    val k = repPartitions(s, rel.nGrp)
    // (doc_id, is_new, rep=global class rep, side_rep)
    val grpFlags = rel.grp.repartition(k, col("doc_id"))
      .join(flags.repartition(k, col("doc_id")), "doc_id")
      .repartition(k, col("rep"))
    val sideGrp = grpFlags
      .groupBy(col("rep"), col("is_new"))
      .agg(min(col("doc_id")).as("side_rep"))
    val mem = grpFlags.join(sideGrp, Seq("rep", "is_new"))
    val stars = mem
      .where(col("doc_id") =!= col("side_rep"))
      .select(col("side_rep").as("doc_a"), col("doc_id").as("doc_b"),
        col("is_new").as("a_new"), col("is_new").as("b_new"))
    // the same-class crossing edge: classes present on both sides
    // contribute exactly one rep-rep edge (jaccard 1 by identity)
    val sameClass = sideGrp
      .select(col("rep"), col("side_rep").as("sa"), col("is_new").as("na"))
      .join(sideGrp
        .select(col("rep"), col("side_rep").as("sb"),
          col("is_new").as("nb")), "rep")
      .where(col("sa") < col("sb"))
      .select(col("sa").as("doc_a"), col("sb").as("doc_b"),
        col("na").as("a_new"), col("nb").as("b_new"))
    // cross-class verified rep pairs expand to every side-rep pair
    // (<= 2x2 per class pair), each carrying the class-level verify
    val crossClass = rel.repVer
      .join(sideGrp.select(col("rep").as("rep_a"),
        col("side_rep").as("xa"), col("is_new").as("xna")), "rep_a")
      .join(sideGrp.select(col("rep").as("rep_b"),
        col("side_rep").as("xb"), col("is_new").as("xnb")), "rep_b")
      .selectExpr("least(xa, xb) AS doc_a", "greatest(xa, xb) AS doc_b",
        "CASE WHEN xa < xb THEN xna ELSE xnb END AS a_new",
        "CASE WHEN xa < xb THEN xnb ELSE xna END AS b_new")
    // one eager checkpoint, AQE scoped off (the prepLpEdges
    // discipline — AQE-on materialization was measured here in r22 at
    // +7 stage-materialization jobs and +1.5 s wall for flat CPU):
    // both phases filter this frame, and the checkpoint keeps their
    // plans rooted at a leaf instead of re-running the derivation
    // joins per phase. The derivation's width comes from the explicit
    // k repartitions above, not from a conf pin.
    withAqeOff(s) {
      crossClass.unionAll(sameClass).unionAll(stars).truncated()
    }
  }

  /** The contracted-merge phase shared by the incremental cluster
    * operators (dd_cluster_incremental, dd_embed_cluster_incremental):
    * rewrite each increment edge endpoint to its prior cluster id
    * (identity for new nodes), drop self-loops, run min-label
    * propagation over prior cluster ids + new node ids, and expand —
    * old nodes route through their supernode's merged label, new
    * nodes carry their own. See dd_cluster_incremental's component
    * argument for why this is bit-identical to batch re-clustering.
    * `lblA` is the prior (doc_id, cluster_id) assignment; `newNodes`
    * is one `doc_id` column of the increment's nodes.
    */
  private[graft] def contractedMerge(op: String, lblA: DataFrame,
                              newEdges: DataFrame,
                              newNodes: DataFrame): DataFrame = {
    val contracted = newEdges
      .join(lblA.toDF("doc_a", "ca"), Seq("doc_a"), "left")
      .join(lblA.toDF("doc_b", "cb"), Seq("doc_b"), "left")
      .selectExpr("coalesce(ca, doc_a) AS pa", "coalesce(cb, doc_b) AS pb")
      .where("pa <> pb")
      .selectExpr("least(pa, pb) AS doc_a", "greatest(pa, pb) AS doc_b")
      .distinct()
    val contractedNodes = lblA
      .select(col("cluster_id").as("doc_id")).distinct()
      .union(newNodes)
    // full passes, not semi-naive: see the frontier param's rationale
    val lblC = labelPropagate(op, contracted, contractedNodes,
      frontier = false)
    lblA.toDF("doc_id", "ca")
      .join(lblC.toDF("ca", "cluster_id"), Seq("ca"))
      .select("doc_id", "cluster_id")
      .union(newNodes.join(lblC, Seq("doc_id"))
        .select("doc_id", "cluster_id"))
  }

  /** The all-pairs recursive-closure clustering oracle, over the docs
    * selected by `docsWhere` ("" = whole corpus) — shared by dd_cluster,
    * both incremental variants (contraction is bit-identical to batch
    * re-clustering), and the store build's old-half gate.
    */
  private def ddClusterSqlFor(docsWhere: String): String = {
    val allPairsEdges =
      s"""SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM docs a JOIN docs b ON a.doc_id <> b.doc_id
         |  WHERE least(len(a.hs), len(b.hs)) * 10
         |        >= greatest(len(a.hs), len(b.hs)) * 6
         |    AND round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |      / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6)
         |      >= 0.6""".stripMargin
    s"""WITH RECURSIVE docs AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(list_transform(grams,
       |      g -> ${duckH64("g")}))) AS hs
       |  FROM (
       |    SELECT doc_id, $duckGrams AS grams FROM (
       |      SELECT doc_id, string_split(text, ' ') AS toks
       |      FROM documents$docsWhere))),
       |edges AS ($allPairsEdges),
       |r(doc, node) AS (
       |  SELECT doc_id, doc_id FROM docs
       |  UNION
       |  SELECT r.doc, e.dst FROM r JOIN edges e ON e.src = r.node)
       |SELECT doc AS doc_id, MIN(node) AS cluster_id
       |FROM r GROUP BY doc
       |ORDER BY doc_id""".stripMargin
  }

  private val ddClusterSql = ddClusterSqlFor("")

  /** The old-half split shared by store build and fold (the same
    * convention as dd_incremental / dd_cluster_incremental, negated).
    * Exposed to the streaming replay gates (st_store_neardup_replay
    * feeds exactly the non-matching half).
    */
  private[graft] val oldPred = "cast(substring(source, 4) as int) < 10"

  /** DuckDB restatement for st_store_neardup_replay: the INDEPENDENT
    * all-pairs old-new spec (no banding — the hash-compare therefore
    * verifies the stream's banded recall against the exact spec, the
    * same role [[ddJaccardSql]] plays for the batch family). An
    * empty-shingle doc matches nothing in both dialects (Jaccard
    * 0/len = 0 or 0/0 = NULL, never >= 0.6 — ShortDocGuardSpec).
    */
  private[graft] val duckStoreNearDupSql =
    s"""WITH docs AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS INT) < 10 AS is_old,
       |    list_sort(list_distinct(list_transform(grams,
       |      g -> ${duckH64("g")}))) AS hs
       |  FROM (
       |    SELECT doc_id, source, $duckGrams AS grams FROM (
       |      SELECT doc_id, source, string_split(text, ' ') AS toks
       |      FROM documents)))
       |SELECT n.doc_id AS doc_id, o.doc_id AS owner_id
       |FROM docs n JOIN docs o ON NOT n.is_old AND o.is_old
       |WHERE least(len(n.hs), len(o.hs)) * 10
       |      >= greatest(len(n.hs), len(o.hs)) * 6
       |  AND round(CAST(len(list_intersect(n.hs, o.hs)) AS DOUBLE)
       |    / (len(n.hs) + len(o.hs) - len(list_intersect(n.hs, o.hs))), 6)
       |    >= 0.6
       |ORDER BY 1, 2""".stripMargin

  /** The store's assignment relation as (idCol, cluster_id), chain-
    * aware with LAST-WRITER-WINS per id: a DELTA generation's
    * assignment holds only the rows its fold CHANGED (new docs plus
    * old docs relabeled through new-batch bridges — the global-state
    * part that makes cluster/embed deltas harder than phash/ivfpq's
    * append-only relations), so the served assignment is the newest
    * generation's row per id over the _PARENT chain. One aggregation
    * (min_by on chain depth) at serve time — EXCHANGE-FREE through the
    * aligned chain table when every generation shares the id-bucketed
    * layout (StoreFiles.readChainAligned; the chain's depth partition
    * column feeds the min_by directly), an id-hashed shuffle bounded
    * by chain length only on mixed-layout fallbacks; identity (a
    * plain read) for self-contained generations.
    */
  private[graft] def storeAssignment(s: SparkSession, store: String,
                                     idCol: String): DataFrame = {
    val gens = StoreFiles.chainPaths(store) match {
      case Left(e)  => throw new IllegalStateException(e)
      case Right(g) => g
    }
    if (gens.size == 1)
      StoreFiles.readRel(s, s"${gens.head}/assignment")
        .toDF(idCol, "cluster_id")
    else {
      // aligned chain table when the layouts match (the id-bucketed
      // scan makes the min_by agg exchange-free at any depth);
      // per-generation union otherwise
      val chained = StoreFiles.readChainAligned(
          s, gens.map(g => s"$g/assignment"), Some("__depth"))
        .map(_.toDF(idCol, "cluster_id", "__depth"))
        .getOrElse(gens.zipWithIndex.map { case (g, depth) =>
          StoreFiles.readRel(s, s"$g/assignment").toDF(idCol, "cluster_id")
            .withColumn("__depth", lit(depth))
        }.reduce(_ unionAll _))
      chained.groupBy(idCol)
        .agg(min_by(col("cluster_id"), col("__depth")).as("cluster_id"))
    }
  }

  /** The store's membership relation as (idCol, rep) — identity over
    * the banded ids when the generation predates the rep-collapsed
    * layout (no grp/ subdir): bands are then member-level, so every
    * banded doc is its own representative and the expansion is a
    * no-op by construction.
    */
  private[graft] def storeGrp(s: SparkSession, store: String,
                              idCol: String): DataFrame = {
    // per chain member (identity for self-contained generations):
    // real membership where grp/ landed, identity-from-bands for
    // pre-layout generations (member-level bands — every banded id
    // is its own representative; first bands column is the id in
    // every store kind)
    val gens = StoreFiles.chainPaths(store) match {
      case Left(e)  => throw new IllegalStateException(e)
      case Right(g) => g
    }
    val allGrp = gens.forall(g => java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(g, "grp")))
    val aligned =
      if (allGrp)
        StoreFiles.readChainAligned(s, gens.map(g => s"$g/grp"), None)
          .map(_.toDF(idCol, "rep"))
      else None // a pre-layout generation in the chain: per-gen fallback
    aligned.getOrElse(gens.map { gen =>
      if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(gen, "grp")))
        StoreFiles.readRel(s, s"$gen/grp").toDF(idCol, "rep")
      else {
        val bands = StoreFiles.readRel(s, s"$gen/bands")
        val id = bands.columns.head
        bands.selectExpr(id).distinct()
          .selectExpr(s"$id AS $idCol", s"$id AS rep")
      }
    }.reduce(_ union _))
  }

  /** The family's held-out eval stand-in (txt_decontaminate /
    * dd_decontaminate's deterministic slice), shared with the
    * streaming decontamination gate so the store pred and the oracle
    * slice cannot drift.
    */
  private[graft] val evalPred = "doc_id % 50 = 0"

  /** DuckDB restatement for st_decontaminate_replay: the INDEPENDENT
    * all-pairs corpus-vs-eval spec ([[duckStoreNearDupSql]] with the
    * eval slice as the stored side) — the same contamination pair set
    * dd_decontaminate aggregates, emitted pairwise as (doc_id,
    * owner_id = the leaked eval doc).
    */
  private[graft] val duckDecontaminateReplaySql =
    s"""WITH docs AS (
       |  SELECT doc_id, doc_id % 50 = 0 AS is_eval,
       |    list_sort(list_distinct(list_transform(grams,
       |      g -> ${duckH64("g")}))) AS hs
       |  FROM (
       |    SELECT doc_id, $duckGrams AS grams FROM (
       |      SELECT doc_id, string_split(text, ' ') AS toks
       |      FROM documents)))
       |SELECT n.doc_id AS doc_id, o.doc_id AS owner_id
       |FROM docs n JOIN docs o ON NOT n.is_eval AND o.is_eval
       |WHERE least(len(n.hs), len(o.hs)) * 10
       |      >= greatest(len(n.hs), len(o.hs)) * 6
       |  AND round(CAST(len(list_intersect(n.hs, o.hs)) AS DOUBLE)
       |    / (len(n.hs) + len(o.hs) - len(list_intersect(n.hs, o.hs))), 6)
       |    >= 0.6
       |ORDER BY 1, 2""".stripMargin

  // -- dd_cluster_store: persist the prior clustering, serve the LOADED copy --
  // Round-trips the assignment through the store and returns the
  // parquet-loaded copy — never the in-session frame that computed it —
  // so the gate pins the persist/load path against the independent
  // old-half recursive-closure oracle.
  private def ddClusterStore(s: SparkSession, dir: String): DataFrame = {
    val store = BandedStore.ensure(StoreKind.Cluster, s, dir)
    storeAssignment(s, store, "doc_id").orderBy(col("doc_id"))
  }

  // -- dd_cluster_fold_stored: fold the new batch into the stored clusters ----
  // Gated by the full-corpus oracle: the fold over store + new text
  // must be bit-identical to batch re-clustering of everything.
  private def ddClusterFoldStored(s: SparkSession, dir: String)
      : DataFrame =
    BandedStore.fold(StoreKind.Cluster, s, dir,
      BandedStore.ensure(StoreKind.Cluster, s, dir))

  // -- dd_embed_cluster: semantic near-dup components (SemDeDup shape) --------
  // Embedding-space clustering for semantic dedup: connected components
  // over the dd_embed_cosine_lsh candidate pairs (the banded RH-LSH scale
  // path, recall contract documented there), via the same edge-restricted
  // min-label propagation as dd_cluster. A keep-one-per-cluster pass over
  // this output is the SemDeDup-style curation step. The oracle re-derives
  // the banded edges independently and closes them with a recursive CTE,
  // so the component arithmetic is checked by a different algorithm —
  // but over the SAME (deterministic) banded candidate set, because on
  // this corpus banding recall at cos >= 0.4 is ~49% by design (the
  // pairs are the extreme tail of uniform noise — see the recall note at
  // dd_embed_cosine), so exact edges would differ by construction.
  // Candidate RECALL is gated separately and exactly by
  // dd_embed_cluster_exact below (exact edges, both engines) plus
  // DedupRecallSpec's refinement assertion (banded clusters partition-
  // refine exact clusters, which holds iff banded edges ⊆ exact edges).
  private def ddEmbedCluster(s: SparkSession, dir: String): DataFrame =
    labelPropagate("dd_embed_cluster",
      embedClusterEdges(s, dir),
      table(s, dir, "embeddings").select(col("vec_id").as("doc_id")),
      shareKey = Some(dir -> "embed_lsh"))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))

  // -- dd_embed_cluster_incremental: fold new vectors into existing clusters --
  // The semantic-dedup twin of dd_cluster_incremental (same supernode
  // contraction, same bit-identity argument — see that operator's
  // comment; the shared phase lives in contractedMerge). Split
  // convention: vec_ids are append-ordered, so the top half
  // (vec_id >= max/2 + 1) is the new batch — embeddings carry no
  // source column. The split only STRUCTURES the computation
  // (prior LP over old-old edges, contracted merge over
  // new-touching edges); the result is the full banded clustering
  // either way, which is exactly what the shared oracle states. At
  // corpus scale the prior LP is the stored assignment and the
  // increment pays bands(new) probing + a contracted LP over
  // |clusters| + |new| nodes.
  private def ddEmbedClusterIncremental(s: SparkSession, dir: String)
      : DataFrame = {
    // FOURTH consumer of the shared embed_lsh registry entry
    // (dd_embed_cluster diagnoses, dd_semdedup curates, dd_lp_edges
    // prices the cold build, this folds an increment): the increment
    // operates over the SAME banded edge set, so the engine
    // materializes it once per (session, corpus), not once per query.
    // Raw ordered pairs are recovered from the symmetric closure by
    // src < dst — exact because edgesBoth is pairs UNION swap(pairs)
    // with vec_a < vec_b by construction — a narrow scan of the
    // checkpointed blocks, not a second banded self-join.
    val edges = withAqeOff(s)(
      CorpusState.getOrBuild(s, dir, "embed_lsh")(
        prepLpEdges(s, embedClusterEdges(s, dir),
          defaultP = s.conf.get("spark.sql.shuffle.partitions").toInt)))
    val pairsAll = edges.edgesBoth.where(col("src") < col("dst"))
      .toDF("vec_a", "vec_b")
    val ids = table(s, dir, "embeddings").select("vec_id")
    // the ONE split convention (shared with the embed store and the
    // oracle's max//2+1 restatement) — this was an inline second copy
    val split = embedSplit(s, dir)
    // vec_a < vec_b by construction, so an edge is old-old iff its
    // MAX endpoint is old — the two filters partition the edge set
    // corpus-deterministic prior phase, assignment registry-shared
    // per (session, corpus) like dd_cluster_incremental's (r22)
    val lblA = CorpusState.getOrBuild(s, dir, "einc_prior_lbl") {
      labelPropagate("dd_embed_cluster_incremental#prior",
        pairsAll.filter(col("vec_b") < split).toDF("doc_a", "doc_b"),
        ids.filter(col("vec_id") < split).toDF("doc_id"),
        shareKey = Some(dir -> "einc_prior_edges"))
        .truncated()
    }
    contractedMerge("dd_embed_cluster_incremental#merge", lblA,
      pairsAll.filter(col("vec_b") >= split).toDF("doc_a", "doc_b"),
      ids.filter(col("vec_id") >= split).toDF("doc_id"))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Append-ordered split shared with dd_embed_cluster_incremental:
    * the top half of vec_ids is the new batch.
    */
  private[graft] def embedSplit(s: SparkSession, dir: String): Long = {
    val row = table(s, dir, "embeddings").agg(max("vec_id")).head
    // an empty table's max is NULL — name the problem instead of the
    // opaque NullPointerException getLong would throw
    require(!row.isNullAt(0),
      s"$dir/embeddings is empty — no vectors to split")
    row.getLong(0) / 2 + 1
  }

  /** [[evalPred]] over vec_id — one definition for the embed family's
    * eval slice, so the store build and the streaming feed cannot
    * drift (the text side's evalPred argument; the DuckDB oracles
    * state the same % 50 literally, next to the batch oracle's own).
    */
  private[graft] val evalVecPred = "vec_id % 50 = 0"

  /** DuckDB restatement for st_decontaminate_semantic_replay: the
    * corpus-vs-eval slice of the BANDED cosine pair table (the
    * dd_decontaminate_semantic convention — banding recall on the
    * noise fixture is ~49% by design, so the banded restatement IS
    * the spec; the stream's probe against the eval store's band index
    * computes exactly this slice because a non-eval vector
    * band-matches a stored eval vector iff the full self-join would
    * band the pair), emitted pairwise as (vec_id, owner_id = the
    * leaked eval vector). Lazy for the same init-order reason as
    * [[ddDecontaminateSemanticSql]].
    */
  private[graft] lazy val duckDecontaminateSemanticReplaySql =
    s"""WITH ${duckEmbedECte()},
       |bands AS ($duckEmbedBandSelects),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
       |p AS (
       |  SELECT vec_a, vec_b FROM (
       |    SELECT vec_a, vec_b, ${duckEmbedCos("a", "b")} AS cos_sim
       |    FROM cand JOIN e a ON a.vec_id = vec_a
       |              JOIN e b ON b.vec_id = vec_b)
       |  WHERE cos_sim >= 0.4)
       |SELECT d AS vec_id, ev AS owner_id FROM (
       |  SELECT vec_a AS d, vec_b AS ev FROM p
       |  UNION ALL SELECT vec_b AS d, vec_a AS ev FROM p)
       |WHERE d % 50 <> 0 AND ev % 50 = 0
       |ORDER BY 1, 2""".stripMargin

  // -- dd_embed_cluster_store: persist the old-half clustering, serve LOADED --
  private def ddEmbedClusterStore(s: SparkSession, dir: String)
      : DataFrame = {
    val store = BandedStore.ensure(StoreKind.Embed, s, dir)
    storeAssignment(s, store, "vec_id").orderBy(col("vec_id"))
  }

  // -- dd_embed_cluster_fold_stored: fold new vectors into the store ----------
  // Gated by the full-corpus banded oracle: the fold over store + new
  // vectors must be bit-identical to batch re-clustering of everything.
  private def ddEmbedClusterFoldStored(s: SparkSession, dir: String)
      : DataFrame =
    BandedStore.fold(StoreKind.Embed, s, dir,
      BandedStore.ensure(StoreKind.Embed, s, dir))

  /** Old-half restriction for the store oracle — the banded clustering
    * of the build's half alone, restated independently.
    */
  private val embedOldWhere =
    " WHERE vec_id < (SELECT max(vec_id) // 2 + 1 FROM embeddings)"

  private val ddEmbedClusterSql = {
    val bandSelects = duckEmbedBandSelects
    s"""${ddEmbedClusterCtes(bandSelects)}
       |SELECT v AS vec_id, MIN(node) AS cluster_id
       |FROM r GROUP BY v ORDER BY vec_id""".stripMargin
  }

  private val ddEmbedClusterStoreSql = {
    val bandSelects = duckEmbedBandSelects
    s"""${ddEmbedClusterCtes(bandSelects, embedOldWhere)}
       |SELECT v AS vec_id, MIN(node) AS cluster_id
       |FROM r GROUP BY v ORDER BY vec_id""".stripMargin
  }

  /** The shared banded-edge + recursive-closure CTE chain behind
    * dd_embed_cluster's oracle and dd_semdedup's (which adds the
    * per-cluster keeper selection on top). `withKw` lets dd_lp_edges
    * reuse the edge prefix without the recursive closure.
    */
  private def ddEmbedClusterCtes(bandSelects: String,
                                 embWhere: String = ""): String =
    s"""${ddEmbedEdgeCtes(bandSelects, "WITH RECURSIVE", embWhere)},
       |r(v, node) AS (
       |  SELECT vec_id, vec_id FROM embeddings$embWhere
       |  UNION
       |  SELECT r.v, e2.dst FROM r JOIN edges e2 ON e2.src = r.node)""".stripMargin

  /** The banded-edge CTE prefix alone: e (normed + bucketed vectors),
    * bands, cand (banded candidates), pairs (cosine-verified), edges
    * (symmetric closure) — the independent DuckDB restatement of
    * exactly what [[prepLpEdges]] materializes for the embed-LSH share
    * key.
    */
  private def ddEmbedEdgeCtes(bandSelects: String, withKw: String,
                              embWhere: String = ""): String =
    s"""$withKw ${duckEmbedECte(embWhere)},
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
       |pairs AS (
       |  SELECT vec_a, vec_b FROM (
       |    SELECT vec_a, vec_b,
       |      ${duckEmbedCos("a", "b")} AS cos_sim
       |    FROM cand JOIN e a ON a.vec_id = vec_a
       |              JOIN e b ON b.vec_id = vec_b)
       |  WHERE cos_sim >= 0.4),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |          UNION ALL SELECT vec_b, vec_a FROM pairs)""".stripMargin

  /** The embed e-CTE (normed + bucketed vectors) — ONE construction
    * for every embed-family oracle ([[ddEmbedEdgeCtes]],
    * [[duckEmbedBandsSql]], the cosine-LSH oracle), so a tuning
    * change to the plane family or n2 formulation cannot
    * desynchronize them.
    */
  private def duckEmbedECte(embWhere: String = ""): String =
    s"""e AS (
       |  SELECT vec_id, embedding,
       |    list_reduce(list_transform(range(1, len(embedding) + 1),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
       |      (x, y) -> x + y) AS n2,
       |    ${(0 until CosBands)
              .map(b => s"${cosBucket(cosPlaneDotD, b)} AS bkt_$b")
              .mkString(",\n    ")}
       |  FROM embeddings$embWhere)""".stripMargin

  /** The zero-norm-guarded band-side UNION ALL over the e-CTE — the
    * single definition behind every embed oracle's `bands` clause.
    */
  private def duckEmbedBandSelects: String =
    (0 until CosBands)
      .map(b => s"SELECT vec_id, $b AS band, bkt_$b AS bkt FROM e WHERE n2 > 0")
      .mkString(" UNION ALL ")

  /** e-CTE + guarded band rows as two WITH clauses (`e`, `emb_bands`)
    * — shared by the streaming store-dedup replay oracle
    * (st_store_dedup_replay) so stream and batch banding stay
    * provably identical, the same role [[duckBandRowsSql]] plays for
    * the MinHash stream.
    */
  private[graft] def duckEmbedBandsSql: String =
    s"""${duckEmbedECte()},
       |emb_bands AS ($duckEmbedBandSelects)""".stripMargin

  /** The rounded cosine between two e-CTE rows `$a`/`$b`, the exact
    * text of every embed oracle's verify — exposed for the streaming
    * store-dedup oracle.
    */
  private[graft] def duckEmbedCos(a: String, b: String): String =
    s"""round(list_reduce(list_transform(range(1, len($a.embedding) + 1),
       |    i -> CAST($a.embedding[i] AS DOUBLE)
       |         * CAST($b.embedding[i] AS DOUBLE)),
       |    (x, y) -> x + y) / sqrt($a.n2 * $b.n2), 6)""".stripMargin

  // -- dd_lp_edges: the shared embed-LSH edge materialization, COLD -----------
  // The bench line for the registry build dd_embed_cluster/dd_semdedup
  // amortize (VERDICT r15: once the edge frame was shared, those two
  // queries' numbers became warm-cache-only and the ~15 CPU-s cold
  // build vanished from every measured channel). Each call first
  // drops its own (session, corpus) entry — and only that one: the
  // other families' entries stay warm for the keys that run after it —
  // then rebuilds it through the same registry path + AQE-off scope
  // the consumers use, so the measured cost IS the cold banded
  // self-join + cosine verify + symmetric-closure checkpoint. Returns the materialized closure;
  // the oracle restates it independently (band CTEs + UNION ALL).
  // ORACLE SCOPE (r18): the oracle restates embedClusterEdges'
  // duplicate COLLAPSE too — identical vectors group under their
  // min-vec_id rep (GROUP BY the embedding value itself, the
  // engine-neutral form of the md5-rendering key; zero-norm
  // carve-out), only reps band, and the star edges' symmetric
  // closure joins the verified rep pairs' — so the row-for-row
  // equality holds on ANY corpus, including bombed ones
  // (DupBombGuardSpec pins it on the bomb fixture; linearity stays
  // that spec's gate).
  private def ddLpEdges(s: SparkSession, dir: String): DataFrame = {
    CorpusState.drop(s, dir, "embed_lsh")
    val edges = withAqeOff(s)(
      CorpusState.getOrBuild(s, dir, "embed_lsh")(
        prepLpEdges(s, embedClusterEdges(s, dir),
          defaultP = s.conf.get("spark.sql.shuffle.partitions").toInt)))
    edges.edgesBoth.orderBy(col("src"), col("dst"))
  }

  private val ddLpEdgesSql =
    s"""WITH ${duckEmbedECte()},
       |grp AS (
       |  SELECT k.vec_id, g.rep
       |  FROM (SELECT vec_id, embedding FROM e WHERE n2 > 0) k
       |  JOIN (SELECT embedding, MIN(vec_id) AS rep FROM e
       |        WHERE n2 > 0 GROUP BY embedding) g
       |  ON k.embedding = g.embedding),
       |bands AS (
       |  SELECT b.vec_id, b.band, b.bkt FROM ($duckEmbedBandSelects) b
       |  JOIN (SELECT DISTINCT rep FROM grp) r ON b.vec_id = r.rep),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
       |pairs AS (
       |  SELECT vec_a, vec_b FROM (
       |    SELECT vec_a, vec_b,
       |      ${duckEmbedCos("a", "b")} AS cos_sim
       |    FROM cand JOIN e a ON a.vec_id = vec_a
       |              JOIN e b ON b.vec_id = vec_b)
       |  WHERE cos_sim >= 0.4),
       |alledges AS (
       |  SELECT vec_a, vec_b FROM pairs
       |  UNION ALL
       |  SELECT rep AS vec_a, vec_id AS vec_b FROM grp
       |  WHERE vec_id <> rep),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM alledges
       |          UNION ALL SELECT vec_b, vec_a FROM alledges)
       |SELECT src, dst FROM edges ORDER BY src, dst""".stripMargin

  // -- dd_semdedup: the SemDeDup keep/drop action -----------------------------
  // Clustering is diagnosis; THIS is the curation action (Abbas et al.
  // 2023, SemDeDup): per semantic cluster keep ONE prototype — here the
  // max-L2-norm member (vec_id as tiebreak; n2 is the graft_dot left
  // fold, bit-identical in both engines, so the argmax cannot diverge) —
  // and report cluster size. Downstream, an anti-join of the corpus
  // against the non-keepers is the dedup'd training set. Shape: the LP
  // labels (edge-incident nodes only) join the norms once; keeper
  // selection is one cluster-partitioned window — nothing global.
  // Oracle: the same banded edges closed by a recursive CTE plus the
  // identical window, stated independently of label propagation.
  private def ddSemdedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Shares dd_embed_cluster's prepared edge frame (same shareKey):
    // semdedup is the curation ACTION over the same banded edge set the
    // clustering query diagnoses, so the engine materializes those
    // edges once per (session, corpus), not once per query.
    val labels = labelPropagate("dd_semdedup",
      embedClusterEdges(s, dir),
      table(s, dir, "embeddings").select(col("vec_id").as("doc_id")),
      shareKey = Some(dir -> "embed_lsh"))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    val norms = table(s, dir, "embeddings")
      .selectExpr("vec_id", "graft_dot(embedding, embedding) AS n2")
    val wC = Window.partitionBy("cluster_id")
    labels.join(norms, Seq("vec_id"))
      .withColumn("rk", row_number().over(
        wC.orderBy(col("n2").desc, col("vec_id"))))
      .withColumn("n_members", count(lit(1)).over(wC))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("vec_id").as("keep_id"),
        col("n_members"))
      .orderBy(col("cluster_id"))
  }

  private def ddSemdedupSql: String = {
    val bandSelects = duckEmbedBandSelects
    s"""${ddEmbedClusterCtes(bandSelects)},
       |lab AS (SELECT v AS vec_id, MIN(node) AS cluster_id
       |        FROM r GROUP BY v)
       |SELECT cluster_id, keep_id, n_members FROM (
       |  SELECT l.cluster_id, l.vec_id AS keep_id,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY e.n2 DESC, l.vec_id) AS rk,
       |    CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT)
       |      AS n_members
       |  FROM lab l JOIN e ON e.vec_id = l.vec_id)
       |WHERE rk = 1 ORDER BY cluster_id""".stripMargin
  }

  // -- dd_embed_cluster_exact: the exact-edge spec for dd_embed_cluster -------
  // Same min-label propagation, but over the EXACT all-pairs cosine
  // edges (dd_embed_cosine's quadratic spec — small-scale oracle role,
  // like sim_topk_brute for the ANN paths, NOT the 100 TB path). The
  // DuckDB oracle closes the same exact edge spec with a recursive CTE,
  // so this row gates candidate recall AND closure against formulations
  // independent of banding and of label propagation — the exactness
  // anchor the banded dd_embed_cluster is measured against in
  // DedupRecallSpec's refinement assertion.
  private def ddEmbedClusterExact(s: SparkSession, dir: String): DataFrame =
    labelPropagate("dd_embed_cluster_exact",
      ddEmbedExactPairs(s, dir).select("vec_a", "vec_b"),
      table(s, dir, "embeddings").select(col("vec_id").as("doc_id")),
      // shared LP edge structure per (session, corpus) — the r21
      // registry discipline; the quadratic exact-pair NLJ is the
      // oracle shape and need not re-run per call
      shareKey = Some(dir -> "dd_embed_cluster_exact_edges"))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"))

  private val ddEmbedClusterExactSql =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, embedding,
      |    list_reduce(list_transform(range(1, len(embedding) + 1),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      |      (x, y) -> x + y) AS n2
      |  FROM embeddings),
      |pairs AS (
      |  SELECT vec_a, vec_b FROM (
      |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |      round(list_reduce(list_transform(range(1, len(a.embedding) + 1),
      |          i -> CAST(a.embedding[i] AS DOUBLE)
      |               * CAST(b.embedding[i] AS DOUBLE)),
      |          (x, y) -> x + y) / sqrt(a.n2 * b.n2), 6) AS cos_sim
      |    FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |  WHERE cos_sim >= 0.4),
      |edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
      |          UNION ALL SELECT vec_b, vec_a FROM pairs),
      |r(v, node) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT r.v, e2.dst FROM r JOIN edges e2 ON e2.src = r.node)
      |SELECT v AS vec_id, MIN(node) AS cluster_id
      |FROM r GROUP BY v ORDER BY vec_id""".stripMargin

  // -- dd_curation_funnel: the end-to-end corpus-prep composition -------------
  // The pipeline a training-data user actually runs, as ONE declarative
  // query so Catalyst fuses the gates into a single pass over the scan:
  // exact dedup (keep the min doc_id per md5(text) group) -> quality
  // gate (>= 5 tokens, stopword ratio <= 0.5) -> repetition gate
  // (distinct-token ratio >= 0.3), reported as a per-language funnel
  // with surviving token mass. One window + one aggregation; every
  // ratio is a single IEEE division on exact integer counts, so the
  // DuckDB oracle states the identical funnel.
  private def ddCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents").createOrReplaceTempView("cf_docs")
    s.sql(
      """SELECT lang,
        |  COUNT(*) AS n_docs,
        |  cast(sum(CASE WHEN keep = 1 THEN 1 ELSE 0 END) as bigint)
        |    AS n_unique,
        |  cast(sum(CASE WHEN keep = 1 AND ok_quality AND ok_repetition
        |    THEN 1 ELSE 0 END) as bigint) AS n_curated,
        |  cast(sum(CASE WHEN keep = 1 AND ok_quality AND ok_repetition
        |    THEN n_tokens ELSE 0 END) as bigint) AS curated_tokens
        |FROM (
        |  SELECT lang, n_tokens,
        |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY h)
        |      THEN 1 ELSE 0 END AS keep,
        |    n_tokens >= 5 AND
        |      cast(n_stop as double) / n_tokens <= 0.5 AS ok_quality,
        |    cast(n_distinct as double) / n_tokens >= 0.3 AS ok_repetition
        |  FROM (
        |    SELECT lang, doc_id, md5(text) AS h,
        |      cast(size(toks) as bigint) AS n_tokens,
        |      cast(size(filter(toks, t -> t = 'the' OR t = 'a')) as bigint)
        |        AS n_stop,
        |      cast(size(array_distinct(toks)) as bigint) AS n_distinct
        |    FROM (SELECT lang, doc_id, text, split(text, ' ') AS toks
        |          FROM cf_docs)))
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private val ddCurationFunnelSql =
    """SELECT lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN keep = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unique,
      |  CAST(SUM(CASE WHEN keep = 1 AND ok_quality AND ok_repetition
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_curated,
      |  CAST(SUM(CASE WHEN keep = 1 AND ok_quality AND ok_repetition
      |    THEN n_tokens ELSE 0 END) AS BIGINT) AS curated_tokens
      |FROM (
      |  SELECT lang, n_tokens,
      |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY h)
      |      THEN 1 ELSE 0 END AS keep,
      |    n_tokens >= 5 AND
      |      CAST(n_stop AS DOUBLE) / n_tokens <= 0.5 AS ok_quality,
      |    CAST(n_distinct AS DOUBLE) / n_tokens >= 0.3 AS ok_repetition
      |  FROM (
      |    SELECT lang, doc_id, md5(text) AS h,
      |      len(toks) AS n_tokens,
      |      len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS n_stop,
      |      len(list_distinct(toks)) AS n_distinct
      |    FROM (SELECT lang, doc_id, text, string_split(text, ' ') AS toks
      |          FROM documents)))
      |GROUP BY lang ORDER BY lang""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "dd_exact" -> ddExact _,
      "dd_jaccard" -> ddJaccard _,
      "dd_decontaminate" -> ddDecontaminate _,
      "dd_decontaminate_semantic" -> ddDecontaminateSemantic _,
      "dd_containment" -> ddContainment _,
      "dd_minhash" -> ddMinhash _,
      "dd_minhash_lsh" -> ddMinhashLsh _,
      "dd_simhash" -> ddSimhash _,
      "dd_simhash_pairs" -> ddSimhashPairs _,
      "dd_simhash64" -> ddSimhash64 _,
      "dd_embed_cosine" -> ddEmbedCosineExact _,
      "dd_embed_cosine_lsh" -> ddEmbedCosineLsh _,
      "dd_cluster" -> ddCluster _,
      "dd_cluster_incremental" -> ddClusterIncremental _,
      "dd_containment_smallside" -> ddContainmentSmallside _,
      "dd_span" -> ddSpan _,
      "dd_incremental" -> ddIncremental _,
      "dd_incremental_bloom" -> ddIncrementalBloom _,
      "dd_threshold_sweep" -> ddThresholdSweep _,
      "dd_cluster_store" -> ddClusterStore _,
      "dd_cluster_fold_stored" -> ddClusterFoldStored _,
      "dd_semdedup" -> ddSemdedup _,
      "dd_embed_cluster" -> ddEmbedCluster _,
      "dd_embed_cluster_incremental" -> ddEmbedClusterIncremental _,
      "dd_embed_cluster_store" -> ddEmbedClusterStore _,
      "dd_embed_cluster_fold_stored" -> ddEmbedClusterFoldStored _,
      "dd_embed_cluster_exact" -> ddEmbedClusterExact _,
      "dd_curation_funnel" -> ddCurationFunnel _,
      "dd_source_overlap" -> ddSourceOverlap _,
      "dd_lp_edges" -> ddLpEdges _
    )

  override val oracles: Map[String, String] = Map(
    "dd_exact" -> ddExactSql,
    "dd_jaccard" -> ddJaccardSql,
    "dd_decontaminate" -> ddDecontaminateSql,
    "dd_decontaminate_semantic" -> ddDecontaminateSemanticSql,
    "dd_containment" -> ddContainmentSql,
    "dd_minhash" -> ddMinhashSql,
    "dd_minhash_lsh" -> ddMinhashLshSql,
    "dd_simhash" -> ddSimhashSql,
    "dd_simhash_pairs" -> ddSimhashPairsSql,
    "dd_simhash64" -> ddSimhash64Sql,
    "dd_embed_cosine" -> ddEmbedCosineExactSql,
    "dd_embed_cosine_lsh" -> ddEmbedCosineLshSql,
    "dd_cluster" -> ddClusterSql,
    // supernode contraction is bit-identical to full re-clustering
    // (see ddClusterIncremental's component argument)
    "dd_cluster_incremental" -> ddClusterSql,
    "dd_containment_smallside" -> ddContainmentSql,
    "dd_span" -> ddSpanSql,
    "dd_incremental" -> ddIncrementalSql,
    // the Bloom-gated variant is bit-identical by construction
    "dd_incremental_bloom" -> ddIncrementalSql,
    "dd_threshold_sweep" -> ddThresholdSweepSql,
    // the stored prior: the old-half restriction of the closure oracle
    "dd_cluster_store" ->
      ddClusterSqlFor(" WHERE CAST(substr(source, 4) AS INT) < 10"),
    // the fold is bit-identical to batch re-clustering of everything
    "dd_cluster_fold_stored" -> ddClusterSql,
    "dd_semdedup" -> ddSemdedupSql,
    "dd_embed_cluster" -> ddEmbedClusterSql,
    // contraction is bit-identical to the full banded clustering
    "dd_embed_cluster_incremental" -> ddEmbedClusterSql,
    // the stored prior: the old-half restriction of the banded oracle
    "dd_embed_cluster_store" -> ddEmbedClusterStoreSql,
    // the fold is bit-identical to batch re-clustering of everything
    "dd_embed_cluster_fold_stored" -> ddEmbedClusterSql,
    "dd_lp_edges" -> ddLpEdgesSql,
    "dd_embed_cluster_exact" -> ddEmbedClusterExactSql,
    "dd_curation_funnel" -> ddCurationFunnelSql,
    "dd_source_overlap" -> ddSourceOverlapSql
  )
}
