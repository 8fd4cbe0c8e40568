package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine._
import graft.QueryPack

/** One media item: opaque binary payload + typed metadata. The payload here
  * is the document's UTF-8 bytes standing in for an image/audio/video blob
  * (the real decode libraries are not in this container — see
  * [[Multimodal.fakeDecode]]); the schema, batching, and partitioning are
  * the real 100 TB plumbing.
  */
case class MediaItem(doc_id: Long, modality: String, n_bytes: Long,
                     payload: Array[Byte])

/** Fixed-width feature record produced by the (stubbed) decoder. */
case class MediaFeatures(doc_id: Long, modality: String, n_bytes: Long,
                         batch_size: Int, mean_byte: Double, max_byte: Int)

/** Multimodal-column operators: image/audio/video travel as opaque
  * `binary` columns with typed metadata, and decode / feature-extract /
  * frame-sample run as batched per-partition functions over them.
  *
  * The container has no media codecs, so the decode step is a
  * DETERMINISTIC FAKE (byte statistics / byte probes of the payload —
  * clearly marked below); everything around it — binary schema, metadata
  * struct, batch shape, partition-local execution, frame arithmetic — is
  * real and oracle-checked where SQL can express it.
  *
  * Scale design (100 TB of media):
  *  - payloads never shuffle: every operator here is a narrow map over
  *    the scan (feature extraction, probing, frame sampling) followed by
  *    an aggregation of SMALL derived values only;
  *  - `mm_decode_batch` decodes in fixed-size batches inside
  *    `mapPartitions` — the Scala analog of `mapInPandas` — so a real
  *    codec would amortize model/codec init per batch, not per row;
  *  - frame sampling emits (doc, frame_idx, hash), i.e. bytes stay in
  *    place and only 16-byte digests flow downstream.
  */
object Multimodal extends QueryPack {

  /** documents -> media view: opaque payload + metadata columns. */
  private[graft] def media(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .selectExpr("doc_id", "source AS modality",
        "cast(text AS binary) AS payload", "text", "n_chars")

  // -- mm_catalog: per-modality inventory over payload bytes ------------------
  private def mmCatalog(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n_items"),
        sum(octet_length(col("payload"))).as("total_bytes"),
        max(octet_length(col("payload"))).cast("bigint").as("max_bytes"))
      .withColumn("avg_bytes",
        round(col("total_bytes").cast("double") / col("n_items"), 6))
      .orderBy(col("modality"))

  private val mmCatalogSql =
    """SELECT modality, COUNT(*) AS n_items,
      |  CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes,
      |  MAX(octet_length(payload)) AS max_bytes,
      |  round(CAST(SUM(octet_length(payload)) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_bytes
      |FROM (SELECT source AS modality, encode(text) AS payload
      |      FROM documents)
      |GROUP BY modality ORDER BY modality""".stripMargin

  // -- mm_features: fixed-grid byte probes (the SQL-expressible fake decode) --
  // DETERMINISTIC FAKE of "decode + feature-extract": feature i is the byte
  // value at probe position 1 + i*stride (stride = n_chars/8). A real
  // decoder would replace the probe with codec output; the 8-wide fixed
  // feature schema is what downstream training jobs consume.
  private val NFeat = 8

  private def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    val feats = (0 until NFeat).map(i =>
      s"ascii(substring(text, 1 + $i * stride, 1)) AS f_$i")
    val sum = (0 until NFeat).map(i => s"f_$i").mkString(" + ")
    media(s, dir)
      .selectExpr("doc_id", "text", s"n_chars div $NFeat AS stride")
      .selectExpr(Seq("doc_id") ++ feats: _*)
      .selectExpr(Seq("doc_id") ++ (0 until NFeat).map(i => s"f_$i")
        ++ Seq(s"$sum AS feat_sum"): _*)
      .orderBy(col("doc_id"))
  }

  private val mmFeaturesSql = {
    val feats = (0 until NFeat).map(i =>
      s"ascii(substr(text, 1 + $i * stride, 1)) AS f_$i")
    val sum = (0 until NFeat).map(i => s"f_$i").mkString(" + ")
    s"""SELECT doc_id, ${(0 until NFeat).map("f_" + _).mkString(", ")},
       |  $sum AS feat_sum
       |FROM (SELECT doc_id, ${feats.mkString(", ")}
       |      FROM (SELECT doc_id, text, n_chars // $NFeat AS stride
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // -- mm_frames: frame sampling (every 2nd 64-byte frame -> digest) ----------
  private val FrameBytes = 64

  private def mmFrames(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .selectExpr("doc_id", "text",
        s"(n_chars + ${FrameBytes - 1}) div $FrameBytes AS n_frames")
      // an EMPTY payload (n_frames = 0) has no frames to sample: the
      // oracle's range(0, 0, 2) is [], but Spark's sequence(0, -1, 2)
      // THROWS — guard like every sibling sequence operator
      // (txtRollhash/txtRepetition) so the doc is omitted, not a crash
      .where("n_frames >= 1")
      .selectExpr("doc_id", "n_frames",
        "explode(sequence(0, n_frames - 1, 2)) AS frame_idx",
        "text")
      .selectExpr("doc_id", "n_frames", "frame_idx",
        s"md5(substring(text, frame_idx * $FrameBytes + 1, $FrameBytes))" +
          " AS frame_hash")
      .orderBy(col("doc_id"), col("frame_idx"))

  private val mmFramesSql =
    s"""SELECT doc_id, n_frames, frame_idx,
       |  md5(substr(text, frame_idx * $FrameBytes + 1, $FrameBytes))
       |    AS frame_hash
       |FROM (SELECT doc_id, n_frames,
       |        unnest(range(0, n_frames, 2)) AS frame_idx, text
       |      FROM (SELECT doc_id, text,
       |              (n_chars + ${FrameBytes - 1}) // $FrameBytes AS n_frames
       |            FROM documents))
       |ORDER BY doc_id, frame_idx""".stripMargin

  // -- mm_validate: payload integrity check per modality ----------------------
  // The blob survives transport iff its byte length matches the recorded
  // metadata (ASCII text => bytes == chars); corrupt items are counted,
  // never dropped silently.
  private def mmValidate(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .select(col("modality"),
        when(octet_length(col("payload")) === col("n_chars")
          && col("n_chars") > 0, 1L).otherwise(0L).as("ok"))
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n_items"), sum(col("ok")).as("n_valid"),
        (count(lit(1)) - sum(col("ok"))).as("n_corrupt"))
      .orderBy(col("modality"))

  private val mmValidateSql =
    """SELECT modality, COUNT(*) AS n_items,
      |  CAST(SUM(ok) AS BIGINT) AS n_valid,
      |  CAST(COUNT(*) - SUM(ok) AS BIGINT) AS n_corrupt
      |FROM (SELECT source AS modality,
      |        CASE WHEN octet_length(encode(text)) = n_chars
      |                  AND n_chars > 0 THEN 1 ELSE 0 END AS ok
      |      FROM documents)
      |GROUP BY modality ORDER BY modality""".stripMargin

  // -- mm_resize: fixed-grid downsample of the payload ------------------------
  // DETERMINISTIC FAKE of media resize: sample 16 evenly-spaced bytes
  // from the payload (a real implementation resamples pixels the same
  // way — fixed output geometry from variable input size) and digest
  // them. Narrow per-row op; only the 16-byte "thumbnail" digest flows on.
  private val ResizeTo = 16

  private def mmResize(s: SparkSession, dir: String): DataFrame = {
    val probes = (0 until ResizeTo)
      .map(i => s"substring(text, 1 + $i * stride, 1)")
    media(s, dir)
      .selectExpr("doc_id", "text", "n_chars",
        s"n_chars div $ResizeTo AS stride")
      .selectExpr("doc_id", "n_chars",
        s"md5(concat(${probes.mkString(", ")})) AS resized_hash")
      .orderBy(col("doc_id"))
  }

  private val mmResizeSql = {
    val probes = (0 until ResizeTo)
      .map(i => s"substr(text, 1 + $i * stride, 1)")
    s"""SELECT doc_id, n_chars,
       |  md5(${probes.mkString(" || ")}) AS resized_hash
       |FROM (SELECT doc_id, text, n_chars, n_chars // $ResizeTo AS stride
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // -- mm_embed_join: join text metadata to the embedding modality ------------
  // The cross-modal join every training pipeline runs (text row <-> its
  // embedding row by id): broadcast-friendly at this arity, and the
  // aggregation carries only small derived values (norms), never the
  // payloads.
  private def mmEmbedJoin(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents")
      .join(table(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
      .selectExpr("lang", "label",
        "round(sqrt(graft_dot(embedding, embedding)), 6) AS l2")
      .groupBy(col("lang"), col("label"))
      .agg(count(lit(1)).as("n"), min(col("l2")).as("min_l2"),
        max(col("l2")).as("max_l2"))
      .orderBy(col("lang"), col("label"))
  }

  private val mmEmbedJoinSql =
    """SELECT lang, label, COUNT(*) AS n, MIN(l2) AS min_l2,
      |  MAX(l2) AS max_l2
      |FROM (
      |  SELECT d.lang, e.label,
      |    round(sqrt(list_reduce(list_transform(
      |      range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE)
      |           * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y)), 6)
      |      AS l2
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
      |GROUP BY lang, label ORDER BY lang, label""".stripMargin

  // -- mm_decode_batch: batched partition-local decode ------------------------
  /** DETERMINISTIC FAKE decoder: byte statistics of the payload. A real
    * implementation would initialize a codec once per batch and decode the
    * 32 payloads together — exactly where that code would go. The mean is
    * an exact-integer byte sum followed by ONE IEEE division (no rounding),
    * so the oracle's identical arithmetic is bit-equal.
    */
  private[graft] def fakeDecode(batch: Seq[MediaItem]): Seq[MediaFeatures] =
    batch.map { item =>
      val bytes = item.payload
      val mean =
        if (bytes.isEmpty) 0.0
        else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
      val max = if (bytes.isEmpty) 0 else bytes.map(_ & 0xff).max
      MediaFeatures(item.doc_id, item.modality, bytes.length.toLong,
        batch.size, mean, max)
    }

  /** The emitted columns are the per-item decoder outputs, which the
    * DuckDB oracle reproduces byte-for-byte from `encode(text)`;
    * `batch_size` is computed (the grouped(32) machinery runs for real)
    * but dropped from the result because batch membership depends on the
    * scan's partitioning — it is covered by MultimodalSpec instead.
    */
  private def mmDecodeBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    media(s, dir)
      .selectExpr("doc_id", "modality", "cast(n_chars AS bigint) AS n_bytes",
        "payload")
      .as[MediaItem]
      .mapPartitions(_.grouped(32).flatMap(g => fakeDecode(g.toSeq)))
      .toDF()
      .drop("batch_size")
      .orderBy(col("doc_id"))
  }

  /** Byte i (1-based, unsigned) of a DuckDB blob via its hex string. */
  private def duckByte(h: String, i: String): String =
    s"CAST('0x' || substr($h, 2 * $i - 1, 2) AS BIGINT)"

  private val mmDecodeBatchSql =
    s"""SELECT doc_id, modality, CAST(n AS BIGINT) AS n_bytes,
       |  CASE WHEN n = 0 THEN 0.0 ELSE
       |    CAST(list_reduce(list_transform(range(1, n + 1),
       |      i -> ${duckByte("h", "i")}), (x, y) -> x + y) AS DOUBLE) / n
       |  END AS mean_byte,
       |  CASE WHEN n = 0 THEN 0 ELSE
       |    CAST(list_reduce(list_transform(range(1, n + 1),
       |      i -> ${duckByte("h", "i")}), (x, y) -> greatest(x, y)) AS INTEGER)
       |  END AS max_byte
       |FROM (SELECT doc_id, source AS modality,
       |        octet_length(encode(text)) AS n, hex(encode(text)) AS h
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  // -- mm_dedup: exact binary dedup by payload digest -------------------------
  // The first curation step any media corpus runs: group on md5 of the
  // raw BYTES ALONE — identical payloads collapse even when carried
  // under different modality labels (the fixtures have exactly such
  // cross-source duplicates at sf0.1), with the modality spread
  // reported as a count. Shuffle carries 32-byte digests + counts,
  // payloads stay in place; digest is the whole group key, so ORDER BY
  // digest is a total order and the hash-compare is deterministic.
  private def mmDedup(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .groupBy(md5(col("payload")).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"),
        min(octet_length(col("payload"))).cast("bigint").as("n_bytes"),
        countDistinct(col("modality")).as("n_modalities"))
      .orderBy(col("digest"))

  // (this DuckDB build's md5 takes VARCHAR, not BLOB — md5(text) hashes
  // the same UTF-8 bytes the Spark side's binary payload carries)
  private val mmDedupSql =
    """SELECT md5(text) AS digest, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keep_id,
      |  CAST(MIN(octet_length(payload)) AS BIGINT) AS n_bytes,
      |  CAST(COUNT(DISTINCT modality) AS BIGINT) AS n_modalities
      |FROM (SELECT doc_id, source AS modality, text, encode(text) AS payload
      |      FROM documents)
      |GROUP BY md5(text) ORDER BY digest""".stripMargin

  // -- mm_shard_pack: webdataset-style shard assignment -----------------------
  // Media training data ships as fixed-budget shards (tar files of ~N
  // bytes); each item's shard is the 64 KiB bin its cumulative START
  // offset falls in, laid out in digest order within a hash shard-group
  // so the window is PARTITIONED (parallel running sums — the same
  // scale shape as txt_pack; raise the group fan-out at 100 TB).
  private def mmShardPack(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("digest"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    media(s, dir)
      .selectExpr("doc_id",
        "cast(octet_length(payload) as bigint) AS n_bytes",
        "md5(payload) AS digest")
      .withColumn("grp", expr("substring(digest, 1, 1)"))
      .withColumn("cum", sum(col("n_bytes")).over(w))
      .selectExpr("grp", "doc_id", "n_bytes",
        "(cum - n_bytes) div 65536 AS shard_id")
      .orderBy(col("doc_id"))
  }

  private val mmShardPackSql =
    """SELECT grp, doc_id, n_bytes, (cum - n_bytes) // 65536 AS shard_id
      |FROM (
      |  SELECT grp, doc_id, n_bytes,
      |    CAST(SUM(n_bytes) OVER (PARTITION BY grp ORDER BY digest, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM (
      |    SELECT doc_id,
      |      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |      md5(text) AS digest,
      |      substr(md5(text), 1, 1) AS grp
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin

  // -- mm_phash / mm_phash_pairs: perceptual-hash near-dup for media ----------
  // DETERMINISTIC FAKE of an image average-hash (aHash): real aHash
  // downsamples to an 8x8 grid and sets bit i iff pixel i is above the
  // grid mean; ours probes 64 evenly-spaced payload bytes and sets bit i
  // iff 64*probe_i > sum(probes) (integer form of probe_i > mean, no
  // division). A real codec would swap the byte probe for pixels — the
  // signature width, band layout, and join shape are the production
  // ones. Bit 63's weight is Long.MinValue, written (-MAX-1) because
  // both SQL dialects parse bare -9223372036854775808 as unary minus on
  // an out-of-range literal.
  private[graft] val PhashBits = 64

  private def phashTerm(i: Int): String = {
    val value =
      if (i < 63) (1L << i).toString else "(-9223372036854775807 - 1)"
    s"CASE WHEN $PhashBits * p_$i > s THEN $value ELSE 0 END"
  }

  /** doc_id -> 64-bit signature, shared by both phash queries. The probe
    * grid 1 + i*stride (stride = n_chars div 64) stays in bounds for all
    * i < 64; sub-64-byte payloads get stride 0 (all probes = byte 1 ->
    * signature 0), degenerate but identical in both engines.
    */
  private def phashSigs(s: SparkSession, dir: String): DataFrame =
    phashSigsOf(media(s, dir))

  /** The signature pipeline over ANY frame with (doc_id, text,
    * n_chars) — shared by the batch queries, the persistent store
    * build, and the streaming ingest probe (which passes `carry =
    * Seq("ts")` to keep its event time riding along). The payload is
    * consumed by the 64 byte probes INSIDE this projection and never
    * survives it — the mm pack's payloads-never-shuffle invariant.
    */
  private[graft] def phashSigsOf(df: DataFrame,
                                 carry: Seq[String] = Nil): DataFrame = {
    val probes = (0 until PhashBits).map(i =>
      s"ascii(substring(text, 1 + $i * stride, 1)) AS p_$i")
    val sum = (0 until PhashBits).map(i => s"p_$i").mkString(" + ")
    df
      .selectExpr(Seq("doc_id") ++ carry ++
        Seq("text", s"n_chars div $PhashBits AS stride"): _*)
      .selectExpr(Seq("doc_id") ++ carry ++ probes: _*)
      .selectExpr(Seq("doc_id") ++ carry ++ Seq(s"$sum AS s")
        ++ (0 until PhashBits).map(i => s"p_$i"): _*)
      .selectExpr(Seq("doc_id") ++ carry :+
        s"${(0 until PhashBits).map(phashTerm).mkString(" + ")} AS phash": _*)
  }

  /** Shared CTE text for the DuckDB side of the phash oracles;
    * `where` (a bare predicate, or "" for the whole corpus) narrows the
    * signed rows — the store-serve oracle passes the family's old-half
    * split so the CTE states exactly the rows the persisted index holds.
    */
  private def phashSigsSqlWhere(where: String) = {
    val probes = (0 until PhashBits).map(i =>
      s"ascii(substr(text, 1 + $i * stride, 1)) AS p_$i")
    val sum = (0 until PhashBits).map(i => s"p_$i").mkString(" + ")
    val pred = if (where.isEmpty) "" else s" WHERE $where"
    s"""sigs AS (
       |  SELECT doc_id, ${(0 until PhashBits).map(phashTerm).mkString(" + ")}
       |    AS phash
       |  FROM (SELECT doc_id, $sum AS s,
       |          ${(0 until PhashBits).map("p_" + _).mkString(", ")}
       |        FROM (SELECT doc_id, ${probes.mkString(", ")}
       |              FROM (SELECT doc_id, text,
       |                      n_chars // $PhashBits AS stride
       |                    FROM documents$pred))))""".stripMargin
  }

  private val phashSigsSql = phashSigsSqlWhere("")

  /** Per-item signature + its four 16-bit band values (the LSH keys the
    * pair join below shuffles). (sig >> 16b) & 65535 is shift-kind-safe:
    * the mask keeps only low bits, so arithmetic vs logical shift cannot
    * differ.
    */
  private def mmPhash(s: SparkSession, dir: String): DataFrame =
    phashSigs(s, dir)
      .selectExpr(Seq("doc_id", "phash") ++ (0 until 4).map(b =>
        s"shiftright(phash, ${16 * b}) & 65535 AS band_$b"): _*)
      .orderBy(col("doc_id"))

  private val mmPhashSql =
    s"""WITH $phashSigsSql
       |SELECT doc_id, phash,
       |  ${(0 until 4).map(b => s"(phash >> ${16 * b}) & 65535 AS band_$b")
            .mkString(", ")}
       |FROM sigs ORDER BY doc_id""".stripMargin

  // Near-dup media pairs at Hamming <= 3 via the PIGEONHOLE band join
  // (same guarantee as dd_simhash64: <= 3 differing bits leave at least
  // one of the four 16-bit bands identical, so the band equi-join is a
  // guaranteed superset and the bit_count re-check makes it exact).
  // Shuffle carries 4 small keys per item, payloads never move. The
  // DuckDB oracle is the INDEPENDENT all-pairs O(N^2) spec — no banding
  // — so the hash-compare checks the candidate recall, not a shared
  // shortcut.
  // The pairs are PairFamily.Phash's: signature-identical items
  // collapse to their min-doc_id representative, and the Hamming
  // verify runs once per group pair.
  private def mmPhashPairs(s: SparkSession, dir: String): DataFrame =
    BandedStore.pairs(PairFamily.Phash, s, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  private val mmPhashPairsSql =
    s"""WITH $phashSigsSql
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The signature rep-collapse membership (doc_id → min-doc_id rep
    * per identical signature) over a registered sig view, eager (it is
    * scanned several times downstream) — ONE min-rep rule for the pair
    * family and the persisted store, so the two can never disagree.
    */
  private[graft] def phashGrpFrame(s: SparkSession,
                                   sigsView: String): DataFrame =
    s.sql(
      s"""SELECT k.doc_id, g.rep FROM $sigsView k
         |JOIN (SELECT phash, min(doc_id) AS rep FROM $sigsView
         |      GROUP BY phash) g
         |ON k.phash = g.phash""".stripMargin)
      .truncated()

  /** mm_phash_cluster's edges with the exact-duplicate bomb defused —
    * the media twin of Dedup.ddClusterEdges: k byte-identical payloads
    * share every band value and would emit k²/2 banded pairs, all real
    * edges (hamming 0); the family's collapse leaves the verified rep
    * pairs plus k-1 star edges, shared through its registry with
    * mm_phash_pairs.
    */
  private[graft] def mmPhashClusterEdges(s: SparkSession,
                                         dir: String): DataFrame =
    BandedStore.edges(PairFamily.Phash, s, dir)

  // Media near-dup components: min-label propagation (Dedup's shared
  // loop) over the banded phash pairs — representative-collapsed, see
  // [[mmPhashClusterEdges]] — so a keep-one-per-cluster media pipeline
  // gets its group assignments the same way the text side does
  // (dd_cluster). Oracle: independent twice over — all-pairs edges (no
  // banding, no collapse) + recursive-CTE closure (no propagation).
  private def mmPhashCluster(s: SparkSession, dir: String): DataFrame =
    Dedup.labelPropagate("mm_phash_cluster",
      mmPhashClusterEdges(s, dir),
      media(s, dir).select("doc_id"),
      // shared LP edge structure per (session, corpus) — the
      // dd_cluster/dd_embed_cluster discipline (r21)
      shareKey = Some(s"mm_phash_cluster_edges|$dir"))
      .orderBy(col("doc_id"))

  // -- mm_phash_store: persist the catalog's phash index, serve the LOADED copy
  // The media twin of dd_cluster_store: round-trips the old-half
  // signature table through the persisted store and returns the
  // parquet-loaded copy — never the in-session frame that computed it —
  // so the gate pins the persist/load path against the independently
  // restated signature arithmetic narrowed to the store's rows.
  private def mmPhashStore(s: SparkSession, dir: String): DataFrame = {
    val store = BandedStore.ensure(StoreKind.Phash, s, dir)
    // the store keeps rep sigs + grp membership; the full signature
    // table is one equi-join away, exact because a member's phash IS
    // its group key (identical to its rep's by construction)
    Dedup.storeGrp(s, store, "doc_id")
      .join(StoreFiles.readRelChain(s, store, "sigs")
        .toDF("rep", "phash"), Seq("rep"))
      .select(col("doc_id"), col("phash"))
      .orderBy(col("doc_id"))
  }

  private val mmPhashStoreSql =
    s"""WITH ${phashSigsSqlWhere(Dedup.oldPred)}
       |SELECT doc_id, phash FROM sigs ORDER BY doc_id""".stripMargin

  /** Per-(process, corpus) folded next generation: gen 0 is the
    * old-half phash store, gen 1 folds in everything else. First
    * caller builds both; later calls are pure load+serve (the store
    * family's rep-1-builds bench shape).
    */
  private def ensurePhashFoldStore(s: SparkSession, dir: String): String = {
    val out = StoreFiles.scratchDir("graft_pstore_g1_", dir)
    StoreFiles.ensure(out) {
      BandedStore.foldInto(StoreKind.Phash, s, dir,
        BandedStore.ensure(StoreKind.Phash, s, dir), "", out)
    }
  }

  // -- mm_phash_fold_stored: fold the new batch in, pair off the FOLDED store -
  // Closes the gap the streaming gates leave open: st_store_phash_replay
  // only ever flags new-against-OLD pairs, so a fold that mangled the
  // new rows' own band index would pass it. Here the near-dup pair
  // table is recomputed ENTIRELY from the folded generation's parquet
  // (bands/ for candidates, sigs/ for the exact Hamming verify — the
  // session's in-memory signature frames never touch the plan), and the
  // oracle is the full-corpus all-pairs spec: fold + serve must equal
  // batch recompute of everything, the same contract
  // dd_cluster_fold_stored pins for text. Old payloads are never
  // re-read at any generation (fold unions the stored parquet).
  private def mmPhashFoldStored(s: SparkSession, dir: String): DataFrame = {
    val out = ensurePhashFoldStore(s, dir)
    StoreFiles.readRelChain(s, out, "sigs")
      .createOrReplaceTempView("pfs_sigs")
    StoreFiles.readRelChain(s, out, "bands")
      .createOrReplaceTempView("pfs_bands")
    Dedup.storeGrp(s, out, "doc_id").createOrReplaceTempView("pfs_grp")
    // Rep-level band/verify (one Hamming check per GROUP pair), then
    // the member expansion: cross-group pairs fan out through grp on
    // both sides (a member's phash equals its rep's, so the verified
    // distance is every member pair's distance), and within-group
    // pairs are Hamming 0 by definition. Both legs are TRUE OUTPUT of
    // the all-pairs spec — the quadratic part of a bombed corpus is
    // its answer, not the candidate work. DISTINCT collapses the up-
    // to-4 band collisions of a rep pair; the `<` self-join already
    // yields each unordered pair exactly once (both sides scan the
    // same relation), including cross-generation pairs where a later
    // fold holds the lower doc_id.
    s.sql(
      s"""WITH repver AS (
         |  SELECT DISTINCT x.doc_id AS rep_a, y.doc_id AS rep_b
         |  FROM pfs_bands x JOIN pfs_bands y
         |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
         |ver AS (${Score.Hamming.rows("rep_a", "rep_b", "repver " +
              "JOIN pfs_sigs a ON a.doc_id = rep_a " +
              "JOIN pfs_sigs b ON b.doc_id = rep_b")})
         |SELECT least(ga.doc_id, gb.doc_id) AS doc_a,
         |       greatest(ga.doc_id, gb.doc_id) AS doc_b, hamming
         |FROM ver JOIN pfs_grp ga ON ga.rep = rep_a
         |         JOIN pfs_grp gb ON gb.rep = rep_b
         |UNION ALL
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  cast(0 as int) AS hamming
         |FROM pfs_grp x JOIN pfs_grp y
         |  ON x.rep = y.rep AND x.doc_id < y.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** DuckDB restatement for st_store_phash_replay: the INDEPENDENT
    * all-pairs old-new Hamming spec (no banding — though here the
    * pigeonhole makes banded = all-pairs a theorem, the oracle still
    * refuses to share the shortcut).
    */
  private[graft] val duckStorePhashSql = {
    val probes = (0 until PhashBits).map(i =>
      s"ascii(substr(text, 1 + $i * stride, 1)) AS p_$i")
    val sum = (0 until PhashBits).map(i => s"p_$i").mkString(" + ")
    s"""WITH sigs AS (
       |  SELECT doc_id, is_old,
       |    ${(0 until PhashBits).map(phashTerm).mkString(" + ")} AS phash
       |  FROM (SELECT doc_id, is_old, $sum AS s,
       |          ${(0 until PhashBits).map("p_" + _).mkString(", ")}
       |        FROM (SELECT doc_id, is_old, ${probes.mkString(", ")}
       |              FROM (SELECT doc_id, text,
       |                      (${graft.operators.Dedup.oldPred}) AS is_old,
       |                      n_chars // $PhashBits AS stride
       |                    FROM documents))))
       |SELECT n.doc_id AS doc_id, o.doc_id AS owner_id
       |FROM sigs n JOIN sigs o ON NOT n.is_old AND o.is_old
       |WHERE bit_count(xor(n.phash, o.phash)) <= 3
       |ORDER BY 1, 2""".stripMargin
  }

  private val mmPhashClusterSql =
    s"""WITH RECURSIVE $phashSigsSql,
       |edges AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM sigs a JOIN sigs b ON a.doc_id <> b.doc_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
       |r(doc, node) AS (
       |  SELECT doc_id, doc_id FROM sigs
       |  UNION
       |  SELECT r.doc, e.dst FROM r JOIN edges e ON e.src = r.node)
       |SELECT doc AS doc_id, MIN(node) AS cluster_id
       |FROM r GROUP BY doc
       |ORDER BY doc_id""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "mm_phash" -> mmPhash _,
      "mm_phash_pairs" -> mmPhashPairs _,
      "mm_phash_cluster" -> mmPhashCluster _,
      "mm_phash_store" -> mmPhashStore _,
      "mm_phash_fold_stored" -> mmPhashFoldStored _,
      "mm_catalog" -> mmCatalog _,
      "mm_features" -> mmFeatures _,
      "mm_frames" -> mmFrames _,
      "mm_validate" -> mmValidate _,
      "mm_resize" -> mmResize _,
      "mm_embed_join" -> mmEmbedJoin _,
      "mm_decode_batch" -> mmDecodeBatch _,
      "mm_dedup" -> mmDedup _,
      "mm_shard_pack" -> mmShardPack _
    )

  override val oracles: Map[String, String] = Map(
    "mm_phash" -> mmPhashSql,
    "mm_phash_pairs" -> mmPhashPairsSql,
    "mm_phash_cluster" -> mmPhashClusterSql,
    "mm_phash_store" -> mmPhashStoreSql,
    // the full-corpus all-pairs spec, shared verbatim with
    // mm_phash_pairs: fold + serve must equal batch recompute
    "mm_phash_fold_stored" -> mmPhashPairsSql,
    "mm_catalog" -> mmCatalogSql,
    "mm_features" -> mmFeaturesSql,
    "mm_frames" -> mmFramesSql,
    "mm_validate" -> mmValidateSql,
    "mm_resize" -> mmResizeSql,
    "mm_embed_join" -> mmEmbedJoinSql,
    "mm_decode_batch" -> mmDecodeBatchSql,
    "mm_dedup" -> mmDedupSql,
    "mm_shard_pack" -> mmShardPackSql
  )
}
