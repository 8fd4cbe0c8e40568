package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Shared plumbing for the on-disk model/index stores of every
  * [[StoreKind]]:
  *
  *  - the commit marker ([[Markers]]) is written temp + ATOMIC_MOVE
  *    LAST, so a crash mid-build can never leave a half-store that
  *    `committed()` accepts;
  *  - scratch stores are named per (process, corpus) so concurrent
  *    suites/processes cannot collide and a restarted process
  *    rebuilds rather than trusting another's leftovers;
  *  - the ensure path is locked per store dir, one lock map for every
  *    kind: the exists/build check-then-act must not interleave with a
  *    concurrent load of a half-written store.
  */
private[graft] object StoreFiles {

  def exists(dir: String): Boolean =
    Files.exists(Paths.get(dir, "manifest.json"))

  /** Normalized absolute parent of `p` — the delta sibling-root
    * comparisons and the chain walk must treat equivalent spellings
    * of one path ('root/./gen-1', a trailing slash, 'a/b/../b') as
    * ONE path: an un-normalized compare refuses valid folds, and two
    * spellings of one generation in the cycle set defeat duplicate
    * detection.
    */
  def normParent(p: String): java.nio.file.Path =
    Paths.get(p).toAbsolutePath.normalize.getParent

  def writeManifest(dir: String, json: String): Unit = {
    val tmp = Paths.get(dir, "manifest.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, "manifest.json"),
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** MD5 hex prefix of `str`, `k` chars — the one hashing idiom behind
    * scratch names, bucketed-table names, and the builders' cview
    * names (three near-copies before r19; a normalization fix in one
    * must not silently miss the others).
    */
  private[graft] def md5Hex(str: String, k: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(k)

  def scratchDir(prefix: String, dir: String): String =
    new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      prefix + md5Hex(dir, 12) +
        "_p" + ProcessHandle.current().pid()).toString

  /** Recursive delete / recursive byte size — the two file-tree
    * helpers the CLIs and bench probes kept re-implementing (three
    * near-copies each before r20; the md5Hex lesson again).
    * Best-effort, like every call site was.
    */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }

  private[graft] def treeBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length()

  // one monitor per store path, shared by every kind's ensure
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Run `body` holding `path`'s store lock: a check-then-act on a
    * store must not interleave with a concurrent write of it. */
  def locked[T](path: String)(body: => T): T =
    locks.computeIfAbsent(path, _ => new Object).synchronized(body)

  /** Build `store` unless it is committed, under its lock; the path. */
  def ensure(store: String)(build: => Unit): String = {
    locked(store) { if (marker(store).isEmpty) build }
    store
  }

  // ---- generation-root pointer (_CURRENT.json) -----------------------------
  // The serving face over a ROOT directory of immutable generation
  // subdirs (what `fold` chains produce): readers resolve the served
  // generation through one pointer file, flipped atomically — the
  // `_SHARDS.json` discipline from ShardCompact extended to the model
  // stores. `prev` records the generation the LAST flip displaced; it
  // gets one gc cycle of grace so a reader that planned against the
  // old pointer can finish scanning it (the lakehouse VACUUM retention
  // floor, same as the shard compactor's replaced-generation grace).

  val CurrentName = "_CURRENT.json"

  /** Commit markers, written ATOMIC_MOVE last so existence = complete:
    * manifest.json for the banded kinds, model.json for ivfpq. */
  val Markers = Seq("manifest.json", "model.json")

  def marker(dir: String): Option[java.nio.file.Path] =
    Markers.map(Paths.get(dir, _)).find(Files.exists(_))

  /** A dir is a committed store iff its marker landed. */
  def committed(dir: java.nio.file.Path): Boolean =
    marker(dir.toString).nonEmpty

  // Generation names are validated printable (see flip), so the
  // writer needs only the two mandatory JSON escapes and the reader
  // only their inverses — no \uXXXX round-trip to get subtly wrong.
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c    => c.toString
    } + "\""

  /** (gen, prev) from the root's pointer, if one has landed. Bare
    * subdir names, never paths — the pointer is location-independent
    * so a root can be moved/synced wholesale.
    */
  def readCurrent(root: String): Option[(String, Option[String])] = {
    val p = Paths.get(root, CurrentName)
    if (!Files.exists(p)) None
    else
      try {
        val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        def field(k: String): Option[String] =
          (s""""$k":\\s*"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(s)
            .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
        field("gen").map(g => (g, field("prev")))
      } catch {
        // a pointer that vanished between exists and read = no pointer
        // (serve reports it; gc then REFUSES rather than guessing)
        case _: java.io.IOException => None
      }
  }

  /** Point the root's readers at generation `gen` (a bare subdir name
    * holding a committed store). Temp + ATOMIC_MOVE: a crash leaves
    * the old pointer intact, readers see before-or-after, never mid.
    * The displaced generation is recorded as `prev` for gc's grace
    * window.
    */
  def flip(root: String, gen: String): Either[String, String] = {
    if (gen.isEmpty || gen.contains('/') || gen.contains('\\') ||
        gen == "." || gen == ".." || gen.exists(_ < ' '))
      return Left(s"generation must be a bare printable subdir name, " +
        s"got: '$gen'")
    val genDir = Paths.get(root, gen)
    if (!committed(genDir))
      return Left(s"$genDir holds no committed store (no marker) — " +
        "refusing to point readers at it")
    readCurrent(root) match {
      case Some((g, _)) if g == gen =>
        // idempotent re-flip: do NOT rewrite the pointer — recomputing
        // prev here would drop the displaced generation's grace window
        // and let the next gc collect it under an in-flight reader
        Right(genDir.toString)
      case cur =>
        val prev = cur.map(_._1)
        val json = s"""{"gen": ${jsonStr(gen)}, "prev": ${
          prev.map(jsonStr).getOrElse("null")}}"""
        try {
          // unique temp per flip (not a fixed ".tmp" name): two
          // concurrent flips racing through one temp file could
          // publish flip B's payload under flip A's ATOMIC_MOVE, so A
          // returns Right claiming to serve its own generation while
          // the pointer names B's. Per-flip temp files serialize the
          // race to plain last-writer-wins with accurate returns.
          val tmp = Files.createTempFile(Paths.get(root),
            CurrentName + ".", ".tmp")
          Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, Paths.get(root, CurrentName),
            StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          Right(genDir.toString)
        } catch {
          case e: java.io.IOException =>
            Left(s"cannot write $CurrentName at $root: $e")
        }
    }
  }

  /** Resolve the served generation's path through the pointer,
    * re-checking the marker (a gen deleted out from under the pointer
    * must fail loudly at plan time, not as a mid-scan read error).
    */
  def serve(root: String): Either[String, String] =
    readCurrent(root) match {
      case None => Left(s"no $CurrentName pointer at $root")
      case Some((gen, _)) =>
        val genDir = Paths.get(root, gen)
        if (committed(genDir)) Right(genDir.toString)
        else Left(s"pointer names $gen but $genDir holds no " +
          "committed store — flip to a live generation")
    }

  /** Next free `gen-<n>` name under the root: max over ALL existing
    * gen-numbered subdirs + 1, committed or not — a crashed fold's
    * uncommitted litter keeps its name reserved, so a re-run can never
    * write into a dir another attempt may still be writing (the
    * single-folder discipline the shard compactor documents; litter
    * removal is an operator decision, never a guess).
    */
  def nextGenName(root: String): String = {
    val GenPat = "gen-(\\d+)".r
    val used = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .flatMap(f => f.getName match {
        case GenPat(n) => Some(n.toLong)
        case _         => None
      })
    s"gen-${if (used.isEmpty) 0L else used.max + 1L}"
  }

  // ---- delta generations (_PARENT chain) -----------------------------------
  // A DELTA generation holds only its increment's rows plus a `_PARENT`
  // file naming the generation it extends (a bare SIBLING subdir name,
  // like the pointer — location-independent). Readers resolve the
  // pointed generation's CHAIN and union each relation across it;
  // `StoreCtl compact` seals a chain back into one self-contained
  // generation. `_PARENT` is written BEFORE the commit marker, so a
  // committed delta generation always carries its link. All four
  // store kinds delta: the append-only relations (sigs/vecs/bands/
  // grp/codes) union across the chain; the cluster/embed ASSIGNMENT
  // is global state (a fold can relabel old rows through new-batch
  // bridges), so its delta holds the merge's CHANGED rows only and
  // readers recover the relation last-writer-wins per id
  // (Dedup.storeAssignment).

  val ParentName = "_PARENT"

  /** The parent-generation NAME a delta fold from `store` must record:
    * the NORMALIZED path's last segment. Deriving it from the raw
    * spelling (`Paths.get(store).getFileName`) turned 'root/gen-0/.'
    * into a literal '.' link — the sibling-root requires accept that
    * spelling (they normalize), so the fold would COMMIT a generation
    * whose chain can never resolve (every read walks gen-1 -> '.' ->
    * the root, which holds no marker).
    */
  def parentGenName(store: String): String =
    Paths.get(store).toAbsolutePath.normalize.getFileName.toString

  /** Record the delta link of the generation at `dir`. Call before
    * the commit marker lands. Refuses a non-sibling-name link outright
    * (same validation as flip): a bad link committed here is a
    * permanently unserveable generation, the failure mode chainPaths
    * can only report after the fact.
    */
  def writeParent(dir: String, parentGen: String): Unit = {
    require(parentGen.nonEmpty && !parentGen.contains('/') &&
      !parentGen.contains('\\') && parentGen != "." &&
      parentGen != ".." && !parentGen.exists(_ < ' '),
      s"_PARENT must be a bare sibling subdir name, got: '$parentGen'")
    Files.write(Paths.get(dir, ParentName),
      parentGen.getBytes(StandardCharsets.UTF_8))
  }

  def readParent(dir: java.nio.file.Path): Option[String] = {
    val p = dir.resolve(ParentName)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8).trim).filter(_.nonEmpty)
  }

  /** The generation chain rooted at `dir`: itself first, then its
    * parents base-last. Fails loudly on a dangling/uncommitted parent
    * or a cycle — a chain read must never silently serve a partial
    * union (rows would just be MISSING, the worst failure mode a
    * store can have).
    */
  def chainPaths(dir: String): Either[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    // normalize the seed AND every extension: the cycle set compares
    // path STRINGS, so 'root/./gen-1' and 'root/gen-1' must collapse
    // to one entry or a two-spelling cycle walks forever
    var cur = Paths.get(dir).toAbsolutePath.normalize
    var done = false
    while (!done) {
      if (!out.add(cur.toString))
        return Left(s"delta chain under ${cur.getParent} " +
          s"cycles at ${cur.getFileName}")
      if (!committed(cur))
        return Left(s"$cur holds no committed store — the delta " +
          "chain is dangling (a parent was deleted out from under " +
          "its children?)")
      readParent(cur) match {
        case None    => done = true
        case Some(p) => cur = cur.getParent.resolve(p).normalize
      }
    }
    Right(out.toSeq)
  }

  // ---- bucketed relation layout (r19) --------------------------------------
  // The serve-path docstrings promised "a deployment co-locates
  // bands/ by bucketing on (band, key)"; now the stores DO it: the
  // probe-joined relations land as Spark BUCKETED parquet (bucketBy
  // on the probe key, sortBy inside each bucket, repartitioned to one
  // file per bucket) with a `_BUCKETS` sidecar recording (n, keys),
  // and single-generation reads come back through a bucketed catalog
  // table — so the scan REPORTS HashPartitioning(keys, n) and every
  // stream-static probe / fold probe / assignment aggregation is
  // EXCHANGE-FREE on the store side (PlanSpec pins it). Chain reads
  // (depth > 1) go through the ALIGNED chain table (one partition per
  // generation, [[readChainAligned]]) so the exchange-free shape holds
  // at ANY depth when the layouts match; only mixed-layout chains
  // (a pre-layout base, a bucket-count change) fall back to the plain
  // union until `compact` re-seals them. Bucket count comes from
  // [[StoreBucketsKey]] AT WRITE TIME (default = the session's
  // spark.sql.shuffle.partitions — the bucket count IS the probe
  // join's parallelism; a deployment that sizes shuffle partitions
  // for the corpus gets matching buckets for free, e.g. 4096 at
  // 100 TB) and travels in the sidecar with the keys AND the schema
  // DDL, so readers never guess and never need parquet schema
  // inference (an EMPTY relation — a no-rows `advance --delta` — 
  // writes zero data files, which would crash inference in a fresh
  // session). The files are plain parquet —
  // every pre-r19 reader (spark.read.parquet, DuckDB) still reads
  // them; `_BUCKETS` is `_`-prefixed so file listings skip it.

  val StoreBucketsKey = "graft.store.buckets"

  /** Catalog name for the bucketed table over `path` — deterministic
    * in the normalized path AND the layout (bucket count, keys,
    * schema DDL), so writer and readers (any session on the shared
    * catalog) agree without coordination, and a path rebuilt with a
    * DIFFERENT layout or schema hashes to a fresh name instead of
    * serving a stale registration (the old entry dangles —
    * metadata-only). A byte-identical rebuild at the same path is
    * outside the contract: generations are immutable.
    */
  private def bucketTable(path: String, n: Int, keys: Seq[String],
                          sortCols: Seq[String],
                          schemaDdl: String): String =
    "graft_bkt_" + md5Hex(
      Paths.get(path).toAbsolutePath.normalize.toString +
        "|" + n + "|" + keys.mkString(",") + "|" + sortCols.mkString(",") +
        "|" + schemaDdl, 16)

  private def bucketsSidecar(path: String): java.nio.file.Path =
    Paths.get(path, "_BUCKETS")

  /** The sidecar's raw newline fields — ONE reader behind the current
    * 4-field layout parse and the legacy-DDL recovery, so the two can
    * never disagree about what the file says.
    */
  private def rawSidecar(path: String): Option[Array[String]] = {
    val sc = bucketsSidecar(path)
    if (!Files.exists(sc)) None
    else Some(new String(Files.readAllBytes(sc),
      StandardCharsets.UTF_8).split("\n", 4))
  }

  /** The (bucket count, keys, in-bucket sort columns, schema DDL) the
    * sidecar at `path` records, if one was written — the single
    * parser behind the single-generation table read, the chain
    * alignment check, StoreCtl doctor's layout audit, and the test
    * hook. The sort columns travel in the sidecar so a FRESH
    * session's re-registration declares the same SORTED BY the writer
    * paid for — without them the reader-created table would silently
    * drop the trailing-id sort claim and carry different metadata
    * under the same hashed name.
    */
  // the single 4-field parse (n, keys, in-bucket sort, schema DDL) —
  // sidecarLayout and readRel share it so the two can never drift
  private def parseLayout(lines: Array[String])
      : (Int, Seq[String], Seq[String], String) =
    (lines(0).trim.toInt, lines(1).split(",").toSeq,
      lines(2).split(",").toSeq, lines(3))

  private[graft] def sidecarLayout(path: String)
      : Option[(Int, Seq[String], Seq[String], String)] =
    rawSidecar(path) match {
      // a PRE-sort-line sidecar (3 fields) reads as "no layout": the
      // files are plain parquet either way, so the fallback is
      // row-correct and merely forfeits the partitioning claim —
      // never a crash inside readRel/doctor on an old store (the
      // schema DDL it DOES carry is still honored, see
      // [[legacySidecarDdl]])
      case Some(lines) if lines.length >= 4 => Some(parseLayout(lines))
      case _ => None
    }

  /** Schema DDL recovered from a LEGACY pre-sort-line sidecar (three
    * fields: n, keys, ddl). The layout claim is forfeited (the
    * in-bucket sort the writer used is unrecorded, so a bucketed
    * re-registration could carry wrong metadata under the hashed
    * name), but the DDL is exactly what the sidecar exists to
    * preserve: an EMPTY relation (a no-rows increment) has zero data
    * files, and schema inference over it throws — a pre-upgrade store
    * with an empty increment must stay readable.
    */
  private[graft] def legacySidecarDdl(path: String): Option[String] =
    rawSidecar(path).filter(_.length == 3).map(_(2))

  /** The bucketed catalog table name the sidecar at `path` resolves
    * to, if one was written — a test hook (the empty-increment and
    * cross-catalog read cases drop it to simulate a fresh session).
    */
  private[graft] def sidecarTable(path: String): Option[String] =
    sidecarLayout(path).map { case (n, keys, sortCols, ddl) =>
      bucketTable(path, n, keys, sortCols, ddl)
    }

  /** Write `df` at `path` bucketed on `keys` (+ `sortExtra` inside
    * each bucket) and record the layout in the sidecar. saveAsTable
    * is the only writer face Spark allows for bucketBy; the explicit
    * `path` makes the table external, so the catalog entry is just
    * metadata over the generation's own files.
    */
  /** The bucket count THIS session writes (and compact re-seals) at:
    * [[StoreBucketsKey]], defaulting to the session's shuffle
    * parallelism — the bucket count IS the probe join's parallelism
    * (a bucketed scan's partitioning is reused as-is, so fewer
    * buckets than cores strands cores; an 8-bucket default measured
    * +0.8-1.0 s on every store probe key at local[32]). A deployment
    * that sizes shuffle.partitions for the corpus gets matching store
    * buckets for free. Shared with StoreCtl doctor so its
    * mixed-layout note names the exact count a compact would re-seal
    * at.
    */
  private[graft] def bucketCount(
      s: org.apache.spark.sql.SparkSession): Int = {
    val n = s.conf.getOption(StoreBucketsKey)
      .getOrElse(s.conf.get("spark.sql.shuffle.partitions")).toInt
    require(n >= 1, s"$StoreBucketsKey must be >= 1, got $n")
    n
  }

  def writeBucketed(df: org.apache.spark.sql.DataFrame, path: String,
                    keys: Seq[String],
                    sortExtra: Seq[String] = Nil): Unit = {
    val s = df.sparkSession
    val n = bucketCount(s)
    val sortCols = keys ++ sortExtra
    val ddl = df.schema.toDDL
    // one file per bucket: without the repartition every write task
    // opens a file per bucket it sees (tasks x buckets small files),
    // and multi-file buckets forfeit the scan's sort-order claim
    val t = bucketTable(path, n, keys, sortCols, ddl)
    // over an input already hash-partitioned like the buckets (a
    // bucketed read of the same layout: compact's chain, a fold's
    // stored side) the repartition plans away, and the write then
    // relies on that read staying bucketed; Spark's pruning of
    // bucketed scans no operator needs would split it by file size
    // instead and land several files per bucket
    graft.Engine.withConf(s, AutoBucketedScanKey -> "false") {
      hashed(df, n, keys)
        .write.mode("overwrite").format("parquet")
        .bucketBy(n, keys.head, keys.tail: _*)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .option("path", path)
        .saveAsTable(t)
    }
    // saveAsTable just made a catalog entry — same reclamation
    // contract as the read-side registrations: gc drops it when it
    // deletes this generation's files
    chainRegistry.put(t,
      Seq(Paths.get(path).toAbsolutePath.normalize.toString))
    // sidecar LAST, carrying the schema DDL: readers must never need
    // parquet schema inference (see the layout note — an empty
    // increment has no data files to infer from), and a crash before
    // the sidecar leaves a plain-parquet-readable dir inside an
    // uncommitted (marker-less) generation nobody serves
    Files.write(bucketsSidecar(path),
      s"$n\n${keys.mkString(",")}\n${sortCols.mkString(",")}\n$ddl"
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Write `df` in the serving layout `order` names: bucketed on the
    * columns before the trailing id (a one-column order buckets on
    * itself), the id sorted inside each bucket.
    */
  def writeOrdered(df: org.apache.spark.sql.DataFrame, path: String,
                   order: Seq[String]): Unit = {
    val keys = bucketKeys(order)
    writeBucketed(df, path, keys, order.drop(keys.length))
  }

  private val AutoBucketedScanKey =
    "spark.sql.sources.bucketing.autoBucketedScan.enabled"

  /** The bucket keys of serving order `order`: the columns before the
    * trailing id, or the one column itself. */
  private def bucketKeys(order: Seq[String]): Seq[String] =
    if (order.length > 1) order.dropRight(1) else order

  private def hashed(df: org.apache.spark.sql.DataFrame, n: Int,
                     keys: Seq[String]): org.apache.spark.sql.DataFrame =
    df.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*)

  /** `df` hash-partitioned the way [[writeOrdered]] buckets `order`.
    * Unioned with a bucketed read of the same layout, the union keeps
    * that partitioning, and the write's own repartition plans away.
    */
  def inBucketLayout(df: org.apache.spark.sql.DataFrame,
                     order: Seq[String]): org.apache.spark.sql.DataFrame =
    hashed(df, bucketCount(df.sparkSession), bucketKeys(order))

  /** Read the relation at `path`: through its bucketed catalog table
    * when the sidecar says one was written (registering the external
    * table on first read in this catalog — the name hashes the layout
    * and schema, so a registration can only ever describe the files
    * it was written over), plain parquet otherwise. Row content is
    * identical either way; only the reported partitioning differs.
    * The schema comes from the sidecar, never from file inference —
    * an empty relation (no-rows increment) has no data files.
    */
  def readRel(s: org.apache.spark.sql.SparkSession,
              path: String): org.apache.spark.sql.DataFrame =
    rawSidecar(path) match {
      case Some(lines) if lines.length == 3 =>
        // legacy 3-field sidecar: honor its DDL (an empty relation has
        // no data files to infer from) while forfeiting only the
        // partitioning claim; an unparseable legacy DDL degrades to
        // plain inference rather than crashing the read
        (try Some(s.read.schema(
          org.apache.spark.sql.types.StructType.fromDDL(lines(2)))
          .parquet(path))
        catch { case scala.util.control.NonFatal(_) => None })
          .getOrElse(s.read.parquet(path))
      case Some(lines) if lines.length >= 4 =>
        val (n, keys, sortCols, ddl) = parseLayout(lines)
        val t = bucketTable(path, n, keys, sortCols, ddl)
        if (!s.catalog.tableExists(t)) {
          // two first-readers may race through the exists check: the
          // loser's CREATE throws — benign iff the table now exists.
          // SORTED BY declares the writer's FULL in-bucket sort (the
          // sidecar carries it), so a fresh session's registration
          // claims the same order the write paid for
          try s.sql(s"CREATE TABLE $t ($ddl) USING parquet " +
            s"CLUSTERED BY (${keys.mkString(", ")}) " +
            s"SORTED BY (${sortCols.mkString(", ")}) " +
            s"INTO $n BUCKETS LOCATION '$path'")
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              if (!s.catalog.tableExists(t)) throw e
          }
        }
        // same reclamation contract as the chain tables: gc drops the
        // registration when it deletes the generation's files
        chainRegistry.put(t, Seq(
          Paths.get(path).toAbsolutePath.normalize.toString))
        s.table(t)
      // no sidecar (or a short unrecognized one): plain parquet
      case _ => s.read.parquet(path)
    }

  /** Partition column carrying a chain generation's DEPTH (0 = the
    * pointed generation, increasing toward the base) in the aligned
    * chain table — a name no store relation uses, so it can never
    * shadow a data column.
    */
  val ChainDepthCol = "graft_gd"

  private def chainName(norm: Seq[String], n: Int, keys: Seq[String],
                        sortCols: Seq[String], ddl: String): String =
    "graft_chn_" + md5Hex(
      norm.mkString("|") + "|" + n + "|" + keys.mkString(",") + "|" +
        sortCols.mkString(",") + "|" + ddl, 16)

  /** The alignment gate, ONE implementation for the read path and the
    * name derivation (a near-copy that drifted would make the test
    * hook assert on names the read path never creates — the md5Hex
    * near-copy lesson again): Some((normalized paths, n, keys,
    * sortCols, ddl)) when every path carries an IDENTICAL bucketed
    * layout, None otherwise (→ plain-union fallback).
    */
  private def alignedLayout(paths: Seq[String])
      : Option[(Seq[String], Int, Seq[String], Seq[String], String)] = {
    val layouts = paths.map(sidecarLayout)
    if (paths.size < 2 || layouts.exists(_.isEmpty) ||
        layouts.flatten.distinct.size != 1) None
    else {
      val (n, keys, sortCols, ddl) = layouts.head.get
      Some((paths.map(p =>
        Paths.get(p).toAbsolutePath.normalize.toString),
        n, keys, sortCols, ddl))
    }
  }

  /** The catalog table name [[readChainAligned]] resolves `paths` to,
    * when their layouts align — a test hook (the catalog-growth spec
    * asserts on SPECIFIC registrations: chain reads happen inside the
    * StoreCtl verbs too, so global table counts are not attributable).
    */
  private[graft] def chainTableFor(paths: Seq[String]): Option[String] =
    alignedLayout(paths).map { case (norm, n, keys, sortCols, ddl) =>
      chainName(norm, n, keys, sortCols, ddl)
    }

  /** Store-relation table registrations made by THIS JVM — both the
    * aligned CHAIN tables and readRel's single-generation bucketed
    * tables: table name → the relation-dir paths it was registered
    * over. gc keys registration reclamation off it — see
    * [[dropChainTablesFor]].
    */
  private val chainRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]

  /** Chain tables whose registration failed TWICE in this JVM (an
    * unwritable scratch dir, a read-only shared metastore, an
    * un-parseable DDL), with a count of the plain-union reads served
    * since: later reads of the same chain skip the create+retry and
    * the warning — the failure was already shouted once — but every
    * [[ChainFailedReprobe]]th read re-attempts registration, so a
    * TRANSIENT double-failure (two gc races in one window) heals
    * instead of forfeiting the exchange-free shape for the JVM's
    * lifetime on an assumption of persistence nothing verified.
    */
  private val chainRegisterFailed =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  private val ChainFailedReprobe = 32L

  /** Drop every registration (chain table OR single-generation
    * bucketed table) that references a generation dir in
    * `deletedDirs` (what a gc run just collected), and remove a chain
    * table's scratch metadata dir. Registration lifetime thus mirrors
    * FILE lifetime exactly: a chain stays registered as long as its
    * generations are readable (a frozen stream keeps serving through
    * any number of delta advances — gc keeps the pointed generation's
    * whole ancestor chain), and the catalog entry dies with the files
    * (when the table is dropped, the files are already gone, so a
    * reader of that chain was dead either way — the drop only turns a
    * mid-scan FileNotFound into a plan-time table-not-found). The
    * registry is JVM-local: sessions on a shared external catalog
    * reclaim only their own registrations; another JVM's entries for
    * the same chain dangle there until that JVM's gc runs (the
    * pre-reclamation status quo, metadata-only). Returns the dropped
    * table names.
    */
  private[graft] def dropChainTablesFor(
      s: org.apache.spark.sql.SparkSession,
      deletedDirs: Seq[String]): Seq[String] = {
    val dead = deletedDirs
      .map(d => Paths.get(d).toAbsolutePath.normalize.toString).toSet
    import scala.jdk.CollectionConverters._
    chainRegistry.asScala.toSeq.collect {
      case (t, paths) if paths.exists(p =>
          Option(Paths.get(p).getParent).exists(g =>
            dead(g.toString))) =>
        try s.sql(s"DROP TABLE IF EXISTS $t")
        catch { case _: org.apache.spark.sql.AnalysisException => () }
        chainRegistry.remove(t)
        chainRegisterFailed.remove(t)
        // best-effort: the scratch metadata dir is empty by
        // construction (no row ever lands in the table's own LOCATION)
        try Files.deleteIfExists(Paths.get(scratchDir("graft_chnmeta_", t)))
        catch { case _: java.io.IOException => () }
        t
    }
  }

  /** Read `paths` (one relation dir per chain generation, newest
    * first) as ONE partitioned + BUCKETED external catalog table —
    * one partition per generation via custom partition LOCATIONs —
    * when every generation carries an IDENTICAL bucketed layout
    * (same bucket count, keys, and schema DDL). Spark's bucketed scan
    * then groups files by bucket id ACROSS partitions and reports
    * HashPartitioning(keys, n) for the whole chain, so probe joins
    * and per-key aggs stay EXCHANGE-FREE at ANY chain depth — before
    * r19.5 the chain union dropped the partitioning and every
    * micro-batch probe re-exchanged the corpus-scale index until
    * `compact` sealed the chain. Returns None (callers fall back to
    * the plain union) when any generation predates the bucketed
    * layout or the layouts diverge (a `graft.store.buckets` change
    * mid-chain); compact re-seals such chains into the aligned shape.
    *
    * `depthCol` exposes the generation index as a column (the
    * assignment reader's last-writer-wins `min_by` wants it); None
    * drops it. The table name hashes the normalized paths + layout +
    * DDL, so any session on the shared catalog resolves the same
    * chain to the same table and a DIFFERENT chain (one more delta)
    * registers fresh. Superseded registrations do NOT dangle
    * unboundedly: every registration lands in [[chainRegistry]] and
    * `StoreCtl gc` reclaims, via [[dropChainTablesFor]], exactly the
    * tables whose generation files it just deleted — registration
    * lifetime mirrors FILE lifetime, so a frozen stream keeps listing
    * its partitions through the live catalog for as long as its
    * chain's generations exist (gc keeps the pointed generation's
    * whole ancestor chain, so delta advances never strand a running
    * stream — the restart-to-advance contract's envelope is
    * untouched). Dropping an EXTERNAL table is metadata-only, and a
    * BATCH reader racing a drop self-heals: registration is
    * deterministic, so the read path below retries create+read once
    * before falling back — LOUDLY, on stderr — to None (= the
    * caller's plain union; a persistent registration failure must
    * not silently forfeit the exchange-free shape, and a registration
    * that fails twice is RECORDED so later reads of the same chain go
    * straight to the union without re-warning — re-probing
    * periodically so a transient double-failure heals). The
    * idempotent ADD PARTITION — a catalog WRITE — runs only when a
    * catalog READ (listPartitionNames) finds the partition set
    * incomplete: a racer that sees the table between a creator's
    * CREATE and its ADD counts zero partitions and runs the ADD
    * itself, and a drop+recreate by ANOTHER session is seen the same
    * way (a JVM-local "already added" memo could not see it and would
    * read the half-registered table as silently empty). Sort order is
    * NOT claimed across a chain
    * (multiple files per bucket), so consumers pay a local sort,
    * never an exchange.
    */
  private[graft] def readChainAligned(
      s: org.apache.spark.sql.SparkSession, paths: Seq[String],
      depthCol: Option[String]): Option[org.apache.spark.sql.DataFrame] = {
    val (norm, n, keys, sortCols, ddl) = alignedLayout(paths) match {
      case None    => return None
      case Some(l) => l
    }
    val t = chainName(norm, n, keys, sortCols, ddl)
    // a registration that already failed twice is USUALLY persistent
    // (read-only metastore, unwritable scratch) — serve the plain
    // union without re-paying create+retry or re-printing the
    // warning, but re-probe every ChainFailedReprobe-th read so a
    // transient double-failure (two drop races in one window) heals
    // without a JVM restart
    val failedSince = chainRegisterFailed.computeIfPresent(t,
      (_, c) => c + 1L)
    if (failedSince != null && failedSince % ChainFailedReprobe != 0L)
      return None
    def registerAndRead(force: Boolean): org.apache.spark.sql.DataFrame = {
      if (!s.catalog.tableExists(t)) {
        // the table's own LOCATION is never read (every row lives in a
        // partition's custom location) — a scratch dir keeps the
        // metadata out of the immutable generation dirs; created up
        // front so resolveRelation's metadata probe doesn't log a
        // spurious FileNotFound warning per CREATE
        val loc = scratchDir("graft_chnmeta_", t)
        Files.createDirectories(Paths.get(loc))
        try s.sql(s"CREATE TABLE $t ($ddl, $ChainDepthCol INT) " +
          s"USING parquet PARTITIONED BY ($ChainDepthCol) " +
          s"CLUSTERED BY (${keys.mkString(", ")}) " +
          s"SORTED BY (${sortCols.mkString(", ")}) " +
          s"INTO $n BUCKETS LOCATION '$loc'")
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            if (!s.catalog.tableExists(t)) throw e
        }
      }
      // the ADD — a catalog WRITE, the thing a read-only metastore
      // warn-loops on — runs only when the partition set is
      // INCOMPLETE, judged by a catalog READ each time rather than a
      // JVM memo: a memo cannot see another session's drop+recreate,
      // so a memoized skip could read a racer's freshly-created,
      // not-yet-ADDed table as silently EMPTY — rows just missing,
      // the worst store failure mode. The count check is sufficient:
      // the name hashes the normalized paths, so any session ADDs the
      // same deterministic partition set.
      if (force || s.sessionState.catalog.listPartitionNames(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).size <
          norm.size)
        s.sql(s"ALTER TABLE $t ADD IF NOT EXISTS " + norm.zipWithIndex
          .map { case (p, i) =>
            s"PARTITION ($ChainDepthCol=$i) LOCATION '$p'" }
          .mkString(" "))
      s.table(t)
    }
    val data =
      try registerAndRead(force = false)
      catch {
        // a concurrent gc dropped this registration between our exists
        // check and the read — re-register once (deterministic name);
        // a second failure is treated as persistent (un-parseable DDL,
        // catalog permissions, an unwritable scratch dir — IOException
        // from createDirectories degrades here too, not up through the
        // chain read): shout ONCE, record it, and fall back to the
        // plain union rather than silently forfeiting the
        // exchange-free shape
        case _: org.apache.spark.sql.AnalysisException |
             _: java.io.IOException =>
          try registerAndRead(force = true)
          catch {
            case e @ (_: org.apache.spark.sql.AnalysisException |
                      _: java.io.IOException) =>
              if (failedSince == null) {
                chainRegisterFailed.put(t, 1L)
                System.err.println(s"[graft] WARNING: aligned chain " +
                  s"table $t failed to register twice ($e) — serving " +
                  s"${norm.size} generations via plain union (an " +
                  "exchange per probe); re-probing every " +
                  s"$ChainFailedReprobe reads")
              }
              return None
          }
      }
    // a successful (re-)registration clears the failure record
    chainRegisterFailed.remove(t)
    chainRegistry.put(t, norm)
    import org.apache.spark.sql.functions.col
    val cols = data.columns.filterNot(_ == ChainDepthCol).map(col).toSeq
    Some(depthCol match {
      case Some(d) => data.select(cols :+ col(ChainDepthCol).as(d): _*)
      case None    => data.select(cols: _*)
    })
  }

  /** Relation `rel` across `dir`'s delta chain — ONE
    * (bucketed-table-aware) read for a self-contained generation, the
    * ALIGNED partitioned-bucketed chain table when every generation
    * shares the layout (exchange-free at any depth, see
    * [[readChainAligned]]), a plain union otherwise. Generations
    * missing the relation contribute nothing (pre-layout generations
    * lack `grp`); at least one must hold it.
    */
  def readRelChain(s: org.apache.spark.sql.SparkSession, dir: String,
                   rel: String): org.apache.spark.sql.DataFrame = {
    val gens = chainPaths(dir) match {
      case Left(e)  => throw new IllegalStateException(e)
      case Right(g) => g
    }
    val present = gens.filter(g => Files.isDirectory(Paths.get(g, rel)))
    if (present.isEmpty)
      throw new IllegalStateException(
        s"no generation in $dir's chain holds $rel/")
    if (present.size == 1) readRel(s, s"${present.head}/$rel")
    else readChainAligned(s, present.map(g => s"$g/$rel"), None)
      .getOrElse(present.map(g => readRel(s, s"$g/$rel"))
        .reduce(_ union _))
  }

  /** Best-effort chain NAMES from a root's generation — for gc's keep
    * set and doctor's would-collect preview (which must agree with gc
    * exactly). Unlike [[chainPaths]] this never fails: a dangling link
    * keeps the resolvable prefix (gc must still protect what exists).
    */
  private[graft] def chainNamesLenient(root: String, gen: String): Set[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    var cur = gen
    var done = false
    while (!done) {
      if (!out.add(cur)) done = true
      else readParent(Paths.get(root, cur)) match {
        case Some(p) if Files.isDirectory(Paths.get(root, p)) => cur = p
        case _ => done = true
      }
    }
    out.toSet
  }

  /** gc's keep set when the pointer at `root` reads (gen, prev): the
    * pointed generation's WHOLE (lenient) chain plus prev's — a delta
    * generation is useless without its parents, and prev's chain gets
    * the same one-cycle reader grace its own dir does. ONE
    * implementation for [[gc]] and StoreCtl doctor's would-collect
    * preview, so the preview can never silently drift from the verb.
    */
  private[graft] def gcKeepSet(root: String, gen: String,
                               prev: Option[String]): Set[String] =
    chainNamesLenient(root, gen) ++
      prev.toSet.flatMap(chainNamesLenient(root, _: String))

  /** Committed gen-numbered generations strictly ABOVE the pointed
    * one — the litter of an `advance` that crashed between its fold's
    * marker and the flip. gc spares them (they hold a folded batch no
    * other generation has), but a later `advance`/`compact` MUST NOT
    * proceed past them: it would allocate gen-(max+1), fold from the
    * POINTED generation, and flip ABOVE the crashed one — after which
    * the crashed fold's generation falls below the pointer and the
    * next gc silently deletes it, losing its batch with no operator
    * signal. Callers refuse and direct the operator to flip to it or
    * gc it explicitly first.
    */
  def committedAbovePointer(root: String): Seq[String] =
    readCurrent(root).toSeq.flatMap { case (gen, _) =>
      val GenPat = "gen-(\\d+)".r
      val pointedNum = gen match {
        case GenPat(n) => Some(n.toLong)
        case _         => None
      }
      Option(new java.io.File(root).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && committed(f.toPath))
        .filter(f => (pointedNum, f.getName) match {
          case (Some(p), GenPat(n)) => n.toLong > p
          case _                    => false
        })
        .map(_.getName).sorted
    }

  /** Delete committed generations under `root` other than the pointed
    * one, its grace-window `prev`, and any gen-numbered generation
    * NEWER than the pointed one. Uncommitted subdirs are LEFT ALONE —
    * an in-flight fold's output is uncommitted by construction
    * (marker lands last) and deleting it would corrupt a concurrent
    * writer, the exact race the marker protocol exists to close.
    * Newer committed generations are kept for the advance-crash
    * window: an `advance` that crashed between its fold's marker and
    * the flip leaves a committed `gen-<n>` with n above the pointer —
    * exactly the generation the docs tell an operator to flip to by
    * hand — and a cron'd gc racing that flip must not destroy the
    * fold's output. Returns the deleted subdir names.
    */
  def gc(root: String): Either[String, Seq[String]] =
    readCurrent(root) match {
      case None => Left(s"no $CurrentName pointer at $root — refusing " +
        "to gc an unpointed root (nothing marks a generation as live)")
      case Some((gen, prev)) =>
        val keep = gcKeepSet(root, gen, prev)
        val GenPat = "gen-(\\d+)".r
        val pointedNum = gen match {
          case GenPat(n) => Some(n.toLong)
          case _         => None
        }
        def newerThanPointed(name: String): Boolean =
          (pointedNum, name) match {
            case (Some(p), GenPat(n)) => n.toLong > p
            case _                    => false
          }
        val victims = Option(new java.io.File(root).listFiles()).toSeq
          .flatten
          .filter(f => f.isDirectory && !keep(f.getName) &&
            !newerThanPointed(f.getName) && committed(f.toPath))
        def rec(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).toSeq.flatten.foreach(rec)
          f.delete()
        }
        // The COMMIT MARKER is removed FIRST, and a victim's data is
        // only touched once that delete is confirmed: if collection
        // crashes (or a file is undeletable) partway, the remainder is
        // marker-less litter that committed() rejects — never a
        // half-gutted dir a later flip would happily serve (the
        // marker-last build protocol, inverted for teardown).
        val gone = victims.flatMap { f =>
          val markerGone = Markers.map(m => f.toPath.resolve(m).toFile)
            .forall(m => !m.exists() || m.delete())
          if (markerGone) { rec(f); Some(f.getName) } else None
        }
        Right(gone.sorted)
    }
}
