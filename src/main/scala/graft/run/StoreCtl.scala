package graft.run

import org.apache.spark.sql.SparkSession
import graft.Engine
import graft.operators.{Banded, Similarity, StoreFiles, StoreKind}

/** Operational CLI for the persistent model/index stores — the
  * named-path face of what the driver keys exercise through
  * per-process scratch dirs. A deployment builds a store once,
  * folds ingest batches as immutable next generations, and serves
  * whichever generation path it points readers at (the ShardCtl
  * discipline, extended to the four store kinds):
  *
  *   runMain graft.run.StoreCtl build <kind> <corpus> <store> [pred]
  *   runMain graft.run.StoreCtl fold [--delta] <kind> <corpus> <store> <out> <pred>
  *   runMain graft.run.StoreCtl stats <store>
  *   runMain graft.run.StoreCtl flip  <root> <gen>
  *   runMain graft.run.StoreCtl serve <root>
  *   runMain graft.run.StoreCtl gc    <root>
  *   runMain graft.run.StoreCtl advance [--delta [--compact-at n]] <kind> <corpus> <root> <pred>
  *   runMain graft.run.StoreCtl compact <kind> <root>
  *   runMain graft.run.StoreCtl chain   <root>
  *   runMain graft.run.StoreCtl doctor  [--fix] <root>
  *   runMain graft.run.StoreCtl recall  [--sample n] <root> <corpus>
  *
  * kind = cluster | embed | ivfpq | phash. `pred` is a SQL predicate
  * over the kind's corpus table (documents for cluster/phash,
  * embeddings for embed/ivfpq); build defaults to the whole corpus.
  * `fold` writes generation `out` from `store` + the matching rows —
  * never touching `store` (crash-safe by construction: `out` is
  * incomplete until its manifest lands, and readers of `store` are
  * undisturbed). `stats` prints the manifest. Exit 0 on success, 1 on
  * usage/operator error.
  *
  * flip/serve/gc manage a generation ROOT — a directory whose subdirs
  * are the immutable generations a build+fold chain lands (any kind):
  * `flip` atomically points `_CURRENT.json` at a committed generation,
  * `serve` resolves the pointed generation's path for readers, and
  * `gc` collects committed generations that are neither pointed-at nor
  * the last flip's displaced `prev` (one gc cycle of reader grace —
  * the shard compactor's replaced-generation discipline). Uncommitted
  * subdirs are never collected: an in-flight fold's output has no
  * marker yet, and deleting it would corrupt the concurrent writer.
  * `advance` is the one-command ingest-batch operation a deployment
  * crons: fold the SERVED generation + the predicate's rows into the
  * next free `gen-<n>` subdir, then flip — crash before the fold's
  * marker lands leaves the pointer untouched and the litter's name
  * reserved, crash between marker and flip leaves a committed
  * generation an operator can flip to by hand.
  *
  * `recall` is the drift alarm a deployment runs before trusting a
  * cron'd `advance` on an ivfpq root: it serves the pointed
  * generation and prints the measured recall report
  * (sim_ann_recall_stored's arithmetic — exact integer-L2 top-3
  * within each query's probed pool vs the ADC refine window) plus the
  * mean recall fraction. Frozen gen-0 codebooks accumulate
  * quantization error silently as folds append; this verb measures it
  * against the live corpus instead of assuming it. `--sample n`
  * budgets the alarm on a production store: only the n
  * smallest-hash query ids are measured (a deterministic subset —
  * the sampled report equals the full report restricted to it;
  * Similarity.RecallSampleKey).
  *
  * `--delta` lands ONLY the increment's rows in the new generation
  * plus a `_PARENT` link naming the generation it extends — fold
  * bytes ∝ batch instead of store, the hourly-cadence shape
  * BENCHING.md's write-amplification table costs out. Readers
  * (serve-side loads, the streaming probes, `recall`, `compact`)
  * union each relation across the pointed generation's chain; gc
  * keeps a pointed/prev generation's whole chain alive. The
  * cluster/embed kinds' append-only relations (sigs/vecs/bands/grp)
  * delta like phash's; their ASSIGNMENT is global state — a fold can
  * relabel OLD rows through new-batch bridges — so a delta
  * generation's assignment holds exactly the rows the merge CHANGED
  * (new docs + relabels) and readers recover the full relation with
  * last-writer-wins per id over the chain (Dedup.storeAssignment:
  * one min-by-depth aggregation at serve time, sealed away nightly
  * by `compact`).
  *
  * A delta chain's serve cost grows linearly with depth (per-
  * generation scan listings, the assignment's min-by rows), so
  * `advance --delta` is depth-guarded: past `graft.store.chain.warn`
  * generations it lands but warns loudly, past `graft.store.chain.max`
  * it refuses until a `compact` seals the chain — a missed compact
  * cron degrades loudly instead of silently (see [[ChainWarnKey]]).
  * The chain's probe joins do NOT pay an exchange, though: a chain
  * whose generations share the bucketed layout reads as one
  * partitioned+bucketed ALIGNED table (StoreFiles.readChainAligned),
  * so the store side keeps its HashPartitioning at any depth.
  *
  * `advance --delta --compact-at n` is the single-cron shape: when the
  * post-advance depth would reach n, the batch folds straight into one
  * self-contained generation (the plain `advance` fold), never into a
  * delta that `compact` reads back and rewrites at once. The sealed
  * generation holds what advance + `compact` would write: the same
  * rows, the same manifest bytes, the bucketed serving layout, depth 1
  * and no `_PARENT` (ivfpq keeps the two steps, see `advance`). A seal
  * that throws lands the batch as a delta under a fresh name instead,
  * flips to it, and exits 1 naming the owed compact.
  *
  * `compact` seals a fold chain: it rewrites the SERVED generation's
  * relations into the BUCKETED serving layout (r19 — bucketBy on the
  * probe key, in-bucket sort on the trailing id, one file per bucket,
  * so the sealed generation's probe joins are exchange-free on the
  * store side; the ivfpq code table keeps its (cell, vec_id) global
  * sort + coalesce, since KmK distinct cells would cap scan
  * parallelism) into the next free `gen-<n>`, lands the marker last,
  * and flips. The shard
  * compactor's discipline extended to the model stores: a fold chain
  * accumulates one appended parquet landing per generation, and a
  * nightly compact caps the file count and restores scan locality
  * without touching any prior generation. Row content is IDENTICAL
  * to the source generation (a pure relayout), so every query over
  * the compacted generation bit-matches the unchained build —
  * StoreCtlSpec proves it through a fold→fold→compact→fold chain.
  */
object StoreCtl {

  /** Chain-depth guard confs (r19). Every `advance --delta` lengthens
    * the serve-time union by one generation (plus the assignment's
    * min-by-depth agg for cluster/embed), so a missed compact cron
    * degrades serve cost LINEARLY and silently. Past
    * [[ChainWarnKey]] generations the advance still lands but shouts
    * (stderr + the returned message); past [[ChainMaxKey]] it REFUSES
    * outright, before claiming a generation name — the only
    * unbounded-growth stop the chain has. Defaults: warn at 32 (one
    * fully missed nightly compact on the hourly cadence BENCHING.md
    * costs out — a healthy day peaks at ~24), refuse at 96 (several
    * missed days; serve is measurably degraded and the operator must
    * compact before the chain grows further).
    */
  val ChainWarnKey = "graft.store.chain.warn"
  val ChainMaxKey = "graft.store.chain.max"
  // one definition for the three consumers (advance guard, chain
  // verb, doctor) — drifting defaults would make doctor's diagnosis
  // disagree with the guard's actual refusal boundary
  private val ChainWarnDefault = "32"
  private val ChainMaxDefault = "96"
  private def chainWarnAt(spark: SparkSession): Int =
    spark.conf.get(ChainWarnKey, ChainWarnDefault).toInt
  private def chainMaxAt(spark: SparkSession): Int =
    spark.conf.get(ChainMaxKey, ChainMaxDefault).toInt

  /** Dispatch, session-in / message-out — testable without owning the
    * session lifecycle (mirrors the suite-shared-session constraint).
    * The operand-validation exceptions the verb implementations throw
    * (a cross-root `fold --delta` hitting the sibling-root require, a
    * broken chain's IllegalStateException, an unreadable marker's
    * IOException) are part of the exit-1-with-message contract, not
    * stack traces — converted here so every verb keeps it.
    */
  private[graft] def run(spark: SparkSession,
                         args: Seq[String]): Either[String, String] =
    try { graft.GraftExtensions.attach(spark); dispatch(spark, args) }
    catch {
      case e @ (_: IllegalArgumentException | _: IllegalStateException |
                _: java.io.IOException) =>
        Left(Option(e.getMessage).getOrElse(e.toString))
    }

  private def dispatch(spark: SparkSession,
                       args: Seq[String]): Either[String, String] =
    args match {
      case Seq("build", kind, corpus, store) =>
        build(spark, kind, corpus, store, None)
      case Seq("build", kind, corpus, store, pred) =>
        build(spark, kind, corpus, store, Some(pred))
      case Seq("fold", kind, corpus, store, out, pred) =>
        fold(spark, kind, corpus, store, out, pred)
      case Seq("fold", "--delta", kind, corpus, store, out, pred) =>
        fold(spark, kind, corpus, store, out, pred, delta = true)
      case Seq("stats", store) =>
        StoreFiles.marker(store) match {
          case None =>
            Left(s"no manifest at $store (not a committed store)")
          case Some(p) =>
            Right(new String(java.nio.file.Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8))
        }
      case Seq("flip", root, gen) =>
        StoreFiles.flip(root, gen).map(p => s"[flip] serving $p")
      case Seq("serve", root) =>
        StoreFiles.serve(root)
      case Seq("gc", root) =>
        StoreFiles.gc(root).map {
          case Seq() => s"[gc] nothing to collect at $root"
          case gone  =>
            // reclaim this JVM's table registrations (aligned chain
            // tables + single-generation bucketed tables) whose
            // generation files just died — registration lifetime
            // mirrors file lifetime (StoreFiles.dropChainTablesFor)
            val dropped = StoreFiles.dropChainTablesFor(spark,
              gone.map(g => new java.io.File(root, g).toString))
            s"[gc] collected ${gone.mkString(", ")}" +
              (if (dropped.isEmpty) ""
               else s"; dropped ${dropped.length} store-table " +
                 "registration(s)")
        }
      case Seq("advance", kind, corpus, root, pred) =>
        advance(spark, kind, corpus, root, pred, delta = false)
      case Seq("advance", "--delta", kind, corpus, root, pred) =>
        advance(spark, kind, corpus, root, pred, delta = true)
      case Seq("advance", "--delta", "--compact-at", n, kind, corpus,
               root, pred) =>
        // the unattended-cadence face: a cron'd delta advance that
        // seals INLINE once the post-advance depth would reach n (one
        // pass, see `advance`), so a deployment with no separate
        // compact cron never walks into the depth guard's refusal
        // (warn-only guards still degrade silently for an operator
        // who never reads the warnings)
        n.toIntOption.filter(_ >= 2) match {
          case None => Left(s"--compact-at wants an int >= 2 (a delta " +
            s"advance always lands at depth >= 2), got '$n'")
          // a threshold past the hard guard can never fire: depth
          // would hit the ChainMaxKey REFUSAL first and the cron would
          // wedge — the exact silent degradation this flag prevents
          case Some(at) if at > chainMaxAt(spark) =>
            Left(s"--compact-at $at sits past $ChainMaxKey=" +
              s"${chainMaxAt(spark)}: the depth guard would refuse " +
              "the advance before the inline compact ever ran; pick " +
              "a threshold at or below the max (or raise the max)")
          case Some(at) => advance(spark, kind, corpus, root, pred,
            delta = true, compactAt = Some(at))
        }
      case Seq("compact", kind, root) =>
        compact(spark, kind, root)
      case Seq("chain", root) =>
        // the depth guard's observability face: when `advance --delta`
        // warns (or refuses), THIS is what the operator runs to see
        // what compact would seal — the served chain base-last, with
        // per-generation bytes and the live thresholds
        StoreFiles.serve(root).flatMap { cur =>
          StoreFiles.chainPaths(cur).map { gens =>
            val warnAt = chainWarnAt(spark)
            val maxAt = chainMaxAt(spark)
            val lines = gens.zipWithIndex.map { case (g, i) =>
              val f = new java.io.File(g)
              val link = StoreFiles
                .readParent(java.nio.file.Paths.get(g))
                .map(p => s" -> $p").getOrElse(" (self-contained)")
              f"  [$i] ${f.getName}%-12s ${StoreFiles.treeBytes(f)}%12d B$link"
            }
            // state mirrors what the NEXT delta advance will do
            // (the guard tests depth-after = length + 1), so the verb
            // agrees with the refusal message at the exact boundary
            val state =
              if (gens.length + 1 > maxAt)
                " — next delta advance REFUSED; run compact"
              else if (gens.length + 1 > warnAt)
                " — next delta advance will WARN; compact soon"
              else ""
            s"[chain] $root serves ${gens.length} generation(s) " +
              s"(warn > $warnAt, refuse > $maxAt)$state\n" +
              lines.mkString("\n")
          }
        }
      case Seq("doctor", root) =>
        doctor(spark, root, fix = false)
      case Seq("doctor", "--fix", root) =>
        doctor(spark, root, fix = true)
      case Seq("recall", "--sample", n, root, corpus) =>
        // budgeted drift alarm: measure only the n smallest-hash
        // query ids (Similarity.RecallSampleKey's deterministic
        // subset) — the knob that makes the O(queries x corpus)
        // exact side affordable on a production store
        if (!n.toIntOption.exists(_ >= 1))
          return Left(s"--sample wants a positive int, got '$n'")
        Engine.withConf(spark, Similarity.RecallSampleKey -> n)(
          run(spark, Seq("recall", root, corpus)))
      case Seq("recall", root, corpus) =>
        StoreFiles.serve(root).flatMap { cur =>
          if (!java.nio.file.Files.exists(
              java.nio.file.Paths.get(cur, "model.json")))
            return Left(s"$cur is not an ivfpq generation (no " +
              "model.json) — recall measures the IVF-PQ kind")
          val model = Similarity.IvfPqStore.load(spark, cur)
          val report = Similarity
            .annRecallStoredFrame(spark, corpus, model)
            .collect()
          if (report.isEmpty)
            return Left(s"$corpus holds no query vectors " +
              s"(vec_id >= ${Similarity.IvfQ}) — nothing to measure")
          val found = report.map(_.getLong(1)).sum
          val total = 3L * report.length
          val lines = report.map(r =>
            s"  query ${r.getLong(0)}: ${r.getLong(1)}/3").mkString("\n")
          Right(s"[recall] serving $cur\n$lines\n" +
            f"[recall] mean recall@3 = $found/$total (${
              found.toDouble / total}%.3f)")
        }
      case _ =>
        Left("usage: StoreCtl build <kind> <corpus> <store> [pred] | " +
          "fold [--delta] <kind> <corpus> <store> <out> <pred> | " +
          "stats <store> | " +
          "flip <root> <gen> | serve <root> | gc <root> | " +
          "advance [--delta] <kind> <corpus> <root> <pred> | " +
          "compact <kind> <root> | chain <root> | " +
          "doctor [--fix] <root> | " +
          "recall [--sample n] <root> <corpus>\n" +
          s"  kind = ${StoreKind.all.map(_.name).mkString(" | ")} " +
          "(--delta: all kinds; --delta --compact-at n seals inline " +
          "at depth n)")
    }

  /** Relations a generation may legitimately lack: `grp` appears only
    * in rep-collapsed-layout generations (r17) — compacting an older
    * generation simply carries no membership (its bands are
    * member-level, so readers' identity fallback still holds).
    */
  private val optionalRels = Set("grp")

  private def compact(spark: SparkSession, kind: String,
                      root: String): Either[String, String] =
    StoreKind.named(kind) match {
      case None => Left(s"unknown store kind: $kind")
      case Some(k) =>
        val fullLayout = k.rels
        StoreFiles.serve(root).flatMap { cur =>
          def present(rel: String): Boolean =
            java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(cur, rel))
          val missing = fullLayout.map(_._1)
            .filterNot(optionalRels).filterNot(present)
          if (missing.nonEmpty)
            return Left(s"$cur is not a committed $kind store " +
              s"(missing ${missing.mkString(", ")}) — wrong kind?")
          // a kind whose required relations are a SUBSET of another's
          // (phash ⊂ cluster) would pass the missing check and start
          // writing before the column mismatch threw mid-compact,
          // leaving name-reserving litter — refuse while the target
          // dir is still untouched if the generation holds relations
          // this kind's layout does not know
          val knownRels = StoreKind.all.flatMap(_.rels).map(_._1).toSet
          val foreign = knownRels.filterNot(fullLayout.map(_._1).toSet)
            .filter(present)
          if (foreign.nonEmpty)
            return Left(s"$cur holds ${foreign.mkString(", ")} — not a " +
              s"$kind store; refusing before writing anything")
          refuseOrphans(root) match {
            case Some(m) => return Left(m)
            case None    => ()
          }
          val layout = fullLayout.filter(r => present(r._1))
          val next = StoreFiles.nextGenName(root)
          val outPath = java.nio.file.Paths.get(root, next)
          // claim the name atomically (the advance discipline): a
          // concurrent advance/compact must not share the dir
          try java.nio.file.Files.createDirectory(outPath)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              return Left(s"$outPath already exists — a concurrent " +
                "advance/compact is in flight (or its litter needs " +
                "an operator decision); refusing to write into it")
            case e: java.io.IOException =>
              return Left(s"cannot create $outPath: $e")
          }
          layout.foreach { case (rel, keys) =>
            Engine.phase(spark, s"$kind compact: write $rel") {
              // chain-aware read, the way readers resolve it (a delta
              // assignment last-writer-wins — a relabeled old row must
              // not resurface from the parent; grp with a pre-layout
              // base's identity membership) — compact is exactly the verb
              // that seals a chain back into one generation, so the
              // output carries no _PARENT by construction
              val frame = StoreKind.readChain(spark, cur, rel, k.id)
              // the sealed layout is the SERVING layout: every relation
              // except codes lands BUCKETED on its probe key with the
              // trailing id as the in-bucket sort (StoreFiles
              // .writeBucketed) — one generation, one file per bucket,
              // the in-bucket sort claim restored (an aligned CHAIN
              // keeps the exchange-free partitioning but has multiple
              // files per bucket, so it pays local sorts and per-gen
              // listings that a compact retires). codes keeps the
              // (cell, vec_id) global sort + coalesce: its join key has
              // only KmK distinct values, so bucketing by cell would cap
              // the corpus scan at KmK tasks — the serve side is already
              // exchange-free there (the query side broadcasts), and
              // cell-pruned locality comes from the sort's row groups.
              // Its file count scales with the codes, like every other
              // corpus-scale frame (Dedup.repPartitions).
              if (rel == "codes")
                frame
                  .sort(keys.map(org.apache.spark.sql.functions.col): _*)
                  .coalesce(graft.operators.Dedup.repPartitions(spark,
                    frame.count()))
                  .write.mode("error").parquet(s"$outPath/$rel")
              else StoreFiles.writeOrdered(frame, s"$outPath/$rel", keys)
            }
          }
          // marker LAST, verbatim from the source generation (same
          // counts — a compact adds no rows), temp + ATOMIC_MOVE:
          // crash mid-compact leaves marker-less litter gc ignores
          StoreFiles.marker(cur) match {
            case None => Left(s"$cur lost its marker mid-compact")
            case Some(m) =>
              val json = new String(java.nio.file.Files.readAllBytes(m),
                java.nio.charset.StandardCharsets.UTF_8)
              val tmp = java.nio.file.Files.createTempFile(
                outPath, m.getFileName.toString + ".", ".tmp")
              java.nio.file.Files.write(tmp, json.getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              java.nio.file.Files.move(tmp,
                outPath.resolve(m.getFileName.toString),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              StoreFiles.flip(root, next)
                .map(p => s"[compact] sealed $cur as $next, serving $p")
          }
        }
    }

  /** The cron'd ingest-batch verb: fold the SERVED generation + the
    * predicate's rows into the next free `gen-<n>`, then flip.
    * `delta = true` lands only the increment (the hourly-cadence
    * shape — bytes ∝ batch); readers resolve the chain, and a nightly
    * `compact` seals it. `compactAt = Some(n)` seals INLINE whenever
    * the post-advance depth would reach n — the single-cron
    * deployment shape. The seal is ONE pass: the batch folds straight
    * into a self-contained generation (the non-delta fold, whose
    * relations land in compact's bucketed serving layout and whose
    * rows and manifest are those advance + `compact` would write), so
    * no delta is written only to be read back and rewritten. ivfpq
    * keeps the two steps: its self-contained fold writes the codes
    * unsorted, and compact's (cell, vec_id) sort is its serving
    * layout. Never a lost batch: if the one-pass fold throws, the
    * batch lands as a delta under a fresh generation name and flips,
    * and the verb fails saying the seal is owed — the missed-compact
    * state the depth guard already handles. The failed attempt's dir
    * is marker-less litter that gc and doctor already handle.
    */
  private def advance(spark: SparkSession, kind: String, corpus: String,
                      root: String, pred: String, delta: Boolean,
                      compactAt: Option[Int] = None)
      : Either[String, String] =
    StoreFiles.serve(root).flatMap { cur =>
      refuseOrphans(root) match {
        case Some(m) => return Left(m)
        case None    => ()
      }
      // chain-depth guard — BEFORE claiming a generation name, so a
      // refusal leaves no litter (see ChainWarnKey's contract)
      val depthAfter =
        if (!delta) 1
        else StoreFiles.chainPaths(cur) match {
          case Left(e)  => return Left(e)
          case Right(g) => g.length + 1
        }
      val warnAt = chainWarnAt(spark)
      val maxAt = chainMaxAt(spark)
      if (delta && depthAfter > maxAt)
        return Left(s"delta chain at $root would reach $depthAfter " +
          s"generations (> $ChainMaxKey=$maxAt) — every read pays a " +
          s"$depthAfter-way union; run `compact $root` to seal the " +
          "chain, then re-run")
      // fold into the next free generation and flip to it
      def landAs(asDelta: Boolean): Either[String, String] = {
        val next = StoreFiles.nextGenName(root)
        val outPath = java.nio.file.Paths.get(root, next)
        // CLAIM the name atomically before folding: two overlapping
        // advance runs (a slow fold under the next cron tick) would
        // otherwise both read the same nextGenName and interleave
        // writes into one generation dir. createDirectory fails on
        // an existing dir, so exactly one run proceeds.
        try java.nio.file.Files.createDirectory(outPath)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            return Left(s"$outPath already exists — a concurrent " +
              "advance is in flight (or its litter needs an " +
              "operator decision); refusing to write into it")
          case e: java.io.IOException =>
            return Left(s"cannot create $outPath: $e")
        }
        fold(spark, kind, corpus, cur, outPath.toString, pred, asDelta)
          .flatMap(_ => StoreFiles.flip(root, next))
      }
      def landed(p: String): String =
        if (delta && depthAfter > warnAt) {
          val w = s"[advance] WARNING: delta chain depth " +
            s"$depthAfter exceeds $ChainWarnKey=$warnAt — serve " +
            s"pays a $depthAfter-way union per read; run " +
            s"`compact $root` (refused outright past " +
            s"$ChainMaxKey=$maxAt)"
          System.err.println(w)
          s"[advance] serving $p\n$w"
        } else s"[advance] serving $p"
      // exit 1 so the cron alerts, but say loudly that the advance
      // itself LANDED — the operator's store serves the new batch;
      // only the seal is owed
      def sealOwed(msg: String, e: Any): Left[String, String] =
        Left(s"$msg\n[advance] inline compact (--compact-at " +
          s"${compactAt.get}) FAILED after the advance landed " +
          s"and flipped — the chain still serves at depth " +
          s"$depthAfter; run `compact $root` by hand: $e")
      val seal = compactAt.exists(depthAfter >= _)
      if (seal && StoreKind.named(kind).exists(_.isInstanceOf[Banded])) {
        val once =
          try landAs(asDelta = false)
          catch {
            case scala.util.control.NonFatal(e) =>
              return landAs(asDelta = true)
                .flatMap(p => sealOwed(landed(p), e))
          }
        once.map(p => s"[advance] serving $p\n[compact] sealed $cur " +
          s"and the batch in one pass, serving $p")
      } else
        landAs(delta).map(landed).flatMap { msg =>
          // ivfpq's inline compact runs AFTER the flip: the advanced
          // batch is already durable and served whatever happens below
          if (!seal) Right(msg)
          else compact(spark, kind, root) match {
            case Right(cm) => Right(s"$msg\n$cm")
            case Left(e)   => sealOwed(msg, e)
          }
        }
    }

  /** The advance-crash window guard: a committed gen-numbered
    * generation ABOVE the pointer is a crashed advance's folded batch
    * (marker landed, flip didn't). gc spares it, but an advance/
    * compact that proceeds past it would flip above it — dropping it
    * below the pointer, where the next gc silently deletes the only
    * copy of that batch. Refuse with the two safe exits.
    */
  private def refuseOrphans(root: String): Option[String] = {
    val orphans = StoreFiles.committedAbovePointer(root)
    if (orphans.isEmpty) None
    else Some(s"committed generation(s) ${orphans.mkString(", ")} sit " +
      s"ABOVE the pointer at $root — a crashed advance's folded batch. " +
      "Advancing past them would strand them below the next pointer, " +
      "where gc deletes their batch silently. Either `flip` to the " +
      "newest one (it already holds the served generation + its batch) " +
      "or delete it explicitly, then re-run.")
  }

  /** `doctor [--fix] <root>`: post-incident triage of a generation
    * root — the checklist an operator would otherwise reconstruct from
    * the marker/pointer/chain docs after a crashed advance, a missed
    * compact cron, or a half-finished gc. Read-only by default and
    * never refuses a sick root (a missing pointer is a DIAGNOSIS here,
    * not a precondition): it returns one report with findings split
    * into WARN (readers are or will be refusing; operator action
    * needed) and note (degraded or awaiting a routine verb), plus a
    * would-collect preview computed from gc's OWN keep-set logic so
    * the two can never disagree. Checks: pointer exists / names a
    * committed generation, the served chain walks (dangling parents,
    * cycles), chain depth vs the live guard thresholds, bucketed-
    * layout consistency per relation across the chain (a mixed chain
    * serves via plain union until compact re-seals it — the note
    * names the bucket count the session's compact would re-seal at),
    * committed generations stranded ABOVE the pointer (a crashed
    * advance's batch — the refuseOrphans story), uncommitted litter,
    * and DANGLING store-table registrations: `graft_bkt_`/`graft_chn_`
    * catalog entries whose LOCATION (or any partition location) no
    * longer exists on disk. A session's own gc reclaims its own
    * registrations (registration lifetime = file lifetime), but the
    * registry is JVM-local, so a DEAD JVM's entries dangle on a
    * shared catalog forever — doctor lists them, and `--fix` (the one
    * mutation the verb has, opt-in) drops exactly those; a table
    * whose locations all exist is never touched, serving or not.
    * DEPLOYMENT CAVEAT: the audit stats `file:` URIs on THIS host.
    * The store machinery assumes a shared filesystem (every reader
    * resolves the same generation paths), so a location this host
    * cannot see is dead for this host's readers too — but on a
    * metastore shared across hosts WITHOUT a shared filesystem
    * (already broken for reads), run `--fix` only from the host that
    * owns the paths; the read-only report is safe from anywhere.
    */
  private def doctor(spark: SparkSession, root: String,
                     fix: Boolean): Either[String, String] = {
    val rootF = new java.io.File(root)
    if (!rootF.isDirectory) return Left(s"$root is not a directory")
    val warns = scala.collection.mutable.ArrayBuffer[String]()
    val notes = scala.collection.mutable.ArrayBuffer[String]()
    val subdirs = Option(rootF.listFiles()).toSeq.flatten
      .filter(_.isDirectory).sortBy(_.getName)
    val committedGens = subdirs
      .filter(f => StoreFiles.committed(f.toPath)).map(_.getName)
    val uncommitted = subdirs
      .filterNot(f => StoreFiles.committed(f.toPath)).map(_.getName)

    val cur = StoreFiles.readCurrent(root)
    cur match {
      case None =>
        warns += s"no ${StoreFiles.CurrentName} pointer — nothing " +
          "marks a generation as live; readers and gc refuse. Flip " +
          "to a committed generation."
      case Some((gen, prev)) =>
        if (!committedGens.contains(gen))
          warns += s"pointer names '$gen' but it holds no committed " +
            "store — readers fail at plan time; flip to a live " +
            "generation"
        prev.filterNot(p => subdirs.exists(_.getName == p)).foreach {
          p =>
            notes += s"grace-window prev '$p' is gone — harmless " +
              "unless a reader planned against the old pointer " +
              "and is still running"
        }
    }

    // the served chain: walkable, inside the depth guards, layouts
    // aligned (mixed layouts serve correctly but pay the plain-union
    // exchange until compact re-seals)
    cur.filter(c => committedGens.contains(c._1)).foreach {
      case (gen, _) =>
        val genPath = new java.io.File(rootF, gen).toString
        StoreFiles.chainPaths(genPath) match {
          case Left(e) => warns += s"served chain broken: $e"
          case Right(gens) =>
            val warnAt = chainWarnAt(spark)
            val maxAt = chainMaxAt(spark)
            // phrased like the chain verb at the exact boundary: the
            // guard tests depth-AFTER (= length + 1), so at depth ==
            // warnAt nothing has warned yet — only the NEXT advance
            // will
            if (gens.length + 1 > maxAt)
              warns += s"chain depth ${gens.length}: the next delta " +
                s"advance is REFUSED (max $maxAt) — run compact"
            else if (gens.length + 1 > warnAt)
              notes += s"chain depth ${gens.length}: the next delta " +
                s"advance will WARN (warn > $warnAt) — compact soon"
            val rels = gens.flatMap(g =>
              Option(new java.io.File(g).listFiles()).toSeq.flatten
                .filter(_.isDirectory).map(_.getName)).distinct.sorted
            // codes is exempt: the ivfpq code table is DELIBERATELY
            // unbucketed (KmK distinct cells would cap scan
            // parallelism) and its probe never exchanges — the tiny
            // query side broadcasts — so "plain union" is its healthy
            // serving shape, not a finding
            rels.filterNot(_ == "codes").foreach { rel =>
              val present = gens.filter(g => java.nio.file.Files
                .isDirectory(java.nio.file.Paths.get(g, rel)))
              if (present.size > 1) {
                // the FULL (n, keys, sort, ddl) tuple —
                // readChainAligned's own alignment gate; comparing
                // less (e.g. dropping the schema DDL) would report
                // HEALTHY on chains that actually serve via the
                // plain-union exchange
                val layouts = present.map(g => graft.operators
                  .StoreFiles.sidecarLayout(s"$g/$rel"))
                if (layouts.exists(_.isEmpty))
                  notes += s"$rel/: ${layouts.count(_.isEmpty)} of " +
                    s"${present.size} chain generations lack the " +
                    "bucketed sidecar — probes pay a plain-union " +
                    "exchange on this relation; compact re-seals it"
                else if (layouts.flatten.distinct.size > 1) {
                  val shapes = layouts.flatten.distinct
                  val byKeys = shapes.map { case (n, k, _, _) =>
                    s"$n x (${k.mkString(",")})" }.distinct
                  // name WHICH component diverged: misreporting a
                  // sort-claim difference as "schemas differ" would
                  // misdirect the operator's compact/debug decision
                  val detail =
                    if (byKeys.size > 1) byKeys.mkString(" vs ")
                    else if (shapes.map(_._4).distinct.size > 1)
                      s"${byKeys.head}, schemas differ"
                    else s"${byKeys.head}, in-bucket sorts differ"
                  // name the TARGET: compact re-seals at the
                  // session's write-time count (a grown
                  // graft.store.buckets migrates the whole chain to
                  // the new layout in one seal). The count is message
                  // text only — a malformed graft.store.buckets on
                  // the TRIAGE session must not crash the diagnosis
                  // (doctor never refuses a sick root, or a sick conf)
                  val target =
                    try StoreFiles.bucketCount(spark).toString
                    catch {
                      case scala.util.control.NonFatal(_) =>
                        s"unreadable ${StoreFiles.StoreBucketsKey}"
                    }
                  notes += s"$rel/: layouts diverge across the chain " +
                    s"($detail) — plain-union serving; compact " +
                    "re-seals it at the session's current bucket " +
                    s"count ($target)"
                }
              }
            }
        }
    }

    val orphans = StoreFiles.committedAbovePointer(root)
    if (orphans.nonEmpty)
      warns += s"committed generation(s) ${orphans.mkString(", ")} " +
        "sit ABOVE the pointer — a crashed advance's folded batch; " +
        "advance/compact refuse until you flip to the newest or " +
        "delete it explicitly"

    if (uncommitted.nonEmpty)
      notes += s"uncommitted dir(s) ${uncommitted.mkString(", ")} — " +
        "an in-flight writer or a crashed fold's litter; never " +
        "auto-deleted, and their gen names stay reserved"

    // gc's OWN keep-set helper (StoreFiles.gcKeepSet), so the preview
    // and the verb can never drift
    cur.foreach { case (gen, prev) =>
      val keep = StoreFiles.gcKeepSet(root, gen, prev)
      val collectable = committedGens.filterNot(keep)
        .filterNot(orphans.contains)
      if (collectable.nonEmpty)
        notes += s"gc would collect: ${collectable.mkString(", ")}"
    }

    // dangling cross-JVM registrations: graft-prefixed catalog tables
    // whose files are gone. The audit is catalog-wide (registration
    // names hash layout+paths, so a dead JVM's entries are not
    // attributable to one root) but only ever NAMES dead tables; live
    // ones — another JVM may be serving through them — are untouched.
    danglingRegistrations(spark).foreach { case (t, gone) =>
      if (fix) {
        // report what actually HAPPENED: a swallowed DROP failure
        // (no permission on a shared metastore) must not read as
        // "dropped" — the operator would believe the catalog clean
        // while the entry persists into every later report
        val dropped =
          try { spark.sql(s"DROP TABLE IF EXISTS $t"); true }
          catch {
            case _: org.apache.spark.sql.AnalysisException => false
          }
        if (dropped)
          notes += s"dropped dangling registration $t " +
            s"(location gone: $gone)"
        else
          warns += s"could NOT drop dangling registration $t " +
            s"(location gone: $gone) — no DROP permission on this " +
            "catalog? run --fix from a session that has it"
      } else
        notes += s"dangling registration $t (location gone: $gone) — " +
          "metadata-only; `doctor --fix` drops it"
    }

    val status =
      if (warns.isEmpty && notes.isEmpty) "HEALTHY"
      else s"${warns.length} warning(s), ${notes.length} note(s)"
    val head = s"[doctor] $root: $status " +
      s"(${committedGens.length} committed generation(s))"
    Right((head +: (warns.map("  WARN " + _) ++
      notes.map("  note " + _))).mkString("\n"))
  }

  /** `graft_bkt_`/`graft_chn_` tables in the current database whose
    * backing files are GONE — for a single-generation bucketed table
    * the table LOCATION itself, for an aligned chain table any
    * partition location (one missing generation makes the whole chain
    * unreadable; its own LOCATION is scratch metadata that holds no
    * rows, checked only when the table has no partitions at all).
    * Only local-filesystem URIs are judged — a scheme this process
    * cannot stat must never read as "gone" (dropping a LIVE serving
    * table on a false positive is worse than leaving a dead one).
    * Returns (table, first missing path) pairs.
    */
  private def danglingRegistrations(
      spark: SparkSession): Seq[(String, String)] = {
    val cat = spark.sessionState.catalog
    def missing(uri: java.net.URI): Option[String] = {
      val scheme = Option(uri.getScheme).getOrElse("file")
      if (!scheme.equalsIgnoreCase("file")) None
      else Some(uri.getPath).filterNot(p =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
    }
    cat.listTables(cat.getCurrentDatabase)
      .filter(ti => ti.table.startsWith("graft_bkt_") ||
        ti.table.startsWith("graft_chn_"))
      .sortBy(_.table)
      .flatMap { ti =>
        // a table dropped or mutated by a concurrent session between
        // the listing and the metadata read is simply skipped — the
        // next doctor run sees the settled state
        try {
          if (ti.table.startsWith("graft_bkt_"))
            cat.getTableMetadata(ti).storage.locationUri
              .flatMap(missing).map((ti.table, _)).toSeq
          else {
            val parts = cat.listPartitions(ti)
            if (parts.isEmpty)
              cat.getTableMetadata(ti).storage.locationUri
                .flatMap(missing).map((ti.table, _)).toSeq
            else parts.flatMap(_.storage.locationUri.flatMap(missing))
              .headOption.map((ti.table, _)).toSeq
          }
        } catch { case scala.util.control.NonFatal(_) => Nil }
      }
  }

  private def refuseCommitted(store: String): Option[String] =
    StoreFiles.marker(store).map(_ =>
      s"$store already holds a committed store — generations are " +
        "immutable; fold into a new path instead")

  private def build(spark: SparkSession, kind: String, corpus: String,
                    store: String,
                    pred: Option[String]): Either[String, String] =
    refuseCommitted(store).map(Left(_)).getOrElse {
      StoreKind.named(kind).toRight(s"unknown store kind: $kind").map { k =>
        k.build(spark, corpus, store, pred)
        s"[build] $kind store at $store"
      }
    }

  private def fold(spark: SparkSession, kind: String, corpus: String,
                   store: String, out: String, pred: String,
                   delta: Boolean = false): Either[String, String] = {
    if (StoreFiles.marker(store).isEmpty)
      return Left(s"$store holds no committed $kind store to fold into")
    refuseCommitted(out) match {
      case Some(m) => return Left(m)
      case None    => ()
    }
    val face = if (delta) "fold --delta" else "fold"
    StoreKind.named(kind).toRight(s"unknown store kind: $kind").map { k =>
      Engine.phase(spark, s"$kind $face")(
        k.foldInto(spark, corpus, store, out, pred, delta))
      s"[$face] $kind generation at $out"
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-storectl")
    try run(spark, args.toSeq) match {
      case Right(msg) => println(msg)
      case Left(err)  => System.err.println(err); spark.stop(); sys.exit(1)
    } finally spark.stop()
  }
}
