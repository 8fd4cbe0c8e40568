package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.functions.Derive
import graft.operators.Dedup
import graft.sources.Checkpoints

/** What a run produced, read back from the files and tables the
  * production calls wrote. Each check compares one of these with what
  * the generator planted and returns its failures (empty = pass).
  */
object Checks {

  /** project -> (issue key, fails the production validator) per line. */
  type Jsonl = Map[String, Seq[(String, Boolean)]]

  def readJsonl(dataDir: Path): Jsonl = {
    val mapper = new ObjectMapper()
    Corpus.Projects.map { case (p, _) =>
      val f = dataDir.resolve("processed").resolve(s"${p}_issues.jsonl")
      p -> (if (!Files.exists(f)) Nil
            else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
              .map { l =>
                val n = mapper.readTree(l)
                def s(k: String) = Option(n.get(k)).filterNot(_.isNull)
                  .map(_.asText())
                val bodies = Option(n.get("comments")).toSeq
                  .flatMap(_.elements().asScala)
                  .map(c => Option(c.get("body")).map(_.asText()).orNull)
                (s("id").orNull, Derive.validateIssue(s("id"), s("title"),
                  s("created"), s("updated"), bodies).nonEmpty)
              })
    }.toMap
  }

  /** The served generation's assignment, last writer wins over the
    * chain (the store's own reader).
    */
  def readAssignment(spark: SparkSession, served: String): Seq[(Long, Long)] =
    Dedup.storeAssignment(spark, served, "doc_id")
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  def readCheckpoints(dataDir: Path): Map[String, Int] = {
    val c = new Checkpoints(dataDir.resolve("checkpoints"))
    Corpus.Projects.map { case (p, _) => p -> c.load(p).startAt }.toMap
  }

  /** Per project: one line per served issue, each key once, and the
    * planted validation rejects counted as rejects.
    */
  def corpusOut(c: Corpus, k: Int, got: Jsonl): Seq[String] =
    Corpus.Projects.flatMap { case (p, _) =>
      val want = c.upTo(k).filter(_.project == p)
      val lines = got.getOrElse(p, Nil)
      val keys = lines.map(_._1)
      val rejects = lines.count(_._2)
      val planted = want.count(_.reject.nonEmpty)
      Seq(
        Option.when(lines.size != want.size)(
          s"$p: ${lines.size} JSONL lines for ${want.size} served issues"),
        Option.when(keys.distinct.size != keys.size)(
          s"$p: ${keys.size - keys.distinct.size} duplicate keys"),
        Option.when(keys.toSet != want.map(_.key).toSet)(
          s"$p: JSONL keys differ from the served keys"),
        Option.when(rejects != planted)(
          s"$p: $rejects records fail validation, $planted planted"))
        .flatten
    }

  /** Every document assigned exactly once, and every planted copy in
    * the cluster of the issue it copies.
    */
  def assignment(c: Corpus, k: Int, kinds: Set[String],
                 got: Seq[(Long, Long)]): Seq[String] = {
    val ids = got.map(_._1)
    val want = c.upTo(k).map(_.docId).toSet
    val cluster = got.toMap
    val copies = c.upTo(k).flatMap(i =>
      i.copyOf.filter(x => kinds(x._1)).map(x => (i, c.byKey(x._2))))
    val split = copies.filter { case (i, s) =>
      cluster.get(i.docId).isEmpty || cluster.get(i.docId) != cluster.get(s.docId)
    }
    Seq(
      Option.when(ids.distinct.size != ids.size)(
        s"${ids.size - ids.distinct.size} documents assigned twice"),
      Option.when(ids.toSet != want)(
        s"assignment covers ${ids.toSet.size} docs, ${want.size} stored " +
          s"(${(want -- ids).size} missing)"),
      Option.when(split.nonEmpty)(
        s"${split.size} of ${copies.size} planted copies outside their " +
          s"original's cluster, e.g. ${split.head._1.key} vs " +
          s"${split.head._2.key}"))
      .flatten
  }

  def checkpoints(c: Corpus, k: Int, got: Map[String, Int]): Seq[String] =
    Corpus.Projects.flatMap { case (p, _) =>
      Option.when(got.get(p) != Some(c.publishedCount(p, k)))(
        s"$p checkpoint start_at ${got.get(p)} after publish $k, " +
          s"published ${c.publishedCount(p, k)}")
    }

  def flagged(want: Set[(Long, Long)], got: Seq[(Long, Long)]): Seq[String] =
    Seq(
      Option.when(got.distinct.size != got.size)(
        s"${got.size - got.distinct.size} pairs flagged twice"),
      Option.when(got.toSet != want)(
        s"flagged ${got.toSet.size} pairs, want ${want.size}: " +
          s"${(want -- got).size} missed, ${(got.toSet -- want).size} extra"))
      .flatten

  /** Corrupt each observation once; a check that still passes is itself
    * a failure of the benchmark.
    */
  def selfTest(c: Corpus, k: Int, jsonl: Option[Jsonl],
               assigned: Option[Seq[(Long, Long)]],
               ckpt: Option[Map[String, Int]],
               flags: Option[(Set[(Long, Long)], Seq[(Long, Long)])])
      : Seq[String] = {
    def fires(what: String, failures: Seq[String]): Option[String] =
      Option.when(failures.isEmpty)(s"self-test: corrupting $what went unseen")
    val kinds = Set("exact", "near")
    val p = Corpus.Projects.last._1
    jsonl.toSeq.flatMap { j =>
      val lines = j(p)
      Seq(
        fires("a dropped JSONL line",
          corpusOut(c, k, j.updated(p, lines.tail))),
        fires("a repeated JSONL key",
          corpusOut(c, k, j.updated(p, lines.head +: lines.tail.tail :+
            lines.head))),
        fires("a miscounted reject", corpusOut(c, k, j.updated(p,
          (lines.head._1, !lines.head._2) +: lines.tail))))
    }.flatten ++ assigned.toSeq.flatMap { a =>
      val copy = c.upTo(k).find(_.copyOf.nonEmpty).map(_.docId)
      Seq(
        fires("a dropped assignment row", assignment(c, k, kinds, a.tail)),
        fires("a doubled assignment row",
          assignment(c, k, kinds, a :+ a.head)),
        fires("a copy moved to its own cluster", assignment(c, k, kinds,
          a.map { case (d, cl) => if (copy.contains(d)) (d, -d) else (d, cl) })))
    }.flatten ++ ckpt.toSeq.flatMap { m =>
      fires("a lagging checkpoint",
        checkpoints(c, k, m.updated(p, m(p) - 1)))
    } ++ flags.toSeq.flatMap { case (want, got) =>
      Seq(
        fires("a missed flag", flagged(want, got.tail)),
        fires("an extra flag", flagged(want, got :+ ((-1L, -1L)))))
    }.flatten
  }
}
