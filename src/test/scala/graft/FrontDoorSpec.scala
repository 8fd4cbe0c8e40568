package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, StoreFiles}
import graft.run.StoreCtl
import graft.streaming.{StreamDoc, Streams}

/** The runtime front door ([[GraftExtensions.attach]]): a session the
  * library did not build reaches the graft functions through each entry
  * point with no attach beforehand. `newSession()` shares the test
  * context but starts with an empty temp-function registry, so every
  * test first checks that nothing is bound yet.
  */
class FrontDoorSpec extends AnyFunSuite {

  private val dir = SparkSessionHelper.Sf0001
  private val root = StoreFiles.scratchDir("graft_frontdoor_", dir)

  private def bare(): SparkSession = {
    val s = SparkSessionHelper.spark.newSession()
    graft.functions.VectorFunctions.builders.foreach { case (name, _) =>
      assert(!s.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(name)), s"$name already bound")
    }
    s
  }

  test("a SparkEntry query attaches the functions it calls") {
    val s = bare()
    // collect, not count: count() prunes the cleaned column away
    val docs = SparkEntry.queries("etl_clean_docs")(s, dir).collect()
    assert(docs.length == Engine.table(s, dir, "documents").count())
  }

  test("StoreCtl.run attaches before building a cluster store") {
    val s = bare()
    StoreFiles.deleteTree(new java.io.File(root))
    assert(StoreCtl.run(s, Seq("build", "cluster", dir, s"$root/gen-0",
      Dedup.oldPred)) == Right(s"[build] cluster store at $root/gen-0"))
  }

  test("a store near-dup stream attaches and flags a stored text") {
    val base = SparkSessionHelper.spark
    val store = s"$root/gen-0"
    if (!new java.io.File(s"$store/manifest.json").exists)
      assert(StoreCtl.run(base, Seq("build", "cluster", dir, store,
        Dedup.oldPred)).isRight)
    val x = Engine.table(base, dir, "documents")
      .where(s"${Dedup.oldPred} AND length(text) > 20")
      .orderBy("doc_id").select("doc_id", "text").head()
    val s = bare()
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[StreamDoc]
    val q = Streams.storeNearDupStream(in.toDF(), store)
      .writeStream.format("memory").queryName("frontdoor_sink")
      .outputMode("append").start()
    try {
      in.addData(StreamDoc(900001L, 1000000000L, x.getString(1)))
      q.processAllAvailable()
      val owners = s.table("frontdoor_sink").where("doc_id = 900001")
        .select("owner_id").collect().map(_.getLong(0)).toSet
      assert(owners(x.getLong(0)), s"stored copy not flagged: $owners")
    } finally q.stop()
  }
}
