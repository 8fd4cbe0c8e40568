package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.run.StoreCtl

/** A warm refresh cycle reuses the generated classes the previous
  * cycle compiled. Spark keeps Janino-compiled classes in one
  * process-wide LRU cache of `spark.sql.codegen.cache.maxEntries`
  * entries; when one `advance --delta --compact-at 2` needs more
  * classes than the cache holds, every class is evicted before its
  * reuse and each advance recompiles its whole plan set. The compile
  * count comes from `CodegenMetrics`, which counts every Janino
  * compile in the JVM.
  *
  * On sf0.001 with the cache at Spark's default of 100, the four
  * advances compiled 304, 304, 219 and 304 classes. With
  * [[Engine.StaticConfs]]'s size they compile 148, 52, 54 and 52 when
  * the spec runs alone (each advance seals in one pass): the warm
  * advances compile only the classes whose code inlines the batch
  * predicate's literal, which differs per advance.
  */
class CodegenReuseSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  /** Compiles allowed in one warm advance: twice the measured 52–54,
    * half the 219 a thrashing cache cost at least.
    */
  private val WarmCompileBound = 110L

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("warm delta advances reuse the generated classes of the first") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Engine.StaticConfs("spark.sql.codegen.cache.maxEntries"))
    val root = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_codegen_reuse_p${ProcessHandle.current().pid()}").toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    new java.io.File(root).mkdirs()
    try {
      assert(StoreCtl.run(spark, Seq("build", "cluster", dir,
        s"$root/gen-0", "doc_id % 8 = 0")).isRight)
      assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
      val perAdvance = (1 to 4).map { k =>
        val before = compiles
        val r = StoreCtl.run(spark, Seq("advance", "--delta",
          "--compact-at", "2", "cluster", dir, root, s"doc_id % 8 = $k"))
        assert(r.isRight, s"advance $k: $r")
        compiles - before
      }
      info(s"classes compiled per advance: ${perAdvance.mkString(", ")}")
      perAdvance.zipWithIndex.drop(1).foreach { case (n, i) =>
        assert(n <= WarmCompileBound,
          s"advance ${i + 1} compiled $n classes (per advance: " +
            s"${perAdvance.mkString(", ")}); the codegen cache is " +
            "smaller than one advance's working set")
      }
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
