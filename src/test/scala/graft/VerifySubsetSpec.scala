package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StoreFiles

/** `graft.Verify <sfDir> <outDir> name,...` dumps exactly the named
  * queries and writes an `oracle_sql.json` holding only their oracles,
  * so tools/compare_oracle.py gates just that subset.
  */
class VerifySubsetSpec extends AnyFunSuite {

  test("a name list dumps exactly those queries and their oracles") {
    val spark = SparkSessionHelper.spark
    val dir = SparkSessionHelper.Sf0001
    val out = StoreFiles.scratchDir("graft_verify_subset_", dir)
    StoreFiles.deleteTree(new java.io.File(out))
    val names = Set("q02_filter_pushdown", "etl_clean_docs")
    Verify.dump(spark, dir, out, Some(names))
    val dumped = new java.io.File(out).listFiles().toSeq
    assert(dumped.filter(_.isDirectory).map(_.getName).toSet == names)
    assert(dumped.filter(_.isFile).map(_.getName) == Seq("oracle_sql.json"))
    val json = new ObjectMapper().readTree(new java.io.File(s"$out/oracle_sql.json"))
    assert(json.fieldNames().asScala.toSet == names)
    names.foreach(n => assert(json.get(n).asText == SparkEntry.oracleSql(n)))
  }
}
