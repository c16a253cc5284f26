package graft.spark

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftExpressions

/** GraftExpressions.register checks every name in its table, not one
  * sentinel: a session missing any single graft_* function gets it back. */
class FunctionRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def graftNames: Set[String] =
    spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet

  test("register restores a dropped non-sentinel function; a second call is a no-op") {
    val registry = spark.sessionState.functionRegistry
    GraftExpressions.register(spark)
    val names = GraftExpressions.Builders.map(_._1)
    assert(names.distinct.size == names.size)
    assert(graftNames == names.toSet)
    assert(registry.dropFunction(FunctionIdentifier("graft_minhash_sig")))
    GraftExpressions.register(spark)
    for (n <- names) assert(registry.functionExists(FunctionIdentifier(n)), n)
    GraftExpressions.register(spark)
    assert(graftNames == names.toSet)
    // the restored builder is the real one, not a stub
    assert(spark.sql("SELECT size(graft_minhash_sig(array(1L, 2L), 8, 42L))").first().getInt(0) == 8)
  }
}
