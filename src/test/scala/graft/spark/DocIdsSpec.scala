package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.DocIds

/** 64-bit id birthday-collision resolution (VERDICT round 1, What's wrong #5):
  * two distinct urls whose primary hash lane collides must still receive
  * distinct ids, deterministically. */
class DocIdsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pages(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (s"https://example.org/p$i", s"text $i")).toDF("url", "text")
  }

  test("colliding primary lanes are rehashed to distinct ids") {
    // force heavy collisions: primary id = url hash mod 8 over 100 urls
    val df = DocIds.assign(pages(100), pmod(xxhash64(col("url")), lit(8)))
    assert(df.count() == 100)
    assert(df.select("id").distinct().count() == 100)
  }

  test("ids are deterministic and partitioning-independent") {
    val a = DocIds.assign(pages(100).repartition(7), pmod(xxhash64(col("url")), lit(16)))
      .select("url", "id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = DocIds.assign(pages(100).repartition(3), pmod(xxhash64(col("url")), lit(16)))
      .select("url", "id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("non-colliding inputs keep their primary lane untouched") {
    val df = DocIds.assign(pages(50))
    // primaryHash is a call_function column: registration is a precondition
    // for direct callers (assign does it internally; don't depend on test
    // ordering to have registered already)
    graft.functions.GraftExpressions.register(spark)
    val direct = pages(50).withColumn("id", DocIds.primaryHash(col("url")))
      .select("url", "id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = df.select("url", "id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == direct)
  }

  test("duplicate urls (repeat crawls) collapse to one row") {
    val df = DocIds.assign(pages(20).union(pages(5)))
    assert(df.count() == 20)
    assert(df.select("id").distinct().count() == 20)
  }

  test("new ids colliding with existing ids rehash on the new side only") {
    import spark.implicits._
    // every new primary lane lands in 0..15, all of which are existing ids
    val existing = (0L until 16L).toDF("id")
    val df = DocIds.assign(pages(40), pmod(xxhash64(col("url")), lit(16)), Some(existing))
    val ids = df.select("id").as[Long].collect()
    assert(ids.length == 40 && ids.distinct.length == 40)
    assert(!ids.exists(id => id >= 0L && id < 16L), "a new id reused an existing one")
    val again = DocIds.assign(pages(40).repartition(3), pmod(xxhash64(col("url")), lit(16)),
      Some(existing)).select("id").as[Long].collect()
    assert(again.sorted.toSeq == ids.sorted.toSeq, "rehashing is deterministic")
  }

  test("null urls fail the run loudly (assign and assignDisjoint)") {
    // the ScalaUDF lane NPE'd on null urls; the codegen expression
    // null-propagates, and a NULL id silently bypasses every downstream
    // equi-join (dedup, verify, decontamination scrub) — so the ingest entry
    // points must reject nulls with a named error, not ship a null id
    import spark.implicits._
    val withNull = pages(10).union(
      Seq((null: String, "orphan text")).toDF("url", "text"))
    val eAssign = intercept[Exception] { DocIds.assign(withNull).count() }
    assert(exceptionChain(eAssign).exists(_.getMessage != null) &&
      exceptionChain(eAssign).exists(m =>
        m.getMessage != null && m.getMessage.contains("null url")))
    val existing = DocIds.assign(pages(10)).select("id")
    val eDisjoint = intercept[Exception] {
      DocIds.assign(withNull, existing = Some(existing)).count()
    }
    assert(exceptionChain(eDisjoint).exists(m =>
      m.getMessage != null && m.getMessage.contains("null url")))
  }

  private def exceptionChain(t: Throwable): List[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toList
}
