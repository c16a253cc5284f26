package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Every Probe workload runs once at tiny n on the shared test session —
  * nothing else exercises them, so they would otherwise rot unseen. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = graft.spark.TestSpark.spark

  for ((name, workload) <- Probe.Workloads)
    test(s"workload '$name' runs at tiny n with a non-empty result") {
      graft.functions.GraftExpressions.register(spark)
      val r = workload(spark, 160L, 2)
      val fields = r.fields.toMap
      assert(r.wall > 0)
      assert(fields("rows").asInstanceOf[Long] > 0, Probe.json(r.fields))
      assert(!spark.sparkContext.isStopped)
    }

  test("median of the reps, odd and even counts") {
    assert(Probe.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Probe.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Probe.json(Seq("rep_sec" -> Seq(Vector(1.5, 2.0)))) == """{"rep_sec":[[1.5000,2.0000]]}""")
  }

  test("json renders objects, arrays and numbers") {
    assert(Probe.json(Seq("a" -> 1, "b" -> Seq(2, 3), "c" -> Seq("d" -> "e"), "f" -> 0.5)) ==
      """{"a":1,"b":[2,3],"c":{"d":"e"},"f":0.5000}""")
  }
}
