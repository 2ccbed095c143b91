package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private def env(v: String): String => Option[String] =
    Map(Harness.CpusVar -> v).get

  test("SPARK_GRAFT_CPUS: unset means every available processor") {
    assert(Harness.cpus(_ => None) == Runtime.getRuntime.availableProcessors)
    assert(Harness.cpus(env(" 3 ")) == 3)
  }

  test("SPARK_GRAFT_CPUS: malformed or below 1 fails naming the variable") {
    Seq("four", "2.5", "", "0", "-1").foreach { v =>
      val e = intercept[IllegalArgumentException](Harness.cpus(env(v)))
      assert(e.getMessage.contains(Harness.CpusVar), v)
    }
  }
}
