package graft

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset takes the caller's default, a positive integer is taken as is") {
    assert(LocalSession.parseCpus(None, default = 32) === 32)
    assert(LocalSession.parseCpus(None, default = 4) === 4)
    assert(LocalSession.parseCpus(Some("1"), default = 4) === 1)
    assert(LocalSession.parseCpus(Some(" 8 "), default = 4) === 8)
  }

  test("SPARK_GRAFT_CPUS: a typo, zero or a negative value fails loudly, naming the variable and the value") {
    for (bad <- Seq("eight", "", "2.5", "0", "-4")) {
      val ex = intercept[IllegalArgumentException](
        LocalSession.parseCpus(Some(bad), default = 4))
      assert(ex.getMessage.contains("SPARK_GRAFT_CPUS") &&
        ex.getMessage.contains(s"'$bad'"), ex.getMessage)
    }
  }
}
