package graft.util

import org.scalatest.funsuite.AnyFunSuite

class FsSpec extends AnyFunSuite {

  test("SPARK_GRAFT_FSYNC_THREADS: unset defaults to min(8, cores), a positive integer is taken as is") {
    assert(Fs.parseFsyncThreads(None, cores = 4) === 4)
    assert(Fs.parseFsyncThreads(None, cores = 32) === 8)
    assert(Fs.parseFsyncThreads(Some("1"), cores = 4) === 1)
    assert(Fs.parseFsyncThreads(Some(" 16 "), cores = 4) === 16)
  }

  test("SPARK_GRAFT_FSYNC_THREADS: a typo, zero or a negative value fails loudly, naming the variable and the value") {
    for (bad <- Seq("eight", "", "4.5", "0", "-2")) {
      val ex = intercept[IllegalArgumentException](
        Fs.parseFsyncThreads(Some(bad), cores = 4))
      assert(ex.getMessage.contains("SPARK_GRAFT_FSYNC_THREADS") &&
        ex.getMessage.contains(s"'$bad'"), ex.getMessage)
    }
  }
}
