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

  test("parallel fsync: the first failure surfaces as the original IOException, serially or in parallel") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fsync").toFile
    try {
      val ok = (1 to 3).map { i =>
        val f = new java.io.File(dir, s"f$i"); f.createNewFile(); f
      }
      val missing = new java.io.File(dir, "missing")
      Fs.fsyncFiles(ok)
      Fs.fsyncDirs(Seq(dir, dir))
      for (batch <- Seq(Seq(missing), ok :+ missing, missing +: ok)) {
        val e = intercept[java.io.IOException](Fs.fsyncFiles(batch))
        assert(e.isInstanceOf[java.nio.file.NoSuchFileException] &&
          e.getMessage.contains("missing"), e.toString)
      }
    } finally Fs.rmTree(dir)
  }
}
