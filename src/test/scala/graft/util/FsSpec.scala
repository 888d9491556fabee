package graft.util

import org.scalatest.funsuite.AnyFunSuite

class FsSpec extends AnyFunSuite {

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

  test("every engine delete goes through Fs.rmTree (ConditionalPut's staging file excepted)") {
    val root = new java.io.File("src/main/scala/graft")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val all = Seq("streaming", "operators", "util")
      .flatMap(d => sources(new java.io.File(root, d)))
    // an empty listing (wrong working dir) must fail, not pass vacuously
    assert(all.exists(_.getName == "ManifestLog.scala") &&
      all.exists(_.getName == "VersionedManifestMaintainer.scala") &&
      all.exists(_.getName == "Fs.scala"),
      s"no sources found under ${root.getAbsolutePath}")
    val offenders = for {
      f <- all
      if !Set("Fs.scala", "ConditionalPut.scala")(f.getName)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray
        .map(_.toString).zipWithIndex
      if line.contains(".delete()")
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
