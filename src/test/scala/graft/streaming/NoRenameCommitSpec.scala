package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Every durable artifact commits by generation dirs plus one conditional
  * manifest PUT, never by renaming files into place. This guard keeps a
  * rename-based protocol from coming back: no source file under
  * `src/main/scala/graft/` may call `Files.move` or use `ATOMIC_MOVE`.
  */
class NoRenameCommitSpec extends AnyFunSuite {

  test("no rename-based commit under graft/") {
    val root = new java.io.File("src/main/scala/graft")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val all = sources(root)
    // an empty listing (wrong working dir) must fail, not pass vacuously
    assert(all.exists(_.getName == "ManifestStore.scala") &&
      all.exists(_.getName == "AnnIndex.scala"),
      s"no sources found under ${root.getAbsolutePath}")
    val offenders = for {
      f <- all
      (line, n) <- java.nio.file.Files.readString(f.toPath)
        .linesIterator.zipWithIndex
      if line.contains("ATOMIC_MOVE") || line.contains("Files.move")
    } yield s"${root.toPath.relativize(f.toPath)}:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
