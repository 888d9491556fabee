package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The streaming stores commit by generation dirs plus one conditional
  * manifest PUT, never by renaming files into place. This guard keeps a
  * rename-based protocol from coming back: no source file under
  * `graft/streaming` may call `Files.move` or use `ATOMIC_MOVE`, except
  * `CdcStream.scala`, whose `TxidLedger` still renames its temp file.
  */
class NoRenameCommitSpec extends AnyFunSuite {

  test("no rename-based commit under graft/streaming (TxidLedger excepted)") {
    val dir = new java.io.File("src/main/scala/graft/streaming")
    val sources = Option(dir.listFiles((_: java.io.File, n: String) =>
      n.endsWith(".scala"))).getOrElse(Array.empty[java.io.File])
    // an empty listing (wrong working dir) must fail, not pass vacuously
    assert(sources.exists(_.getName == "ManifestStore.scala"),
      s"no stream sources found under ${dir.getAbsolutePath}")
    val offenders = for {
      f <- sources.toSeq.sortBy(_.getName) if f.getName != "CdcStream.scala"
      (line, n) <- java.nio.file.Files.readString(f.toPath)
        .linesIterator.zipWithIndex
      if line.contains("ATOMIC_MOVE") || line.contains("Files.move")
    } yield s"${f.getName}:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
