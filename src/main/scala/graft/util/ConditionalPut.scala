package graft.util

/** The content-atomic conditional-create publish primitive: the bytes are
  * written and FORCED into a dot-staging file outside the target's
  * listing namespace, then the target name is claimed by hard-LINKING the
  * staging file in — link creation is atomic and create-exclusive, so the
  * slot's full content is present at the instant its name becomes
  * visible, exactly an object store's `If-None-Match` conditional PUT.
  * Nothing is ever overwritten: an occupied slot — even torn debris —
  * refuses, which is what lets version-number burn be part of the
  * callers' format contract.
  *
  * Callers: [[ManifestLog.put]], the one manifest PUT of the keyed store,
  * the manifest maintainer, the ANN index, the tokenizer store and the
  * txid ledger ([[graft.streaming.TxidLedger]], the CDC watermark and
  * every change-feed cursor); and
  * [[graft.streaming.VersionedManifestMaintainer]]'s window claims.
  *
  * Returns true when the slot was claimed, false when occupied. A crash
  * between write and link leaves an invisible `stagingPrefix*` file the
  * caller's aged GC sweeps; a crash after link is a completed publish.
  * Durability of the PARENT DIRENT (the just-created name) is the
  * caller's ordering decision — call [[Fs.fsyncDir]] after a successful
  * claim.
  */
object ConditionalPut {

  def claim(target: java.io.File, bytes: Array[Byte],
      stagingPrefix: String = ".staging-"): Boolean = {
    val staging = new java.io.File(target.getParentFile,
      s"$stagingPrefix${java.util.UUID.randomUUID()}")
    val ch = java.nio.channels.FileChannel.open(staging.toPath,
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      while (buf.hasRemaining) ch.write(buf)
      // write THROUGH the forcing channel (force is only specified for
      // this channel's own writes) and force BEFORE the link makes the
      // content visible: a power-cut after "commit" must not lose the
      // commit. An object store gives this durability on PUT ack.
      ch.force(true)
    } finally ch.close()
    try {
      java.nio.file.Files.createLink(target.toPath, staging.toPath)
      staging.delete()
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        staging.delete()
        false
    }
  }
}
