package graft.operators

import com.fasterxml.jackson.databind.JsonNode

/** Test-side reader of an artifact's on-disk manifests (the ANN index and
  * the tokenizer store): specs inspect the layout through the serving
  * manifest, the way a reader resolves it, instead of listing dirs by
  * name.
  */
object ServingManifest {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def files(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles((_: java.io.File, n: String) =>
      n.matches("manifest-\\d{12}\\.json")))
      .getOrElse(Array.empty[java.io.File]).sortBy(_.getName).reverse.toSeq

  /** The payload of the newest manifest whose SHA-256 checks. */
  def apply(dir: String): JsonNode =
    files(dir).iterator.flatMap { f =>
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val nl = s.lastIndexOf('\n', s.length - 2)
      if (nl < 0) None
      else {
        val payload = s.substring(0, nl)
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString
        if (digest == s.substring(nl + 1).trim) Some(mapper.readTree(payload))
        else None
      }
    }.nextOption().getOrElse(sys.error(s"no complete manifest under $dir"))

  def generationDirs(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("gen-")).toSet

  /** Recursive copy, for staging a crashed writer's on-disk state. */
  def copyTree(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).foreach(_.foreach(c =>
        copyTree(c, new java.io.File(dst, c.getName))))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)

  /** Back-dates a tree's mtimes past the one-day orphan grace. */
  def age(f: java.io.File): Unit = {
    f.setLastModified(System.currentTimeMillis() - 25 * 3600 * 1000L)
    Option(f.listFiles()).foreach(_.foreach(age))
  }

  // ── ANN index layout ─────────────────────────────────────────────────────

  def base(dir: String): java.io.File =
    new java.io.File(dir, apply(dir).get("base").asText())
  def assignments(dir: String): java.io.File =
    new java.io.File(base(dir), "assignments")
  def centroids(dir: String): String =
    new java.io.File(base(dir), "centroids").getPath
  def quantizer(dir: String): java.io.File =
    new java.io.File(dir, apply(dir).get("quantizer").asText())

  /** The un-folded deltas of one kind ("a" appends, "t" tombstones). */
  def deltas(dir: String, kind: String): Seq[JsonNode] = {
    val d = apply(dir).get("deltas")
    (0 until d.size()).map(d.get).filter(_.get("kind").asText() == kind)
  }
  def deltaDirs(dir: String, kind: String): Seq[java.io.File] =
    deltas(dir, kind).map(e => new java.io.File(dir, e.get("gen").asText()))
  def batches(dir: String, kind: String): Seq[Long] =
    deltas(dir, kind).map(_.get("batch").asLong())
  def folded(dir: String): Set[String] = {
    val f = apply(dir).get("folded")
    (0 until f.size()).map(f.get(_).asText()).toSet
  }
}
