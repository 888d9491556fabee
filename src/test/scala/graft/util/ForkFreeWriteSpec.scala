package graft.util

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** [[Fs.writeParquet]] writes through [[ForkFreeLocalFileSystem]]: the same
  * files, sidecars and permissions as the stock local file system, with
  * the mode bits set through NIO instead of a forked `chmod`.
  */
class ForkFreeWriteSpec extends SparkSpec {

  private def tmp(prefix: String): java.io.File =
    Files.createTempDirectory(prefix).toFile

  /** Relative path → POSIX permissions of every entry under `root`, with
    * the write job's UUID in part-file names masked.
    */
  private def permissions(root: java.io.File): Map[String, String] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val base = root.toPath
    val all = Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      all.iterator().asScala.filterNot(_ == base).map { (p: JPath) =>
        uuid.replaceAllIn(base.relativize(p).toString, "UUID") ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    } finally all.close()
  }

  test("NIO setPermission applies the mode bits chmod would") {
    val dir = tmp("graft-niofs")
    try {
      val fs = new NioRawLocalFileSystem
      fs.initialize(dir.toURI, spark.sparkContext.hadoopConfiguration)
      val f = new java.io.File(dir, "f"); f.createNewFile()
      def perms(x: java.io.File) =
        PosixFilePermissions.toString(Files.getPosixFilePermissions(x.toPath))
      def chmod(x: java.io.File, octal: String): Unit =
        fs.setPermission(new Path(x.toURI), new FsPermission(octal))
      for ((mode, expect) <- Seq("640" -> "rw-r-----", "751" -> "rwxr-x--x",
          "000" -> "---------", "777" -> "rwxrwxrwx")) {
        chmod(f, mode)
        assert(perms(f) === expect, s"mode $mode")
      }
      chmod(dir, "750")
      assert(perms(dir) === "rwxr-x---")
    } finally Fs.rmTree(dir)
  }

  test("writeParquet lands the same files, .crc sidecars and permissions as the stock local FS") {
    val root = tmp("graft-forkfree")
    // a umask other than the process's: a permission the FS failed to set
    // would show as the process default instead
    spark.conf.set("fs.permissions.umask-mode", "027")
    try {
      val df = spark.range(0, 40, 1, 2).selectExpr("id", "cast(id % 3 as int) as p")
      val viaHelper = new java.io.File(root, "helper")
      val viaStock = new java.io.File(root, "stock")
      Fs.writeParquet(df, viaHelper.getPath, "p")
      // the cached stock instance keeps the conf it was first built with
      df.write.option("fs.file.impl.disable.cache", "true").partitionBy("p")
        .mode("overwrite").parquet(viaStock.getPath)
      val helper = permissions(viaHelper)
      assert(helper === permissions(viaStock))
      val parquet = helper.keys.filter(_.endsWith(".parquet")).toSeq
      assert(parquet.size === 6, helper.keys.toSeq.sorted.mkString("\n"))
      parquet.foreach { k =>
        val (d, n) = k.splitAt(k.lastIndexOf('/') + 1)
        assert(helper.contains(s"$d.$n.crc"), s"no .crc sidecar for $k")
      }
      assert(helper(parquet.head) === "rw-r-----",
        helper.toSeq.sorted.mkString("\n"))
      assert(spark.read.parquet(viaHelper.getPath).count() === 40L)
    } finally {
      spark.conf.unset("fs.permissions.umask-mode")
      Fs.rmTree(root)
    }
  }

  test("the write options resolve the file: scheme, and only it, to the fork-free FS") {
    val path = new Path(tmp("graft-forkfree-conf").toURI)
    val conf = spark.sessionState.newHadoopConfWithOptions(Fs.ForkFreeWriteOptions)
    val fs = path.getFileSystem(conf)
    try {
      assert(fs.getClass === classOf[ForkFreeLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem
        .isInstanceOf[NioRawLocalFileSystem])
      val stock = spark.sessionState.newHadoopConf()
      assert(!path.getFileSystem(stock).isInstanceOf[ForkFreeLocalFileSystem])
      Fs.ForkFreeWriteOptions.keys.foreach(k => assert(k.startsWith("fs.file.")))
    } finally {
      fs.close()
      Fs.rmTree(new java.io.File(path.toUri))
    }
  }

  test("every engine parquet write goes through Fs.writeParquet (the ANN model save excepted)") {
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
    assert(all.exists(_.getName == "ManifestStore.scala") &&
      all.exists(_.getName == "AnnIndex.scala") &&
      all.exists(_.getName == "Fs.scala"),
      s"no sources found under ${root.getAbsolutePath}")
    // `.write` as a DataFrameWriter, up to the call that runs it
    val write = """\.write\s*\.[\s\S]*?\.(parquet|save)\(""".r
    val allowed = Seq(
      "Fs.scala" -> "df.write.options(ForkFreeWriteOptions)",
      "AnnIndex.scala" -> "model.write.overwrite().save(")
    val offenders = for {
      f <- all
      text = Files.readString(f.toPath)
      m <- write.findAllMatchIn(text)
      if !allowed.exists { case (file, call) =>
        f.getName == file && text.startsWith(call, m.start - call.indexOf(".write")) }
    } yield s"${root.toPath.relativize(f.toPath)}:" +
      s"${text.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched.take(80)}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val helperCalls = all.map(f =>
      """Fs\.writeParquet\(""".r.findAllMatchIn(Files.readString(f.toPath)).size).sum
    assert(helperCalls >= 15, s"only $helperCalls Fs.writeParquet call sites")
  }
}
