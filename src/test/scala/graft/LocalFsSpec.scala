package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.sources.{ChecksumLocalAfs, ChecksumLocalFs, LocalFs, Tables, Warehouse}

/** The fork-free local filesystem ([[graft.sources.LocalFs]]): installed for
  * `file:` URIs by the classpath `core-site.xml`, indistinguishable from
  * Hadoop's `RawLocalFileSystem` in what it returns and writes, and with no
  * `chmod`/`readlink` process left on the streaming commit path. */
class LocalFsSpec extends SparkSpecBase {

  private def local(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = local(new RawLocalFileSystem)
  private lazy val ours = local(new LocalFs)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("the session's FileSystem and FileContext for file: are the engine's classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ChecksumLocalFs], fs.getClass)
    assert(fs.asInstanceOf[ChecksumLocalFs].getRaw.isInstanceOf[LocalFs])
    val fc = FileContext.getLocalFSFileContext(conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[ChecksumLocalAfs],
      fc.getDefaultFileSystem.getClass)
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem
      .isInstanceOf[ChecksumLocalAfs])
  }

  test("getFileLinkStatus and getLinkTarget match stock RawLocalFileSystem") {
    val dir = Files.createTempDirectory("graft_localfs_link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("x"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    def status(fs: RawLocalFileSystem, p: Path): Either[Class[_], (String, Option[Path])] =
      try {
        val st: FileStatus = fs.getFileLinkStatus(p)
        Right((st.toString, if (st.isSymlink) Some(fs.getLinkTarget(p)) else None))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    for (p <- Seq(file, sub, link, dangling, missing);
         hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = status(stock, hp)
      assert(status(ours, hp) === want, hp)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(ours.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    assert(status(ours, new Path(missing.toString)).isLeft)
  }

  test("setPermission leaves the same mode bits as stock RawLocalFileSystem") {
    def octal(m: String): Int = Integer.parseInt(m, 8)
    val dir = Files.createTempDirectory("graft_localfs_perm")
    // (mode set, is a directory, mode before): chmod keeps a directory's
    // set-id bits and clears a file's
    val cases = Seq(("644", false, None), ("755", false, None), ("600", false, None),
      ("755", true, Some("2700")), ("644", false, Some("4700")), ("1777", true, None))
    for (((m, isDir, before), i) <- cases.zipWithIndex) {
      val modes = Seq(stock, ours).map { fs =>
        val p = dir.resolve(s"${fs.getClass.getSimpleName}_$i")
        if (isDir) Files.createDirectory(p) else Files.write(p, Array[Byte](1))
        before.foreach(b => Files.setAttribute(p, "unix:mode", Int.box(octal(b))))
        fs.setPermission(new Path(p.toString), new FsPermission(octal(m).toShort))
        mode(p) & octal("7777")
      }
      assert(modes.head === modes(1), s"mode $m dir=$isDir before=$before")
      if (!isDir || before.isEmpty) assert(modes(1) === octal(m))
    }
  }

  test("a byte flipped in a file written through FileContext still fails its checksum") {
    val fc = FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
    val dir = Files.createTempDirectory("graft_localfs_crc")
    val p = new Path(dir.resolve("data").toString)
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
    out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
    assert(Files.exists(dir.resolve(".data.crc")))
    // open(p, bufferSize): Hadoop's one-argument FileContext.open goes
    // through FilterFs straight to the raw filesystem and checks nothing
    val in0 = fc.open(p, 4096); in0.readFully(new Array[Byte](4096)); in0.close()
    val raf = new RandomAccessFile(dir.resolve("data").toFile, "rw")
    try { raf.seek(100); val b = raf.readByte(); raf.seek(100); raf.write(b ^ 1) }
    finally raf.close()
    val in = fc.open(p, 4096)
    try intercept[ChecksumException](in.readFully(new Array[Byte](4096)))
    finally in.close()
  }

  test("a stream replay and a Warehouse write start no chmod or readlink process") {
    def spawned(body: => Unit): Seq[String] = {
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("graft_localfs", ".jfr")
      try {
        rec.dump(out)
        jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
          .map(_.getString("command"))
          .filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      } finally { rec.close(); Files.deleteIfExists(out) }
    }
    // without the native Hadoop library, the recording does see the
    // process stock Hadoop starts
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) {
      val probe = Files.createTempFile("graft_localfs_probe", "")
      assert(spawned(stock.setPermission(new Path(probe.toString), new FsPermission(
        Integer.parseInt("600", 8).toShort))).exists(_.startsWith("chmod")))
    }
    val seen = spawned {
      SparkEntry.queries("stream_dedup")(spark, sf0001).collect()
      Warehouse.writeBucketed(
        Tables.orders(spark, sf0001).select(col("o_orderkey"), col("o_custkey")),
        "o_custkey", "localfs_probe")
      Warehouse.dropTableAndLocation(spark, "localfs_probe")
    }
    assert(seen.isEmpty, seen.take(5))
  }
}
