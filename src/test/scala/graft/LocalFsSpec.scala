package graft

import graft.core.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.streaming.EventStreams
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** The fork-free local filesystem (core/LocalFs.scala): `Session`
  * installs it for both Hadoop APIs, and every answer it gives without a
  * forked `chmod` or `readlink` equals stock `RawLocalFileSystem`'s on
  * the same paths. */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark = Session.builder("graft-test-localfs").master("local[4]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  private val LocalUri = new URI("file:///")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(LocalUri, new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val forkFree = raw(new ForkFreeRawLocalFileSystem)

  private def mode(p: Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri.getPath)))

  private def tmpDir(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toString)

  test("a Session-built context resolves file: to the fork-free classes in both APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    // newInstance: the FS cache may hold an instance built before the keys
    val fs = FileSystem.newInstance(LocalUri, conf)
    try assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    finally fs.close()
    val afs = FileContext.getFileContext(LocalUri, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  test("created files and dirs get the POSIX modes stock RawLocalFileSystem gives") {
    val dir = tmpDir("graft-localfs-mode")
    for (octal <- Seq(0x1a4 /* 0644 */, 0x1ed /* 0755 */, 0x1c0 /* 0700 */)) {
      val perm = new FsPermission(octal.toShort)
      val got = Seq(stock -> "stock", forkFree -> "forkfree").map { case (fs, tag) =>
        val f = new Path(dir, s"$tag-file-$perm")
        fs.create(f, perm, false, 4096, 1.toShort, 1L << 20, null).close()
        val d = new Path(dir, s"$tag-dir-$perm")
        assert(fs.mkdirs(d, perm))
        (mode(f), mode(d))
      }
      assert(got.distinct.size == 1, s"$perm: stock vs fork-free $got")
    }
  }

  test("getFileLinkStatus matches stock for a file, a dir, a symlink and a missing path") {
    val dir = tmpDir("graft-localfs-link")
    val file = new Path(dir, "f")
    Files.writeString(Paths.get(file.toUri.getPath), "abc")
    val sub = new Path(dir, "d")
    Files.createDirectory(Paths.get(sub.toUri.getPath))
    val link = new Path(dir, "l")
    Files.createSymbolicLink(Paths.get(link.toUri.getPath), Paths.get(file.toUri.getPath))

    def shape(st: FileStatus) =
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        st.getModificationTime, if (st.isSymlink) Some(st.getSymlink) else None)
    for (p <- Seq(file, sub, link, new Path(dir, "l").makeQualified(LocalUri, dir)))
      assert(shape(forkFree.getFileLinkStatus(p)) == shape(stock.getFileLinkStatus(p)), p)
    assert(stock.getFileLinkStatus(link).isSymlink) // the case really is a link
    val missing = new Path(dir, "missing")
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkFree.getFileLinkStatus(missing))
  }

  test("a FileContext rename with overwrite reads back through ChecksumFs") {
    val dir = tmpDir("graft-localfs-rename")
    val fc = FileContext.getFileContext(LocalUri, spark.sparkContext.hadoopConfiguration)
    def write(p: Path, text: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
    val src = new Path(dir, "src")
    val dst = new Path(dir, "dst")
    write(dst, "the old contents, longer than the new")
    write(src, "new contents")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    // a stale dst .crc would fail this read with a ChecksumException
    val in = fc.open(dst)
    val got = try new String(in.readAllBytes(), UTF_8) finally in.close()
    assert(got == "new contents")
    assert(!fc.util.exists(src))
    assert(!fc.util.exists(new Path(dir, ".src.crc")))
  }

  test("a session-window stream restarted from its checkpoint emits the uninterrupted rows") {
    import spark.implicits._
    val base = tmpDir("graft-localfs-stream").toUri.getPath
    // six chunks three hours apart: the 2-hour watermark closes each
    // chunk's sessions during a later batch, so both runs emit rows
    val chunks = (0 until 6).map { c =>
      (0 until 40).map { i =>
        val t = new Timestamp(1704067200000L + c * 3 * 3600000L + i * 90000L)
        EventStreams.Event(c * 100L + i, t, (i % 5).toLong, "click", 1.0)
      }.toDF()
    }
    def addChunk(name: String, c: Int): Unit = {
      val staging = s"$base/$name/staging_$c"
      chunks(c).coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(s"$base/$name/in"))
      Files.move(part.toPath, Paths.get(s"$base/$name/in/chunk_$c.parquet"))
    }
    val schema = chunks.head.schema
    def run(name: String): Unit = {
      val q = EventStreams.sessionWindowCounts(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$base/$name/in"))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", s"$base/$name/ckpt")
        .start(s"$base/$name/out")
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(throw _)
    }
    def rows(name: String): Seq[String] =
      spark.read.parquet(s"$base/$name/out").collect().map(_.mkString("|")).sorted.toSeq

    (0 until 6).foreach(addChunk("whole", _))
    run("whole")
    (0 until 3).foreach(addChunk("restarted", _))
    run("restarted")
    val beforeRestart = rows("restarted")
    (3 until 6).foreach(addChunk("restarted", _))
    run("restarted")
    val whole = rows("whole")
    assert(beforeRestart.nonEmpty && whole.size > beforeRestart.size)
    assert(rows("restarted") == whole)
  }
}
