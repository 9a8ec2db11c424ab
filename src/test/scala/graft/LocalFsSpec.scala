package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free local filesystem (LocalFs.scala) against stock Hadoop:
  * the same answers on real files, and no `org.apache.hadoop.util.Shell`
  * process left on the checkpoint and parquet write paths.
  */
class LocalFsSpec extends SparkSpecBase {

  private def fresh[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stock = fresh(new RawLocalFileSystem)
  private lazy val mine = fresh(new ForkFreeRawLocalFileSystem)

  private def tmpDir(): JPath = Files.createTempDirectory("graft-localfs")
  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  test("setPermission sets the same POSIX mode as the stock chmod; the sticky bit stays on super") {
    val dir = tmpDir()
    for (m <- Seq("600", "644", "700", "755")) {
      val (a, b) = (Files.createFile(dir.resolve(s"stock-$m")), Files.createFile(dir.resolve(s"mine-$m")))
      val perm = new FsPermission(octal(m).toShort)
      stock.setPermission(new Path(a.toString), perm)
      mine.setPermission(new Path(b.toString), perm)
      assert(mode(a) == octal(m) && mode(b) == mode(a), s"mode $m")
    }
    // java.nio cannot set the sticky bit: 01777 must reach it through super
    val (a, b) = (Files.createDirectory(dir.resolve("stock-sticky")), Files.createDirectory(dir.resolve("mine-sticky")))
    val sticky = new FsPermission(octal("1777").toShort)
    stock.setPermission(new Path(a.toString), sticky)
    mine.setPermission(new Path(b.toString), sticky)
    assert(mode(a) == octal("1777") && mode(b) == mode(a))
  }

  test("getFileLinkStatus answers as the stock readlink test on files, dirs, links and missing paths") {
    val dir = tmpDir()
    val file = Files.write(dir.resolve("file"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    def view(fs: RawLocalFileSystem, p: Path): Either[String, (Boolean, Option[Path], Boolean, Long)] =
      Try(fs.getFileLinkStatus(p)).toEither.left.map(_.getClass.getName).map((st: FileStatus) =>
        (st.isSymlink, Option.when(st.isSymlink)(st.getSymlink), st.isDirectory, st.getLen))
    for (f <- Seq(file, sub, link, dangling, missing);
         p <- Seq(new Path(f.toString), new Path(f.toUri))) {
      assert(view(mine, p) == view(stock, p), s"$p")
    }
    assert(view(mine, new Path(link.toString)).exists(_._1), "a scheme-less symlink is a link")
  }

  test("FileContext rename without overwrite still refuses an existing target, checksums kept") {
    // HDFSMetadataLog's concurrent-writer guard: a second writer of the same
    // batch id must fail on the rename, not replace the first one's file
    val conf = new Configuration()
    Engine.LocalFsConf.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val dir = tmpDir()
    def write(name: String): Path = {
      val p = new Path(dir.resolve(name).toUri)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
      out.write(name.getBytes); out.close(); p
    }
    val (tmp, dst) = (write("tmp"), write("dst"))
    intercept[FileAlreadyExistsException](fc.rename(tmp, dst, Options.Rename.NONE))
    val moved = new Path(dir.resolve("moved").toUri)
    fc.rename(tmp, moved, Options.Rename.NONE)
    assert(Files.exists(dir.resolve(".moved.crc")) && !Files.exists(dir.resolve(".tmp.crc")),
      "the Hadoop checksum file follows the rename")
  }

  test("checkpointed RocksDB streaming and parquet writes start no Hadoop Shell process") {
    val dir = tmpDir()
    val in = Files.createDirectory(dir.resolve("in")).toUri.toString
    // session start-up stays outside the recording: SparkContext's first
    // UserGroupInformation call loads Hadoop's Shell, whose class initializer
    // forks one `setsid` probe per JVM
    spark.sparkContext
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val got = try {
      val got = StreamingSpec.runFileStream(spark, in, dir.resolve("ckpt").toUri.toString, 0 until 3).counts
      spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(dir.resolve("out").toUri.toString)
      got
    } finally rec.stop()
    val dump = dir.resolve("forks.jfr")
    rec.dump(dump)
    rec.close()
    val starts = RecordingFile.readAllEvents(dump).asScala.toSeq
    val shell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
    val byCommand = starts.groupBy(_.getString("command").takeWhile(_ != ' ')).view.mapValues(_.size)
    println(s"[LocalFsSpec] process starts: ${starts.size}, ${shell.size} from Hadoop Shell; " +
      s"by command: ${byCommand.toSeq.sorted.mkString(", ")}")
    assert(shell.size == 0, s"${shell.size} Hadoop Shell process starts, e.g. " +
      shell.take(3).map(_.getString("command")).mkString("; "))
    // changelog checkpointing (Engine.StateStoreConf) takes RocksDB's
    // per-commit local snapshot and its `rm -rf`s off the 24 state commits;
    // one snapshot per commit would read 48 or more
    val rm = byCommand.getOrElse("rm", 0)
    assert(rm <= 16, s"$rm rm starts: a RocksDB commit is snapshotting again")
    assert(got == StreamingSpec.counts(StreamingSpec.dedupCounts(spark.read.parquet(in))))
    assert(FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[ForkFreeLocalFileSystem])
  }
}
