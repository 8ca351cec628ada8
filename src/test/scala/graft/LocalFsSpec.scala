package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}

class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(FileSystem.getDefaultUri(new Configuration()), new Configuration())
    fs
  }
  private lazy val hadoop = initialized(new RawLocalFileSystem)
  private lazy val noFork = initialized(new NoForkRawLocalFileSystem)

  private def withTmpDir[T](prefix: String)(f: File => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try f(dir) finally org.apache.spark.network.util.JavaUtils.deleteRecursively(dir)
  }

  test("setPermission leaves the same mode bits as Hadoop's") {
    withTmpDir("graft_lfs_perm") { dir =>
      for (mode <- Seq("644", "755", "700", "600")) {
        val perm = new FsPermission(mode)
        val bits = Seq(hadoop, noFork).map { fs =>
          val f = new File(dir, s"${fs.getClass.getSimpleName}-$mode")
          Files.write(f.toPath, Array[Byte](1))
          fs.setPermission(new Path(f.getAbsolutePath), perm)
          PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))
        }
        assert(bits.distinct.size == 1, s"mode $mode: $bits")
        assert(bits.head == perm.toString, s"mode $mode: $bits")
      }
    }
  }

  test("getFileLinkStatus matches Hadoop's on files, directories, links and missing paths") {
    withTmpDir("graft_lfs_link") { dir =>
      val file = new File(dir, "f")
      Files.write(file.toPath, "abc".getBytes("UTF-8"))
      val sub = new File(dir, "d"); sub.mkdir()
      val link = new File(dir, "l")
      Files.createSymbolicLink(link.toPath, file.toPath)
      val dangling = new File(dir, "x")
      Files.createSymbolicLink(dangling.toPath, new File(dir, "gone").toPath)
      def view(st: FileStatus): Seq[Any] =
        Seq(st.isFile, st.isDirectory, st.isSymlink, st.getLen, st.getPath) ++
          (if (st.isSymlink) Seq(st.getSymlink) else Nil)
      for (f <- Seq(file, sub, link, dangling)) {
        val p = new Path(f.getAbsolutePath)
        assert(view(noFork.getFileLinkStatus(p)) == view(hadoop.getFileLinkStatus(p)), f)
      }
      assert(noFork.getFileLinkStatus(new Path(link.getAbsolutePath)).isSymlink)
      assert(noFork.getFileLinkStatus(new Path(dangling.getAbsolutePath)).isSymlink)
      val missing = new Path(new File(dir, "missing").getAbsolutePath)
      intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
      intercept[FileNotFoundException](noFork.getFileLinkStatus(missing))
    }
  }

  test("FileContext.rename with OVERWRITE, the checkpoint manager's path, works through NoForkLocalFs") {
    withTmpDir("graft_lfs_rename") { dir =>
      val conf = new Configuration()
      val fc = FileContext.getFileContext(
        new NoForkLocalFs(org.apache.hadoop.fs.FsConstants.LOCAL_FS_URI, conf), conf)
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        try out.write(s.getBytes("UTF-8")) finally out.close()
      }
      val src = new Path(new File(dir, ".1.tmp").getAbsolutePath)
      val dst = new Path(new File(dir, "1").getAbsolutePath)
      write(dst, "old")
      write(src, "new")
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        fc.rename(src, dst, Options.Rename.NONE))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src))
      assert(new String(Files.readAllBytes(Paths.get(dst.toUri.getPath)), "UTF-8") == "new")
      // the checksum sidecar moved with its file
      assert(new File(dir, ".1.crc").exists() && !new File(dir, "..1.tmp.crc").exists())
    }
  }

  test("FileSystem.rename refuses an existing file destination, as HDFS does") {
    withTmpDir("graft_lfs_fsrename") { dir =>
      val fs = initialized(new NoForkLocalFileSystem)
      val src = new Path(new File(dir, "a").getAbsolutePath)
      val dst = new Path(new File(dir, "b").getAbsolutePath)
      Seq(src -> "a", dst -> "b").foreach { case (p, s) =>
        val out = fs.create(p, true); try out.write(s.getBytes("UTF-8")) finally out.close() }
      assert(!fs.rename(src, dst))
      assert(new String(Files.readAllBytes(Paths.get(dst.toUri.getPath)), "UTF-8") == "b")
      assert(fs.delete(dst, false) && fs.rename(src, dst) && !fs.exists(src))
    }
  }

  test("a GraftSession resolves file: to the fork-free classes") {
    val sc = spark.sparkContext
    assert(FileSystem.getLocal(sc.hadoopConfiguration).isInstanceOf[NoForkLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.isInstanceOf[NoForkLocalFs])
    // the glog seam still unwraps to a RawLocalFileSystem (hard-link CAS)
    val raw = graft.sources.GraftLogSource.fsFor(new Path("/tmp"), sc.hadoopConfiguration)
    assert(raw.isInstanceOf[NoForkRawLocalFileSystem])
  }

  test("a stream sink call and a parquet write start no Hadoop Shell process") {
    val dir = "/root/testdata/sf0.001"
    val sink = EngineOps.queries("eng_dsv2_stream_sink")
    sink(spark, dir).collect() // builds the fixture outside the recording
    def checkpoints(): Set[String] =
      Option(new File(sys.props("java.io.tmpdir")).list()).getOrElse(Array.empty)
        .filter(_.startsWith("graft_ssink_ck")).toSet
    val ckptsBefore = checkpoints()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val row = try withTmpDir("graft_lfs_pq") { out =>
      val r = sink(spark, dir).collect()(0)
      spark.range(100).write.parquet(new File(out, "p").getAbsolutePath)
      r
    } finally rec.stop()
    val jfr = Files.createTempFile("graft_lfs", ".jfr")
    val events = try {
      rec.dump(jfr)
      jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
    } finally { rec.close(); Files.deleteIfExists(jfr); () }
    val shellStarts = events.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
      .map(_.getString("command"))
    assert(shellStarts.isEmpty)
    assert(row.getBoolean(3) && row.getBoolean(4), row)
    assert(checkpoints() == ckptsBefore, "the sink left its checkpoint directory behind")
  }
}
