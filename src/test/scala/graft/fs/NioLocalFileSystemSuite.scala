package graft.fs

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] and [[NioLocalFs]] against Hadoop's own
  * `LocalFileSystem` and `LocalFs`, side by side on the same
  * operations: what lands on disk and what the calls return must not
  * differ. */
class NioLocalFileSystemSuite extends AnyFunSuite {

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Hadoop's `LocalFileSystem` and ours, each initialized on `c`. */
  private def fileSystems(c: Configuration): Seq[(String, FileSystem)] =
    Seq("hadoop" -> new LocalFileSystem, "nio" -> new NioLocalFileSystem)
      .map { case (n, fs) => fs.initialize(URI.create("file:///"), c); n -> fs }

  /** FileContexts over Hadoop's `LocalFs` and over ours. */
  private def fileContexts(c: Configuration): Seq[(String, FileContext)] =
    Seq("hadoop" -> None, "nio" -> Some(classOf[NioLocalFs].getName)).map {
      case (n, impl) =>
        val cc = new Configuration(c)
        impl.foreach(cc.set("fs.AbstractFileSystem.file.impl", _))
        n -> FileContext.getFileContext(URI.create("file:///"), cc)
    }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  test("mode bits of files, dirs and .crc sidecars equal Hadoop's: " +
      "umask 022 and 077, FileSystem and FileContext, setgid parent") {
    // a setgid dir: subdirs inherit the bit, which chmod keeps
    val setgid = tmp("graft-fs-setgid")
    assert(new ProcessBuilder("chmod", "g+s", setgid).start().waitFor() == 0)
    for ((umask, base) <- Seq("022" -> tmp("graft-fs-modes"),
        "077" -> tmp("graft-fs-modes"), "022" -> setgid)) {
      val c = conf(umask)
      val viaFs = fileSystems(c).map { case (n, fs) =>
        val dir = s"$base/fs-$n"
        fs.mkdirs(new Path(s"$dir/a/b"))
        fs.create(new Path(s"$dir/a/b/f"), true).close()
        fs.create(new Path(s"$dir/new/g"), true).close() // parents made by create
        Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "new", "new/g", "new/.g.crc")
          .map(p => p -> mode(s"$dir/$p"))
      }
      assert(viaFs(0) == viaFs(1), s"FileSystem, umask $umask under $base")
      val viaFc = fileContexts(c).map { case (n, fc) =>
        val dir = s"$base/fc-$n"
        fc.mkdir(new Path(s"$dir/a/b"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"$dir/a/b/f"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()).close()
        Seq("a", "a/b", "a/b/f", "a/b/.f.crc").map(p => p -> mode(s"$dir/$p"))
      }
      assert(viaFc(0) == viaFc(1), s"FileContext, umask $umask under $base")
    }
    assert((mode(s"$setgid/fs-nio/a") & 0x400) != 0, "setgid not inherited")
  }

  test("checksums: .crc is written, and a flipped data byte raises " +
      "ChecksumException on a FileSystem read") {
    val base = tmp("graft-fs-crc")
    val data = Array.tabulate[Byte](4096)(_.toByte)
    def crcBeside(f: Path) =
      Files.exists(Paths.get(f.getParent.toString, s".${f.getName}.crc"))
    // LocalFileSystem moves a failed file to bad_files at the top of its
    // mount (outside the test's dirs); kept in place here
    Seq("hadoop" -> new LocalFileSystem {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream,
            inPos: Long, sums: FSDataInputStream, sumsPos: Long) = false
      },
      "nio" -> new NioLocalFileSystem {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream,
            inPos: Long, sums: FSDataInputStream, sumsPos: Long) = false
      }).foreach { case (n, fs) =>
      fs.initialize(URI.create("file:///"), conf())
      val f = new Path(s"$base/fs-$n")
      val out = fs.create(f, true)
      out.write(data); out.close()
      assert(crcBeside(f), n)
      val raf = new RandomAccessFile(f.toString, "rw")
      try { raf.seek(1000); raf.write(data(1000) ^ 0xff) } finally raf.close()
      val in = fs.open(f)
      try intercept[ChecksumException](in.readFully(new Array[Byte](data.length)))
      finally in.close()
    }
    // FileContext writes the sidecar too (its reads do not verify it,
    // with Hadoop's LocalFs as with ours)
    fileContexts(conf()).foreach { case (n, fc) =>
      val f = new Path(s"$base/fc-$n")
      fc.create(f, EnumSet.of(CreateFlag.CREATE)).close()
      assert(crcBeside(f), n)
    }
  }

  test("getFileLinkStatus agrees with Hadoop's for a symlink, a file and " +
      "a missing path") {
    val base = tmp("graft-fs-links")
    Files.write(Paths.get(s"$base/file"), "x".getBytes(UTF_8))
    Files.createSymbolicLink(Paths.get(s"$base/link"), Paths.get(s"$base/file"))
    def summary(s: FileStatus) = (s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink.toUri.getPath) else None,
      s.isFile, s.getLen, s.getPermission)
    val fss = fileSystems(conf())
    for (p <- Seq(s"$base/file", s"$base/link", s"file:$base/link")) {
      val got = fss.map { case (_, fs) => summary(fs.getFileLinkStatus(new Path(p))) }
      assert(got(0) == got(1), p)
    }
    assert(fss(1)._2.getFileLinkStatus(new Path(s"$base/link")).isSymlink)
    fss.foreach { case (_, fs) =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$base/nope")))
    }
    val fcs = fileContexts(conf())
    val viaFc = fcs.map { case (_, fc) =>
      summary(fc.getFileLinkStatus(new Path(s"$base/link")))
    }
    assert(viaFc(0) == viaFc(1))
    assert(viaFc(1)._1 && viaFc(1)._2.contains(s"$base/file"))
    fcs.foreach { case (_, fc) =>
      intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(s"$base/nope")))
    }
  }

  test("a sticky-bit setPermission gives Hadoop's mode") {
    val base = tmp("graft-fs-sticky")
    val modes = fileSystems(conf()).map { case (n, fs) =>
      val d = new Path(s"$base/$n")
      fs.mkdirs(d)
      fs.setPermission(d, new FsPermission(Integer.parseInt("1777", 8).toShort))
      mode(d.toString)
    }
    assert(modes(0) == modes(1) && modes(0) == Integer.parseInt("1777", 8))
  }

  test("a FileContext rename with OVERWRITE replaces the destination") {
    val base = tmp("graft-fs-rename")
    fileContexts(conf()).foreach { case (n, fc) =>
      def write(p: Path, s: String): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(s.getBytes(UTF_8)); out.close()
      }
      val (src, dst) = (new Path(s"$base/$n-src"), new Path(s"$base/$n-dst"))
      write(dst, "old")
      write(src, "new-contents")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src) && !Files.exists(Paths.get(s"$base/.$n-src.crc")))
      val in = fc.open(dst)
      val buf = new Array[Byte]("new-contents".length)
      try in.readFully(buf) finally in.close()
      assert(new String(buf, UTF_8) == "new-contents", n)
      assert(Files.exists(Paths.get(s"$base/.$n-dst.crc")), n)
    }
  }
}
