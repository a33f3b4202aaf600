package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The in-process `file:` filesystem against stock Hadoop: same bindings
  * reach it, same mode bits, same checksums, same link status.
  */
class LocalFsSpec extends AnyFunSuite {
  private val local = URI.create("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }
  private def init[T <: FileSystem](fs: T, c: Configuration): T = {
    fs.initialize(local, c); fs
  }
  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft-localfs")
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff
  private def oct(s: String): Int = Integer.parseInt(s, 8)

  test("a plain Configuration resolves file: to the in-process classes") {
    val fs = FileSystem.get(local, new Configuration())
    assert(fs.getClass == classOf[InProcessLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[InProcessRawLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration()).getClass ==
      classOf[InProcessLocalFileSystem])
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    assert(fc.getDefaultFileSystem.getClass == classOf[InProcessLocalFs])
  }

  test("created files and dirs get stock mode bits under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val c = conf(umask)
      val modes = Seq[FileSystem](new LocalFileSystem(), new InProcessLocalFileSystem)
        .map { fs0 =>
          val fs = init(fs0, c)
          val d = tmp()
          val out = fs.create(new Path(d.resolve("f").toString))
          out.write(1); out.close()
          fs.mkdirs(new Path(d.resolve("a/b/c").toString))
          fs.create(new Path(d.resolve("g").toString),
            new FsPermission("751"), true, 4096, 1.toShort, 1L << 25, null).close()
          Seq("f", ".f.crc", "a", "a/b", "a/b/c", "g", ".g.crc")
            .map(n => n -> mode(d.resolve(n)))
        }
      assert(modes(1) == modes(0), s"umask $umask")
      if (umask == "077") assert(modes(1).toMap.apply("f") == oct("600"))
    }
  }

  test("explicit setPermission gives stock bits, sticky via the fallback") {
    val c = conf()
    val stock = init(new RawLocalFileSystem(), c)
    val ours = init(new InProcessRawLocalFileSystem, c)
    for (perm <- Seq("640", "751", "1777"); isDir <- Seq(false, true)) {
      val got = Seq[FileSystem](stock, ours).map { fs =>
        val p = tmp().resolve("x")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        fs.setPermission(new Path(p.toString), new FsPermission(perm))
        mode(p)
      }
      assert(got(1) == got(0), s"$perm dir=$isDir")
      assert(got(1) == oct(perm), s"$perm dir=$isDir")
    }
  }

  test(".crc sidecar is written and a flipped data byte fails the read") {
    val fs = init(new InProcessLocalFileSystem, conf())
    val d = tmp()
    val p = new Path(d.resolve("data").toString)
    val out = fs.create(p)
    out.write("checksummed bytes".getBytes(UTF_8)); out.close()
    assert(Files.exists(d.resolve(".data.crc")))
    val raw = Files.readAllBytes(d.resolve("data"))
    raw(3) = (raw(3) ^ 0x20).toByte
    Files.write(d.resolve("data"), raw)
    val in = fs.open(p)
    try intercept[ChecksumException](in.readAllBytes())
    finally in.close()
  }

  test("getFileLinkStatus agrees with stock Hadoop, symlinks and missing paths included") {
    val c = conf()
    val stock = init(new RawLocalFileSystem(), c)
    val ours = init(new InProcessRawLocalFileSystem, c)
    val d = tmp()
    Files.write(d.resolve("file"), "abc".getBytes(UTF_8))
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    def view(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
          s.getModificationTime, s.getPermission, s.getOwner,
          if (s.isSymlink) s.getSymlink else None))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(d.resolve(name).toString),
           stock.makeQualified(new Path(d.resolve(name).toString)))) {
      val expected = view(stock, p)
      assert(view(ours, p) == expected, s"$p")
      if (name == "missing") assert(expected.isLeft)
    }
    // the unqualified symlink really is reported as one
    assert(view(ours, new Path(d.resolve("link").toString))
      .exists(_(3) == true))
  }

  test("FileContext rename with overwrite moves data and checksum") {
    val fc = FileContext.getLocalFSFileContext(conf())
    val d = tmp()
    def write(name: String, text: String): Path = {
      val p = new Path(d.resolve(name).toString)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE,
        CreateFlag.OVERWRITE))
      out.write(text.getBytes(UTF_8)); out.close()
      p
    }
    val src = write("src", "new")
    val dst = write("dst", "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(d.resolve("src")) && !Files.exists(d.resolve(".src.crc")))
    assert(Files.exists(d.resolve(".dst.crc")))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), UTF_8) == "new")
    finally in.close()
  }
}
