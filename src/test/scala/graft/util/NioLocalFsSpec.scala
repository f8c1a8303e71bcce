package graft.util

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioRawLocalFileSystem]] must leave the same files behind as the
  * stock `RawLocalFileSystem` it replaces, and a graft session must
  * resolve `file:` to it through both Hadoop APIs. */
class NioLocalFsSpec extends AnyFunSuite with SparkTestSession {

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val nio = initialized(new NioRawLocalFileSystem)

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft-niofs")

  /** Full `st_mode` permission bits, sticky included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  test("files and directories get the stock permissions, explicit and default") {
    val d = tmp()
    def both(name: String)(make: (RawLocalFileSystem, Path) => Unit): (Int, Int) = {
      val a = d.resolve(s"stock-$name"); val b = d.resolve(s"nio-$name")
      make(stock, new Path(a.toUri)); make(nio, new Path(b.toUri))
      (mode(a), mode(b))
    }
    val cases: Seq[(String, (RawLocalFileSystem, Path) => Unit)] = Seq(
      "file-0640" -> ((fs, p) =>
        fs.create(p, new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()),
      "file-default" -> ((fs, p) => fs.create(p).close()),
      "dir-0750" -> ((fs, p) => fs.mkdirs(p, new FsPermission("750"))),
      "dir-default" -> ((fs, p) => fs.mkdirs(p)),
      "set-0604" -> ((fs, p) => {
        fs.create(p).close(); fs.setPermission(p, new FsPermission("604"))
      }),
      // a sticky bit is outside the nine rwx bits: the stock path sets it
      "set-sticky-1777" -> ((fs, p) => {
        fs.mkdirs(p); fs.setPermission(p, new FsPermission("1777"))
      }))
    cases.foreach { case (name, make) =>
      val (s, n) = both(name)(make)
      assert(n == s, f"$name: stock 0$s%o, nio 0$n%o")
    }
    assert(mode(d.resolve("nio-file-0640")) == Integer.parseInt("640", 8))
    assert(mode(d.resolve("nio-dir-0750")) == Integer.parseInt("750", 8))
    assert(mode(d.resolve("nio-set-sticky-1777")) == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus matches stock on a symlink and reports none on a plain file") {
    val d = tmp()
    val target = Files.write(d.resolve("target"), "x".getBytes)
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    // stock resolves the link with `readlink` on the path's string, so
    // it reports a symlink for a scheme-less path and none for a
    // `file:` one; both forms must read the same as stock
    Seq(new Path(link.toString), new Path(link.toUri)).foreach { p =>
      val (s, n) = (stock.getFileLinkStatus(p), nio.getFileLinkStatus(p))
      assert(n.isSymlink == s.isSymlink, p)
      if (s.isSymlink) assert(n.getSymlink == s.getSymlink, p)
      assert(n.getPath == s.getPath && n.getLen == s.getLen, p)
    }
    val linkStatus = nio.getFileLinkStatus(new Path(link.toString))
    assert(linkStatus.isSymlink)
    assert(linkStatus.getSymlink == new Path(target.toUri))

    val plain = nio.getFileLinkStatus(new Path(target.toUri))
    val plainStock = stock.getFileLinkStatus(new Path(target.toUri))
    assert(!plain.isSymlink && !plainStock.isSymlink)
    assert(plain.getLen == 1 && plain.getPath == plainStock.getPath)
    assert(!nio.getFileLinkStatus(new Path(d.toUri)).isSymlink)
    intercept[java.io.FileNotFoundException](
      nio.getFileLinkStatus(new Path(d.resolve("missing").toUri)))
  }

  test("a graft session resolves file: to the fork-free classes through both APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    // FileSystem.get goes through the JVM-wide cache: a stock instance
    // cached before the session existed would be handed back here
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(new Path(tmp().toUri).getFileSystem(conf).isInstanceOf[NioLocalFileSystem])

    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    val afs = fc.getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
    assert(afs.getUriDefaultPort == -1 && afs.isValidName("a:b"))

    // what Structured Streaming's checkpoint manager does per log entry:
    // create a temp file, then rename it over the final name
    val d = tmp()
    val (tmpFile, dst) = (new Path(d.resolve(".0.tmp").toUri), new Path(d.resolve("0").toUri))
    val out = fc.create(tmpFile, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write("v1".getBytes); out.close()
    fc.rename(tmpFile, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(Paths.get(dst.toUri))) == "v1")
    assert(!fc.util.exists(tmpFile))
  }
}
