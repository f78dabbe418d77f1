package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.load.{NioLocalFileSystem, NioLocalFs}

/** Differential spec: graft's fork-free `file:` filesystem against
  * Hadoop's stock `LocalFileSystem`/`LocalFs`, both built directly
  * (never through the FileSystem cache) over one fixture tree. Every
  * status must match field for field, and every write must leave the
  * same modes and sidecars on disk. */
class NioLocalFsSpec extends AnyFunSuite {
  private val Local = URI.create("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  /** (stock, graft) FileSystems and FileContexts over `c`. */
  private def pair(c: Configuration) = {
    val stock = new LocalFileSystem()
    stock.initialize(Local, c)
    val nio = new NioLocalFileSystem()
    nio.initialize(Local, c)
    val stockFc = FileContext.getFileContext(
      AbstractFileSystem.createFileSystem(Local, c), c)
    val nioFc = FileContext.getFileContext(new NioLocalFs(Local, c), c)
    (stock, nio, stockFc, nioFc)
  }

  private def fields(st: FileStatus) = (st.getPath, st.getLen,
    st.isDirectory, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
    st.getPermission, st.getOwner, st.getGroup, st.getModificationTime,
    st.getReplication, st.getBlockSize)

  /** Same fields, or the same exception class. */
  private def same(what: String)(stock: => Seq[FileStatus],
                                 nio: => Seq[FileStatus]): Unit = {
    val (s, n) = (Try(stock.map(fields).sortBy(_._1.toString)),
                  Try(nio.map(fields).sortBy(_._1.toString)))
    assert(s.toEither.left.map(_.getClass) == n.toEither.left.map(_.getClass),
      s"$what: stock $s vs graft $n")
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(octal(s).toShort)
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] &
      octal("7777")
  private def setMode(p: String, m: String): Unit =
    Files.setAttribute(Paths.get(p), "unix:mode", Integer.valueOf(octal(m)))

  private def tree(): String = {
    val root = Files.createTempDirectory("graft-niofs-").toString
    val (stock, _, _, _) = pair(conf())
    def write(p: String, body: String): Unit = {
      val out = stock.create(new Path(p)) // checksummed: writes a .crc
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    write(s"$root/f640", "six forty")
    stock.setPermission(new Path(s"$root/f640"), perm("640"))
    stock.mkdirs(new Path(s"$root/d750/nested/deeper"))
    stock.setPermission(new Path(s"$root/d750"), perm("750"))
    write(s"$root/d750/nested/part-0.json", """{"a": 1}""")
    write(s"$root/d750/nested/deeper/part-1.json", """{"a": 2}""")
    write(s"$root/a b%20c.txt", "space and percent")
    Files.createSymbolicLink(Paths.get(s"$root/to-file"), Paths.get("f640"))
    Files.createSymbolicLink(Paths.get(s"$root/dangling"),
      Paths.get("no-such-file"))
    Files.createSymbolicLink(Paths.get(s"$root/to-dir"), Paths.get("d750"))
    Files.createDirectory(Paths.get(s"$root/setgid"))
    setMode(s"$root/setgid", "2750")
    root
  }

  test("statuses and listings match the stock classes field for field") {
    val root = tree()
    val (stock, nio, stockFc, nioFc) = pair(conf())
    // the sticky bit is set (and read back) through both classes
    stock.mkdirs(new Path(s"$root/sticky"))
    nio.setPermission(new Path(s"$root/sticky"), perm("1777"))
    val names = Seq("", "f640", ".f640.crc", "d750", "d750/nested",
      "d750/nested/.part-0.json.crc", "d750/nested/deeper/part-1.json",
      "a b%20c.txt", "to-file", "dangling", "to-dir", "setgid", "sticky",
      "missing")
    val paths = names.flatMap { n =>
      val p = new Path(if (n.isEmpty) root else s"$root/$n")
      Seq(p, p.makeQualified(Local, new Path("/")))
    }
    paths.foreach { p =>
      same(s"getFileStatus $p")(Seq(stock.getFileStatus(p)),
        Seq(nio.getFileStatus(p)))
      same(s"getFileLinkStatus $p")(Seq(stock.getFileLinkStatus(p)),
        Seq(nio.getFileLinkStatus(p)))
      same(s"listStatus $p")(stock.listStatus(p).toSeq,
        nio.listStatus(p).toSeq)
      same(s"raw listStatus $p")(stock.getRawFileSystem.listStatus(p).toSeq,
        nio.getRawFileSystem.listStatus(p).toSeq)
      same(s"FileContext.getFileLinkStatus $p")(
        Seq(stockFc.getFileLinkStatus(p)), Seq(nioFc.getFileLinkStatus(p)))
      same(s"FileContext.getFileStatus $p")(Seq(stockFc.getFileStatus(p)),
        Seq(nioFc.getFileStatus(p)))
    }
    def all(fs: FileSystem, p: Path) = {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus)
        .toSeq
    }
    same("listFiles(recursive)")(all(stock, new Path(root)),
      all(nio, new Path(root)))
    // the fixture really exercises what the stock class forks for
    val link = nio.getFileLinkStatus(new Path(s"$root/to-file"))
    assert(link.isSymlink && link.getSymlink == new Path(s"file:$root/f640"))
    assert(nio.getFileStatus(new Path(s"$root/f640")).getPermission ==
      perm("640"))
    assert(nio.getFileStatus(new Path(s"$root/sticky")).getPermission
      .getStickyBit)
    assert(nio.getRawFileSystem.listStatus(new Path(s"$root/d750/nested"))
      .map(_.getPath.getName).toSet ==
      Set("part-0.json", ".part-0.json.crc", "deeper"))
  }

  test("create, mkdirs and setPermission leave the stock modes on disk") {
    Seq("022", "077").foreach { umask =>
      val root = Files.createTempDirectory("graft-niomode-").toString
      val (stock, nio, stockFc, nioFc) = pair(conf(umask))
      val sides = Seq("stock" -> (stock, stockFc), "nio" -> (nio, nioFc))
      sides.foreach { case (side, (fs, fc)) =>
        fs.create(new Path(s"$root/$side/plain/f")).close()
        fs.create(new Path(s"$root/$side/f640"), perm("640"),
          true, 4096, 1.toShort, 1L << 25, null).close()
        fs.mkdirs(new Path(s"$root/$side/dirs/a/b"))
        fs.mkdirs(new Path(s"$root/$side/d750"), perm("750"))
        fc.create(new Path(s"$root/$side/fc/f"),
          EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
          .close()
        fc.mkdir(new Path(s"$root/$side/fcdir/x"), FsPermission.getDirDefault,
          true)
        fs.mkdirs(new Path(s"$root/$side/sticky"))
        fs.setPermission(new Path(s"$root/$side/sticky"), perm("1777"))
        fs.mkdirs(new Path(s"$root/$side/setgid"))
        setMode(s"$root/$side/setgid", "2750")
        fs.setPermission(new Path(s"$root/$side/setgid"),
          perm("755"))
      }
      val rel = Seq("plain", "plain/f", "plain/.f.crc", "f640", ".f640.crc",
        "dirs", "dirs/a", "dirs/a/b", "d750", "fc", "fc/f", "fc/.f.crc",
        "fcdir", "fcdir/x", "sticky", "setgid")
      rel.foreach { r =>
        assert(mode(s"$root/nio/$r") == mode(s"$root/stock/$r"),
          f"umask $umask: $r is ${mode(s"$root/nio/$r")}%o, " +
          f"stock ${mode(s"$root/stock/$r")}%o")
      }
      assert(mode(s"$root/nio/sticky") == octal("1777"))
      assert(mode(s"$root/nio/setgid") == octal("2755"))
      assert(mode(s"$root/nio/f640") == octal(if (umask == "022") "640" else "600"))
    }
  }

  test("FileContext.rename(OVERWRITE) moves data and .crc exactly as LocalFs") {
    val root = Files.createTempDirectory("graft-niorename-").toString
    val (stock, nio, stockFc, nioFc) = pair(conf())
    def write(fc: FileContext, p: String, body: String): Unit = {
      val out = fc.create(new Path(p),
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    Seq("stock" -> stockFc, "nio" -> nioFc).foreach { case (side, fc) =>
      write(fc, s"$root/$side/dst", "the old content, longer than the new")
      write(fc, s"$root/$side/.tmp", "new content")
      fc.rename(new Path(s"$root/$side/.tmp"), new Path(s"$root/$side/dst"),
        Options.Rename.OVERWRITE)
    }
    def listing(side: String) = Files.list(Paths.get(s"$root/$side"))
      .toArray.map(_.toString.stripPrefix(s"$root/$side/")).sorted.toSeq
    assert(listing("nio") == listing("stock"))
    assert(listing("nio") == Seq(".dst.crc", "dst"))
    Seq("dst", ".dst.crc").foreach { f =>
      assert(Files.readAllBytes(Paths.get(s"$root/nio/$f")).toSeq ==
        Files.readAllBytes(Paths.get(s"$root/stock/$f")).toSeq, f)
    }
    // the read-back verifies the moved sidecar: no ChecksumException
    Seq(stock, nio).foreach { fs =>
      val in = fs.open(new Path(s"$root/nio/dst"))
      try assert(new String(in.readAllBytes(), "UTF-8") == "new content")
      finally in.close()
    }
    val in = nioFc.open(new Path(s"$root/nio/dst"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "new content")
    finally in.close()
  }
}
