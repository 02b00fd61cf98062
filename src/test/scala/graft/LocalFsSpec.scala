package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** graft's fork-free `file:` classes against Hadoop's stock ones: the
  * same calls on two fresh temp dirs must leave the same tree (files,
  * `.crc` sidecars, bytes, modes) and give the same statuses and
  * exceptions. And the session really resolves `file:` to them.
  */
class LocalFsSpec extends SparkSpecBase {
  private val root = URI.create("file:///")

  /** The session's Hadoop conf with `file:` bound to graft's classes or
    * to the stock ones, and optionally another umask.
    */
  private def conf(stock: Boolean, umask: Option[String] = None): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.file.impl",
      if (stock) classOf[LocalFileSystem].getName else classOf[NioLocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl",
      if (stock) "org.apache.hadoop.fs.local.LocalFs" else classOf[NioLocalFs].getName)
    umask.foreach(c.set(FsPermission.UMASK_LABEL, _))
    c
  }

  /** Run `body` against the stock classes, then graft's, each on its own
    * temp dir, with an uncached FileSystem and a FileContext.
    */
  private def both[A](umask: Option[String] = None)(
      body: (FileSystem, FileContext, JPath) => A): (A, A) = {
    def one(stock: Boolean): A = {
      val dir = Files.createTempDirectory(if (stock) "graft-lfs-stock" else "graft-lfs-nio")
      val c = conf(stock, umask)
      val fs = FileSystem.newInstance(root, c)
      try body(fs, FileContext.getFileContext(root, c), dir) finally fs.close()
    }
    (one(stock = true), one(stock = false))
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Every entry under `dir`: relative path, kind, full mode (sticky bit
    * included), rwx string and content.
    */
  private def tree(dir: JPath): Seq[(String, Boolean, Int, String, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      val isDir = Files.isDirectory(p)
      (dir.relativize(p).toString, isDir, mode(p),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
        if (isDir) Nil else Files.readAllBytes(p).toSeq)
    }.toSeq.sortBy(_._1)

  private val payload = "graft local file bytes\n".getBytes("UTF-8")
  private def qualified(dir: JPath, name: String) = new Path(dir.toUri.toString, name)

  /** What a status call returned, or the class of what it threw. */
  private def outcome(st: => FileStatus): Either[String, (Boolean, Option[String], Boolean, Long)] =
    Try(st).toEither.left.map(_.getClass.getName).map(s =>
      (s.isSymlink, Option.when(s.isSymlink)(s.getSymlink.toString), s.isDirectory, s.getLen))

  test("the session binds file: to graft's classes for FileSystem and FileContext") {
    val c = spark.sessionState.newHadoopConf()
    // FileSystem.get goes through the JVM-wide cache: a stock instance
    // built before the session would be returned here
    val fs = FileSystem.get(root, c)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.get(root, spark.sparkContext.hadoopConfiguration) eq fs)
    val afs = FileContext.getFileContext(root, c).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass.getName)
  }

  test("create through FileSystem and FileContext matches the stock tree under each umask") {
    for (umask <- Seq(None, Some("027"), Some("077"))) {
      val (stock, nio) = both(umask) { (fs, fc, dir) =>
        val a = fs.create(qualified(dir, "fs/a.bin"))
        try a.write(payload) finally a.close()
        val b = fc.create(qualified(dir, "fc/b.bin"),
          java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
        try b.write(payload) finally b.close()
        tree(dir)
      }
      assert(nio === stock, s"umask $umask")
      assert(nio.map(_._1).contains("fs/.a.bin.crc") && nio.map(_._1).contains("fc/.b.bin.crc"))
    }
  }

  test("mkdirs matches the stock tree, with and without a permission") {
    val (stock, nio) = both() { (fs, fc, dir) =>
      assert(fs.mkdirs(qualified(dir, "x/y/z")))
      assert(fs.mkdirs(qualified(dir, "p/q"), new FsPermission("700")))
      fc.mkdir(qualified(dir, "c/d"), FsPermission.getDirDefault, true)
      tree(dir)
    }
    assert(nio === stock)
    assert(nio.map(_._1) === Seq("c", "c/d", "p", "p/q", "x", "x/y", "x/y/z"))
  }

  test("setPermission sets the stock modes, sticky bit included") {
    val modes = Seq("600", "644", "700", "755", "777")
    val (stock, nio) = both() { (fs, _, dir) =>
      val f = qualified(dir, "f")
      fs.create(f).close()
      val fileModes = modes.map { m =>
        fs.setPermission(f, new FsPermission(m))
        PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("f")))
      }
      val d = qualified(dir, "d")
      fs.mkdirs(d)
      fs.setPermission(d, new FsPermission("1777"))
      val missing = Try(fs.setPermission(qualified(dir, "missing"), new FsPermission("644")))
      (fileModes, mode(dir.resolve("d")), missing.failed.toOption.exists(_.isInstanceOf[IOException]),
        tree(dir))
    }
    assert(nio === stock)
    assert(nio._1 === Seq("rw-------", "rw-r--r--", "rwx------", "rwxr-xr-x", "rwxrwxrwx"))
    assert(nio._2 === Integer.parseInt("1777", 8))
    assert(nio._3, "a missing path fails with an IOException")
  }

  test("getFileLinkStatus matches stock on files, dirs, missing paths and links") {
    val names = Seq("f", "d", "missing", "link", "dangling")
    val (stock, nio) = both() { (fs, fc, dir) =>
      Files.write(dir.resolve("f"), payload)
      Files.createDirectory(dir.resolve("d"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("f"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("nowhere"))
      // the dir name differs between the two runs; statuses name paths
      def rel(o: Either[String, (Boolean, Option[String], Boolean, Long)]) =
        o.map { case (l, target, d, len) => (l, target.map(_.replace(dir.toString, "")), d, len) }
      names.flatMap { n =>
        Seq(rel(outcome(fs.getFileLinkStatus(qualified(dir, n)))),
          rel(outcome(fs.getFileLinkStatus(new Path(dir.resolve(n).toString)))),
          rel(outcome(fc.getFileLinkStatus(qualified(dir, n)))))
      }
    }
    assert(nio === stock)
    val byName = names.zip(nio.grouped(3).toSeq).toMap
    assert(byName("f").forall(_ == Right((false, None, false, payload.length.toLong))))
    assert(byName("d").forall(_.exists(s => !s._1 && s._3)))
    assert(byName("missing").forall(_ == Left(classOf[FileNotFoundException].getName)))
    // an unqualified path reaches readlink, so the link is seen as one
    assert(byName("link")(1).exists(s => s._1 && s._2.exists(_.endsWith("/f"))))
    assert(byName("dangling")(1).exists(s => s._1 && s._2.exists(_.endsWith("/nowhere"))))
  }

  test("FileContext.rename matches stock with and without OVERWRITE") {
    val (stock, nio) = both() { (_, fc, dir) =>
      def put(name: String): Unit = {
        val o = fc.create(qualified(dir, name), java.util.EnumSet.of(CreateFlag.CREATE))
        try o.write(s"$name\n".getBytes("UTF-8")) finally o.close()
      }
      put("a"); put("b"); put("c")
      fc.rename(qualified(dir, "a"), qualified(dir, "a2"))
      val refused = Try(fc.rename(qualified(dir, "b"), qualified(dir, "c"))).failed.toOption
        .map(_.getClass.getName)
      val afterRefusal = tree(dir)
      fc.rename(qualified(dir, "b"), qualified(dir, "c"), Options.Rename.OVERWRITE)
      (refused, afterRefusal, tree(dir))
    }
    assert(nio === stock)
    assert(nio._1 === Some(classOf[FileAlreadyExistsException].getName))
    assert(nio._3.filterNot(_._2).map(e => e._1 -> new String(e._5.toArray, "UTF-8"))
      .filterNot(_._1.endsWith(".crc")) === Seq("a2" -> "a\n", "c" -> "b\n"))
    assert(nio._3.map(_._1) === Seq(".a2.crc", ".c.crc", "a2", "c"))
  }
}
