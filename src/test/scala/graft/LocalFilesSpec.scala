package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** The engine's `file:` filesystem gives Hadoop's stock local filesystem's
  * results: the same operations through both, on a temp dir, leave the same
  * modes and return the same statuses and exceptions. */
class LocalFilesSpec extends SparkSpec {
  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def stockFs(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def nioFs(c: Configuration): FileSystem = {
    val fs = new NioLocalFileSystem()
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def fileContext(impl: String, c: Configuration): FileContext = {
    val fc = new Configuration(c)
    fc.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getLocalFSFileContext(fc)
  }

  private val StockFs = "org.apache.hadoop.fs.local.LocalFs"
  private val NioFs = classOf[NioLocalFs].getName

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("local-files")

  /** The full mode the OS holds for `p`, special bits included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
      s.getGroup, s.hasAcl, s.isEncrypted, s.isErasureCoded)

  private def sameStatus(stock: FileStatus, nio: FileStatus): Unit =
    assert(fields(nio) == fields(stock), s"engine $nio, stock $stock")

  private def sameFailure(stock: => Any, nio: => Any): Throwable = {
    val (s, n) = (intercept[Exception](stock), intercept[Exception](nio))
    assert(n.getClass == s.getClass && n.getMessage == s.getMessage, s"engine $n, stock $s")
    n
  }

  private def qualified(p: java.nio.file.Path): Path = new Path(p.toUri)

  test("nested mkdirs leave the stock modes under umask 022 and 077") {
    for ((umask, expected) <- Seq("022" -> 0x1ed, "077" -> 0x1c0)) { // 0755, 0700
      val root = tmp()
      val c = conf(umask)
      assert(stockFs(c).mkdirs(qualified(root.resolve("stock/a/b/c"))))
      assert(nioFs(c).mkdirs(qualified(root.resolve("nio/a/b/c"))))
      for (d <- Seq("a", "a/b", "a/b/c")) {
        val (s, n) = (mode(root.resolve(s"stock/$d")), mode(root.resolve(s"nio/$d")))
        assert(n == s && n == expected, f"umask $umask, $d: engine $n%o, stock $s%o")
      }
    }
  }

  test("create leaves the stock modes on the file and its .crc") {
    for (umask <- Seq("022", "077")) {
      val root = tmp()
      val c = conf(umask)
      for ((side, fs) <- Seq("stock" -> stockFs(c), "nio" -> nioFs(c))) {
        val out = fs.create(qualified(root.resolve(s"$side/d/part-0")))
        try out.write("rows".getBytes("UTF-8")) finally out.close()
      }
      for (f <- Seq("d", "d/part-0", "d/.part-0.crc")) {
        val (s, n) = (root.resolve(s"stock/$f"), root.resolve(s"nio/$f"))
        assert(Files.exists(n) && mode(n) == mode(s),
          f"umask $umask, $f: engine ${mode(n)}%o, stock ${mode(s)}%o")
      }
    }
  }

  test("setPermission sets the stock modes, the sticky bit through Hadoop's own path") {
    val root = tmp()
    val (stock, nio) = (stockFs(conf()), nioFs(conf()))
    for (bits <- Seq("700", "640", "1777")) {
      val perm = new FsPermission(bits)
      for (kind <- Seq("dir", "file"); (side, fs) <- Seq("stock" -> stock, "nio" -> nio)) {
        val p = root.resolve(s"$side-$kind-$bits")
        if (kind == "dir") Files.createDirectory(p) else Files.createFile(p)
        fs.setPermission(qualified(p), perm)
      }
      for (kind <- Seq("dir", "file")) {
        val (s, n) = (mode(root.resolve(s"stock-$kind-$bits")), mode(root.resolve(s"nio-$kind-$bits")))
        assert(n == s, f"$kind $bits: engine $n%o, stock $s%o")
      }
      assert(mode(root.resolve(s"nio-dir-$bits")) == Integer.parseInt(bits, 8))
    }
    val missing = qualified(root.resolve("missing"))
    sameFailure(stock.setPermission(missing, new FsPermission("700")),
      nio.setPermission(missing, new FsPermission("700")))
  }

  test("getFileStatus and listStatus return the stock fields for a file and a directory") {
    val root = tmp()
    val dir = Files.createDirectories(root.resolve("d/e"))
    Files.write(root.resolve("d/f"), "rows".getBytes("UTF-8"))
    Files.createSymbolicLink(root.resolve("d/l"), root.resolve("d/f"))
    val (stock, nio) = (stockFs(conf()), nioFs(conf()))
    for (p <- Seq(dir, root.resolve("d/f"), root.resolve("d/l"), root.resolve("d")))
      sameStatus(stock.getFileStatus(qualified(p)), nio.getFileStatus(qualified(p)))
    for (p <- Seq(root.resolve("d"), root.resolve("d/f"))) {
      val (s, n) = (stock.listStatus(qualified(p)).sortBy(_.getPath),
        nio.listStatus(qualified(p)).sortBy(_.getPath))
      assert(n.length == s.length && n.length > 0)
      s.zip(n).foreach { case (a, b) => sameStatus(a, b) }
    }
    val missing = qualified(root.resolve("missing"))
    assert(sameFailure(stock.getFileStatus(missing), nio.getFileStatus(missing))
      .isInstanceOf[FileNotFoundException])
  }

  test("a status reads its permission, owner and group on first use, as the stock one does") {
    val root = tmp()
    Files.write(root.resolve("f"), "rows".getBytes("UTF-8"))
    Files.createDirectory(root.resolve("d"))
    val (stock, nio) = (stockFs(conf()), nioFs(conf()))
    val taken = for (name <- Seq("f", "d"); fs <- Seq(stock, nio))
      yield fs.getFileStatus(qualified(root.resolve(name)))
    val listed = Seq(stock, nio).map(_.listStatus(qualified(root)).sortBy(_.getPath))
    for (name <- Seq("f", "d"))
      Files.setPosixFilePermissions(root.resolve(name),
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx-w----"))
    val modes = (taken ++ listed.flatten).map(_.getPermission)
    assert(modes.forall(_ == new FsPermission("720")), modes)
    taken.grouped(2).foreach { case Seq(s, n) => sameStatus(s, n) }
    listed.head.zip(listed(1)).foreach { case (s, n) => sameStatus(s, n) }
  }

  test("getFileLinkStatus returns the stock status for a file, a directory, " +
       "a missing path and a symlink") {
    val root = tmp()
    Files.createDirectory(root.resolve("d"))
    Files.write(root.resolve("f"), "rows".getBytes("UTF-8"))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    assert(Files.isSymbolicLink(root.resolve("l")))
    val (stock, nio) = (stockFs(conf()), nioFs(conf()))
    for (name <- Seq("f", "d", "l")) {
      val p = qualified(root.resolve(name))
      sameStatus(stock.getFileLinkStatus(p), nio.getFileLinkStatus(p))
      val unqualified = new Path(root.resolve(name).toString)
      sameStatus(stock.getFileLinkStatus(unqualified), nio.getFileLinkStatus(unqualified))
    }
    val (sfc, nfc) = (fileContext(StockFs, conf()), fileContext(NioFs, conf()))
    for (name <- Seq("f", "d", "l")) {
      val p = qualified(root.resolve(name))
      sameStatus(sfc.getFileLinkStatus(p), nfc.getFileLinkStatus(p))
    }
    val missing = qualified(root.resolve("missing"))
    assert(sameFailure(stock.getFileLinkStatus(missing), nio.getFileLinkStatus(missing))
      .isInstanceOf[FileNotFoundException])
    assert(sameFailure(sfc.getFileLinkStatus(missing), nfc.getFileLinkStatus(missing))
      .isInstanceOf[FileNotFoundException])
  }

  test("FileContext create, mkdir and rename leave the stock tree") {
    val root = tmp()
    def tree(side: String): Seq[(String, Int, String)] = {
      val base = root.resolve(side)
      val walk = Files.walk(base)
      try walk.iterator().asScala.filter(_ != base).map { p =>
        (base.relativize(p).toString, mode(p),
          if (Files.isRegularFile(p)) new String(Files.readAllBytes(p), "ISO-8859-1") else "")
      }.toSeq.sortBy(_._1) finally walk.close()
    }
    def write(fc: FileContext, p: Path, body: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val failures = for ((side, impl) <- Seq("stock" -> StockFs, "nio" -> NioFs)) yield {
      val fc = fileContext(impl, conf())
      val base = root.resolve(side)
      fc.mkdir(qualified(base.resolve("logs/offsets")), FsPermission.getDirDefault, true)
      write(fc, qualified(base.resolve("logs/offsets/.0.tmp")), "batch 0")
      fc.rename(qualified(base.resolve("logs/offsets/.0.tmp")),
        qualified(base.resolve("logs/offsets/0")), Options.Rename.OVERWRITE)
      write(fc, qualified(base.resolve("logs/offsets/.1.tmp")), "batch 1")
      write(fc, qualified(base.resolve("logs/offsets/1")), "stale")
      fc.rename(qualified(base.resolve("logs/offsets/.1.tmp")),
        qualified(base.resolve("logs/offsets/1")), Options.Rename.OVERWRITE)
      write(fc, qualified(base.resolve("logs/offsets/.2.tmp")), "batch 2")
      intercept[Exception](fc.rename(qualified(base.resolve("logs/offsets/.2.tmp")),
        qualified(base.resolve("logs/offsets/1")), Options.Rename.NONE))
    }
    assert(failures.map(_.getClass).distinct.size == 1, failures)
    val (s, n) = (tree("stock"), tree("nio"))
    assert(n == s, s"engine $n, stock $s")
    assert(n.map(_._1).contains("logs/offsets/1") && n.exists(_._3 == "batch 1"))
  }

  test("a fresh Configuration, the local FileContext and a session's hadoop conf " +
       "resolve file: to the engine's classes") {
    val fresh = new Configuration()
    assert(fresh.getClass("fs.file.impl", null) == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(fresh).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.getClass == classOf[NioLocalFs])
    val session = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), session).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), session)
      .getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(new Path(Paths.get(sf()).toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getClass == classOf[NioLocalFileSystem])
  }
}
