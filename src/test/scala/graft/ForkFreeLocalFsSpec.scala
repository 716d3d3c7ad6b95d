package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.PrivilegedExceptionAction
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag,
  FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the `file:` filesystem a GraftSession installs: the same classes
  * for both Hadoop APIs, and the same permission bits, `.crc` checks,
  * rename semantics and link status as stock Hadoop.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")).getOrCreate()

  private val root = URI.create("file:///")

  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  /** Stock Hadoop's classes for `file:` under `conf` with `umask`. */
  private def stockConf(conf: Configuration, umask: String) = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def graftConf(umask: String) = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** A FileSystem built from `conf` alone: the JVM-wide cache is keyed by
    * user, so a fresh user gets a fresh instance.
    */
  private def uncachedFs(conf: Configuration): FileSystem =
    UserGroupInformation.createRemoteUser("fs-spec-" + System.nanoTime())
      .doAs(new PrivilegedExceptionAction[FileSystem] {
        def run(): FileSystem = FileSystem.get(root, conf)
      })

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("a GraftSession resolves file: to the fork-free classes for both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = uncachedFs(conf)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[ForkFreeLocalFs])
    assert(AbstractFileSystem.get(root, conf).getClass == classOf[ForkFreeLocalFs])
    // the stock conf still resolves to stock Hadoop
    val stock = stockConf(conf, "022")
    assert(uncachedFs(stock).getClass == classOf[LocalFileSystem])
    assert(AbstractFileSystem.get(root, stock).getClass.getName ==
      "org.apache.hadoop.fs.local.LocalFs")
  }

  test("files and directories get stock Hadoop's permission bits through both APIs") {
    val dir = tmp("fs-perm")
    // a setgid parent: new directories inherit the bit, and a 4-digit
    // numeric chmod keeps it
    val sgid = dir.resolve("sgid")
    Files.createDirectory(sgid)
    Files.setAttribute(sgid, "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8)))
    val perms = Seq("644", "600", "755", "777", "700", "1777").map(p =>
      new FsPermission(Integer.parseInt(p, 8).toShort))
    for (umask <- Seq("022", "077", "002"); (parent, pi) <- Seq(dir, sgid).zipWithIndex) {
      val gc = graftConf(umask)
      val sc = stockConf(gc, umask)
      val apis: Seq[Configuration => (Path, Option[FsPermission], Boolean) => Unit] =
        Seq(
          conf => {
            val fs = uncachedFs(conf)
            (p, perm, isDir) =>
              if (isDir) perm.fold(fs.mkdirs(p))(fs.mkdirs(p, _))
              else perm.fold(fs.create(p))(fs.create(p, _, false, 4096,
                1.toShort, 1L << 20, null)).close()
          },
          conf => {
            val fc = FileContext.getFileContext(conf)
            (p, perm, isDir) =>
              if (isDir) fc.mkdir(p, perm.getOrElse(FsPermission.getDirDefault), true)
              else fc.create(p, EnumSet.of(CreateFlag.CREATE),
                (Options.CreateOpts.createParent() +:
                  perm.map(Options.CreateOpts.perms).toSeq): _*).close()
          })
      for ((api, ai) <- apis.zipWithIndex; (perm, i) <- (None +: perms.map(Some(_))).zipWithIndex;
           isDir <- Seq(false, true)) {
        val name = s"u$umask-p$pi-a$ai-$i-${if (isDir) "d" else "f"}"
        val g = parent.resolve(s"graft-$name/x")
        val s = parent.resolve(s"stock-$name/x")
        api(gc)(new Path(g.toUri), perm, isDir)
        api(sc)(new Path(s.toUri), perm, isDir)
        assert(mode(g) == mode(s), s"$name: ${mode(g).toOctalString} vs ${mode(s).toOctalString}")
        assert(mode(g.getParent) == mode(s.getParent), s"$name parent")
        if (pi == 1 && isDir) assert((mode(g) & Integer.parseInt("2000", 8)) != 0, name)
      }
    }
  }

  test("a .crc sidecar is written and a flipped data byte fails the read, as in stock Hadoop") {
    val dir = tmp("fs-crc")
    val data = ("graft checkpoint " * 40).getBytes(StandardCharsets.UTF_8)
    def flip(p: java.nio.file.Path): Unit = {
      val b = Files.readAllBytes(p)
      b(b.length / 2) = (b(b.length / 2) ^ 1).toByte
      Files.write(p, b)
    }
    def readAll(in: java.io.InputStream): Array[Byte] =
      try in.readAllBytes() finally in.close()
    // what a FileContext read of a corrupted file returns: Hadoop's ChecksumFs
    // does not verify on read, and the fork-free one must not differ
    val fcReads = Seq("graft" -> graftConf("022"),
        "stock" -> stockConf(spark.sessionState.newHadoopConf(), "022")).map {
      case (label, conf) =>
        val fs = uncachedFs(conf)
        val fc = FileContext.getFileContext(conf)
        val viaFs = new Path(dir.resolve(s"$label-fs.bin").toUri)
        val out = fs.create(viaFs); out.write(data); out.close()
        val viaFc = new Path(dir.resolve(s"$label-fc.bin").toUri)
        val out2 = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE))
        out2.write(data); out2.close()
        for (p <- Seq(viaFs, viaFc)) {
          val local = Paths.get(p.toUri)
          assert(Files.exists(local.resolveSibling(s".${local.getFileName}.crc")), s"$label $p")
          assert(readAll(fs.open(p)).sameElements(data), s"$label $p")
          flip(local)
          intercept[ChecksumException](readAll(fs.open(p)))
        }
        scala.util.Try(readAll(fc.open(viaFc)).toSeq).toEither.left.map(_.getClass)
    }
    assert(fcReads(0) == fcReads(1))
  }

  test("a FileContext rename without OVERWRITE onto an existing file throws") {
    val dir = tmp("fs-rename")
    val fc = FileContext.getFileContext(graftConf("022"))
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write(s.getBytes(StandardCharsets.UTF_8)); out.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    val src = new Path(dir.resolve("src").toUri)
    val dst = new Path(dir.resolve("dst").toUri)
    write(src, "new"); write(dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(dst) == "old" && read(src) == "new")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new" && !fc.util.exists(src))
    assert(Files.exists(dir.resolve(".dst.crc")) && !Files.exists(dir.resolve(".src.crc")))
  }

  test("link status matches stock Hadoop for a plain file, a symlink and a dangling symlink") {
    val dir = tmp("fs-link")
    val file = dir.resolve("file")
    Files.write(file, "data".getBytes(StandardCharsets.UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val rel = Files.createSymbolicLink(dir.resolve("rel"), Paths.get("file"))
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    val conf = spark.sessionState.newHadoopConf()
    val stock = new RawLocalFileSystem
    stock.initialize(root, conf)
    val graft = new ForkFreeRawLocalFileSystem
    graft.initialize(root, conf)
    val stockFc = FileContext.getFileContext(stockConf(conf, "022"))
    val graftFc = FileContext.getFileContext(conf)
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isFile,
      s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup, s.getReplication, s.getBlockSize)
    // the status fields, or the exception's class
    def outcome(s: => FileStatus) = scala.util.Try(fields(s)).toEither.left.map(_.getClass)
    val seen = for (p <- Seq(file, link, rel, dangling, missing, dir);
         path <- Seq(new Path(p.toString), new Path(p.toUri))) yield {
      val want = outcome(stock.getFileLinkStatus(path))
      assert(outcome(graft.getFileLinkStatus(path)) == want, path)
      assert(outcome(graftFc.getFileLinkStatus(path)) ==
        outcome(stockFc.getFileLinkStatus(path)), path)
      if (want.exists(_._5))
        assert(graft.getLinkTarget(path) == stock.getLinkTarget(path), path)
      p -> want
    }
    // at a plain path the three links read as links, the dangling one with
    // length 0; a missing path and, as in Hadoop, a dangling link at a
    // scheme-qualified path throw FileNotFoundException
    val fnf = Left(classOf[FileNotFoundException])
    assert(seen.collect { case (p, Right(f)) if f._5 => p } == Seq(link, rel, dangling))
    assert(seen.collect { case (p, Right(f)) if f._5 && f._2 == 0 => p } == Seq(dangling))
    assert(seen.collect { case (p, `fnf`) => p } == Seq(dangling, missing, missing))
  }
}
