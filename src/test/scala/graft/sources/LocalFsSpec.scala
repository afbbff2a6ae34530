package graft.sources

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The java.nio `file:` filesystem against Hadoop's stock one: the same
  * operations on two sibling trees must leave identical bytes, mode
  * bits and `.crc` sidecars, and every link-status and rename answer
  * must match. Then the binding: which keys [[LocalFs.bind]] sets, which
  * it leaves, and that a second SparkContext in one JVM is bound too. */
class LocalFsSpec extends SparkSpec {

  private val LocalUri = URI.create("file:///")
  private val StockLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  /** (FileSystem, FileContext) pair, stock or java.nio. */
  private def local(c: Configuration, nio: Boolean): (FileSystem, FileContext) = {
    val fs = if (nio) new NioLocalFileSystem else new LocalFileSystem
    fs.initialize(LocalUri, c)
    val fcConf = new Configuration(c)
    if (nio) fcConf.set(LocalFs.AbstractFileSystemKey, classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(LocalUri, fcConf)
    assert(fc.getDefaultFileSystem.getClass.getName ==
      (if (nio) classOf[NioLocalFs].getName else StockLocalFs))
    (fs, fc)
  }

  private def raw(c: Configuration, nio: Boolean): RawLocalFileSystem = {
    val fs = if (nio) new NioRawLocalFileSystem else new RawLocalFileSystem
    fs.initialize(LocalUri, c)
    fs
  }

  private def write(out: java.io.OutputStream, s: String): Unit =
    try out.write(s.getBytes(UTF_8)) finally out.close()

  /** Every entry under `root`: relative path, full mode bits (type,
    * setuid/setgid/sticky, rwx) and the bytes of regular files. */
  private def snapshot(root: String): Seq[(String, Int, String)] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p =>
      val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
      val bytes = if (Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS))
        new String(Files.readAllBytes(p), UTF_8) else ""
      (base.relativize(p).toString, mode, bytes)
    }.toSeq.sortBy(_._1)
    finally walk.close()
  }

  private def chmod(mode: String, path: String): Unit =
    assert(new ProcessBuilder("chmod", mode, path).start().waitFor() == 0)

  /** The write paths the pipeline uses: FileSystem mkdirs/create (with
    * and without an explicit permission), setPermission (plain and
    * sticky), FileContext mkdir/create/rename, and directories made
    * under a setgid parent. */
  private def buildTree(fs: FileSystem, fc: FileContext, root: String): Unit = {
    def p(rel: String) = new Path(s"file:$root/$rel")
    assert(fs.mkdirs(p("a/b/c")))
    write(fs.create(p("a/f1")), "one")
    write(fs.create(p("a/b/f2"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null), "two")
    fs.setPermission(p("a/f1"), new FsPermission("600"))
    fs.setPermission(p("a/b/c"), new FsPermission("1777"))
    fc.mkdir(p("ctx/d"), FsPermission.getDirDefault, true)
    write(fc.create(p("ctx/d/g"), EnumSet.of(CreateFlag.CREATE)), "three")
    fc.rename(p("ctx/d/g"), p("ctx/d/h"))
    assert(fs.mkdirs(p("sg")))
    chmod("2775", s"$root/sg")
    assert(fs.mkdirs(p("sg/child/grand")))
    write(fs.create(p("sg/child/f3")), "four")
  }

  for (umask <- Seq(None, Some("077"))) {
    test(s"nio file: writes equal stock bytes, mode bits and .crc sidecars (umask ${umask.getOrElse("default")})") {
      val c = conf(umask)
      val root = Scratch.dir("localfs_eq").toString
      val trees = Seq(false, true).map { nio =>
        val dir = s"$root/${if (nio) "nio" else "stock"}"
        val (fs, fc) = local(c, nio)
        buildTree(fs, fc, dir)
        snapshot(dir)
      }
      assert(trees(0) == trees(1))
      val names = trees(1).map(_._1).toSet
      Seq("a/.f1.crc", "a/b/.f2.crc", "ctx/d/.h.crc", "sg/child/.f3.crc")
        .foreach(crc => assert(names(crc), s"$crc missing: $names"))
      val modes = trees(1).map(e => e._1 -> (e._2 & 0xfff)).toMap
      val (file, dir) = if (umask.isEmpty) (0x1a4, 0x1ed) else (0x180, 0x1c0) // 644/755, 600/700
      assert(modes("a/b/f2") == (0x1a0 & file) && modes("a/f1") == 0x180 && modes("a/b/c") == 0x3ff)
      assert(modes("ctx/d/h") == file && modes("a") == dir)
      // a directory under a setgid parent keeps the inherited setgid bit
      assert(modes("sg/child") == (0x400 | dir), f"sg/child ${modes("sg/child")}%o")
    }
  }

  test("nio getFileLinkStatus equals stock for files, dirs, links, dangling links and missing paths") {
    val c = conf(None)
    val root = Scratch.dir("localfs_link").toString
    Files.write(Paths.get(root, "f"), "x".getBytes(UTF_8))
    Files.createDirectory(Paths.get(root, "d"))
    Files.createSymbolicLink(Paths.get(root, "s"), Paths.get(root, "f"))
    Files.createSymbolicLink(Paths.get(root, "rs"), Paths.get("d"))
    Files.createSymbolicLink(Paths.get(root, "x"), Paths.get(root, "nowhere"))
    def describe(st: Try[FileStatus]): String = st match {
      case Success(s) =>
        Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else "", s.getLen, s.getModificationTime,
          s.getPermission, s.getOwner, s.getGroup).mkString("|")
      case Failure(e) => e.getClass.getName
    }
    val (stock, nio) = (raw(c, nio = false), raw(c, nio = true))
    val answers = for {
      name <- Seq("f", "d", "s", "rs", "x", "missing")
      path <- Seq(new Path(s"file:$root/$name"), new Path(s"$root/$name"))
    } yield {
      val want = describe(Try(stock.getFileLinkStatus(path)))
      val got = describe(Try(nio.getFileLinkStatus(path)))
      assert(got == want, s"$path")
      path.toString -> want
    }
    val byPath = answers.toMap
    // the cases really differ: a bare link reads as a link; a qualified
    // one is followed (stock runs readlink on the literal "file:/…");
    // a qualified dangling link and a missing path are not found
    assert(byPath(s"$root/s").split('|')(3) == "true")
    assert(byPath(s"$root/x").split('|')(3) == "true")
    assert(byPath(s"file:$root/s").split('|')(3) == "false")
    assert(byPath(s"file:$root/x") == classOf[java.io.FileNotFoundException].getName)
    assert(byPath(s"$root/missing") == classOf[java.io.FileNotFoundException].getName)
  }

  test("nio FileContext.rename equals stock with and without OVERWRITE, destination absent and present") {
    val c = conf(None)
    val root = Scratch.dir("localfs_rename").toString
    val runs = Seq(false, true).map { nio =>
      val (_, fc) = local(c, nio)
      val dir = s"$root/${if (nio) "nio" else "stock"}"
      val outcomes = for {
        overwrite <- Seq(false, true)
        present <- Seq(false, true)
      } yield {
        val p = (rel: String) => new Path(s"file:$dir/${overwrite}_$present/$rel")
        fc.mkdir(p(""), FsPermission.getDirDefault, true)
        write(fc.create(p("src"), EnumSet.of(CreateFlag.CREATE)), "src")
        if (present) write(fc.create(p("dst"), EnumSet.of(CreateFlag.CREATE)), "dst")
        val opt = if (overwrite) Options.Rename.OVERWRITE else Options.Rename.NONE
        Try(fc.rename(p("src"), p("dst"), opt)) match {
          case Success(_) => "ok"
          case Failure(e) => e.getClass.getName
        }
      }
      (outcomes, snapshot(dir))
    }
    assert(runs(0) == runs(1))
    assert(runs(1)._1 == Seq("ok", classOf[org.apache.hadoop.fs.FileAlreadyExistsException].getName,
      "ok", "ok"))
  }

  test("bind: a fresh configuration resolves file: to the nio classes, idempotently") {
    val hc = new Configuration()
    assert(hc.get(LocalFs.AbstractFileSystemKey) == StockLocalFs) // Hadoop's default
    def keys = Seq(LocalFs.AbstractFileSystemKey, LocalFs.FileSystemKey, LocalFs.DisableCacheKey)
      .map(hc.get)
    LocalFs.bind(hc)
    val once = keys
    assert(once == Seq(classOf[NioLocalFs].getName, classOf[NioLocalFileSystem].getName, "true"))
    LocalFs.bind(hc)
    assert(keys == once)
    assert(new Path("file:/tmp").getFileSystem(hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("bind: keys the user set stay untouched") {
    val optedOut = new Configuration()
    optedOut.set(LocalFs.FileSystemKey, classOf[LocalFileSystem].getName)
    optedOut.set(LocalFs.AbstractFileSystemKey, StockLocalFs)
    LocalFs.bind(optedOut)
    assert(optedOut.get(LocalFs.FileSystemKey) == classOf[LocalFileSystem].getName)
    assert(optedOut.get(LocalFs.AbstractFileSystemKey) == StockLocalFs)
    assert(optedOut.get(LocalFs.DisableCacheKey) == null)
    assert(!new Path("file:/tmp").getFileSystem(optedOut).isInstanceOf[NioLocalFileSystem])

    val cached = new Configuration()
    cached.set(LocalFs.DisableCacheKey, "false")
    LocalFs.bind(cached)
    assert(cached.get(LocalFs.FileSystemKey) == classOf[NioLocalFileSystem].getName)
    assert(cached.get(LocalFs.DisableCacheKey) == "false")
  }

  test("bind: the session's Hadoop configuration resolves file: to the nio classes") {
    LocalFs.bind(spark)
    val hc = spark.sparkContext.hadoopConfiguration
    assert(new Path("file:/tmp").getFileSystem(hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val query = spark.sessionState.newHadoopConf()
    assert(new Path("file:/tmp").getFileSystem(query).isInstanceOf[NioLocalFileSystem])
  }

  test("bind is per SparkContext: a second context in the same JVM is bound by its first entry-point call") {
    // one SparkContext per JVM, and this JVM's is shared: run in a child
    val java = s"${sys.props("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx768m") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-cp", sys.props("java.class.path"), LocalFsSpec.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
    assert(proc.waitFor() == 0 && out.contains(LocalFsSpec.Ok), out.takeRight(4000))
  }
}

/** Child-JVM half of the per-context binding test: two SparkContexts,
  * one after the other; each starts unbound and is bound by its first
  * `Lake.readBronze`. */
object LocalFsSpec {
  val Ok = "LOCALFS-REBIND-OK"

  def main(args: Array[String]): Unit = {
    val dir = Scratch.dir("localfs_rebind").toString
    for (round <- 1 to 2) {
      val s = SparkSession.builder().master("local[1]").appName(s"localfs-rebind-$round")
        .config("spark.ui.enabled", "false").getOrCreate()
      val hc = s.sparkContext.hadoopConfiguration
      require(hc.get(LocalFs.FileSystemKey) == null, s"context $round starts bound")
      Lake.readBronze(s, dir, new StructType().add("x", "string")).count()
      require(new Path(new File(dir).toURI).getFileSystem(hc).isInstanceOf[NioLocalFileSystem],
        s"context $round: FileSystem not bound")
      require(FileContext.getFileContext(hc).getDefaultFileSystem.isInstanceOf[NioLocalFs],
        s"context $round: FileContext not bound")
      s.stop()
    }
    println(Ok)
  }
}
