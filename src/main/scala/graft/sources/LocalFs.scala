package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell
import org.apache.spark.sql.SparkSession

/** A `file:` filesystem that does its permission and link-status calls
  * with java.nio instead of starting an OS process.
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates, and every `FileContext` rename
  * runs `readlink` on both paths. The lake writers, the commit
  * protocol, the streaming offset/commit logs and the state store all
  * go through those calls, so a `vision` micro-batch started about 100
  * processes. [[NioRawLocalFileSystem]] overrides just the two methods
  * behind them and returns what Hadoop's own code returns: same mode
  * bits, same link-status answers. The wrappers keep the `.crc`
  * sidecars, so the bytes on disk do not change either.
  *
  * [[bind]] installs the classes on a SparkContext's Hadoop
  * configuration. Spark resolves checkpoint and writer I/O through that
  * configuration and has no per-query hook, so the binding is
  * context-wide. To opt out, set Hadoop's own keys (`fs.file.impl`,
  * `fs.AbstractFileSystem.file.impl`) before the first pipeline call:
  * [[bind]] never overrides a key that is already set.
  */
object LocalFs {

  val FileSystemKey = "fs.file.impl"
  val AbstractFileSystemKey = "fs.AbstractFileSystem.file.impl"
  val DisableCacheKey = "fs.file.impl.disable.cache"

  /** Bind the java.nio `file:` filesystem on the context's Hadoop
    * configuration, for every key the user has not set (a value that
    * only comes from Hadoop's `*-default.xml` counts as unset).
    * Idempotent: a bound configuration reads as set on the next call,
    * and a new SparkContext gets a new configuration, bound on its
    * first call. The FileSystem cache is switched off only together
    * with `fs.file.impl`: session start has already cached a stock
    * `file:` instance, and closing it instead would run its
    * `deleteOnExit` list early. */
  def bind(spark: SparkSession): Unit = bind(spark.sparkContext.hadoopConfiguration)

  private[sources] def bind(hc: Configuration): Unit =
    hc.synchronized {
      setIfUnset(hc, AbstractFileSystemKey, classOf[NioLocalFs].getName)
      if (setIfUnset(hc, FileSystemKey, classOf[NioLocalFileSystem].getName))
        setIfUnset(hc, DisableCacheKey, "true")
    }

  private def setIfUnset(hc: Configuration, key: String, value: String): Boolean = {
    val sources = hc.getPropertySources(key)
    val unset = sources == null || sources.forall(_.endsWith("-default.xml"))
    if (unset) hc.set(key, value)
    unset
  }
}

/** `RawLocalFileSystem` with java.nio `setPermission` and
  * `getFileLinkStatus`; everything java.nio cannot express (the sticky
  * bit, a directory's setuid/setgid bits, a non-POSIX file store)
  * falls back to Hadoop's own code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (nativeChmod || permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      try {
        val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        if (keepsSetIdBits(mode)) super.setPermission(p, permission)
        else Files.setPosixFilePermissions(file, posix(permission.toShort))
      } catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }

  /** Hadoop's default link-status path (a switch to its `stat`-based
    * one by `RawLocalFileSystem.useStatIfAvailable` is not followed):
    * `readlink` on the literal `Path.toString`, so a qualified `file:/…`
    * path never reads as a link, then the followed status, reshaped
    * into a link status when `readlink` printed a target. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Shell.WINDOWS) super.getFileLinkStatus(f)
    else {
      val target =
        try Files.readSymbolicLink(new java.io.File(f.toString).toPath).toString.trim
        catch {
          case _: InvalidPathException => return super.getFileLinkStatus(f)
          case _: java.io.IOException | _: UnsupportedOperationException => ""
        }
      val fi =
        try {
          val st = getFileStatus(f)
          if (target.isEmpty) st
          else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
            st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
            st.getGroup, new Path(target), f)
        } catch {
          case _: FileNotFoundException if target.nonEmpty =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
              new Path(target), f)
        }
      if (fi.isSymlink)
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
      fi
    }
}

object NioRawLocalFileSystem {

  /** Where Hadoop's own permission code starts no process: Windows
    * (winutils) and a loaded libhadoop (native chmod). Its link-status
    * code runs `readlink` even with libhadoop, so only Windows keeps it. */
  private def nativeChmod: Boolean = Shell.WINDOWS || NativeIO.isAvailable()

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    // enum order OWNER_READ … OTHERS_EXECUTE is bit 8 … bit 0
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p))
    s
  }

  /** `chmod <4-digit octal>` on a directory keeps its setuid/setgid
    * bits (GNU coreutils); a plain chmod(2) clears them. */
  private def keepsSetIdBits(mode: Int): Boolean =
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
}

/** The `FileSystem`-API `file:` filesystem (Spark's file writers and
  * commit protocol): Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]: the
  * `FileContext` API (Spark's `CheckpointFileManager`, the HDFS-backed
  * state store). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's checksummed `LocalFs` over [[NioRawLocalFs]]; like the
  * stock class it ignores the URI it is given and binds `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
