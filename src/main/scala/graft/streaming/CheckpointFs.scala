package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/**
 * Local storage for streaming checkpoints (offset log, commit log,
 * state store), which Spark writes through Hadoop `FileContext`.
 *
 * Spark's binary distribution ships without `libhadoop`, so Hadoop's
 * `RawLocalFileSystem` falls back to child processes: `chmod` for every
 * created file or directory, `ls -ld` for every permission/owner read
 * and `readlink` for every link-status probe, several per atomic
 * checkpoint write (create temp + `.crc`, rename both). On a 4-vCPU VM a
 * batch's offset-log commit took ~35 ms with them and ~3 ms without,
 * most of a micro-batch's fixed cost. [[NioLocalFs]] is Hadoop's
 * `LocalFs` stack (`ChecksumFs` over `DelegateToFileSystem`: `.crc`
 * sidecars, FileContext create/rename semantics) with those three
 * shell-outs replaced by `java.nio` calls on the same paths, and with
 * the `.crc` actually checked on read.
 */
object CheckpointFs {

  val ImplKey = "fs.AbstractFileSystem.file.impl"

  /** `setPermission`, `getFileStatus` and `getFileLinkStatus` (and
    * `getLinkTarget`, which shares the link probe) without forking;
    * every status field matches the stock implementation's. */
  class NioRawLocalFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      // java.nio has no sticky bit; that rare case keeps Hadoop's call
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    override def getFileStatus(f: Path): FileStatus = {
      // stock reads every field through links (java.io.File, and `ls -ld`
      // on the canonical path)
      val file = pathToFile(f)
      val a = try Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
        catch { case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist") }
      val perm = FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions))
      val sticky = a.isDirectory &&
        (Files.getAttribute(file.toPath, "unix:mode").asInstanceOf[Int] & 0x200) != 0
      new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f),
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
        if (sticky) new FsPermission((perm.toShort | 0x200).toShort) else perm,
        a.owner.getName, a.group.getName, null,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

    override def getFileLinkStatus(f: Path): FileStatus = {
      val st = linkStatus(f)
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** Stock `deprecatedGetFileLinkStatusInternal`, `readlink` aside.
      * Like stock, the link is read at `f.toString` as a plain file
      * path, so a scheme-qualified path never reads as a link. */
    private def linkStatus(f: Path): FileStatus = {
      val target =
        try Files.readSymbolicLink(Paths.get(f.toString)).toString
        catch { case _: IOException => "" }
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty => // dangling link
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    }
  }

  /** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]] (its own
    * constructors are package-private and fix the raw class). */
  class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("deprecated in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Hadoop's `LocalFs` (checksummed, `.crc` sidecars) over
    * [[NioRawLocalFs]]; like `LocalFs` it serves `file:///` whatever
    * URI it is created for. */
  class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf)) {
    // FilterFs.open(Path) hands FileContext.open straight to the raw fs,
    // so stock LocalFs writes `.crc` sidecars but never checks them on
    // read; go through ChecksumFs's verifying open instead
    override def open(f: Path): FSDataInputStream =
      open(f, getServerDefaults(f).getFileBufferSize)
  }

  private lazy val posixHost = {
    val views = FileSystems.getDefault.supportedFileAttributeViews
    views.contains("posix") && views.contains("unix")
  }

  /** Registers [[NioLocalFs]] for the `file` scheme on `spark`'s session
    * conf, which each stream clones at start for its checkpoint I/O.
    * Only while the key still holds Hadoop's default `LocalFs` and the
    * host's file attributes are POSIX: HDFS/S3 checkpoints, other hosts
    * and an operator's own override keep what they have. */
  def install(spark: SparkSession): Unit = {
    val current = spark.conf.getOption(ImplKey)
      .getOrElse(spark.sparkContext.hadoopConfiguration.get(ImplKey))
    if (posixHost && current == classOf[LocalFs].getName)
      spark.conf.set(ImplKey, classOf[NioLocalFs].getName)
  }
}
