package graft

import java.nio.file.{DirectoryIteratorException, Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem whose file-status loading goes through java.nio
  * instead of the per-file `ls -ld` SHELL EXEC Hadoop's
  * RawLocalFileSystem falls back to when the native library is absent
  * (this sandbox has no libhadoop, like many container deployments).
  * Measured on this host: `listFiles(recursive)` over a 1 440-entry
  * tree = 9.8–16.6 s through stock Hadoop vs 0.03–0.05 s through
  * java.nio — ~7–11 MILLISECONDS of process-fork overhead per file
  * status. Every index-lifecycle operation pays that path per file:
  * segment listing for commit stamps, the output committer's task-dir
  * merges, partition discovery on every bucket/cell table read, and
  * GC — on a 252-bucket LSH segment that is seconds of pure metadata
  * forks per commit, which profiling showed dominating the lifecycle
  * families (the Spark jobs inside the same entries sum to a third of
  * their wall time).
  *
  * Semantics match stock Hadoop: length, directory flag,
  * mtime/atime, owner, group and the nine rwx permission bits come
  * from the same inodes via PosixFileAttributes (symlinks followed,
  * like the shell path); the checksum wrapper below keeps
  * LocalFileSystem's CRC sidecar behavior byte-for-byte. One
  * difference: the setuid, setgid and sticky bits are dropped —
  * java.nio's PosixFilePermission has no constants for them, so every
  * status carries them as 0, where stock Hadoop's `ls`-parsed status
  * reports them. Nothing in graft reads them (index files and segment
  * dirs are written without them). On a real cluster with native IO
  * the stock path is already fast — this class restores the intended
  * local performance, it does not change what is computed. Registered
  * through `fs.file.impl` in [[Tuning]]. */
class FastRawLocalFileSystem extends RawLocalFileSystem {

  private val permBits: Array[(PosixFilePermission, Int)] = Array(
    PosixFilePermission.OWNER_READ -> 0x100,
    PosixFilePermission.OWNER_WRITE -> 0x80,
    PosixFilePermission.OWNER_EXECUTE -> 0x40,
    PosixFilePermission.GROUP_READ -> 0x20,
    PosixFilePermission.GROUP_WRITE -> 0x10,
    PosixFilePermission.GROUP_EXECUTE -> 0x8,
    PosixFilePermission.OTHERS_READ -> 0x4,
    PosixFilePermission.OTHERS_WRITE -> 0x2,
    PosixFilePermission.OTHERS_EXECUTE -> 0x1)

  private def notFound(f: Path) =
    new java.io.FileNotFoundException(s"File $f does not exist")

  private def statusOf(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
      catch { case _: NoSuchFileException => throw notFound(f) }
    val perms = attrs.permissions()
    var bits = 0
    permBits.foreach { case (p, b) => if (perms.contains(p)) bits |= b }
    new FileStatus(attrs.size(), attrs.isDirectory, 1,
      getDefaultBlockSize(f), attrs.lastModifiedTime().toMillis,
      attrs.lastAccessTime().toMillis, new FsPermission(bits),
      attrs.owner().getName, attrs.group().getName,
      makeQualified(f))
  }

  override def getFileStatus(f: Path): FileStatus = statusOf(f)

  /** Stock Hadoop's contract: a path that is gone — before the
    * attribute read, between it and the listing, or mid-iteration
    * (which java.nio wraps in a DirectoryIteratorException) — throws
    * FileNotFoundException, the only exception Spark's
    * InMemoryFileIndex handles as a listing race; a child that
    * vanishes after the listing is skipped. */
  override def listStatus(f: Path): Array[FileStatus] =
    try {
      val nio = pathToFile(f).toPath
      if (!Files.readAttributes(nio, classOf[PosixFileAttributes]).isDirectory)
        Array(statusOf(f))
      else childNames(nio).flatMap { name =>
        try Some(statusOf(new Path(f, name)))
        catch { case _: java.io.FileNotFoundException => None } // raced away
      }
    } catch {
      case _: NoSuchFileException => throw notFound(f)
      case e: DirectoryIteratorException => e.getCause match {
        case _: NoSuchFileException => throw notFound(f)
        case cause => throw cause
      }
    }

  /** The entry names of directory `dir`, read through one stream —
    * its own method so a test can make the directory vanish between
    * the attribute read and the listing. */
  private[graft] def childNames(dir: java.nio.file.Path): Array[String] = {
    val stream = Files.newDirectoryStream(dir)
    try {
      val names = Array.newBuilder[String]
      stream.forEach(child => names += child.getFileName.toString)
      names.result()
    } finally stream.close()
  }
}

/** The checksummed `file://` wrapper (CRC sidecars, like stock
  * LocalFileSystem) over [[FastRawLocalFileSystem]]. */
class FastLocalFileSystem
    extends LocalFileSystem(new FastRawLocalFileSystem)
