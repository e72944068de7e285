package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** The `file:` file system of the file sinks and of the resume metadata:
  * Hadoop's raw local file system, with no checksum wrapper and no child
  * processes. The reference writes plain files, so there are no `.crc`
  * sidecars here either. Without the native libhadoop,
  * `RawLocalFileSystem.setPermission` runs `chmod` for every file and
  * directory it creates, and its link-status lookup runs `readlink`; here
  * both are JDK calls. The modes are the ones Hadoop computes: 0666 for a
  * file and 0777 for a directory, less `fs.permissions.umask-mode`. */
class NioLocalFs extends RawLocalFileSystem {

  override def setPermission(p: HPath, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // sticky bit: no PosixFilePermission for it
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // the enum runs from OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Hadoop's link status of a file that is no symlink is its plain status;
    * only a real symlink takes Hadoop's own path. */
  override def getFileLinkStatus(f: HPath): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioLocalFs {

  /** Writer options that give a Spark file write [[NioLocalFs]] for its
    * `file:` paths. Spark copies writer options into the job's Hadoop conf,
    * which the committer, the format's writer and the stats tracker all
    * read. Hadoop caches one `FileSystem` per (scheme, authority, user),
    * whatever the conf, so without `disable.cache` the checksummed default
    * that any earlier `file:` access cached would be used instead. */
  val WriterOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A new instance that takes its umask from `conf`. */
  def apply(conf: Configuration): NioLocalFs = {
    val fs = new NioLocalFs
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
}
