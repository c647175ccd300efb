package graft.sources

import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The one place graft's stores get a Hadoop `FileSystem` from. Every
  * store call site (the index writer, its commit and abort, delta and
  * generation listing, the readers, the catalog, leases, the vector
  * and artifact stores) asks here instead of `path.getFileSystem`.
  *
  * Why: without native libhadoop, Hadoop's local filesystem sets the
  * mode of every directory, file and `.crc` sibling it creates by
  * forking a `chmod` process (`RawLocalFileSystem.setPermission` falls
  * back to `Shell`). That is 4–10 ms per created path, so one index
  * write — 26 letter files, their checksums and directories — spends
  * most of its time in process launches, not bytes. For a `file:` path
  * this returns one process-wide checksummed [[LocalFileSystem]] whose
  * raw layer sets the same mode bits in-process ([[InProcessChmodFs]]),
  * the `chmod(2)` libhadoop's NativeIO would make. `.crc` files are
  * still written and verified; the tree on disk is the stock FS's.
  *
  * Every other scheme — and a `file:` deployment that names its own
  * implementation in `fs.file.impl` — gets the stock
  * `path.getFileSystem(conf)`, unchanged. */
object StoreFs {

  def of(path: Path, conf: Configuration): FileSystem = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file" && conf.get("fs.file.impl") == null) local(conf)
    else path.getFileSystem(conf)
  }

  @volatile private var shared: LocalFileSystem = _

  /** Built once, from the first caller's configuration — as Hadoop's
    * own FileSystem cache keeps the first instance per scheme. */
  private def local(conf: Configuration): LocalFileSystem = {
    if (shared == null) synchronized {
      if (shared == null) {
        val fs = new LocalFileSystem(new InProcessChmodFs)
        val own = new Configuration(conf)
        fs.setConf(own)
        fs.initialize(java.net.URI.create("file:///"), own)
        shared = fs
      }
    }
    shared
  }

  private val Bits = PosixFilePermission.values // OWNER_READ … OTHERS_EXECUTE

  /** The `rwxrwxrwx` bits of `mode` as a permission set. */
  private[sources] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (0x100 >> i)) != 0) s.add(Bits(i))
    s
  }
}

/** Hadoop's raw local filesystem with `setPermission` done in-process
  * through `java.nio`. Modes outside `0777` (sticky, setuid, setgid)
  * and stores without a POSIX attribute view go to the stock path. */
private[graft] class InProcessChmodFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try java.nio.file.Files.setPosixFilePermissions(
        pathToFile(p).toPath, StoreFs.posix(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
  }
}
