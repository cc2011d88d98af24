package graft.sources

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Local filesystem with a fork-free `setPermission`.
  *
  * Without libhadoop native IO (absent from this image, and from many
  * container deployments), `RawLocalFileSystem.setPermission` shells out
  * to `/bin/chmod` — and the LOCAL create path calls it for EVERY file
  * (`LocalFSFileOutputStream` ctor), so each created file costs TWO
  * process forks (data file + its `.crc` sidecar) at ~5–10 ms each.
  * Executor thread sampling showed the forks dominating partitioned
  * writes (a 90-partition day layout paid ~180 forks per append).
  *
  * This subclass applies the same permission bits through
  * `java.nio.file.Files.setPosixFilePermissions` — one syscall, exactly
  * what Hadoop's native `NativeIO.chmod` path does when the native lib
  * is present. Semantics are unchanged: same bits, same checksummed
  * LocalFileSystem wrapper (the manifest claim protocol relies on
  * ChecksumFileSystem's pair-coherent rename). Sticky/special bits and
  * non-POSIX stores fall back to the shell path.
  *
  * Wired via `spark.hadoop.fs.file.impl` in [[graft.GraftSession]] — an
  * engine-level platform default, not a bench tune: on a real cluster it
  * governs only `file://` scratch/staging traffic and is strictly the
  * native-lib behavior.
  */
class FastLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    if (permission.getStickyBit) { super.setPermission(p, permission); return }
    try {
      val perms = new java.util.HashSet[PosixFilePermission]()
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
          x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) perms.add(r)
        if (a.implies(FsAction.WRITE)) perms.add(w)
        if (a.implies(FsAction.EXECUTE)) perms.add(x)
      }
      add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        super.setPermission(p, permission) // non-POSIX store: shell path
    }
  }

  /** Fork-free `getFileLinkStatus`. Without libhadoop,
    * `RawLocalFileSystem.deprecatedGetFileLinkStatusInternal` shells out
    * to `readlink` on EVERY call (`FileUtil.readLink` →
    * `Shell.execCommand`) — and the FileContext rename path used by the
    * snapshot pointer swings calls it for source and destination of
    * every rename, so each manifest commit paid ~6 process forks of pure
    * link-status probing (driver jstack sampling: 22% of main-thread
    * samples in the MV/lifecycle bench cluster sat in that fork).
    *
    * NIO's `isSymbolicLink` is one lstat syscall. Semantics match the
    * deprecated path branch for branch: a non-link (every file the
    * engine ever creates) returns the plain `getFileStatus` exactly as
    * the shell path does when `readlink` comes back empty (including
    * FileNotFoundException for a missing path); real or dangling
    * symlinks — and any store NIO refuses — fall back to Hadoop's own
    * shell-based resolution, byte-for-byte its semantics. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val isLink =
      try java.nio.file.Files.isSymbolicLink(pathToFile(f).toPath)
      catch { case _: Exception => return super.getFileLinkStatus(f) }
    if (isLink) super.getFileLinkStatus(f)
    else getFileStatus(f)
  }
}

/** The [[FastLocalFileSystem]] fix lifted to the `FileContext` /
  * `AbstractFileSystem` API: `FileContext.getFileContext(uri, conf)`
  * resolves `file://` through `fs.AbstractFileSystem.file.impl`
  * (default `LocalFs`), which wraps its OWN `RawLocalFileSystem` — so
  * the snapshot pointer swings (ManifestFiles.publishRawV's
  * overwrite-renames) still paid the forked `readlink` per
  * link-status probe even after round 16's `fs.file.impl` fix. This is
  * the same class shape as Hadoop's `LocalFs` (a `ChecksumFs` over a
  * `DelegateToFileSystem` on the raw local store, so the checksum
  * sidecar discipline is identical) with the delegate swapped for
  * [[NioRawLocalFileSystem]]. Wired via
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` in
  * [[graft.GraftSession]] — like the round-16 fix, the native-lib
  * behavior on `file://` for everything the engine does, with the one
  * symlink deviation documented on [[FastRawLocalFs]]. */
class FastLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.ChecksumFs(new FastRawLocalFs(uri, conf))

/** Raw delegate of [[FastLocalFs]]. DEVIATION from Hadoop's `RawLocalFs`:
  * its symlink overrides (`supportsSymlinks`, `createSymlink`,
  * `getLinkTarget`, `getFileLinkStatus`) are not ported, so through
  * `FileContext` a symlink under `file://` reads as the file or
  * directory it points to (never reported as a link) and
  * `createSymlink` is unsupported where stock `LocalFs` supported it.
  * The engine never creates or inspects symlinks; user data that relies
  * on FileContext symlink semantics sees the resolved target instead. */
class FastRawLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      org.apache.hadoop.fs.FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf,
      org.apache.hadoop.fs.FsConstants.LOCAL_FS_URI.getScheme, false) {
  // the three overrides Hadoop's own RawLocalFs carries (port-less
  // file:// URIs must pass checkPath; names validate trivially; server
  // defaults come from the local config keys)
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
  override def getServerDefaults(f: Path): org.apache.hadoop.fs.FsServerDefaults =
    org.apache.hadoop.fs.local.LocalConfigKeys.getServerDefaults()
  @deprecated("inherited surface", "")
  override def getServerDefaults: org.apache.hadoop.fs.FsServerDefaults =
    org.apache.hadoop.fs.local.LocalConfigKeys.getServerDefaults()
}
