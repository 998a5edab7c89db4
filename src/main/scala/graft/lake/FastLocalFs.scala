package graft.lake

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem plumbing fix (optimization guide §6, I/O): without
  * libhadoop native bindings, Hadoop's `RawLocalFileSystem` FORKS a
  * `chmod` child process for every file create and mkdir
  * (`Shell.execCommand` from `setPermission`) — measured ~15-30 ms per
  * fork, several forks per written file. Every engine write (data
  * files, manifest chunks, v-JSON commits, checkpoints) pays it, and
  * it dominates the fixed cost of small commits: a 5-row
  * `df.write.parquet` spends ~130 ms of its ~185 ms wall in these
  * forks.
  *
  * On a local filesystem the JVM already creates files/dirs honoring
  * the process umask, so the follow-up chmod to the SAME umask-derived
  * mode is a no-op; skipping it changes nothing observable (verified
  * by the unchanged oracle/golden runs). [[graft.GraftSession]] installs
  * it (`spark.hadoop.fs.file.impl`) for every session the engine builds.
  *
  * Production deployments on HDFS/S3 never hit this path (different
  * scheme), and a deployment WITH libhadoop native IO never forks in
  * the first place — this override only removes the no-native fallback
  * cost. Non-umask modes (e.g. 777 requests) are also skipped; graft
  * never writes such files.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  // Hadoop's create()/mkdirs() default paths arrive here with the
  // umask-APPLIED default modes (getFileDefault/getDirDefault ∘
  // applyUMask) — exactly the bits the JVM already gave the file, so
  // the chmod is a semantic no-op and is skipped. Any OTHER mode is an
  // explicit caller request (e.g. a library locking state down to 700)
  // and forwards to the real chmod: correctness first, the fork cost
  // only ever mattered on the per-create default path.
  private lazy val umaskDefaults: Set[FsPermission] = {
    val conf = Option(getConf)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val umask = FsPermission.getUMask(conf)
    Set(FsPermission.getFileDefault.applyUMask(umask),
      FsPermission.getDirDefault.applyUMask(umask))
  }
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission != null && !umaskDefaults.contains(permission))
      super.setPermission(p, permission)
}

/** `file://` FileSystem with checksum behavior identical to Hadoop's
  * default [[LocalFileSystem]], minus the permission forks. */
class NoForkLocalFileSystem
    extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** [[org.apache.hadoop.fs.AbstractFileSystem]] twin for FileContext
  * users (Spark structured-streaming checkpoint managers resolve
  * `fs.AbstractFileSystem.file.impl`): delegates straight to the
  * no-fork raw fs.
  *
  * DELIBERATE asymmetry with stock Hadoop (whose `LocalFs` wraps
  * ChecksumFs like `LocalFileSystem` does): this side stays raw — its
  * only consumers here are Spark's streaming checkpoint managers,
  * whose commit protocol (write-tmp + atomic rename, content it
  * re-parses immediately) gets nothing from .crc siblings while paying
  * one extra file create per checkpoint file. Those checkpoint
  * directories are touched ONLY through FileContext (Spark picks ONE
  * manager per dir), so mixed-API .crc skew cannot arise; engine data
  * and metadata go through the FileSystem API, which keeps checksums
  * above. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      "file", false)
