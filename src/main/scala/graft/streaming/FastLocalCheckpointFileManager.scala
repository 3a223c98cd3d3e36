package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/**
 * Checkpoint file manager for LOCAL, recovery-less checkpoints (tmpfs
 * scratch dirs): the stock manager resolves `file:` paths to Hadoop's
 * checksummed `LocalFileSystem`, so every offset-log / commit-log /
 * state-delta write pays a CRC32 shadow file (open + compute + write +
 * rename ×2) — pure overhead when the checkpoint's durability story is
 * "deleted as soon as the sink is drained" (StreamQueries' RAM scratch).
 * Binding the same public rename-based manager to `RawLocalFileSystem`
 * keeps the atomic temp-file + rename commit protocol (the part the
 * exactly-once claim rests on) and drops only the checksum mirror.
 *
 * Plugged per-query via `spark.sql.streaming.checkpointFileManagerClass`
 * (a public conf; the class must expose a `(Path, Configuration)`
 * constructor). A durable deployment points its checkpoints at HDFS/object
 * storage and does NOT use this class — it is selected only by the
 * stream-gate harness where the checkpoint root is throwaway tmpfs.
 */
class FastLocalCheckpointFileManager(path: Path, conf: Configuration)
  extends FileSystemBasedCheckpointFileManager(
    path, FastLocalCheckpointFileManager.rawLocal(conf))

object FastLocalCheckpointFileManager {
  /** A conf whose `file:` scheme is the raw (checksum-free) local FS.
    * The FS cache is keyed by (scheme, conf-classloader) only — it would
    * hand the CHECKSUMMED cached instance back regardless of `fs.file.impl`
    * — so caching is disabled and each manager owns its instance (a
    * RawLocalFileSystem holds no state worth pooling). */
  private def rawLocal(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}
