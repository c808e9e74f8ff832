package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, ParentNotDirectoryException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.internal.SQLConf

/** Streaming checkpoint files (offset and commit logs, query metadata,
  * state-store files) on `file:` paths, written with java.nio: the bytes
  * go to a temp file in the target's directory, which `close()` then
  * publishes by one atomic filesystem call — the discipline of
  * [[graft.sources.RedditLog.writeSegment]] and `IndexManifest.flip`.
  * Hadoop's local filesystem makes the same write through a permission
  * call that forks a `chmod` when native Hadoop libraries are absent:
  * a traced `sse-live` run (layerbench, 4-core host) read a median
  * `walCommit` of 65 ms per feed micro-batch that way, 1 ms this way.
  *
  *  - `overwriteIfPossible = false` publishes by hard-linking the temp
  *    file to the target, which fails atomically with
  *    `FileAlreadyExistsException` when the target exists and leaves its
  *    bytes alone; `HDFSMetadataLog` relies on that to detect a second
  *    writer. So the checkpoint's filesystem must support hard links.
  *  - `overwriteIfPossible = true` publishes by an atomic rename.
  *  - `cancel()`, or a failed publish, deletes the temp file.
  *  - Temp names start with `.`, so metadata-log listings skip them.
  *
  * `mkdirs` goes through `Files.createDirectories` for the same reason:
  * Hadoop forks a `chmod` for every directory it creates (about 3.8 ms
  * each, measured in a 4 GB JVM on a 4-core host), and a streaming query
  * creates several when it starts (`offsets/`, `commits/`, `sources/<n>`,
  * state directories).
  * An existing directory is a no-op; a regular file in the way fails as
  * Hadoop's local filesystem does, with `FileAlreadyExistsException` for
  * the target itself and `ParentNotDirectoryException` for an ancestor.
  *
  * Durability is unchanged: neither this path nor Hadoop's fsyncs.
  * Every other scheme, and every other operation, is
  * `FileSystemBasedCheckpointFileManager`'s.
  */
class NioCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(root, hadoopConf) {

  /** The local path of `path`, or None for a scheme other than `file:`. */
  private def localPath(path: Path): Option[java.nio.file.Path] = {
    val qualified = fs.makeQualified(path)
    if (qualified.toUri.getScheme == "file") Some(Paths.get(qualified.toUri)) else None
  }

  override def mkdirs(path: Path): Unit = localPath(path) match {
    case None => super.mkdirs(path)
    case Some(dir) =>
      try Files.createDirectories(dir) catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"Destination exists and is not a directory: $dir")
        case e: java.nio.file.FileSystemException =>
          val ancestor = Iterator.iterate(dir.getParent)(_.getParent)
            .takeWhile(_ != null).find(p => Files.exists(p))
          ancestor.filterNot(p => Files.isDirectory(p)) match {
            case Some(p) => throw new ParentNotDirectoryException(s"Parent path is not a directory: $p")
            case None => throw e
          }
      }
  }

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = localPath(path).getOrElse(return super.createAtomic(path, overwriteIfPossible))
    Files.createDirectories(target.getParent)
    val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW))) {
      private var terminated = false
      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try {
            super.close()
            if (overwriteIfPossible)
              Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
            else try Files.createLink(target, temp) catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target exists")
            }
          } finally Files.deleteIfExists(temp)
        }
      }
      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try underlyingStream.close() finally Files.deleteIfExists(temp)
        }
      }
    }
  }
}

object NioCheckpointFileManager {
  private val Key = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Selects this manager for the streaming queries that `spark` starts
    * from now on, through Spark's own `checkpointFileManagerClass` conf.
    * A value the user has set is left alone. Called by every streaming
    * entry point of the program: [[SseServer.start]],
    * [[RedditLogSink.appendStream]] and [[RedditLogSink.appendStreamGated]].
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(Key).isEmpty) spark.conf.set(Key, classOf[NioCheckpointFileManager].getName)
}
