package graft.streaming

import java.io.BufferedOutputStream
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint file manager that writes `file:` checkpoints through
  * java.nio, forking no OS process. Without a native `libhadoop`, Hadoop's
  * local filesystem runs `chmod` (setPermission) and `readlink`
  * (FileContext.rename) as child processes for every file it creates or
  * renames, `.crc` sidecars included: ~260 forks per w14 replay at sf0.1,
  * most of its state-commit time.
  *
  * - `createAtomic` writes a sibling temp file named as Spark's rename-based
  *   stream names it (`.<name>.<uuid>.tmp`) and publishes it on `close` with
  *   an atomic rename; `cancel` deletes it. Without `overwriteIfPossible` an
  *   existing target raises [[FileAlreadyExistsException]] and keeps its
  *   bytes. The existence check and the rename are two steps, as in Spark's
  *   FileSystem-based manager: one writer per checkpoint is assumed.
  * - `open`/`list`/`exists`/`delete` go through a [[RawLocalFileSystem]],
  *   whose file statuses load permissions lazily and fork nothing.
  * - No Hadoop `.crc` sidecars are written. Spark's own checkpoint checksums
  *   (`spark.sql.streaming.checkpoint.fileChecksum.enabled`) wrap this
  *   manager like any other and still apply.
  *
  * Any other scheme (hdfs, s3a, ...) gets Spark's default manager.
  * Installed through `spark.sql.streaming.checkpointFileManagerClass`, which
  * Spark instantiates with this (Path, Configuration) constructor. */
class NioCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val underlying: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file")
      new NioCheckpointFileManager.Local(path, conf)
    else {
      val defaults = new Configuration(conf)
      defaults.unset(NioCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, defaults)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object NioCheckpointFileManager {
  /** The session conf that selects a streaming query's checkpoint manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private class Local(root: Path, conf: Configuration) extends CheckpointFileManager {
    private val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)

    private def nio(p: Path): java.nio.file.Path = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      Files.createDirectories(target.getParent)
      new AtomicStream(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp"), overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)

    /** Hidden files are skipped: in-flight `.<name>.<uuid>.tmp` files, and
      * `.crc` sidecars another manager may have left. */
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p).filter(s => !s.getPath.getName.startsWith(".") && filter.accept(s.getPath))

    override def mkdirs(p: Path): Unit = { Files.createDirectories(nio(p)); () }

    override def exists(p: Path): Boolean = fs.exists(p)

    /** A missing path is a no-op, as in Spark's default manager. */
    override def delete(p: Path): Unit = { fs.delete(p, true); () }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** Writes `temp`; `close` renames it onto `target`, `cancel` deletes it.
    * Either way, and on a failed publish, no temp file is left behind. */
  private class AtomicStream(target: java.nio.file.Path, temp: java.nio.file.Path,
      overwriteIfPossible: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(temp))) {
    private var terminated = false

    override def close(): Unit = finish(publish = true)
    override def cancel(): Unit = finish(publish = false)

    private def finish(publish: Boolean): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (publish) {
            if (!overwriteIfPossible && Files.exists(target))
              throw new FileAlreadyExistsException(s"$target already exists")
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          }
        } finally { Files.deleteIfExists(temp); () }
      }
    }
  }
}
