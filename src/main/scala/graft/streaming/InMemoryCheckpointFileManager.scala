package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException, OutputStream}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Heap-backed [[CheckpointFileManager]] for the REPLAY HARNESS
  * (r22): the replay gates' wall cost was profiled to the per-batch
  * control plane — offset/commit WAL writes (~40-90 ms each) and
  * HDFSBackedStateStore delta commits (~65-270 ms per batch) — and
  * the r21 /dev/shm experiment proved that cost is the Hadoop
  * FileSystem SOFTWARE path (path resolution, checksums, temp-file +
  * rename atomicity), not disk: moving the checkpoint to a RAM disk
  * changed nothing. This manager keeps checkpoint files in a
  * process-global map, so createAtomic/open/list cost what a hash-map
  * put/get costs, while every checkpoint SEMANTIC the gates rely on
  * is preserved: atomic visibility on close (a cancelled or unclosed
  * write is never visible), no-overwrite create failures
  * (FileAlreadyExistsException — the metadata log's concurrent-writer
  * guard), list/delete/exists over implicit directories, and faithful
  * read-back of state deltas across micro-batches.
  *
  * SCOPE: local-mode measurement harness ONLY (the replay gates set it
  * through the replay driver's conf scope, StreamReplay's
  * withReplayPartitions, next to its 2-partition setting). Tasks and
  * driver share one JVM in local mode, so the global map is visible
  * to both; on a real cluster this class would be
  * wrong (executors cannot see driver heap) and recovery-after-crash
  * is explicitly out of scope — the replay protocol creates a fresh
  * temp checkpoint per run and never restarts from one. The
  * production ingest path keeps Spark's default durable manager.
  */
class InMemoryCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {
  import InMemoryCheckpointFileManager._

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = {
    val k = key(path)
    new CancellableFSDataOutputStream(new ByteArrayOutputStream(256)) {
      private var done = false
      override def cancel(): Unit = synchronized { done = true }
      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          super.close()
          val bytes = underlyingStream
            .asInstanceOf[ByteArrayOutputStream].toByteArray
          if (overwriteIfPossible) files.put(k, bytes)
          else if (files.putIfAbsent(k, bytes) != null)
            throw new FileAlreadyExistsException(k)
          addDirs(parent(k))
        }
      }
    }
  }

  override def open(path: Path): FSDataInputStream = {
    val bytes = files.get(key(path))
    if (bytes == null) throw new FileNotFoundException(key(path))
    new FSDataInputStream(new SeekableBytes(bytes))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val k = key(path)
    if (files.containsKey(k))
      return Array(status(k)).filter(s => filter.accept(s.getPath))
    if (!existsDirLike(k)) throw new FileNotFoundException(k)
    val prefix = if (k.endsWith("/")) k else k + "/"
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    val seenChildDirs = scala.collection.mutable.HashSet.empty[String]
    files.keySet().forEach { f =>
      if (f.startsWith(prefix)) {
        val rest = f.substring(prefix.length)
        val slash = rest.indexOf('/')
        if (slash < 0) out += status(f)
        else seenChildDirs += prefix + rest.substring(0, slash)
      }
    }
    dirs.forEach { d =>
      if (d.startsWith(prefix) && !d.substring(prefix.length).contains('/'))
        seenChildDirs += d
    }
    seenChildDirs.foreach(d => out += dirStatus(d))
    out.filter(s => filter.accept(s.getPath)).toArray
  }

  override def mkdirs(path: Path): Unit = addDirs(key(path))

  override def exists(path: Path): Boolean = {
    val k = key(path)
    files.containsKey(k) || existsDirLike(k)
  }

  override def delete(path: Path): Unit = {
    val k = key(path)
    files.remove(k)
    val prefix = if (k.endsWith("/")) k else k + "/"
    files.keySet().removeIf(_.startsWith(prefix))
    dirs.remove(k)
    dirs.removeIf(_.startsWith(prefix))
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    addDirs(key(root))
    root
  }

  private def existsDirLike(k: String): Boolean = {
    if (dirs.contains(k)) return true
    val prefix = if (k.endsWith("/")) k else k + "/"
    var found = false
    val it = files.keySet().iterator()
    while (!found && it.hasNext) found = it.next().startsWith(prefix)
    found
  }

  private def status(k: String): FileStatus =
    new FileStatus(files.get(k).length.toLong, false, 1, 1L << 26, 0L,
      new Path(k))

  private def dirStatus(k: String): FileStatus =
    new FileStatus(0L, true, 1, 1L << 26, 0L, new Path(k))
}

object InMemoryCheckpointFileManager {
  /** One store for the process: checkpoint roots are per-query temp
    * dirs, so keys never collide across queries, and the query's
    * stop-time delete of its temp checkpoint root frees its entries.
    */
  private val files = new ConcurrentHashMap[String, Array[Byte]]()
  private val dirs = ConcurrentHashMap.newKeySet[String]()

  /** Scheme-insensitive absolute path — the same file is addressed as
    * `/tmp/x` and `file:/tmp/x` by different layers.
    */
  private def key(p: Path): String = p.toUri.getPath

  private def parent(k: String): String = {
    val i = k.lastIndexOf('/')
    if (i <= 0) "/" else k.substring(0, i)
  }

  private def addDirs(k0: String): Unit = {
    var k = k0
    while (k.nonEmpty && k != "/" && dirs.add(k)) k = parent(k)
  }

  /** Bytes currently held — a test hook so the harness can assert the
    * store drains when replay checkpoints are deleted on stop.
    */
  private[streaming] def heldBytes: Long = {
    var n = 0L
    files.values().forEach(b => n += b.length)
    n
  }

  private class SeekableBytes(bytes: Array[Byte])
      extends ByteArrayInputStream(bytes)
      with Seekable with PositionedReadable {
    override def seek(newPos: Long): Unit = { pos = newPos.toInt }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = {
      if (position >= bytes.length) -1
      else {
        val n = math.min(length, bytes.length - position.toInt)
        System.arraycopy(bytes, position.toInt, buffer, offset, n)
        n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte],
                           offset: Int, length: Int): Unit = {
      if (read(position, buffer, offset, length) < length)
        throw new java.io.EOFException(
          s"readFully past end: $position + $length > ${bytes.length}")
    }
    override def readFully(position: Long,
                           buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
