package graft.sources

import java.io.{BufferedInputStream, InputStream}
import java.nio.channels.Channels
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import graft.core.BytesRange

/** Local-filesystem backend — the primary backend in this offline
  * environment. Mirrors the behavior of
  * `storage/filesystem/.../FileSystemStorage.java:37-113`:
  *   - upload lands in a temp file and is atomically renamed into place
  *     (crash-safe, readers never observe partial objects);
  *   - ranged fetch positions a channel and bounds the stream
  *     (ref does skip + BoundedInputStream, :62-91);
  *   - delete prunes now-empty parent directories up to the root (:97-112).
  *
  * Works identically on executor-local disks and on a shared mount
  * (NFS-style) in a real cluster; for object stores the same contract is
  * carried by the `StorageBackend` trait.
  */
final class FileSystemStorage(root: Path) extends StorageBackend {
  Files.createDirectories(root)

  /** Exposed for tests that need to plant files next to uploaded objects. */
  def rootPath: Path = root

  private def resolve(key: String): Path = {
    val p = root.resolve(key).normalize()
    require(p.startsWith(root), s"key $key escapes storage root")
    p
  }

  /** The .upload-*.tmp basename pattern is RESERVED for in-flight upload
    * temp files, which listKeys hides. Writing such a key would create an
    * object that fetches but never lists — invisible to the retention and
    * scrub jobs, a permanent orphan — so upload REJECTS it; read-side ops
    * treat it as a nonexistent object (exists false, fetch/size not-found,
    * delete no-op) so probing callers see 'not an object', not an error
    * (r10 review follow-up). */
  private def isReservedName(p: Path): Boolean =
    FileSystemStorage.isInFlightTmpName(p.getFileName.toString)

  override def upload(in: InputStream, key: String): Long = {
    val target = resolve(key)
    require(!isReservedName(target),
      s"key $key uses the reserved in-flight upload temp pattern .upload-*.tmp")
    // Concurrent delete() prunes emptied parents, racing createDirectories →
    // createTempFile (NoSuchFileException on the just-pruned dir). Retry the
    // mkdir+tmp pair: once the tmp file exists the parent can no longer be
    // pruned (Files.delete on a non-empty dir fails atomically), so the
    // input stream below is consumed exactly once.
    var tmp: Path = null
    var attempts = 0
    while (tmp == null) {
      // createDirectories is also racy: it creates path segments one at a
      // time, and a concurrent prune of a just-created intermediate makes
      // the next segment's createDirectory throw NoSuchFileException. A
      // segment that exists when created but is pruned before its
      // is-a-directory check throws FileAlreadyExistsException instead.
      try {
        Files.createDirectories(target.getParent)
        tmp = Files.createTempFile(target.getParent, ".upload-", ".tmp")
      } catch {
        case e @ (_: java.nio.file.NoSuchFileException | _: java.nio.file.FileAlreadyExistsException) =>
          attempts += 1; if (attempts > 16) throw e
      }
    }
    try {
      val written = Using.resource(Files.newOutputStream(tmp, StandardOpenOption.TRUNCATE_EXISTING)) { out =>
        in.transferTo(out)
      }
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      written
    } catch {
      case e: Throwable => Files.deleteIfExists(tmp); throw e
    }
  }

  override def fetch(key: String): InputStream = {
    val p = resolve(key)
    if (isReservedName(p) || !Files.exists(p)) throw ObjectKeyNotFound(key)
    new BufferedInputStream(Files.newInputStream(p))
  }

  override def fetchRange(key: String, range: BytesRange): InputStream = {
    val p = resolve(key)
    if (isReservedName(p) || !Files.exists(p)) throw ObjectKeyNotFound(key)
    val fileSize = Files.size(p)
    if (range.isEmpty) return InputStream.nullInputStream()
    if (range.from >= fileSize) throw InvalidRange(key, range, fileSize)
    val ch = Files.newByteChannel(p, StandardOpenOption.READ)
    ch.position(range.from)
    val len = math.min(range.to, fileSize - 1) - range.from + 1
    new BoundedInputStream(Channels.newInputStream(ch), len)
  }

  override def delete(key: String): Unit = {
    val p = resolve(key)
    if (isReservedName(p)) return // not an object (in-flight temp namespace)
    Files.deleteIfExists(p)
    // Prune empty parents up to the root (ref :97-112).
    var parent = p.getParent
    while (parent != null && parent != root && Files.isDirectory(parent) && isEmptyDir(parent)) {
      try Files.delete(parent) catch {
        case _: java.nio.file.DirectoryNotEmptyException => return // writer moved in
        case _: java.nio.file.NoSuchFileException => () // concurrent pruner won; continue up
      }
      parent = parent.getParent
    }
  }

  private def isEmptyDir(p: Path): Boolean =
    try Using.resource(Files.list(p))(s => !s.iterator().hasNext)
    catch { case _: java.nio.file.NoSuchFileException => false } // pruned under us; stop

  override def exists(key: String): Boolean = {
    val p = resolve(key)
    !isReservedName(p) && Files.exists(p)
  }
  override def size(key: String): Long = {
    val p = resolve(key)
    if (isReservedName(p) || !Files.exists(p)) throw ObjectKeyNotFound(key)
    Files.size(p)
  }

  override def listKeys(prefix: String): Vector[String] = {
    if (!Files.exists(root)) return Vector.empty
    // NOT Files.walk: its FileTreeIterator stats every entry eagerly and
    // throws (Unchecked)NoSuchFileException when a concurrent upload's
    // .upload-*.tmp is atomically renamed away mid-walk, or delete() prunes
    // an emptied parent dir. A live store always has writers; listing must
    // tolerate entries vanishing between readdir and stat, and in-flight
    // temp files are not objects — readers must never see them.
    val out = Vector.newBuilder[String]
    def inFlightTmp(p: Path): Boolean =
      FileSystemStorage.isInFlightTmpName(p.getFileName.toString)
    def visit(dir: Path): Unit = {
      // Entries are collected INCREMENTALLY: a DirectoryIteratorException
      // (an entry vanished between readdir batches) ends the iteration but
      // keeps every sibling already read — discarding the partial result
      // would transiently hide stable objects unrelated to the vanished
      // entry (r10 review follow-up).
      val entries = {
        val buf = Vector.newBuilder[Path]
        try Using.resource(Files.newDirectoryStream(dir)) { ds =>
          val it = ds.iterator()
          var more = true
          while (more) {
            try {
              more = it.hasNext
              if (more) buf += it.next()
            } catch {
              case e: java.nio.file.DirectoryIteratorException
                if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => more = false
            }
          }
        } catch {
          case _: java.nio.file.NoSuchFileException => ()
          case _: java.nio.file.NotDirectoryException => ()
        }
        buf.result()
      }
      entries.foreach { p =>
        // isDirectory/isRegularFile return false (no throw) if p vanished.
        // NOFOLLOW on the recursion guard: Files.walk (the old impl) never
        // followed directory symlinks, and following one that points at an
        // ancestor would recurse unboundedly. A symlink to a FILE still
        // lists (isRegularFile follows links), matching walk's semantics.
        if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) visit(p)
        else if (Files.isRegularFile(p) && !inFlightTmp(p)) {
          val rel = root.relativize(p).toString
          if (rel.startsWith(prefix)) out += rel
        }
      }
    }
    visit(root)
    out.result().sorted
  }
}

object FileSystemStorage {
  def apply(root: String): FileSystemStorage = new FileSystemStorage(Paths.get(root))

  /** The reserved basename pattern of in-flight upload temp files: hidden
    * from listKeys and rejected as object keys (see resolve/listKeys). */
  private[sources] def isInFlightTmpName(name: String): Boolean =
    name.startsWith(".upload-") && name.endsWith(".tmp")
}

/** Reads at most `limit` bytes from `in` then reports EOF; closing closes the
  * underlying stream (the bounded-stream idiom of the reference's ranged
  * fetch, `FileSystemStorage.java:62-91`). */
final class BoundedInputStream(in: InputStream, limit: Long) extends InputStream {
  private var remaining = limit
  override def read(): Int =
    if (remaining <= 0) -1
    else {
      val b = in.read()
      if (b >= 0) remaining -= 1
      b
    }
  override def read(buf: Array[Byte], off: Int, len: Int): Int =
    if (remaining <= 0) -1
    else {
      val n = in.read(buf, off, math.min(len.toLong, remaining).toInt)
      if (n > 0) remaining -= n
      n
    }
  override def available(): Int = math.min(in.available().toLong, remaining).toInt
  override def close(): Unit = in.close()
}
