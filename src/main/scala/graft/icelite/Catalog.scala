package graft.icelite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The commit-pointer protocol behind IceLite, extracted so the one
  * storage-dependent step — publishing metadata version N — is swappable.
  *
  * The CAS primitive is CONDITIONAL CREATE: `tryPublish(dir, v, bytes)`
  * succeeds iff version `v` does not exist yet. Two committers that both
  * loaded version N−1 race to create version N; exactly one wins, the loser
  * reloads the winner's metadata and rebases (see [[IceLite.commit]]'s retry
  * loop). This is the same protocol an object-store deployment runs with
  * S3 conditional PUT (`If-None-Match: *`) / GCS `ifGenerationMatch=0` —
  * no rename anywhere on the commit path.
  *
  * Data files and manifests need no CAS: they are immutable and uniquely
  * named per attempt, so plain writes (object PUTs) suffice; a lost race
  * only orphans them.
  */
/** A read-then-replace commit found its replaced buckets (or schema id)
  * modified by a concurrent committer — the caller must re-read the table
  * and re-execute its operation (see [[IceLite.commit]]).
  */
class CommitConflictException(message: String)
  extends RuntimeException(message)

object CommitConflictException {
  /** Run `body`, re-executing it while it throws a
    * [[CommitConflictException]], at most `attempts` times in all: the one
    * retry loop of every read-then-replace operation (SQL DML,
    * compaction, tombstone expiry). `body` must re-read the table, so a
    * re-execution works against the version the winner committed. The
    * last attempt's conflict is rethrown; any other exception propagates
    * at once.
    */
  def retry[A](attempts: Int = 3)(body: => A): A =
    try body
    catch {
      case _: CommitConflictException if attempts > 1 =>
        retry(attempts - 1)(body)
    }
}

trait Catalog {
  /** Atomically create metadata version `v` iff it does not exist.
    * @return true iff THIS call created it (the CAS succeeded). */
  def tryPublish(dir: String, v: Int, bytes: Array[Byte]): Boolean

  def readVersion(dir: String, v: Int): Array[Byte]

  def versionExists(dir: String, v: Int): Boolean

  /** Latest committed version. Implementations must tolerate a committer
    * that crashed after publishing but before any hint/cache update (i.e.
    * recover by probing forward, not by trusting a stale pointer).
    */
  def currentVersion(dir: String): Int

  def exists(dir: String): Boolean
}

/** Local-filesystem catalog (the default): conditional create via
  * CREATE_NEW (atomic on POSIX), plus a version-hint file maintained as a
  * read fast path. The hint is a CACHE, not the source of truth — readers
  * probe forward from it, so a crash between publish and hint update (or a
  * hintless table) is recovered on the next read.
  */
object FileCatalog extends Catalog {
  private def metaDir(dir: String): Path = Paths.get(dir, "metadata")
  private def hintPath(dir: String): Path =
    metaDir(dir).resolve("version-hint.text")
  private def metaPath(dir: String, v: Int): Path =
    metaDir(dir).resolve(s"v$v.metadata.json")

  override def tryPublish(dir: String, v: Int, bytes: Array[Byte]): Boolean = {
    Files.createDirectories(metaDir(dir))
    // conditional create must be CONTENT-atomic, matching an object-store
    // PUT: CREATE_NEW + write exposes a created-but-empty file to a racing
    // reader's forward probe. Hard-link from a fully-written temp file —
    // link() fails iff the target exists (the CAS) and the target appears
    // with its full content or not at all.
    val tmp = metaDir(dir).resolve(
      s".v$v-${Thread.currentThread().getId}-${System.nanoTime()}.tmp")
    Files.write(tmp, bytes)
    val won =
      try { Files.createLink(metaPath(dir, v), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    Files.deleteIfExists(tmp)
    if (won) {
      // best-effort hint update; losers never touch it, and a crash here is
      // recovered by currentVersion's forward probe
      val tmp = metaDir(dir).resolve(s".hint-$v-${Thread.currentThread().getId}.tmp")
      Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, hintPath(dir), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    won
  }

  override def readVersion(dir: String, v: Int): Array[Byte] =
    Files.readAllBytes(metaPath(dir, v))

  override def versionExists(dir: String, v: Int): Boolean =
    Files.exists(metaPath(dir, v))

  override def currentVersion(dir: String): Int = {
    val hinted =
      if (Files.exists(hintPath(dir))) {
        new String(Files.readAllBytes(hintPath(dir)),
          StandardCharsets.UTF_8).trim.toInt
      } else 1
    var v = math.max(hinted, 1)
    while (versionExists(dir, v + 1)) v += 1
    v
  }

  override def exists(dir: String): Boolean =
    Files.exists(hintPath(dir)) || versionExists(dir, 1)
}

/** Object-store mock: an in-memory key→bytes map where `putIfAbsent` plays
  * the conditional PUT. Proves the commit protocol needs NOTHING beyond
  * conditional create — no rename, no hint file — exactly the primitive S3
  * and GCS provide. Instantiate one per test; metadata objects live in this
  * instance, while data files and manifests stay on the real filesystem
  * (they are plain immutable PUTs under either catalog).
  */
class CasCatalog extends Catalog {
  private val objects =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  private def key(dir: String, v: Int): String = s"$dir#v$v"

  override def tryPublish(dir: String, v: Int, bytes: Array[Byte]): Boolean =
    objects.putIfAbsent(key(dir, v), bytes) == null

  override def readVersion(dir: String, v: Int): Array[Byte] = {
    val b = objects.get(key(dir, v))
    if (b == null) {
      throw new java.nio.file.NoSuchFileException(key(dir, v))
    }
    b
  }

  override def versionExists(dir: String, v: Int): Boolean =
    objects.containsKey(key(dir, v))

  override def currentVersion(dir: String): Int = {
    var v = 1
    while (versionExists(dir, v + 1)) v += 1
    v
  }

  override def exists(dir: String): Boolean = versionExists(dir, 1)
}
