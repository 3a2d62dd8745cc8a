package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

/** A version publish lost the commit race: the destination version
  * directory already exists (another writer committed it first), or
  * the publish rename landed but the destination holds ANOTHER
  * writer's commit token. Extends [[IllegalArgumentException]] so the
  * stores' long-standing `require(!versions().contains(v))` contract
  * (callers that intercept IllegalArgumentException on "already
  * exists") keeps holding — a pre-check refusal and a lost race are
  * the same logical event at different instants.
  *
  * Retryable by design: [[ManifestStore.mergeAtTip]] /
  * [[SnapshotStore.mergeAtTip]] catch it, re-diff against the new tip
  * and rebase (commutable commits) or abort with
  * [[ConcurrentWriteConflictException]] (overlapping keys). */
class VersionConflictException(msg: String) extends IllegalArgumentException(msg)

/** A rebase found a REAL conflict: the interleaved commit(s) changed
  * keys this commit also touches, so retrying would silently pick a
  * winner between two causally-unordered updates. Non-retryable — the
  * caller must re-read current state and re-derive its delta (the
  * Delta/Iceberg ConcurrentModificationException contract). */
class ConcurrentWriteConflictException(msg: String) extends RuntimeException(msg)

/** A write-time CHECK constraint rejected a commit: some row of the
  * incoming data evaluates the constraint expression to FALSE (a NULL
  * result passes, per the SQL standard). The commit publishes nothing
  * — constraint enforcement happens BEFORE any version goes live. */
class ConstraintViolationException(msg: String) extends IllegalArgumentException(msg)

/** Time-based retention met a LEGAL HOLD: the horizon selects a held
  * version for expiry. Count-based [[VersionedStore.prune]] silently
  * KEEPS held versions (the policy is advisory); a time horizon is a
  * compliance contract ("nothing older than N hours exists") that
  * CANNOT be honored while the hold stands — so it refuses loudly
  * instead of reporting success over a directory it did not empty. */
class RetentionHoldException(msg: String) extends IllegalStateException(msg)

/** Compare-and-swap version publication — the primitive that makes
  * TWO concurrent writers safe on both store layouts.
  *
  * The problem (SURVEY §2 snapshot domain, Delta/Iceberg's commit
  * protocol): both stores publish a version by renaming a fully-built
  * tmp dir onto `v=<N>`. One writer is safe, but two writers can both
  * compute N+1 and race the rename — and Hadoop's
  * rename-onto-existing semantics are FILESYSTEM-DEPENDENT (fail
  * cleanly, replace, or move-INTO as a subdirectory), so the loser's
  * outcome would be undefined rather than a clean conflict error.
  *
  * The protocol: the writer stamps a unique `_commit_id` token inside
  * its tmp dir BEFORE the rename, probes the destination (fast-path
  * refusal), renames, then verifies the token AT the destination.
  * Whatever any particular filesystem did with the racing rename, the
  * token is the single authority on who won: exactly one writer finds
  * its own token at `v=<N>`; every other writer cleans up whatever
  * its rename left behind (including the move-into case) and gets a
  * [[VersionConflictException]] — never a corrupted or silently
  * replaced version. Versions published before this protocol carry no
  * token and simply make every racer lose, which is the safe reading.
  *
  * This is the probe+verify half of optimistic concurrency; the
  * rebase half (semantic conflict detection, Delta's logical-conflict
  * re-check) lives in the stores' `mergeAtTip`. */
private[graft] object CommitProtocol {

  val TokenFile = "_commit_id"

  /** Stamp a fresh commit token inside the (not yet published) tmp
    * dir; returns the token for the later [[publish]] verify. */
  def writeToken(fs: FileSystem, tmpDir: Path): String = {
    val token = java.util.UUID.randomUUID().toString
    val out = fs.create(new Path(tmpDir, TokenFile), true)
    try out.write(token.getBytes("UTF-8")) finally out.close()
    token
  }

  private def tokenAt(fs: FileSystem, dir: Path): Option[String] = {
    val p = new Path(dir, TokenFile)
    try {
      if (!fs.exists(p)) None
      else {
        val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try { in.readFully(buf); Some(new String(buf, "UTF-8").trim) }
        finally in.close()
      }
    } catch { case _: java.io.IOException => None }
  }

  /** CAS-rename `tmp` onto `dest`. Exactly one concurrent caller per
    * `dest` returns normally; every other throws
    * [[VersionConflictException]] after removing its own leftovers.
    * `what` names the commit for the error message. */
  def publish(fs: FileSystem, tmp: Path, dest: Path, token: String,
      what: String): Unit = {
    def lose(reason: String): Nothing = {
      // clean up whatever OUR attempt left: the tmp dir if the rename
      // failed, or tmp moved INTO dest (the rename-into filesystems)
      val inside = new Path(dest, tmp.getName)
      try { if (fs.exists(inside)) fs.delete(inside, true): Unit }
      catch { case _: java.io.IOException => }
      try { if (fs.exists(tmp)) fs.delete(tmp, true): Unit }
      catch { case _: java.io.IOException => }
      throw new VersionConflictException(
        s"$what: lost the commit race — $reason. The concurrent writer's " +
          "version is intact; rebase (mergeAtTip) or re-read the tip and retry.")
    }
    if (fs.exists(dest)) lose("destination version already exists")
    val renamed =
      try fs.rename(tmp, dest)
      catch { case _: java.io.IOException => false }
    // rename-onto-existing is filesystem-dependent, so the rename's
    // own outcome proves nothing: the token at dest is the authority
    if (!tokenAt(fs, dest).contains(token))
      lose(if (renamed) "another writer's commit is at the destination"
      else "publish rename refused")
  }
}
