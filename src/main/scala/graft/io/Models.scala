package graft.io

import java.nio.file.{Files, Path, Paths}

/** Versioned model roots: the crash-safe publication layout the served
  * probe and LM models retrain under.
  *
  * A model that the curation loop reads on every shard cannot be swapped
  * with `write.mode("overwrite")` — Spark's overwrite deletes the live
  * directory before the rewrite commits, so a crash (or a concurrent
  * reader) mid-retrain sees a torn model. The serving tables solved the
  * same problem with staged rewrites behind an atomic marker
  * (`EpochStore`, `Snapshots.compact`); models get the simpler
  * warehouse idiom, the version pointer: each (re)train writes a COMPLETE
  * new model under `root/v<n>` and then publishes `root/CURRENT`
  * containing `n` via write-temp + ATOMIC_MOVE. Readers dereference
  * CURRENT; a crash anywhere before the publish leaves CURRENT — and
  * therefore every reader — on the old, complete version, and the
  * half-written `v<n>` is invisible garbage a retry overwrites and
  * `prune` (the maintenance window) removes.
  *
  * Single-writer contract (same as every serving table): one live
  * trainer per root — the pointer makes crashed-writer retries safe,
  * not two concurrent trainers racing the same version number.
  *
  * Reference analog: the reference persists its parser state as one
  * pickle swapped in place (`pdf_converter.py` model cache); at 10^12
  * docs the swap must be atomic against a fleet of readers.
  */
object Models {

  private def pointer(root: String): Path = Paths.get(root, "CURRENT")

  /** The published version, or -1 when the root has never published
    * (empty or a pre-versioning flat layout). */
  def current(root: String): Long = {
    val p = pointer(root)
    if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
  }

  /** The directory readers open: `root/v<n>` under a published pointer,
    * the root itself for a flat legacy layout. */
  def currentDir(root: String): String = {
    val v = current(root)
    if (v >= 0L) s"$root/v$v" else root
  }

  /** The next version's (number, staging directory). Writing there is
    * invisible until `publish`; a crashed attempt is simply overwritten
    * by the retry (same number — `current` did not move). */
  def nextDir(root: String): (Long, String) = {
    val n = current(root) + 1L
    (n, s"$root/v$n")
  }

  /** Atomically move the pointer (`EpochStore.publish`, the same
    * protocol as the compaction markers). After this returns, every
    * subsequent open sees version `n` complete. */
  def publish(root: String, n: Long): Unit =
    EpochStore.publish(pointer(root), n.toString)

  /** Drop every non-current version directory (superseded models and
    * crashed-attempt residue). Returns the pruned version numbers —
    * the maintenance window reports them as fold points. Quiescence:
    * prune only when no reader holds a plan over a superseded version
    * (same contract as serving-table compaction). */
  def prune(root: String): Seq[Long] = {
    val cur = current(root)
    val dir = Paths.get(root)
    if (cur < 0L || !Files.isDirectory(dir)) return Seq.empty
    val vs = Files.list(dir).toArray.toSeq.collect {
      case p: Path if Files.isDirectory(p) &&
        p.getFileName.toString.matches("v\\d+") =>
        p.getFileName.toString.drop(1).toLong
    }
    val stale = vs.filter(_ != cur).sorted
    stale.foreach(v => EpochStore.deleteTree(Paths.get(root, s"v$v")))
    stale
  }

  /** A REBUILD (bootstrap writeModel) starts version history over:
    * remove the pointer and every version directory, so v0 of the new
    * history cannot alias a stale v0. */
  def reset(root: String): Unit = {
    val dir = Paths.get(root)
    Files.createDirectories(dir)
    Files.deleteIfExists(pointer(root))
    Files.deleteIfExists(Paths.get(root, "CURRENT.tmp"))
    Files.list(dir).toArray.toSeq.foreach {
      case p: Path if Files.isDirectory(p) &&
        p.getFileName.toString.matches("v\\d+") => EpochStore.deleteTree(p)
      case _ => ()
    }
  }
}
