package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe swap behind every rename-staged lifecycle — sink
  * overwrite/upsert ([[Writers]]), path compaction ([[Compact]]),
  * inverted-index compaction, packed-corpus forget and the ANN cell and
  * root swaps. A caller stages the new copy beside `live` (a sibling or
  * a dot-prefixed child that readers skip), then [[promote]] runs
  * live → `bak`, staged → live, delete `bak`. At every instant a FULL
  * copy exists under `live` or `bak`, and [[restore]], run before any
  * existence check on `live`, puts a stranded backup back — so a crash
  * never loses the dataset. Staging is never the only copy of anything:
  * each caller clears or overwrites its own staging right before it
  * restages, and recovery on a read path never touches it (a reader
  * landing mid-write would otherwise delete an in-flight staging).
  *
  * On HDFS/local each rename is an atomic metadata operation; on object
  * stores (S3A) rename is a non-atomic O(data) copy, so the guarantee
  * there is recoverability, not atomicity — a transactional table
  * format is the right tool when that matters. Every function takes the
  * `FileSystem` explicitly, which is also the seam a fault-injecting
  * wrapper uses in SwapSpec.
  */
object Swap {

  /** Swap `staged` in as `live`, keeping the old copy under `bak` until
    * the new one is in place. An absent `live` takes one rename. A
    * missing `staged` throws before `live` is touched; a failed second
    * rename renames the backup back, then throws. `bak` must not exist —
    * run [[restore]] first. The backup is deleted last.
    */
  def promote(fs: FileSystem, staged: Path, live: Path, bak: Path): Unit = {
    if (!fs.exists(staged))
      throw new java.io.IOException(s"nothing staged at $staged; $live left as is")
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, bak))
      throw new java.io.IOException(s"backup rename failed: $live -> $bak")
    if (!fs.rename(staged, live)) {
      if (hadLive) fs.rename(bak, live) // the old copy is intact
      throw new java.io.IOException(s"swap failed: $staged -> $live")
    }
    if (hadLive) fs.delete(bak, true)
  }

  /** Heal a crashed [[promote]]: a backup beside a missing `live` is the
    * between-renames window — rename it back; a backup beside a present
    * `live` is stale — delete it. No backup: nothing to do. Throws when
    * the rename or delete fails.
    */
  def restore(fs: FileSystem, live: Path, bak: Path): Unit =
    if (fs.exists(bak)) {
      if (fs.exists(live)) {
        if (!fs.delete(bak, true))
          throw new java.io.IOException(s"stale backup delete failed: $bak")
      } else if (!fs.rename(bak, live))
        throw new java.io.IOException(s"backup restore failed: $bak -> $live")
    }

  /** [[restore]] for every child of `bakRoot` against its namesake under
    * `liveRoot` (per-stratum and per-cell swaps), then delete `bakRoot`.
    */
  def restoreAll(fs: FileSystem, bakRoot: Path, liveRoot: Path): Unit =
    if (fs.exists(bakRoot)) {
      fs.listStatus(bakRoot).foreach(st =>
        restore(fs, new Path(liveRoot, st.getPath.getName), st.getPath))
      if (!fs.delete(bakRoot, true))
        throw new java.io.IOException(s"backup root delete failed: $bakRoot")
    }
}
