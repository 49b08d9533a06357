package graft.llmops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Single-rename atomic commit for MULTI-FILE persisted stores.
  *
  * The per-file rename-aside [[swap]] is sound for a
  * single-file idempotent store, but a store whose state spans several
  * files (counters + meta) committed by SEPARATE swaps has a torn-commit
  * window: a crash between the two swaps leaves counters including a
  * batch while `last_epoch` is stale, so an at-least-once replay of that
  * epoch passes the guard and double-counts — the exact hazard the epoch
  * guard exists to close. This helper closes it by making the unit of
  * commit one DIRECTORY rename (atomic on HDFS and local FS):
  *
  *   dir/state/        committed snapshot (all store files inside)
  *   dir/state.stage/  being written (incomplete until renamed away)
  *   dir/state.next/   fully staged, not yet committed (the marker that
  *                     staging FINISHED — a partial stage can never be
  *                     mistaken for a committable snapshot)
  *   dir/state.old/    previous snapshot during the swap
  *
  * Commit sequence: stage→next (completeness marker), state→old,
  * next→state, delete old. The only crash window with no `state` is
  * between the last two renames, and there `state.next` is a COMPLETE
  * consistent snapshot — [[resolve]] rolls it forward on the next open,
  * so readers always see an all-files-consistent epoch. A stale
  * `state.next` alongside a live `state` (crash before the swap) is a
  * consistent snapshot too: resolve prefers the committed `state` and
  * the leftover is overwritten by the next update, whose epoch guard
  * (reading the COMMITTED meta) decides idempotence — either choice
  * replays the batch exactly once.
  */
object StoreCommit {

  def statePath(dir: String): String = s"$dir/state"
  def stagePath(dir: String): String = s"$dir/state.stage"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed snapshot path, rolling forward a crashed commit first. */
  def resolve(spark: SparkSession, dir: String): String = {
    val state = new Path(statePath(dir))
    val next = new Path(s"$dir/state.next")
    val fs = fsOf(spark, state)
    if (!fs.exists(state) && fs.exists(next) && !fs.rename(next, state))
      throw new java.io.IOException(s"StoreCommit: roll-forward $next -> $state failed")
    statePath(dir)
  }

  /** Atomically publish `state.stage` (which must already contain EVERY
    * store file) as the new `state`.
    */
  def commit(spark: SparkSession, dir: String): Unit = {
    val state = new Path(statePath(dir))
    val stage = new Path(stagePath(dir))
    val next = new Path(s"$dir/state.next")
    val old = new Path(s"$dir/state.old")
    val fs = fsOf(spark, state)
    fs.delete(next, true)
    if (!fs.rename(stage, next))
      throw new java.io.IOException(s"StoreCommit: rename $stage -> $next failed")
    fs.delete(old, true)
    if (fs.exists(state) && !fs.rename(state, old))
      throw new java.io.IOException(s"StoreCommit: rename $state -> $old failed")
    if (!fs.rename(next, state))
      throw new java.io.IOException(s"StoreCommit: rename $next -> $state failed")
    fs.delete(old, true)
  }

  /** Single-file commit: publish `dstPath.tmp` as `dstPath`. The live path
    * is renamed ASIDE first (dst → dst.old, tmp → dst, delete dst.old)
    * rather than deleted, so it is never absent mid-commit: a crash before
    * the tmp→dst rename leaves dst.old intact for manual promotion, and a
    * crash after it leaves only a stale dst.old to sweep. (Plain-FS renames
    * aren't transactional, so this is crash-narrowed, not atomic;
    * concurrent readers on object stores should still tolerate a listing
    * race.)
    */
  def swap(spark: SparkSession, dstPath: String): Unit = {
    val dst = new Path(dstPath)
    val (tmp, old) = (new Path(dstPath + ".tmp"), new Path(dstPath + ".old"))
    val fs = fsOf(spark, dst)
    fs.delete(old, true)
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"StoreCommit: rename $dst -> $old failed")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"StoreCommit: rename $tmp -> $dst failed")
    fs.delete(old, true)
  }
}
