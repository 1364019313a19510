package graft.lakehouse

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}

/** Single-object WRITER LEASE over [[graft.util.AtomicPut]] — the
  * cooperation primitive for a second daemon. The commit protocol is
  * already SAFE under a surprise second writer (every arbitration PUT
  * is atomic, the loser fails loudly); the lease makes two daemons
  * COOPERATE instead: exactly one holds the tick at a time, the other
  * skips and retries next tick, and a crashed holder's lease expires
  * by TTL so the survivor takes over without an operator.
  *
  * One object at `leasePath`, content `owner\tepochMillis`. Acquire is
  * one atomic create-if-absent. A held lease older than `ttlMs` is
  * STALE — but breaking it must itself be exclusive: if every
  * challenger ran an unconditional delete-then-create, challenger B's
  * delete could remove challenger A's FRESH lease created microseconds
  * earlier, and both would end up holding. The break protocol:
  *
  *  1. Challengers race one atomic create of a BREAK TOKEN named by
  *     the stale lease's identity (owner hash + acquire ts) — exactly
  *     one challenger per lease INCARNATION proceeds; losers back off
  *     to the next tick.
  *  2. The token winner RE-READS the lease and only deletes it if the
  *     content still equals the incarnation it tokenized (a lease that
  *     was released-and-reacquired meanwhile is left alone).
  *  3. It then re-races the ordinary create (other daemons may be
  *     arriving through the lease-absent path — that create is atomic,
  *     at most one wins) and finally drops its token.
  *
  * Crash recovery: a breaker that dies holding the token would
  * otherwise wedge the incarnation, so challengers that lose the token
  * race clear tokens older than `ttlMs` and retry next tick; a breaker
  * that died after the delete left the lease absent, which the normal
  * acquire path handles. Residual window (documented, not closed): the
  * token winner's re-read → delete gap — a release+re-acquire pair by
  * OTHER daemons landing inside that syscall-scale window after the
  * holder already overran its TTL. That triple coincidence is covered
  * by the TTL sizing bargain (Delta/Iceberg vacuum make the same
  * one): size `ttlMs` several multiples of the longest tick so a
  * slow-but-alive holder is never usurped mid-tick. */
object Lease {

  /** Try to take the lease. True = held by `owner` (go); false = a
    * live holder exists (skip this tick). */
  def acquire(fs: FileSystem, leasePath: Path, owner: String,
      ttlMs: Long): Boolean = {
    require(ttlMs > 0, "lease ttl must be positive")
    def tryCreate(): Boolean =
      try {
        fs.mkdirs(leasePath.getParent)
        graft.util.AtomicPut.putIfAbsent(fs, leasePath,
          s"$owner\t${System.currentTimeMillis()}")
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return true
    holder(fs, leasePath) match {
      case Some((staleOwner, staleTs))
          if System.currentTimeMillis() - staleTs > ttlMs =>
        breakStale(fs, leasePath, owner, ttlMs, staleOwner, staleTs) &&
          tryCreate()
      case Some(_) => false // live holder
      case None => tryCreate() // released between our create and read
    }
  }

  /** Exclusively remove one stale lease INCARNATION. True = this
    * challenger won the break token and the stale object is gone (race
    * the create); false = another challenger owns this break, or the
    * lease changed under us (back off to the next tick). */
  private def breakStale(fs: FileSystem, leasePath: Path, owner: String,
      ttlMs: Long, staleOwner: String, staleTs: Long): Boolean = {
    val token = new Path(leasePath.getParent,
      s".${leasePath.getName}.break-$staleTs-${staleOwner.hashCode.toHexString}")
    val wonToken =
      try {
        graft.util.AtomicPut.putIfAbsent(fs, token,
          s"$owner\t${System.currentTimeMillis()}")
        true
      } catch { case _: IOException => false }
    if (!wonToken) {
      // a breaker is (or was) working this incarnation; if it crashed
      // holding the token, clear it once aged so the next tick can break
      readPair(fs, token) match {
        case Some((_, tokenTs))
            if System.currentTimeMillis() - tokenTs > ttlMs =>
          fs.delete(token, false)
        case _ => ()
      }
      return false
    }
    try {
      // content-verified delete: only remove the exact incarnation we
      // tokenized — a released-and-reacquired lease is someone else's
      holder(fs, leasePath) match {
        case Some((o, ts)) if o == staleOwner && ts == staleTs =>
          fs.delete(leasePath, false)
          true
        case _ => false
      }
    } finally fs.delete(token, false)
  }

  /** Current holder, if any: (owner, acquiredAtMillis). A torn or
    * missing object reads as no holder. */
  def holder(fs: FileSystem, leasePath: Path): Option[(String, Long)] =
    readPair(fs, leasePath)

  private def readPair(fs: FileSystem, p: Path): Option[(String, Long)] =
    try {
      if (!fs.exists(p)) None
      else graft.util.AtomicPut.readUtf8(fs, p).split("\t") match {
        case Array(o, t) => t.toLongOption.map(o -> _)
        case _ => None
      }
    } catch { case _: java.io.IOException => None }

  /** Release iff `owner` still holds it — a usurped (TTL-broken) lease
    * is NOT deleted out from under its new holder; the owner check is
    * re-read immediately before the delete. The remaining read→delete
    * window requires the holder to have ALREADY overrun its TTL and a
    * challenger's usurpation to land inside a syscall-scale gap — the
    * same TTL sizing assumption the break protocol documents; release
    * is best-effort under that bargain. Returns whether the release
    * happened. */
  def release(fs: FileSystem, leasePath: Path, owner: String): Boolean =
    holder(fs, leasePath) match {
      case Some((o, _)) if o == owner => fs.delete(leasePath, false); true
      case _ => false
    }
}
