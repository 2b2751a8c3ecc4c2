package graft.ds

import java.io.{FileNotFoundException, IOException}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Advisory dataset write lock: serializes the mutating operators
  * (upsert, compact, in-place repartition, schema-unify rewrite, vacuum,
  * snapshot restore) that stage-and-swap dataset directories. Without
  * it, two concurrent writers interleave staged renames and one
  * writer's rows silently vanish — the natural failure mode once
  * [[graft.meta.Manager.compactAll]] maintenance sweeps run beside
  * ingest on a live lake.
  *
  * Mechanism (no reference counterpart — pydala is single-process):
  *  - The lock is a FILE beside the dataset root (`.<name>__lock`), a
  *    sibling because the swap protocol renames the root itself; a lock
  *    inside the tree would be carried away mid-swap.
  *  - Acquisition is an atomic create-exclusive: `O_CREAT|O_EXCL` via
  *    NIO on `file://` (Hadoop's local create(overwrite=false) is a
  *    check-then-create TOCTOU), `FileSystem.create(overwrite=false)`
  *    elsewhere (atomic on HDFS; object stores need their conditional
  *    PUT wired into the FS connector, same caveat as every
  *    lock-file scheme).
  *  - Liveness: the holder heartbeats the lock file's mtime every
  *    ttl/3; a waiter may STEAL a lock whose mtime is older than the
  *    ttl (dead holder). Stealing renames the stale lock to a unique
  *    name first — rename is atomic, so of N concurrent stealers
  *    exactly one clears it and everyone then races the ordinary
  *    create-exclusive. A crash between rename and delete leaves a
  *    `.…__lock.stale*` file that [[GraftDataset.vacuum]] cleans.
  *  - Release deletes the file only if it still carries OUR token: a
  *    holder that lost its lock to a TTL steal must not delete the
  *    thief's lock.
  *
  * Scale shape: one create + one delete per mutating operation and one
  * touch per ttl/3 — O(1) FS metadata RPCs, nothing proportional to
  * data size. */
object DatasetLock {
  /** Default holder ttl. Generous because the heartbeat keeps a LIVE
    * holder fresh regardless of how long its write job runs — the ttl
    * only bounds how long a CRASHED holder blocks the dataset. */
  val DefaultTtlMs: Long = 15L * 60 * 1000
  /** Default time a waiter contends before giving up. */
  val DefaultAcquireTimeoutMs: Long = 30L * 60 * 1000

  /** Lock file for a dataset root; None when the root IS the FS root
    * (no sibling possible — single-dataset FS, nothing to serialize). */
  def lockPath(dataset: Path): Option[Path] =
    Option(dataset.getParent).map(par => new Path(par, s".${dataset.getName}__lock"))

  /** Contention counters for one lock, cumulative over this JVM's
    * lifetime. `acquires` counts successful acquisitions, `contended`
    * the subset that found the lock held at least once, `waitedMs`
    * total time spent spinning (successful AND timed-out attempts),
    * `steals` TTL steals this process performed, `timeouts` acquire
    * give-ups. Acquire previously spun SILENTLY for up to 30 minutes —
    * these counters are what a production lake reads (persisted under
    * `[maintenance]` by [[graft.meta.Manager.compactAll]]) to see lock
    * pressure instead of diagnosing it from job wall-clock. */
  final case class LockStats(acquires: Long = 0, contended: Long = 0,
      waitedMs: Long = 0, steals: Long = 0, timeouts: Long = 0)

  private val statsMap =
    new java.util.concurrent.ConcurrentHashMap[String, LockStats]()
  private def record(lock: Path)(f: LockStats => LockStats): Unit =
    statsMap.compute(lock.toString,
      (_, v) => f(if (v == null) LockStats() else v))

  /** Counters for one dataset's lock (zeroes if never contended here).
    * THIS-PROCESS scope — the cross-process view is [[combinedStats]]. */
  def statsFor(dataset: Path): LockStats =
    lockPath(dataset).flatMap(l => Option(statsMap.get(l.toString)))
      .getOrElse(LockStats())

  // ---- cross-process stats -------------------------------------------
  // The in-memory map above under-reports exactly the contention
  // production has: two writer PROCESSES queueing on one dataset each
  // see only their own waits. So every successful release flushes this
  // process's since-last-flush DELTA into a `.…__lock_stats` sidecar
  // beside the lock file — while STILL HOLDING the lock, so the
  // read-modify-write needs no extra coordination. [[combinedStats]]
  // then reads every process's flushed history plus this process's
  // unflushed remainder. Honesty bounds, documented rather than hidden:
  // a process that only ever TIMES OUT never flushes its waits (they
  // surface on its next successful release, or never), and a crash
  // between body and flush drops at most one delta. Stats, not data —
  // every sidecar failure is swallowed.

  private val flushedMap =
    new java.util.concurrent.ConcurrentHashMap[String, LockStats]()

  /** Cross-process stats sidecar beside the lock file (hidden; never
    * matched by the vacuum's `.…__lock.stale` sweep). */
  def statsSidecar(lock: Path): Path =
    new Path(lock.getParent, s"${lock.getName}_stats")

  private val StatsMagic = "graft-lockstats-v1"

  private def readSidecar(fs: FileSystem, lock: Path): LockStats = {
    // the writer's delete→rename promotion has a brief NO-FILE window
    // (rename-with-overwrite isn't portable across Hadoop FS impls, and
    // FileContext would break custom schemes with no AbstractFileSystem
    // binding). An unlocked reader that lands inside it must not report
    // zero flushed history for a contended dataset — retry over the
    // window; a dataset with genuinely no sidecar just pays two short
    // sleeps on a monitoring-only path.
    def once(): Option[LockStats] =
      try {
        val in = fs.open(statsSidecar(lock))
        val text = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        text.trim.split('\t') match {
          case Array(StatsMagic, a, c, w, s, t) =>
            Some(LockStats(a.toLong, c.toLong, w.toLong, s.toLong, t.toLong))
          case _ => Some(LockStats()) // torn/corrupt: history lost, not absent
        }
      } catch {
        case _: java.io.FileNotFoundException => None
        case scala.util.control.NonFatal(_) => Some(LockStats())
      }
    var attempt = 0
    var res = once()
    while (res.isEmpty && attempt < 2) {
      Thread.sleep(25); attempt += 1; res = once()
    }
    res.getOrElse(LockStats())
  }

  private def plus(a: LockStats, b: LockStats): LockStats =
    LockStats(a.acquires + b.acquires, a.contended + b.contended,
      a.waitedMs + b.waitedMs, a.steals + b.steals, a.timeouts + b.timeouts)

  private def minus(a: LockStats, b: LockStats): LockStats =
    LockStats(a.acquires - b.acquires, a.contended - b.contended,
      a.waitedMs - b.waitedMs, a.steals - b.steals, a.timeouts - b.timeouts)

  /** Merge `delta` into the sidecar; true on success. Package-visible
    * so a spec can stand in for a second process's flush. Callers must
    * hold the lock (or be the only process, as in tests) — the sidecar
    * write is a read-modify-write serialized only by the lock itself.
    * Stage + rename like every other sidecar: an UNLOCKED reader
    * (combinedStats from a sweep JVM) must never see a torn file, and
    * a crash mid-write must cost at most this one delta, never the
    * accumulated history. */
  private[ds] def mergeIntoSidecar(fs: FileSystem, lock: Path, delta: LockStats): Boolean =
    try {
      val dst = statsSidecar(lock)
      val tmp = Sidecars.tmpFor(dst)
      // Crash recovery, serialized by the dataset lock: a flush that
      // died between delete(dst) and rename left the FULL merged
      // history orphaned in the staged tmp — promote it before
      // reading, else the accumulator silently restarts from zero
      // (unlike the stats/bloom sidecars, this one cannot be rebuilt
      // from data). Unlocked readers (combinedStats) never recover — a
      // reader renaming mid-flush would race the writer's own
      // delete+rename.
      if (!fs.exists(dst) && fs.exists(tmp)) fs.rename(tmp, dst)
      val merged = plus(readSidecar(fs, lock), delta)
      Sidecars.atomicWrite(fs, dst,
        (Seq(StatsMagic, merged.acquires, merged.contended,
          merged.waitedMs, merged.steals, merged.timeouts).mkString("\t") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), "lock stats")
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  private def flushStats(fs: FileSystem, lock: Path): Unit = {
    val key = lock.toString
    val cur = Option(statsMap.get(key)).getOrElse(LockStats())
    val flushed = Option(flushedMap.get(key)).getOrElse(LockStats())
    val delta = minus(cur, flushed)
    // advance the flushed snapshot ONLY on a successful write — a
    // swallowed transient FS failure must leave the delta riding the
    // next release, not silently dropped from the cross-process view
    if (delta != LockStats() && mergeIntoSidecar(fs, lock, delta))
      flushedMap.put(key, cur)
  }

  /** Combined counters for one dataset's lock: every process's flushed
    * history (sidecar) plus this process's unflushed remainder — the
    * number a production lake should read for lock pressure. */
  def combinedStats(fs: FileSystem, dataset: Path): LockStats =
    lockPath(dataset) match {
      case None => LockStats()
      case Some(lock) =>
        val key = lock.toString
        val cur = Option(statsMap.get(key)).getOrElse(LockStats())
        val flushed = Option(flushedMap.get(key)).getOrElse(LockStats())
        plus(readSidecar(fs, lock), minus(cur, flushed))
    }

  /** Run `body` holding the dataset's write lock. */
  def withLock[T](fs: FileSystem, dataset: Path,
      ttlMs: Long = DefaultTtlMs,
      acquireTimeoutMs: Long = DefaultAcquireTimeoutMs)(body: => T): T =
    lockPath(dataset) match {
      case None => body
      case Some(lock) =>
        val token = acquire(fs, lock, ttlMs, acquireTimeoutMs)
        val hb = startHeartbeat(fs, lock, ttlMs, token)
        try body
        finally {
          hb.interrupt()
          try hb.join(2000) catch { case _: InterruptedException => Thread.currentThread().interrupt() }
          // flush BEFORE release: the lock still serializes the sidecar
          // read-modify-write against every other writer process
          flushStats(fs, lock)
          release(fs, lock, token)
        }
    }

  private def token(): String =
    s"${java.net.InetAddress.getLocalHost.getHostName}:" +
      s"${ProcessHandle.current().pid()}:${java.util.UUID.randomUUID()}"

  /** Atomic create-exclusive; true iff WE created the lock. */
  private def createExclusive(fs: FileSystem, lock: Path, tok: String): Boolean =
    if (fs.getUri.getScheme == "file") {
      // NIO CREATE_NEW is O_CREAT|O_EXCL — kernel-atomic. Hadoop's
      // RawLocalFileSystem.create(overwrite=false) is exists()-then-
      // create, which two threads pass simultaneously.
      val local = java.nio.file.Paths.get(lock.toUri.getPath)
      try {
        java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.write(local, tok.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW, java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      // separate the create from the token write: a write/close failure
      // AFTER a successful exclusive create must delete the just-created
      // file, or it sits ownerless (empty token, no heartbeat) and every
      // writer on the dataset spins for a full ttl before stealing it
      val created =
        try {
          fs.mkdirs(lock.getParent)
          Some(fs.create(lock, false))
        } catch { case _: IOException => None }
      created match {
        case None => false
        case Some(out) =>
          try {
            try out.write(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
            true
          } catch {
            case e: IOException =>
              try fs.delete(lock, false) catch { case _: IOException => () }
              false
          }
      }
    }

  private def acquire(fs: FileSystem, lock: Path, ttlMs: Long, timeoutMs: Long): String = {
    val tok = token()
    val start = System.currentTimeMillis()
    val deadline = start + timeoutMs
    var attempt = 0
    while (true) {
      if (createExclusive(fs, lock, tok)) {
        val waited = System.currentTimeMillis() - start
        record(lock)(s => s.copy(acquires = s.acquires + 1,
          contended = s.contended + (if (attempt > 0) 1 else 0),
          waitedMs = s.waitedMs + waited))
        return tok
      }
      // lock held — steal iff the holder stopped heartbeating for a ttl
      val mtime =
        try Some(fs.getFileStatus(lock).getModificationTime)
        catch { case _: FileNotFoundException => None } // released between tries
      mtime.foreach { m =>
        if (System.currentTimeMillis() - m > ttlMs) {
          // rename-first steal: atomic, exactly one stealer wins the
          // rename; the create-exclusive race that follows is fair
          val stale = new Path(lock.getParent, s"${lock.getName}.stale${System.nanoTime()}")
          try {
            if (fs.rename(lock, stale)) {
              fs.delete(stale, false)
              record(lock)(s => s.copy(steals = s.steals + 1))
            }
          }
          catch { case _: IOException => () } // lost the steal race — fine
        }
      }
      if (System.currentTimeMillis() >= deadline) {
        record(lock)(s => s.copy(timeouts = s.timeouts + 1,
          waitedMs = s.waitedMs + (System.currentTimeMillis() - start)))
        throw new IllegalStateException(
          s"graft: timed out after ${timeoutMs} ms waiting for dataset lock $lock " +
            s"(holder: ${readToken(fs, lock).getOrElse("<gone>")}); if the holder is dead, " +
            s"the lock self-expires ${ttlMs} ms after its last heartbeat")
      }
      attempt += 1
      // capped jittered backoff — contention is between a handful of
      // writers, not thousands; 25–250 ms keeps waiters responsive
      // without hammering the namenode
      val base = math.min(250L, 25L * attempt)
      Thread.sleep(base / 2 + java.util.concurrent.ThreadLocalRandom.current().nextLong(base / 2 + 1))
    }
    throw new IllegalStateException("unreachable")
  }

  private def readToken(fs: FileSystem, lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: IOException => None }

  private def release(fs: FileSystem, lock: Path, tok: String): Unit =
    try {
      // only delete OUR lock: after a TTL steal the file is the thief's
      if (readToken(fs, lock).contains(tok)) fs.delete(lock, false)
    } catch { case _: IOException => () }

  /** Daemon thread refreshing the lock's mtime every ttl/3 so a live
    * holder is never stolen from, however long its write job runs.
    * Refresh is VERIFIED: some FileSystem implementations make
    * setTimes a silent no-op (and a future connector could throw a
    * non-IOException) — either way an unrefreshed lock expires under a
    * working holder and a waiter steals it mid-write, the exact silent
    * row-loss this class exists to prevent. So each beat re-reads the
    * mtime and falls back to rewriting the lock content (we own the
    * file) when setTimes did not advance it; any error short of thread
    * death is swallowed and the next beat retries. */
  private def startHeartbeat(fs: FileSystem, lock: Path, ttlMs: Long, ourToken: String): Thread = {
    // token comes from the acquirer, never re-read from the FS: a
    // transient read failure must not masquerade as "lock lost"
    val tokBytes = ourToken.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val beatMs = math.max(200L, ttlMs / 3)
    val t = new Thread(() => {
      var running = true
      while (running && !Thread.currentThread().isInterrupted) {
        try {
          Thread.sleep(beatMs)
          val before = fs.getFileStatus(lock).getModificationTime
          val now = System.currentTimeMillis()
          try fs.setTimes(lock, now, -1) catch { case _: Throwable => () }
          val after =
            try fs.getFileStatus(lock).getModificationTime
            catch { case _: IOException => before }
          if (after <= before && now - after > beatMs) {
            // setTimes was a no-op on this FS — refresh by rewriting our
            // own bytes. Guard against clobbering a THIEF: a steal can
            // only happen once the mtime is older than the ttl, so while
            // the age we just observed is under the ttl no thief can
            // exist and the overwrite is safe. At or past the ttl we
            // were stealable — read the token instead: still ours
            // (definitively — a steal replaces the token) → refresh;
            // someone else's → stop beating; unreadable (transient) →
            // keep looping, the next beat retries. Residual window: an
            // extreme stall between this age check and the create could
            // still race a thief — the same irreducible window every
            // mtime-based lock-file scheme carries; the ttl (minutes)
            // dwarfs it by orders of magnitude.
            val age = now - after
            val stillOurs =
              if (age < ttlMs) true
              else readToken(fs, lock) match {
                case Some(tok) if tok == ourToken => true
                case Some(_) => running = false; false // stolen — stop
                case None => false // transient read failure — skip, retry next beat
              }
            if (running && stillOurs) {
              val out = fs.create(lock, true)
              try out.write(tokBytes) finally out.close()
              // shrink the residual dual-holder window to read-after-
              // write: a thief that completes its steal AFTER our
              // create shows up here as a foreign token — stop
              // claiming ownership and scream rather than beat over
              // it. (A thief that wrote BEFORE our create was just
              // clobbered and cannot be detected without conditional
              // ops — the irreducible sliver this path documents; on
              // the no-op-setTimes connectors where this fallback
              // runs, that sliver is create-to-read, not check-to-
              // create, after this change.)
              readToken(fs, lock) match {
                case Some(tok) if tok != ourToken =>
                  running = false
                  System.err.println(s"[graft] DatasetLock $lock: heartbeat " +
                    "overwrite raced a TTL steal — lock ceded to " +
                    s"$tok; this holder's write may conflict (dual-holder window)")
                case _ => () // ours, or transient read failure — next beat retries
              }
            }
          }
        } catch {
          case _: InterruptedException => running = false // released
          case _: Throwable => () // transient; next beat retries
        }
      }
    }, s"graft-lock-heartbeat-${lock.getName}")
    t.setDaemon(true)
    t.start()
    t
  }
}
