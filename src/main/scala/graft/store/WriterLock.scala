package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}

/** Advisory writer lock for a store directory — the Spark-side analogue of
  * the reference's transactional row lock around read-modify-write upserts
  * (`select_for_update` inside `transaction.atomic`,
  * chunk_timeserie_store.py:786-813). The reference locks per chunk row
  * because Postgres serializes the combine-first merge for it; here every
  * mutator publishes a new manifest for the whole store
  * ([[PartitionCommit]]: fresh files, then one atomic manifest swap), so
  * the unit of exclusion is the store: one writer at a time per store
  * path, readers never blocked. A reader sees one commit, and a frame
  * stays valid through one later commit.
  *
  * Two layers, both reentrant per thread:
  *  - in-process: a per-path monitor serializes writer threads sharing the
  *    JVM (the common Spark-driver case — concurrent foreachBatch sinks or
  *    user threads over one store). The monitor is held only for state
  *    transitions, never across file I/O, so every waiter's own `waitMs`
  *    deadline is honored.
  *  - inter-process: an exclusive lock FILE at `<store>__lock` (sibling of
  *    the store root, so a commit never touches it).
  *    `Files.createFile` is atomic create-no-overwrite on POSIX and HDFS.
  *    The file carries a per-acquisition random TOKEN; heartbeat and
  *    release verify the token before touching/deleting, so a holder
  *    whose lease was broken (long GC pause) can never destroy the next
  *    holder's lock.
  *
  * Lease protocol: a heartbeat (dedicated daemon thread per held lease —
  * one slow filesystem cannot starve another store's heartbeat) touches
  * the lock's mtime every `staleMs/3`. A lock is presumed orphaned
  * (holder crashed between acquire and release) only after a contender
  * OBSERVES the mtime unchanged for `staleMs` on its own monotonic clock —
  * never by comparing the holder's wall-clock stamp against the local
  * clock, so cross-host clock skew cannot break a live lease. Orphans are
  * broken via an atomic single-winner rename. Consequence: orphan
  * recovery needs `waitMs > staleMs` (the defaults allow it).
  *
  * At cluster scale the lock lives where the driver runs, against
  * driver-visible storage: POSIX or NFS-consistent mounts and HDFS give
  * atomic create/rename. Plain S3 needs conditional PUT (If-None-Match)
  * instead of create-exclusive — swap `acquireFile`/`breakIfStale` for an
  * object-store conditional-write pair if the store root is s3a://; the
  * in-process layer and the lease protocol are unchanged.
  *
  * Failure behavior: acquisition that cannot win within `waitMs` throws
  * [[WriterLock.LockTimeoutException]] naming the current holder — callers
  * decide whether to retry; nothing is ever silently skipped.
  */
object WriterLock {

  final class LockTimeoutException(msg: String) extends RuntimeException(msg)

  /** In-process holder state for one canonical store path. All fields are
    * guarded by the Holder's own monitor.
    */
  private final class Holder {
    var thread: Thread = _
    var depth: Int = 0
    var waiters: Int = 0
    var token: String = _
    var heartbeat: ScheduledExecutorService = _
  }

  private val holders = new ConcurrentHashMap[String, Holder]()

  /** (mtimeMillis, firstSeenNanos) per contended lock file: the monotonic
    * observation window behind skew-proof staleness. Entries exist only
    * while a local contender is polling; cleared on win/break.
    */
  private val observations = new ConcurrentHashMap[String, (Long, Long)]()

  /** The lock file is a SIBLING of the store root (`<path>__lock`): the
    * mutators' commits move files and drop emptied directories inside the
    * root, and a wiped store (clear-all) must not take the lock with it.
    */
  def lockFile(storePath: String): Path = canonical(storePath).resolveSibling(
    canonical(storePath).getFileName.toString + "__lock")

  /** Whether this JVM currently tracks in-process state for the path
    * (test observability for holder eviction).
    */
  private[graft] def isTracked(storePath: String): Boolean =
    holders.containsKey(canonical(storePath).toString)

  private def canonical(storePath: String): Path =
    Paths.get(storePath).toAbsolutePath.normalize

  private def defaultOwner: String =
    s"${java.net.InetAddress.getLocalHost.getHostName}:${ProcessHandle.current().pid()}"

  /** Run `f` holding the store's writer lock. Reentrant: a thread already
    * holding the lock enters immediately (public mutators compose —
    * `compactIfNeeded` runs `compact`).
    */
  def withLock[T](
      storePath: String,
      owner: String = defaultOwner,
      waitMs: Long = 120000L,
      staleMs: Long = 30000L)(f: => T): T = {
    val key = canonical(storePath).toString
    val me = Thread.currentThread()
    val deadline = System.nanoTime() + waitMs * 1000000L

    // ---- phase 1: in-process claim (monitor held only while waiting on
    // OTHER LOCAL THREADS, never across file I/O) ----------------------
    var h: Holder = null
    var reentrant = false
    var claimed = false
    while (!claimed) {
      h = holders.computeIfAbsent(key, _ => new Holder)
      h.synchronized {
        if (holders.get(key) eq h) { // not evicted under us — else retry
          if (h.thread eq me) { h.depth += 1; reentrant = true; claimed = true }
          else {
            h.waiters += 1
            try {
              while (h.thread != null) {
                val leftMs = (deadline - System.nanoTime()) / 1000000L
                if (leftMs <= 0)
                  throw new LockTimeoutException(
                    s"writer lock on $storePath held in-process by thread ${h.thread.getName}")
                h.wait(math.max(1L, leftMs))
              }
              h.thread = me
              h.depth = 1
              claimed = true
            } finally {
              h.waiters -= 1
              maybeEvict(key, h)
            }
          }
        }
      }
    }

    // ---- phase 2: inter-process file acquisition, OUTSIDE the monitor
    // (this thread is the sole local claimant; contention is only with
    // other processes) --------------------------------------------------
    if (!reentrant) {
      val token =
        try acquireFile(key, owner, deadline, staleMs)
        catch {
          case e: Throwable =>
            h.synchronized { h.thread = null; h.depth = 0; h.notifyAll(); maybeEvict(key, h) }
            throw e
        }
      val hb = Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, s"graft-writer-lock-heartbeat-${canonical(key).getFileName}")
        t.setDaemon(true)
        t
      }
      val period = math.max(1L, staleMs / 3)
      hb.scheduleAtFixedRate(() => touchIfOwned(lockFile(key), token), period, period,
        TimeUnit.MILLISECONDS)
      h.synchronized { h.token = token; h.heartbeat = hb }
    }

    try f
    finally h.synchronized {
      h.depth -= 1
      if (h.depth == 0) {
        if (h.heartbeat != null) { h.heartbeat.shutdownNow(); h.heartbeat = null }
        releaseFileIfOwned(lockFile(key), h.token)
        h.token = null
        h.thread = null
        h.notifyAll()
        maybeEvict(key, h)
      }
    }
  }

  /** Drop the Holder from the map once nothing references it — a
    * long-lived driver writing per-day/per-tenant store paths must not
    * leak one Holder per path forever. Callers hold h's monitor.
    */
  private def maybeEvict(key: String, h: Holder): Unit =
    if (h.thread == null && h.waiters == 0) holders.remove(key, h)

  /** Acquire the lock file; returns the acquisition token written into it. */
  private def acquireFile(key: String, owner: String, deadlineNanos: Long, staleMs: Long): String = {
    val lp = lockFile(key)
    if (lp.getParent != null) Files.createDirectories(lp.getParent)
    val token = java.util.UUID.randomUUID().toString
    var backoffMs = 5L
    while (true) {
      var created = false
      try {
        Files.createFile(lp) // atomic create-no-overwrite: single winner
        created = true
        Files.write(lp, s"""{"owner":"$owner","token":"$token","acquired_ms":${System.currentTimeMillis()}}"""
          .getBytes(UTF_8))
        observations.remove(lp.toString)
        return token
      } catch {
        case _: FileAlreadyExistsException =>
          breakIfStale(lp, staleMs)
          if (System.nanoTime() > deadlineNanos) {
            val holder =
              try new String(Files.readAllBytes(lp), UTF_8)
              catch { case _: Exception => "<released concurrently>" }
            throw new LockTimeoutException(
              s"timed out acquiring writer lock $lp; current holder: $holder")
          }
          Thread.sleep(math.min(backoffMs, 200L))
          backoffMs *= 2
        case e: Throwable =>
          // create succeeded but the owner write failed (disk full,
          // interrupt): an ownerless lock file would block every writer
          // until the stale-break — remove it before rethrowing
          if (created) Files.deleteIfExists(lp)
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Break an orphaned lock. Staleness is judged on THIS process's
    * monotonic clock: the mtime must be observed unchanged for `staleMs`
    * (a live holder's heartbeat touches every staleMs/3). No comparison
    * of remote wall-clock stamps — skew cannot break a live lease.
    * Rename-then-delete so exactly one breaker wins: the loser's move
    * throws NoSuchFileException and it just retries the create.
    */
  private def breakIfStale(lp: Path, staleMs: Long): Unit =
    try {
      val mtime = Files.getLastModifiedTime(lp).toMillis
      val now = System.nanoTime()
      val obs = observations.compute(lp.toString,
        (_, prev) => if (prev == null || prev._1 != mtime) (mtime, now) else prev)
      if (obs._1 == mtime && (now - obs._2) / 1000000L > staleMs) {
        val tomb = lp.resolveSibling(
          lp.getFileName.toString + ".broken-" + java.util.UUID.randomUUID().toString.take(8))
        Files.move(lp, tomb)
        Files.deleteIfExists(tomb)
        observations.remove(lp.toString)
      }
    } catch {
      case _: NoSuchFileException              => observations.remove(lp.toString)
      case _: java.nio.file.FileSystemException => ()
    }

  /** Heartbeat: refresh the lease ONLY while the file still carries our
    * token — once broken, the new holder's lock must not be touched.
    */
  private def touchIfOwned(lp: Path, token: String): Unit =
    try {
      if (new String(Files.readAllBytes(lp), UTF_8).contains(token))
        Files.setLastModifiedTime(lp, FileTime.fromMillis(System.currentTimeMillis()))
    } catch { case _: Exception => () } // released/broken mid-beat — harmless

  /** Release: delete ONLY a lock file that still carries our token. A
    * holder whose lease was stale-broken during a long pause must not
    * delete the successor's lock (that would admit a third writer).
    */
  private def releaseFileIfOwned(lp: Path, token: String): Unit =
    try {
      if (token != null && new String(Files.readAllBytes(lp), UTF_8).contains(token))
        Files.deleteIfExists(lp)
    } catch { case _: Exception => () } // best-effort; lease expiry reclaims
}
