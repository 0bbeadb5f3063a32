package graft

import graft.store._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Writer-lock protocol (reference row-lock parity,
  * chunk_timeserie_store.py:786-813 — see WriterLock's scaladoc).
  */
class WriterLockSpec extends SparkSpec {

  private def freshPath(prefix: String): String = tmpDir(prefix)

  test("withLock: lock file exists while held, removed on release") {
    val p = freshPath("wl-basic")
    val lf = WriterLock.lockFile(p)
    WriterLock.withLock(p) {
      assert(Files.exists(lf), "lock file present while held")
      val content = new String(Files.readAllBytes(lf), "UTF-8")
      assert(content.contains("owner"), s"lock carries owner metadata: $content")
      assert(content.contains("token"), s"lock carries an acquisition token: $content")
    }
    assert(!Files.exists(lf), "lock file removed on release")
    assert(!WriterLock.isTracked(p), "in-process holder evicted after release (no leak)")
  }

  test("release never deletes a successor's lock (token-verified release)") {
    val p = freshPath("wl-token")
    val lf = WriterLock.lockFile(p)
    WriterLock.withLock(p) {
      // simulate a lease break during a long pause: someone replaced our
      // lock file with THEIR lock — our release must leave it in place
      Files.write(lf, """{"owner":"successor:1","token":"their-token"}""".getBytes("UTF-8"))
    }
    try {
      assert(Files.exists(lf), "successor's lock survives our release")
      assert(new String(Files.readAllBytes(lf), "UTF-8").contains("successor"),
        "successor's content untouched")
    } finally Files.deleteIfExists(lf)
  }

  test("withLock is reentrant on the holding thread") {
    val p = freshPath("wl-reent")
    var ran = false
    WriterLock.withLock(p) {
      WriterLock.withLock(p) { ran = true }
      // inner release must NOT drop the outer hold
      assert(Files.exists(WriterLock.lockFile(p)), "outer hold survives inner release")
    }
    assert(ran)
    assert(!Files.exists(WriterLock.lockFile(p)))
  }

  test("withLock releases on exception") {
    val p = freshPath("wl-exc")
    intercept[RuntimeException] {
      WriterLock.withLock(p) { throw new RuntimeException("boom") }
    }
    assert(!Files.exists(WriterLock.lockFile(p)), "lock released after body threw")
    // and the path is immediately acquirable again
    WriterLock.withLock(p, waitMs = 500) { () }
  }

  test("mutual exclusion across threads: critical sections never overlap") {
    val p = freshPath("wl-mutex")
    val inside = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(4)
    val done = new CountDownLatch(8)
    (1 to 8).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit =
          try WriterLock.withLock(p, waitMs = 30000) {
            val now = inside.incrementAndGet()
            maxSeen.updateAndGet(m => math.max(m, now))
            Thread.sleep(10)
            inside.decrementAndGet()
          } finally done.countDown()
      })
    }
    assert(done.await(60, TimeUnit.SECONDS), "all sections completed")
    pool.shutdown()
    assert(maxSeen.get() === 1, s"no two critical sections overlapped (max concurrent = ${maxSeen.get()})")
  }

  test("in-process contention times out with the holder named") {
    val p = freshPath("wl-timeout")
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new Thread(() => WriterLock.withLock(p) {
      held.countDown(); release.await(30, TimeUnit.SECONDS); ()
    }, "wl-holder")
    t.start()
    assert(held.await(10, TimeUnit.SECONDS))
    val e = intercept[WriterLock.LockTimeoutException] {
      WriterLock.withLock(p, waitMs = 200) { () }
    }
    assert(e.getMessage.contains("wl-holder"), e.getMessage)
    release.countDown(); t.join(10000)
  }

  test("foreign live lock file blocks acquisition; timeout names the holder") {
    val p = freshPath("wl-foreign")
    val lf = WriterLock.lockFile(p)
    Files.createDirectories(lf.getParent)
    Files.write(lf, """{"owner":"other-host:999"}""".getBytes("UTF-8"))
    try {
      val e = intercept[WriterLock.LockTimeoutException] {
        // staleMs large → the fresh foreign lock is live and must win
        WriterLock.withLock(p, waitMs = 300, staleMs = 60000) { () }
      }
      assert(e.getMessage.contains("other-host:999"), e.getMessage)
    } finally Files.deleteIfExists(lf)
  }

  test("stale foreign lock (dead heartbeat) is broken and acquisition proceeds") {
    val p = freshPath("wl-stale")
    val lf = WriterLock.lockFile(p)
    Files.createDirectories(lf.getParent)
    Files.write(lf, """{"owner":"crashed-writer:1"}""".getBytes("UTF-8"))
    Files.setLastModifiedTime(lf, FileTime.fromMillis(System.currentTimeMillis() - 10000))
    var ran = false
    WriterLock.withLock(p, waitMs = 5000, staleMs = 1000) { ran = true }
    assert(ran, "stale lock broken, body ran")
    assert(!Files.exists(lf))
  }

  test("concurrent ChunkStore writers serialize and lose no data") {
    val path = freshPath("wl-store")
    val st = new ChunkStore(spark, path,
      StructType(Seq(StructField("kind", StringType))),
      StoreConfig(freq = "1h", tz = "UTC"))
    val t0 = ldt("2024-01-01T00:00")
    import spark.implicits._
    def series(off: Int) = (0 until 24).map(h => (t0.plusHours(h), (off * 100 + h).toDouble))
      .toDF("ts", "value")
    val pool = Executors.newFixedThreadPool(4)
    val done = new CountDownLatch(4)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until 4).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try st.setTs(Map("kind" -> s"k$i"), series(i), update = true, now = t0)
          catch { case e: Throwable => failures.add(e) }
          finally done.countDown()
      })
    }
    assert(done.await(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"concurrent writers all succeeded: ${failures}")
    val back = st.load().filter(!org.apache.spark.sql.functions.col("is_deleted"))
    assert(back.count() === 4L * 24, "every writer's rows present")
    assert(!Files.exists(WriterLock.lockFile(path)), "lock released after the storm")
  }
}
