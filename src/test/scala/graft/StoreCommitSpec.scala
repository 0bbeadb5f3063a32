package graft

import graft.store._
import graft.sync.Sync
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The partition commit every store writes through ([[PartitionCommit]]):
  * a write leaves no persisted RDD behind, a commit that fails mid-job
  * leaves the store exactly as it was, a partition a rewrite empties
  * leaves the live set and then loses its directory, and a read racing
  * commits sees one whole generation.
  */
class StoreCommitSpec extends SparkSpec {
  import spark.implicits._

  private val keySchema = StructType(Seq(
    StructField("version", IntegerType), StructField("kind", StringType)))
  private val a = Map[String, Any]("version" -> 0, "kind" -> "a")
  private val now0 = ldt("2024-06-01T00:00")

  private def hourly(start: String, hours: Int, v: Double): DataFrame = {
    val t0 = java.time.LocalDateTime.parse(start)
    (0 until hours).map(i => (t0.plusHours(i), v)).toDF("ts", "value")
  }

  private def chunkStore(sync: Boolean = false): ChunkStore =
    new ChunkStore(spark, tmpDir("commit"), keySchema,
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis, syncEnabled = sync))

  /** Persisted RDDs `write` left registered: new ids in the context's
    * persistent-RDD map (ids, not the count, so a GC-driven cleanup of
    * an older RDD during the write cannot mask a leak).
    */
  private def leftPersisted(write: => Any): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    write
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  /** Every file under `root` with its size and mtime. */
  private def snapshot(root: String): Set[(String, Long, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      val files = walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      files.map(p => (base.relativize(p).toString, p.toFile.length(), p.toFile.lastModified())).toSet
    } finally walk.close()
  }

  /** Names beside the store root other than the store and its lock file. */
  private def strangers(root: String): Seq[String] = {
    val store = new java.io.File(root)
    store.getParentFile.listFiles().map(_.getName).toSeq
      .filterNot(Set(store.getName, store.getName + "__lock"))
  }

  test("readers racing two-partition commits never fail and see one generation each") {
    val st = chunkStore()
    // one series over the Jan and Feb chunks; commit g stamps every point g
    def stamped(g: Int) = hourly("2024-01-31T00:00", 48, g.toDouble)
      .withColumn("version", lit(0)).withColumn("kind", lit("a"))
    st.upsertManyTs(stamped(0), now = now0)
    val specs = st.load().select("version", "kind", "chunk_index").distinct().collect().toSeq
    assert(specs.length === 2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Set[Double])]()
    @volatile var writing = true
    val reader = new Thread(() =>
      while (writing) {
        try {
          val got = st.getTs(a).collect().map(_.getDouble(1))
          reads.add(("getTs", got.length.toLong, got.toSet))
          reads.add(("load", st.load().count(), Set.empty[Double]))
          val exported = Sync.exportChunks(st, specs).collect().map(_.getAs[Double]("value"))
          reads.add(("exportChunks", exported.length.toLong, exported.toSet))
        } catch { case e: Throwable => errors.add(e) }
      })
    reader.start()
    try for (g <- 1 to 12) st.upsertManyTs(stamped(g), now = now0.plusHours(g))
    finally { writing = false; reader.join() }
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty, s"${errors.size} reads failed, first: ${errors.asScala.headOption}")
    assert(reads.asScala.exists(_._1 == "getTs"))
    val torn = reads.asScala.filter { case (_, n, stamps) => n != 48 || stamps.size > 1 }
    assert(torn.isEmpty, s"reads across generations: ${torn.take(5)}")
    assert(st.getTs(a).collect().map(_.getDouble(1)).toSet === Set(12.0))
  }

  test("TimeseriesStore.setTs(update) releases its checkpoint") {
    val st = new TimeseriesStore(spark, tmpDir("commit"), keySchema)
    assert(st.setTs(a, hourly("2024-01-01T00:00", 6, 1.0)))
    assert(leftPersisted(st.setTs(a, hourly("2024-01-01T03:00", 6, 2.0), update = true)).isEmpty)
    assert(st.getTsFlat(a).count() === 9)
  }

  test("TimeseriesStore.setManyTs on an existing store releases its checkpoint") {
    val st = new TimeseriesStore(spark, tmpDir("commit"), keySchema)
    assert(st.setTs(a, hourly("2024-01-01T00:00", 6, 1.0)))
    val many = hourly("2024-01-01T00:00", 4, 3.0).withColumn("version", lit(0))
      .withColumn("kind", lit("b"))
    assert(leftPersisted(st.setManyTs(many)).isEmpty)
    assert(st.getTs(Map("kind" -> "b")).count() === 4)
  }

  test("ChunkStore.upsertManyTs releases its checkpoint") {
    val st = chunkStore()
    st.setTs(a, hourly("2024-01-30T00:00", 48, 1.0), now = now0)
    val rows = hourly("2024-01-31T00:00", 4, 5.0).withColumn("version", lit(0))
      .withColumn("kind", lit("a"))
    assert(leftPersisted(st.upsertManyTs(rows, now = now0.plusHours(1))).isEmpty)
    assert(st.getTs(a).filter(col("value") === 5.0).count() === 4)
  }

  test("ChunkStore.delete(keepTracking = false) releases its checkpoint") {
    val st = chunkStore()
    st.setTs(a, hourly("2024-01-30T00:00", 48, 1.0), now = now0)
    assert(leftPersisted(st.delete(Map("kind" -> "a"), keepTracking = false, now = now0)).isEmpty)
    assert(st.load().count() === 0)
  }

  test("VersionedStore.setLc non-versioned upsert releases its checkpoint") {
    val st = new VersionedStore(spark, tmpDir("commit"))
    assert(st.setLc("p", 1, hourly("2024-01-01T00:00", 3, 1.0)))
    assert(leftPersisted(st.setLc("p", 1, hourly("2024-01-01T00:00", 3, 9.0))).isEmpty)
    assert(st.getLc("p", 1).collect().map(_.getAs[Double]("value")).toSeq === Seq(9.0, 9.0, 9.0))
  }

  test("Sync.pull releases its staged listing") {
    val server = chunkStore(sync = true); val client = chunkStore(sync = true)
    server.setTs(a, hourly("2024-01-15T00:00", 24 * 20, 1.0), update = true, now = now0)
    assert(leftPersisted(Sync.pull(client, server, pageSize = 1)).isEmpty)
    assert(client.yieldManyTs().count() === server.yieldManyTs().count())
  }

  test("import_chunks failing mid-commit leaves the client store untouched") {
    val client = chunkStore(sync = true)
    client.setTs(a, hourly("2024-01-15T00:00", 24 * 20, 1.0), update = true, now = now0) // Jan+Feb
    val files = snapshot(client.path)
    val rows = client.load().collect().toSet
    // 48 rows over the Jan/Feb chunks, series a (stored) and b (new); the
    // 40th value raises. A range source keeps the failure at run time (a
    // local relation would be folded by the optimizer) and only the
    // commit's checkpoint job reads `value`.
    val ts = (lit(ldt("2024-01-31T00:00")) +
      make_dt_interval(lit(0), col("id").cast("int"), lit(0), lit(0))).cast(TimestampNTZType)
    val batch = spark.range(48).select(
      lit(0).as("version"),
      when(col("id") % 2 === 0, "a").otherwise("b").as("kind"),
      (year(ts) * 12 + month(ts) - 1).as("chunk_index"),
      ts.as("ts"),
      when(col("id") === 40, raise_error(lit("injected failure")))
        .otherwise(col("id").cast(DoubleType)).as("value"),
      lit("double").as("dtype"),
      lit(false).as("is_deleted"),
      lit(now0.plusHours(1)).as("updated_at"))
    val e = intercept[Exception](Sync.importChunks(client, batch))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected failure")))
    assert(snapshot(client.path) === files)
    assert(client.load().collect().toSet === rows)
    assert(strangers(client.path).isEmpty)
  }

  test("a commit whose manifest publish fails deletes the files it moved") {
    val st = chunkStore()
    st.setTs(a, hourly("2024-01-15T00:00", 24 * 20, 1.0), update = true, now = now0) // Jan+Feb
    val files = snapshot(st.path)
    val rows = st.load().collect().toSet
    // a directory where the publish writes its temporary manifest
    val planted = new java.io.File(st.path, "_manifest.tmp")
    assert(planted.mkdir())
    intercept[java.io.IOException](st.setTs(Map("version" -> 0, "kind" -> "b"), hourly("2024-03-01T00:00", 3, 2.0),
      now = now0.plusHours(1)))
    assert(snapshot(st.path) === files)
    assert(st.load().collect().toSet === rows)
    assert(!new java.io.File(st.path, s"chunk_index=${2024 * 12 + 2}").exists())
    planted.delete()
    assert(st.setTs(Map("version" -> 0, "kind" -> "b"), hourly("2024-03-01T00:00", 3, 2.0), now = now0.plusHours(1)))
    val onDisk = snapshot(st.path).map(_._1).filter(_.endsWith(".parquet"))
    assert(onDisk === PartitionCommit.liveFiles(st.path).toSet)
  }

  test("a commit after a killed one deletes the data files that commit moved but never published") {
    val st = chunkStore()
    st.setTs(a, hourly("2024-01-15T00:00", 24 * 20, 1.0), update = true, now = now0) // Jan+Feb
    val rows = st.load().collect().toSet
    val jan = PartitionCommit.liveFiles(st.path).find(_.startsWith(s"chunk_index=${2024 * 12}/")).get
    // what a writer killed between its file moves and its manifest publish
    // leaves: its `_txn-*` directory, and unlisted data files with their
    // checksums in a live partition and in a partition of their own
    val orphans = Seq(s"chunk_index=${2024 * 12}/part-00000-orphan.c000.snappy.parquet",
      s"chunk_index=${2024 * 12 + 5}/part-00000-orphan.c000.snappy.parquet")
    for (o <- orphans) {
      val f = new java.io.File(st.path, o)
      f.getParentFile.mkdirs()
      java.nio.file.Files.copy(new java.io.File(st.path, jan).toPath, f.toPath)
      java.nio.file.Files.write(new java.io.File(f.getParentFile, s".${f.getName}.crc").toPath, Array[Byte](1))
    }
    assert(new java.io.File(st.path, "_txn-x/chunk_index=1").mkdirs())
    assert(st.load().collect().toSet === rows) // no read sees them
    val b = Map[String, Any]("version" -> 0, "kind" -> "b")
    st.setTs(b, hourly("2024-03-01T00:00", 3, 2.0), now = now0.plusHours(1))
    for (o <- orphans) {
      val f = new java.io.File(st.path, o)
      assert(!f.exists() && !new java.io.File(f.getParentFile, s".${f.getName}.crc").exists(), o)
    }
    assert(!new java.io.File(st.path, s"chunk_index=${2024 * 12 + 5}").exists())
    assert(!new java.io.File(st.path, "_txn-x").exists())
    assert(st.load().filter(col("kind") === "a").collect().toSet === rows)
    assert(st.getTs(b).count() === 3)
    val onDisk = snapshot(st.path).map(_._1).filter(_.endsWith(".parquet"))
    assert(onDisk === PartitionCommit.liveFiles(st.path).toSet)
  }

  test("a failed commit on a bucket-partitioned VersionedStore changes nothing") {
    val dir = tmpDir("commit")
    val st = new VersionedStore(spark, dir, numBuckets = 8)
    val pa = "p1"
    val pb = (2 to 100).map("p" + _).find(p => st.bucketOf(p) != st.bucketOf(pa)).get
    st.setLc(pa, 1, hourly("2024-01-01T00:00", 6, 1.0))
    st.setLc(pb, 1, hourly("2024-01-01T00:00", 6, 2.0))
    val files = snapshot(dir)
    val rows = st.load().collect().toSet
    val b = st.bucketOf(pa)
    val content = st.load().filter(col("bucket") === b)
      .withColumn("value", when(col("ts") === lit(ldt("2024-01-01T03:00")),
        raise_error(lit("injected failure"))).otherwise(col("value")))
    intercept[Exception](PartitionCommit.commit(st.layout, Some(content), Seq(Seq(b))))
    assert(snapshot(dir) === files)
    assert(st.load().collect().toSet === rows)
    assert(strangers(dir).isEmpty)
  }

  test("VersionedStore.clear emptying a bucket removes its directory") {
    val dir = tmpDir("commit")
    val st = new VersionedStore(spark, dir, numBuckets = 8)
    val pa = "p1"
    val pb = (2 to 100).map("p" + _).find(p => st.bucketOf(p) != st.bucketOf(pa)).get
    st.setLc(pa, 1, hourly("2024-01-01T00:00", 3, 1.0), versioning = true)
    st.setLc(pa, 1, hourly("2024-01-01T00:00", 3, 2.0), versioning = true)
    st.setLc(pb, 1, hourly("2024-01-01T00:00", 3, 3.0))
    st.clear(1, prms = Some(Seq(pa)))
    assert(liveFiles(dir).keySet === Set(s"bucket=${st.bucketOf(pb)}"))
    assert(st.count(1) === 1)
    // the retired files stay for one commit; the next one removes the directory
    st.setLc(pb, 1, hourly("2024-01-01T00:00", 3, 4.0), versioning = true)
    assert(!new java.io.File(dir, s"bucket=${st.bucketOf(pa)}").exists())
    assert(new java.io.File(dir, s"bucket=${st.bucketOf(pb)}").isDirectory)
  }
}
