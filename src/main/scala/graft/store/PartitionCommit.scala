package graft.store

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one place that knows how a store reads, lists and rewrites its
  * partition directories — the Parquet stand-in for the reference's DB
  * transaction (SURVEY.md §7.4(4)). ChunkStore, VersionedStore,
  * TimeseriesStore and `Sync.importChunks` all commit through it.
  *
  * A commit is `localCheckpoint` → dynamic partition overwrite →
  * release of the checkpoint blocks. The checkpoint cuts the content's
  * lineage from the store files it was computed from (Spark refuses to
  * overwrite a path the write plan reads) with one in-memory
  * materialization and no on-disk copy, so each affected partition is
  * written once. Crash safety: the
  * dynamic overwrite swaps partition contents only at JOB COMMIT (tasks
  * write under a hidden `.spark-staging` dir), so a failure anywhere
  * before it — bad input, lost checkpoint blocks — leaves the store as it
  * was, for a retry from source data. The swap is per partition
  * directory, not atomic across partitions; the [[WriterLock]] keeps
  * writers apart.
  */
private[graft] object PartitionCommit {

  /** Where a store lives and how its rows are laid out on disk. */
  final case class Layout(path: String, partitionBy: Seq[String], sortBy: Seq[String])

  /** Current store content; an empty frame with `schema` when the store
    * has never been written.
    */
  def load(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (new java.io.File(path).exists()) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Partition directories under the store root; `_`/`.` entries are
    * Spark metadata and in-flight commits, not data.
    */
  private def partitionDirs(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && !d.getName.startsWith("_") && !d.getName.startsWith("."))

  /** Whether the store holds any partition at all — one directory
    * listing, so a fresh store can skip its existence probe jobs.
    */
  def hasPartitions(path: String): Boolean = partitionDirs(path).nonEmpty

  /** Values of the integer partition column `column` present on disk,
    * from a directory listing — free relative to any scan (the same
    * listing the parquet reader does for partition discovery; on a real
    * lakehouse it is one namenode/object-store LIST).
    */
  def partitions(path: String, column: String): Seq[Int] =
    partitionDirs(path).collect {
      case d if d.getName.startsWith(s"$column=") => d.getName.stripPrefix(s"$column=").toInt
    }

  private def filesOf(path: String, column: String, p: Int): Seq[java.io.File] =
    Option(new java.io.File(path, s"$column=$p").listFiles()).toSeq.flatten

  /** The partitions holding more than `maxFiles` parquet files — the
    * compaction policy's input, from the same listing (no data scan).
    */
  def crowdedPartitions(path: String, column: String, maxFiles: Int): Seq[Int] =
    partitions(path, column).filter(p =>
      filesOf(path, column, p).count(_.getName.endsWith(".parquet")) > maxFiles)

  /** The files a scan of the partitions `keep` selects reads, from the
    * same listing: every entry but Spark's hidden `_`/`.` names (metadata,
    * checksums, in-flight writes).
    */
  def dataFiles(path: String, column: String, keep: Int => Boolean): Seq[java.io.File] =
    partitions(path, column).filter(keep).flatMap(filesOf(path, column, _))
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Partition-shaped and row-ordered for the store layout: hash on the
    * partition columns, sorted within partitions by the partition columns
    * then the store's sort columns — the ordering the V1 writer requires,
    * so it adds no sort of its own. Applied BEFORE any checkpoint so the
    * shuffle rides the materialization job.
    */
  def prepare(layout: Layout, content: DataFrame): DataFrame =
    content
      .repartition(layout.partitionBy.map(col): _*)
      .sortWithinPartitions((layout.partitionBy ++ layout.sortBy).map(col): _*)

  /** Dynamic partition overwrite of a prepared frame: only the partitions
    * present in it are replaced. The _SUCCESS marker is suppressed — one
    * fewer file create per commit, and nothing reads it (the stores' own
    * reads are schema'd parquet scans). Append mode was measured slower
    * (it re-resolves the existing path as a datasource: listing + footer
    * reads).
    */
  def overwrite(layout: Layout, prepared: DataFrame): Unit =
    prepared.write.mode(SaveMode.Overwrite)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(layout.partitionBy: _*)
      .parquet(layout.path)

  /** Materialize `prepared` once (observations on it ride this job), run
    * `use` against the checkpoint, then release its blocks — whether
    * `use` wrote, skipped or threw.
    */
  def checkpointed[T](prepared: DataFrame)(use: DataFrame => T): T = {
    val staged = prepared.localCheckpoint()
    try use(staged)
    finally staged.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Rewrite the named partitions of a single-partition-column store with
    * `content`. A named partition the content no longer holds (hard
    * delete, clear) has its directory dropped — dynamic overwrite never
    * touches a partition with zero rows. Which partitions the content
    * holds comes from an observation on the checkpoint job, and the drain
    * runs only after the overwrite committed, so a failed write changes
    * nothing.
    */
  def commit(layout: Layout, content: DataFrame, partitions: Seq[Int]): Unit = {
    val Seq(column) = layout.partitionBy
    if (partitions.nonEmpty) {
      val held = Observation()
      checkpointed(prepare(layout, content).observe(held, collect_set(col(column)).as("p"))) { staged =>
        val present = Option(held.get("p"))
          .fold(Set.empty[Int])(_.asInstanceOf[scala.collection.Seq[Int]].toSet)
        if (present.nonEmpty) overwrite(layout, staged)
        partitions.filterNot(present).foreach(p =>
          deleteRecursively(new java.io.File(layout.path, s"$column=$p")))
      }
    }
  }

  /** Small-file compaction of a single-partition-column store, under its
    * writer lock: rewrite `parts` (default: every partition on disk) with
    * their own rows from `stored`, so each comes out as one sorted file
    * instead of one file per historical write. Readers see the same rows.
    * Returns the partitions rewritten.
    */
  def compact(layout: Layout, stored: => DataFrame, parts: Option[Seq[Int]]): Seq[Int] =
    WriterLock.withLock(layout.path) {
      val Seq(column) = layout.partitionBy
      val ps = parts.getOrElse(partitions(layout.path, column))
      commit(layout, stored.filter(col(column).isin(ps: _*)), ps)
      ps
    }

  /** [[compact]] of only the partitions holding more than `maxFiles`
    * parquet files, from a directory listing: no data scan for partitions
    * already compact.
    */
  def compactCrowded(layout: Layout, stored: => DataFrame, maxFiles: Int): Seq[Int] =
    WriterLock.withLock(layout.path) {
      require(maxFiles >= 1, "max files per partition must be >= 1")
      compact(layout, stored, Some(crowdedPartitions(layout.path, layout.partitionBy.head, maxFiles)))
    }
}
