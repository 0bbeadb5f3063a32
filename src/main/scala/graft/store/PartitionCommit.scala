package graft.store

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.commons.io.FileUtils.deleteQuietly
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{DEFAULT_PARTITION_NAME, getPartitionPathString, unescapePathName}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, BinaryComparison, BindReferences, Cast,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, OptimizeIn}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.{StringType, StructType, TimestampNTZType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one place that knows how a store's files become its content — the
  * Parquet stand-in for the reference's DB transaction (SURVEY.md
  * §7.4(4): staged write + atomic rename per store commit). ChunkStore,
  * VersionedStore, TimeseriesStore and `Sync.importChunks` all write
  * through [[commit]] and read through [[load]].
  *
  * Snapshot rule: a read sees one commit, and a frame stays valid through
  * one later commit. A store's content is the set of data files its
  * `_manifest` lists as live; the manifest is replaced whole by an atomic
  * rename, so a reader resolves it once and scans exactly one
  * generation's files. A commit writes its content into a fresh hidden
  * `_txn-<id>` directory, moves the new files into their partition
  * directories (Spark's file names are unique per job), then publishes
  * the new manifest: the old live files outside the replaced partitions,
  * plus the new files. A file a commit retires stays on disk until the
  * next commit has published its own manifest, so a read planned against
  * generation g finds its files while generation g+1 is written and
  * published; retention is counted in commits, never in wall time. A write
  * never overwrites a path its own plan reads, so the content needs no
  * materialization first, and a commit that fails before its manifest is
  * in place leaves the store as it was. The log-based snapshot commit of
  * Delta Lake (Armbrust et al., VLDB 2020) is the precedent. The
  * [[WriterLock]] keeps writers apart.
  *
  * A store without a manifest (written before manifests, or never) is
  * read from a listing of its partition directories; its first commit
  * adopts that listing as the old live set.
  */
private[graft] object PartitionCommit {

  /** Where a store lives and how its rows, of `schema`, are laid out on
    * disk.
    */
  final case class Layout(path: String, schema: StructType, partitionBy: Seq[String], sortBy: Seq[String])

  /** One generation: the data files a read scans, and the files the commit
    * that published it took out of the live set — both relative to the
    * store root.
    */
  private final case class Manifest(live: Seq[String], retired: Seq[String])

  private val ManifestName = "_manifest"

  /** The store's current generation, from one read of its manifest, or
    * from a listing when it has none.
    */
  private def current(path: String): Manifest = {
    val m = new File(path, ManifestName).toPath
    if (!Files.isRegularFile(m)) Manifest(listed(new File(path), ""), Nil)
    else Files.readAllLines(m).asScala.toSeq.partition(_.startsWith("+ ")) match {
      case (live, retired) => Manifest(live.map(_.drop(2)), retired.map(_.drop(2)))
    }
  }

  /** Every file under `dir` but Spark's hidden `_`/`.` names (metadata,
    * checksums, in-flight commits), relative to `dir`, prefixed.
    */
  private def listed(dir: File, prefix: String): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.filterNot(f => "_.".contains(f.getName.head)).sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) listed(f, s"$prefix${f.getName}/") else Seq(prefix + f.getName)
    }

  /** The partition directory of a store-relative file path. */
  private def partitionOf(file: String): String = file.substring(0, math.max(file.lastIndexOf('/'), 0))

  /** The partition directory of a tuple of partition values: each cast to
    * its column's type, then named and escaped as Spark's writer names it,
    * so a value of any type finds the directory its rows were written to.
    */
  def partitionDir(layout: Layout, values: Seq[Any]): String = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    layout.partitionBy.zip(values).map { case (c, v) =>
      val text = Cast(Cast(Literal(v), layout.schema(c).dataType, tz), StringType, tz).eval()
      getPartitionPathString(c, Option(text).map(_.toString).orNull)
    }.mkString("/")
  }

  /** The data files of the store's current generation, relative to its
    * root: what [[load]] scans.
    */
  def liveFiles(path: String): Seq[String] = current(path).live

  /** The partition directories holding a live file, from the manifest:
    * a [[partitionDir]] among them has content.
    */
  def liveDirs(path: String): Set[String] = liveFiles(path).map(partitionOf).toSet

  /** The store content made of `files`, a generation's [[liveFiles]]
    * (none: an empty frame with `schema`). The scan's file index takes the
    * list as the listing of the store root — no directory listing, and no
    * Spark listing job however many files there are — so the partition
    * columns are inferred, and prune, as in a directory read.
    */
  def load(spark: SparkSession, path: String, schema: StructType, files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val root = new Path("file:" + new File(path).getAbsolutePath)
      val statuses = files.map { rel =>
        val f = new File(path, rel)
        new FileStatus(f.length(), false, 1, 0L, f.lastModified(), new Path(root, rel))
      }.toArray
      val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema)) {
        override def listLeafFiles(paths: Seq[Path]): mutable.LinkedHashSet[FileStatus] =
          mutable.LinkedHashSet(statuses: _*) // the listing of the root is the file list
      }
      val data = StructType(schema.filterNot(f => index.partitionSchema.fieldNames.contains(f.name))).toNullable
      spark.baseRelationToDataFrame(
        HadoopFsRelation(index, index.partitionSchema, data, None, new ParquetFileFormat, Map.empty)(spark))
    }

  /** What [[read]] found: the store-relative files it opened, the Parquet
    * filter it pushed into their readers, the rows those readers returned
    * after row-group and page skipping, and the rows the predicate kept,
    * over `schema` (the data columns, then the partition columns: the
    * order [[load]] gives them).
    */
  final case class Read(schema: StructType, files: Seq[String], pushed: Option[FilterPredicate],
      returned: Long, rows: Seq[InternalRow])

  /** The rows of the store content made of `files` (a generation's
    * [[liveFiles]]) that `pred` keeps, read on the driver by Spark's
    * vectorized Parquet reader: no Spark job, and every row kept is held
    * in driver memory, so the caller bounds the read. `pred` is analyzed
    * once over the layout's schema, its constants folded and its literal
    * `IN` lists turned into hash-set lookups by Spark's own optimizer rules
    * (above `spark.sql.optimizer.inSetConversionThreshold` values), and it
    * is evaluated by Catalyst on every row read. Its conjuncts on
    * the partition columns alone select the files, so a file they reject is
    * never opened; its other conjuncts that translate to Parquet filters
    * are pushed into each reader, so row-group and page statistics skip
    * rows that cannot match (files are sorted by the layout's sort
    * columns).
    */
  def read(spark: SparkSession, layout: Layout, files: Seq[String], pred: Column): Read = {
    val (parts, data) = layout.schema.partition(f => layout.partitionBy.contains(f.name)) match {
      case (p, d) => (StructType(p), StructType(d).toNullable)
    }
    val schema = StructType(data ++ parts)
    val attrs = DataTypeUtils.toAttributes(schema)
    val partAttrs = attrs.drop(data.length)
    val relation = LocalRelation(attrs)
    val cond = OptimizeIn(ConstantFolding(logical.Filter(GraftColumnBridge.analyzedFilter(spark, pred, relation),
      relation))) match { case logical.Filter(c, _) => c }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case c         => Seq(c)
    }
    val (onParts, onData) = conjuncts(cond).partition(_.references.subsetOf(AttributeSet(partAttrs)))
    // a deterministic predicate over bound columns: evaluated row by row
    def keeps(e: Expression, input: Seq[Attribute]): InternalRow => Boolean = {
      val bound = BindReferences.bindReference(e, input)
      r => bound.eval(r) == true
    }
    val inRange = keeps(onParts.foldLeft(Literal.TrueLiteral: Expression)(And), partAttrs)
    // the files opened are in range: each row needs only the other conjuncts
    val kept = keeps(onData.foldLeft(Literal.TrueLiteral: Expression)(And), attrs)
    val sql = SQLConf.get
    val filters = new ParquetFilters(new SparkToParquetSchemaConverter(sql).convert(data),
      sql.parquetFilterPushDownDate, sql.parquetFilterPushDownTimestamp, sql.parquetFilterPushDownDecimal,
      sql.parquetFilterPushDownStringPredicate, sql.parquetFilterPushDownInFilterThreshold,
      sql.caseSensitiveAnalysis, RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
    val pushed = onData.flatMap(e => GraftColumnBridge.toSourceFilter(e).flatMap(filters.createFilter)
      .orElse(ntzFilter(e))).reduceOption(FilterApi.and)
    val conf = readConf(spark, sql, data)
    pushed.foreach(ParquetInputFormat.setFilterPredicate(conf, _))
    val opened = files.map(f => f -> partitionRow(parts, f)).filter { case (_, p) => inRange(p) }
    // the store's files are written by this engine: proleptic Gregorian
    val rebase = LegacyBehaviorPolicy.CORRECTED.toString
    var returned = 0L
    val rows = Vector.newBuilder[InternalRow]
    for ((f, p) <- opened) {
      val file = new File(layout.path, f)
      val reader = new VectorizedParquetRecordReader(null, rebase, "UTC", rebase, "UTC", false,
        sql.parquetVectorizedReaderBatchSize)
      try {
        reader.initialize(new FileSplit(new Path(file.toURI), 0, file.length, Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID()))
        reader.initBatch(parts, p)
        while (reader.nextBatch()) {
          val batch = reader.resultBatch().rowIterator()
          while (batch.hasNext) {
            val r = batch.next()
            returned += 1
            if (kept(r)) rows += r.copy() // the batch's rows are reused
          }
        }
      } finally reader.close()
    }
    Read(schema, opened.map(_._1), pushed, returned, rows.result())
  }

  /** A comparison of a TIMESTAMP_NTZ column with a literal as a Parquet
    * filter on its int64 micros, which Spark's own Parquet filters do not
    * push.
    */
  private def ntzFilter(e: Expression): Option[FilterPredicate] = {
    def on(a: Attribute, v: Long, cmp: BinaryComparison): Option[FilterPredicate] = {
      val c = FilterApi.longColumn(a.name)
      val micros = Long.box(v)
      Some(cmp match {
        case _: EqualTo            => FilterApi.eq(c, micros)
        case _: GreaterThan        => FilterApi.gt(c, micros)
        case _: GreaterThanOrEqual => FilterApi.gtEq(c, micros)
        case _: LessThan           => FilterApi.lt(c, micros)
        case _: LessThanOrEqual    => FilterApi.ltEq(c, micros)
        case _                     => return None
      })
    }
    e match {
      case cmp @ BinaryComparison(a: Attribute, Literal(v: Long, TimestampNTZType)) => on(a, v, cmp)
      case _                                                                     => None
    }
  }

  /** The Hadoop configuration of a [[read]] of `data`: the session's,
    * with the settings Spark's Parquet scan gives its readers, and no
    * dictionary filtering. A JobConf,
    * so that each reader's task context uses it without a copy.
    */
  private def readConf(spark: SparkSession, sql: SQLConf, data: StructType): JobConf = {
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, data.json)
    // statistics skip row groups and pages; a dictionary filter would first
    // expand the dictionary of every filtered column, `ts` included, into a
    // set (milliseconds per file for a month of points)
    conf.setBoolean(ParquetInputFormat.DICTIONARY_FILTERING_ENABLED, false)
    Seq(SQLConf.SESSION_LOCAL_TIMEZONE, SQLConf.CASE_SENSITIVE, SQLConf.NESTED_SCHEMA_PRUNING_ENABLED,
      SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION).foreach(e => conf.set(e.key, sql.getConfString(e.key)))
    conf
  }

  /** The `parts` values of a store-relative file, from its partition
    * directory names.
    */
  private def partitionRow(parts: StructType, file: String): InternalRow = {
    val named = partitionOf(file).split('/').map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    InternalRow.fromSeq(parts.map { f =>
      val text = unescapePathName(named(f.name))
      if (text == DEFAULT_PARTITION_NAME) null
      else Cast(Literal(text), f.dataType, Some(SQLConf.get.sessionLocalTimeZone)).eval()
    })
  }

  /** The partition value of a store-relative file of a store partitioned
    * by the one integer column `column`.
    */
  def partitionValue(file: String, column: String): Int = partitionOf(file).stripPrefix(s"$column=").toInt

  /** The values of the one integer partition column `column` whose live
    * files number more than `moreFilesThan` (default: every live
    * partition) — from the manifest, no data scan.
    */
  def partitions(path: String, column: String, moreFilesThan: Int = 0): Seq[Int] =
    liveFiles(path).groupBy(partitionValue(_, column)).filter(_._2.length > moreFilesThan).keys.toSeq

  /** Replace the store's content: the live files of the `replaced`
    * partitions (tuples of partition values) leave, the rows of `content`
    * arrive. An append replaces nothing; a drop has no content. `replaced`
    * is evaluated once the content is written, so it may read an
    * observation riding the write job. A commit that neither writes nor
    * replaces a file publishes nothing.
    *
    * Steps: write the content into `<store>/_txn-<id>/` (one Spark write
    * job, no `_SUCCESS`); adopt the listing as a manifest if the store has
    * none; move the new files into their partition directories; publish
    * the new `_manifest` (`_manifest.tmp`, then an atomic rename over the
    * old one). Only then delete the files the previous manifest retired,
    * partition directories left empty and any `_txn-*` left over; when
    * there is one, also every data file (with its checksum) in a partition
    * directory that the new manifest lists neither as live nor as retired:
    * the files a writer killed between its moves and its publish left
    * behind. A failure before the publish deletes this commit's `_txn`
    * directory and the files it moved, so the store is left as it was.
    */
  def commit(layout: Layout, content: Option[DataFrame], replaced: => Seq[Seq[Any]]): Unit = {
    val root = new File(layout.path)
    val txn = new File(root, s"_txn-${java.util.UUID.randomUUID()}")
    try {
      // hash on the partition columns, sorted within partitions by them then
      // the store's sort columns: the order the V1 writer needs, so it adds
      // no sort of its own
      content.foreach(_.repartition(layout.partitionBy.map(col): _*)
        .sortWithinPartitions((layout.partitionBy ++ layout.sortBy).map(col): _*)
        .write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy(layout.partitionBy: _*)
        .parquet(txn.getPath))
      val was = current(layout.path)
      val fresh = listed(txn, "")
      val out = replaced.map(partitionDir(layout, _)).toSet
      val (retired, kept) = was.live.partition(f => out(partitionOf(f)))
      if (fresh.nonEmpty || retired.nonEmpty) {
        if (!new File(root, ManifestName).exists()) publish(root, was)
        try {
          for (d <- fresh.map(partitionOf).distinct; f <- new File(txn, d).listFiles()) // with their checksums
            Files.move(f.toPath, Files.createDirectories(new File(root, d).toPath).resolve(f.getName))
          publish(root, Manifest(kept ++ fresh, retired))
        } catch { case e: Throwable => fresh.foreach(remove(root, _)); throw e }
        was.retired.foreach(remove(root, _))
        // a `_txn-*` left over is a commit that died, perhaps with its files
        // moved but never published: under the writer lock, a data file in
        // a partition directory that this manifest does not name is one
        val leftovers = Option(root.listFiles()).toSeq.flatten.filter(f => f.getName.startsWith("_txn-") && f != txn)
        if (leftovers.nonEmpty) {
          val named = (kept ++ fresh ++ retired).toSet
          listed(root, "").filter(f => f.contains('/') && !named(f)).foreach(remove(root, _))
          leftovers.foreach(deleteQuietly)
        }
      }
    } finally deleteQuietly(txn)
  }

  /** Delete the store-relative data file `f`, the checksum the local
    * filesystem keeps beside it, and the partition directories it leaves
    * empty: a directory delete fails while it holds anything, so this
    * stops at the first directory still in use, innermost first.
    */
  private def remove(root: File, f: String): Unit = {
    val file = new File(root, f)
    file.delete(); new File(file.getParentFile, s".${file.getName}.crc").delete()
    Iterator.iterate(file.getParentFile)(_.getParentFile).takeWhile(_ != root).forall(_.delete()): Unit
  }

  /** Replace the manifest in one atomic rename: a reader sees the old
    * generation or the new one, never a partial list.
    */
  private def publish(root: File, m: Manifest): Unit = {
    val tmp = new File(root, s"$ManifestName.tmp").toPath
    Files.write(tmp, (m.live.map("+ " + _) ++ m.retired.map("- " + _)).asJava)
    Files.move(tmp, new File(root, ManifestName).toPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Small-file compaction of a single-partition-column store, under its
    * writer lock: rewrite `parts` (default: every live partition) with
    * their own rows from `stored`, so each comes out as one sorted file
    * instead of one file per historical write. Readers see the same rows.
    * Returns the partitions rewritten.
    */
  def compact(layout: Layout, stored: => DataFrame, parts: Option[Seq[Int]]): Seq[Int] =
    WriterLock.withLock(layout.path) {
      val Seq(column) = layout.partitionBy
      val ps = parts.getOrElse(partitions(layout.path, column))
      if (ps.nonEmpty) commit(layout, Some(stored.filter(col(column).isin(ps: _*))), ps.map(Seq(_)))
      ps
    }

  /** [[compact]] of only the partitions holding more than `maxFiles` live
    * files, from the manifest: no data scan for partitions already compact.
    */
  def compactCrowded(layout: Layout, stored: => DataFrame, maxFiles: Int): Seq[Int] =
    WriterLock.withLock(layout.path) {
      require(maxFiles >= 1, "max files per partition must be >= 1")
      compact(layout, stored, Some(partitions(layout.path, layout.partitionBy.head, maxFiles)))
    }
}
