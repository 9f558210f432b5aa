package graft.sinks

import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.{TaskAttemptContext, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters, ParquetFooterReader, ParquetOptions, ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import java.io.FileNotFoundException

/** Generation-directory commit protocol for the link/page stores —
  * replaces the old rename-swap (live → .old, tmp → live), whose
  * window left in-flight readers on deleted part files and whose
  * directory renames are copy+delete (data-sized, non-atomic) on
  * object stores.
  *
  * Layout under a store root:
  * {{{
  *   root/_CURRENT        ← one line: the live generation dir name
  *   root/_gen-3/…        ← previous generation (kept for readers)
  *   root/_gen-4/…        ← live generation (named by _CURRENT)
  * }}}
  *
  * Invariants:
  *   - The ONLY mutation readers can observe is the `_CURRENT` pointer
  *     swap — a single small-file rename with OVERWRITE semantics
  *     (atomic on local/HDFS via FileContext; on object stores it is
  *     one tiny object, not a data-sized directory copy).
  *   - A reader that resolved generation N keeps a complete directory
  *     until generation N+2 commits (commit prunes to {N, N-1}), so
  *     any read that started before a swap finishes against intact
  *     files. A reader that outlives TWO folds, or meets the pointer
  *     mid-swap, is retried by the serving layer only when the store
  *     moved: its failure carries a [[StaleGeneration]], or the
  *     store's generation differs before and after the attempt.
  *   - Generation dirs and the pointer are underscore-prefixed, which
  *     Spark's file listing ignores — so a legacy PLAIN parquet store
  *     (part files directly under root) stays readable while its first
  *     generational rewrite is being prepared; [[resolve]] returns the
  *     root itself until a pointer exists (layout auto-migrates on the
  *     first publish, which prunes the legacy files after the pointer
  *     lands).
  *   - Reads keep nothing about a generation in memory: each takes its
  *     schema from the footer of a file it reads ([[footerSchema]]).
  *   - Single writer (unchanged from rename-swap): concurrent publishes
  *     to one root would race the generation numbering, not corrupt a
  *     committed generation. ENFORCED by the callers through
  *     [[StoreLease]] (create-exclusive `_LEASE` + heartbeat):
  *     Pipeline.foldSegments / compactStream / safeRewrite refuse
  *     loudly instead of racing [[prepare]]'s stray-generation prune.
  *
  * Crash points: before [[commit]]'s pointer rename the live store is
  * untouched (a stray prepared `_gen-*` is deleted by the next
  * [[prepare]]); after the rename the new generation is live and the
  * old one is still on disk. There is NO window with a missing or
  * partial live store, so the old recoverStore healing pass is gone.
  */
object StoreGen {

  private val Pointer = "_CURRENT"
  private val GenPrefix = "_gen-"

  /** The store moved under a reader: the generation it resolved was
    * pruned, or `_CURRENT` was mid-swap when it was read. A fresh
    * resolve reads the new generation, so the serving layer retries on
    * this type (LinkApiServer), never on message text.
    */
  final class StaleGeneration(msg: String) extends FileNotFoundException(msg)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's live DATA directory: `root/_gen-<n>` when a pointer
    * exists, else `root` itself (plain/legacy layout, and segment
    * stores which are written once and never rewritten).
    */
  def resolve(spark: SparkSession, root: String): String =
    currentGenName(spark, root).fold(root)(g => s"$root/$g")

  private def currentGenName(spark: SparkSession, root: String): Option[String] = {
    val f = fs(spark, root)
    val ptr = new Path(root, Pointer)
    if (!f.exists(ptr)) None
    else {
      val name =
        try {
          val in = f.open(ptr)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } catch {
          // swapped between exists and open, or read between the
          // pointer's rename and its checksum sidecar's (local FS)
          case e @ (_: FileNotFoundException | _: ChecksumException) =>
            throw new StaleGeneration(s"store pointer $ptr moved while read: $e")
        }
      require(name.startsWith(GenPrefix) && !name.contains("/"),
        s"corrupt store pointer $ptr: '$name'")
      Some(name)
    }
  }

  private def genId(name: String): Long = name.stripPrefix(GenPrefix).toLong

  /** The requested `<partCol>=<v>` directories of a store's live
    * generation that exist and their data files, checked against the
    * swap window and a pruned generation: what a serving read names.
    * `base` is `<gen>/<sub>`; `schema` is the rows' layout, a footer
    * schema with `partCol` appended, as `spark.read.parquet` infers it.
    */
  final class Partitions private[StoreGen] (
      val root: String, live: Option[String], val base: String,
      val partCol: String, val schema: StructType,
      listed: Seq[(Int, String, Seq[FileStatus])]) {

    /** The listed directories as a DataFrame, read with `basePath` set
      * so `partCol` stays a partition column and a predicate on it
      * still prunes; all absent, an empty frame with [[schema]].
      */
    def frame(spark: SparkSession): DataFrame =
      if (listed.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema).option("basePath", base)
        .parquet(listed.map(_._2): _*)

    /** Direct read of the listed files in the calling thread: no
      * Spark job, and nothing broadcast or cached. Each parquet file is
      * opened by Spark's own row reader, `VectorizedParquetRecordReader`
      * (the one a Spark scan picks for these flat schemas), under one
      * copy of the session's Hadoop conf per scan, set up as a Spark
      * scan sets it ([[readConf]]). A Spark scan's reader build
      * (`buildReaderWithPartitionValues`) broadcasts that conf to ship
      * it to executors, ~10 ms a request on a 4-core host; this read
      * runs where the conf already is. `pushed` prunes each file's row
      * groups by their min/max statistics ([[openReader]]; only prunes:
      * the caller still evaluates its predicate on every row), and `f`
      * sees every row of the rest laid out as [[schema]], a column a
      * file lacks as null. A row is a view the reader reuses: copy what
      * outlives the call. Any failure after the generation vanished is
      * a [[StaleGeneration]].
      */
    def scan(spark: SparkSession, pushed: Seq[Filter])(f: InternalRow => Unit): Unit =
      if (listed.nonEmpty)
        try {
          val part = StructType(Seq(schema(partCol)))
          // a JobConf: the context would copy any other Configuration
          val ctx = new TaskAttemptContextImpl(
            readConf(spark, StructType(schema.dropRight(1))), new TaskAttemptID())
          for ((v, _, files) <- listed; st <- files) {
            val reader = openReader(spark.sessionState.conf, ctx, pushed, st)
            try {
              reader.initBatch(part, InternalRow(v))
              while (reader.nextKeyValue()) f(reader.getCurrentValue.asInstanceOf[InternalRow])
            } finally reader.close()
          }
        } catch {
          case e: Exception
              if !e.isInstanceOf[StaleGeneration] && genGone(fs(spark, root), root, live) =>
            throw stale(root, base, e)
        }
  }

  /** `file` opened for a [[Partitions.scan]] under `ctx`'s conf, as a
    * Spark scan opens it: its footer read once; `pushed` converted
    * against the file's own schema, under the session's push-down flags
    * and the rebase modes its footer records, and set as the conf's
    * row-group predicate, or cleared when nothing converts, so no
    * predicate of an earlier file applies to it.
    */
  private def openReader(sql: SQLConf, ctx: TaskAttemptContext, pushed: Seq[Filter],
      file: FileStatus): VectorizedParquetRecordReader = {
    val conf = ctx.getConfiguration
    val opened = ParquetFooterReader.openFileAndReadFooter(conf,
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(file.getPath), 0, file.getLen), true)
    // the reader owns the opened stream once initialized
    try {
      val meta = opened.footer.getFileMetaData
      val opts = new ParquetOptions(Map.empty[String, String], sql)
      val rebase = DataSourceUtils.datetimeRebaseSpec(meta.getKeyValueMetaData.get,
        opts.datetimeRebaseModeInRead)
      val int96 = DataSourceUtils.int96RebaseSpec(meta.getKeyValueMetaData.get,
        opts.int96RebaseModeInRead)
      val predicate =
        if (!sql.parquetFilterPushDown) None
        else pushed.flatMap(new ParquetFilters(meta.getSchema, sql.parquetFilterPushDownDate,
          sql.parquetFilterPushDownTimestamp, sql.parquetFilterPushDownDecimal,
          sql.parquetFilterPushDownStringPredicate, sql.parquetFilterPushDownInFilterThreshold,
          sql.caseSensitiveAnalysis, rebase).createFilter).reduceOption(FilterApi.and)
      predicate match {
        case Some(p) => ParquetInputFormat.setFilterPredicate(conf, p)
        case None => conf.unset(ParquetInputFormat.FILTER_PREDICATE)
      }
      val convertTz =
        if (sql.isParquetINT96TimestampConversion && !meta.getCreatedBy.startsWith("parquet-mr"))
          DateTimeUtils.getZoneId(sql.sessionLocalTimeZone)
        else null
      val reader = new VectorizedParquetRecordReader(convertTz, rebase.mode.toString,
        rebase.timeZone, int96.mode.toString, int96.timeZone, false,
        sql.parquetVectorizedReaderBatchSize)
      reader.initialize(new FileSplit(file.getPath, 0, file.getLen, Array.empty[String]), ctx,
        Some(opened.inputFile), Some(opened.inputStream), Some(opened.footer))
      reader
    } catch { case e: Throwable => opened.inputStream.close(); throw e }
  }

  /** The Hadoop conf a [[Partitions.scan]] reads `schema` under: one
    * copy of the context's, overlaid with the session's SQL confs as
    * `SessionState.newHadoopConf` overlays them (made here as the
    * `JobConf` itself, not copied into one), with the keys a Spark
    * parquet scan sets for its reader (`ParquetFileFormat.setupHadoopConf`,
    * which is private). Vectored IO stays off: a vectored read hands
    * each column chunk to a thread pool and waits for it, which cost a
    * point read of a few small chunks ~10 ms on a loaded 4-core host.
    */
  private def readConf(spark: SparkSession, schema: StructType): JobConf = {
    val sql = spark.sessionState.conf
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    for ((k, v) <- sql.getAllConfs if v != null) conf.set(k, v)
    conf.setBoolean(ParquetInputFormat.HADOOP_VECTORED_IO_ENABLED, false)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    conf
  }

  /** The generation a read named is gone: pruned, or its root
    * re-published. A legacy root names none, so it is never gone.
    */
  private def genGone(f: FileSystem, root: String, live: Option[String]): Boolean =
    live.exists(g => !f.exists(new Path(root, g)))

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  private def stale(root: String, gen: String, cause: Throwable = null): StaleGeneration = {
    val e = new StaleGeneration(
      s"no live generation of store $root at $gen (pruned or mid-swap)")
    if (cause != null) e.initCause(cause)
    e
  }

  /** The schema `spark.read.parquet` reports for `file`, less the
    * discovered partition columns: the footer converted as Spark's
    * inference does, under the session's SQL conf (`nanosAsLong`
    * included), every level nullable. The reader is built from the
    * loaded Hadoop conf the listing uses: `ParquetFileReader.open(file)`
    * and the no-argument `ParquetReadOptions.builder()` each create a
    * fresh `Configuration` and reload its XML resources per call,
    * 8.2–12.5 ms per footer in a Spark JVM against ~0.3 ms this way.
    */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).toNullable
  }

  /** The first data file at or under `path`, skipping hidden entries
    * below it as Spark's listing does; None when there is none.
    */
  private[graft] def dataFile(f: FileSystem, path: Path): Option[FileStatus] = {
    def first(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else {
        val (files, dirs) = f.listStatus(st.getPath)
          .filterNot(c => hidden(c.getPath.getName)).partition(_.isFile)
        files.headOption.orElse(dirs.iterator.flatMap(first).nextOption())
      }
    try first(f.getFileStatus(path)) catch { case _: FileNotFoundException => None }
  }

  /** `path`, a parquet file or a directory of them in any partition
    * layout, read with the schema of its first data file; None without.
    */
  def readParquet(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    dataFile(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .map(file => spark.read.schema(footerSchema(spark, file)).parquet(path))
  }

  /** [[readParquet]] of a path that must hold data. */
  def loadParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path)
      .getOrElse(throw new FileNotFoundException(s"no parquet data file under $path"))

  /** Lists a point read of the live generation: ONLY the requested
    * `<partCol>=<v>` directories under `<gen>/<sub>` (`sub` = "" for
    * the store's own data, e.g. `_RANKS` for an artifact riding in the
    * generation), each once. The schema is read from the footer of the
    * first listed file, or of any data file of `<gen>/<sub>` when all
    * are absent ([[footerSchema]]), so no bind runs a Spark job — a
    * whole-store `spark.read.parquet` pays a partition-discovery job
    * (one task per bucket directory) plus a schema-inference job.
    *
    * A requested directory that does not exist is left out — but only
    * after re-checking that the generation still exists. A pruned
    * generation, or a pointer-less root in the swap window, throws
    * [[StaleGeneration]] so the serving retry rebinds instead of
    * answering an empty 200. None when the live generation carries no
    * `sub`.
    */
  def listPartitions(spark: SparkSession, root: String, sub: String,
      partCol: String, values: Seq[Int]): Option[Partitions] = {
    val f = fs(spark, root)
    val live = currentGenName(spark, root)
    val gen = live.fold(root)(g => s"$root/$g")
    val base = if (sub.isEmpty) gen else s"$gen/$sub"
    if (live.isEmpty && inSwapWindow(f, root)) throw stale(root, gen)
    if (sub.nonEmpty && !f.exists(new Path(base))) {
      if (genGone(f, root, live)) throw stale(root, gen)
      return None
    }
    val wanted = values.distinct
    val listed = wanted.flatMap { v =>
      val dir = s"$base/$partCol=$v"
      try Some((v, dir, f.listStatus(new Path(dir)).toSeq
        .filter(st => st.isFile && !hidden(st.getPath.getName))))
      catch { case _: FileNotFoundException => None }
    }
    if (listed.size < wanted.size && genGone(f, root, live)) throw stale(root, gen)
    val data =
      try listed.iterator.flatMap(_._3).nextOption()
        .orElse(dataFile(f, new Path(base)))
        .map(footerSchema(spark, _))
        .getOrElse(throw new FileNotFoundException(s"no parquet data file under $base"))
      catch { case e: Exception if genGone(f, root, live) => throw stale(root, gen, e) }
    val schema = StructType(data.filterNot(_.name == partCol) :+ StructField(partCol, IntegerType))
    Some(new Partitions(root, live, base, partCol, schema, listed))
  }

  /** [[listPartitions]] read as a DataFrame ([[Partitions.frame]]). */
  def readPartitions(spark: SparkSession, root: String, sub: String,
      partCol: String, values: Seq[Int]): Option[DataFrame] =
    listPartitions(spark, root, sub, partCol, values).map(_.frame(spark))

  /** A root without `_CURRENT` whose only entries are protocol ones
    * (generation dirs, lease, checksum sidecars): the pointer is
    * between delete and create (a copy+delete rename on an object
    * store), not a legacy plain store, which holds data entries.
    */
  private def inSwapWindow(f: FileSystem, root: String): Boolean = {
    val r = new Path(root)
    f.exists(r) && {
      val names = f.listStatus(r).map(_.getPath.getName)
      names.exists(_.startsWith(GenPrefix)) &&
        names.forall(n => n.startsWith("_") || n.startsWith("."))
    }
  }

  /** Phase 1: materialize the NEXT generation's data dir via `write`
    * (which gets the dir path) without touching the pointer or the
    * live data. Deletes stray generations above the live one first (a
    * crashed earlier prepare). Returns the generation id for
    * [[commit]].
    */
  def prepare(spark: SparkSession, root: String,
      write: String => Unit): Long = {
    val f = fs(spark, root)
    // heal a store crashed mid-swap under the PRE-generation rename
    // protocol (live renamed to .old, replacement never landed): the
    // .old sibling holds the only complete copy — restore it before
    // rebuilding, or the rewrite would silently rebuild from segments
    // alone and drop everything previously folded
    if (!f.exists(new Path(root)) && f.exists(new Path(s"$root.old")))
      f.rename(new Path(s"$root.old"), new Path(root))
    f.mkdirs(new Path(root))
    val cur = currentGenName(spark, root).map(genId).getOrElse(0L)
    listGens(f, root).filter(_ > cur)
      .foreach(g => f.delete(new Path(root, s"$GenPrefix$g"), true))
    val next = cur + 1
    write(s"$root/$GenPrefix$next")
    next
  }

  /** Phase 2: atomically point `_CURRENT` at the prepared generation,
    * then prune — keep {next, next-1}, drop everything older, and drop
    * any legacy plain-layout files left from before the migration.
    */
  def commit(spark: SparkSession, root: String, gen: Long): Unit = {
    val f = fs(spark, root)
    val tmp = new Path(root, s"$Pointer.tmp")
    val out = f.create(tmp, true)
    try out.write(s"$GenPrefix$gen\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // FileContext rename with OVERWRITE: atomic replace on local/HDFS
    // (FileSystem.rename refuses existing destinations)
    val fc = FileContext.getFileContext(new Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(root, Pointer), Options.Rename.OVERWRITE)
    // prune old generations (keep gen and gen-1 for in-flight readers)
    listGens(f, root).filter(_ < gen - 1)
      .foreach(g => f.delete(new Path(root, s"$GenPrefix$g"), true))
    // prune legacy plain-layout remains (part files, domain_bucket=*,
    // _SUCCESS, a root-level _FOLDED): everything that is neither a
    // generation dir, the pointer, a dot-prefixed checksum sidecar
    // (deleting ._CURRENT.crc would fail later checksummed reads of
    // the pointer on local filesystems), nor the writer lease (the
    // committing writer HOLDS it — deleting it here would hand the
    // root to a second writer mid-commit). In-flight legacy readers
    // fail in their Spark tasks; the serving retry rebinds them because
    // the store's generation moved. After this, root holds only the
    // protocol entries. NOTE this loop is an ALLOWLIST: any future
    // root-level sibling artifact must either ride INSIDE the
    // generation dir (like _FOLDED and _RANKS do) or be added here,
    // or the first commit will silently delete it.
    f.listStatus(new Path(root)).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith(GenPrefix) && n != Pointer && !n.startsWith(".") &&
          n != StoreLease.LeaseFile)
        f.delete(st.getPath, true)
    }
  }

  /** prepare + commit in one step — for single-store rewrites
    * (multi-store transactions like foldSegments prepare all stores
    * first, then commit each).
    */
  def publish(spark: SparkSession, root: String, write: String => Unit): Unit =
    commit(spark, root, prepare(spark, root, write))

  private def listGens(f: FileSystem, root: String): Seq[Long] = {
    val r = new Path(root)
    if (!f.exists(r)) Nil
    else f.listStatus(r).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(GenPrefix))
      .flatMap(n => scala.util.Try(genId(n)).toOption)
  }
}
