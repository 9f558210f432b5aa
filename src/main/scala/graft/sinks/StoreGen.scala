package graft.sinks

import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

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

  /** Schema of `<gen>/<sub>` per (store root, sub), valid while the
    * live generation is the same directory with the same mtime. A
    * committed generation is immutable (commit writes only the pointer
    * and prunes OTHER generations), so its schema cannot change under
    * the entry; the mtime guards against a root that was deleted and
    * re-published under a reused generation name. One entry per key,
    * replaced when `_CURRENT` moves; legacy roots are never memoized.
    */
  private final case class SchemaMemo(gen: String, mtime: Long, schema: StructType)
  private val schemaMemo = new ConcurrentHashMap[(String, String), SchemaMemo]()

  /** Point read of the live generation: lists ONLY the requested
    * `<partCol>=<v>` directories under `<gen>/<sub>` (`sub` = "" for
    * the store's own data, e.g. `_RANKS` for an artifact riding in the
    * generation) and reads them with `basePath` set, so `partCol` stays
    * a partition column and the caller's predicate on it still prunes.
    * The schema comes from [[schemaMemo]]: after the first bind of a
    * generation, a bind runs NO Spark job — a whole-store
    * `spark.read.parquet` pays a partition-discovery job (one task per
    * bucket directory) plus a footer schema-inference job on every
    * call. A legacy plain root (no `_CURRENT`) is inferred on every
    * call: nothing marks its files immutable.
    *
    * A requested directory that does not exist contributes nothing
    * (all absent: an empty frame with the memoized schema) — but only
    * after re-checking that the generation still exists. A pruned
    * generation, or a pointer-less root in the swap window, throws
    * [[StaleGeneration]] so the serving retry rebinds instead of
    * answering an empty 200. None when the live generation carries no
    * `sub`.
    */
  def readPartitions(spark: SparkSession, root: String, sub: String,
      partCol: String, values: Seq[Int]): Option[DataFrame] = {
    val f = fs(spark, root)
    val live = currentGenName(spark, root)
    val gen = live.fold(root)(g => s"$root/$g")
    val base = if (sub.isEmpty) gen else s"$gen/$sub"
    def stale(): Nothing = throw new StaleGeneration(
      s"no live generation of store $root at $gen (pruned or mid-swap)")
    def genGone: Boolean = live.nonEmpty && !f.exists(new Path(gen))
    if (live.isEmpty && inSwapWindow(f, root)) stale()
    if (sub.nonEmpty && !f.exists(new Path(base)))
      return if (genGone) stale() else None
    val schema = live match {
      case None => spark.read.parquet(base).schema
      case Some(_) =>
        val mtime =
          try f.getFileStatus(new Path(gen)).getModificationTime
          catch { case _: FileNotFoundException => stale() }
        val key = (root, sub)
        Option(schemaMemo.get(key))
          .filter(m => m.gen == gen && m.mtime == mtime)
          .fold {
            val s = spark.read.parquet(base).schema
            schemaMemo.put(key, SchemaMemo(gen, mtime, s))
            s
          }(_.schema)
    }
    val wanted = values.distinct.map(v => s"$base/$partCol=$v")
    val present = wanted.filter(p => f.exists(new Path(p)))
    if (present.size < wanted.size && genGone) stale()
    Some(
      if (present.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema).option("basePath", base).parquet(present: _*))
  }

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
