package graft

import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.DataFrame

/** The one build-once protocol for every derived artifact graft keeps
  * across sessions: the bucketed layouts, the ANN index, and the
  * WARC/manifest/ranked-store fixtures.
  *
  * An artifact lives at `<parent>/<name>-<key>` and counts as present
  * only when its `_GRAFT_DONE` seal is inside. The key is a digest of
  * everything the artifact is built from ([[keyOf]] for a frame's
  * plan and input files, [[digest]] for generated content), so a
  * changed recipe or a rewritten source names a new directory instead
  * of re-attaching the old one, and no key is ever bumped by hand.
  *
  * [[getOrBuild]] builds under a per-`name` lock: an in-JVM monitor,
  * then an OS `FileChannel` lock on `<parent>/.<name>.lock`. The holder
  * is the only active builder of that name on the host, so it can
  * delete any unsealed leftover and every `.tmp-*` sibling exactly,
  * build into `<final>.tmp-<pid>`, seal it, and rename it into place.
  * A second process waits for that sealed result instead of building
  * a duplicate, and a process that dies holding the lock releases it
  * in the OS.
  */
object SealedDir {

  val Seal = "_GRAFT_DONE"

  def pathOf(parent: String, name: String, key: String): String = s"$parent/$name-$key"

  /** The sealed `<parent>/<name>-<key>`, built by `build(tmpDir)` if it
    * is not there yet. Every call marks the artifact as in use for the
    * GC grace window and sweeps superseded `name-<otherkey>` siblings.
    */
  def getOrBuild(parent: String, name: String, key: String)(build: String => Unit): String = {
    val path = pathOf(parent, name, key)
    val seal = Paths.get(path, Seal)
    if (Files.isRegularFile(seal)) touch(seal)
    else withBuildLock(parent, name) {
      if (Files.isRegularFile(seal)) touch(seal)
      else {
        // no other builder of `name` is active: an unsealed final dir or
        // any `.tmp-*` sibling is a dead build's leftover
        deleteRecursively(Paths.get(path))
        val tmpName = sibling(name, "-[0-9a-f]{12}\\.tmp-[0-9]+")
        listDir(parent).filter(p => tmpName.matches(p.getFileName.toString))
          .foreach(deleteRecursively)
        val tmp = Paths.get(s"$path.tmp-${ProcessHandle.current().pid()}")
        try {
          Files.createDirectories(tmp)
          build(tmp.toString)
          Files.createFile(tmp.resolve(Seal))
          Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
        } finally deleteRecursively(tmp)
      }
    }
    gcStaleSiblings(parent, name, key)
    path
  }

  /** Whether any sealed `<parent>/<name>-<key>` exists, whatever its key. */
  def anySealed(parent: String, name: String): Boolean = {
    val keyed = sibling(name, "-[0-9a-f]{12}")
    listDir(parent).exists(p => keyed.matches(p.getFileName.toString) &&
      Files.isRegularFile(p.resolve(Seal)))
  }

  private val buildMonitors = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def withBuildLock[T](parent: String, name: String)(body: => T): T = {
    Files.createDirectories(Paths.get(parent))
    val lockFile = Paths.get(parent, s".$name.lock")
    buildMonitors.computeIfAbsent(lockFile.toString, _ => new Object).synchronized {
      val ch = FileChannel.open(lockFile, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  private def touch(seal: Path): Unit = {
    seal.toFile.setLastModified(System.currentTimeMillis()): Unit
  }

  /** Entry names `name` followed by `suffix` (a regex). */
  private def sibling(name: String, suffix: String) =
    s"^${java.util.regex.Pattern.quote(name)}$suffix$$".r

  private def listDir(dir: String): Seq[Path] = {
    val kids = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    kids.toSeq.map(_.toPath)
  }

  /** GC grace window: a superseded sibling is deleted only once its
    * seal's mtime (bumped by every [[getOrBuild]] call that returns it)
    * and its own mtime are older than this. A layout another live
    * session attached recently is therefore left alone; the exposure
    * that remains is one query scanning a superseded layout for longer
    * than the window after its attach, which is why the default sits
    * well above the longest single-query wall seen at sf100 (~2.5 min)
    * rather than above a whole bench run.
    */
  private def gcGraceMs: Long =
    sys.props.get("graft.layout.gcGraceMs").map(_.toLong)
      .getOrElse(2L * 60 * 60 * 1000)

  /** Delete superseded `name-<otherkey>` siblings (and a pre-key bare
    * `name`) past the grace window. Nothing can attach them again: the
    * key covers the recipe and the source files. Best effort, since a
    * concurrent process may be sweeping the same sibling.
    */
  private def gcStaleSiblings(parent: String, name: String, key: String): Unit = {
    val stale = sibling(name, "(-[0-9a-f]{12})?")
    val cutoff = System.currentTimeMillis() - gcGraceMs
    listDir(parent).foreach { p =>
      val n = p.getFileName.toString
      if (n != s"$name-$key" && stale.matches(n)) {
        val seal = p.resolve(Seal).toFile
        val lastUse = math.max(p.toFile.lastModified,
          if (seal.isFile) seal.lastModified else 0L)
        if (lastUse < cutoff)
          try deleteRecursively(p) catch { case _: java.io.IOException => }
      }
    }
  }

  /** Delete `p` and everything under it without following symlinks: a
    * link is removed, never the tree it points into. A missing `p` (or
    * an entry a concurrent sweep removed first) is not an error.
    */
  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val kids =
        try Some(Files.list(p)) catch { case _: NoSuchFileException => None }
      kids.foreach(s => try s.forEach(deleteRecursively(_)) finally s.close())
    }
    Files.deleteIfExists(p): Unit
  }

  /** 48-bit hex MD5 over `parts`, the key alphabet [[getOrBuild]] and
    * its GC recognise.
    */
  def digest(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { p => md.update(p.toString.getBytes("UTF-8")); md.update(0: Byte) }
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** (plan text, input files) per (dir, artifact): a recipe is code and
    * cannot change inside one JVM, so a warm attach neither rebuilds
    * nor re-analyzes the derivation. The files are re-statted on every
    * call; a listed file that is gone means the source was rewritten,
    * and the frame is listed afresh.
    */
  private val recipes =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Seq[java.io.File])]()

  /** Key of an artifact derived from `df` under `dir`: a [[digest]] of
    * the frame's canonicalized analyzed plan (no expression ids, no
    * truncated field lists), its schema (canonicalization erases column
    * names), the caller's build parameters, and the sorted
    * (name, length, mtime) of every input file. Any recipe edit, source
    * rewrite or parameter change keys a new artifact.
    */
  def keyOf(dir: String, artifact: String, df: => DataFrame, params: Any*): String = {
    def fresh(): (String, Seq[java.io.File]) = {
      val d = df
      val plan = d.queryExecution.analyzed.canonicalized
        .treeString(verbose = true, addSuffix = false, maxFields = Int.MaxValue)
      (plan + "\n" + d.schema.toDDL,
        d.inputFiles.toSeq.map(f => new java.io.File(new java.net.URI(f))))
    }
    val memo = recipes.computeIfAbsent((dir, artifact), _ => fresh())
    val (plan, files) =
      if (memo._2.forall(_.isFile)) memo
      else { val r = fresh(); recipes.put((dir, artifact), r); r }
    val stats = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted
    digest((plan +: params) ++ stats: _*)
  }
}
