package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

/** Deterministic segment-manifest fixture for the s09 streaming
  * ingestion query — the driver's harness passes only a parquet
  * `sfDir`, so the manifest-watching import gets its input from here
  * (the WarcFixture pattern): a Common Crawl-layout tree of
  * `segments/<id>/part.wat.gz` WAT files plus a `manifest/` directory
  * holding the wat.paths fragment the stream watches, materialized
  * once under the JVM temp dir as a [[graft.SealedDir]] keyed by a
  * digest of the WAT text (Verify and Bench may race from separate
  * JVMs; the second waits for the first one's sealed build).
  *
  * Segment ids follow the reference's `<crawl>.<ordinal>` shape
  * (wat.go:209), so ordinal-based selection works on them too. Each
  * segment's pages/links differ deterministically per segment, so a
  * cross-segment mix-up (wrong file into wrong store) changes counts
  * and turns the oracle red.
  */
object ManifestFixture {

  val Segments = 3
  val PagesPerSegment = 12
  val LinksPerPage = 3
  val ExtDomains = 17

  /** Bump when SegmentIngest / the per-segment import protocol changes
    * semantics — part of [[ingestedStore]]'s cache key.
    */
  val IngestProtocolVersion = 4

  private def watLine(uri: String, ip: String, date: String,
      links: Seq[(String, String)]): String = {
    val linksJson = links.map { case (url, text) =>
      s"""{"path":"A@/href","url":"$url","text":"$text","rel":""}"""
    }.mkString("[", ",", "]")
    s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"$uri","WARC-IP-Address":"$ip","WARC-Date":"$date"},""" +
      s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"t","Metas":[{"name":"viewport","content":"x"}],"Link":[]},"Links":$linksJson}}}}}"""
  }

  private def segmentWat(seg: Int, pages: Int = PagesPerSegment,
      links: Int = LinksPerPage, extDomains: Int = ExtDomains): String = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\n") // header noise the parser must skip
    (0 until pages).foreach { i =>
      val host = s"www.seg$seg-site$i.com"
      val linkSeq = (0 until links).map { k =>
        val d = (i * 5 + seg * 7 + k) % extDomains
        (s"http://ext$d-site.org/s$seg/p$k?id=$k", s"anchor $k")
      } :+ ((s"http://$host/self", "internal")) // same host -> dropped
      sb.append(watLine(s"http://$host/page$i.html", s"10.$seg.$i.1",
        f"2024-07-${(i % 28) + 1}%02dT09:00:00Z", linkSeq)).append('\n')
    }
    sb.append("{ not json — parser must skip\n")
    sb.toString
  }

  /** Parameterized sibling of [[dir]] for scale/cluster rehearsals:
    * same Common Crawl layout, its own param-named fixture dir, and the
    * manifest additionally SPLIT into `fragments/frag<i>.paths` files
    * so a rehearsal can land fragments progressively into a watched
    * directory (the crawler-publishes-while-importer-runs shape).
    * `manifest/wat.paths` still carries the full list for batch-parity
    * imports.
    */
  def scaledDir(segments: Int, pages: Int, links: Int, fragments: Int): String = {
    require(fragments >= 1 && fragments <= segments,
      s"fragments must be in [1, $segments], got $fragments")
    val wats = (0 until segments).map(segmentWat(_, pages, links))
    materialize(s"graft-manifest-scaled-s$segments-p$pages-l$links-f$fragments",
      "# graft scaled fixture manifest\n", wats) { (build, paths) =>
      Files.createDirectories(Paths.get(build, "fragments"))
      paths.grouped(math.max(1, math.ceil(segments.toDouble / fragments).toInt))
        .zipWithIndex.foreach { case (slice, i) =>
          Files.writeString(Paths.get(build, f"fragments/frag$i%02d.paths"),
            slice.mkString("", "\n", "\n"))
        }
    }
  }

  /** Materialize (once) and return the fixture root: `segments/…`
    * WAT files + `manifest/wat.paths` with absolute paths.
    */
  def dir(): String =
    materialize("graft-manifest-fixture", "# graft fixture manifest\n",
      (0 until Segments).map(segmentWat(_))) { (_, _) => }

  /** The fixture tree for `wats` (one WAT text per segment) as a sealed
    * dir named `name`: the manifest lists each segment's path under the
    * FINAL directory, which the seal's rename makes valid; `extra` adds
    * files to the build dir given (build dir, segment paths).
    */
  private def materialize(name: String, header: String, wats: Seq[String])(
      extra: (String, Seq[String]) => Unit): String = {
    val parent = sys.props("java.io.tmpdir")
    val key = graft.SealedDir.digest(wats: _*)
    val base = graft.SealedDir.pathOf(parent, name, key)
    graft.SealedDir.getOrBuild(parent, name, key) { build =>
      val paths = wats.zipWithIndex.map { case (wat, seg) =>
        val segDir = Paths.get(build, s"segments/1687.$seg")
        Files.createDirectories(segDir)
        val g = new GZIPOutputStream(new FileOutputStream(segDir.resolve("part.wat.gz").toFile))
        try g.write(wat.getBytes(UTF_8)) finally g.close()
        s"$base/segments/1687.$seg/part.wat.gz"
      }
      Files.createDirectories(Paths.get(build, "manifest"))
      Files.writeString(Paths.get(build, "manifest/wat.paths"),
        paths.mkString(header, "\n", "\n"))
      extra(build, paths)
    }
  }

  /** The STREAM-INGESTED store for s09: run the manifest-watching
    * import once (AvailableNow drain of the fixture's manifest dir)
    * into a [[graft.SealedDir]] — bench trials and the Verify pass
    * re-read it instead of re-importing. The key covers the fixture
    * dir (itself keyed by its content) and [[IngestProtocolVersion]].
    */
  def ingestedStore(spark: org.apache.spark.sql.SparkSession): String = {
    val fixture = dir()
    val root = graft.SealedDir.getOrBuild(sys.props("java.io.tmpdir"),
        "graft-manifest-ingest", graft.SealedDir.digest(fixture, IngestProtocolVersion)) { build =>
      val q = graft.streaming.SegmentIngest.start(spark,
        s"$fixture/manifest",
        s"$build/store",
        s"$build/checkpoint",
        availableNow = true)
      q.awaitTermination()
      require(SegmentManifest.completedSegments(spark, s"$build/store").size == Segments,
        s"stream ingest incomplete under $build/store")
    }
    s"$root/store"
  }
}
