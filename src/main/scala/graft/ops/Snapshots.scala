package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, max, substring_index, when}

/** A minimal snapshot-isolated table format — the transactional shell
  * around the engine's layout operators ([[Layout.zorderWriteN]],
  * [[Layout.compactionExec]], [[Reconcile.mergeTouched]] rewrite data;
  * THIS decides what a reader sees while they do). The design is the
  * published lakehouse-format core (Delta/Iceberg), reduced to its two
  * load-bearing moves:
  *
  *  - **data files are immutable**; every commit writes NEW files under
  *    `root/data/<uuid>/` and publishes a MANIFEST (`_graft_snaps/
  *    v<n>.txt`). The manifest itself is two-level (Iceberg's
  *    manifest-list shape): the per-commit FILE ENTRIES live in an
  *    immutable SEGMENT (`_graft_snaps/seg_<uuid>.txt`, written once,
  *    O(delta) text), and the version manifest is a tiny header plus the
  *    ordered list of segment references — so an append to a
  *    million-file table writes O(delta) entry text plus O(versions)
  *    reference lines, never the O(files) full listing;
  *  - **a commit IS the atomic creation of manifest v(n+1)**: the
  *    manifest is staged to a temp name and HARD-LINKED to its final
  *    name — `link(2)` fails with EEXIST atomically if v(n+1) already
  *    exists (unlike a POSIX rename, which silently replaces, and
  *    unlike `Files.move`'s no-replace mode, which is check-then-rename
  *    and can lose a cross-process race), and the linked file appears
  *    complete or not at all. The loser re-reads the now-latest
  *    version, REBASES and retries at v(n+2). Optimistic concurrency
  *    with the filesystem's atomic link as the arbiter; no lock is ever
  *    held while data writes (the slow part) run.
  *
  * What this buys at 100 TB: readers pin a version (time travel + a
  * consistent view while writers churn), writers never block readers,
  * and maintenance (compaction, merge, z-order rewrites) becomes a
  * REPLACE commit whose obsolete inputs stay readable until [[vacuum]]
  * retires versions past the retention window and deletes the data
  * files only they reference.
  */
object Snapshots {

  private val SnapDir = "_graft_snaps"
  private val DataDir = "data"

  /** One file of a snapshot: path RELATIVE to the table root (a table
    * must survive being moved/mounted elsewhere), the row count the
    * committing write observed (statistics for free), and `seq` — the
    * version whose commit added the file. `seq` is what makes
    * merge-on-read deletes sound: an equality-delete tombstone applies
    * exactly to rows in data files with a SMALLER seq (the
    * sequence-number rule of the published formats), so a commit can
    * upsert a key by tombstoning it and appending the new row in the
    * same version without the tombstone eating its own row.
    *
    * `stats` are optional per-column (min, max) bounds EMBEDDED at
    * commit time (the Iceberg manifest-stats shape — [[commit]] with
    * `statsCols`): read from the same footer pass that counts rows, and
    * what lets [[zoneMapManifest]] plan a pruned scan from manifest TEXT
    * alone — zero footer I/O at query time. Same conservative decode as
    * the zone maps (lossy INT64 widened; a column absent here is
    * unprunable, never prunable).
    *
    * `bytes` is the file's size, embedded by the commit's write (`-1` on
    * entries from pre-size manifests — callers fall back to a stat):
    * what lets scan planning ([[graft.sources.GraftSnapFileIndex]]) and
    * [[optimizeFiles]]'s output sizing run from manifest text alone —
    * on an object store, one avoided HEAD request per file per query.
    */
  /** `strStats` are the STRING twins of `stats` — per-column (min, max)
    * UTF-8 bounds from the same footer pass (parquet binary statistics,
    * the zone-map layer's string rules), rendered base64url in the
    * manifest (`z=` field) so arbitrary text can never split an entry
    * line. What lets the front door prune `WHERE source = 'cc'` scans
    * from manifest text alone, exactly like the numeric bounds.
    */
  final case class FileEntry(path: String, rows: Long, seq: Long,
                             stats: Map[String, (Double, Double)] = Map.empty,
                             bytes: Long = -1L,
                             strStats: Map[String, (String, String)] = Map.empty)

  /** `files` hold rows; `deletes` hold equality-delete KEYS (one-column
    * parquet tombstones) that suppress older rows of the same key at
    * read time, and `posDeletes` hold POSITION tombstones (`_file`,
    * `_pos` parquet rows — the Iceberg-v2 dual) that suppress specific
    * (file, row-position) pairs regardless of key — the route for
    * row-level DELETE WHERE on a non-key predicate. Both are the
    * merge-on-read half of the format, contrasting the copy-on-write
    * route ([[Reconcile.mergeTouched]] under a replace commit): deletes
    * cost O(batch) at write and an anti-join at read, until
    * [[compactMerged]] materializes them away. `ts` is the commit's
    * wall-clock (epoch millis) — what `AS OF <timestamp>` resolves
    * against ([[versionAsOf]]).
    */
  /** A schema-evolution RULE recorded in the manifest header (never in
    * the data): at `seq`, either RENAME `from`→`to` (`to` nonEmpty) or
    * DROP `from` (`to` empty). Rules apply at READ time to files whose
    * own seq predates the rule — files written after it already carry
    * the new shape — which is what makes rename/drop zero-rewrite, the
    * same move Iceberg makes with field IDs (here: ordered name rules,
    * no data pass, no field-ID rewrite of existing footers).
    */
  final case class SchemaRule(seq: Long, from: String, to: String) {
    def isDrop: Boolean = to.isEmpty
  }

  final case class Snapshot(version: Long, parent: Long, note: String,
                            files: Seq[FileEntry],
                            deletes: Seq[FileEntry] = Seq.empty,
                            posDeletes: Seq[FileEntry] = Seq.empty,
                            ts: Long = 0L,
                            rules: Seq[SchemaRule] = Seq.empty)

  def init(root: String): String = {
    SnapIO.mkdirs(SnapIO.join(root, SnapDir))
    SnapIO.mkdirs(SnapIO.join(root, DataDir))
    root
  }

  // ---- manifest encoding ----------------------------------------------------
  // Dependency-free single-line-per-file text (the manifest is the
  // format's public contract — any tool must parse it without this jar).
  // Version manifest (v00000003.txt):
  //   version=3
  //   parent=2
  //   note=append
  //   ts=1755300000000
  //   segment=_graft_snaps/seg_ab12cd34ef56.txt
  //   segment=_graft_snaps/seg_0f9e8d7c6b5a.txt
  // Segment (immutable, written once by the commit that adds its entries):
  //   file=data/<uuid>/part-...parquet|12345|3
  //   delete=data/<uuid>/part-...parquet|17|3
  //   posdelete=data/<uuid>/part-...parquet|9|3
  // Pre-segmentation manifests carried file=/delete= lines INLINE; those
  // still parse (and the first commit on top of one adopts them into a
  // segment), so a table written by an older engine keeps working.

  /** Raw manifest contents: header + ordered segment refs + any legacy
    * inline entries. [[snapshot]] resolves this to a flat [[Snapshot]].
    */
  private final case class ManifestDoc(version: Long, parent: Long,
                                       note: String, ts: Long,
                                       segments: Seq[String],
                                       rules: Seq[SchemaRule],
                                       inlineFiles: Seq[FileEntry],
                                       inlineDeletes: Seq[FileEntry],
                                       inlinePosDeletes: Seq[FileEntry])

  private def parseEntries(lines: Seq[String], prefix: String): Seq[FileEntry] =
    lines.filter(_.startsWith(prefix)).map { l =>
      val parts = l.substring(prefix.length).split('|')
      // path never contains '|' (uuid + Spark part names); the last two
      // core fields are rows and seq, plus optional trailing tagged
      // fields — `b=` (file size) and `s=` (column stats) — entries
      // without them (pre-size / pre-stats manifests) parse with the
      // defaults, so old tables keep working
      var core = parts
      var stats = Map.empty[String, (Double, Double)]
      var strStats = Map.empty[String, (String, String)]
      var bytes = -1L
      var tagged = true
      while (tagged && core.length > 2) {
        val last = core.last
        if (last.startsWith("s=")) {
          stats = parseStats(last.substring(2)); core = core.dropRight(1)
        } else if (last.startsWith("b=")) {
          bytes = last.substring(2).toLong; core = core.dropRight(1)
        } else if (last.startsWith("z=")) {
          strStats = parseStrStats(last.substring(2)); core = core.dropRight(1)
        } else tagged = false
      }
      FileEntry(core.dropRight(2).mkString("|"),
        core(core.length - 2).toLong, core(core.length - 1).toLong,
        stats, bytes, strStats)
    }

  // stats field: `s=col:min:max;col2:min:max` — column names are
  // validated identifier-safe at commit ([[commit]]), doubles round-trip
  // through Double.toString/toDouble exactly
  private def parseStats(s: String): Map[String, (Double, Double)] =
    if (s.isEmpty) Map.empty
    else s.split(';').map { e =>
      val fs = e.split(':')
      fs(0) -> (fs(1).toDouble, fs(2).toDouble)
    }.toMap

  private def renderStats(stats: Map[String, (Double, Double)]): String =
    if (stats.isEmpty) ""
    else stats.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s"$c:$mn:$mx" }
      .mkString("|s=", ";", "")

  private def renderBytes(bytes: Long): String =
    if (bytes < 0) "" else s"|b=$bytes"

  // string-stats field: `z=col:<b64url(min)>:<b64url(max)>;col2:...` —
  // base64url WITHOUT padding keeps the value free of every structural
  // character (| ; : = newline), so arbitrary committed text can never
  // split or forge an entry line; UTF-8 round-trips exactly
  private val b64e = java.util.Base64.getUrlEncoder.withoutPadding()
  private val b64d = java.util.Base64.getUrlDecoder

  private def parseStrStats(s: String): Map[String, (String, String)] =
    if (s.isEmpty) Map.empty
    else s.split(';').map { e =>
      // limit -1: an empty-string bound encodes as an EMPTY base64 field
      // (`col::`), and the default split drops trailing empty fields —
      // without the limit a legal all-empty-values commit would brick
      // every later parse of the table
      val fs = e.split(":", -1)
      def dec(x: String) = new String(b64d.decode(x), "UTF-8")
      fs(0) -> (dec(fs(1)), dec(fs(2)))
    }.toMap

  private def renderStrStats(stats: Map[String, (String, String)]): String =
    if (stats.isEmpty) ""
    else stats.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) =>
        s"$c:${b64e.encodeToString(mn.getBytes("UTF-8"))}:" +
          b64e.encodeToString(mx.getBytes("UTF-8"))
      }
      .mkString("|z=", ";", "")

  private def renderEntries(files: Seq[FileEntry], deletes: Seq[FileEntry],
                            posDeletes: Seq[FileEntry]): String =
    (files.map(f => s"file=${f.path}|${f.rows}|${f.seq}" +
        s"${renderBytes(f.bytes)}${renderStats(f.stats)}" +
        renderStrStats(f.strStats)) ++
      deletes.map(f => s"delete=${f.path}|${f.rows}|${f.seq}") ++
      posDeletes.map(f => s"posdelete=${f.path}|${f.rows}|${f.seq}"))
      .mkString("", "\n", "\n")

  private def parseDoc(text: String): ManifestDoc = {
    val lines = text.linesIterator.toSeq
    def one(k: String) = lines.collectFirst {
      case l if l.startsWith(s"$k=") => l.substring(k.length + 1) }
    // header rule lines: `rename=<seq>:<from>:<to>` / `drop=<seq>:<col>`
    val rules = lines.flatMap { l =>
      if (l.startsWith("rename=")) {
        val fs = l.substring("rename=".length).split(':')
        Some(SchemaRule(fs(0).toLong, fs(1), fs(2)))
      } else if (l.startsWith("drop=")) {
        val fs = l.substring("drop=".length).split(':')
        Some(SchemaRule(fs(0).toLong, fs(1), ""))
      } else None
    }.sortBy(_.seq)
    ManifestDoc(one("version").get.toLong, one("parent").get.toLong,
      one("note").get, one("ts").map(_.toLong).getOrElse(0L),
      lines.filter(_.startsWith("segment="))
        .map(_.substring("segment=".length)),
      rules,
      parseEntries(lines, "file="), parseEntries(lines, "delete="),
      parseEntries(lines, "posdelete="))
  }

  /** Full path string of one version's manifest — the [[SnapIO]] currency,
    * so a root can be local or any `FileSystem` URI.
    */
  private def manifestPath(root: String, v: Long): String =
    SnapIO.join(SnapIO.join(root, SnapDir), f"v$v%08d.txt")

  // A manifest is IMMUTABLE once its version is published (the arbiter
  // guarantees create-if-absent), so its parsed doc caches safely by
  // absolute path — `history()`/`versionAsOf()` walk every version's
  // header and would otherwise re-read V files per call (a GET each on
  // an object store). Bounded LRU by doc count (headers are tiny — the
  // O(files) entry text lives in segments, cached separately by line
  // budget). [[vacuum]] invalidates the docs of the versions it drops in
  // this process; a vacuum in ANOTHER process can leave a stale cached
  // doc, which only changes where the doomed read fails (at the deleted
  // data files instead of the deleted manifest) — the retention contract
  // already declares that reader lost.
  private object docCache {
    private val MaxDocs = 8192
    private val map = new java.util.LinkedHashMap[String, ManifestDoc](
      256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ManifestDoc]): Boolean =
        size() > MaxDocs
    }
    def getOrLoad(key: String)(load: => ManifestDoc): ManifestDoc =
      synchronized {
        val hit = map.get(key)
        if (hit != null) hit
        else { val d = load; map.put(key, d): Unit; d }
      }
    def invalidate(key: String): Unit = synchronized { map.remove(key): Unit }
  }

  /** Test hook: forget a cached manifest doc. Only legacy-table
    * SIMULATIONS need it (they rewrite a published manifest by hand,
    * which no real engine ever does — manifests are immutable).
    */
  private[graft] def invalidateManifestCache(root: String, v: Long): Unit =
    docCache.invalidate(manifestPath(root, v))

  private def readDoc(root: String, v: Long): ManifestDoc = {
    val p = manifestPath(root, v)
    docCache.getOrLoad(p) {
      parseDoc(new String(SnapIO.readAll(p), "UTF-8"))
    }
  }

  /** One version's commit NOTE from the manifest HEADER alone — a cached
    * O(1) text read, never the segment file lists. The streaming sink's
    * high-water recovery walks every version's note at construction;
    * materializing full [[snapshot]]s there would be O(versions × files)
    * segment parsing for a field the header already carries.
    */
  def commitNote(root: String, v: Long): String = readDoc(root, v).note

  /** The stats column set the HEAD's entries carry (numeric `s=` and
    * string `z=` bounds united) — what SQL-surface writes (INSERT,
    * CALL optimize) inherit, since SQL has no statsCols option and a
    * rewrite that dropped the bounds would silently kill file skipping
    * table-wide.
    */
  def headStatsCols(root: String): Seq[String] =
    latestVersion(root).map { h =>
      val fs = snapshot(root, h).files
      (fs.flatMap(_.stats.keys) ++ fs.flatMap(_.strStats.keys))
        .distinct.sorted
    }.getOrElse(Seq.empty)

  /** All committed versions, ascending. O(versions) directory listing. */
  def versions(root: String): Seq[Long] =
    SnapIO.list(SnapIO.join(root, SnapDir))
      .map(_.name).filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(n => n.substring(1, n.length - 4).toLong).sorted

  def latestVersion(root: String): Option[Long] = versions(root).lastOption

  /** The version a reader pinned, else the latest committed one. */
  private def resolve(root: String, version: Option[Long]): Long =
    version.orElse(latestVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))

  // Segment files are IMMUTABLE once linked into a manifest, so their
  // parsed lines cache safely by absolute path — history() walks V
  // versions whose manifests share segments (O(V²) refs but O(V)
  // distinct files), and against an object store every avoided re-read
  // is a GET. Bounded by TOTAL cached lines, not entry count: one
  // wide-commit segment is O(files) lines (401 KB at the 4,096-file
  // fixture), so a count bound alone could pin GBs. LRU eviction; any
  // evicted entry re-reads correctly.
  private object segCache {
    private val MaxLines = 1 << 20 // ~1M entry lines ≈ low tens of MB
    private val map = new java.util.LinkedHashMap[String, Seq[String]](
      256, 0.75f, true)
    private var totalLines = 0L
    def getOrLoad(key: String)(load: => Seq[String]): Seq[String] =
      synchronized {
        val hit = map.get(key)
        if (hit != null) hit
        else {
          val lines = load
          map.put(key, lines): Unit
          totalLines += lines.size
          val it = map.entrySet().iterator()
          while (totalLines > MaxLines && it.hasNext) {
            val eldest = it.next()
            if (eldest.getKey != key) {
              totalLines -= eldest.getValue.size
              it.remove()
            }
          }
          lines
        }
      }
    def clear(): Unit = synchronized { map.clear(); totalLines = 0L }
  }

  /** Test/diagnostic hook: count of segment files actually READ from
    * storage (cache misses) — what the streaming source's O(delta)
    * planning contract is asserted against.
    */
  private[graft] val segmentReads = new java.util.concurrent.atomic.AtomicLong

  /** Test hook: drop every cached segment so a read-count assertion
    * measures true storage reads, not a warm cache.
    */
  private[graft] def clearSegmentCacheForTests(): Unit = segCache.clear()

  private def segmentLines(root: String, rel: String): Seq[String] =
    segCache.getOrLoad(SnapIO.join(root, rel)) {
      segmentReads.incrementAndGet(): Unit
      new String(SnapIO.readAll(SnapIO.join(root, rel)), "UTF-8")
        .linesIterator.toSeq
    }

  /** Resolve one version to its flat file lists: the manifest header plus
    * its segments' entries, concatenated in segment order (plus any
    * legacy inline entries). O(segments) small text reads, immutable
    * segments served from cache.
    */
  def snapshot(root: String, v: Long): Snapshot = {
    val doc = readDoc(root, v)
    val segLines = doc.segments.flatMap(segmentLines(root, _))
    Snapshot(doc.version, doc.parent, doc.note,
      doc.inlineFiles ++ parseEntries(segLines, "file="),
      doc.inlineDeletes ++ parseEntries(segLines, "delete="),
      doc.inlinePosDeletes ++ parseEntries(segLines, "posdelete="),
      doc.ts, doc.rules)
  }

  /** Resolve an `AS OF <timestamp>` read to a version: the LATEST version
    * whose commit timestamp is <= `tsMillis` — a timestamp between two
    * commits resolves to the earlier one, exactly the Delta/Iceberg
    * contract. Commit timestamps are the single committing process's
    * wall-clock and versions are linear, so the (version, ts) sequence is
    * monotone for any one writer clock; O(versions) header reads.
    */
  def versionAsOf(root: String, tsMillis: Long): Long = {
    val vs = versions(root)
    require(vs.nonEmpty, s"no committed version under $root")
    val hit = vs.map(v => v -> readDoc(root, v).ts)
      .filter(_._2 <= tsMillis).map(_._1)
    require(hit.nonEmpty,
      s"timestamp $tsMillis predates the first commit of $root " +
        s"(earliest ts=${readDoc(root, vs.head).ts})")
    hit.max
  }

  /** The plain-files contract, stated ONCE: any path that feeds a
    * version's raw files straight to a scan must refuse live
    * merge-on-read tombstones (equality or position) — the raw files
    * would silently surface deleted keys and stale pre-upsert rows.
    * [[readMerged]] is the tombstone-aware read; [[compactMerged]]
    * materializes them away.
    */
  private def requirePlainFiles(snap: Snapshot, root: String,
                                what: String): Unit =
    require(snap.deletes.isEmpty && snap.posDeletes.isEmpty,
      s"version ${snap.version} of $root has live merge-on-read " +
        s"tombstones; $what would return deleted/stale rows — use " +
        "readMerged (or compactMerged to materialize them away)")

  /** The stable-names contract: any path that compiles predicates or
    * stats against RAW file column names must refuse live rename/drop
    * rules — older files still carry pre-rule names, so a predicate on
    * the current name would silently miss their rows. [[read]] /
    * [[readMerged]] apply the rules; a compacting rewrite materializes
    * the current shape and retires them.
    */
  private def requireStableNames(snap: Snapshot, root: String,
                                 what: String): Unit =
    require(snap.rules.isEmpty,
      s"version ${snap.version} of $root has live rename/drop schema " +
        s"rules; $what works on raw file column names and would " +
        "silently miss pre-rule files' rows — read through read()/" +
        "readMerged, or materialize the shape with a compacting rewrite")

  /** The front-door readability contract, stated once for
    * [[graft.sources.SnapshotDataSource]]: one `HadoopFsRelation` can
    * express neither the merge-on-read anti-joins nor the per-group
    * rename/drop union, so a version carrying live tombstones or schema
    * rules is refused loudly — read it through [[readMerged]], or
    * compact ([[compactMerged]] / [[optimizeFiles]]) to materialize.
    */
  private[graft] def requireFrontDoor(snap: Snapshot, root: String): Unit = {
    requirePlainFiles(snap, root, "a graft-snap relation read")
    requireStableNames(snap, root, "a graft-snap relation read")
    require(snap.files.nonEmpty,
      s"version ${snap.version} of $root lists no files; read it with an " +
        "explicit schema via spark.read.schema(...).parquet or commit data")
  }

  /** [[read]] resolved by wall-clock instead of version — the `AS OF
    * <timestamp>` form users actually type.
    */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long,
               evolved: Boolean = false): DataFrame =
    read(spark, root, Some(versionAsOf(root, tsMillis)), evolved)

  /** Read the table AS OF `version` (default: latest). The manifest's
    * file list feeds `spark.read.parquet(files)` directly — planning-time
    * scan scoping, so a pinned reader is untouched by any later commit,
    * REPLACE included. An empty table (no commits, or a version with no
    * files) is represented by an empty manifest and needs the caller's
    * schema to produce a typed empty frame.
    *
    * Plain-files contract: this is the PLAIN read — it refuses a version
    * with live merge-on-read tombstones (equality or position deletes),
    * because returning the raw files would silently surface deleted keys
    * and stale pre-upsert rows. Read such a version through
    * [[readMerged]], or retire the tombstones with [[compactMerged]].
    */
  def read(spark: SparkSession, root: String,
           version: Option[Long] = None,
           evolved: Boolean = false): DataFrame = {
    val v = resolve(root, version)
    val snap = snapshot(root, v)
    requirePlainFiles(snap, root, "a plain file read")
    val files = snap.files
    require(files.nonEmpty, s"version $v of $root lists no files; " +
      "read it with an explicit schema via spark.read.schema(...)")
    // RENAME/DROP rules present: files predating a rule need it applied
    // at scan time, so the read goes per commit group (same seq = same
    // committed shape), each group renamed/dropped into the CURRENT
    // shape, then unioned by name with missing columns as NULL (additive
    // evolution rides along for free on this path).
    if (snap.rules.nonEmpty) {
      return snap.files.groupBy(_.seq).toSeq.sortBy(_._1).map {
        case (seq, fs) => applyRules(
          spark.read.parquet(fs.map(f => s"$root/${f.path}"): _*),
          snap.rules, seq)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    // `evolved = true` turns on SCHEMA EVOLUTION for the scan: the read
    // schema becomes the union of every listed file's schema (Spark's
    // mergeSchema — a footer pass over the manifest's files at planning
    // time), so a commit that appended rows WITH A NEW COLUMN reads
    // alongside old files, whose rows surface NULL for it — additive
    // evolution exactly as the lakehouse formats define it. Off by
    // default: a single-schema table should not pay the extra footer
    // pass, and a reader pinned to a pre-evolution version sees the old
    // schema either way (its manifest lists only old files).
    val r = if (evolved) spark.read.option("mergeSchema", "true")
            else spark.read
    r.parquet(files.map(f => s"$root/${f.path}"): _*)
  }

  /** Scan-plan a snapshot version through the generic zone map: per-file
    * min/max stats from the MANIFEST'S files' footers (never a directory
    * listing — dead files from other versions are invisible), pruned by
    * [[Layout.zonePrune]]'s interval intersection, surviving files fed
    * straight to the scan. This is the composed lakehouse read path —
    * snapshot isolation picks WHICH files exist, file stats pick which
    * of those can matter — and both halves are O(files) metadata work.
    * Callers that scan repeatedly should build `stats` once via
    * [[zoneMap]] and prune per query. Same plain-files contract as
    * [[read]]: refuses a version with live tombstones.
    */
  def readPruned(spark: SparkSession, root: String,
                 preds: Seq[(String, Any, Any)],
                 version: Option[Long] = None): DataFrame =
    prunedRead(spark, root, preds, version)(zoneMap(spark, root, _, _, _))

  /** The one body of [[readPruned]] and [[readPrunedManifest]]: `stats`
    * builds the zone-map table of (numeric columns, version, string
    * columns), and [[Layout.zonePrune]] keeps the files the predicates
    * can match — numeric predicates prune on numeric bounds, the others
    * on string bounds.
    */
  private def prunedRead(spark: SparkSession, root: String,
                         preds: Seq[(String, Any, Any)],
                         version: Option[Long])(
      stats: (Seq[String], Option[Long], Seq[String]) => DataFrame): DataFrame = {
    val v = resolve(root, version)
    val snap = snapshot(root, v)
    requirePlainFiles(snap, root, "a pruned file read")
    requireStableNames(snap, root, "a pruned file read")
    require(snap.files.nonEmpty, s"version $v of $root lists no files; " +
      "read it with an explicit schema via spark.read.schema(...)")
    val numeric = preds.filter(_._2.isInstanceOf[Number]).map(_._1)
    val strings = preds.filterNot(_._2.isInstanceOf[Number]).map(_._1)
    val survivors = Layout.zonePrune(stats(numeric, Some(v), strings), preds)
    if (survivors.isEmpty) {
      // every zone misses: the result is PROVABLY empty — return an
      // empty frame with the table's schema (from one manifest file's
      // footer) instead of making the caller special-case it
      spark.read.parquet(s"$root/${snap.files.head.path}").limit(0)
    } else spark.read.parquet(survivors: _*)
  }

  /** The zone-map stats table ([[Layout.zoneMapFooters]] semantics) for
    * one snapshot VERSION: stats come from the manifest's file list, so
    * they describe exactly what that version's scan would read.
    * `strCols` (after `version` for source compatibility) are the
    * string-statistics columns, as in [[Layout.zoneMapFootersFor]].
    */
  def zoneMap(spark: SparkSession, root: String, cols: Seq[String],
              version: Option[Long] = None,
              strCols: Seq[String] = Seq.empty): DataFrame = {
    val v = resolve(root, version)
    val snap = snapshot(root, v)
    requireStableNames(snap, root,
      "a zone-map stats build (stats key raw file column names)")
    Layout.zoneMapFootersFor(spark,
      snap.files.map(f => s"$root/${f.path}"), cols, strCols)
  }

  /** The zone-map stats table from MANIFEST TEXT alone — zero footer
    * I/O at planning: per-file (min, max) bounds a stats-bearing commit
    * ([[commit]] with `statsCols`) embedded in its entries, shaped
    * exactly like [[zoneMap]]'s output so [[Layout.zonePrune]] consumes
    * either. A file whose entry lacks a requested column's bounds (a
    * pre-stats commit, a column not asked for at its commit, a footer
    * without stats) surfaces NULLs — conservatively KEPT by the pruner,
    * never skipped. At a million files this turns scan planning from a
    * million-footer metadata job into a driver-side string pass — the
    * reason Iceberg manifests carry column bounds.
    */
  def zoneMapManifest(spark: SparkSession, root: String, cols: Seq[String],
                      version: Option[Long] = None,
                      strCols: Seq[String] = Seq.empty): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val v = resolve(root, version)
    val snap0 = snapshot(root, v)
    requireStableNames(snap0, root,
      "a manifest-stats read (stats key committed-time column names)")
    // string bounds surface only when pure ASCII — the same conservative
    // gate as the front-door FileIndex (the footer kernel's cross-row-
    // group merge is UTF-16 order; ASCII winners are valid in the UTF-8
    // byte order Spark compares in, non-ASCII ones may not be); a NULL
    // bound is conservatively kept by zonePrune, never skipped
    def ascii(s: String): Boolean = s.forall(_ < 0x80)
    val rows = snap0.files.map { f =>
      org.apache.spark.sql.Row.fromSeq(
        s"$root/${f.path}" +: f.rows +: (cols.flatMap { c =>
          f.stats.get(c) match {
            case Some((mn, mx)) => Seq(Double.box(mn), Double.box(mx))
            case None => Seq(null, null)
          }
        } ++ strCols.flatMap { c =>
          f.strStats.get(c) match {
            case Some((mn, mx)) if ascii(mn) && ascii(mx) => Seq(mn, mx)
            case _ => Seq(null, null)
          }
        }))
    }
    spark.createDataFrame(rows.asJava, StructType(
      StructField("file", StringType) +: StructField("n_rows", LongType) +:
        (cols.flatMap(c => Seq(StructField(s"min_$c", DoubleType),
          StructField(s"max_$c", DoubleType))) ++
         strCols.flatMap(c => Seq(StructField(s"min_$c", StringType),
           StructField(s"max_$c", StringType))))))
  }

  /** [[readPruned]] planned from MANIFEST-EMBEDDED stats
    * ([[zoneMapManifest]]) instead of a footer pass — the zero-I/O
    * planning path for tables whose commits carried `statsCols`. Files
    * without embedded bounds are conservatively scanned, so this is
    * always correct, and exactly [[readPruned]] when every entry carries
    * stats. Same plain-files contract: refuses live tombstones.
    */
  def readPrunedManifest(spark: SparkSession, root: String,
                         preds: Seq[(String, Any, Any)],
                         version: Option[Long] = None): DataFrame =
    // numeric predicates prune on `s=` bounds, string predicates on the
    // `z=` string bounds
    prunedRead(spark, root, preds, version)(
      zoneMapManifest(spark, root, _, _, _))

  /** [[zoneMap]] at ROW-GROUP granularity ([[Layout.zoneMapRowGroups]]
    * over the manifest's file list): per-(file, row group) stats + byte
    * extents for one snapshot version — compose with
    * [[Layout.zonePruneRowGroups]] and [[Layout.readRowGroups]] for
    * group-level skipping inside the format's large compacted files.
    */
  def zoneMapRowGroups(spark: SparkSession, root: String, cols: Seq[String],
                       version: Option[Long] = None,
                       strCols: Seq[String] = Seq.empty): DataFrame = {
    val v = resolve(root, version)
    val snap = snapshot(root, v)
    requireStableNames(snap, root,
      "a row-group stats build (stats key raw file column names)")
    Layout.zoneMapRowGroups(spark,
      snap.files.map(f => s"$root/${f.path}"), cols, strCols)
  }

  /** The table's commit HISTORY as a DataFrame (`DESCRIBE HISTORY`):
    * one row per retained version with its parent, note, commit
    * timestamp, file/tombstone counts and the manifest row-count sum (an
    * upper bound while tombstones live — see [[countRows]]). Pure
    * manifest reads, O(versions · segments) driver text — the audit-log
    * surface every lakehouse format exposes.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = versions(root).map { v =>
      val s = snapshot(root, v)
      org.apache.spark.sql.Row(s.version, s.parent, s.note, s.ts,
        s.files.size.toLong, (s.deletes.size + s.posDeletes.size).toLong,
        s.files.map(_.rows).sum)
    }
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(
      Seq("version", "parent").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType)) ++
        Seq(org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType)) ++
        Seq("commit_ts", "n_files", "n_tombstones", "manifest_rows").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType))))
  }

  /** Metadata-only `COUNT(*)`: the manifest already carries per-file row
    * counts (footer-read at commit time), so a full count is an O(files)
    * sum with ZERO data reads — the reason lakehouse engines answer
    * `SELECT COUNT(*)` instantly. Honest under merge-on-read: a version
    * with live tombstones (equality or position) returns None (the
    * manifest sum counts suppressed rows too — an upper bound, not a
    * count; `readMerged(...).count()` is the truthful route until
    * [[compactMerged]] retires the tombstones and this becomes exact
    * again).
    */
  def countRows(root: String, version: Option[Long] = None): Option[Long] = {
    val v = resolve(root, version)
    val s = snapshot(root, v)
    if (s.deletes.nonEmpty || s.posDeletes.nonEmpty) None
    else Some(s.files.map(_.rows).sum)
  }

  /** Commit `df` as a new version. `replace = false` appends (new files
    * join the parent's), `replace = true` supersedes (the new version
    * lists ONLY the new files — the commit shape of compaction, merge
    * and every other rewrite). The data write runs FIRST, unserialized
    * (concurrent committers each write their own `data/<uuid>/` dir);
    * only the manifest create is the race, settled by the atomic
    * hard-link: the loser re-reads the new latest and retries — an
    * APPEND rebases losslessly on any winner (its files are its own); a
    * REPLACE aborts with the standard conflict error, because it
    * supersedes a parent that is no longer latest and blind retry would
    * silently drop the winner's commit.
    */
  /** `statsCols` (optional) EMBEDS per-file (min, max) bounds for the
    * named numeric columns into the commit's manifest entries — read
    * from the same footer pass that counts rows, so it costs nothing
    * extra — and later scans prune from manifest text alone
    * ([[zoneMapManifest]]): at a million-file table that is the
    * difference between a pure driver-side string pass and a
    * million-footer planning job. The Iceberg manifests-carry-bounds
    * design.
    */
  def commit(root: String, df: DataFrame, note: String,
             replace: Boolean = false,
             basedOn: Option[Long] = None,
             statsCols: Seq[String] = Seq.empty): Long = {
    // identifier whitelist, not a blocklist: a stats name is rendered
    // verbatim into a one-line manifest entry, so anything outside
    // [A-Za-z0-9_.] (a newline, '=', '|', …) could split or corrupt the
    // line for every later parse of the table
    statsCols.foreach(c => require(c.matches("[A-Za-z0-9_.]+"),
      s"stats column name '$c' must match [A-Za-z0-9_.]+ (it is " +
        "rendered into manifest text)"))
    requireSingleLineNote(note) // fail BEFORE the (long) data write
    // the conflict baseline is captured BEFORE the data write: a schema
    // rule (or, for tombstone commits, a replace) that lands while the
    // long Spark job runs must count as landing AFTER this commit's
    // derivation, else it escapes the publish-time window check and the
    // pre-rule-shaped files get stamped with a post-rule seq
    val entryBase = basedOn.orElse(latestVersion(root))
    publish(root, writeData(root, df, statsCols), Seq.empty, Seq.empty, note,
      replace, entryBase)
  }

  /** Write `df` into a fresh immutable `data/<uuid>/` dir and return its
    * file entries (seq assigned at publish time). Sidecars (_SUCCESS,
    * .crc) stay: hidden files are write infrastructure (they also keep
    * each commit dir a verifiable parquet write root for
    * ModelStore.verifyArtifact); the MANIFEST is this format's commit
    * marker and [[vacuum]] ignores hidden files when deciding what is
    * data. Per-file row counts come from the footers — metadata only,
    * never a re-scan.
    */
  private def writeData(root: String, df: DataFrame,
                        statsCols: Seq[String] = Seq.empty,
                        dirName: Option[String] = None): Seq[FileEntry] = {
    // dirName lets a CTAS attempt pre-pick its commit dir so its ABORT
    // can reclaim even a mid-write failure's debris (a random name would
    // be unattributable to the attempt)
    val uuid = dirName.getOrElse(java.util.UUID.randomUUID().toString.take(12))
    val dataPath = s"$DataDir/$uuid"
    df.write.parquet(s"$root/$dataPath")
    val files = SnapIO.list(SnapIO.join(root, dataPath))
      .filter(s => s.isFile && s.name.endsWith(".parquet") &&
        !s.name.startsWith("."))
      .map(_.name).sorted
    // rows (always) and optional column bounds from ONE footer read per
    // file — the same pass, stats ride free (Layout.fileFooterStats is
    // the zone maps' shared decode kernel: lossy INT64 widened, decimal
    // omitted). Every statsCols name is asked for in BOTH the numeric
    // and the string slot: the decode is typed by the footer's physical
    // type (a numeric column yields no string bounds and vice versa), so
    // callers name columns without declaring their types.
    def footerInfo(path: String)
        : (Long, Map[String, (Double, Double)],
           Map[String, (String, String)], Long) = {
      val (rows, mins, maxs, smins, smaxs) =
        Layout.fileFooterStats(path, statsCols, statsCols)
      val stats = statsCols.indices.flatMap { i =>
        (mins(i), maxs(i)) match {
          case (Some(mn), Some(mx)) => Some(statsCols(i) -> (mn, mx))
          case _ => None // no stats in the footer: unprunable, not wrong
        }
      }.toMap
      val strStats = statsCols.indices.flatMap { i =>
        (smins(i), smaxs(i)) match {
          case (Some(mn), Some(mx)) => Some(statsCols(i) -> (mn, mx))
          case _ => None
        }
      }.toMap
      // the size rides the same pass — what lets later scan planning and
      // OPTIMIZE sizing run from manifest text with zero per-file stats
      (rows, stats, strStats, SnapIO.len(path))
    }
    // wide commits (small-files regime) read footers as a DISTRIBUTED
    // job — a sequential driver loop over 4k+ footers is seconds of
    // driver time locally and minutes against an object store; narrow
    // commits skip the job-scheduling overhead
    val infos: Seq[(String, (Long, Map[String, (Double, Double)],
        Map[String, (String, String)], Long))] =
      if (files.size <= 64) files.map(n => n -> footerInfo(s"$root/$dataPath/$n"))
      else {
        val prefix = s"$root/$dataPath"
        // ship the DRIVER's Hadoop conf into the job: on executors the
        // lazy per-JVM fallback is a bare Configuration() (no active
        // session), which would drop spark.hadoop.* credentials exactly
        // on the wide commits that need the distributed footer pass
        val shipped = SnapIO.ship()
        df.sparkSession.sparkContext
          .parallelize(files, math.min(files.size, 256))
          .map { n =>
            SnapIO.install(shipped.value)
            n -> footerInfo(s"$prefix/$n")
          }.collect().toSeq
      }
    infos.map { case (name, (rows, stats, strStats, bytes)) =>
      FileEntry(s"$dataPath/$name", rows, 0L, stats, bytes, strStats) }
  }

  /** Phase one of the ATOMIC-CTAS surface: write `df`'s files under the
    * table's (manifest-less, hence INVISIBLE) root and return their
    * entries for [[commitStaged]]. A root with no published manifest
    * does not exist to any reader or catalog probe, so staging under
    * the final root costs nothing in visibility — the lakehouse
    * "stage data, publish metadata" two-phase shape.
    */
  private[graft] def stageData(root: String, df: DataFrame,
                               statsCols: Seq[String] = Seq.empty,
                               dirName: Option[String] = None)
      : Seq[FileEntry] = {
    init(root): Unit
    writeData(root, df, statsCols, dirName)
  }

  /** Phase two: publish pre-staged entries as VERSION 1 of a table that
    * must not exist yet — a replace pinned to "empty" (`basedOn = 0`),
    * so a concurrent creator's win surfaces as the standard conflict
    * (never a silent merge of two CTAS outputs) and the loser's staged
    * segments are reclaimed by the abort path.
    */
  private[graft] def commitStaged(root: String, entries: Seq[FileEntry],
                                  note: String): Long = {
    // re-create the scaffold first: a concurrent attempt's ABORT may
    // have rmdir'd the (then-empty) metadata dir between our staging
    // and this publish — init is idempotent, so the scaffold self-heals
    init(root): Unit
    publish(root, entries, Seq.empty, Seq.empty, note,
      replace = true, basedOn = Some(0L))
  }

  /** RESTORE: make version `toVersion`'s exact state the new LATEST — a
    * new commit whose manifest references the old version's SEGMENTS
    * verbatim (entries and seqs preserved, so a merge-on-read state
    * replays identically — and zero entry text is rewritten), undoing a
    * bad commit WITHOUT rewriting data or losing history: the bad
    * version stays readable and auditable until [[vacuum]] retires it,
    * and the restored files are referenced by the new head, so even a
    * `keepVersions = 1` vacuum keeps them. The restore commit is pinned
    * to the current latest — a concurrent commit surfaces as a conflict
    * rather than being silently undone.
    */
  def restore(root: String, toVersion: Long): Long =
    publish(root, Seq.empty, Seq.empty, Seq.empty, s"restore-v$toVersion",
      replace = true, basedOn = None, carrySegmentsOf = Some(toVersion))

  /** CHECKPOINT — collapse the head version's whole segment-ref chain
    * into ONE consolidated segment (entries and seqs copied VERBATIM, so
    * reads, merge-on-read suppression and schema rules replay
    * identically), published as a metadata-only commit referencing just
    * that segment. Deep-history cure: a table's manifests accumulate one
    * ref per commit, so V commits cost O(V²) ref lines across
    * `history()`/`snapshot()` walks and every NEW commit inherits the
    * full chain — after a checkpoint the chain restarts at length 1
    * while old manifests stay untouched (pinned readers and time travel
    * unaffected; the Iceberg manifest-list-compaction move). Cost:
    * O(files) segment text, written once, NO data I/O. Run it every few
    * hundred commits alongside other table maintenance.
    *
    * Pinned to the head it consolidates: a commit landing concurrently
    * surfaces as the standard conflict (re-run — checkpointing is
    * idempotent maintenance, losing a race loses nothing).
    */
  def checkpoint(root: String): Long = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val s = snapshot(root, v)
    val doc = readDoc(root, v)
    val seg = writeSegment(root,
      renderEntries(s.files, s.deletes, s.posDeletes))
    val next = v + 1
    val header = Seq(s"version=$next", s"parent=$v", s"note=checkpoint-v$v",
      s"ts=${System.currentTimeMillis()}") ++ doc.rules.map(renderRule)
    val manifest = (header :+ s"segment=$seg").mkString("", "\n", "\n")
    if (!arbiterFor(root).putIfAbsent(manifestPath(root, next),
        manifest.getBytes("UTF-8"))) {
      SnapIO.deleteIfExists(SnapIO.join(root, seg))
      throw new java.util.ConcurrentModificationException(
        s"checkpoint of $root at v$v lost to a concurrent commit " +
          s"(latest is now v${latestVersion(root).getOrElse(0L)}); re-run")
    }
    next
  }

  /** [[checkpoint]] iff the head manifest's ref chain has reached
    * `maxRefs` — the idempotent MAINTENANCE form: call it after any
    * batch of commits (or from whatever schedules compaction) and the
    * chain stays O(maxRefs) forever, for one O(segments) header read
    * per call when below threshold. Returns the checkpoint version, or
    * None when the chain is still short.
    */
  def checkpointIfDeep(root: String, maxRefs: Int = 256): Option[Long] = {
    require(maxRefs >= 1, "maxRefs must be positive")
    latestVersion(root).flatMap { v =>
      if (readDoc(root, v).segments.size >= maxRefs) Some(checkpoint(root))
      else None
    }
  }

  /** The segment refs a NEW commit chains from `v`: the version's own
    * refs, plus — for a pre-segmentation manifest carrying inline
    * entries — a one-time ADOPTION segment holding those entries
    * verbatim (seqs preserved), so legacy tables upgrade transparently
    * on their next commit. The second element is the freshly written
    * adoption segment, if any — the caller owns its cleanup on a lost
    * race or abort (an unreferenced segment is harmless debris vacuum
    * would eventually age out, but retries shouldn't mint them).
    */
  private def segmentRefsOf(root: String,
                            doc: ManifestDoc): (Seq[String], Option[String]) = {
    val inline = doc.inlineFiles.nonEmpty || doc.inlineDeletes.nonEmpty ||
      doc.inlinePosDeletes.nonEmpty
    if (!inline) (doc.segments, None)
    else {
      val adopted = writeSegment(root,
        renderEntries(doc.inlineFiles, doc.inlineDeletes, doc.inlinePosDeletes))
      (doc.segments :+ adopted, Some(adopted))
    }
  }

  private def renderRule(r: SchemaRule): String =
    if (r.isDrop) s"drop=${r.seq}:${r.from}"
    else s"rename=${r.seq}:${r.from}:${r.to}"

  private def writeSegment(root: String, body: String): String = {
    val name = s"seg_${java.util.UUID.randomUUID().toString.take(12)}.txt"
    SnapIO.write(SnapIO.join(SnapIO.join(root, SnapDir), name),
      body.getBytes("UTF-8"))
    s"$SnapDir/$name"
  }

  /** The arbiter override behind [[withArbiter]]; null means "pick by
    * root" ([[arbiterFor]]). Process-wide: the arbiter is a property of
    * the storage the tables live on, not of one table.
    */
  @volatile private[graft] var arbiter: CommitArbiter = null

  /** Schemes whose `FileSystem.rename` atomically REFUSES an existing
    * destination — the one contract [[HadoopFsArbiter]]'s loser-loses-
    * loudly guarantee stands on. HDFS (and its wrappers) honor it at
    * the namenode; `file://` is the single-JVM test harness for the
    * same protocol (raw-local rename REPLACES, so its cross-process
    * safety comes from the arbiter's same-JVM stripe lock — documented
    * in [[HadoopFsArbiter]]).
    */
  private val RenameAtomicSchemes =
    Set("hdfs", "webhdfs", "swebhdfs", "viewfs", "file")

  /** Schemes KNOWN to violate it — object stores whose "rename" is a
    * non-atomic copy(+check)-then-delete that silently replaces
    * (S3A/GCS/ABFS-class). Routing these to the rename arbiter would
    * let two committers both return true for one version — a silent
    * lost commit, the one failure a table format must never have — so
    * they refuse loudly unless a conditional-PUT arbiter is registered.
    */
  private val ReplaceOnRenameSchemes =
    Set("s3a", "s3", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs",
      "oss", "cosn", "swift", "obs")

  // scheme → user/extension-registered arbiter (e.g. a conditional-PUT
  // implementation against the store's real API for s3a://); checked
  // before the built-in contract table so a registration can also
  // OVERRIDE a default
  private val schemeArbiters =
    new java.util.concurrent.ConcurrentHashMap[String, CommitArbiter]()

  /** Register the commit arbiter for every root on `scheme` — the
    * extension point that makes object-store roots committable: an
    * implementation of [[CommitArbiter]]'s put-if-absent contract
    * against the store's real conditional-write primitive (S3
    * `PUT If-None-Match: *`, GCS `ifGenerationMatch=0`, ABFS
    * conditional create — [[LockFileArbiter]] documents the protocol).
    * Process-wide, like [[withArbiter]].
    */
  def registerArbiter(scheme: String, a: CommitArbiter): Unit =
    schemeArbiters.put(scheme.toLowerCase, a): Unit

  def unregisterArbiter(scheme: String): Unit =
    schemeArbiters.remove(scheme.toLowerCase): Unit

  /** The arbiter behind every manifest publish: a [[withArbiter]]
    * override if one is active, else by the ROOT's storage world —
    * [[HardLinkArbiter]] (POSIX `link(2)`) for local paths, and for
    * `scheme://` roots a PER-SCHEME contract table: a
    * [[registerArbiter]] registration wins; rename-refuses-existing
    * schemes (HDFS family, plus `file://` as the single-JVM harness)
    * take [[HadoopFsArbiter]]; everything else — known replace-on-
    * rename object stores AND unknown schemes — REFUSES loudly. The
    * refusal is deliberate: silently defaulting an `s3a://` root to the
    * rename protocol would degrade the format's single point of
    * atomicity to last-writer-wins.
    */
  private[graft] def arbiterFor(root: String): CommitArbiter = {
    val o = arbiter
    if (o != null) return o
    if (SnapIO.isLocal(root)) return HardLinkArbiter
    val scheme = root.substring(0, root.indexOf("://")).toLowerCase
    val reg = schemeArbiters.get(scheme)
    if (reg != null) reg
    else if (RenameAtomicSchemes.contains(scheme)) HadoopFsArbiter
    else throw new IllegalStateException(
      s"no safe commit arbiter for scheme '$scheme://' ($root): " +
        (if (ReplaceOnRenameSchemes.contains(scheme))
          s"$scheme rename is a non-atomic copy-then-delete that " +
            "silently REPLACES an existing destination, so the rename " +
            "arbiter would lose commits silently under contention. "
        else
          s"'$scheme' is not in the rename-refuses-existing allowlist " +
            s"(${RenameAtomicSchemes.toSeq.sorted.mkString(", ")}) and " +
            "its rename contract is unknown. ") +
        "Register a conditional-PUT arbiter for the scheme " +
        "(Snapshots.registerArbiter(scheme, impl) — the CommitArbiter " +
        "put-if-absent contract over the store's conditional-write " +
        "primitive, e.g. S3 PUT If-None-Match: *), or route commits " +
        "through Snapshots.withArbiter for a one-off")
  }

  /** Run `f` with `a` as the commit arbiter, restoring the previous
    * selection after — the test hook that drives the same concurrency
    * torture through every arbiter. Not for interleaving arbiters across
    * concurrent commits to DIFFERENT stores (the override is process-wide).
    */
  def withArbiter[T](a: CommitArbiter)(f: => T): T = {
    val prev = arbiter
    arbiter = a
    try f finally arbiter = prev
  }

  /** The manifest race: stage, put-if-absent to v(parent+1) (the
    * [[CommitArbiter]] settles it — `link(2)` by default), rebase or
    * abort on loss. New entries land in ONE immutable segment, stamped
    * `seq = v` with the version that finally wins (the sequence-number
    * rule that keeps merge-on-read tombstones from eating their own
    * commit's rows) — on a lost race the O(delta) segment is rewritten
    * with the new seq and the stale one deleted; the O(files) entry text
    * of prior commits is never touched (their segments are chained by
    * reference). `carrySegmentsOf` ([[restore]]) references an old
    * version's segments verbatim instead of adding entries.
    *
    * `posRefs` are the data-file paths this commit's POSITION tombstones
    * reference: a rebase is only sound while every one of them is still
    * listed by the rebased parent — a concurrent REPLACE (compaction,
    * OPTIMIZE, z-order) that dropped any of them would make the DELETE
    * silently no-op (and an UPDATE additionally duplicate its matched
    * rows via the appended rewrites), the lost-update anomaly. The check
    * runs on EVERY rebase iteration and surfaces as the standard
    * conflict (Iceberg's `validateDataFilesExist`).
    */
  private def publish(root: String, newFiles: Seq[FileEntry],
                      newDeletes: Seq[FileEntry],
                      newPosDeletes: Seq[FileEntry], note: String,
                      replace: Boolean, basedOn: Option[Long],
                      carrySegmentsOf: Option[Long] = None,
                      newRule: Option[(String, String)] = None,
                      posRefs: Set[String] = Set.empty): Long = {
    requireSingleLineNote(note) // backstop — entry points fail-fast too
    // a REPLACE writer computed its output FROM some version; `basedOn`
    // pins it (the lakehouse transaction-version pattern) so the commit
    // can detect that the parent moved — whether before this call or
    // during it — and refuse to silently drop the interleaved commit.
    val basedOn0 = basedOn.getOrElse(latestVersion(root).getOrElse(0L))
    def conflict(now: Long) = new java.util.ConcurrentModificationException(
      s"replace commit on $root based on v$basedOn0 lost to v$now; " +
        "recompute against the new latest and re-commit")
    if (replace && latestVersion(root).getOrElse(0L) != basedOn0)
      throw conflict(latestVersion(root).getOrElse(0L))
    val hasNew =
      newFiles.nonEmpty || newDeletes.nonEmpty || newPosDeletes.nonEmpty
    var parent = basedOn0
    var staleSegs: Seq[String] = Seq.empty // last iteration's unreferenced writes
    def dropStale(): Unit = {
      staleSegs.foreach(s => SnapIO.deleteIfExists(SnapIO.join(root, s)))
      staleSegs = Seq.empty
    }
    while (true) {
      dropStale() // the previous iteration lost: its segments reference nothing
      val parentDoc: Option[ManifestDoc] =
        if (parent == 0L || replace) None else Some(readDoc(root, parent))
      // an APPEND that lost the race to a SCHEMA-RULE commit must not
      // rebase blindly: its already-written files carry the PRE-rule
      // shape, but a rebase would stamp them with seq > rule.seq and
      // applyRules would never touch them — permanently mixed shapes.
      // Surface it as the standard conflict; the writer re-derives its
      // batch against the new shape and re-commits.
      if (hasNew)
        parentDoc.foreach { d =>
          val newRules = d.rules.filter(_.seq > basedOn0)
          if (newRules.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"commit on $root based on v$basedOn0 lost to schema-rule " +
                s"commit(s) ${newRules.map(_.seq).mkString(",")}; the " +
                "batch was written in the pre-rule shape — recompute " +
                "against the new schema and re-commit")
        }
      // position tombstones reference exact (file, pos) pairs: the rebase
      // parent must still list every referenced file, else a concurrent
      // replace already rewrote those rows and the tombstones would
      // silently miss (DELETE no-ops; UPDATE duplicates its matches)
      if (posRefs.nonEmpty && parent > 0L) {
        val parentSnap = snapshot(root, parent)
        val parentFiles = parentSnap.files.map(_.path).toSet
        val missing = posRefs.filterNot(parentFiles.contains)
        if (missing.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"position-delete commit on $root based on v$basedOn0 lost " +
              s"to a replace: ${missing.size} referenced data file(s) " +
              s"(e.g. ${missing.head}) are no longer listed at " +
              s"v$parent — recompute the positions against the new " +
              "latest and re-commit")
        // …and the window (basedOn, parent] must have added NO tombstones
        // either (Iceberg's validateNoNewDeletesForDataFiles): a
        // concurrent row-level commit whose tombstones overlap the rows
        // this commit matched would otherwise compose as WRITE-SKEW —
        // two updateWhere's on overlapping rows both publish, each
        // appending its own rewrite while the shared (file, pos)
        // tombstones suppress the original only ONCE, duplicating the
        // doubly-matched rows (an equality tombstone in the window is
        // the same hazard from the other side: this commit's rewrite,
        // stamped with the newer seq, would resurrect a concurrently
        // DELETEd key). Commit-granularity and conservative — a
        // disjoint-row DML pair conflicts too — but row-level DML
        // recompute is O(matched), and silent duplication is not an
        // option.
        if (parent > basedOn0) {
          val winTombs = (parentSnap.deletes ++ parentSnap.posDeletes)
            .filter(f => f.seq > basedOn0 && f.seq <= parent)
          if (winTombs.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"position-delete commit on $root based on v$basedOn0 " +
                s"lost to concurrent tombstone commit(s) " +
                s"${winTombs.map(_.seq).distinct.sorted.mkString(",")} — " +
                "their deletes may overlap this commit's matched rows " +
                "(write-skew); recompute against the new latest and " +
                "re-commit")
        }
      }
      val (parentSegs, parentAdopted) = parentDoc match {
        case Some(d) => segmentRefsOf(root, d)
        case None    => (Seq.empty[String], None)
      }
      val carriedDoc = carrySegmentsOf.map(readDoc(root, _))
      val (carried, carryAdopted) = carriedDoc match {
        case Some(d) => segmentRefsOf(root, d)
        case None    => (Seq.empty[String], None)
      }
      val v = parent + 1
      val ownSeg: Option[String] = if (!hasNew) None else {
        def stamped(es: Seq[FileEntry]) = es.map(_.copy(seq = v))
        Some(writeSegment(root, renderEntries(stamped(newFiles),
          stamped(newDeletes), stamped(newPosDeletes))))
      }
      staleSegs = parentAdopted.toSeq ++ carryAdopted.toSeq ++ ownSeg.toSeq
      // schema rules chain in the HEADER like segments chain as refs:
      // a replace resets them (its files are the new shape), restore
      // carries the target's verbatim, and a new rule stamps the
      // winning version
      val rules = parentDoc.toSeq.flatMap(_.rules) ++
        carriedDoc.toSeq.flatMap(_.rules) ++
        newRule.map { case (f, t) => SchemaRule(v, f, t) }.toSeq
      val header = Seq(s"version=$v", s"parent=$parent", s"note=$note",
        s"ts=${System.currentTimeMillis()}") ++ rules.map(renderRule)
      val manifest = (header ++
        (parentSegs ++ carried ++ ownSeg.toSeq).map(s => s"segment=$s"))
        .mkString("", "\n", "\n")
      // the arbiter is the atomic create-if-absent the protocol needs
      // (link(2) for local roots, stage+rename for FileSystem URIs —
      // see [[CommitArbiter]] for why not a no-replace move, and for
      // the object-store variant): a loss is loud, and the published
      // manifest appears fully written or not at all.
      if (arbiterFor(root).putIfAbsent(manifestPath(root, v),
          manifest.getBytes("UTF-8")))
        return v
      else {
        val now = latestVersion(root).getOrElse(0L)
        if (replace && now != basedOn0) {
          dropStale() // abort: nothing references this attempt's segments
          throw conflict(now)
        }
        parent = now
      }
    }
    sys.error("unreachable")
  }

  /** MERGE-ON-READ change commit — the write-cheap alternative to the
    * copy-on-write rewrite ([[Reconcile.mergeTouched]] + replace
    * commit): upsert rows APPEND as ordinary data files, and the
    * affected keys (upserted AND deleted) land in an equality-delete
    * TOMBSTONE file that [[readMerged]] applies to OLDER rows only
    * (tombstone seq > data-file seq). Write cost is O(batch) no matter
    * where the keys live in the table — no target scan, no partition
    * rewrite; the price moves to read time (a key anti-join) until
    * [[compactMerged]] materializes the state back to plain files.
    * `upserts` and `deleteKeys` must each carry at most one row per key.
    */
  /** The note renders verbatim into ONE manifest header line — a
    * newline would let caller text (the front door's `note` option is
    * user input) inject bogus `segment=`/`rename=` lines that every
    * later commit copies forward, permanently poisoning the table.
    * Checked at every entry point BEFORE the data write (a refused note
    * must not waste the whole Spark job) and again in publish.
    */
  private def requireSingleLineNote(note: String): Unit =
    require(!note.exists(c => c == '\n' || c == '\r'),
      s"commit note must be a single line (got ${note.length} chars " +
        "containing a line break)")

  def commitChanges(root: String, upserts: DataFrame, deleteKeys: DataFrame,
                    keyCol: String, note: String): Long = {
    requireSingleLineNote(note)
    val entryBase = latestVersion(root) // pre-write baseline, as in commit()
    val dataEntries = writeData(root, upserts)
    val tombKeys = upserts.select(col(keyCol))
      .unionByName(deleteKeys.select(col(keyCol))).distinct()
    val tombEntries = writeData(root, tombKeys)
    publish(root, dataEntries, tombEntries, Seq.empty, note,
      replace = false, basedOn = entryBase)
  }

  /** POSITION-DELETE commit — the Iceberg-v2 dual of [[commitChanges]]'s
    * equality deletes: `positions` carries (`_file` — manifest-relative
    * path, `_pos` — the row's within-file index, exactly Spark's
    * `_metadata.row_index`), and [[readMerged]] suppresses those rows by
    * a (file, position) anti-join. This is the route for row-level
    * `DELETE WHERE <non-key predicate>` without a copy-on-write rewrite:
    * O(deleted rows) written, nothing rescanned. Use [[positionsWhere]]
    * to compute the tombstone frame from a predicate.
    */
  def commitPositionDeletes(root: String, positions: DataFrame,
                            note: String,
                            basedOn: Option[Long] = None): Long = {
    require(positions.columns.toSet == Set("_file", "_pos"),
      s"positions must be exactly (_file, _pos); got " +
        positions.columns.mkString(","))
    requireSingleLineNote(note)
    val entryBase = basedOn.orElse(latestVersion(root))
    val entries = writeData(root, positions)
    // the distinct files the tombstones reference — read back from the
    // just-written O(matched)-row tombstone parquet (never a second scan
    // of the table) and handed to publish, which refuses any rebase onto
    // a parent that no longer lists one of them (a concurrent replace
    // would otherwise turn this DELETE into a silent no-op)
    val spark = positions.sparkSession
    val posRefs =
      if (entries.isEmpty) Set.empty[String]
      else spark.read.parquet(entries.map(e => s"$root/${e.path}"): _*)
        .select(col("_file")).distinct()
        .collect().map(_.getString(0)).toSet
    publish(root, Seq.empty, Seq.empty, entries, note,
      replace = false, basedOn = entryBase, posRefs = posRefs)
  }

  /** A version's data files scanned WITH position metadata (`_gfile` =
    * manifest-relative path, `_gpos` = within-file row index) and the
    * rename/drop rules applied per commit group — the shared scan under
    * row-level DML ([[positionsWhere]], [[updateWhere]]) and the change
    * feed's position leg: predicates compile against the CURRENT column
    * names even over pre-rule files, so UPDATE/DELETE work right after a
    * rename with no compaction. `entriesOpt` restricts the scan to a
    * file subset (the change feed scans only referenced files);
    * `withSeq` additionally stamps each row's commit `_gseq`.
    *
    * Rule-free tables take the single-read fast path — WITH mergeSchema:
    * without it the read would adopt one arbitrary footer's schema, and
    * on an additively-evolved table an UPDATE's rewrite could silently
    * DROP the newer column from its rewritten rows (the per-group rules
    * path is naturally safe via unionByName(allowMissingColumns); one
    * commit group always has one schema).
    */
  private def scanWithPositions(spark: SparkSession, root: String,
                                snap: Snapshot,
                                entriesOpt: Option[Seq[FileEntry]] = None,
                                withSeq: Boolean = false): DataFrame = {
    val entries = entriesOpt.getOrElse(snap.files)
    def framed(fs: Seq[FileEntry]) =
      spark.read.option("mergeSchema", "true")
        .parquet(fs.map(f => s"$root/${f.path}"): _*)
        .select(col("*"), relPathCol.as("_gfile"),
          col("_metadata.row_index").as("_gpos"))
    if (snap.rules.isEmpty && !withSeq) framed(entries)
    else entries.groupBy(_.seq).toSeq.sortBy(_._1)
      .map { case (seq, fs) =>
        val f = applyRules(framed(fs), snap.rules, seq)
        if (withSeq) f.withColumn("_gseq", lit(seq)) else f
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The (`_file`, `_pos`) tombstone frame for every raw-file row of
    * `version` matching `pred`, with rename/drop rules applied so the
    * predicate compiles against the CURRENT names. Feed the result to
    * [[commitPositionDeletes]].
    *
    * Scope note: this scans the version's RAW files, so on a
    * merge-on-read table the result may also include positions of rows
    * already suppressed by live tombstones. That is SAFE for the one
    * intended consumer — tombstoning (a re-tombstone of a dead position
    * is idempotent; [[readMerged]] suppresses it exactly once) — but it
    * is NOT a row count of current matches: use
    * `readMerged(...).where(pred).count()` for that.
    */
  def positionsWhere(spark: SparkSession, root: String, pred: Column,
                     version: Option[Long] = None): DataFrame = {
    val v = resolve(root, version)
    scanWithPositions(spark, root, snapshot(root, v))
      .where(pred)
      .select(col("_gfile").as("_file"), col("_gpos").as("_pos"))
  }

  /** RENAME a column with ZERO data rewrite — a metadata-only commit
    * recording the rule in the manifest header: files committed BEFORE
    * it read with the column renamed at scan time; files committed after
    * already carry the new name (writers switch with the schema). The
    * Iceberg rename move, expressed as ordered name rules instead of
    * field IDs. Names must be `:`-free identifiers. Reads of rule-bearing
    * versions go through the per-commit-group path ([[read]]).
    */
  def renameColumn(root: String, from: String, to: String,
                   note: String = ""): Long = {
    Seq(from, to).foreach(c => require(c.nonEmpty && !c.exists(":\n".contains(_)),
      s"column name '$c' must be a nonempty :-free identifier"))
    val visible = visibleColumns(root)
    require(visible.contains(from),
      s"cannot rename '$from': not a column of $root (visible: " +
        s"${visible.mkString(", ")})")
    require(!visible.contains(to),
      s"cannot rename '$from' to '$to': '$to' already exists — the " +
        "renamed groups would carry duplicate columns and every read " +
        "would fail on the ambiguity")
    publish(root, Seq.empty, Seq.empty, Seq.empty,
      if (note.isEmpty) s"rename-$from-to-$to" else note,
      replace = false, basedOn = None, newRule = Some((from, to)))
  }

  /** DROP a column with ZERO data rewrite — the rule's drop flavor:
    * older files shed the column at scan time, newer writers simply
    * stop writing it. Compaction materializes the final shape.
    */
  def dropColumn(root: String, colName: String, note: String = ""): Long = {
    require(colName.nonEmpty && !colName.exists(":\n".contains(_)),
      s"column name '$colName' must be a nonempty :-free identifier")
    require(visibleColumns(root).contains(colName),
      s"cannot drop '$colName': not a column of $root")
    publish(root, Seq.empty, Seq.empty, Seq.empty,
      if (note.isEmpty) s"drop-$colName" else note,
      replace = false, basedOn = None, newRule = Some((colName, "")))
  }

  /** The CURRENT visible column set of the latest version: per commit
    * group, one file's footer field names with the group's newer rules
    * applied (string-level — the same mapping [[applyRules]] does on
    * frames), unioned across groups (additive evolution contributes).
    * O(#groups) footer reads — validation-path cost only.
    */
  private def visibleColumns(root: String): Set[String] = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val snap = snapshot(root, v)
    snap.files.groupBy(_.seq).flatMap { case (seq, fs) =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$root/${fs.head.path}"),
          SnapIO.conf))
      val names = try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSeq
      } finally reader.close()
      snap.rules.filter(_.seq > seq).foldLeft(names) { (ns, r) =>
        if (r.isDrop) ns.filterNot(_ == r.from)
        else ns.map(n => if (n == r.from) r.to else n)
      }
    }.toSet
  }

  /** Apply the schema rules newer than `fileSeq` to one commit-group
    * frame, in rule order — rename chains compose (a→b then b→c), a
    * missing column is a no-op (the group already has the new shape for
    * rules it postdates… which can't happen by seq filtering, but also
    * makes replayed rules harmless).
    */
  private def applyRules(df: DataFrame, rules: Seq[SchemaRule],
                         fileSeq: Long): DataFrame =
    rules.filter(_.seq > fileSeq).foldLeft(df) { (d, r) =>
      if (r.isDrop) d.drop(r.from)
      else if (d.columns.contains(r.from)) d.withColumnRenamed(r.from, r.to)
      else d
    }

  /** Row-level `DELETE WHERE <pred>` on any predicate, key or not — the
    * SQL-user surface over position deletes: compute the matched
    * (file, position) pairs ([[positionsWhere]]) and commit them as
    * tombstones, O(matched rows) written, nothing rewritten. Read the
    * result through [[readMerged]]; [[compactMerged]] materializes.
    */
  def deleteWhere(spark: SparkSession, root: String, pred: Column,
                  note: String = "delete-where"): Long = {
    // pin the version the positions are computed FROM: the publish-time
    // rebase check then covers the whole derive-to-publish window (a
    // replace or schema rule landing mid-scan conflicts, never silently
    // mis-applies)
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    commitPositionDeletes(root,
      positionsWhere(spark, root, pred, Some(v)), note, basedOn = Some(v))
  }

  /** Row-level `UPDATE <set> WHERE <pred>` as ONE atomic commit: the
    * matched rows' positions tombstone AND their rewritten versions
    * append in the same version — copy cost O(matched), never O(table),
    * and a reader sees the old state or the new state, nothing between
    * (the manifest link is the only publish point). The new rows live in
    * NEW files, so the commit's own tombstones (which reference old
    * (file, position) pairs) cannot touch them. `sets` are the SET
    * clauses (column → expression over the old row, named by CURRENT
    * column names — live rename/drop rules are applied to the scan, so
    * UPDATE works right after a rename with no compaction, and the
    * rewritten rows materialize the current shape). Requires a version
    * without live tombstones (positions must map to the raw files);
    * compact first on MOR-churned tables.
    */
  def updateWhere(spark: SparkSession, root: String, pred: Column,
                  sets: Map[String, Column],
                  note: String = "update-where"): Long = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val snap = snapshot(root, v)
    requirePlainFiles(snap, root, "updateWhere (positions must map to " +
      "raw files)")
    val matched = scanWithPositions(spark, root, snap)
      .where(pred)
      // the tombstone write and the rewrite write are two actions over
      // this one frame — persist the MATCHED rows (post-filter, O(matched))
      // so the table scans once, not once per action
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // all SET expressions evaluate against the OLD row SIMULTANEOUSLY
      // (SQL UPDATE semantics): one select mapping every column at once
      // — a sequential withColumn fold would let later clauses see
      // already-updated values (swap(a,b) would corrupt), with Map
      // iteration order as a bonus nondeterminism
      val base = matched.drop("_gfile", "_gpos")
      val unknown = sets.keySet -- base.columns.toSet
      require(unknown.isEmpty,
        s"updateWhere SET names ${unknown.mkString(", ")} are not " +
          s"columns of $root (current shape: ${base.columns.mkString(", ")})")
      val rewritten = base.select(base.columns.toSeq.map(c =>
        sets.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      val dataEntries = writeData(root, rewritten)
      val posEntries = writeData(root,
        matched.select(col("_gfile").as("_file"), col("_gpos").as("_pos")))
      val posRefs = matched.select(col("_gfile")).distinct()
        .collect().map(_.getString(0)).toSet
      publish(root, dataEntries, Seq.empty, posEntries, note,
        replace = false, basedOn = Some(v), posRefs = posRefs)
    } finally { matched.unpersist(): Unit }
  }

  /** OPTIMIZE — collapse a fragmented (small-files) table into
    * ~`targetBytes` files, re-clustered on `orderBy`, as a REPLACE
    * commit: the small-files cure for append churn, transactional like
    * every other rewrite here (pinned readers keep the old layout, the
    * rewrite audits in history, superseded files wait for [[vacuum]]).
    * `statsCols` leaves manifest-embedded bounds behind the rewrite.
    * For tombstone-churned tables use [[compactMerged]] (this one
    * requires a plain version). Output file count comes from real file
    * sizes (O(files) driver stats on the manifest's list).
    */
  def optimizeFiles(spark: SparkSession, root: String,
                    orderBy: Seq[String], targetBytes: Long,
                    statsCols: Seq[String] = Seq.empty): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val base = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val snap = snapshot(root, base)
    requirePlainFiles(snap, root, "optimizeFiles")
    // live rename/drop rules are fine here: the read below applies them
    // per commit group, the rewrite materializes the CURRENT shape, and
    // the replace commit resets the rule chain — OPTIMIZE doubles as the
    // compaction that retires schema rules
    // sizes come from manifest entries when embedded (zero stat calls —
    // one avoided HEAD per file on an object store); pre-size entries
    // fall back to a stat
    val totalBytes = snap.files.map(f =>
      if (f.bytes >= 0) f.bytes
      else SnapIO.len(SnapIO.join(root, f.path))).sum
    val nFiles = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    // evolved = true: the rewrite must materialize the UNION schema —
    // a plain read would adopt one arbitrary footer's shape and an
    // additively-evolved table would lose its newer column table-wide
    val laid = read(spark, root, Some(base), evolved = true)
      .repartitionByRange(nFiles, orderBy.map(col): _*)
      .sortWithinPartitions(orderBy.map(col): _*)
    commit(root, laid, s"optimize-v$base", replace = true,
      basedOn = Some(base), statsCols = statsCols)
  }

  /** `_metadata.file_path` (an absolute URI) relativized to the manifest
    * path form (`data/<uuid>/part-...`): all data files live under the
    * table's single `data/` dir, so everything after the LAST `/data/`
    * is the relative path.
    */
  private def relPathCol: Column =
    concat(lit("data/"),
      substring_index(col("_metadata.file_path"), "/data/", -1))

  /** Read AS OF `version` with merge-on-read semantics: data files union
    * (each stamped with its manifest `seq` — a literal per commit, no
    * filename juggling), tombstones applied by anti-join —
    *
    *  - EQUALITY deletes reduce to their LATEST seq per key (one small
    *    aggregate — tombstones are O(changed keys), so the join side
    *    broadcasts in the common case); a row survives iff no tombstone
    *    for its key is NEWER than the row's file (`row seq >= tombstone
    *    seq` keeps a commit's own upserts alive past its own tombstone);
    *  - POSITION deletes suppress exact (file, row-position) pairs of
    *    files no newer than the tombstone (`row seq <= tombstone seq` —
    *    a position necessarily references an already-committed file).
    *
    * Schema-evolved tables (additive columns between commits) read with
    * missing columns surfaced as NULL, matching `read(evolved = true)`.
    * With no tombstones this is exactly [[read]].
    */
  def readMerged(spark: SparkSession, root: String, keyCol: String,
                 version: Option[Long] = None): DataFrame = {
    val v = resolve(root, version)
    val snap = snapshot(root, v)
    if (snap.deletes.isEmpty && snap.posDeletes.isEmpty)
      return read(spark, root, Some(v))
    val needPos = snap.posDeletes.nonEmpty
    def bySeq(entries: Seq[FileEntry], seqName: String,
              withPos: Boolean): DataFrame =
      entries.groupBy(_.seq).toSeq.sortBy(_._1).map { case (seq, fs) =>
        val raw = spark.read.parquet(fs.map(f => s"$root/${f.path}"): _*)
        val framed =
          if (withPos) raw.select(col("*"), relPathCol.as("_gfile"),
            col("_metadata.row_index").as("_gpos"))
          else raw
        // rename/drop rules apply per commit group here exactly as in
        // [[read]] — equality tombstones written under a pre-rename key
        // name line up with the renamed key for free
        applyRules(framed, snap.rules, seq).withColumn(seqName, lit(seq))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    val base = bySeq(snap.files, "_seq", withPos = needPos)
    val eqApplied = if (snap.deletes.isEmpty) base else {
      val tomb = bySeq(snap.deletes, "_tseq", withPos = false)
        .groupBy(col(keyCol)).agg(max(col("_tseq")).as("_tseq"))
      base.join(tomb, Seq(keyCol), "left")
        .where(col("_tseq").isNull || col("_seq") >= col("_tseq"))
        .drop("_tseq")
    }
    val posApplied = if (!needPos) eqApplied else {
      val ptomb = bySeq(snap.posDeletes, "_pseq", withPos = false)
        .groupBy(col("_file"), col("_pos"))
        .agg(max(col("_pseq")).as("_pseq"))
      eqApplied.join(ptomb,
          col("_gfile") === col("_file") && col("_gpos") === col("_pos"),
          "left")
        .where(col("_pseq").isNull || col("_seq") > col("_pseq"))
        .drop("_file", "_pos", "_pseq", "_gfile", "_gpos")
    }
    posApplied.drop("_seq")
  }

  /** Materialize the merge-on-read state back to plain data files — the
    * compaction that retires tombstones (equality AND position): one
    * [[readMerged]] scan, one REPLACE commit pinned to the version it
    * read (a concurrent change commit surfaces as a conflict, never a
    * lost update). Readers pinned to older versions keep the tombstoned
    * view until [[vacuum]].
    *
    * `clusterBy` re-establishes layout while it rewrites anyway (the
    * free ride every OPTIMIZE takes): MOR churn appends change batches
    * wherever they land, so each new file spans the whole key domain
    * and the [[zoneMap]] skip index stops biting; range-scattering the
    * materialized state into `nFiles` sorted files makes the zones
    * tight again. Empty `clusterBy` keeps the scan's natural
    * partitioning.
    */
  def compactMerged(spark: SparkSession, root: String, keyCol: String,
                    clusterBy: Seq[String] = Seq.empty,
                    nFiles: Int = 0,
                    statsCols: Seq[String] = Seq.empty): Long = {
    val base = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val merged = readMerged(spark, root, keyCol, Some(base))
    val laid =
      if (clusterBy.isEmpty) merged
      else merged.repartitionByRange(math.max(1, nFiles),
          clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    // `statsCols` makes the OPTIMIZE leave manifest-embedded bounds
    // behind ([[zoneMapManifest]]) — the rewrite was reading footers
    // anyway, so the skip index comes back for free with the layout
    commit(root, laid, s"compact-merged-v$base",
      replace = true, basedOn = Some(base), statsCols = statsCols)
  }

  /** The file entries APPENDED in `(from, to]`, planned in O(delta)
    * manifest text — the streaming source's per-micro-batch planner. A
    * manifest chains its parent's segment refs and adds its OWN segment,
    * so each step's delta is `segments(v) -- segments(v-1)`: the walk
    * reads only each version's HEADER (tiny, doc-cached) plus the
    * window's own segments — never the table's O(files) entry text. At a
    * million files and a 1 s trigger, the full-snapshot alternative is
    * the planning bottleneck; this is not.
    *
    * Loud refusals (the stream's append-shape contract — IDENTICAL
    * semantics to the original whole-window check):
    *  - rename/drop schema rules stamped inside the window;
    *  - from > 0 and the window dropped files (a REPLACE broke the
    *    stream's history);
    *  - merge-on-read tombstones (equality or position) LIVE at the
    *    window's head with seq inside the window (a tombstone commit
    *    later superseded by a replace inside the same window is not
    *    live — a fresh consumer legally streams the compacted state).
    *
    * Any step that is not segment-append-shaped (replace, restore,
    * checkpoint, legacy inline manifests) drops the walk to the
    * O(files) whole-window decision — correctness never depends on the
    * fast path.
    */
  private[graft] def windowAppends(root: String, from: Long,
                                   to: Long): Seq[FileEntry] = {
    require(from < to, s"need from < to, got ($from, $to]")
    val toDoc = readDoc(root, to)
    require(!toDoc.rules.exists(r => r.seq > from && r.seq <= to),
      s"($from, $to] of $root contains rename/drop schema rules — a " +
        "stream cannot mix shapes mid-batch; restart the consumer on " +
        "the new schema")
    val out = Seq.newBuilder[FileEntry]
    var clean = true
    var tombstoned = false
    var v = from + 1
    while (clean && v <= to) {
      val doc = readDoc(root, v)
      val prev = if (v - 1 == 0L) None else Some(readDoc(root, v - 1))
      val prevSegs = prev.map(_.segments.toSet).getOrElse(Set.empty[String])
      val inline = (prev.toSeq :+ doc).exists(d =>
        d.inlineFiles.nonEmpty || d.inlineDeletes.nonEmpty ||
          d.inlinePosDeletes.nonEmpty)
      if ((prevSegs -- doc.segments.toSet).nonEmpty || inline) clean = false
      else {
        // the O(delta) hot path: only this step's own segments parse.
        // Entries stamped with an older seq inside a fresh segment are a
        // legacy ADOPTION (inline entries re-homed) — already visible at
        // v-1, not part of this step's append.
        val fresh = doc.segments.filterNot(prevSegs.contains)
          .flatMap(segmentLines(root, _))
        if (fresh.exists(l => l.startsWith("delete=") ||
            l.startsWith("posdelete="))) tombstoned = true
        out ++= parseEntries(fresh, "file=").filter(_.seq == v)
      }
      v += 1
    }
    if (clean && !tombstoned) return out.result()
    windowAppendsSlow(root, from, to)
  }

  private def windowAppendsSlow(root: String, from: Long,
                                to: Long): Seq[FileEntry] = {
    // a tombstone landed, refs shrank (replace / restore / checkpoint)
    // or a legacy inline manifest appeared: decide on the WINDOW's final
    // state, O(files) — the original check, verbatim semantics
    val snap = snapshot(root, to)
    if (from > 0L) {
      val toSet = snap.files.map(_.path).toSet
      require(snapshot(root, from).files.forall(f => toSet.contains(f.path)),
        s"($from, $to] of $root contains a replace commit — the stream " +
          "is broken; reprocess from the replace (new checkpoint)")
    }
    // merge-on-read tombstones (equality or position) landing mid-stream
    // would make already-emitted rows stale (an updateWhere's rewrites
    // would stream as duplicates; a pure delete would stream NOTHING and
    // be silently lost) — the plain-files contract, enforced per window
    require(!(snap.deletes ++ snap.posDeletes)
        .exists(f => f.seq > from && f.seq <= to),
      s"($from, $to] of $root contains merge-on-read tombstone commits " +
        "(updateWhere/deleteWhere/commitChanges) — an append stream " +
        "cannot represent them; consume readMerged states, or compact " +
        "and restart the consumer")
    snap.files.filter(f => f.seq > from && f.seq <= to)
  }

  /** A materialized [[Snapshot]] at `base.version` ADVANCED to `to` in
    * O(delta) manifest text — the CDC stream source's per-micro-batch
    * planner (the tombstone-TOLERANT sibling of [[windowAppends]]:
    * tombstone commits are that source's normal diet, so they join the
    * delta instead of refusing). Each step's fresh segments parse and
    * their entries (all three kinds) append to the base's lists —
    * header reads are doc-cached, so a sequential stream reads each
    * segment exactly once across its whole life. Returns None when any
    * step is not segment-append-shaped (replace / restore / checkpoint
    * / legacy inline manifests) — the caller falls back to the O(files)
    * full materialization; correctness never depends on the fast path.
    * `base.version == 0` means "empty table" (version 0 has no
    * manifest; the walk starts at v1).
    */
  private[graft] def advanceSnapshot(root: String, base: Snapshot,
                                     to: Long): Option[Snapshot] = {
    val from = base.version
    require(from < to, s"need base.version < to, got ($from, $to]")
    val fs = Seq.newBuilder[FileEntry]
    val ds = Seq.newBuilder[FileEntry]
    val ps = Seq.newBuilder[FileEntry]
    var v = from + 1
    while (v <= to) {
      val doc = readDoc(root, v)
      val prev = if (v - 1 == 0L) None else Some(readDoc(root, v - 1))
      val prevSegs = prev.map(_.segments.toSet).getOrElse(Set.empty[String])
      val inline = (prev.toSeq :+ doc).exists(d =>
        d.inlineFiles.nonEmpty || d.inlineDeletes.nonEmpty ||
          d.inlinePosDeletes.nonEmpty)
      if ((prevSegs -- doc.segments.toSet).nonEmpty || inline) return None
      // entries stamped with an older seq inside a fresh segment are a
      // legacy ADOPTION (inline entries re-homed) — already visible at
      // v-1, not part of this step's append
      val fresh = doc.segments.filterNot(prevSegs.contains)
        .flatMap(segmentLines(root, _))
      fs ++= parseEntries(fresh, "file=").filter(_.seq == v)
      ds ++= parseEntries(fresh, "delete=").filter(_.seq == v)
      ps ++= parseEntries(fresh, "posdelete=").filter(_.seq == v)
      v += 1
    }
    val toDoc = readDoc(root, to)
    Some(Snapshot(toDoc.version, toDoc.parent, toDoc.note,
      base.files ++ fs.result(), base.deletes ++ ds.result(),
      base.posDeletes ++ ps.result(), toDoc.ts, toDoc.rules))
  }

  /** Incremental read — the rows APPENDED in versions `(fromVersion,
    * toVersion]`: exactly the data files those commits added (an O(files)
    * manifest diff; no data diffing). The CDC-consumer surface: a
    * downstream pipeline remembers the last version it processed and
    * reads only the increment. Merge-on-read deletes in the window are
    * visible as the same window's tombstone KEYS via the manifests;
    * replace commits reset history and are rejected here (the increment
    * is no longer append-shaped — reprocess from the replace version).
    * The STREAMING consumer of the same increments is
    * [[graft.streaming.StreamOps.snapshotSource]].
    */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got ($fromVersion, $toVersion]")
    // append-shaped window ⇔ everything fromVersion listed is still
    // listed at toVersion (an exact O(files) manifest check — a replace
    // anywhere in the window drops files and fails it)
    val fromFiles = if (fromVersion == 0L) Seq.empty[FileEntry]
                    else snapshot(root, fromVersion).files
    val toSnap = snapshot(root, toVersion)
    val toSet = toSnap.files.toSet
    require(fromFiles.forall(toSet.contains),
      s"($fromVersion, $toVersion] contains a replace commit — " +
        "the increment is not append-shaped; reprocess from the replace")
    require(!toSnap.rules.exists(r =>
        r.seq > fromVersion && r.seq <= toVersion),
      s"($fromVersion, $toVersion] contains rename/drop schema rules — " +
        "a raw increment read would mix shapes; consume per sub-window " +
        "or through readMerged states")
    val files = toSnap.files
      .filter(f => f.seq > fromVersion && f.seq <= toVersion)
    require(files.nonEmpty, s"no files appended in ($fromVersion, $toVersion]")
    spark.read.parquet(files.map(f => s"$root/${f.path}"): _*)
  }

  /** The CHANGE FEED over `(fromVersion, toVersion]` — row-level CDC
    * with operation types (the Delta `table_changes` surface), derived
    * from manifests alone: per window commit,
    *
    *  - a data row whose key that commit ALSO tombstoned is an
    *    `upsert` (the MOR change-commit shape — [[commitChanges]]
    *    tombstones every key it rewrites);
    *  - a data row with no same-commit tombstone is a plain `insert`;
    *  - a tombstoned key with NO new row in its commit is a `delete`,
    *    emitted as a key-only row (payload columns NULL).
    *
    * Output = the table schema plus `_change_type` and
    * `_commit_version` — what a downstream CDC consumer applies in
    * version order. Same append-shaped window contract as
    * [[changesBetween]] (a replace resets history).
    *
    * POSITION-DELETE commits in the window ([[deleteWhere]] /
    * [[updateWhere]]) feed too: the deleted rows' FULL payload is
    * recovered by keying each tombstone back to its row — the tombstone
    * parquet carries (`_file`, `_pos`), the referenced data files are
    * scanned WITH position metadata (only the referenced files, never
    * the whole table), and the join restores the row, emitted as a
    * `delete` at the tombstone's commit version. A position already
    * tombstoned before the window (a re-delete of a dead row —
    * [[positionsWhere]] scans raw files, so a later DELETE can re-match
    * it) is excluded; a position tombstoned twice inside the window
    * feeds once, at the FIRST deleting version. An [[updateWhere]]
    * commit therefore feeds as delete(old row) + insert(new row) — the
    * split-update CDC representation.
    */
  def changeFeed(spark: SparkSession, root: String, fromVersion: Long,
                 toVersion: Long, keyCol: String): DataFrame = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got ($fromVersion, $toVersion]")
    val fromFiles = if (fromVersion == 0L) Seq.empty[FileEntry]
                    else snapshot(root, fromVersion).files
    changeFeedOn(spark, root, fromFiles, snapshot(root, toVersion),
      fromVersion, toVersion, keyCol)
  }

  /** [[changeFeed]] over PRECOMPUTED manifest state — the CDC stream
    * source's entry point: it advances a cached snapshot per micro-batch
    * ([[advanceSnapshot]], O(delta) reads) and must not pay two full
    * O(files) materializations per 1 s trigger just to hand them back
    * here. Same checks, same output; `fromFiles`/`toSnap` must be the
    * window ends' true states.
    */
  private[graft] def changeFeedOn(spark: SparkSession, root: String,
                                  fromFiles: Seq[FileEntry], toSnap: Snapshot,
                                  fromVersion: Long, toVersion: Long,
                                  keyCol: String): DataFrame = {
    val toSet = toSnap.files.toSet
    require(fromFiles.forall(toSet.contains),
      s"($fromVersion, $toVersion] contains a replace commit — " +
        "the change feed is not append-shaped; reprocess from the replace")
    require(!toSnap.rules.exists(r =>
        r.seq > fromVersion && r.seq <= toVersion),
      "window contains rename/drop schema rules — feed rows would mix " +
        "shapes; consume via readMerged states instead")
    val dataFiles = toSnap.files
      .filter(f => f.seq > fromVersion && f.seq <= toVersion)
    val tombFiles = toSnap.deletes
      .filter(f => f.seq > fromVersion && f.seq <= toVersion)
    val posFiles = toSnap.posDeletes
      .filter(f => f.seq > fromVersion && f.seq <= toVersion)
    require(dataFiles.nonEmpty || tombFiles.nonEmpty || posFiles.nonEmpty,
      s"no changes in ($fromVersion, $toVersion]")
    // ONE scan per side regardless of window depth: every file's commit
    // version comes from a broadcast (relative path → seq) join against
    // the manifest entries — a 200-version window is 2 reads + joins,
    // never 200 per-version read plans
    import org.apache.spark.sql.functions.broadcast
    def withVersion(entries: Seq[FileEntry], project: DataFrame => DataFrame)
        : Option[DataFrame] =
      if (entries.isEmpty) None else {
        import spark.implicits._
        val seqs = broadcast(entries.map(e => (e.path, e.seq))
          .toDF("_gf_path", "_commit_version"))
        Some(project(
          spark.read.parquet(entries.map(f => s"$root/${f.path}"): _*))
          .withColumn("_gf_path", relPathCol)
          .join(seqs, "_gf_path").drop("_gf_path"))
      }
    val data = withVersion(dataFiles, identity)
    val tomb = withVersion(tombFiles, _.select(col(keyCol))).map(_.distinct())
    val inserts = (data, tomb) match {
      case (Some(d), Some(t)) =>
        // a data row is an `upsert` iff its OWN commit also tombstoned
        // its key — join on (key, version), marker NULL ⇒ plain insert
        val marked = t.withColumn("_gf_tomb", lit(true))
        Some(d.join(marked, Seq(keyCol, "_commit_version"), "left")
          .withColumn("_change_type",
            when(col("_gf_tomb").isNotNull, "upsert").otherwise("insert"))
          .drop("_gf_tomb"))
      case (Some(d), None) =>
        Some(d.withColumn("_change_type", lit("insert")))
      case _ => None
    }
    val deletes = (data, tomb) match {
      case (Some(d), Some(t)) =>
        Some(t.join(d.select(col(keyCol), col("_commit_version")),
            Seq(keyCol, "_commit_version"), "left_anti")
          .withColumn("_change_type", lit("delete")))
      case (None, Some(t)) =>
        Some(t.withColumn("_change_type", lit("delete")))
      case _ => None
    }
    // position-delete leg: tombstones → (file, pos, first deleting
    // version), minus positions already dead before the window (under
    // EITHER tombstone kind), joined back to the referenced files' rows
    // (scanned with position metadata via the shared DML scan, so
    // pre-window rename/drop rules apply per commit group)
    val posDeletes: Option[DataFrame] = if (posFiles.isEmpty) None else {
      val winTombs = withVersion(posFiles, identity).get
        .groupBy(col("_file"), col("_pos"))
        .agg(org.apache.spark.sql.functions.min(col("_commit_version"))
          .as("_commit_version"))
      val priorFiles = toSnap.posDeletes.filter(_.seq <= fromVersion)
      val tombs =
        if (priorFiles.isEmpty) winTombs
        else winTombs.join(
          spark.read.parquet(priorFiles.map(f => s"$root/${f.path}"): _*),
          Seq("_file", "_pos"), "left_anti")
      // only the files the tombstones reference are scanned — their
      // distinct paths are O(table files) strings at worst (driver-side,
      // same order as the manifest itself)
      val refPaths = tombs.select(col("_file")).distinct()
        .collect().map(_.getString(0)).toSet
      val refEntries = toSnap.files.filter(f => refPaths.contains(f.path))
      require(refEntries.map(_.path).toSet == refPaths,
        s"position tombstones in ($fromVersion, $toVersion] reference " +
          "files the window's head no longer lists — the window is not " +
          "append-shaped; reprocess from the replace")
      if (refEntries.isEmpty) None else {
        val rows = scanWithPositions(spark, root,
            toSnap.copy(rules = toSnap.rules.filter(_.seq <= fromVersion)),
            Some(refEntries), withSeq = true)
          .withColumnRenamed("_gfile", "_file")
          .withColumnRenamed("_gpos", "_pos")
        // a row already suppressed by a pre-window EQUALITY tombstone
        // was dead at window start: positionsWhere scans raw files, so
        // a later DELETE can re-match it — emitting it again would make
        // a CDC consumer delete twice. Same survive rule as readMerged
        // (row seq >= tombstone seq keeps a commit's own upserts).
        val priorEq = toSnap.deletes.filter(_.seq <= fromVersion)
        val alive = if (priorEq.isEmpty) rows else {
          val tk = withVersion(priorEq, _.select(col(keyCol))).get
            .groupBy(col(keyCol))
            .agg(max(col("_commit_version")).as("_gf_teq"))
          rows.join(broadcast(tk), Seq(keyCol), "left")
            .where(col("_gf_teq").isNull || col("_gseq") >= col("_gf_teq"))
            .drop("_gf_teq")
        }
        Some(alive.join(tombs, Seq("_file", "_pos"))
          .drop("_file", "_pos", "_gseq")
          .withColumn("_change_type", lit("delete")))
      }
    }
    (inserts.toSeq ++ deletes.toSeq ++ posDeletes.toSeq)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Retire history: keep the newest `keepVersions` manifests, delete the
    * rest, then delete every file under `data/` that no RETAINED
    * manifest references — covering both files only old versions list
    * and crash debris (a data dir whose commit never published) — plus
    * the metadata debris only retired history holds onto: SEGMENT files
    * no retained manifest references, and `.stage_*.tmp` staging files a
    * crash between create and the post-link delete leaked. The reference
    * set is O(files) strings; deletion is idempotent and safe to re-run.
    * Returns the deleted DATA-file count (hidden sidecars removed along
    * with a dead commit dir, segments and staging debris are not counted
    * — they are infrastructure, not data).
    *
    * The retention window is the reader contract: a reader pinned to a
    * vacuumed version loses its files — size `keepVersions` to cover the
    * longest-running reader, exactly as lakehouse formats document.
    *
    * `minAgeMillis` is the IN-FLIGHT-COMMIT guard: an unreferenced file
    * (data, segment or staging temp) younger than it is spared, because
    * "unreferenced" cannot be told apart from "a concurrent commit's
    * write whose manifest has not published yet" by looking at the file
    * system alone. The default (1 h) comfortably covers any commit's
    * write-to-publish window; a file spared this round is reclaimed by
    * the next vacuum once it ages. Tests that build and reap in one
    * breath pass 0 explicitly.
    */
  def vacuum(root: String, keepVersions: Int,
             minAgeMillis: Long = 60L * 60 * 1000): Int = {
    require(keepVersions >= 1, "must retain at least the latest version")
    val vs = versions(root)
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    val live: Set[String] = keep.flatMap { v =>
      val s = snapshot(root, v)
      (s.files ++ s.deletes ++ s.posDeletes).map(_.path)
    }.toSet
    val liveSegs: Set[String] = keep.flatMap(v => readDoc(root, v).segments)
      .map(rel => rel.substring(rel.lastIndexOf('/') + 1)).toSet
    drop.foreach { v =>
      val p = manifestPath(root, v)
      SnapIO.deleteIfExists(p)
      docCache.invalidate(p)
    }
    val youngCutoff = System.currentTimeMillis() - minAgeMillis
    // metadata debris: segments no retained manifest references (their
    // manifests just dropped, or their commit lost its race and retried)
    // and staging temps leaked by a crash between create and link —
    // age-guarded, same reasoning as data files
    SnapIO.list(SnapIO.join(root, SnapDir))
      .filter(s => s.isFile && s.mtime <= youngCutoff &&
        ((s.name.startsWith("seg_") && s.name.endsWith(".txt") &&
          !liveSegs.contains(s.name)) ||
         (s.name.startsWith(".stage_") && s.name.endsWith(".tmp"))))
      .foreach(s => SnapIO.deleteIfExists(s.path))
    val dataRoot = SnapIO.join(root, DataDir)
    // manifest paths are root-relative; every path here is built by
    // joining from `root`, so relativizing is one prefix strip
    val rootPrefix = root.stripSuffix("/") + "/"
    def rel(full: String): String = full.stripPrefix(rootPrefix)
    def visible(s: SnapIO.Stat): Boolean = s.isFile &&
      !s.name.startsWith("_") && !s.name.startsWith(".")
    def walk(dir: String): Seq[SnapIO.Stat] = {
      val cs = SnapIO.list(dir)
      cs.filter(_.isFile) ++ cs.filterNot(_.isFile).flatMap(c => walk(c.path))
    }
    var deleted = 0
    // per commit dir: if NO retained manifest references any of its data
    // files, the whole dir goes (sidecars included) — that covers both
    // superseded commits and crash debris whose publish never happened;
    // a dir with live files sheds only its dead visible files. Hidden
    // files (_SUCCESS, .crc) are write infrastructure, never "data", so
    // a vacuum that drops no version is a no-op.
    SnapIO.list(dataRoot).filterNot(_.isFile).foreach { sub =>
      val vis = walk(sub.path).filter(visible)
      val (liveF, deadF) = vis.partition(f => live.contains(rel(f.path)))
      val (ripe, young) = deadF.partition(_.mtime <= youngCutoff)
      if (liveF.isEmpty && young.isEmpty) {
        deleted += ripe.size; SnapIO.deleteTree(sub.path)
      } else ripe.foreach { f => SnapIO.deleteIfExists(f.path); deleted += 1 }
    }
    SnapIO.list(dataRoot).filter(visible)
      .filterNot(f => live.contains(rel(f.path)))
      .filter(_.mtime <= youngCutoff)
      .foreach { f => SnapIO.deleteIfExists(f.path); deleted += 1 }
    deleted
  }

  /** [[vacuum]] with TIME-based retention — the `VACUUM … RETAIN` form
    * users type now that commits carry wall-clocks: drops the OLDEST
    * versions whose commit timestamps fall outside `retainMillis` of
    * now, stopping at the first retained one (so a non-monotone clock
    * blip can only retain MORE, never drop an in-window version), and
    * always keeps the head. A legacy pre-timestamp manifest (`ts = 0` —
    * an unknown clock) is conservatively RETAINED: age cannot be proven,
    * so time-based retention never deletes it; use the version-count
    * [[vacuum]] to retire legacy history explicitly.
    */
  def vacuumRetain(root: String, retainMillis: Long,
                   minAgeMillis: Long = 60L * 60 * 1000): Int = {
    val cutoff = System.currentTimeMillis() - retainMillis
    val vs = versions(root)
    require(vs.nonEmpty, s"no committed version under $root")
    val dropped = vs.map(v => readDoc(root, v).ts)
      .takeWhile(ts => ts != 0L && ts < cutoff).size
    vacuum(root, math.max(1, vs.size - dropped), minAgeMillis)
  }
}
