package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet persistence for FITTED STATE — the "train once, apply many"
  * artifact path the training-loop family was missing.
  *
  * Every trainer in the engine ([[Learn.trainWeights]] logreg weights,
  * [[Similarity.kmeansTrainLoop]] centroids, [[Similarity.pcaPowerLoop]]
  * (μ, v), the SQ bounds / PQ codebook samples) produces state that is
  * O(features)/O(K·dim)/O(dim) — small enough to collect by construction.
  * A production pipeline trains that state ONCE, writes it as an
  * artifact, and every downstream apply-pass (scoring, projection,
  * quantized search) LOADS it instead of re-running the training loop.
  * This object is that artifact layer:
  *
  *  - `save*`/`load*` pairs: tiny parquet files, one row per state
  *    component (weights: `(feature, weight)`; PCA: `(dim, mu, v)` plus
  *    constant `eigval`/`n`; centroids: the `(cell, dim, n_members,
  *    mean_val)` frame k-means emits; SQ bounds: `(dim, mn, mx)`; PQ
  *    codebook: `(code, dim, v)`). Doubles round-trip bit-exact through
  *    parquet, so apply-from-artifact ≡ train-then-apply — the
  *    correctness gate proves it, because every apply query's oracle
  *    *computes* train-then-apply while the engine loads.
  *
  *  - [[fit]]: a train-once-per-JVM memo. The first query that needs an
  *    artifact trains and writes it; every later query (and every later
  *    invocation of the same query — the bench runs each twice) loads
  *    the existing file. Keyed by (kind | input dir | content
  *    [[fingerprint]] | hyper-params), so different scale factors,
  *    settings, or a corpus REGENERATED under the same path never share
  *    state.
  *
  * Scale shape: artifacts are O(state) rows — KB at any corpus size —
  * and loading is a driver-side read of exactly that state, mirroring
  * how a real cluster ships fitted state to executors (as broadcast
  * literals, not joins). The store directory lives for the JVM (see
  * [[scratchDir]]); a production deployment would point the same
  * save/load calls at a durable path.
  */
object ModelStore {

  /** Scratch directory removed at JVM exit. Fitted artifacts, sink
    * round trips and streaming outputs and checkpoints all go here: each
    * must outlive the lazy frame built over it (the harness may collect
    * that frame later, several times), so process exit is the earliest
    * safe cleanup point, and the hook keeps repeated runs from piling up
    * dead copies in the temp directory.
    */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p.toString
  }

  private val fitted = scala.collection.concurrent.TrieMap.empty[String, String]

  private val MarkerName = "_graft_fit_done"

  /** Durable store root: when `GRAFT_STORE_DIR` (env) or `graft.store.dir`
    * (system property) is set, artifacts live at
    * `<root>/<prefix>_<md5(key)>` and survive the process — a later run
    * with the same key LOADS instead of retraining (train-once, ever:
    * the production contract). Unset (the default, and what the test
    * harness uses), artifacts are process-scoped scratch dirs.
    *
    * Keys should fold in a [[fingerprint]] of the input data (the
    * shipped queries do) so a corpus regenerated in place under the same
    * path can never serve a stale artifact.
    */
  private def storeRoot: Option[String] =
    sys.env.get("GRAFT_STORE_DIR").orElse(sys.props.get("graft.store.dir"))

  private def keyHash(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Content fingerprint of an input directory: md5 over the sorted
    * listing of every file's (relative path, size, mtime, tail bytes) —
    * one O(files) metadata walk plus a 64-byte tail read per file (for
    * parquet that tail is inside the footer metadata, which carries row
    * counts and column stats — a strong content discriminator at
    * negligible cost). Folded into [[fit]] keys so the durable store can
    * never serve an artifact trained on a corpus that has since been
    * rewritten under the same path.
    *
    * Caveat: mtime granularity is 1 s on many filesystems and tools like
    * `rsync -t`/`tar` preserve mtimes, so (size, mtime) alone is NOT a
    * guarantee — the tail read is what catches a same-size, same-mtime
    * in-place rewrite whose data differs (parquet footers fold row-group
    * offsets and stats, so any real data change perturbs them). A
    * byte-identical copy restored over the original is, correctly, the
    * same fingerprint. At lakehouse scale the same role is played by a
    * table snapshot / version id; this digest is its filesystem
    * equivalent.
    */
  def fingerprint(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return "absent"
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val rel = root.relativize(p).toString
          val sz = java.nio.file.Files.size(p)
          val mt = java.nio.file.Files.getLastModifiedTime(p).toMillis
          val tail = tailHex(p, 64)
          lines += s"$rel|$sz|$mt|$tail"
        }
      }
    } finally stream.close()
    keyHash(s"n=${lines.length}\n" + lines.sorted.mkString("\n")).take(16)
  }

  /** Hex of the last `n` bytes of a file (fewer if the file is shorter).
    * Unreadable files degrade to a marker rather than failing the walk —
    * the fingerprint still changes when readability changes.
    */
  private def tailHex(p: java.nio.file.Path, n: Int): String =
    try {
      val raf = new java.io.RandomAccessFile(p.toFile, "r")
      try {
        val len = raf.length()
        val take = math.min(len, n.toLong).toInt
        raf.seek(len - take)
        val buf = new Array[Byte](take)
        raf.readFully(buf)
        buf.map("%02x".format(_)).mkString
      } finally raf.close()
    } catch { case _: java.io.IOException => "unreadable" }

  /** Train-once: the first caller for `key` runs `train` against an
    * artifact path and every caller gets that path back — per process by
    * default, across processes under a durable [[storeRoot]]. A rare
    * concurrent first-call may train twice (both runs are deterministic)
    * — never wrong, at worst one redundant training: under a durable
    * root each racer trains into its OWN temp directory and the artifact
    * is published by a single atomic rename (see [[durableFit]]), so
    * interleaved writes can never produce a mixed artifact.
    */
  def fit(key: String, prefix: String)(train: String => Unit): String =
    fitted.getOrElseUpdate(key, storeRoot match {
      case Some(root) => durableFit(root, key, prefix, train)
      case None =>
        val p = scratchDir(prefix)
        train(p)
        p
    })

  /** [[fit]] against an EXPLICIT durable root, independent of the
    * `GRAFT_STORE_DIR` setting — the front-door surface for pipelines
    * that manage their own artifact location. Same atomic-publish
    * contract as [[fit]] under a durable root.
    */
  def fitAt(root: String, key: String, prefix: String)
           (train: String => Unit): String =
    fitted.getOrElseUpdate(s"@$root|$key", durableFit(root, key, prefix, train))

  /** Durable train-or-load with crash/concurrency safety:
    *
    *  1. a completed artifact is recognized by its [[MarkerName]] file —
    *     present means train wrote everything AND the readback check
    *     passed, so loaders never see a partial artifact;
    *  2. training runs in a UNIQUE temp directory under the same root
    *     (same filesystem), is integrity-checked ([[verifyArtifact]]:
    *     every parquet part committed under a `_SUCCESS` on it or an
    *     ancestor, every footer ending in the `PAR1` magic), gets its
    *     marker, and is published by ONE atomic rename;
    *  3. the publish step itself (marker check + debris handling +
    *     rename) runs under a per-artifact O_EXCL lock file, so exactly
    *     one publisher acts at a time. This is what makes debris
    *     replacement safe: a directory at the final path WITHOUT a
    *     marker, observed UNDER THE LOCK, is provably debris from a
    *     crashed writer or an interrupted cleanup — no live publisher
    *     can be mid-rename, so moving it aside (atomic rename to a
    *     trash name, then delete) can never destroy an artifact whose
    *     path a racer already returned to callers. (The unlocked
    *     check-then-`rmTree(dir)` it replaces could: a racer completing
    *     its rename between the marker check and the delete lost a LIVE
    *     published artifact mid-read.)
    *
    * Training (the slow part) runs OUTSIDE the lock — concurrent first
    * callers may still train twice (deterministic, at worst redundant);
    * only the milliseconds-long publish is serialized. A lock orphaned
    * by a crashed holder is stolen after [[LockStaleMs]] (publishes
    * hold it for milliseconds, so a minute-old lock is dead).
    */
  private def durableFit(root: String, key: String, prefix: String,
                         train: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val name = s"${prefix}_${keyHash(key)}"
    val dir = new java.io.File(root, name)
    val marker = new java.io.File(dir, MarkerName)
    if (marker.isFile) return dir.toString
    Files.createDirectories(Paths.get(root)): Unit
    val tmp = Files.createTempDirectory(Paths.get(root), s".${prefix}_fit_")
    try {
      train(tmp.toString)
      verifyArtifact(tmp.toFile)
      Files.write(tmp.resolve(MarkerName), key.getBytes("UTF-8")): Unit
      withPublishLock(root, name) {
        if (marker.isFile) rmTree(tmp.toFile) // racer published while we trained
        else {
          if (dir.exists) {
            // markerless debris — under the lock, provably not a live
            // artifact; move aside atomically, delete off the hot path
            val trash = new java.io.File(root,
              s".${name}_trash_${java.util.UUID.randomUUID().toString.take(8)}")
            Files.move(dir.toPath, trash.toPath,
              StandardCopyOption.ATOMIC_MOVE): Unit
            rmTree(trash)
          }
          Files.move(tmp, dir.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
        }
      }
    } catch { case e: Throwable => rmTree(tmp.toFile); throw e }
    dir.toString
  }

  /** How stale a publish lock must be before a waiter may steal it —
    * generous: the lock only ever covers a marker check plus one or two
    * renames. */
  private val LockStaleMs = 60000L

  /** Serialize the publish step across processes with an O_EXCL lock
    * file under the store root. Stale locks (crashed holders) are
    * stolen after [[LockStaleMs]]; acquisition fails loudly after 10
    * minutes rather than spinning forever.
    */
  private def withPublishLock[T](root: String, name: String)(body: => T): T = {
    import java.nio.file.{Files, Paths}
    val lock = Paths.get(root, s".${name}.lock")
    val deadline = System.nanoTime + 600L * 1000 * 1000 * 1000
    var held = false
    while (!held) {
      try { Files.createFile(lock); held = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age =
            try System.currentTimeMillis -
              Files.getLastModifiedTime(lock).toMillis
            catch { case _: java.io.IOException => 0L } // vanished: retry now
          if (age > LockStaleMs) {
            try Files.deleteIfExists(lock): Unit
            catch { case _: java.io.IOException => () }
          } else Thread.sleep(25)
          require(System.nanoTime < deadline,
            s"timed out waiting for publish lock $lock")
      }
    }
    try body
    finally { try Files.deleteIfExists(lock): Unit
              catch { case _: java.io.IOException => () } }
  }

  /** Readback integrity check before an artifact is published: every
    * parquet part must sit under a write root that carries Spark's
    * `_SUCCESS` commit marker, every `part-*` file must end with the
    * parquet `PAR1` footer magic, and at least one part must exist — a
    * torn write (killed executor, full disk) fails here instead of
    * becoming a permanent durable artifact.
    *
    * `_SUCCESS` is accepted on ANY ancestor directory of the part, not
    * just its own directory: a `partitionBy` write commits `_SUCCESS`
    * once at the output ROOT while parts land in partition subdirs
    * (`zstrip=0/part-*`) — requiring the marker beside the parts would
    * reject every partitioned artifact ([[graft.ops.Layout.zorderWrite]],
    * [[graft.ops.Layout.compactionExec]]).
    */
  private def verifyArtifact(dir: java.io.File): Unit = {
    var parts = 0
    def walk(f: java.io.File, committed: Boolean): Unit = {
      val cs = Option(f.listFiles()).getOrElse(Array.empty)
      val hasSuccess = committed || cs.exists(_.getName == "_SUCCESS")
      val partFiles = cs.filter(c => c.isFile && c.getName.startsWith("part-"))
      if (partFiles.nonEmpty) {
        require(hasSuccess,
          s"artifact dir ${f} has parts but no _SUCCESS commit marker " +
            "on it or any ancestor")
        partFiles.foreach { p =>
          parts += 1
          val raf = new java.io.RandomAccessFile(p, "r")
          try {
            require(raf.length >= 8, s"truncated parquet part $p")
            raf.seek(raf.length - 4)
            val magic = new Array[Byte](4)
            raf.readFully(magic)
            require(new String(magic, "US-ASCII") == "PAR1",
              s"parquet part $p missing PAR1 footer — torn write")
          } finally raf.close()
        }
      }
      cs.filter(_.isDirectory).foreach(walk(_, hasSuccess))
    }
    walk(dir, committed = false)
    require(parts > 0, s"artifact $dir contains no parquet parts")
  }

  private def rmTree(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(rmTree)
    f.delete(): Unit
  }

  /** Test hook: forget every fitted artifact (files stay until JVM exit). */
  def reset(): Unit = fitted.clear()

  // ---- logistic-regression weights: rows (feature, weight) ------------

  def saveWeights(spark: SparkSession, names: Seq[String], w: Array[Double],
                  path: String): Unit = {
    import spark.implicits._
    names.zip(w).toSeq.toDF("feature", "weight")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadWeights(spark: SparkSession, names: Seq[String],
                  path: String): Array[Double] = {
    val m = spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    names.map(n => m.getOrElse(n,
      sys.error(s"weights artifact $path missing feature $n"))).toArray
  }

  // ---- PCA state: rows (dim, mu, v), constant (eigval, n) -------------

  def savePca(spark: SparkSession, mu: Array[Double], v: Array[Double],
              eigval: Double, n: Long, path: String): Unit = {
    import spark.implicits._
    require(mu.length == v.length, "mu/v length mismatch")
    mu.indices.map(j => ((j + 1).toLong, mu(j), v(j), eigval, n)).toSeq
      .toDF("dim", "mu", "v", "eigval", "n")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadPca(spark: SparkSession, path: String)
      : (Array[Double], Array[Double], Double, Long) = {
    val rows = spark.read.parquet(path).collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, s"empty PCA artifact at $path")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)),
      rows.head.getDouble(3), rows.head.getLong(4))
  }

  // ---- top-m PCA state: rows (component, dim, mu, v, eigval, n) — mu
  //      and n repeat per component so one frame carries the whole
  //      transform (O(m·dim) rows either way) ---------------------------

  def savePcaM(spark: SparkSession, mu: Array[Double],
               comps: Array[Array[Double]], eigvals: Array[Double],
               n: Long, path: String): Unit = {
    import spark.implicits._
    require(comps.length == eigvals.length, "comps/eigvals length mismatch")
    require(comps.forall(_.length == mu.length), "mu/component dim mismatch")
    val rows = for {
      (v, t) <- comps.zipWithIndex.toSeq
      j <- mu.indices
    } yield ((t + 1).toLong, (j + 1).toLong, mu(j), v(j), eigvals(t), n)
    rows.toDF("component", "dim", "mu", "v", "eigval", "n")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadPcaM(spark: SparkSession, path: String)
      : (Array[Double], Array[Array[Double]], Array[Double], Long) = {
    val rows = spark.read.parquet(path).collect()
    require(rows.nonEmpty, s"empty PCA-m artifact at $path")
    val byComp = rows.groupBy(_.getLong(0)).toArray.sortBy(_._1)
    val first = byComp.head._2.sortBy(_.getLong(1))
    (first.map(_.getDouble(2)),
      byComp.map { case (_, rs) => rs.sortBy(_.getLong(1)).map(_.getDouble(3)) },
      byComp.map { case (_, rs) => rs.head.getDouble(4) },
      rows.head.getLong(5))
  }

  // ---- k-means centroids: the (cell, dim, n_members, mean_val) frame --

  def saveCentroids(centroids: DataFrame, path: String): Unit =
    centroids.coalesce(1).write.mode("overwrite").parquet(path)

  def loadCentroids(spark: SparkSession, path: String): DataFrame =
    loadFrame(spark, path)

  /** Any artifact read back as the frame it was saved as — the generic
    * "dump the store" surface behind the `*_store` queries. */
  def loadFrame(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The centroid artifact as driver arrays `(cell ids, mean vectors)` —
    * the literal table [[Similarity.assignCellsWith]] embeds. O(K·dim)
    * rows by the k-means loop's own bound.
    */
  def centroidArrays(spark: SparkSession, path: String)
      : (Array[Long], Array[Array[Double]]) = {
    val rows = loadFrame(spark, path).collect()
    require(rows.nonEmpty, s"empty centroid artifact at $path")
    val byCell = rows.groupBy(_.getLong(0)).toArray.sortBy(_._1)
    (byCell.map(_._1),
      byCell.map { case (_, rs) => rs.sortBy(_.getLong(1)).map(_.getDouble(3)) })
  }

  // ---- SQ per-dim bounds: rows (dim, mn, mx) ---------------------------

  def saveSqBounds(spark: SparkSession, mns: Array[Double],
                   mxs: Array[Double], path: String): Unit = {
    import spark.implicits._
    require(mns.length == mxs.length, "mns/mxs length mismatch")
    mns.indices.map(j => ((j + 1).toLong, mns(j), mxs(j))).toSeq
      .toDF("dim", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadSqBounds(spark: SparkSession, path: String)
      : (Array[Double], Array[Double]) = {
    val rows = spark.read.parquet(path).collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, s"empty SQ-bounds artifact at $path")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  // ---- PQ codebook: rows (code, dim, v) — full sampled vectors, split
  //      into sub-spaces at APPLY time so one artifact serves any `subs`
  //      that divides the dimension ---------------------------------------

  def savePqCodebook(spark: SparkSession, cents: Array[Array[Double]],
                     path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (c, i) <- cents.zipWithIndex
      (x, j) <- c.zipWithIndex
    } yield (i.toLong, (j + 1).toLong, x)
    rows.toSeq.toDF("code", "dim", "v")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadPqCodebook(spark: SparkSession, path: String): Array[Array[Double]] = {
    val rows = spark.read.parquet(path).collect()
    require(rows.nonEmpty, s"empty PQ-codebook artifact at $path")
    rows.groupBy(_.getLong(0)).toArray.sortBy(_._1).map { case (_, rs) =>
      rs.sortBy(_.getLong(1)).map(_.getDouble(2))
    }
  }
}
