package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.{Maintenance, ParquetFooter}

/** A streaming offset into the commit log: versions `<= version` fully
  * consumed, plus the first `files` entries of version `version + 1`
  * (file-granular admission control can split one large version across
  * triggers). Serialized as the bare version when no partial files are
  * outstanding — exactly the pre-split format, so existing checkpoints
  * resume unchanged.
  */
private[sources] final case class GraftPqStreamOffset(version: Long,
    files: Int) extends Offset {
  override def json(): String =
    if (files == 0) version.toString else s"$version:$files"
}

private[sources] object GraftPqStreamOffset {
  def parse(json: String): GraftPqStreamOffset = json.trim.split(':') match {
    case Array(v) => GraftPqStreamOffset(v.toLong, 0)
    case Array(v, k) => GraftPqStreamOffset(v.toLong, k.toInt)
    case _ => throw new IllegalArgumentException(
      s"graftpq streaming: unparseable offset '$json'")
  }
}

/** Per-trigger admission caps (0 = uncapped): versions, files, bytes.
  * File/byte caps split a large version across triggers at file
  * boundaries — one giant compacted append can no longer force one
  * giant micro-batch — while always admitting at least one file per
  * trigger so the stream provably drains.
  */
private[sources] final case class GraftStreamLimits(
    maxVersions: Int = 0, maxFiles: Int = 0, maxBytes: Long = 0L) {
  def any: Boolean = maxVersions > 0 || maxFiles > 0 || maxBytes > 0
}

/** VERSION-TAILING streaming source over a [[Maintenance]]-committed
  * table — the Delta streaming-source mechanism rebuilt on the
  * engine's own commit log, surfaced through
  * `spark.readStream.format("graftpq").load(tableDir)`:
  *
  *  - '''offsets are COMMIT VERSIONS''' (`_graft_log/version`, plus a
  *    file index when admission control splits a version), so a
  *    trigger's planning cost is O(files admitted) — each append
  *    version contributes exactly its `v{N}.add.txt` file listing, and
  *    those listings record TABLE-RELATIVE paths (partition dirs
  *    included, `commitAppend` writes `root.relativize`), so a file
  *    resolves by path concatenation alone. The directory tree is
  *    NEVER listed or walked — not even for a partitioned table: at
  *    100 TB a walk pays O(files-ever) per trigger, the version tail
  *    pays O(new files). A listed file that does not exist is a
  *    vacuumed-or-torn table and fails LOUDLY;
  *  - '''a bootstrapped base streams first.''' A table whose parquet
  *    predates the commit protocol records its pre-commit listing as
  *    `v000000.full.txt`; a NEW stream (offset before 0) emits those
  *    files as its initial batch — Delta's initial-snapshot behavior —
  *    instead of silently dropping them from the streamed total;
  *  - '''each added file plans through the batch machinery''' — the
  *    same footer-tail reads, per-row-group splits and column pruning
  *    ([[GraftParquet.requestedPaths]]), decoded by the same
  *    [[GraftPqReaderFactory]] (Spark's parquet reader); partition-dir
  *    values surface as typed constant columns parsed from each file's
  *    `col=value` path;
  *  - '''non-append versions fail LOUDLY.''' A rewrite / delete /
  *    merge / update / restore / deletion-vector version is not
  *    expressible as an append stream; silently re-emitting or
  *    skipping rows would corrupt downstream state, so the stream
  *    dies naming the version and its kind — observably Delta's
  *    behavior on a changed source without `skipChangeCommits`.
  *
  * ADMISSION CONTROL (`maxVersionsPerTrigger`, `maxFilesPerTrigger`,
  * `maxBytesPerTrigger`): a multi-year backlog — or one huge compacted
  * append — re-streams as bounded micro-batches; the file/byte caps
  * split WITHIN a version at file boundaries, offsets carrying the
  * split point exactly-once (they live in the sink's checkpoint by the
  * engine-independent Structured Streaming contract; a restart resumes
  * from the committed offset and replans only what follows).
  */
private[sources] class GraftPqMicroBatch(path: String,
    required: StructType, limits: GraftStreamLimits)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming
    .SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {

  require(new java.io.File(path, "_graft_log/version").exists(),
    s"graftpq streaming: $path is not a committed table (version " +
      "tailing needs the commit log; batch-read plain directories)")

  private val root = new java.io.File(path).getAbsoluteFile

  // resolved once per stream instance: the recorded partitioning (and
  // its tracked types) cannot drift between triggers of one run
  @transient private lazy val partCols: Seq[(String, DataType)] =
    GraftParquet.partitionColsOf(path)

  /** True when version 0 carries a bootstrap/clone full listing a new
    * stream must emit as its initial snapshot.
    */
  private val hasBase: Boolean = java.nio.file.Files.exists(
    java.nio.file.Paths.get(Maintenance.snapshotFullPath(path, 0L)))

  /** Trigger.AvailableNow fences the run at the version current when
    * the query STARTED — later commits wait for the next run, and the
    * paced triggers below loop until this fence is reached.
    */
  @volatile private var availableNowEnd: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Maintenance.readVersion(path)

  private def fencedLatest(): Long = {
    val v = Maintenance.readVersion(path)
    if (availableNowEnd >= 0) math.min(v, availableNowEnd) else v
  }

  /** A fresh stream starts BEFORE version 0 when a bootstrap base
    * exists (so the base emits), at version 0 otherwise — the latter
    * byte-identical to the pre-split offset format, so checkpoints
    * from earlier releases resume unchanged.
    */
  override def initialOffset(): Offset =
    GraftPqStreamOffset(if (hasBase) -1L else 0L, 0)

  override def latestOffset(): Offset =
    GraftPqStreamOffset(fencedLatest(), 0)

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val s = start.asInstanceOf[GraftPqStreamOffset]
    val latest = fencedLatest()
    if (!limits.any) GraftPqStreamOffset(latest, 0)
    else {
      var admitted = 0
      var admittedBytes = 0L
      var curV = s.version + 1
      var curK = s.files
      var out = s
      var stop = false
      while (!stop && curV <= latest &&
          (limits.maxVersions <= 0 ||
            curV - s.version <= limits.maxVersions)) {
        val fs = filesOf(curV)
        var i = curK
        while (i < fs.length && !stop) {
          // at least one file always admits, so a single file larger
          // than maxBytes still streams (as its own micro-batch)
          val sz = if (limits.maxBytes > 0)
            new java.io.File(root, fs(i)).length() else 0L
          val over =
            (limits.maxFiles > 0 && admitted + 1 > limits.maxFiles) ||
            (limits.maxBytes > 0 && admittedBytes + sz > limits.maxBytes)
          if (over && admitted > 0) stop = true
          else { admitted += 1; admittedBytes += sz; i += 1 }
        }
        out = if (i >= fs.length) GraftPqStreamOffset(curV, 0)
          else GraftPqStreamOffset(curV - 1, i)
        if (i >= fs.length) { curV += 1; curK = 0 } else stop = true
      }
      out
    }
  }

  override def reportLatestOffset(): Offset =
    GraftPqStreamOffset(fencedLatest(), 0)

  override def deserializeOffset(json: String): Offset =
    GraftPqStreamOffset.parse(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftPqStreamOffset]
    val e = end.asInstanceOf[GraftPqStreamOffset]
    val dataRequired = StructType(required.fields.filterNot(f =>
      partCols.exists(_._1 == f.name)))
    val rels: Seq[String] =
      if (s.version == e.version) {
        if (e.files > s.files)
          filesOf(s.version + 1).slice(s.files, e.files)
        else Nil
      } else {
        filesOf(s.version + 1).drop(s.files) ++
          (s.version + 2 to e.version).flatMap(filesOf) ++
          (if (e.files > 0) filesOf(e.version + 1).take(e.files)
           else Nil)
      }
    // per-file planning (one footer-tail read each) overlaps on the
    // bounded driver pool — a 10k-file backlog trigger would otherwise
    // pay 10k SERIAL tail reads at plan time (the same fix the batch
    // planner's sweep got); order is preserved, so partition ids stay
    // deterministic across restarts
    GraftParquet.planPar(rels) { rel =>
      // the listing's table-relative path IS the location — resolve
      // by concatenation, never by walking
      val f = new java.io.File(root, rel)
      require(f.isFile,
        s"graftpq streaming: commit log lists '$rel' but no such " +
          s"data file exists under $root (vacuumed or torn table)")
      val partVals: Map[String, Option[String]] =
        if (partCols.isEmpty) Map.empty
        else GraftParquet.partValsFromRel(rel, partCols.map(_._1))
      val footer = ParquetFooter.readTail(f.toPath)
      val wanted = GraftParquet.requestedPaths(footer.schema, dataRequired)
      val starts = footer.rowGroups.scanLeft(0L)(_ + _.numRows)
      footer.rowGroups.zip(starts).map { case (rg, rowStart) =>
        GraftPqPartition(f.getAbsolutePath, rg.numRows,
          rg.columns.filter(c => wanted(c.path)), partVals, rowStart,
          (rg.startOffset, rg.compressedSize)): InputPartition
      }
    }.toArray
  }

  /** The files version `v` contributed to the stream: the bootstrap
    * full listing for v0, an append's add delta for v >= 1 — or a
    * LOUD error for any version kind an append stream cannot express.
    * Listings are table-relative paths, sorted at write time, so the
    * per-version file order is deterministic across triggers and
    * restarts (what makes a mid-version offset exactly-once).
    */
  private def filesOf(v: Long): Seq[String] = {
    def exists(p: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    def read(p: String): Seq[String] =
      java.nio.file.Files.readString(java.nio.file.Paths.get(p))
        .linesIterator.filter(_.nonEmpty).toSeq
    if (v == 0L) {
      val base = Maintenance.snapshotFullPath(path, 0L)
      if (exists(base)) read(base) else Nil
    } else {
      val addPath = Maintenance.snapshotAddPath(path, v)
      if (exists(addPath)) read(addPath)
      else {
        val kind =
          if (exists(Maintenance.snapshotDeletePath(path, v))) "delete"
          else if (exists(Maintenance.snapshotMergePath(path, v)))
            "merge"
          else if (exists(Maintenance.snapshotUpdatePath(path, v)))
            "update"
          else if (exists(Maintenance.snapshotRestorePath(path, v)))
            "restore"
          else if (exists(Maintenance.dvMarkerPath(path, v)))
            "deletion-vector delete"
          else if (exists(Maintenance.snapshotFullPath(path, v)))
            "rewrite"
          else "unknown"
        throw new IllegalStateException(
          s"graftpq streaming: version $v of $path is a $kind — not " +
            "an append; an append stream cannot express it (stream " +
            "changes through Maintenance.streamChanges instead)")
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPqReaderFactory(required, partCols, Array.empty)
}
