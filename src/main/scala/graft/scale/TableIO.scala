package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-versioned parquet table layer — the Iceberg-shaped fallback
  * (SURVEY.md §7 allows parquet when the Iceberg runtime jar is absent,
  * which it is in this container). Round-1 gap: `Scale.resumableWrite`
  * overwrites bucket dirs in place, so a concurrent reader saw a torn
  * table. Here every publish is a NEW immutable snapshot directory plus an
  * atomic pointer flip:
  *
  * {{{
  *   table/
  *     snap-00001/data/bucket=…/part-….parquet (immutable once published)
  *     snap-00001/files.list                   (per-snapshot file manifest)
  *     snap-00002/…
  *     _CURRENT                                (one line: "snap-00002")
  * }}}
  *
  * `_CURRENT` is replaced via create-temp + `FileContext.rename(OVERWRITE)`
  * — a SINGLE atomic step on local FS and HDFS (no delete-then-rename
  * window where the pointer is missing; round-2 ADVICE). On S3 a real
  * deployment swaps this for a conditional-put catalog. `files.list` is
  * written BEFORE the pointer flip and names every data file, so (a) it
  * doubles as the snapshot's completion marker, (b) readers resolve the
  * pointer once and then open exactly the listed immutable files — never
  * listing directories (the true Iceberg manifest shape; object stores
  * make listings slow AND eventually consistent), and (c) if the pointer
  * is ever lost, readers fall back to the newest COMPLETE snapshot rather
  * than failing. Old snapshots remain until [[expireSnapshots]] — which is
  * also what makes time travel possible. */
object TableIO {

  private val Pointer = "_CURRENT"
  private val FilesManifest = "files.list"

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Currently-published snapshot name, if any. */
  def currentSnapshot(spark: SparkSession, tableDir: String): Option[String] = {
    val (f, dir) = fs(spark, tableDir)
    val ptr = new org.apache.hadoop.fs.Path(dir, Pointer)
    if (!f.exists(ptr)) None
    else {
      val in = f.open(ptr)
      try {
        val s = scala.io.Source.fromInputStream(in).mkString.trim
        // a half-written / corrupted pointer (anything but "snap-<digits>")
        // reads as ABSENT, not a crash in snapNum downstream: callers fall
        // back to latestComplete (readers) or a fresh snapshot (ExtractJob
        // resume) — the resume path is exactly where a torn pointer is
        // plausible (round-3 ADVICE).
        if (s.startsWith("snap-") && s.stripPrefix("snap-").nonEmpty &&
            s.stripPrefix("snap-").forall(_.isDigit)) Some(s) else None
      } finally in.close()
    }
  }

  /** All snapshot names present on disk (published or not), ascending
    * NUMERICALLY — the %05d format widens at snapshot 100000, where a
    * lexicographic sort puts snap-100000 before snap-99999 and every
    * ordering consumer (latestComplete fallback, resume filter,
    * expireSnapshots) misorders forever after (round-3 review finding). */
  def snapshots(spark: SparkSession, tableDir: String): Seq[String] = {
    val (f, dir) = fs(spark, tableDir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("snap-") &&
        n.stripPrefix("snap-").nonEmpty &&
        n.stripPrefix("snap-").forall(_.isDigit))
      .sortBy(_.stripPrefix("snap-").toLong)
  }

  /** Numeric id of a snapshot name — the ONLY way snapshot names may be
    * compared (string compare breaks at the %05d width change). */
  def snapNum(name: String): Long = name.stripPrefix("snap-").toLong

  /** Next unused snapshot name — max+1, not count+1: after
    * expireSnapshots a count-based name could sort BELOW a surviving newer
    * snapshot. */
  def nextSnapshotName(spark: SparkSession, tableDir: String): String = {
    val maxN = snapshots(spark, tableDir).map(snapNum).maxOption.getOrElse(0L)
    f"snap-${maxN + 1}%05d"
  }

  /** The staging snapshot a job writes into, with `params` recorded in its
    * `params` sidecar: the newest snapshot newer than the published one
    * when its sidecar equals `params` (a retry of a failed run resumes it),
    * else a fresh one. A retry under different parameters never resumes:
    * the bucket ids its manifests mark done belong to another bucketing,
    * and skipping them would publish an incomplete table. */
  def openStaging(spark: SparkSession, tableDir: String, params: String): String = {
    val current = currentSnapshot(spark, tableDir)
    val snap = snapshots(spark, tableDir)
      .filter(s => current.forall(c => snapNum(c) < snapNum(s)))
      .lastOption
      .filter(s => readSidecar(spark, tableDir, s, "params").contains(params))
      .getOrElse(nextSnapshotName(spark, tableDir))
    writeSidecar(spark, tableDir, snap, "params", params)
    snap
  }

  /** Snapshot layout: payload under `<snap>/data` (bucket dirs or plain
    * parquet), job-private bookkeeping (e.g. a resume manifest) anywhere
    * else inside the snapshot dir. */
  def dataDir(tableDir: String, snap: String): String = s"$tableDir/$snap/data"

  // ------------------------------------------------------------- sidecars

  /** Write a small text sidecar inside a snapshot dir (overwrites). */
  def writeSidecar(spark: SparkSession, tableDir: String, snap: String,
                   name: String, content: String): Unit = {
    val (f, dir) = fs(spark, tableDir)
    val p = new org.apache.hadoop.fs.Path(dir, s"$snap/$name")
    val out = f.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Read a snapshot sidecar, if present. */
  def readSidecar(spark: SparkSession, tableDir: String, snap: String,
                  name: String): Option[String] = {
    val (f, dir) = fs(spark, tableDir)
    val p = new org.apache.hadoop.fs.Path(dir, s"$snap/$name")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in).mkString) finally in.close()
    }
  }

  // ------------------------------------------------------- file manifest

  /** List the snapshot's data files ONCE and record them (relative to the
    * snapshot's data dir, one per line, sorted). Written by [[publish]]
    * before the pointer flip — also the snapshot's completion marker. */
  def writeFilesManifest(spark: SparkSession, tableDir: String,
                         snap: String): Unit = {
    val (f, _) = fs(spark, tableDir)
    val dd = f.makeQualified(new org.apache.hadoop.fs.Path(dataDir(tableDir, snap)))
    val prefix = dd.toString + "/"
    val files =
      if (!f.exists(dd)) Seq.empty
      else dataFiles(f, dd).map(_.toString.stripPrefix(prefix)).toSeq
    writeSidecar(spark, tableDir, snap, FilesManifest,
      files.sorted.mkString("\n"))
  }

  /** Data files recorded for a snapshot (relative paths), if its manifest
    * was committed. */
  def filesManifest(spark: SparkSession, tableDir: String,
                    snap: String): Option[Seq[String]] =
    readSidecar(spark, tableDir, snap, FilesManifest)
      .map(_.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))

  /** Newest snapshot whose file manifest committed — the reader fallback
    * when the pointer file is absent. */
  def latestComplete(spark: SparkSession, tableDir: String): Option[String] =
    snapshots(spark, tableDir).reverse
      .find(s => filesManifest(spark, tableDir, s).isDefined)

  // ------------------------------------------------------------ lifecycle

  /** Write `df` as the table's next snapshot and atomically publish it.
    * Returns the new snapshot name. The data write happens into an
    * unpublished directory; the table "commits" only at the pointer
    * rename, so a failed write leaves the published table untouched
    * (crash-safe, idempotent to retry). */
  def snapshotWrite(df: DataFrame, tableDir: String,
                    sortCols: Seq[String] = Seq("conv_id", "turn_idx")): String = {
    val spark = df.sparkSession
    val next = nextSnapshotName(spark, tableDir)
    val sorted = if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(df(_)): _*) else df
    val dd = dataDir(tableDir, next)
    sorted.write.mode("overwrite").parquet(dd)
    // a 0-partition frame writes only _SUCCESS, publishing a snapshot that
    // readTable can never schema-infer (round-3 review finding). Repair
    // AFTER the write by probing the output dir — probing the input plan
    // (rdd.getNumPartitions) materializes every AQE shuffle stage, running
    // a shuffled pipeline once for the probe and again for the write
    // (round-3 ADVICE: doubled compute on the corpus-scale write API).
    if (!hasDataFiles(spark, dd))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema)
        .repartition(1).write.mode("overwrite").parquet(dd)
    publish(spark, tableDir, next)
    next
  }

  /** Make a bucket-partitioned data dir readable when its write had no
    * rows: such a write commits no `bucket=` dir, and a dir without a data
    * file cannot be read back or published. Writes one empty parquet file
    * with the written frame's `schema` plus the `bucket` column
    * ([[Scale.bucketedSchema]]), the columns every non-empty table has. */
  def writeEmptyIfNoBuckets(spark: SparkSession, dir: String,
                            schema: org.apache.spark.sql.types.StructType): Unit =
    if (!Scale.hasBucketData(spark, dir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Scale.bucketedSchema(schema))
        .repartition(1).write.mode("overwrite").parquet(dir)

  /** Any .parquet data file under `dir` (recursive, short-circuits). */
  private def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = fs(spark, dir)
    f.exists(p) && dataFiles(f, p).hasNext
  }

  /** The `.parquet` data files under `dir`, recursively, lazily, skipping
    * the hidden entries (`_…`, `.…`) Spark's file index skips. A plain
    * `listStatus` walk on purpose: `FileSystem.listFiles` builds a
    * `LocatedFileStatus` per file, whose constructor reads the file's
    * permission — on a local FS without native Hadoop that forks one
    * `ls -ld` per file (Spark's `HadoopFSUtils` avoids it the same way). */
  private def dataFiles(f: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.Path] =
    f.listStatus(dir).iterator.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Iterator.empty
      else if (st.isDirectory) dataFiles(f, st.getPath)
      else if (n.endsWith(".parquet")) Iterator.single(st.getPath)
      else Iterator.empty
    }

  /** Publish `snap`: commit its file manifest, then atomically flip
    * `_CURRENT` via a SINGLE overwrite-rename (`FileContext.rename` with
    * `Options.Rename.OVERWRITE` — atomic on local FS and HDFS). There is
    * no intermediate state with the pointer deleted (round-2 ADVICE: the
    * previous delete-then-rename left a window with NO `_CURRENT`). */
  def publish(spark: SparkSession, tableDir: String, snap: String): Unit = {
    writeFilesManifest(spark, tableDir, snap)
    val (f, dir) = fs(spark, tableDir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$Pointer.tmp")
    val ptr = new org.apache.hadoop.fs.Path(dir, Pointer)
    val out = f.create(tmp, true)
    try out.write(snap.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.makeQualified(dir).toUri, spark.sessionState.newHadoopConf())
    fc.rename(f.makeQualified(tmp), f.makeQualified(ptr),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Read the published snapshot (or a specific one — time travel).
    * Resolution: explicit snapshot → `_CURRENT` → newest COMPLETE snapshot
    * (pointer lost, e.g. a crashed catalog migration). Reads open exactly
    * the manifest's files (directory-listing-free); snapshots predating
    * the manifest fall back to a directory read. */
  def readTable(spark: SparkSession, tableDir: String,
                snapshot: Option[String] = None): DataFrame = {
    val snap = snapshot.orElse(currentSnapshot(spark, tableDir))
      .orElse(latestComplete(spark, tableDir))
      .getOrElse(throw new IllegalStateException(s"no published snapshot in $tableDir"))
    val dd = dataDir(tableDir, snap)
    filesManifest(spark, tableDir, snap) match {
      case Some(files) if files.nonEmpty =>
        // basePath keeps partition-dir columns (bucket=N) in the schema
        spark.read.option("basePath", dd).parquet(files.map(f => s"$dd/$f"): _*)
      case _ => spark.read.parquet(dd)
    }
  }

  /** Drop all unpublished/superseded snapshots except the newest `keep`. */
  def expireSnapshots(spark: SparkSession, tableDir: String, keep: Int = 2): Unit = {
    val (f, dir) = fs(spark, tableDir)
    val current = currentSnapshot(spark, tableDir)
    val all = snapshots(spark, tableDir)
    all.dropRight(keep).filterNot(current.contains).foreach { s =>
      f.delete(new org.apache.hadoop.fs.Path(dir, s), true)
    }
  }
}
