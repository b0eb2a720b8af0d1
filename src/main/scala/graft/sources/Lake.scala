package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Partitioned parquet lake I/O.
  *
  * The reference hand-rolls a lake with per-object S3 keys
  * `{zone}/{year}/{ticker}_metrics.parquet` and targeted reads/writes in
  * thread pools (reference: scripts/ingest_backfill_raw.py:49-78,
  * scripts/ingest_hourly.py:81-87, scripts/transform.py:113-125). Here a
  * zone is Hive-style partitioned parquet, which Catalyst prunes
  * automatically, replacing all key-targeted read loops. The stock
  * pipeline partitions by `year` and sorts each file by (ticker, date)
  * ([[graft.pipeline.StockPipeline]]): a `year` filter never touches
  * other directories, and a `ticker` filter skips row groups through
  * parquet min/max statistics, without one small file per ticker.
  *
  * Write contracts. [[LakeWriter.overwritePartitions]] replaces every
  * partition present in the batch and leaves the others untouched, so a
  * batch must carry ALL rows of each partition it touches, as a backfill
  * does. It is not the reference's row-level read-filter-concat-write
  * merge (ingest_hourly.py:117-131): a partial batch drops the rows of
  * its partitions that it does not carry. [[LakeWriter.replaceSnapshot]]
  * is the one way to rewrite a directory from its own contents, the
  * engine's form of the serving load's delete-today-then-append
  * transaction (load_stock_metrics.py:56-61): it heals a torn swap,
  * opens the current snapshot, writes the derived one beside it and
  * swaps it in with two renames.
  *
  * Read contract. [[LakeReader.read]] opens a path once per snapshot: it
  * keeps up to 32 resolved relations, one per (session, normalised
  * path, schema), each with the listing it was resolved over (path,
  * length and modification time of every file under the path). A read
  * whose listing and session confs are unchanged reuses the relation
  * without touching Hadoop conf, footer or partition discovery; any
  * other listing (every write above changes it) or conf opens afresh.
  */
object LakeWriter {

  /** Full (re)write of a zone, partitioned for pruning. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Dynamic partition overwrite: replaces exactly the partitions present
    * in `df`, leaves all others untouched. Idempotent by construction —
    * re-running the same batch rewrites the same partitions to the same
    * content. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** The one way to rewrite a lake directory from its own contents. In
    * this order it
    *  1. heals a swap an earlier writer left torn ([[recoverSnapshot]]);
    *  1. opens the current snapshot with [[LakeReader.read]], `None`
    *     when the path holds none;
    *  1. derives the new frame with `next`;
    *  1. writes it to the sibling `<path>.__staging__` and swaps it in
    *     with two renames.
    *
    * Because the heal runs before the read, a torn swap is never taken
    * for a first run. The previous snapshot stays on disk
    * (`<path>.__old__`) until the new one is fully written: an
    * overwrite in place would delete the files the new frame is read
    * from mid-job. The only non-atomic window is between the two
    * renames, and the next call heals it. Rename is atomic on HDFS and
    * the local file system; an object store needs a pointer file
    * instead. */
  def replaceSnapshot(spark: SparkSession, path: String, partitionCols: Seq[String])
                     (next: Option[DataFrame] => DataFrame): Unit = {
    recoverSnapshot(spark, path)
    val current = Option.when(LakeReader.exists(spark, path))(LakeReader.read(spark, path))
    val (target, staging, old) = snapshotPaths(path)
    val fs = target.getFileSystem(LakeReader.hadoopConf(spark))
    write(next(current), staging.toString, partitionCols)
    if (current.isDefined) require(fs.rename(target, old),
      s"replaceSnapshot: could not stage out previous snapshot at $path")
    require(fs.rename(staging, target),
      s"replaceSnapshot: could not commit new snapshot at $path " +
        s"(previous snapshot preserved at $old)")
    fs.delete(old, true)
    ()
  }

  /** [[replaceSnapshot]]'s heal step. A writer that died between the two
    * renames leaves the target missing and `<path>.__old__` holding the
    * previous snapshot: that is rolled BACK to the target, because the
    * interrupted batch never committed to its caller (a stream's
    * checkpoint replays it onto the restored snapshot). The staging
    * directory is deleted for the same reason, and an `__old__` beside
    * a live target (death after the commit, before the cleanup) is
    * swept. A no-op on a healthy or absent snapshot. */
  private[sources] def recoverSnapshot(spark: SparkSession, path: String): Unit = {
    val (target, staging, old) = snapshotPaths(path)
    val fs = target.getFileSystem(LakeReader.hadoopConf(spark))
    if (!fs.exists(target) && fs.exists(old))
      require(fs.rename(old, target),
        s"recoverSnapshot: could not restore $old to $path")
    fs.delete(staging, true)
    fs.delete(old, true)
    ()
  }

  /** The target and its `__staging__` and `__old__` siblings, derived
    * from the normalised path: `wh/` and `wh` name the same three. */
  private def snapshotPaths(path: String) = {
    val target = new org.apache.hadoop.fs.Path(path)
    (target, target.suffix(".__staging__"), target.suffix(".__old__"))
  }

  /** Partitioned-lake compaction, the small-files repair for append-heavy
    * zones. Every append adds at least one file per touched partition,
    * so a zone fed hourly (or an IVF-PQ index's `pq_postings.parquet`,
    * partitioned by `centroid_id`) degrades into many kilobyte files
    * whose open and footer costs dominate scans. Rewrites every
    * partition to at most `filesPerPartition` files through ONE shuffle
    * keyed on (partition columns, row-hash bucket) and commits through
    * [[replaceSnapshot]], so it first heals a torn swap and a reader
    * never sees a half-compacted zone. Content is unchanged: compaction
    * is layout, not data. A path that holds no snapshot raises.
    *
    * Run it from the [[fileCounts]] observer, not on a timer: compact
    * when the worst partition crosses a file budget. */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String],
              filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1, got $filesPerPartition")
    replaceSnapshot(spark, path, partitionCols) { current =>
      require(current.isDefined, s"compact: no snapshot at $path")
      val df = current.get
      val bucket = pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(filesPerPartition))
      df.repartition(partitionCols.map(col) :+ bucket: _*)
    }
  }

  /** Per-partition data-file counts of a Hive-partitioned zone — the
    * no-silent-degradation observer that tells you WHEN to [[compact]].
    * Walks the partition directory tree on the driver — a maintenance
    * action bounded by partition count, not a data read. `partition` is the
    * relative Hive path ("year=1997/ticker=A"); an unpartitioned zone
    * reports one "" row. */
  def fileCounts(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(LakeReader.hadoopConf(spark))
    def walk(dir: org.apache.hadoop.fs.Path, rel: String): Seq[(String, Long)] = {
      val entries = fs.listStatus(dir).toSeq
      val subdirs = entries.filter(e => e.isDirectory && e.getPath.getName.contains("="))
      val files = entries.count(e => e.isFile && e.getPath.getName.endsWith(".parquet"))
      val below = subdirs.flatMap { d =>
        val name = d.getPath.getName
        walk(d.getPath, if (rel.isEmpty) name else s"$rel/$name")
      }
      if (files > 0 || below.isEmpty) (rel, files.toLong) +: below else below
    }
    import spark.implicits._
    walk(root, "").toDF("partition", "n_files")
  }

  /** Z-value of numeric columns: each column scales linearly onto a
    * `bits`-bit integer grid over its [min, max] (bounds passed in —
    * one agg collects them; an index-layout action, not a data read),
    * then the grids' bits interleave into one long. Rows close in
    * z-value are close in EVERY interleaved dimension, which is what
    * makes the multi-column clustering below work. Pure codegen'd
    * column expression — shifts, masks, ors. */
  private[sources] def zValue(cols: Seq[org.apache.spark.sql.Column],
                              mins: Seq[Double], maxs: Seq[Double],
                              bits: Int): org.apache.spark.sql.Column = {
    require(cols.size * bits <= 63, s"${cols.size} cols × $bits bits exceeds a long")
    val maxCell = (1L << bits) - 1
    val cells = cols.zipWithIndex.map { case (c, i) =>
      val span = maxs(i) - mins(i)
      // null values land in cell 0: floor(null) is null, and greatest
      // SKIPS nulls, leaving the lit(0L) floor — see writeZOrdered's
      // null-handling contract
      if (span == 0) lit(0L)
      else least(lit(maxCell), greatest(lit(0L),
        floor((c.cast("double") - mins(i)) / span * maxCell).cast("long")))
    }
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      cells.zipWithIndex.foldLeft(acc) { case (a, (cell, i)) =>
        a.bitwiseOR(shiftleft(
          shiftrightunsigned(cell, b).bitwiseAND(lit(1L)),
          b * cols.size + i))
      }
    }
  }

  /** Z-ORDER clustered write — the multi-dimensional file-skipping
    * layout (the shape of Delta/Iceberg's `ZORDER BY`, built from
    * public Spark primitives): rows sort by the interleaved z-value, so
    * every output file covers a small HYPER-RECTANGLE of the clustered
    * columns and parquet min/max stats prune scans on ANY of them — a
    * single-column sort gives perfect pruning on one column and none on
    * the rest; z-ordering trades a little of the first column's
    * locality for pruning on all of them. At 100 TB this is the
    * difference between reading a table and reading a tile.
    *
    * Mechanics: one agg for per-column bounds, `repartitionByRange` on
    * the z-value (range exchange: balanced files, globally ordered
    * ranges), sort within partitions, write. The z-value itself is not
    * persisted — it is layout, not data.
    *
    * STRING columns cluster too: each string column maps onto the grid
    * through a sorted-distinct dictionary rank (value → its 0-based
    * position in the column's sorted value set), so lexicographically
    * close values land in close cells and parquet min/max stats on the
    * string column itself still prune scans — the reference's own
    * `ticker` cluster key is exactly this shape. The dictionary is one
    * distinct + one |values|-row window and rides back on a broadcast
    * join, so it must FIT: suitable for the low-cardinality keys that
    * make good cluster columns (tickers, countries, categories), not
    * for free-text; hash free-text to a numeric bucket first and
    * accept the documented locality loss.
    *
    * The string dictionary (and its broadcast + global rank window) is
    * |distinct values| of a column the caller DECLARED low-cardinality
    * — that contract is ENFORCED, not trusted: a bounded
    * `limit(cap+1).count()` probe (the repo's standard broadcast-guard
    * pattern — it scans at most cap+1 dictionary rows, never a full
    * count) fails loudly past `maxDictValues` BEFORE the rank window
    * or the broadcast build can funnel a high-cardinality key through
    * one task / the driver. The default cap (1,000,000) is far above
    * any real cluster key (tickers, countries, categories) and far
    * below where the single-task rank window becomes the job.
    *
    * Null handling: a NULL in a clustered column (numeric, or string —
    * the dictionary skips nulls and the left join leaves them unranked)
    * quantizes to cell 0, so null rows cluster into the grid-origin
    * tile alongside the minimum values — they stay skippable on the
    * OTHER clustered columns but not on the null one. An all-null (or
    * empty) input fails loudly: there are no bounds to build a grid
    * from. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    files: Int, bits: Int = 16,
                    maxDictValues: Int = 1000000): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.StringType
    val isString = cols.map(c => df.schema(c).dataType == StringType)
    // string cluster keys → 0-based sorted-dictionary rank columns
    val work = cols.zip(isString).foldLeft(df) { case (w, (c, s)) =>
      if (!s) w
      else {
        val base = df.select(col(c)).where(col(c).isNotNull).distinct()
        // bounded low-cardinality probe: scans ≤ cap+1 distinct values
        val over = base.limit(maxDictValues + 1).count() > maxDictValues
        require(!over,
          s"writeZOrdered: string cluster column '$c' exceeds " +
            s"$maxDictValues distinct values — the sorted-dictionary " +
            "contract is for low-cardinality keys (tickers, countries, " +
            "categories); hash free-text to a numeric bucket first")
        val dict = base.withColumn(s"__zd_$c",
          (row_number().over(Window.orderBy(col(c))) - 1).cast("double"))
        w.join(broadcast(dict), Seq(c), "left")
      }
    }
    val zcols = cols.zip(isString).map { case (c, s) => if (s) s"__zd_$c" else c }
    val aggs = zcols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c")))
    val row = work.agg(aggs.head, aggs.tail: _*).head()
    // min/max skip nulls, so an empty input or an all-null clustered
    // column yields null bounds — fail with the actual problem instead
    // of an opaque NPE at getDouble
    cols.indices.foreach { i =>
      require(!row.isNullAt(2 * i) && !row.isNullAt(2 * i + 1),
        s"writeZOrdered: no non-null values for clustered column " +
          s"'${cols(i)}' (empty input or all-null column)")
    }
    val mins = cols.indices.map(i => row.getDouble(2 * i)).toSeq
    val maxs = cols.indices.map(i => row.getDouble(2 * i + 1)).toSeq
    val z = zValue(zcols.map(col), mins, maxs, bits)
    work.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      // back to the INPUT schema: drops the surrogates and __z, and
      // undoes the join's key-to-front column reorder
      .select(df.columns.map(col).toSeq: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}

object LakeReader {
  import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

  /** The Hadoop conf of the lake's file-system calls: the session's, the
    * one `spark.read` lists and scans with, so a session-level
    * `spark.conf.set("fs.…")` reaches every call here too. */
  private[sources] def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  /** Whether `path` exists: [[LakeWriter.replaceSnapshot]]'s
    * first-run test, made after its heal step. */
  private[sources] def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(hadoopConf(spark)).exists(p)
  }

  /** Tables [[read]] keeps open, least recently read evicted first. A
    * dashboard reads two; a test JVM's suites read a few dozen. */
  private val OpenTables = 32

  private final case class Key(spark: SparkSession, path: Path, schema: Option[StructType])

  /** A resolved relation and what it was resolved under: the session's
    * confs and the listing of its snapshot, taken before it was
    * resolved, on the file system handle of that first open. */
  private final case class Opened(fs: FileSystem, root: Path, confs: Map[String, String],
                                  listing: Seq[(String, Long, Long)], relation: HadoopFsRelation)

  private val opened = new java.util.LinkedHashMap[Key, Opened](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Opened]): Boolean =
      size > OpenTables
  }

  /** Schema-enforced zone read; partition/pushdown filters apply at scan.
    *
    * A given `schema` is used as is. Without one, the data schema comes
    * from ONE footer, read on the driver: that of the zone's first
    * visible data file in sorted path order (a file-stream sink's
    * output: its first committed file). That is Spark's own
    * mergeSchema-off inference rule without the Spark job it launches
    * to read that footer, so the frame's columns (names, types,
    * nullability, order; partition columns discovered from the listing
    * and appended last) and rows are exactly `spark.read.parquet`'s.
    * A path with no visible data file (missing, empty, only `_SUCCESS`)
    * goes to `spark.read.parquet` unchanged and fails as it does.
    * Merging every file's schema is refused under
    * `spark.sql.parquet.mergeSchema`: pass the schema, or read through
    * [[VersionedLake.read]], which merges with its own reader.
    *
    * Reuse. The resolved relation is kept per (session, normalised
    * path, schema), at most `OpenTables` (32) of them, least recently
    * read evicted first, with the identity of the snapshot it was
    * resolved over: the path, length and modification time of every
    * file under the path, hidden ones (`_spark_metadata` logs,
    * `_SUCCESS`, `.crc`) included, listed on the driver before the
    * relation is resolved. A later read lists
    * again through the file system handle kept from that open; when the
    * listing and every session conf are unchanged it returns a new frame
    * (fresh attribute ids, so two reads self-join as two
    * `spark.read.parquet` calls do) over the same relation: no Hadoop
    * conf, no data-source lookup, no footer read, no partition discovery.
    * Any other listing (a commit, an append, a dynamic overwrite, a
    * healed swap, a sink batch, a writer's leftovers) or conf is a miss
    * that opens the path as above. Globs are never kept. A writer that
    * rewrites a file in place with the same length and modification
    * time is not seen; Spark's writers name every file afresh. */
  def read(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val key = Key(spark, new Path(path), schema)
    val confs = spark.sessionState.conf.getAllConfs
    val kept = opened.synchronized(Option(opened.get(key)))
      .filter(o => o.confs == confs && listing(o.fs, o.root).contains(o.listing))
    kept.fold(open(spark, key, path, confs))(o => spark.baseRelationToDataFrame(o.relation))
  }

  private def open(spark: SparkSession, key: Key, path: String,
                   confs: Map[String, String]): DataFrame = {
    val conf = hadoopConf(spark)
    val fs = key.path.getFileSystem(conf)
    val root = fs.makeQualified(key.path)
    val before = if (path.exists("{}[]*?\\".contains(_))) None else listing(fs, root)
    val r = spark.read
    val df = key.schema.orElse(footerSchema(spark, conf, fs, root, path))
      .fold(r)(s => r.schema(s)).parquet(path)
    for (l <- before; rel <- df.queryExecution.analyzed.collectFirst {
           case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) => rel })
      opened.synchronized(opened.put(key, Opened(fs, root, confs, l, rel)))
    df
  }

  /** (path, length, modification time) of every file under `root`,
    * sorted; None when `root` cannot be listed (missing, unreadable). */
  private def listing(fs: FileSystem, root: Path): Option[Seq[(String, Long, Long)]] = {
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    try Some(walk(fs.getFileStatus(root)).sorted)
    catch { case _: java.io.IOException => None }
  }

  /** The data schema Spark's parquet inference would take for `path`
    * with mergeSchema off, or None where `spark.read.parquet` must infer
    * (or fail) itself: no visible data file (a glob names no literal
    * path, so it lands here too), or a file that also stores a
    * partition column (under a given schema that column would move to
    * the end). */
  private def footerSchema(spark: SparkSession, conf: org.apache.hadoop.conf.Configuration,
                           fs: FileSystem, qualified: Path, path: String): Option[StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet._
    import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
    val sqlConf = spark.sessionState.conf
    require(!sqlConf.isParquetSchemaMergingEnabled,
      s"LakeReader.read($path) takes the schema from one footer, but " +
        "spark.sql.parquet.mergeSchema=true asks to merge every file's: " +
        "pass the schema, or read through VersionedLake.read")
    val first =
      if (FileStreamSink.hasMetadata(Seq(path), conf, sqlConf))
        new MetadataLogFileIndex(spark, qualified, Map.empty, None)
          .allFiles().minByOption(_.getPath.toString)
      else firstVisibleFile(fs, qualified)
    first.flatMap { f =>
      val footer = new Footer(f.getPath,
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))
      val s = ParquetFileFormat.readSchemaFromFooter(footer,
        new ParquetToSparkSchemaConverter(sqlConf))
      val partCols = f.getPath.toUri.getPath.stripPrefix(qualified.toUri.getPath)
        .split('/').dropRight(1).filter(_.contains('='))
        .map(_.takeWhile(_ != '=').toLowerCase).toSet
      if (s.fieldNames.exists(n => partCols(n.toLowerCase))) None else Some(s)
    }
  }

  /** The first data file under `root` in sorted path order, skipping
    * the names Spark's listing hides (`_*` without `=`, `.*`,
    * `*._COPYING_`). Lists only the directories on the way to it: the
    * children of a directory are visited in the order of the paths
    * below them, a subdirectory's paths all starting with "name/". */
  private def firstVisibleFile(fs: FileSystem, root: Path): Option[FileStatus] = {
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_"))
    }
    def first(st: FileStatus): Option[FileStatus] =
      if (!st.isDirectory) Some(st)
      else fs.listStatus(st.getPath).filter(visible)
        .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
        .iterator.flatMap(first).nextOption()
    try Some(fs.getFileStatus(root)).filter(st => st.isDirectory || visible(st)).flatMap(first)
    catch { case _: java.io.FileNotFoundException => None }
  }
}
