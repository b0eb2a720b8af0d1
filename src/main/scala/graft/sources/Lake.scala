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
  * Scale notes: dynamic partition overwrite ([[LakeWriter.overwritePartitions]])
  * rewrites ONLY the partitions present in the batch — the reference's
  * read-filter-concat-write merge loop (ingest_hourly.py:117-131) and its
  * delete-today-then-append idempotency trick (load_stock_metrics.py:56-61)
  * both collapse into it. At 100 TB an incremental batch rewrites a few
  * partitions, never the table.
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

  /** Append-only write (raw-zone backfill shape). */
  def append(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** CSV export (reference S10: scripts/ingest_backfill_sp500.py:34-39 —
    * dormant local CSV path for dashboard hosting). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Crash-safe snapshot replace for a serving table DERIVED FROM the
    * path being replaced: write the new snapshot to a sibling staging
    * dir first, then swap via two renames. A plain overwrite-in-place
    * deletes the source mid-job — a crash or lost executor there
    * destroys the table unrecoverably (even a localCheckpoint stage is
    * executor-local, not durable). Here the previous snapshot survives
    * on disk (`<path>.__old__`) until the new one is fully committed;
    * the only non-atomic window is between the two renames, where the
    * data still exists and a janitor can roll either way. On HDFS/local
    * FS rename is atomic; object stores should use a pointer-file
    * indirection instead. */
  def replaceSnapshot(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(LakeReader.hadoopConf(df.sparkSession))
    val staging = new org.apache.hadoop.fs.Path(path + ".__staging__")
    val old = new org.apache.hadoop.fs.Path(path + ".__old__")
    fs.delete(staging, true)
    fs.delete(old, true)
    write(df, staging.toString, partitionCols) // reads target, writes sibling
    if (fs.exists(target)) require(fs.rename(target, old),
      s"replaceSnapshot: could not stage out previous snapshot at $path")
    require(fs.rename(staging, target),
      s"replaceSnapshot: could not commit new snapshot at $path " +
        s"(previous snapshot preserved at $old)")
    fs.delete(old, true)
    ()
  }

  /** Janitor for [[replaceSnapshot]]'s non-atomic window: call BEFORE
    * reading a snapshot that is maintained by replaceSnapshot. If a
    * previous writer died between the two renames, the target is
    * missing while `<path>.__old__` still holds the pre-batch data —
    * without recovery a naive exists() probe would mistake that state
    * for a first run and silently restart from scratch. Rolls BACK
    * (old → target) rather than forward: the interrupted batch never
    * committed to the caller's checkpoint, so it will be replayed onto
    * the restored snapshot; the fully-written-but-uncommitted staging
    * dir is deleted for the same reason. Leftover `__old__` beside a
    * live target (death after commit, before cleanup) is swept. */
  def recoverSnapshot(spark: SparkSession, path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(LakeReader.hadoopConf(spark))
    val staging = new org.apache.hadoop.fs.Path(path + ".__staging__")
    val old = new org.apache.hadoop.fs.Path(path + ".__old__")
    if (!fs.exists(target) && fs.exists(old))
      require(fs.rename(old, target),
        s"recoverSnapshot: could not restore $old to $path")
    fs.delete(staging, true)
    fs.delete(old, true)
    ()
  }

  /** Partitioned-lake compaction — the small-files repair for
    * append-heavy zones. Every [[append]] adds at least one file per
    * touched partition, so a zone fed hourly degrades into thousands of
    * kilobyte files whose open/footer overhead dominates scans long
    * before partition pruning can help (the same failure mode
    * [[graft.ops.IvfIndex.compactPq]] repairs for ANN postings — this is
    * the general-lake form). Rewrites every partition to at most
    * `filesPerPartition` files via ONE shuffle keyed on
    * (partition columns, deterministic row-hash bucket), then commits
    * with the [[replaceSnapshot]] staged-rename swap, so the previous
    * zone survives on disk until the compacted one is fully written and
    * a reader never sees a half-compacted zone. Content is unchanged —
    * compaction is layout, not data (spec-pinned by LakeSpec).
    *
    * Run it from the [[fileCounts]] observer, not on a timer: compact
    * when the worst partition crosses a file budget. */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String],
              filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition >= 1,
      s"filesPerPartition must be >= 1, got $filesPerPartition")
    val df = LakeReader.read(spark, path)
    val bucket = pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(filesPerPartition))
    replaceSnapshot(
      df.repartition(partitionCols.map(col) :+ bucket: _*),
      path, partitionCols)
  }

  /** Per-partition data-file counts of a Hive-partitioned zone — the
    * no-silent-degradation observer that tells you WHEN to [[compact]]
    * (companion of [[graft.ops.IvfIndex.pqPostingsFileCounts]]). Walks
    * the partition directory tree on the driver — a maintenance action
    * bounded by partition count, not a data read. `partition` is the
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

  /** Bucketed catalog table: pre-shuffles ONCE at write time so every
    * subsequent equi-join/aggregation on the bucket keys is
    * co-located — no exchange in the join plan. The 100 TB pattern for
    * fact tables that are repeatedly joined on the same key (bucket both
    * sides with the same count; sortBy makes the merge join sort-free
    * too). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String], sortCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.drop(1): _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.drop(1): _*) else w)
      .format("parquet").saveAsTable(table)
  }
}

object LakeReader {
  import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

  /** The Hadoop conf of the lake's file-system calls: the session's, the
    * one `spark.read` lists and scans with, so a session-level
    * `spark.conf.set("fs.…")` reaches every call here too. */
  private[sources] def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  /** Zone existence check (first-run vs incremental branching). */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(hadoopConf(spark)).exists(p)
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
    * [[VersionedLake.read]], which merges with its own reader. */
  def read(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.orElse(footerSchema(spark, path)).fold(r)(s => r.schema(s)).parquet(path)
  }

  /** The data schema Spark's parquet inference would take for `path`
    * with mergeSchema off, or None where `spark.read.parquet` must infer
    * (or fail) itself: no visible data file (a glob names no literal
    * path, so it lands here too), or a file that also stores a
    * partition column (under a given schema that column would move to
    * the end). */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
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
    val conf = hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val qualified = fs.makeQualified(root)
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

  /** CSV read with header + schema (reference S2 seed-file shape). */
  def readCsv(spark: SparkSession, path: String,
              schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  /** One partition subset, expressed as a filter so Catalyst prunes at
    * the source instead of the caller composing object keys
    * (reference: scripts/transform.py:46-60 reads one key per task). */
  def readPartition(spark: SparkSession, path: String,
                    partitionEq: Map[String, Any]): DataFrame =
    partitionEq.foldLeft(read(spark, path)) { case (df, (k, v)) =>
      df.filter(col(k) === lit(v))
    }
}
