package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-granular copy-on-write versioned lake — time travel,
  * rollback and a change feed from public primitives (the shape of
  * Delta/Iceberg snapshots, scoped to Hive-partitioned parquet).
  *
  * Layout under a table root:
  * {{{
  *   data/v3/year=1997/ticker=A/  (parquet files written BY commit 3)
  *   _manifest/v3.tsv             (partition -> owning commit)
  * }}}
  *
  * Every commit writes data files ONLY for the partitions present in its
  * batch (copy-on-write at partition granularity) and a new manifest
  * mapping EVERY live partition to the commit that owns its current
  * files. Unchanged partitions keep pointing at their old files, so a
  * 100 TB table's hourly commit costs the changed partitions plus a
  * partition-count-sized manifest — never a table rewrite — and every
  * historical version stays readable for free until vacuumed.
  *
  * Commit protocol: data files land first (under the new version's own
  * directory — invisible to every existing manifest), then the manifest
  * appears via write-to-temp + atomic rename. A reader always resolves a
  * fully-written manifest; a writer that dies pre-rename leaves only an
  * unreferenced data directory for [[vacuum]] to sweep. Single-writer
  * (last manifest wins), like the reference's Airflow-serialized loads.
  *
  * Reads resolve a manifest, group partitions by owning commit, and scan
  * each commit directory with the partition filter pushed down — one
  * parquet scan per distinct owning version (bounded by commit count,
  * typically collapsed by compacting commits), unioned by name.
  */
object VersionedLake {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(LakeReader.hadoopConf(spark))

  private def manifestDir(root: String) = s"$root/_manifest"

  /** Committed version numbers, ascending (driver-side listing). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val dir = new Path(manifestDir(root))
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".tsv") =>
        s.stripPrefix("v").stripSuffix(".tsv").toInt }
      .sorted
  }

  def latestVersion(spark: SparkSession, root: String): Option[Int] =
    versions(spark, root).lastOption

  /** partition-relative-path -> owning version, for one manifest. */
  private[sources] def readManifest(spark: SparkSession, root: String,
                                    version: Int): Map[String, Int] = {
    val p = new Path(s"${manifestDir(root)}/v$version.tsv")
    val in = fs(spark, root).open(p)
    val text = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    text.split('\n').iterator.filter(_.nonEmpty).map { line =>
      val i = line.lastIndexOf('\t')
      require(i > 0, s"malformed manifest line in v$version.tsv: '$line'")
      line.substring(0, i) -> line.substring(i + 1).toInt
    }.toMap
  }

  private def writeManifest(spark: SparkSession, root: String, version: Int,
                            entries: Map[String, Int]): Unit = {
    val f = fs(spark, root)
    f.mkdirs(new Path(manifestDir(root)))
    val tmp = new Path(s"${manifestDir(root)}/.v$version.tsv.tmp")
    val out = f.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(s"${manifestDir(root)}/v$version.tsv")
    require(f.rename(tmp, target), s"could not commit manifest $target")
  }

  /** Hard ceiling on distinct partitions one commit may touch (and so
    * on the driver-side partition-path collect): the manifest design is
    * partition-granular, so a commit that touches millions of partitions
    * means the table is partitioned on a near-unique column — that's a
    * modeling bug, and collecting its partition list would balloon the
    * driver. Raise deliberately via the `maxPartitions` parameter. */
  val DefaultMaxPartitions = 100000

  /** The batch's partition directories, Hive-encoded relative paths in
    * partition-column order ("year=1997/ticker=A"). One |partitions|-row
    * aggregate — a commit-metadata action, not a data read. BOUNDED: the
    * collect is `limit(max+1)`, so a runaway partition column costs one
    * extra row and a loud failure, never an unbounded driver list. */
  private def partitionPaths(df: DataFrame, partitionCols: Seq[String],
                             maxPartitions: Int): Seq[String] = {
    val enc = concat_ws("/", partitionCols.map(c =>
      concat(lit(s"$c="), col(c).cast("string"))): _*)
    val got = df.select(enc.as("p")).distinct()
      .limit(maxPartitions + 1).collect().map(_.getString(0)).toSeq
    require(got.size <= maxPartitions,
      s"commit touches more than $maxPartitions distinct partitions of " +
        s"(${partitionCols.mkString(",")}) — the partition columns are " +
        "near-unique (mis-partitioned table?); repartition the model or " +
        "raise maxPartitions deliberately")
    got
  }

  /** Commit a batch: its partitions' files are replaced (copy-on-write),
    * every other live partition carries over from the previous manifest.
    * Returns the new version number. Partition values must be non-null —
    * the Hive path is the partition's identity here. */
  def commit(df: DataFrame, root: String, partitionCols: Seq[String],
             maxPartitions: Int = DefaultMaxPartitions): Int = {
    require(partitionCols.nonEmpty, "versioned lake requires partition columns")
    val spark = df.sparkSession
    val prev = latestVersion(spark, root)
    val next = prev.fold(1)(_ + 1)
    val hasNullPartitionRows =
      !df.filter(partitionCols.map(col(_).isNull).reduce(_ || _)).isEmpty
    require(!hasNullPartitionRows,
      "null partition values are not addressable in a versioned lake")
    val touched = partitionPaths(df, partitionCols, maxPartitions)
    require(touched.nonEmpty, "refusing to commit an empty batch (no partitions)")
    df.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(s"$root/data/v$next")
    val carried = prev.fold(Map.empty[String, Int])(readManifest(spark, root, _))
    writeManifest(spark, root, next, carried ++ touched.map(_ -> next).toMap)
    next
  }

  /** Row-level MERGE commit (the MERGE INTO shape on partition-granular
    * copy-on-write): upsert `delta` into the current table state by
    * `keys` — rows of touched partitions whose key collides with a
    * delta row are replaced, colliding delta rows collapse to the
    * max-`tiebreak` survivor ([[graft.ops.Merge.upsert]] semantics) —
    * and commit ONLY the rewritten partitions. Reads are partition-
    * pruned to the delta's partitions, so the merge cost scales with
    * the delta's footprint, never the table.
    *
    * `partitionCols ⊆ keys` is required: a key that can migrate across
    * partitions would leave its stale copy in an untouched partition
    * (classic partition-merge pitfall — fail loudly instead). */
  def commitUpsert(delta: DataFrame, root: String, partitionCols: Seq[String],
                   keys: Seq[String], tiebreak: String,
                   maxPartitions: Int = DefaultMaxPartitions): Int = {
    require(partitionCols.forall(keys.contains),
      s"partition columns (${partitionCols.mkString(",")}) must be part of " +
        s"the merge keys (${keys.mkString(",")}) — a key that migrates " +
        "partitions would duplicate across them")
    val spark = delta.sparkSession
    val merged = latestVersion(spark, root) match {
      case None => graft.ops.Merge.dedupByKey(delta, keys, tiebreak)
      case Some(_) =>
        val enc = concat_ws("/", partitionCols.map(c =>
          concat(lit(s"$c="), col(c).cast("string"))): _*)
        val touched = partitionPaths(delta, partitionCols, maxPartitions)
        // a predicate purely over partition columns: the grouped scans
        // in read() prune to the delta's partitions
        val current = read(spark, root).filter(enc.isin(touched: _*))
        graft.ops.Merge.upsert(current, delta, keys, tiebreak)
    }
    commit(merged, root, partitionCols, maxPartitions)
  }

  /** Time-travel read: the table as of `version` (default: latest).
    * Partitions group by owning commit; each group is ONE partition-
    * pruned scan of that commit's directory (basePath keeps the
    * partition columns), unioned by name.
    *
    * `evolveSchema = true` turns on ADDITIVE schema evolution across
    * commits: columns a commit lacks read as null (mergeSchema within a
    * commit dir, allowMissingColumns across commits) — the
    * "new column lands mid-table-history" read. The default is strict:
    * schema drift between commits fails loudly rather than silently
    * nulling a column the caller believed populated. */
  def read(spark: SparkSession, root: String,
           version: Option[Int] = None,
           evolveSchema: Boolean = false): DataFrame = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(s"no committed versions under $root"))
    require(versions(spark, root).contains(v),
      s"version $v does not exist under $root (have ${versions(spark, root).mkString(",")})")
    val byOwner = readManifest(spark, root, v).toSeq.groupBy(_._2)
    byOwner.toSeq.sortBy(_._1).map { case (owner, parts) =>
      val base = s"$root/data/v$owner"
      val r = spark.read.option("basePath", base)
      (if (evolveSchema) r.option("mergeSchema", "true") else r)
        .parquet(parts.map { case (rel, _) => s"$base/$rel" }: _*)
    }.reduce(_.unionByName(_, allowMissingColumns = evolveSchema))
  }

  /** COMPACTION commit: re-commit the CURRENT table state as one fresh
    * version, so every live partition's files land in a single commit
    * directory — the versioned-lake counterpart of
    * [[LakeWriter.compact]]. Sustained partial commits leave
    * the manifest pointing at many historical version dirs (one scan
    * per owning commit at read time, small files accumulating per
    * partition); compaction collapses the owner spread to 1 and lets
    * [[vacuum]] reclaim every superseded directory once old manifests
    * are retired. History stays append-only: prior versions remain
    * readable until vacuumed. Partition columns are recovered from the
    * manifest's own Hive paths — the manifest is self-describing, no
    * caller flag to get wrong. */
  def compact(spark: SparkSession, root: String,
              maxPartitions: Int = DefaultMaxPartitions): Int = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions under $root"))
    val entries = readManifest(spark, root, v)
    require(entries.nonEmpty, s"version $v has an empty manifest")
    val partitionCols = entries.keys.head.split('/')
      .map(_.takeWhile(_ != '=')).toSeq
    commit(read(spark, root), root, partitionCols, maxPartitions)
  }

  /** Roll back by committing a PAST manifest as the new latest — history
    * stays linear and append-only (the Delta RESTORE shape): readers of
    * intermediate versions are unaffected, and the bad version remains
    * inspectable. */
  def rollback(spark: SparkSession, root: String, toVersion: Int): Int = {
    val target = readManifest(spark, root, toVersion) // validates existence
    val next = latestVersion(spark, root).get + 1
    writeManifest(spark, root, next, target)
    next
  }

  /** Sweep data directories no manifest references (crashed commits,
    * vacuumed history): keep every version dir referenced by manifests
    * in `keepVersions` (default: all manifests). Returns removed dirs. */
  def vacuum(spark: SparkSession, root: String,
             keepVersions: Option[Seq[Int]] = None): Seq[String] = {
    val f = fs(spark, root)
    val keep = keepVersions.getOrElse(versions(spark, root))
    val referenced = keep.flatMap(readManifest(spark, root, _).values).toSet
    val dataDir = new Path(s"$root/data")
    if (!f.exists(dataDir)) return Seq.empty
    f.listStatus(dataDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .filterNot(s => referenced.contains(s.getPath.getName.stripPrefix("v").toInt))
      .map { s => f.delete(s.getPath, true); s.getPath.toString }
  }
}
