package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF index LIFECYCLE: build once, persist to the lake, load and probe
  * many times — the shape of any production ANN service, where the
  * expensive pass (centroid selection + corpus assignment) runs in a
  * build job and query jobs only read.
  *
  * Layout under `path`:
  *  - `centroids.parquet` — (centroid_id int, cv array<double>), k rows;
  *  - `postings.parquet`  — (neighbor_id, cv, centroid_id), one row per
  *    corpus vector, written PARTITIONED BY centroid_id so a probe that
  *    touches `nprobe` lists prunes the rest at the file level (the
  *    on-disk analogue of the broadcast-probe plan: the corpus is never
  *    shuffled, and now never even fully scanned). The pruning is
  *    Spark's DYNAMIC partition pruning: the probe's broadcast join on
  *    centroid_id gets a pruning subquery reusing the broadcast
  *    (asserted by IvfPruningSpec). Precondition: the QUERY side must
  *    be file-backed — a driver-built local query frame constant-folds
  *    its filter away, DPP's selectivity check fails, and the probe
  *    (still correct) scans every list.
  *
  * Determinism: centroids are data-derived ([[Similarity.dataCentroids]])
  * and parquet round-trips doubles/floats bit-exactly, so a loaded index
  * probes identically to the in-memory one — which is what lets the
  * persisted path share the in-memory path's oracle. */
object IvfIndex {

  /** The PQ encoding a persisted index was built with, recorded at
    * save time in `meta.parquet` (one row: encoding "raw"|"residual").
    * Raw and residual codes are NOT interchangeable at probe or append
    * time, and nothing about the postings layout distinguishes them —
    * without this marker, an append with the wrong flavor would
    * silently mix encodings and probes would return wrong neighbors
    * with no error. The marker makes the index self-describing:
    * [[appendPq]] reads it instead of trusting a caller flag. */
  def pqEncoding(spark: SparkSession, path: String): String = {
    val rows = spark.read.parquet(s"$path/meta.parquet")
      .select(col("encoding")).collect()
    require(rows.length == 1,
      s"$path/meta.parquet: expected exactly one encoding row, got ${rows.length}")
    val enc = rows(0).getString(0)
    require(enc == "raw" || enc == "residual",
      s"$path/meta.parquet: unknown pq encoding '$enc'")
    enc
  }

  private def writeMeta(spark: SparkSession, path: String, encoding: String): Unit = {
    import spark.implicits._
    Seq(encoding).toDF("encoding")
      .repartition(1) // one row — one file
      .write.mode("overwrite").parquet(s"$path/meta.parquet")
  }

  /** Build the index from `df` and persist it; returns the centroids. */
  def save(df: DataFrame, id: String, vec: String, k: Int,
           path: String): Array[Array[Double]] = {
    val spark = df.sparkSession
    val cents = Similarity.dataCentroids(df, id, vec, k)
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "cv")
      .repartition(1) // k rows — one file, not one per shuffle partition
      .write.mode("overwrite").parquet(s"$path/centroids.parquet")
    Similarity.ivfAssignWith(df, vec, cents)
      .select(col(id).as("neighbor_id"), col(vec).as("cv"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/postings.parquet")
    cents
  }

  /** Append a new vector batch to a persisted index WITHOUT rebuilding:
    * the batch is assigned against the EXISTING centroids (k×dim to the
    * driver, never data) and its postings append into the partitioned
    * layout — the continual-ingest shape, where per-batch work is
    * O(|batch|·k) and the historical postings are never rewritten.
    * Centroid drift under sustained ingest is the documented trade:
    * handle it with periodic [[save]] rebuilds, not per-batch. The
    * caller must not append ids already present — postings are an
    * append-only log, and a duplicate id would surface twice in probes
    * (exactly as in any production ANN ingest without a tombstone
    * layer). */
  def append(df: DataFrame, id: String, vec: String, path: String): Unit = {
    val cents = loadCentroids(df.sparkSession, path)
    Similarity.ivfAssignWith(df, vec, cents)
      .select(col(id).as("neighbor_id"), col(vec).as("cv"), col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$path/postings.parquet")
  }

  /** Build and persist the COMPOSED IVF-PQ index — the production ANN
    * layout where PQ codes live INSIDE the IVF postings: probes touch
    * only `nprobe` lists (IVF's candidate pruning) AND read each
    * surviving posting as m small ints instead of dim floats (PQ's ~32×
    * compression). One corpus pass builds both structures (centroid
    * argmax + subspace encode over the same scan).
    *
    * Layout adds to [[save]]'s:
    *  - `codebooks.parquet`   — (s, code, cw array<double>), m·codeK
    *    rows: subspace s's codeword for each code id;
    *  - `pq_postings.parquet` — (neighbor_id, pq_code array<int>),
    *    PARTITIONED BY centroid_id, so a probe's nprobe lists prune at
    *    the file level and the scan reads codes, not vectors;
    *  - `meta.parquet` — the encoding marker ([[pqEncoding]]): "raw"
    *    here, "residual" from [[savePqResidual]].
    *
    * Determinism: centroids/codebooks are data-derived
    * ([[Similarity.dataCentroids]]/[[Similarity.pqCodebooks]]) and
    * parquet round-trips doubles and int codes bit-exactly, so the
    * loaded index probes identically to the in-memory composition —
    * which lets the persisted path share the in-memory oracle. */
  def savePq(df: DataFrame, id: String, vec: String, k: Int, path: String,
             m: Int = 8, codeK: Int = 16, codeFrom: Long = 32)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val spark = df.sparkSession
    val cents = Similarity.dataCentroids(df, id, vec, k)
    val codebooks = Similarity.pqCodebooks(df, id, vec, dim = cents(0).length,
      m = m, k = codeK, from = codeFrom)
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "cv")
      .repartition(1) // k rows — one file, not one per shuffle partition
      .write.mode("overwrite").parquet(s"$path/centroids.parquet")
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cw, code) => (s, code, cw.toSeq) }
      }.toSeq.toDF("s", "code", "cw")
      .repartition(1) // m·codeK rows
      .write.mode("overwrite").parquet(s"$path/codebooks.parquet")
    Similarity.pqEncode(Similarity.ivfAssignWith(df, vec, cents), vec, codebooks)
      .select(col(id).as("neighbor_id"), col("pq_code"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/pq_postings.parquet")
    writeMeta(spark, path, "raw")
    (cents, codebooks)
  }

  /** [[savePq]] with RESIDUAL encoding (the FAISS default): codebooks
    * quantize `x − centroid(x)` and postings store residual codes.
    * Same on-disk layout; the two encodings are NOT interchangeable at
    * probe time — a residual index must be probed with
    * [[Similarity.ivfPqResidualProbe]], which adds the list's centroid
    * back at reconstruction. The caller owns that choice end-to-end,
    * like the codebooks themselves. */
  def savePqResidual(df: DataFrame, id: String, vec: String, k: Int,
                     path: String, m: Int = 8, codeK: Int = 16,
                     codeFrom: Long = 32)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val spark = df.sparkSession
    val cents = Similarity.dataCentroids(df, id, vec, k)
    val codebooks = Similarity.pqResidualCodebooks(df, id, vec, cents,
      m = m, k = codeK, from = codeFrom)
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "cv").repartition(1)
      .write.mode("overwrite").parquet(s"$path/centroids.parquet")
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cw, code) => (s, code, cw.toSeq) }
      }.toSeq.toDF("s", "code", "cw").repartition(1)
      .write.mode("overwrite").parquet(s"$path/codebooks.parquet")
    Similarity.pqEncode(
        Similarity.ivfAssignWith(df, vec, cents)
          .withColumn("__res", Similarity.residualCol(col(vec), cents)),
        "__res", codebooks)
      .select(col(id).as("neighbor_id"), col("pq_code"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/pq_postings.parquet")
    writeMeta(spark, path, "residual")
    (cents, codebooks)
  }

  /** Append a new vector batch to a persisted IVF-PQ index WITHOUT
    * rebuilding — the composed-index twin of [[append]]: the batch is
    * assigned and PQ-encoded against the EXISTING centroids and
    * codebooks (both k×dim-scale driver loads, never data) and its
    * code postings append into the partitioned layout. Per-batch work
    * is O(|batch|·(k + m·codeK)); historical postings are never
    * rewritten. Same trades as [[append]]: centroid/codebook drift
    * under sustained ingest is handled by periodic [[savePq]] rebuilds,
    * and duplicate ids are the caller's to prevent. Each append adds one
    * file per touched list; [[graft.sources.LakeWriter.compact]] on
    * `path/pq_postings.parquet` (partition column `centroid_id`) bounds
    * the files per list again. The encoding flavor
    * (raw vs residual) is READ FROM THE INDEX ([[pqEncoding]]'s
    * marker), not supplied by the caller — an append can therefore
    * never mix encodings within one index. */
  def appendPq(df: DataFrame, id: String, vec: String, path: String): Unit = {
    val residual = pqEncoding(df.sparkSession, path) == "residual"
    val cents = loadCentroids(df.sparkSession, path)
    val codebooks = loadCodebooks(df.sparkSession, path)
    val assigned = Similarity.ivfAssignWith(df, vec, cents)
    val enc =
      if (residual) Similarity.pqEncode(
        assigned.withColumn("__res", Similarity.residualCol(col(vec), cents)),
        "__res", codebooks)
      else Similarity.pqEncode(assigned, vec, codebooks)
    enc.select(col(id).as("neighbor_id"), col("pq_code"), col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$path/pq_postings.parquet")
  }

  /** The k×dim centroid matrix, ordered by centroid_id (an index-load
    * action: k rows to the driver, not data). */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids.parquet")
      .orderBy(col("centroid_id")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** The m×codeK×(dim/m) codebook tensor, (subspace, code)-ordered — an
    * index-load action like [[loadCentroids]], m·codeK rows to the
    * driver. */
  def loadCodebooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(s"$path/codebooks.parquet")
      .orderBy(col("s"), col("code")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2)).toArray

  /** The PQ-coded postings frame (neighbor_id, pq_code, centroid_id),
    * partition-pruned by `centroid_id` at scan time when a probe
    * filters on it. */
  def loadPqPostings(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/pq_postings.parquet")

  /** The postings frame, partition-pruned by `centroid_id` at scan time
    * when a probe filters on it. */
  def loadPostings(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/postings.parquet")
}
