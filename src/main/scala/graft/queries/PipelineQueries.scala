package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.ops.{Attach, CountMin, Hll, Kll, Percentiles, Reconcile, Reshape}
import graft.pipeline.StockPipeline
import graft.sources.{LakeReader, LakeWriter, VersionedLake}
import graft.streaming.EventStreams

/** Pipeline-level and streaming-semantics queries:
  *
  *  - the full 3-stage stock pipeline run end-to-end over a synthetic
  *    bar series derived from `orders` (ingest → transform → load →
  *    read back the warehouse), oracled by one SQL expression of the
  *    whole derivation;
  *  - unpivot (reference P4);
  *  - batch-mode equivalents of the sliding-window and session-window
  *    streaming aggregations (identical expressions to
  *    [[graft.streaming.EventStreams]], minus the watermark) — DuckDB
  *    oracles them via epoch arithmetic / gaps-and-islands.
  */
object PipelineQueries {

  import QuerySql.d2

  import QuerySql.tempDir

  // The live-query harness. A live `stream_*` entry is a DataFrame
  // query over a staged source, drained to a sink and read back; these
  // functions own the staging, the event time, the run and the
  // finalization, so the entries spell out only their query.

  /** Stage one read-only parquet table as a file-source stream: symlink
    * the file into a scratch source dir (the file source wants a
    * directory; no copy) and open it with the table's footer schema (no
    * Spark job). The events table gets the batch read's event time,
    * [[Tables.eventTime]]. Returns the streaming frame and the scratch
    * root that holds the sink and checkpoint. One staged file ⇒
    * AvailableNow runs exactly one data micro-batch, the property every
    * live oracle's batching-invariance argument rests on. */
  private[queries] def stageStream(s: SparkSession, dir: String, table: String,
                                   prefix: String): (DataFrame, String) = {
    val tmp = tempDir(prefix)
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$tmp/src"))
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$tmp/src/$table.parquet"),
      java.nio.file.Paths.get(s"$dir/$table.parquet"))
    val stream = EventStreams.fromParquetDir(s, s"$tmp/src", Tables(s, dir, table).schema)
    (if (table == "events") Tables.eventTime(stream) else stream, tmp)
  }

  /** Shuffle partitions a live query runs under (state-store partitions
    * are fixed at query start from spark.sql.shuffle.partitions).
    * Stateful micro-batches pay a per-partition state commit every
    * trigger, so on a toy-scale stream 32 partitions are pure fixed
    * overhead; 8 keeps full correctness (grouping is exact at any
    * partition count) at a quarter of the commit traffic. A real
    * deployment sizes this to state volume. */
  private val LivePartitions = "8"

  /** Run one live query to the end of its staged input: `start` gets
    * the checkpoint dir `$tmp/ckpt` and the AvailableNow trigger, and
    * the query runs under [[LivePartitions]]. Whether it finishes or
    * throws, the query is stopped and the session's partition count
    * restored. The one place a live query runs, so the one place to read
    * its progress. */
  private[queries] def awaitScoped(s: SparkSession, tmp: String)(
      start: (String, Trigger) => StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, LivePartitions)
    try {
      val q = start(s"$tmp/ckpt", Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
    } finally s.conf.set(key, prev)
  }

  /** [[awaitScoped]] for a query that commits a lake directory: `start`
    * gets its path, `$tmp/sink`, before the checkpoint and trigger.
    * Returns what was committed, opened by [[LakeReader.read]]. */
  private[queries] def drain(s: SparkSession, tmp: String)(
      start: (String, String, Trigger) => StreamingQuery): DataFrame = {
    awaitScoped(s, tmp)(start(s"$tmp/sink", _, _))
    LakeReader.read(s, s"$tmp/sink")
  }

  /** [[drain]] through the append-mode file sink, [[EventStreams.toLake]]. */
  private[queries] def drainToLake(s: SparkSession, tmp: String,
                                   stream: DataFrame): DataFrame =
    drain(s, tmp)((sink, ckpt, _) =>
      EventStreams.toLake(stream, sink, ckpt, partitionCols = Seq.empty))

  /** [[awaitScoped]] through a foreachBatch sink: `commit` gets every
    * micro-batch. */
  private[queries] def drainBatches(s: SparkSession, tmp: String, stream: DataFrame)(
      commit: DataFrame => Unit): Unit =
    awaitScoped(s, tmp)((ckpt, trigger) => stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => commit(batch) }
      .option("checkpointLocation", ckpt).trigger(trigger).start())

  /** [[awaitScoped]] through an Update-mode memory sink; returns its
    * table. A later run under the same `name` replaces the table; a
    * frame read from an earlier run keeps that run's rows. */
  private[queries] def drainToMemory(s: SparkSession, tmp: String, name: String,
                                     stream: DataFrame): DataFrame = {
    awaitScoped(s, tmp)((ckpt, trigger) => stream.writeStream.format("memory")
      .queryName(name).outputMode("update")
      .option("checkpointLocation", ckpt).trigger(trigger).start())
    s.table(name)
  }

  /** The rows of `df` whose `end` is at most max(ts_utc) − `horizon`
    * over the events table, with that bound as column `bound`. A live
    * query's sink holds the windows (or sessions) its watermark has
    * finalized, and the watermark lags the stream's max event time by
    * the 10-minute lateness. The horizon lies strictly inside lateness
    * (20 minutes for an hourly or daily window; 40, the 30-minute gap
    * plus lateness, for a session), so the emitted set does not depend
    * on how the engine batches the files. Applied to the sink and to any
    * exact batch side it is compared with. */
  private[queries] def finalized(s: SparkSession, dir: String, df: DataFrame,
                                 end: Column, horizon: String = "20 MINUTES"): DataFrame =
    Attach(df, Tables.events(s, dir)
        .agg((max(col("ts_utc")) - expr(s"INTERVAL $horizon")).as("bound")))
      .filter(end <= col("bound"))

  /** The final row per user of an Update-mode keyed-state sink: the most
    * `progress`, then the most `n_late` (an all-late batch). Update mode
    * emits one row per (user, micro-batch); one staged file drains as a
    * single batch today, but a trigger or maxFilesPerTrigger change
    * would append earlier partial states, and the oracle compare must
    * not depend on batching. */
  private def finalPerUser(df: DataFrame, progress: String): DataFrame =
    df.withColumn("__rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col(progress).desc, col("n_late").desc)))
      .filter(col("__rn") === 1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "pipeline_stock_e2e" -> ((s, dir) => {
      // synthetic bars: one "ticker" per order priority, daily close =
      // decimal-exact sum of that day's order totals
      val bars = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("date"), col("o_orderpriority").as("ticker"))
        .agg(sum(d2(col("o_totalprice"))).cast("double").as("close"))
        .withColumn("open", col("close")).withColumn("high", col("close"))
        .withColumn("low", col("close")).withColumn("volume", lit(0L))
        .withColumn("adj_close", col("close"))
      val tmp = tempDir("graft_pipe")
      StockPipeline.run(s, bars, Timestamp.valueOf("2024-01-01 00:00:00"),
        s"$tmp/raw", s"$tmp/enriched", s"$tmp/warehouse")
      LakeReader.read(s, s"$tmp/warehouse")
        .select(col("ticker"), col("date"), col("close"),
          col("daily_return").cast("float").as("daily_return"),
          col("rolling_vol_30d").cast("float").as("rolling_vol_30d"))
        .orderBy(col("ticker"), col("date"))
    }),

    // Z-ORDER clustered rewrite (the Delta/Iceberg ZORDER BY shape from
    // public primitives): orders re-laid-out on the (o_custkey,
    // o_totalprice) z-curve, read back, totally ordered. The oracle
    // verifies the layout loses/duplicates/corrupts nothing; the
    // multi-column pruning property itself is pinned by LakeSpec
    // (per-file tile spans vs a single-column sort).
    "lake_zorder_roundtrip" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val tmp = QuerySql.tempDir("graft_zorder")
      LakeWriter.writeZOrdered(o, tmp, Seq("o_custkey", "o_totalprice"),
        files = 8)
      s.read.parquet(tmp).orderBy(col("o_orderkey"))
    }),

    // Versioned-lake TIME TRAVEL: commit 1 = the pre-1997 table (every
    // priority partition present); commit 2 rewrites ONLY the
    // '1-URGENT' partition with its full history (copy-on-write: the
    // other four partitions still point at commit 1's files). Reading
    // both versions tagged proves v1 stayed intact after v2 landed —
    // and the oracle derives both states from the raw table.
    "lake_timetravel" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      val root = QuerySql.tempDir("graft_vlake") + "/t"
      VersionedLake.commit(o.filter(year(col("o_orderdate")) < 1997),
        root, Seq("o_orderpriority"))
      VersionedLake.commit(o.filter(col("o_orderpriority") === "1-URGENT"),
        root, Seq("o_orderpriority"))
      val v1 = VersionedLake.read(s, root, Some(1)).withColumn("version", lit(1L))
      val v2 = VersionedLake.read(s, root).withColumn("version", lit(2L))
      v1.unionByName(v2)
        .select(col("version"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("version"), col("o_orderkey"))
    }),

    // Versioned-lake CHANGE FEED: row-level diff between two commits =
    // snapshotDiff over two time-travel reads. Here that is exactly the
    // urgent orders the partition rewrite added (1997+; the shared rows
    // compare identical and vanish from the feed).
    "lake_version_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      val root = QuerySql.tempDir("graft_vdiff") + "/t"
      VersionedLake.commit(o.filter(year(col("o_orderdate")) < 1997),
        root, Seq("o_orderpriority"))
      VersionedLake.commit(o.filter(col("o_orderpriority") === "1-URGENT"),
        root, Seq("o_orderpriority"))
      Reconcile.snapshotDiff(
          VersionedLake.read(s, root, Some(1)).select("o_orderkey", "o_totalprice"),
          VersionedLake.read(s, root, Some(2)).select("o_orderkey", "o_totalprice"),
          keys = Seq("o_orderkey"), compareCols = Seq("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Versioned-lake row-level MERGE: the 1996+ batch upserts into the
    // pre-1997 table state — colliding (priority, custkey, orderdate)
    // keys replaced, delta duplicates collapsed to the max-orderkey
    // survivor — committed as partition rewrites of only the delta's
    // partitions. The read-back equals the global upsert the oracle
    // computes (merge_upsert's shape with the partition column in the
    // key, as commitUpsert requires).
    "lake_merge_commit" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"), col("o_orderpriority"))
      val root = QuerySql.tempDir("graft_vmerge") + "/t"
      VersionedLake.commit(
        o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        root, Seq("o_orderpriority"))
      VersionedLake.commitUpsert(
        o.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")),
        root, Seq("o_orderpriority"),
        keys = Seq("o_orderpriority", "o_custkey", "o_orderdate"),
        tiebreak = "o_orderkey")
      VersionedLake.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // Versioned-lake COMPACTION: three partition-disjoint commits leave
    // the manifest pointing at three version dirs (three scans per
    // read); compact re-commits the live state into ONE owner and the
    // read-back must be row-identical — any compaction loss or
    // duplication flips the hash. Owner collapse + vacuum reclamation
    // are pinned by VersionedLakeSpec. The key must stay unique across
    // the registry (Map literals resolve duplicates last-wins, silently);
    // QueryRegistrySpec fails on a duplicate.
    "lake_vcompact_roundtrip" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
      val root = tempDir("graft_vcompact") + "/t"
      VersionedLake.commit(
        o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
        root, Seq("o_orderpriority"))
      VersionedLake.commit(
        o.filter(col("o_orderpriority").isin("3-MEDIUM", "4-NOT SPECIFIED")),
        root, Seq("o_orderpriority"))
      VersionedLake.commit(o.filter(col("o_orderpriority") === "5-LOW"),
        root, Seq("o_orderpriority"))
      VersionedLake.compact(s, root)
      VersionedLake.read(s, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // Versioned-lake ADDITIVE SCHEMA EVOLUTION: commit 1 lands without
    // o_totalprice; commit 2's partition rewrite carries the new
    // column. An evolveSchema read nulls the column for
    // pre-evolution partitions instead of failing — the "metric added
    // mid-history" read every long-lived lake eventually needs (strict
    // mode still fails loudly, spec-pinned).
    "lake_schema_evolution" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val root = QuerySql.tempDir("graft_vevo") + "/t"
      VersionedLake.commit(
        o.filter(year(col("o_orderdate")) < 1997)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority")),
        root, Seq("o_orderpriority"))
      VersionedLake.commit(
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority")),
        root, Seq("o_orderpriority"))
      VersionedLake.read(s, root, evolveSchema = true)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // STREAMING INCREMENTAL SESSIONIZATION: each micro-batch's session
    // rollup folds into the standing rollup via Sessionize.mergeSessions
    // — session-granular state, no event-history rescan, the versioned
    // form of the daily incremental pipeline run live. Two staged
    // time-partitioned source files + maxFilesPerTrigger=1 make the fold
    // genuinely cross micro-batches (a bridge-fuse and a renumber both
    // occur); mergeSessions' time-partition assert fails loudly if the
    // file source ever reordered them. Oracle = the from-scratch
    // sessionization of ALL events — cross-formulation equality, the
    // same claim sessionize_incremental makes for the batch fold.
    "stream_sessionize_merge_live" -> ((s, dir) => {
      val gap = 30L * 60L * 1000000L
      val cutoff = 1705400000000000L // 2024-01-16, mid-range of events
      val tmp = tempDir("graft_ssm")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts_utc")).as("t_us"),
          col("event_id"), col("value"))
      def stage(df: DataFrame, name: String): Unit = {
        val staging = s"$tmp/stage_$name"
        df.coalesce(1).write.parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$tmp/src"))
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$tmp/src/$name.parquet")); ()
      }
      stage(ev.filter(col("t_us") <= cutoff), "0_head")
      stage(ev.filter(col("t_us") > cutoff), "1_tail")
      val src = s.readStream.schema(LakeReader.read(s, s"$tmp/src").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/src")
      def roll(df: DataFrame) =
        graft.ops.Sessionize.assign(df, "user_id", "t_us", "event_id", gap)
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("t_us")).as("session_start"),
            max(col("t_us")).as("session_end"),
            count(lit(1)).as("n_events"),
            sum(d2(col("value"))).as("sum_value"))
      // the state is the session rollup, rewritten from itself each
      // batch: replaceSnapshot reads it and swaps the merge in
      val statePath = s"$tmp/state"
      drainBatches(s, tmp, src) { batch =>
        val delta = roll(batch)
        LakeWriter.replaceSnapshot(batch.sparkSession, statePath, Seq.empty)(
          _.fold(delta)(graft.ops.Sessionize.mergeSessions(_, delta,
            key = "user_id", gap = gap, sums = Seq("sum_value"))))
      }
      LakeReader.read(s, statePath)
        .select(col("user_id"), col("session_id"),
          col("session_start").as("session_start_us"),
          col("session_end").as("session_end_us"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // STREAMING ingest INTO the versioned lake: foreachBatch commits
    // each micro-batch as a version (checkpointed — a replayed batch
    // would just re-commit the same partitions, idempotent at the
    // read-latest level). One staged file ⇒ one commit holding every
    // partition; the read-back equals the batch projection.
    "stream_versioned_ingest_live" -> ((s, dir) => {
      val (raw, tmp) = stageStream(s, dir, "events", "graft_svl")
      val root = s"$tmp/vlake"
      val src = raw.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      drainBatches(s, tmp, src)(VersionedLake.commit(_, root, Seq("event_type")))
      VersionedLake.read(s, root)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // Small-files repair round-trip: fragment the orders table into
    // ~30 files per priority partition (an append-heavy zone's decay
    // state), compact to ≤2, read back, totally ordered. The oracle
    // verifies compaction loses/duplicates/corrupts nothing; the
    // file-budget and staged-swap properties are pinned by LakeSpec.
    "lake_compact_roundtrip" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
      val tmp = QuerySql.tempDir("graft_compact")
      LakeWriter.write(o.repartition(30), tmp, Seq("o_orderpriority"))
      LakeWriter.compact(s, tmp, Seq("o_orderpriority"), filesPerPartition = 2)
      s.read.parquet(tmp)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    "p4_unpivot" -> ((s, dir) =>
      Reshape.unpivot(
          Tables.part(s, dir).select(col("p_partkey"),
            col("p_retailprice").as("retailprice"),
            col("p_size").cast("double").as("size")),
          ids = Seq("p_partkey"), values = Seq("retailprice", "size"),
          varName = "attr", valueName = "val")
        .orderBy(col("p_partkey"), col("attr"))),

    // THE ACTUAL STREAMING ENGINE on the hard signal: a file-source
    // stream over the events parquet → watermarked tumbling agg →
    // AvailableNow file sink → read the sink back. Append mode emits
    // only watermark-finalized windows; both sides therefore restrict to
    // windows ending ≥20 min before the stream's max event time — a
    // conservative bound strictly inside the 10-min-lateness horizon
    // (see finalized).
    "stream_tumbling_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_stream")
      finalized(s, dir, drainToLake(s, tmp, EventStreams.tumblingAgg(src)),
          col("window_end"))
        .select(col("window_start"), col("event_type"), col("n_events"),
          col("sum_value").cast("float").as("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // LIVE DRIFT MONITOR: the streaming engine maintains hourly
    // event-type counts (watermarked tumbling agg — the state the
    // monitor needs is exactly the windowed mixture); the read-back
    // scores each finalized window's mixture against the full-corpus
    // reference with the dq_psi_drift formula (add-1 smoothing over the
    // reference bucket spine, quantized per-window totals) — the
    // training-data gate that catches a source going off-mix within an
    // hour instead of at the next full-corpus audit.
    "stream_drift_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_sdrift")
      val win = finalized(s, dir,
          drainToLake(s, tmp, EventStreams.tumblingAgg(src)), col("window_end"))
        .select(col("window_start"), col("event_type"), col("n_events"))
      val ref = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_ref"))
      val spine = win.select(col("window_start")).distinct().crossJoin(ref)
      val j = spine.join(win, Seq("window_start", "event_type"), "left")
        .select(col("window_start"), col("event_type"),
          coalesce(col("n_events"), lit(0L)).as("n_win"), col("n_ref"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("window_start"))
        .rowsBetween(Long.MinValue, Long.MaxValue)
      val withTotals = Attach(j
        .withColumn("tw", sum(col("n_win")).over(wAll))
        .withColumn("b", count(lit(1)).over(wAll)), ref.agg(sum(col("n_ref")).as("tr")))
      val p = (col("n_ref") + 1).cast("double") / (col("tr") + col("b"))
      val q = (col("n_win") + 1).cast("double") / (col("tw") + col("b"))
      withTotals.withColumn("contribution", (p - q) * log(p / q))
        .withColumn("psi",
          sum(col("contribution").cast("decimal(30,12)")).over(wAll)
            .cast("double"))
        .select(col("window_start"), col("event_type"), col("n_win"),
          col("contribution").cast("float").as("contribution"),
          col("psi").cast("float").as("window_psi"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // Bounded-state heavy-user monitoring: the stream maintains ONE
    // 4×256 Count-Min grid per hour window — state independent of user
    // cardinality, the sketch a 100 TB/day stream can actually afford —
    // then finalized windows are probed at their exact top-3 users.
    // Because the cells are md5-derived the oracle replays the SKETCH
    // as well as the exact counts: estimates land on the hash signal.
    "stream_cms_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_scms")
      val sk = finalized(s, dir, drainToLake(s, tmp,
          EventStreams.cmsWindowed(src, key = "user_id", depth = 4, width = 256)),
          col("window_end"))
        .select(col("window_start"), col("cms_row"), col("cms_bucket"),
          col("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("window_start"))
        .orderBy(col("n_exact").desc, col("user_id"))
      val top = finalized(s, dir, Tables.events(s, dir)
          .select(date_trunc("hour", col("ts_utc")).as("window_start"),
            col("user_id")), col("window_start") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("window_start"), col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
      val cells = top.select(col("*"), posexplode(array((0 until 4).map(i =>
          CountMin.bucketOf(i, col("user_id"), 256)): _*))
        .as(Seq("cms_row", "cms_bucket")))
      cells.join(sk, Seq("window_start", "cms_row", "cms_bucket"), "left")
        .groupBy(col("window_start"), col("rank"), col("user_id"),
          col("n_exact"))
        .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
        .orderBy(col("window_start"), col("rank"))
    }),

    // LIVE per-window unique-user estimate: one ≤ 2^b register set per
    // hour window under the watermark (state independent of user
    // cardinality — the distinct-count sibling of stream_cms_live),
    // finalized windows folded through the SAME integer-shifted
    // estimator as the batch sketch and compared against the exact
    // per-window distinct. Registers AND estimates replay in DuckDB.
    "stream_hll_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_shll")
      val sk = finalized(s, dir, drainToLake(s, tmp,
          EventStreams.hllWindowed(src, key = "user_id", b = 6)), col("window_end"))
        .select(col("window_start"), col("hll_register"), col("hll_rank"))
      val exact = finalized(s, dir, Tables.events(s, dir)
          .select(date_trunc("hour", col("ts_utc")).as("window_start"),
            col("user_id")), col("window_start") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("window_start"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
      Hll.estimateByGroup(sk, b = 6, Seq("window_start"))
        .join(exact, Seq("window_start"))
        .orderBy(col("window_start"))
    }),

    // LIVE windowed p50/p95/p99: one $1-bin histogram per hour window
    // (state bounded by the value range, never event volume — the SRE
    // latency-dashboard primitive), finalized windows folded with a
    // cumulative-count nearest-rank pick. Integer cents end to end, so
    // every percentile replays exactly.
    "stream_pctile_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_spct")
      val sk = finalized(s, dir, drainToLake(s, tmp,
          EventStreams.histWindowed(src, value = "value", binWidthCents = 100L)),
          col("window_end"))
        .select(col("window_start"), col("bin"), col("cnt"))
      // per-window windows range over the ≤ range/binWidth histogram
      // bins — the declared-bounded frame, never the events
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("window_start")).orderBy(col("bin"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("window_start"))
      def pct(p: Double, out: String) =
        min(when(col("__cum") >= ceil(lit(p) * col("__n")),
          col("bin") * lit(100L))).as(out)
      sk.withColumn("__cum", sum(col("cnt")).over(wCum))
        .withColumn("__n", sum(col("cnt")).over(wAll))
        .groupBy(col("window_start"))
        .agg(max(col("__n")).as("n_events"),
          pct(0.5, "p50_cents"), pct(0.95, "p95_cents"),
          pct(0.99, "p99_cents"))
        .orderBy(col("window_start"))
    }),

    // LIVE windowed quantiles on an UNBOUNDED value domain — the KLL
    // sibling of stream_pctile_live for metrics where the histogram's
    // declared range/binWidth has nothing to declare: each micro-batch
    // appends its own ≤ k-row deterministic sketch per hour window
    // (ZERO streaming state — no state store at all), the fold is one
    // multiway merge per finalized window plus the weighted
    // nearest-rank pick, measured BESIDE the exact per-window
    // quantiles. The oracle replays the staged lake's single-slice
    // case (one source file → one micro-batch → one partial per
    // window, then the fold's recompaction); the multi-batch fold is
    // the same compactByGroup call, spec-covered with its additive
    // error band.
    "stream_kll_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_skll")
      val ps = Seq(0.5, 0.95, 0.99)
      val partials = finalized(s, dir, drain(s, tmp)((sink, ckpt, trigger) =>
          EventStreams.kllPartialsToLake(src, sink, ckpt, value = "value", k = 64,
            trigger = trigger)), col("window_end"))
        .select(col("window_start"), col("kll_value"), col("kll_weight"))
      val sk = Kll.compactByGroup(partials, Seq("window_start"), k = 64)
      val q = Kll.quantilesByGroup(sk, Seq("window_start"), ps, k = 64)
      val exact = Percentiles.nearestRank(
          finalized(s, dir, Tables.events(s, dir)
              .select(date_trunc("hour", col("ts_utc")).as("window_start"),
                col("value")), col("window_start") + expr("INTERVAL 1 HOUR")),
          Seq("window_start"), "value", ps)
        .select(col("window_start"), col("p"),
          col("pct_value").cast("double").as("__ex"))
      q.join(exact, Seq("window_start", "p"))
        .select(col("window_start"), col("p"),
          col("kll_q").cast("float").as("kll_q"),
          col("__ex").cast("float").as("exact_q"), col("n_weight"))
        .orderBy(col("window_start"), col("p"))
    }),

    // LIVE TRENDING: top-3 event types per finalized hourly window —
    // the streaming engine maintains the windowed counts, the read-back
    // ranks them (integer counts, type tie-break: the cut is exact).
    "stream_topk_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_stopk")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("window_start"))
        .orderBy(col("n_events").desc, col("event_type"))
      finalized(s, dir, drainToLake(s, tmp, EventStreams.tumblingAgg(src)),
          col("window_end"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("window_start"), col("rank"), col("event_type"),
          col("n_events"))
        .orderBy(col("window_start"), col("rank"))
    }),

    // REAL-ENGINE daily OHLC candles: the order-dependent open/close
    // computed by an order-insensitive min_by/max_by accumulator over
    // the total (ts, event_id) order — arrival order cannot change a
    // candle. Finalized windows only (watermark-bounded).
    "stream_ohlc_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_sohlc")
      finalized(s, dir, drainToLake(s, tmp, EventStreams.ohlcCandles(src)),
          col("window_end"))
        .select(col("window_start"), col("event_type"), col("open"),
          col("high"), col("low"), col("close"), col("n_ticks"),
          col("vol_cents"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // REAL-ENGINE stateful dedup: dropDuplicatesWithinWatermark over the
    // staged file stream. One staged file + AvailableNow = exactly one
    // micro-batch, during which the watermark is still 0 — no late-row
    // drop, no state expiry — so the surviving set is precisely "first
    // occurrence per key". Which physical row wins a key race is
    // task-order-dependent, so the query projects onto the key columns,
    // making the output DISTINCT(keys): deterministic and oracle-exact.
    "stream_dedup_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_sdedup")
      val deduped = EventStreams
        .streamingDedup(src, Seq("user_id", "event_type", "value"))
        .select(col("user_id"), col("event_type"), col("value"))
      drainToLake(s, tmp, deduped)
        .orderBy(col("user_id"), col("event_type"), col("value"))
    }),

    // REAL-ENGINE flatMapGroupsWithState: per-user running totals through
    // the state store. The value is pre-scaled to integer cents
    // (round(value·100) — the data is 2-dp), so the Double state
    // accumulates exactly whatever the per-key iterator order; one data
    // micro-batch (single staged file) emits exactly one Update row per
    // user. A trailing timeout batch emits nothing (expiry removes
    // state silently), keeping the output batching-invariant.
    "stream_running_totals_live" -> ((s, dir) => {
      import s.implicits._
      val (src, tmp) = stageStream(s, dir, "events", "graft_srt")
      val ue = src.select(col("user_id"), col("ts_utc"),
          round(col("value") * 100).cast("double").as("value"))
        .as[EventStreams.UserEvent]
      drainToMemory(s, tmp, "graft_srt_mem",
          EventStreams.runningUserTotals(ue).toDF())
        .select(col("user_id"), col("n_events"),
          col("total_value").cast("long").as("total_cents"))
        .orderBy(col("user_id"))
    }),

    // REAL-ENGINE order-aware keyed state: per-user CUSUM drift through
    // flatMapGroupsWithState (EventStreams.streamingCusum) — rows sort
    // by the raw nanos tick within the batch, so one staged file +
    // AvailableNow reproduces the batch closed form's (ts, event_id)
    // fold exactly; the oracle replays it per user and keeps the final
    // row. Same target/slack as the batch cusum_drift query.
    "stream_cusum_live" -> ((s, dir) => {
      import s.implicits._
      val (raw, tmp) = stageStream(s, dir, "events", "graft_scusum")
      val ce = raw.filter(col("value").isNotNull)
        .select(col("user_id"), col("ts_utc"),
          col("ts").as("ts_nanos"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[EventStreams.CusumEvent]
      finalPerUser(drainToMemory(s, tmp, "graft_scusum_mem",
          EventStreams.streamingCusum(ce, targetCents = 5000L, slackCents = 100L)
            .toDF()), "n_events")
        .select(col("user_id"), col("n_events"),
          col("cusum_up"), col("cusum_down"), col("n_late"))
        .orderBy(col("user_id"))
    }),

    // STREAMING ORDERED FUNNEL: the greedy earliest-completion chain as
    // order-aware keyed state — the online form of funnel_ordered_steps
    // (same steps, same 48h per-step gap), folded per batch in (tick,
    // id) order; the oracle is the BATCH formulation's chained
    // conditional-min CTEs, the cross-formulation equality.
    "stream_funnel_live" -> ((s, dir) => {
      import s.implicits._
      val (raw, tmp) = stageStream(s, dir, "events", "graft_sfunnel")
      val fe = raw
        .withColumn("step",
          when(col("event_type") === "signup", 0)
            .when(col("event_type") === "view", 1)
            .when(col("event_type") === "click", 2)
            .when(col("event_type") === "purchase", 3)
            .otherwise(-1))
        .filter(col("step") >= 0)
        .select(col("user_id"), col("ts_utc"),
          col("ts").as("ts_nanos"), col("event_id"), col("step"))
        .as[EventStreams.FunnelEvent]
      finalPerUser(drainToMemory(s, tmp, "graft_sfunnel_mem",
          EventStreams.streamingFunnel(fe, nSteps = 4,
            maxGapNanos = 48L * 3600L * 1000000000L).toDF()), "reached")
        .select(col("user_id"), col("reached"), col("t_final"), col("n_late"))
        .orderBy(col("user_id"))
    }),

    // STREAMING CURATION: the LLM-data path run as a stream — stateless
    // quality gate (pure column expressions work unchanged on streaming
    // frames), then stateful exact dedup on the content hash through the
    // state store. One staged file ⇒ one micro-batch ⇒ the survivor set
    // projected onto the hash is DISTINCT(quality-passing content) —
    // deterministic and oracle-exact. Event time is synthesized from
    // doc_id (the documents table has no timestamp column).
    "stream_curation_live" -> ((s, dir) => {
      val (raw, tmp) = stageStream(s, dir, "documents", "graft_scur")
      val src = raw.withColumn("ts_utc",
        expr("timestamp_micros(1704067200000000 + doc_id * 1000000)"))
      val gated = graft.ops.TextAnalysis.qualityScore(src)
        .filter(col("quality_score") >= 0.45)
        .withColumn("content_hash", md5(col("text")))
      val deduped = EventStreams.streamingDedup(gated, Seq("content_hash"))
        .select(col("content_hash"))
      drainToLake(s, tmp, deduped).orderBy(col("content_hash"))
    }),

    // REAL-ENGINE stream-stream interval join: click→purchase attribution
    // within a 4h event-time horizon, both sides watermarked so join
    // state expires (see EventStreams.intervalJoin). One staged file +
    // AvailableNow ⇒ every row is present in the single micro-batch, so
    // the emitted INNER-join set equals the batch inequality join
    // exactly — state expiry only affects matches across batches, of
    // which there are none. Times on the micros grid both engines share.
    "stream_interval_join_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_sij")
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("l_user"), col("ts_utc").as("l_ts"),
          col("event_id").as("click_id"))
      val buys = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"), col("ts_utc").as("r_ts"),
          col("event_id").as("purchase_id"), col("value"))
      val joined = EventStreams.intervalJoin(
          clicks, "l_user", "l_ts", buys, "r_user", "r_ts",
          horizon = "4 hours")
        .select(col("click_id"), col("purchase_id"), col("value"))
      drainToLake(s, tmp, joined).orderBy(col("click_id"), col("purchase_id"))
    }),

    // REAL-ENGINE stream-stream LEFT OUTER interval join: same
    // attribution shape, but clicks with no purchase inside the horizon
    // null-pad — emitted ONLY once the watermark proves no future match
    // can arrive (state eviction), the other hard outer-join behavior.
    // The engine's watermark is min(max click ts, max purchase ts) −
    // lateness (two watermark operators, min policy); unmatched clicks
    // with l_ts + horizon ≥ that watermark are still "open" at stream
    // end and are discarded unemitted — the oracle replays that cutoff
    // exactly.
    "stream_interval_left_join_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_silj")
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("l_user"), col("ts_utc").as("l_ts"),
          col("event_id").as("click_id"))
      val buys = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"), col("ts_utc").as("r_ts"),
          col("event_id").as("purchase_id"), col("value"))
      val joined = EventStreams.intervalJoin(
          clicks, "l_user", "l_ts", buys, "r_user", "r_ts",
          horizon = "4 hours", joinType = "left_outer")
        .select(col("click_id"), col("purchase_id"), col("value"))
      drainToLake(s, tmp, joined).orderBy(col("click_id"), col("purchase_id"))
    }),

    // REAL-ENGINE stream-stream FULL OUTER interval join: both
    // unmatched sides null-pad on their own eviction boundary —
    // unmatched clicks once the watermark passes l_ts + horizon,
    // unmatched purchases once it passes r_ts (their match window is
    // l_ts ∈ [r_ts − horizon, r_ts], all in the past once the watermark
    // crosses r_ts). Both cutoffs replayed in the oracle.
    "stream_interval_full_join_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_sifj")
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("l_user"), col("ts_utc").as("l_ts"),
          col("event_id").as("click_id"))
      val buys = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user"), col("ts_utc").as("r_ts"),
          col("event_id").as("purchase_id"), col("value"))
      val joined = EventStreams.intervalJoin(
          clicks, "l_user", "l_ts", buys, "r_user", "r_ts",
          horizon = "4 hours", joinType = "full_outer")
        .select(col("click_id"), col("purchase_id"), col("value"))
      drainToLake(s, tmp, joined).orderBy(col("click_id"), col("purchase_id"))
    }),

    // REAL-ENGINE foreachBatch upsert — the reference's watermark+DELETE+
    // append load pattern as a streaming merge. The tiebreak (event_id) is
    // globally unique, so the per-key survivor is deterministic; one data
    // micro-batch (single staged file) makes the final warehouse equal to
    // dedupByKey(all rows) regardless of task order.
    "stream_upsert_live" -> ((s, dir) => {
      val (raw, tmp) = stageStream(s, dir, "events", "graft_sup")
      val src = raw
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      drain(s, tmp)((wh, ckpt, trigger) => EventStreams.mergeIntoWarehouse(src, wh,
          ckpt, keys = Seq("user_id", "event_type"), tiebreak = "event_id",
          trigger = Some(trigger)))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // STREAM-STATIC JOIN: live events enriched with the static customer
    // dimension (stateless — no watermark, no state store), appended to
    // a file sink, then rolled up per segment. The enrich step is the
    // plan shape under test; the rollup happens on the sink read-back.
    "stream_enrich_live" -> ((s, dir) => {
      val (raw, tmp) = stageStream(s, dir, "events", "graft_senr")
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val enriched = EventStreams.enrichWithDim(
        raw.select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")),
        dim, keys = Seq("user_id"))
      drainToLake(s, tmp, enriched)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("total_cents"))
        .orderBy(col("c_mktsegment"))
    }),

    // STREAMING CDC: the orders changelog streams onto the customer
    // snapshot — final status 'F' deletes the account row, anything else
    // upserts the order total as the new balance, unseen keys insert.
    // One staged file ⇒ one micro-batch ⇒ the fold equals the batch
    // cdc_apply exactly (shared oracle shape).
    "stream_cdc_live" -> ((s, dir) => {
      val (raw, tmp) = stageStream(s, dir, "orders", "graft_scdc")
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal").as("bal"))
      drain(s, tmp)((wh, ckpt, trigger) => EventStreams.cdcIntoWarehouse(
          AnalyticsQueries.ordersChangelog(raw), base, wh, ckpt, key = "c_custkey",
          seqCol = "o_orderdate", tieCol = "o_orderkey", opCol = "op",
          trigger = Some(trigger)))
        .filter(col("__op") =!= "D") // tombstones stay in the snapshot
        .select(col("c_custkey"), col("bal"))
        .orderBy(col("c_custkey"))
    }),

    "stream_sliding_avg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts_utc"), "1 hour", "15 minutes"), col("event_type"))
        .agg((sum(d2(col("value"))).cast("double") / count(lit(1))).as("avg_value"),
          count(lit(1)).as("n_events"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("avg_value").cast("float").as("avg_value"), col("n_events"))
        .orderBy(col("window_start"), col("event_type"))),

    "stream_session_windows" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts_utc"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(d2(col("value"))).cast("double").as("session_value"))
        .select(col("session_window.start").as("session_start"), col("user_id"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))),

    // LIVE-ENGINE sliding windows: the overlapping-window agg through
    // the real streaming engine (append mode emits only watermark-
    // finalized windows; the DECIMAL value cast keeps the sum exact
    // whatever the per-task fold order). Both sides restrict to
    // finalized windows, ending >= 20 min before the stream's max event
    // time.
    "stream_sliding_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_sslide")
      finalized(s, dir, drainToLake(s, tmp,
          EventStreams.slidingAvg(src, value = d2(col("value")))), col("window_end"))
        .select(col("window_start"), col("event_type"),
          col("avg_value").cast("float").as("avg_value"), col("n_events"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // LIVE-ENGINE session windows: merging session state + watermark
    // eviction on the real engine — the one streaming behavior the
    // batch session_window frame cannot exercise. A session's end is
    // last-event + 30 min gap; append mode emits it once the watermark
    // (max event time − 10 min lateness) passes that end, so both
    // sides restrict to sessions ending >= 40 min before max event
    // time (gap + lateness, conservatively) for a batching-invariant
    // emitted set.
    "stream_session_live" -> ((s, dir) => {
      val (src, tmp) = stageStream(s, dir, "events", "graft_ssess")
      finalized(s, dir, drainToLake(s, tmp,
          EventStreams.sessionize(src, value = d2(col("value")))),
          col("session_end"), horizon = "40 MINUTES")
        .select(col("session_start"), col("user_id"), col("n_events"),
          col("session_value").cast("double").as("session_value"))
        .orderBy(col("user_id"), col("session_start"))
    })
  )

  val oracle: Map[String, String] = Map(
    "pipeline_stock_e2e" ->
      """WITH bars AS (
        |  SELECT o_orderdate AS date, o_orderpriority AS ticker,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS close
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT ticker, date, close,
        |         (close - lag(close) OVER w) / nullif(lag(close) OVER w, 0) AS dr
        |  FROM bars WINDOW w AS (PARTITION BY ticker ORDER BY date))
        |SELECT ticker, date, close, CAST(dr AS REAL) AS daily_return,
        |  CAST(stddev_samp(dr) OVER (PARTITION BY ticker ORDER BY date
        |       ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS REAL) AS rolling_vol_30d
        |FROM r ORDER BY ticker, date""".stripMargin,

    // layout is not data: a z-ordered rewrite must read back as exactly
    // the source rows
    "lake_zorder_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    // compaction is layout, not data: identical row set after the
    // versioned owner collapse
    "lake_vcompact_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "lake_timetravel" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        |                  o_orderpriority FROM orders)
        |SELECT CAST(1 AS BIGINT) AS version, o_orderkey, o_custkey,
        |       o_totalprice, o_orderpriority
        |FROM o WHERE year(o_orderdate) < 1997
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), o_orderkey, o_custkey,
        |       o_totalprice, o_orderpriority
        |FROM o WHERE o_orderpriority = '1-URGENT'
        |   OR (o_orderpriority <> '1-URGENT' AND year(o_orderdate) < 1997)
        |ORDER BY version, o_orderkey""".stripMargin,

    // the change feed is exactly the rows the rewrite added: urgent
    // 1997+ orders (shared rows diff equal and drop out)
    "lake_version_diff" ->
      """SELECT o_orderkey,
        |  CAST(NULL AS DOUBLE) AS o_totalprice_before,
        |  o_totalprice AS o_totalprice_after,
        |  'added' AS change
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) >= 1997
        |ORDER BY o_orderkey""".stripMargin,

    // the versioned MERGE equals the global upsert keyed with the
    // partition column included
    "lake_merge_commit" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |                  o_orderpriority FROM orders),
        | ex AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        | inc AS (SELECT * FROM o WHERE o_orderdate >= TIMESTAMP '1996-01-01'),
        | ded AS (SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
        |           o_orderpriority FROM (
        |   SELECT *, row_number() OVER (
        |       PARTITION BY o_orderpriority, o_custkey, o_orderdate
        |       ORDER BY o_orderkey DESC) AS rn FROM inc) WHERE rn = 1)
        |SELECT * FROM (
        | SELECT * FROM ex WHERE NOT EXISTS (
        |   SELECT 1 FROM inc WHERE inc.o_custkey = ex.o_custkey
        |     AND inc.o_orderdate = ex.o_orderdate
        |     AND inc.o_orderpriority = ex.o_orderpriority)
        | UNION ALL SELECT * FROM ded) t
        |ORDER BY o_orderkey""".stripMargin,

    // pre-evolution partitions read the added column as NULL; the
    // rewritten partition carries real values
    "lake_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END
        |    AS o_totalprice,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |   OR (o_orderpriority <> '1-URGENT' AND year(o_orderdate) < 1997)
        |ORDER BY o_orderkey""".stripMargin,

    // one staged file ⇒ one commit ⇒ read-latest equals the projection
    "stream_versioned_ingest_live" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,

    "stream_sessionize_merge_live" ->
      RelationalQueries.sessionizeFullRecomputeSql,

    // layout is not data, compaction edition: identical row set after
    // the rewrite
    "lake_compact_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "p4_unpivot" ->
      """SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |ORDER BY p_partkey, attr""".stripMargin,

    // the streaming sink holds hourly windows already finalized by the
    // watermark; the 20-min bound replicates the query-side restriction
    // the oracle replays the SKETCH (same md5 cells, same min-over-rows)
    // as well as the exact per-window top-3 — integers end to end
    "stream_cms_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | h AS (SELECT date_trunc('hour', ts) AS window_start, user_id,
        |         count(*) AS n_exact
        |       FROM events GROUP BY 1, 2),
        | fin AS (SELECT h.* FROM h, b
        |         WHERE window_start + INTERVAL '1 hour' <= b.bound),
        | top AS (SELECT * FROM (SELECT window_start, user_id, n_exact,
        |           row_number() OVER (PARTITION BY window_start
        |             ORDER BY n_exact DESC, user_id) AS rank
        |         FROM fin) WHERE rank <= 3),
        | rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
        | cms AS (SELECT date_trunc('hour', ts) AS window_start, r,
        |     CAST(concat('0x', substr(md5(concat('cms', r, ':', user_id)), 1, 8))
        |       AS BIGINT) % 256 AS bkt,
        |     count(*) AS cnt
        |   FROM events CROSS JOIN rws GROUP BY 1, 2, 3)
        |SELECT top.window_start, CAST(top.rank AS BIGINT) AS rank,
        |  top.user_id, CAST(top.n_exact AS BIGINT) AS n_exact,
        |  CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS cms_estimate
        |FROM top CROSS JOIN rws
        |LEFT JOIN cms ON cms.window_start = top.window_start
        |  AND cms.r = rws.r
        |  AND cms.bkt = CAST(concat('0x',
        |    substr(md5(concat('cms', rws.r, ':', top.user_id)), 1, 8))
        |    AS BIGINT) % 256
        |GROUP BY 1, 2, 3, 4 ORDER BY top.window_start, rank""".stripMargin,

    "stream_topk_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | h AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
        |         count(*) AS n_events
        |       FROM events GROUP BY 1, 2),
        | fin AS (SELECT window_start, event_type, n_events FROM h, b
        |         WHERE window_start + INTERVAL '1 hour' <= b.bound),
        | r AS (SELECT window_start, event_type, n_events,
        |         row_number() OVER (PARTITION BY window_start
        |           ORDER BY n_events DESC, event_type) AS rank
        |       FROM fin)
        |SELECT window_start, CAST(rank AS BIGINT) AS rank, event_type, n_events
        |FROM r WHERE rank <= 3
        |ORDER BY window_start, rank""".stripMargin,

    // full register replay per finalized window: same md5/bin-length
    // rank math as the batch HLL, same integer-shifted harmonic sum
    "stream_hll_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | fin AS (SELECT date_trunc('hour', ts) AS window_start, user_id
        |         FROM events, b
        |         WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <= b.bound
        |           AND user_id IS NOT NULL),
        | cells AS (SELECT window_start, CAST(concat('0x',
        |     substr(md5(concat('hll:', CAST(user_id AS VARCHAR))), 1, 15))
        |     AS BIGINT) AS h
        |   FROM fin),
        | r AS (SELECT window_start, h % 64 AS reg,
        |     CASE WHEN (h >> 6) = 0 THEN 55
        |          ELSE 55 - length(bin(h >> 6)) END AS rk
        |   FROM cells),
        | sk AS (SELECT window_start, reg, max(rk) AS rk FROM r GROUP BY 1, 2),
        | mx AS (SELECT window_start, max(rk) AS rmax FROM sk GROUP BY 1),
        | agg AS (SELECT sk.window_start, count(*) AS observed,
        |     max(mx.rmax) AS rmax,
        |     sum(1::BIGINT << CAST(mx.rmax - sk.rk AS INT)) AS zobs
        |   FROM sk JOIN mx USING (window_start) GROUP BY 1),
        | e AS (SELECT window_start, 64 - observed AS zeros,
        |     zobs + (64 - observed) * (1::BIGINT << CAST(rmax AS INT)) AS znum,
        |     rmax
        |   FROM agg),
        | rw AS (SELECT window_start, zeros,
        |     CAST(0.709 AS DOUBLE) *
        |       CAST(64.0 AS DOUBLE) * CAST(64.0 AS DOUBLE) *
        |       power(CAST(2.0 AS DOUBLE), CAST(rmax AS DOUBLE)) /
        |       CAST(znum AS DOUBLE) AS rawv
        |   FROM e),
        | x AS (SELECT window_start, count(DISTINCT user_id) AS n_exact
        |   FROM fin GROUP BY 1)
        |SELECT rw.window_start,
        |  CAST(CASE WHEN rawv <= 2.5 * CAST(64.0 AS DOUBLE) AND zeros > 0
        |       THEN CAST(64.0 AS DOUBLE) * ln(CAST(64.0 AS DOUBLE) /
        |         CAST(zeros AS DOUBLE))
        |       ELSE rawv END AS REAL) AS hll_estimate,
        |  CAST(rawv AS REAL) AS hll_raw,
        |  CAST(zeros AS BIGINT) AS n_zero_registers,
        |  (rawv <= 2.5 * CAST(64.0 AS DOUBLE) AND zeros > 0)
        |    AS used_linear_counting,
        |  CAST(x.n_exact AS BIGINT) AS n_exact
        |FROM rw JOIN x USING (window_start) ORDER BY 1""".stripMargin,

    // integer histogram replay: same cent bins, same cumulative
    // nearest-rank pick per finalized window
    "stream_pctile_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | fin AS (SELECT date_trunc('hour', ts) AS window_start,
        |     CAST(round(value * 100) AS BIGINT) // 100 AS bin
        |   FROM events, b
        |   WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <= b.bound
        |     AND value IS NOT NULL AND value >= 0),
        | h AS (SELECT window_start, bin, count(*) AS cnt
        |   FROM fin GROUP BY 1, 2),
        | c AS (SELECT window_start, bin, cnt,
        |     sum(cnt) OVER (PARTITION BY window_start ORDER BY bin
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |     sum(cnt) OVER (PARTITION BY window_start) AS n
        |   FROM h)
        |SELECT window_start, CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n)
        |    THEN bin * 100 END) AS BIGINT) AS p50_cents,
        |  CAST(min(CASE WHEN cum >= ceil(CAST(0.95 AS DOUBLE) * n)
        |    THEN bin * 100 END) AS BIGINT) AS p95_cents,
        |  CAST(min(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE) * n)
        |    THEN bin * 100 END) AS BIGINT) AS p99_cents
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // two chained compactions replayed keyed by window (the staged
    // lake's single-slice case: build per window, then the fold's
    // recompaction), same md5 offsets, same weighted nearest-rank pick
    "stream_kll_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | fin AS (SELECT date_trunc('hour', ts) AS ws,
        |     CAST(value AS DOUBLE) AS val
        |   FROM events, b
        |   WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <= b.bound
        |     AND value IS NOT NULL),
        | led1 AS (SELECT ws, val, count(*) AS w FROM fin GROUP BY 1, 2),
        | cum1 AS (SELECT ws, val, w,
        |     sum(w) OVER (PARTITION BY ws ORDER BY val) AS cm FROM led1),
        | tot1 AS (SELECT ws, sum(w) AS wt FROM led1 GROUP BY 1),
        | prm1 AS (SELECT ws, wt, (wt + 63) // 64 AS step,
        |    1 + (CAST(concat('0x', substr(md5(concat('kll:',
        |      CAST(wt AS VARCHAR))), 1, 15)) AS BIGINT) %
        |      ((wt + 63) // 64)) AS phi FROM tot1),
        | sk1 AS (SELECT c.ws, val,
        |    ((CASE WHEN cm >= phi THEN (cm - phi) // step + 1 ELSE 0 END) -
        |     (CASE WHEN cm - w >= phi THEN (cm - w - phi) // step + 1
        |       ELSE 0 END)) * step AS kw
        |   FROM cum1 c JOIN prm1 p ON p.ws = c.ws),
        | part AS (SELECT ws, val, kw FROM sk1 WHERE kw > 0),
        | cum2 AS (SELECT ws, val, kw,
        |     sum(kw) OVER (PARTITION BY ws ORDER BY val) AS cm FROM part),
        | tot2 AS (SELECT ws, sum(kw) AS wt FROM part GROUP BY 1),
        | prm2 AS (SELECT ws, wt, (wt + 63) // 64 AS step,
        |    1 + (CAST(concat('0x', substr(md5(concat('kll:',
        |      CAST(wt AS VARCHAR))), 1, 15)) AS BIGINT) %
        |      ((wt + 63) // 64)) AS phi FROM tot2),
        | sk2 AS (SELECT c.ws, val,
        |    ((CASE WHEN cm >= phi THEN (cm - phi) // step + 1 ELSE 0 END) -
        |     (CASE WHEN cm - kw >= phi THEN (cm - kw - phi) // step + 1
        |       ELSE 0 END)) * step AS kw
        |   FROM cum2 c JOIN prm2 p ON p.ws = c.ws),
        | sk3 AS (SELECT ws, val, kw FROM sk2 WHERE kw > 0),
        | cum3 AS (SELECT ws, val, kw,
        |     sum(kw) OVER (PARTITION BY ws ORDER BY val) AS cw FROM sk3),
        | tot3 AS (SELECT ws, sum(kw) AS w2 FROM sk3 GROUP BY 1),
        | pk AS (SELECT c.ws, p, val AS kll_q, t.w2
        |   FROM cum3 c JOIN tot3 t ON t.ws = c.ws,
        |    (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS p)
        |   WHERE cw - kw < ceil(p * w2) AND ceil(p * w2) <= cw),
        | rr AS (SELECT ws, val,
        |     row_number() OVER (PARTITION BY ws ORDER BY val) AS rn,
        |     count(*) OVER (PARTITION BY ws) AS n FROM fin),
        | ex AS (SELECT ws, p, val AS exact_q FROM rr,
        |    (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS p)
        |   WHERE rn = ceil(p * n))
        |SELECT pk.ws AS window_start, pk.p, CAST(kll_q AS REAL) AS kll_q,
        |  CAST(exact_q AS REAL) AS exact_q, CAST(w2 AS BIGINT) AS n_weight
        |FROM pk JOIN ex ON ex.ws = pk.ws AND ex.p = pk.p
        |ORDER BY 1, 2""".stripMargin,

    "stream_drift_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | h AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
        |         count(*) AS n
        |       FROM events GROUP BY 1, 2),
        | win AS (SELECT window_start, event_type, n FROM h, b
        |         WHERE window_start + INTERVAL '1 hour' <= b.bound),
        | ref AS (SELECT event_type, count(*) AS n_ref FROM events GROUP BY 1),
        | tr AS (SELECT sum(n_ref) AS tr FROM ref),
        | ws AS (SELECT DISTINCT window_start FROM win),
        | spine AS (SELECT ws.window_start, ref.event_type, ref.n_ref
        |           FROM ws CROSS JOIN ref),
        | j AS (SELECT s.window_start, s.event_type,
        |         COALESCE(w.n, 0) AS n_win, s.n_ref
        |       FROM spine s LEFT JOIN win w
        |         ON w.window_start = s.window_start
        |         AND w.event_type = s.event_type),
        | t AS (SELECT window_start, sum(n_win) AS tw, count(*) AS bb
        |       FROM j GROUP BY 1),
        | k AS (SELECT j.window_start, j.event_type, j.n_win,
        |         CAST(j.n_ref + 1 AS DOUBLE) / (tr.tr + t.bb) AS p,
        |         CAST(j.n_win + 1 AS DOUBLE) / (t.tw + t.bb) AS q
        |       FROM j JOIN t USING (window_start) CROSS JOIN tr),
        | k2 AS (SELECT window_start, event_type, n_win,
        |         (p - q) * ln(p / q) AS contribution FROM k)
        |SELECT window_start, event_type, CAST(n_win AS BIGINT) AS n_win,
        |  CAST(contribution AS REAL) AS contribution,
        |  CAST(CAST(sum(CAST(contribution AS DECIMAL(30,12)))
        |    OVER (PARTITION BY window_start) AS DOUBLE) AS REAL) AS window_psi
        |FROM k2 ORDER BY window_start, event_type""".stripMargin,

    "stream_tumbling_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | h AS (SELECT date_trunc('hour', ts) AS window_start, event_type,
        |         count(*) AS n_events, CAST(sum(value) AS REAL) AS sum_value
        |       FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n_events, sum_value
        |FROM h, b
        |WHERE window_start + INTERVAL '1 hour' <= b.bound
        |ORDER BY window_start, event_type""".stripMargin,

    // daily candles: open/close replayed as row_number picks over the
    // same (ts, event_id) total order the min_by/max_by accumulator uses
    "stream_ohlc_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | e AS (SELECT date_trunc('day', ts) AS window_start, event_type,
        |         value, epoch_ns(ts) AS tsn, event_id
        |       FROM events WHERE value IS NOT NULL),
        | r AS (SELECT *, row_number() OVER (PARTITION BY window_start, event_type
        |          ORDER BY tsn, event_id) AS rn_a,
        |        row_number() OVER (PARTITION BY window_start, event_type
        |          ORDER BY tsn DESC, event_id DESC) AS rn_d FROM e),
        | h AS (SELECT window_start, event_type,
        |        min(CASE WHEN rn_a = 1 THEN value END) AS open,
        |        max(value) AS high, min(value) AS low,
        |        min(CASE WHEN rn_d = 1 THEN value END) AS close,
        |        count(*) AS n_ticks,
        |        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vol_cents
        |       FROM r GROUP BY 1, 2)
        |SELECT window_start, event_type, open, high, low, close, n_ticks, vol_cents
        |FROM h, b WHERE window_start + INTERVAL '1 day' <= b.bound
        |ORDER BY window_start, event_type""".stripMargin,

    // one micro-batch ⇒ the dedup survivors are first-occurrence-per-key;
    // projected onto the keys that is exactly DISTINCT
    "stream_dedup_live" ->
      """SELECT DISTINCT user_id, event_type, value FROM events
        |ORDER BY user_id, event_type, value""".stripMargin,

    // single-batch stream-stream inner join ≡ the batch inequality join
    // (DuckDB's ts is the same micros grid the Spark side joins on)
    "stream_interval_join_live" ->
      """SELECT l.event_id AS click_id, r.event_id AS purchase_id, r.value
        |FROM events l JOIN events r
        |  ON l.event_type = 'click' AND r.event_type = 'purchase'
        | AND l.user_id = r.user_id
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,

    // left-outer stream-stream: matches as the inner join; unmatched
    // clicks null-pad ONLY if the final watermark — min of the two
    // sides' (max event ts − 10 min lateness), the engine's
    // min-watermark policy — passed l_ts + horizon, proving no future
    // match; younger unmatched clicks die unemitted at stream end
    "stream_interval_left_join_live" ->
      """WITH wm AS (SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL '10 minutes' AS w),
        | l AS (SELECT user_id, ts, event_id AS click_id FROM events
        |       WHERE event_type = 'click'),
        | r AS (SELECT user_id, ts, event_id AS purchase_id, value FROM events
        |       WHERE event_type = 'purchase'),
        | m AS (SELECT l.click_id, r.purchase_id, r.value
        |       FROM l JOIN r ON l.user_id = r.user_id
        |        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR),
        | u AS (SELECT l.click_id, CAST(NULL AS BIGINT) AS purchase_id,
        |         CAST(NULL AS DOUBLE) AS value
        |       FROM l, wm
        |       WHERE NOT EXISTS (SELECT 1 FROM r
        |         WHERE r.user_id = l.user_id
        |          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR)
        |        AND l.ts + INTERVAL 4 HOUR < wm.w)
        |SELECT * FROM m
        |UNION ALL SELECT * FROM u
        |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin,

    // full-outer: the left-outer oracle plus the symmetric unmatched-
    // purchase leg, whose eviction boundary is the purchase's OWN ts
    "stream_interval_full_join_live" ->
      """WITH wm AS (SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL '10 minutes' AS w),
        | l AS (SELECT user_id, ts, event_id AS click_id FROM events
        |       WHERE event_type = 'click'),
        | r AS (SELECT user_id, ts, event_id AS purchase_id, value FROM events
        |       WHERE event_type = 'purchase'),
        | m AS (SELECT l.click_id, r.purchase_id, r.value
        |       FROM l JOIN r ON l.user_id = r.user_id
        |        AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR),
        | ul AS (SELECT l.click_id, CAST(NULL AS BIGINT) AS purchase_id,
        |         CAST(NULL AS DOUBLE) AS value
        |       FROM l, wm
        |       WHERE NOT EXISTS (SELECT 1 FROM r
        |         WHERE r.user_id = l.user_id
        |          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR)
        |        AND l.ts + INTERVAL 4 HOUR < wm.w),
        | ur AS (SELECT CAST(NULL AS BIGINT) AS click_id, r.purchase_id, r.value
        |       FROM r, wm
        |       WHERE NOT EXISTS (SELECT 1 FROM l
        |         WHERE l.user_id = r.user_id
        |          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR)
        |        AND r.ts < wm.w)
        |SELECT * FROM m
        |UNION ALL SELECT * FROM ul
        |UNION ALL SELECT * FROM ur
        |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,

    // integer-cents running totals: one Update row per user after the
    // single data batch = the full per-user aggregate
    "stream_running_totals_live" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // streamed CUSUM: the batch closed form per USER, final row per key
    // (one data batch → the statistic after the whole history)
    // the batch formulation replayed in nanos; one staged batch folds
    // fully in order ⇒ n_late = 0
    "stream_funnel_live" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        | s0 AS (SELECT user_id, min(t) AS t0 FROM e
        |        WHERE event_type = 'signup' GROUP BY 1),
        | s1 AS (SELECT e.user_id, min(e.t) AS t1 FROM e JOIN s0 USING (user_id)
        |        WHERE e.event_type = 'view'
        |          AND e.t > s0.t0 AND e.t <= s0.t0 + 172800000000000 GROUP BY 1),
        | s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
        |        WHERE e.event_type = 'click'
        |          AND e.t > s1.t1 AND e.t <= s1.t1 + 172800000000000 GROUP BY 1),
        | s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM e JOIN s2 USING (user_id)
        |        WHERE e.event_type = 'purchase'
        |          AND e.t > s2.t2 AND e.t <= s2.t2 + 172800000000000 GROUP BY 1)
        |SELECT s0.user_id,
        |  CAST(1 + (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached,
        |  coalesce(s3.t3, s2.t2, s1.t1, s0.t0) AS t_final,
        |  CAST(0 AS BIGINT) AS n_late
        |FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY s0.user_id""".stripMargin,

    "stream_cusum_live" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |             CAST(round(value * 100) AS BIGINT) AS c
        |           FROM events WHERE value IS NOT NULL),
        | r AS (SELECT user_id, event_id, ts,
        |     SUM(c - 5100) OVER w AS ru,
        |     SUM(-(c - 4900)) OVER w AS rd,
        |     count(*) OVER w AS n
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | s AS (SELECT user_id, n,
        |     CAST(ru - least(MIN(ru) OVER w2, 0) AS BIGINT) AS cusum_up,
        |     CAST(rd - least(MIN(rd) OVER w2, 0) AS BIGINT) AS cusum_down,
        |     row_number() OVER (PARTITION BY user_id
        |       ORDER BY ts DESC, event_id DESC) AS rn
        |   FROM r WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, CAST(n AS BIGINT) AS n_events, cusum_up, cusum_down,
        |  CAST(0 AS BIGINT) AS n_late
        |FROM s WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // streamed enrich: stateless stream-static join then segment rollup
    "stream_enrich_live" ->
      """SELECT c.c_mktsegment, count(*) AS n_events,
        | CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // streamed CDC: identical semantics to cdc_apply — the projection
    // AND the oracle are shared definitions, so they cannot drift
    "stream_cdc_live" -> AnalyticsQueries.cdcSnapshotOracle,

    // streamed curation: distinct content hashes of quality-passing docs
    "stream_curation_live" ->
      s"""WITH t AS (SELECT doc_id, text,
         |    string_split(lower(trim(text)), ' ') AS toks FROM documents),
         | q AS (SELECT doc_id, text FROM t WHERE
         |    0.4 * least(CAST(1 AS DOUBLE), CAST(len(toks) AS DOUBLE) / CAST(100 AS DOUBLE))
         |    + 0.3 * (CAST(len(list_filter(toks, x -> x IN (${QuerySql.stopListEn}))) AS DOUBLE) / nullif(len(toks), 0))
         |    + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / nullif(len(toks), 0)) >= 0.45)
         |SELECT DISTINCT md5(text) AS content_hash FROM q
         |ORDER BY content_hash""".stripMargin,

    // streamed upsert: last-writer-wins per key, writer order = event_id
    "stream_upsert_live" ->
      """WITH r AS (SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id, value
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    // sliding windows: each event belongs to the 4 epoch-aligned 15-min-slid
    // 1-hour windows covering it
    "stream_sliding_avg" ->
      """WITH w AS (
        |  SELECT TIMESTAMP '1970-01-01'
        |           + (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k * 900)
        |             * INTERVAL '1 second' AS window_start,
        |         event_type, value
        |  FROM events CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(k))
        |SELECT window_start, event_type,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS REAL) AS avg_value,
        |  COUNT(*) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // session windows: gaps-and-islands — a new session starts when the gap
    // from the previous event reaches the 30-minute threshold (Spark
    // session_window merges only strictly-overlapping [ts, ts+gap) spans)
    "stream_session_windows" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    // live sliding windows: the batch sliding CTE restricted to windows
    // fully finalized by the watermark (end <= max ts - 20 min)
    "stream_sliding_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '20 minutes' AS bound FROM events),
        | w AS (
        |  SELECT TIMESTAMP '1970-01-01'
        |           + (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k * 900)
        |             * INTERVAL '1 second' AS window_start,
        |         event_type, value
        |  FROM events CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(k))
        |SELECT window_start, event_type,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS REAL) AS avg_value,
        |  COUNT(*) AS n_events
        |FROM w, b
        |WHERE window_start + INTERVAL '1 hour' <= b.bound
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    // live session windows: the gaps-and-islands CTE restricted to
    // sessions whose end (last event + 30 min gap) is finalized
    // (<= max ts - 40 min)
    "stream_session_live" ->
      """WITH b AS (SELECT max(ts) - INTERVAL '40 minutes' AS bound FROM events),
        | o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM o),
        |g AS (SELECT min(ts) AS session_start,
        |        max(ts) + INTERVAL '30 minutes' AS session_end,
        |        user_id, count(*) AS n_events,
        |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |      FROM s GROUP BY user_id, sid)
        |SELECT session_start, user_id, n_events, session_value
        |FROM g, b WHERE session_end <= b.bound
        |ORDER BY user_id, session_start""".stripMargin
  )
}
