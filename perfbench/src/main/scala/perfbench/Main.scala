package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.{GraftSession, SparkEntry}
import graft.pipeline.{StockAnalytics, StockPipeline}
import graft.sources.LakeReader

/** The benchmark's JVM side: sets a workload up, runs its timed phase
  * through the program's public functions, and writes `result.json` for
  * the runner, which checks outputs and derives the metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <trace 0|1> <workDir> <key=value>...
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, trace, work) = args.take(4)
    val params = args.drop(4).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    // the program's start-up: its tuned session
    var spark: SparkSession = null
    val session = Ops.timed {
      spark = GraftSession.builder("perfbench", master = Some("local[4]"), shufflePartitions = Some(4))
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace == "1")
    val ctx = new Ctx(spark, tracer, seed.toLong, work, params)
    val body = workload match {
      case "pipeline_backfill" | "hourly_increments" => Hourly.run(ctx)
      case "dashboard_serving" => Dashboard.run(ctx)
      case "operator_mix" => OperatorMix.run(ctx)
      case "selftest" => SelfTest.run(ctx)
    }
    tracer.close()
    val result = body ++ tracer.toJson ++ Map(
      "session" -> session,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    Files.writeString(Paths.get(work, "result.json"), Json.write(result))
    spark.stop()
  }
}

final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val work: String, params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def str(k: String): String = params(k)
}

/** Timing and bookkeeping shared by the workloads. */
object Ops {
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of the JVM's threads, all but the JIT's, in nanoseconds.
    * In a JVM that lives for one run, the JIT compiler and code-cache
    * sweeper threads took a quarter to a third of all CPU and varied by a
    * third from run to run; the program's own work did not. The runner
    * keeps the compiler threads alive for the whole run, so none of their
    * time goes uncounted. */
  def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime - jitNanos()

  /** CPU time of the JIT's threads, from their /proc/self/task stat lines. */
  private def jitNanos(): Long = {
    val ticks = new java.io.File("/proc/self/task").listFiles().toSeq.map { t =>
      try {
        val st = Files.readString(t.toPath.resolve("stat"))
        val close = st.lastIndexOf(')')
        val name = st.substring(st.indexOf('(') + 1, close)
        if (!name.contains("CompilerThre") && name != "Sweeper thread") 0L
        else {
          val f = st.substring(close + 2).split(" ")
          f(11).toLong + f(12).toLong // utime, stime
        }
      } catch { case _: java.io.IOException => 0L } // a thread that ended meanwhile
    }.sum
    ticks * 10000000L // USER_HZ = 100
  }

  /** Wall and JVM CPU seconds of `body`. */
  def timed(body: => Unit): Map[String, Double] = {
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    body
    Map("s" -> since(t0), "cpu_s" -> (cpuNanos() - c0) / 1e9)
  }

  /** One benchmark operation: timed from outside, traced as a span, and
    * recorded as failed if it throws or `body` returns false. */
  def op(ctx: Ctx, kind: String)(body: Int => Boolean): Map[String, Any] = {
    val id = ctx.tracer.newOp()
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    val (ok, err) =
      try (ctx.tracer.span(kind, id)(body(id)), "")
      catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    val s = since(t0)
    Map("op" -> id, "kind" -> kind, "s" -> s, "cpu_s" -> (cpuNanos() - c0) / 1e9, "ok" -> ok, "error" -> err)
  }

  /** The raw, enriched and warehouse zones of a pipeline lake. */
  def zones(lake: String): Map[String, Map[String, Any]] =
    Seq("raw", "enriched", "warehouse").map(z => z -> zoneStats(s"$lake/$z")).toMap

  /** Bytes on disk across `zones` and the logical bytes of the user's rows they hold. */
  def storage(zones: Map[String, Map[String, Any]], userBytes: Long): Map[String, Any] =
    Map("bytes" -> zones.values.map(_("bytes").asInstanceOf[Long]).sum, "user_bytes" -> userBytes)

  /** Logical size of a frame's rows: each string at its length, every
    * other field at its type's width (8 bytes for a long, double or timestamp). */
  def logicalBytes(df: DataFrame): Long = {
    val sizes = df.schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) coalesce(sum(length(col(f.name))).cast("long"), lit(0L))
      else count(lit(1)) * f.dataType.defaultSize
    }
    df.agg(sizes.reduce(_ + _)).head().getLong(0)
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator.asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Data files and bytes on disk under a zone (checksums and markers included in bytes). */
  def zoneStats(root: String): Map[String, Any] = {
    val files = Files.walk(Paths.get(root)).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    Map("parquet_files" -> files.count(_.getFileName.toString.endsWith(".parquet")),
      "bytes" -> files.map(Files.size).sum)
  }
}

/** The stock pipeline's writes: a set-up backfill, then timed runs
  * through ingest → transform → load with their public signatures
  * unchanged. `backfills` is the benchmark workload: the reference's
  * backfill DAG, one year of bars into an empty lake, repeated. The
  * `increments` are the reference's hourly runs of one trading day each,
  * into the set-up lake; they fail their check (the ingest defect
  * perfbench/METRICS.md records), so they run only in the probe that
  * shows the defect, not in a benchmark workload. */
object Hourly {
  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.spark
    val tickers = ctx.int("tickers")
    val from = LocalDate.parse(ctx.str("history_from"))
    val historyDays = ctx.int("history_days")
    val backfills = ctx.int("backfills")
    val increments = ctx.int("increments")
    val cut = Timestamp.valueOf(from.plusDays(historyDays).atStartOfDay())

    // Inputs, untimed: the bars, materialised once and split into the
    // backfill and one in-memory batch per increment day.
    val barsDir = s"${ctx.work}/input/bars"
    Gen.bars(spark, ctx.seed, tickers, from, historyDays + 3 * increments + 7).write.parquet(barsDir)
    val bars = spark.read.parquet(barsDir)
    val history = bars.filter(col("date") < lit(cut))
    val days = bars.filter(col("date") >= lit(cut)).collect().toSeq
      .groupBy(_.getTimestamp(0)).toSeq.sortBy(_._1.getTime).take(increments)
      .map { case (d, rows) => d -> spark.createDataFrame(rows.asJava, bars.schema) }
    require(days.size == increments, s"generated ${days.size} increment days, wanted $increments")
    def ingestTs(d: Timestamp) = new Timestamp(d.getTime + 16L * 3600 * 1000)

    def stages(id: Int, lake: String, bars: DataFrame, ts: Timestamp, sinceYear: Option[Int]): Boolean = {
      val (raw, enr, wh) = (s"$lake/raw", s"$lake/enriched", s"$lake/warehouse")
      ctx.tracer.span("pipeline.ingest", id)(StockPipeline.ingest(bars, ts, raw))
      val t = ctx.tracer.span("pipeline.transform", id)(
        StockPipeline.transform(spark, raw, enr, sinceYear))
      t.isRight && { ctx.tracer.span("pipeline.load", id)(StockPipeline.load(spark, enr, wh)); true }
    }
    val snaps = Seq.newBuilder[Map[String, Any]]
    def snapshot(name: String, lake: String, upTo: Timestamp): Unit = {
      Ops.copyTree(s"$lake/warehouse", s"${ctx.work}/snap/$name")
      snaps += Map("name" -> name, "up_to" -> upTo.toString)
    }
    val ops = Seq.newBuilder[Map[String, Any]]
    val historyRows = history.count()
    val lastHistory = new Timestamp(cut.getTime - 1)
    def backfill(kind: String, k: Int): Map[String, Any] = {
      val lake = f"${ctx.work}/lake-$k%02d"
      val op = Ops.op(ctx, kind)(id => stages(id, lake, history, ingestTs(cut), None))
      ops += op ++ Map("rows" -> historyRows)
      snapshot(f"backfill-$k%02d", lake, lastHistory)
      op
    }

    // Set-up: the first backfill. It is also the first checked operation.
    val setup = backfill("setup_backfill", 0)
    // Timed, after one untimed warm-up: each backfill into an empty lake of its own.
    if (backfills > 0) (1 to backfills + 1).foreach(k => backfill(if (k == 1) "warmup_backfill" else "backfill", k))
    // Timed, in the probe: the increments into the set-up lake.
    val lake0 = f"${ctx.work}/lake-00"
    var loadedYear = from.plusDays(historyDays - 1).getYear
    for (((day, batch), k) <- days.zipWithIndex) {
      val rows = batch.count()
      ops += Ops.op(ctx, "increment")(id => stages(id, lake0, batch, ingestTs(day), Some(loadedYear))) ++
        Map("rows" -> rows)
      loadedYear = day.toLocalDateTime.getYear
      snapshot(f"increment-${k + 1}%02d", lake0, day)
    }
    // idempotency probe, untimed: the last operation again on its lake
    // (traced as op -1, which the per-layer metrics leave out)
    val (lastLake, lastUpTo) =
      if (days.nonEmpty) (lake0, days.last._1) else (f"${ctx.work}/lake-${backfills + 1}%02d", lastHistory)
    val rerunOk = try {
      if (days.nonEmpty) stages(-1, lake0, days.last._2, ingestTs(days.last._1), Some(loadedYear))
      else stages(-1, lastLake, history, ingestTs(cut), None)
    } catch { case NonFatal(_) => false }
    snapshot("rerun", lastLake, lastUpTo)
    val zones = Ops.zones(lastLake)
    val userBytes = Ops.logicalBytes(bars.filter(col("date") <= lit(lastUpTo)))
    Map("setup" -> setup.filter { case (k, _) => k == "s" || k == "cpu_s" },
      "ops" -> ops.result(), "snapshots" -> snaps.result(), "rerun_ok" -> rerunOk,
      "zones" -> zones, "storage" -> Ops.storage(zones, userBytes), "bars" -> barsDir)
  }
}

/** The dashboard user: page renders over the warehouse the pipeline built. */
object Dashboard {
  /** One render of the reference's single-page dashboard: the tickers and
    * date window the user picked, and the sector of the movers table. */
  final case class Render(tickers: Seq[String], from: String, to: String, sector: String)

  def parse(line: String): Render = {
    val f = line.split("\\|", -1)
    Render(f(0).split(",").toSeq.filter(_.nonEmpty), f(1), f(2), f(3))
  }

  /** The queries a render issues, in the reference's order: history →
    * trends and final returns → relative return of the first two tickers
    * → latest snapshot → the sector's top gainers and losers. */
  val Kinds: Seq[String] = Seq("history", "trends", "relative", "snapshot", "top_movers")

  def frames(kind: String, r: Render, wh: DataFrame, dim: DataFrame): Seq[DataFrame] = {
    import StockAnalytics._
    def hist = history(wh, r.tickers, r.from, r.to)
    def snap = latestSnapshot(wh, dim)
    kind match {
      case "history" => Seq(hist)
      case "trends" => Seq(finalReturns(computeTrends(hist)))
      case "relative" => Seq(finalRelativeReturn(computeTrends(hist), r.tickers(0), r.tickers(1)))
      case "snapshot" => Seq(snap)
      case "top_movers" => Seq(topMovers(snap, r.sector, gainers = true), topMovers(snap, r.sector, gainers = false))
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.spark
    val tickers = ctx.int("tickers")
    val from = LocalDate.parse(ctx.str("history_from"))
    val historyDays = ctx.int("history_days")
    val lines = Files.readAllLines(Paths.get(ctx.str("requests"))).asScala.toSeq
    val renders = lines.map(parse)

    // Inputs, untimed: the bars and the dimension table.
    val barsDir = s"${ctx.work}/input/bars"
    val dimPath = s"${ctx.work}/input/dim"
    Gen.bars(spark, ctx.seed, tickers, from, historyDays).write.parquet(barsDir)
    Gen.dimension(spark, ctx.seed, tickers, ctx.str("sectors").split(",").toSeq).write.parquet(dimPath)
    // Set-up: the pipeline's backfill into the warehouse the renders read.
    val lake = s"${ctx.work}/lake"
    val whPath = s"$lake/warehouse"
    val setup = Ops.timed {
      val res = StockPipeline.run(spark, spark.read.parquet(barsDir),
        Timestamp.valueOf(from.plusDays(historyDays).atStartOfDay()),
        s"$lake/raw", s"$lake/enriched", whPath)
      require(res.isRight, s"backfill rejected: $res")
    }
    val zones = Ops.zones(lake)

    // output check, untimed and before the timed renders, so that it is
    // also their warm-up: every query of the first render, saved for the runner
    val checks = Kinds.flatMap { kind =>
      frames(kind, renders.head, LakeReader.read(spark, whPath), LakeReader.read(spark, dimPath))
        .zipWithIndex.map { case (df, i) =>
          val out = s"${ctx.work}/check/$kind-$i"
          df.write.parquet(out)
          Map("kind" -> kind, "part" -> i, "out" -> out, "line" -> lines.head)
        }
    }
    val ops = renders.flatMap { r =>
      Kinds.map { kind =>
        var rows = 0L
        Ops.op(ctx, kind) { _ =>
          rows = frames(kind, r, LakeReader.read(spark, whPath), LakeReader.read(spark, dimPath))
            .map(_.collect().length.toLong).sum
          true
        } ++ Map("rows_out" -> rows)
      }
    }
    Map("setup" -> setup, "ops" -> ops, "checks" -> checks, "warehouse" -> whPath, "dim" -> dimPath,
      "storage" -> Ops.storage(zones, Ops.logicalBytes(spark.read.parquet(barsDir))))
  }
}

/** A fixed slice of the operator inventory over the seed's tables. */
object OperatorMix {
  def run(ctx: Ctx): Map[String, Any] = {
    import ctx.spark
    val data = ctx.str("data")
    val names = ctx.str("queries").split(",").toSeq
    val queries = SparkEntry.queries
    val ops = names.map { n =>
      Ops.op(ctx, n) { _ =>
        queries(n)(spark, data).write.parquet(s"${ctx.work}/out/$n")
        true
      }
    }
    // storage: the versioned lake lake_merge_commit leaves in the JVM's
    // temporary directory, against the rows it reads back
    val lakes = Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator.asScala
      .filter(_.getFileName.toString.startsWith("graft_vmerge")).toSeq
    require(lakes.size == 1, s"expected one lake_merge_commit lake, found ${lakes.size}")
    val zones = Map("versioned" -> Ops.zoneStats(s"${lakes.head}/t"))
    Map("ops" -> ops,
      "storage" -> Ops.storage(zones, Ops.logicalBytes(spark.read.parquet(s"${ctx.work}/out/lake_merge_commit"))),
      "oracle" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}

/** Generator determinism: one seed reproduces its bars, another changes them. */
object SelfTest {
  def run(ctx: Ctx): Map[String, Any] = {
    def digest(seed: Long): String = Gen.bars(ctx.spark, seed, 8, LocalDate.parse("2024-03-01"), 40)
      .select(sha2(concat_ws(",", col("ticker"), col("date"), col("close"), col("volume")), 256).as("h"))
      .agg(sha2(concat_ws(",", sort_array(collect_list(col("h")))), 256))
      .head().getString(0)
    val dims = Seq(ctx.seed, ctx.seed, ctx.seed + 1).map(s =>
      Gen.dimension(ctx.spark, s, 32, Seq("a", "b", "c")).collect().map(_.toString).mkString(";"))
    Map("bars" -> Seq(digest(ctx.seed), digest(ctx.seed), digest(ctx.seed + 1)),
      "dimension" -> dims)
  }
}
