package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.pipeline.StockPipeline

class LakeSpec extends SparkSpec {
  import spark.implicits._

  /** `LakeReader.read` resolves `path` exactly as `spark.read.parquet`
    * does: same columns (names, types, nullability, order, metadata)
    * and the same rows. */
  private def readsLikeSpark(path: String): DataFrame = {
    val (ours, theirs) = (LakeReader.read(spark, path), spark.read.parquet(path))
    ours.schema shouldBe theirs.schema
    def sorted(df: DataFrame) = df.rows.sortBy(_.mkString("|"))
    sorted(ours) shouldBe sorted(theirs)
    ours
  }

  private def stockBars = Seq(
    (Timestamp.valueOf("2023-12-28 00:00:00"), 10.0, 11.0, 9.0, 10.0, 100L, "AAA", 10.0),
    (Timestamp.valueOf("2024-01-02 00:00:00"), 10.0, 12.0, 9.0, 11.0, 110L, "AAA", 11.0),
    (Timestamp.valueOf("2023-12-28 00:00:00"), 50.0, 51.0, 49.0, 50.0, 500L, "0700", 50.0),
    (Timestamp.valueOf("2024-01-02 00:00:00"), 50.0, 52.0, 48.0, 40.0, 510L, "0700", 40.0)
  ).toDF("date", "open", "high", "low", "close", "volume", "ticker", "adj_close")

  test("read: every stock zone resolves as spark.read.parquet, 0700 stays a string") {
    val dir = Files.createTempDirectory("lakeread1").toString
    val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")
    StockPipeline.run(spark, stockBars, Timestamp.valueOf("2024-01-05 12:00:00"),
      raw, enr, wh) shouldBe Right(4L)
    Seq(raw, enr, wh).foreach { zone =>
      val df = readsLikeSpark(zone)
      // the partition column is discovered from the listing, appended last
      df.columns.last shouldBe "year"
      df.schema("year").dataType shouldBe org.apache.spark.sql.types.IntegerType
      df.schema("ticker").dataType shouldBe org.apache.spark.sql.types.StringType
      df.select("ticker").distinct().as[String].collect().toSet shouldBe Set("AAA", "0700")
    }
  }

  test("read: opening a zone starts no Spark job") {
    val dir = Files.createTempDirectory("lakeread2").toString
    val (raw, enr, wh) = (s"$dir/raw", s"$dir/enriched", s"$dir/warehouse")
    StockPipeline.run(spark, stockBars, Timestamp.valueOf("2024-01-05 12:00:00"),
      raw, enr, wh) shouldBe Right(4L)
    // the counter sees the inference job that spark.read.parquet starts
    jobsStartedBy(spark.read.parquet(wh)).size should be >= 1
    jobsStartedBy {
      Seq(raw, enr, wh).foreach(z => LakeReader.read(spark, z).queryExecution.analyzed)
    } shouldBe empty
  }

  test("read: skips _SUCCESS, .crc, _temporary/ and ._COPYING_ leftovers") {
    val dir = Files.createTempDirectory("lakeread3").toString
    val zone = s"$dir/zone"
    LakeWriter.write(Seq((2023, "A", 1.0), (2024, "B", 2.0)).toDF("year", "ticker", "v"),
      zone, Seq("year"))
    // a half-committed task output of another shape, and a file still
    // being copied in: both sort ahead of every committed file
    Seq((1L, "x")).toDF("other", "shape").write.parquet(s"$zone/_temporary/0")
    Files.write(Paths.get(s"$zone/a.parquet._COPYING_"), Array[Byte](1, 2, 3))
    val names = Files.walk(Paths.get(zone)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      names.mkString(", "))
    readsLikeSpark(zone).columns.toSeq shouldBe Seq("ticker", "v", "year")
    // a glob is expanded by Spark's own listing
    readsLikeSpark(s"$zone/year=202*").columns.toSeq shouldBe Seq("ticker", "v")
  }

  test("read: files that also store their partition column keep Spark's column order") {
    val dir = Files.createTempDirectory("lakeread10").toString
    Seq((2023, 1.0)).toDF("year", "v").write.parquet(s"$dir/zone/year=2023")
    Seq((2024, 2.0)).toDF("year", "v").write.parquet(s"$dir/zone/year=2024")
    readsLikeSpark(s"$dir/zone").columns.toSeq shouldBe Seq("year", "v")
  }

  test("read: a single-file path") {
    val dir = Files.createTempDirectory("lakeread4").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "v").coalesce(1).write.parquet(s"$dir/t")
    val file = new java.io.File(s"$dir/t").listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
    readsLikeSpark(file).columns.toSeq shouldBe Seq("k", "s", "v")
    jobsStartedBy(LakeReader.read(spark, file)) shouldBe empty
  }

  test("read: timestamp columns, from Spark and from a foreign writer") {
    val dir = Files.createTempDirectory("lakeread5").toString
    Seq((Timestamp.valueOf("2024-03-01 09:30:00"), Date.valueOf("2024-03-01"), 1L))
      .toDF("ts", "d", "k")
      .withColumn("ntz", to_timestamp_ntz(lit("2024-03-01 09:30:00")))
      .write.parquet(s"$dir/spark")
    readsLikeSpark(s"$dir/spark").schema.map(_.dataType.typeName) shouldBe
      Seq("timestamp", "date", "long", "timestamp_ntz")
    // no Spark row metadata: the footer's parquet types are converted
    // under the session conf (nanosAsLong reads TIMESTAMP(NANOS) as long)
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts_ns (TIMESTAMP(NANOS,true)); " +
        "required int64 ts_us (TIMESTAMP(MICROS,false)); required int32 k; }")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(s"$dir/foreign/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts_ns", 1709285400123456789L).append("ts_us", 1709285400123456L)
      .append("k", 7))
    finally w.close()
    readsLikeSpark(s"$dir/foreign").schema.map(_.dataType.typeName) shouldBe
      Seq("long", "timestamp_ntz", "integer")
  }

  test("read: a missing path and a zone holding only _SUCCESS fail as spark.read.parquet") {
    val dir = Files.createTempDirectory("lakeread6").toString
    Files.createDirectories(Paths.get(s"$dir/empty/year=2024"))
    Files.write(Paths.get(s"$dir/empty/_SUCCESS"), Array.emptyByteArray)
    Files.write(Paths.get(s"$dir/empty/year=2024/_SUCCESS"), Array.emptyByteArray)
    Seq(s"$dir/missing", s"$dir/empty").foreach { p =>
      val ours = intercept[AnalysisException](LakeReader.read(spark, p))
      val theirs = intercept[AnalysisException](spark.read.parquet(p))
      ours.getCondition shouldBe theirs.getCondition
      ours.getMessage shouldBe theirs.getMessage
    }
  }

  test("read: a file-stream sink's schema comes from a committed file") {
    val dir = Files.createTempDirectory("lakeread7").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").write.parquet(s"$dir/src")
    spark.readStream.schema("k long, s string").parquet(s"$dir/src")
      .writeStream.format("parquet").option("path", s"$dir/sink")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // a failed attempt's file, not in the sink log, sorts first
    Files.write(Paths.get(s"$dir/sink/part-0.parquet"), Array[Byte](1, 2, 3))
    readsLikeSpark(s"$dir/sink").count() shouldBe 2
  }

  test("read: a session with mergeSchema on is refused, a given schema still reads") {
    val dir = Files.createTempDirectory("lakeread8").toString
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$dir/t")
    // an isolated session: suites share the default one concurrently
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val ex = intercept[IllegalArgumentException](LakeReader.read(merging, s"$dir/t"))
    ex.getMessage should include("spark.sql.parquet.mergeSchema")
    LakeReader.read(merging, s"$dir/t", Some(spark.read.parquet(s"$dir/t").schema))
      .rows shouldBe Seq(Seq(1L, "a"))
  }

  test("exists and read use the session's Hadoop conf") {
    val dir = Files.createTempDirectory("lakeread9").toString
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$dir/t")
    val alias = s"lakealias://$dir/t"
    val s2 = spark.newSession()
    s2.conf.set("fs.lakealias.impl", classOf[AliasLocalFs].getName)
    LakeReader.exists(s2, alias) shouldBe true
    LakeReader.read(s2, alias).rows shouldBe Seq(Seq(1L, "a"))
  }

  test("dynamic partition overwrite touches only the batch's partitions") {
    val dir = Files.createTempDirectory("lake1").toString
    val full = Seq((2023, "A", 1.0), (2023, "B", 2.0), (2024, "A", 3.0))
      .toDF("year", "ticker", "v")
    LakeWriter.write(full, dir, Seq("year", "ticker"))
    // overwrite ONLY (2023, A)
    LakeWriter.overwritePartitions(
      Seq((2023, "A", 9.0)).toDF("year", "ticker", "v"), dir, Seq("year", "ticker"))
    val back = LakeReader.read(spark, dir).orderBy("year", "ticker")
      .select("year", "ticker", "v").rows
    back shouldBe Seq(Seq(2023, "A", 9.0), Seq(2023, "B", 2.0), Seq(2024, "A", 3.0))
  }

  test("partition-pruned read plans skip other partitions") {
    val dir = Files.createTempDirectory("lake2").toString
    LakeWriter.write((1 to 100).map(i => (2000 + i % 5, s"T${i % 3}", i.toDouble))
      .toDF("year", "ticker", "v"), dir, Seq("year", "ticker"))
    val plan = LakeReader.read(spark, dir)
      .filter(col("year") === 2003 && col("ticker") === "T1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && !plan.contains("PartitionFilters: []"))
  }

  test("writeZOrdered: every file covers a narrow tile of BOTH clustered columns") {
    val dir = Files.createTempDirectory("lakez").toString
    // two independent uniform columns — the adversarial case for
    // single-column sorting (sorting by x leaves y's per-file span at
    // the full domain)
    val rng = new scala.util.Random(7)
    val df = (1 to 20000).map(_ => (rng.nextInt(10000).toLong,
      rng.nextInt(10000).toLong)).toDF("x", "y")
    LakeWriter.writeZOrdered(df, s"$dir/z", Seq("x", "y"), files = 16)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$dir/sx")
    def meanSpan(path: String, c: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).cast("double").as("span"))
        .agg(avg(col("span"))).rows.head.head.asInstanceOf[Double]
    // identical row SET either way — layout, not data
    spark.read.parquet(s"$dir/z").count() shouldBe 20000
    spark.read.parquet(s"$dir/z").except(df).count() shouldBe 0
    df.except(spark.read.parquet(s"$dir/z")).count() shouldBe 0
    // x-sorted layout: y files span ~the whole 10k domain; z-ordered:
    // BOTH columns' per-file spans are tiles (16 files = 4 z-bits ⇒
    // roughly 1/4 of each domain; assert a conservative 2.5×/2×)
    val (zx, zy) = (meanSpan(s"$dir/z", "x"), meanSpan(s"$dir/z", "y"))
    val (sxX, sxY) = (meanSpan(s"$dir/sx", "x"), meanSpan(s"$dir/sx", "y"))
    withClue(s"z=(x $zx, y $zy) xsorted=(x $sxX, y $sxY): ") {
      zy should be < sxY / 2.5   // y prunes under z-order, not under x-sort
      zx should be < 10000.0 / 2 // x still clustered (tiles, not perfect runs)
    }
    // the spans CAUSE actual skipping — on the NON-leading column, the
    // claim that distinguishes z-order from a plain sort: a y-only
    // predicate lets the parquet reader's row-group pruning (pushed
    // min/max) drop most of the z-layout's tiles, while the x-sorted
    // layout reads everything (every file's y-range spans the domain)
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path)
        .filter(col("y").between(2000, 3000))
      q.collect() // execute THIS dataset's plan so its metrics populate
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collectLeaves()
        .collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.get
    }
    val (zScan, sxScan) = (scanRows(s"$dir/z"), scanRows(s"$dir/sx"))
    withClue(s"scan rows z=$zScan xsorted=$sxScan: ") {
      // x-sorted: NOTHING prunes on y — the scan reads every row
      sxScan shouldBe 20000L
      // z-ordered: at least the far y-tiles prune. How much depends on
      // where repartitionByRange's sampled boundaries land relative to
      // the tile grid (seen 0.25–0.5× across runs), so assert the
      // conservative bound, not the lucky one
      zScan.toDouble should be < sxScan.toDouble * 0.7
    }
  }

  test("writeZOrdered: string cluster keys skip scans via dictionary rank") {
    val dir = Files.createTempDirectory("lakezs").toString
    // the reference's own cluster shape: (year, ticker) — a numeric and
    // a STRING key, independently uniform
    val rng = new scala.util.Random(13)
    val tickers = ('A' to 'Z').map(c => s"TK$c")
    val df = (1 to 20000).map(_ =>
      (2000L + rng.nextInt(20), tickers(rng.nextInt(26)))).toDF("year", "ticker")
    LakeWriter.writeZOrdered(df, s"$dir/z", Seq("year", "ticker"), files = 16)
    df.repartitionByRange(16, col("year")).sortWithinPartitions("year")
      .write.parquet(s"$dir/sy")
    // identical row SET, original schema — the rank surrogate is layout,
    // never persisted
    val back = spark.read.parquet(s"$dir/z")
    back.columns.toSeq.sorted shouldBe Seq("ticker", "year")
    back.count() shouldBe 20000
    back.except(df).count() shouldBe 0
    df.except(back).count() shouldBe 0
    // a ticker-only equality predicate prunes row groups in the
    // z-layout (each file covers a narrow slice of the SORTED ticker
    // dictionary, so parquet string min/max stats exclude most files);
    // the year-sorted layout reads every row
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("ticker") === "TKB")
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collectLeaves()
        .collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.get
    }
    val (zScan, syScan) = (scanRows(s"$dir/z"), scanRows(s"$dir/sy"))
    withClue(s"scan rows z=$zScan yearsorted=$syScan: ") {
      syScan shouldBe 20000L          // nothing prunes on the string key
      zScan.toDouble should be < syScan.toDouble * 0.7
    }
  }

  test("writeZOrdered: a high-cardinality string key fails the " +
    "dictionary contract loudly, before any write") {
    val dir = Files.createTempDirectory("lakezc").toString
    val df = (1 to 50).map(i => (i.toLong, s"freetext_$i")).toDF("n", "t")
    val ex = intercept[IllegalArgumentException] {
      LakeWriter.writeZOrdered(df, s"$dir/z", Seq("n", "t"), files = 4,
        maxDictValues = 10)
    }
    ex.getMessage should include("exceeds 10 distinct values")
    ex.getMessage should include("low-cardinality")
    // nothing was written: the probe fires before the z-write
    new java.io.File(s"$dir/z").exists() shouldBe false
    // and the same data under the default cap still writes fine
    LakeWriter.writeZOrdered(df, s"$dir/z2", Seq("n", "t"), files = 4)
    spark.read.parquet(s"$dir/z2").count() shouldBe 50
  }

  test("bucketed tables join without an exchange") {
    val n = 1000
    def writeBucketed(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").bucketBy(4, "k").sortBy("k")
        .format("parquet").saveAsTable(table)
    writeBucketed((1 to n).map(i => (i.toLong, s"left$i")).toDF("k", "lv"), "bucketed_l")
    writeBucketed((1 to n).map(i => (i.toLong, s"right$i")).toDF("k", "rv"), "bucketed_r")
    // force the sort-merge path (small test tables would otherwise
    // broadcast); bucketed SMJ needs neither a shuffle nor a sort.
    // The -1 threshold goes on an ISOLATED child session, never the
    // shared one: suites run in parallel threads inside the forked
    // test JVM, and a set/finally window on the shared session races
    // any suite that clones conf via newSession() mid-window.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = s2.table("bucketed_l").join(s2.table("bucketed_r"), Seq("k"))
    joined.count() shouldBe n
    val plan = joined.queryExecution.executedPlan.toString
    withClue(plan) {
      assert(!plan.contains("Exchange"))
      assert(plan.contains("SortMergeJoin"))
    }
    spark.sql("DROP TABLE bucketed_l"); spark.sql("DROP TABLE bucketed_r")
  }

  /** `path` as a writer that died between `replaceSnapshot`'s two
    * renames leaves it: the previous snapshot moved to `__old__`, a
    * fully written but uncommitted `__staging__` beside it. */
  private def tearSwap(path: String, uncommitted: DataFrame): Unit = {
    Files.move(Paths.get(path), Paths.get(s"$path.__old__"))
    LakeWriter.write(uncommitted, s"$path.__staging__", Seq.empty)
  }

  test("recoverSnapshot: a torn swap rolls back to the previous snapshot") {
    val root = Files.createTempDirectory("lake3").toString
    val path = s"$root/wh"
    LakeWriter.write(Seq((1L, "old")).toDF("k", "v"), path, Seq.empty)
    tearSwap(path, Seq((1L, "uncommitted")).toDF("k", "v"))
    var seen: Option[Seq[Seq[Any]]] = None
    LakeWriter.replaceSnapshot(spark, path, Seq.empty) { current =>
      seen = current.map(_.rows)
      current.get
    }
    seen shouldBe Some(Seq(Seq(1L, "old")))
    LakeReader.read(spark, path).rows shouldBe Seq(Seq(1L, "old"))
    assert(!Files.exists(Paths.get(s"$path.__old__")))
    assert(!Files.exists(Paths.get(s"$path.__staging__")))
  }

  test("compact on a torn swap compacts the restored rows") {
    val root = Files.createTempDirectory("lake6").toString
    val path = s"$root/zone"
    val df = (1L to 60L).map(i => (i, s"p${i % 2}")).toDF("k", "part")
    LakeWriter.write(df.repartition(6), path, Seq("part"))
    def filesPerPartition = LakeWriter.fileCounts(spark, path).rows.map(_(1).asInstanceOf[Long])
    filesPerPartition.max should be > 1L
    tearSwap(path, Seq((99L, "uncommitted")).toDF("k", "part"))
    LakeWriter.compact(spark, path, Seq("part"))
    all(filesPerPartition) shouldBe 1L
    LakeReader.read(spark, path).orderBy("k").select("k", "part").rows shouldBe
      df.orderBy("k").rows
    assert(!Files.exists(Paths.get(s"$path.__old__")))
    assert(!Files.exists(Paths.get(s"$path.__staging__")))
  }

  test("compact: file counts drop to the budget, data byte-identical, staging swept") {
    val root = Files.createTempDirectory("lake5").toString
    val path = s"$root/zone"
    val df = (1L to 400L).map(i => (i, s"p${i % 3}", i * 1.5)).toDF("k", "part", "v")
    // fragment: 12 shuffle partitions → up to 12 files per partition dir
    LakeWriter.write(df.repartition(12), path, Seq("part"))
    val before = LakeWriter.fileCounts(spark, path)
      .rows.map(r => r.head.toString -> r(1).asInstanceOf[Long]).toMap
    before.keySet shouldBe Set("part=p0", "part=p1", "part=p2")
    before.values.max should be > 2L
    LakeWriter.compact(spark, path, Seq("part"), filesPerPartition = 2)
    val after = LakeWriter.fileCounts(spark, path)
      .rows.map(r => r.head.toString -> r(1).asInstanceOf[Long]).toMap
    after.keySet shouldBe before.keySet
    all(after.values) should be <= 2L
    // layout changed, data did not
    LakeReader.read(spark, path).orderBy("k")
      .select("k", "part", "v").rows shouldBe df.orderBy("k").rows
    assert(!Files.exists(java.nio.file.Paths.get(s"$path.__staging__")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$path.__old__")))
  }

  test("recoverSnapshot: leftover __old__ beside a live target is swept") {
    val root = Files.createTempDirectory("lake4").toString
    val path = s"$root/wh"
    LakeWriter.write(Seq((1L, "new")).toDF("k", "v"), path, Seq.empty)
    LakeWriter.write(Seq((1L, "stale")).toDF("k", "v"), s"$path.__old__", Seq.empty)
    LakeWriter.replaceSnapshot(spark, path, Seq.empty)(_.get)
    LakeReader.read(spark, path).rows shouldBe Seq(Seq(1L, "new"))
    assert(!Files.exists(Paths.get(s"$path.__old__")))
    // no-op on an absent snapshot: compact, which needs one, raises and
    // leaves nothing behind
    val never = s"$root/never_written"
    val ex = intercept[IllegalArgumentException](LakeWriter.compact(spark, never, Seq.empty))
    ex.getMessage should include("no snapshot")
    for (p <- Seq(never, s"$never.__staging__", s"$never.__old__"))
      assert(!Files.exists(Paths.get(p)))
  }

  test("one staged swap: only graft/sources renames, no SparkContext Hadoop conf") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files should not be empty
    def hits(needle: String) = files.filter(f =>
      new String(Files.readAllBytes(f), "UTF-8").contains(needle))
      .map(root.relativize(_).toString.replace('\\', '/'))
    all(hits(".rename(")) should startWith("graft/sources/")
    hits("sparkContext.hadoopConfiguration") shouldBe empty
  }

  test("replaceSnapshot on a path with a trailing slash stages beside it, twice") {
    val root = Files.createTempDirectory("lake7").toString
    val path = s"$root/wh/"
    LakeWriter.replaceSnapshot(spark, path, Seq.empty) { current =>
      current shouldBe None
      Seq((1L, "first")).toDF("k", "v")
    }
    LakeWriter.replaceSnapshot(spark, path, Seq.empty) { current =>
      current.map(_.rows) shouldBe Some(Seq(Seq(1L, "first")))
      current.get.withColumn("v", lit("second"))
    }
    LakeReader.read(spark, s"$root/wh").rows shouldBe Seq(Seq(1L, "second"))
    Files.list(Paths.get(root)).iterator.asScala.map(_.getFileName.toString).toSeq shouldBe Seq("wh")
  }

  // Reuse of an opened table: a repeat read must never serve a stale
  // snapshot. Each case reads once (the table is then kept), changes
  // the snapshot, and reads again.

  private def sortedRows(df: DataFrame): Seq[String] = df.rows.map(_.mkString(",")).sorted

  test("reuse: a write from another session between two reads shows") {
    val path = s"${Files.createTempDirectory("lakereuse1")}/t"
    LakeWriter.write(Seq((1L, "a")).toDF("k", "v"), path, Seq.empty)
    LakeReader.read(spark, path).rows shouldBe Seq(Seq(1L, "a"))
    val other = spark.newSession()
    LakeWriter.write(other.range(2, 4).select(col("id").as("k"), lit("b").as("v")), path, Seq.empty)
    sortedRows(LakeReader.read(spark, path)) shouldBe Seq("2,b", "3,b")
  }

  test("reuse: a swap torn between its renames reads as the healed snapshot") {
    val path = s"${Files.createTempDirectory("lakereuse2")}/wh"
    LakeWriter.write(Seq((1L, "s0")).toDF("k", "v"), path, Seq.empty)
    LakeReader.read(spark, path).rows shouldBe Seq(Seq(1L, "s0"))
    LakeWriter.replaceSnapshot(spark, path, Seq.empty)(_ => Seq((1L, "s1")).toDF("k", "v"))
    tearSwap(path, Seq((1L, "uncommitted")).toDF("k", "v"))
    LakeWriter.recoverSnapshot(spark, path)
    LakeReader.read(spark, path).rows shouldBe Seq(Seq(1L, "s1"))
  }

  test("reuse: a dynamic overwrite of one year between two reads shows") {
    val path = s"${Files.createTempDirectory("lakereuse3")}/zone"
    LakeWriter.write(Seq((2023, "A", 1.0), (2024, "A", 2.0)).toDF("year", "ticker", "v"),
      path, Seq("year"))
    sortedRows(LakeReader.read(spark, path)) shouldBe Seq("A,1.0,2023", "A,2.0,2024")
    LakeWriter.overwritePartitions(Seq((2024, "B", 9.0)).toDF("year", "ticker", "v"),
      path, Seq("year"))
    sortedRows(LakeReader.read(spark, path)) shouldBe Seq("A,1.0,2023", "B,9.0,2024")
  }

  test("reuse: a file appended between two reads shows") {
    val path = s"${Files.createTempDirectory("lakereuse4")}/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    LakeReader.read(spark, path).count() shouldBe 1
    Seq((2L, "b")).toDF("k", "v").write.mode("append").parquet(path)
    sortedRows(LakeReader.read(spark, path)) shouldBe Seq("1,a", "2,b")
  }

  test("reuse: a batch a file-stream sink commits between two reads shows") {
    val dir = Files.createTempDirectory("lakereuse5").toString
    def runStream(): Unit =
      spark.readStream.schema("k long, s string").parquet(s"$dir/src")
        .writeStream.format("parquet").option("path", s"$dir/sink")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$dir/src")
    runStream()
    LakeReader.read(spark, s"$dir/sink").count() shouldBe 1
    Seq((2L, "b")).toDF("k", "s").write.mode("append").parquet(s"$dir/src")
    runStream()
    sortedRows(LakeReader.read(spark, s"$dir/sink")) shouldBe Seq("1,a", "2,b")
  }

  test("reuse: two reads of one path self-join as two spark.read.parquet calls") {
    val path = s"${Files.createTempDirectory("lakereuse6")}/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write.parquet(path)
    def pairs(a: DataFrame, b: DataFrame) =
      sortedRows(a.join(b, a("k") === b("k") + 1).select(a("v"), b("v")))
    val (a, b) = (LakeReader.read(spark, path), LakeReader.read(spark, path))
    pairs(a, b) shouldBe pairs(spark.read.parquet(path), spark.read.parquet(path))
    pairs(a, b) shouldBe Seq("b,a", "c,b")
  }

  test("reuse: a repeat read of an unchanged table starts no job and makes no Hadoop conf") {
    val path = s"${Files.createTempDirectory("lakereuse7")}/zone"
    LakeWriter.write(Seq((2023, "A", 1.0), (2024, "B", 2.0)).toDF("year", "ticker", "v"),
      path, Seq("year"))
    val first = LakeReader.read(spark, path)
    // Configuration registers every instance in a static weak registry;
    // the ones alive before the read are held here so that only the
    // read's own can be new
    val registry = {
      val f = classOf[org.apache.hadoop.conf.Configuration].getDeclaredField("REGISTRY")
      f.setAccessible(true)
      f.get(null).asInstanceOf[java.util.Map[AnyRef, AnyRef]]
    }
    def live(): java.util.Set[AnyRef] = classOf[org.apache.hadoop.conf.Configuration].synchronized {
      val s = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
      s.addAll(registry.keySet)
      s
    }
    val before = live()
    val again = LakeReader.read(spark, path)
    val made = live().asScala.count(c => !before.contains(c))
    made shouldBe 0
    def relation(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.get
    assert(relation(again) eq relation(first))
    // the key is the normalised path: a trailing slash names the same table
    assert(relation(LakeReader.read(spark, s"$path/")) eq relation(first))
    jobsStartedBy(LakeReader.read(spark, path)) shouldBe empty
    sortedRows(again) shouldBe sortedRows(first)
  }
}

/** The local file system under another scheme, which only a session
  * that sets `fs.lakealias.impl` can resolve. */
class AliasLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "lakealias"
  override def getUri: java.net.URI = java.net.URI.create("lakealias:///")
}
