package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VersionedLakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() = Files.createTempDirectory("vlake").toString + "/t"

  /** Distinct owning commits in the latest manifest: the read
    * amplification `VersionedLake.compact` collapses (one parquet scan
    * per owner in `VersionedLake.read`). */
  private def ownerSpread(root: String): Int =
    VersionedLake.readManifest(spark, root, VersionedLake.latestVersion(spark, root).get)
      .values.toSet.size

  test("commit / time travel: v1 stays readable after v2 rewrites one partition") {
    val root = freshRoot()
    val v1data = Seq((1L, "p0", 10.0), (2L, "p0", 20.0), (3L, "p1", 30.0))
      .toDF("k", "part", "v")
    VersionedLake.commit(v1data, root, Seq("part")) shouldBe 1
    // v2 rewrites ONLY p0; p1's files carry over untouched
    val v2batch = Seq((1L, "p0", 11.0), (9L, "p0", 99.0)).toDF("k", "part", "v")
    VersionedLake.commit(v2batch, root, Seq("part")) shouldBe 2
    VersionedLake.versions(spark, root) shouldBe Seq(1, 2)
    // copy-on-write: the v2 manifest points p1 at commit 1's files
    VersionedLake.readManifest(spark, root, 2) shouldBe
      Map("part=p0" -> 2, "part=p1" -> 1)
    VersionedLake.read(spark, root, Some(1)).orderBy("k")
      .select("k", "part", "v").rows shouldBe v1data.orderBy("k").rows
    VersionedLake.read(spark, root).orderBy("k")
      .select("k", "part", "v").rows shouldBe Seq(
      Seq(1L, "p0", 11.0), Seq(3L, "p1", 30.0), Seq(9L, "p0", 99.0))
  }

  test("commit: a near-unique partition column trips maxPartitions loudly, never an unbounded collect") {
    val root = freshRoot()
    // partitioning on k itself: every row is its own partition — the
    // mis-partitioned-table shape the guard exists for
    val runaway = (1L to 6L).map(i => (i, s"p$i")).toDF("k", "part")
    val err = intercept[IllegalArgumentException] {
      VersionedLake.commit(runaway, root, Seq("part"), maxPartitions = 5)
    }
    err.getMessage should include("more than 5 distinct partitions")
    // nothing committed: no manifest appeared
    VersionedLake.versions(spark, root) shouldBe empty
    // a deliberate raise admits the same batch
    VersionedLake.commit(runaway, root, Seq("part"), maxPartitions = 6) shouldBe 1
  }

  test("compact: owner spread collapses to 1, rows identical, vacuum reclaims old dirs") {
    val root = freshRoot()
    VersionedLake.commit(Seq((1L, "a", 1.0)).toDF("k", "part", "v"), root, Seq("part"))
    VersionedLake.commit(Seq((2L, "b", 2.0)).toDF("k", "part", "v"), root, Seq("part"))
    VersionedLake.commit(Seq((3L, "c", 3.0)).toDF("k", "part", "v"), root, Seq("part"))
    ownerSpread(root) shouldBe 3
    val before = VersionedLake.read(spark, root).orderBy("k")
      .select("k", "part", "v").rows
    val cv = VersionedLake.compact(spark, root)
    cv shouldBe 4
    ownerSpread(root) shouldBe 1
    VersionedLake.read(spark, root).orderBy("k")
      .select("k", "part", "v").rows shouldBe before
    // retiring the pre-compaction manifests frees every old commit dir
    val removed = VersionedLake.vacuum(spark, root, keepVersions = Some(Seq(cv)))
    removed.size shouldBe 3
    VersionedLake.read(spark, root).orderBy("k")
      .select("k", "part", "v").rows shouldBe before
  }

  test("rollback commits the past manifest as a NEW version; history stays linear") {
    val root = freshRoot()
    VersionedLake.commit(Seq((1L, "a")).toDF("k", "part"), root, Seq("part"))
    VersionedLake.commit(Seq((2L, "a")).toDF("k", "part"), root, Seq("part"))
    VersionedLake.rollback(spark, root, toVersion = 1) shouldBe 3
    VersionedLake.read(spark, root).select("k").rows shouldBe Seq(Seq(1L))
    // the rolled-over version is still inspectable
    VersionedLake.read(spark, root, Some(2)).select("k").rows shouldBe Seq(Seq(2L))
  }

  test("commitUpsert: merges only the delta's partitions; migration-prone keys rejected") {
    val root = freshRoot()
    VersionedLake.commit(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("k", "part", "v"), root, Seq("part"))
    // delta touches ONLY partition a: replaces k=1, inserts k=9, and
    // its own duplicate k=9 collapses to the max-tiebreak row
    val delta = Seq((1L, "a", 11.0), (9L, "a", 90.0), (9L, "a", 91.0))
      .toDF("k", "part", "v")
    VersionedLake.commitUpsert(delta,
      root, Seq("part"), keys = Seq("part", "k"), tiebreak = "v")
    // partition b untouched — still owned by commit 1 (file sharing)
    VersionedLake.readManifest(spark, root, 2) shouldBe
      Map("part=a" -> 2, "part=b" -> 1)
    VersionedLake.read(spark, root).select("k", "part", "v").orderBy("k")
      .rows shouldBe Seq(Seq(1L, "a", 11.0), Seq(2L, "a", 20.0),
      Seq(3L, "b", 30.0), Seq(9L, "a", 91.0))
    // keys that do not pin the partition would strand stale copies
    an[IllegalArgumentException] should be thrownBy
      VersionedLake.commitUpsert(delta,
        root, Seq("part"), keys = Seq("k"), tiebreak = "v")
    // first-commit path: upsert onto an empty table = dedup of the delta
    val root2 = freshRoot()
    VersionedLake.commitUpsert(delta,
      root2, Seq("part"), keys = Seq("part", "k"), tiebreak = "v")
    VersionedLake.read(spark, root2).select("k", "v").orderBy("k")
      .rows shouldBe Seq(Seq(1L, 11.0), Seq(9L, 91.0))
  }

  test("schema evolution: additive column nulls old commits; strict mode fails loudly") {
    val root = freshRoot()
    VersionedLake.commit(Seq((1L, "a")).toDF("k", "part"), root, Seq("part"))
    VersionedLake.commit(Seq((2L, "b", 7.5)).toDF("k", "part", "extra"),
      root, Seq("part"))
    val evolved = VersionedLake.read(spark, root, evolveSchema = true)
      .select("k", "part", "extra").orderBy("k")
    evolved.rows shouldBe Seq(Seq(1L, "a", null), Seq(2L, "b", 7.5))
    an[Exception] should be thrownBy
      VersionedLake.read(spark, root).collect() // strict: drift is an error
  }

  test("vacuum sweeps unreferenced commit dirs, keeps shared ones; guards fire") {
    val root = freshRoot()
    VersionedLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "part"), root, Seq("part"))
    VersionedLake.commit(Seq((3L, "a")).toDF("k", "part"), root, Seq("part"))
    // simulate a crashed commit: data landed, manifest never renamed
    Seq((9L, "z")).toDF("k", "part").write.partitionBy("part")
      .parquet(s"$root/data/v99")
    val removed = VersionedLake.vacuum(spark, root)
    removed.map(_.split('/').last) shouldBe Seq("v99")
    // retention to the LATEST manifest only: v1 still owns part=b there,
    // so its directory must survive
    VersionedLake.vacuum(spark, root, keepVersions = Some(Seq(2))) shouldBe Seq.empty
    VersionedLake.read(spark, root).orderBy("k").select("k").rows shouldBe
      Seq(Seq(2L), Seq(3L))
    // guards
    an[IllegalArgumentException] should be thrownBy VersionedLake.commit(
      Seq((Some(1L), Option.empty[String])).toDF("k", "part"), root, Seq("part"))
    an[IllegalArgumentException] should be thrownBy VersionedLake.commit(
      Seq((1L, "a")).toDF("k", "part").filter(lit(false)), root, Seq("part"))
    an[IllegalArgumentException] should be thrownBy
      VersionedLake.read(spark, root, Some(42))
  }
}
