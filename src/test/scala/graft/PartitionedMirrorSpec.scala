package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.plans.{Maintenance, PartitionedMirror}
import graft.sources.Tables.Warehouse

/** The partition-pruned mirror merge must (a) produce exactly the same
  * state as the flat merge, (b) physically leave untouched buckets alone,
  * and (c) keep deletes as tombstones (blocking older updates) until
  * tombstone GC empties and removes the bucket directory.
  */
class PartitionedMirrorSpec extends SparkTestBase {

  private val cfg = CdcConfig("id", "ts")
  private val N = 8

  private def changes(rows: (Long, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "op", "ts")
  }

  private def state(wh: Warehouse, name: String): Set[(Long, String)] =
    PartitionedMirror.read(spark, wh, name)
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("partitioned merge == flat merge; untouched bucket files are not rewritten") {
    val wh = Warehouse(tmpDir("pmirror"))
    val initial = changes(
      (1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (3L, "c", "I", "t1"),
      (4L, "d", "I", "t1"), (5L, "e", "I", "t1"), (6L, "f", "I", "t1"))
    PartitionedMirror.initialize(wh, "m", Cdc.fold(initial, cfg), cfg, N)

    // snapshot per-bucket file listings before the batch
    import scala.jdk.CollectionConverters._
    def bucketFiles: Map[String, Set[String]] =
      Files.list(Paths.get(wh.tablePath("m"))).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(PartitionedMirror.BucketCol))
        .map(p => p.getFileName.toString ->
          Files.list(p).iterator().asScala.map(_.getFileName.toString).toSet)
        .toMap
    val before = bucketFiles

    // one batch: update id=1, delete id=2. Dynamic overwrite rides a
    // per-write option: the session conf stays exactly as the caller set
    // it — static here, so were the option ignored the write would wipe
    // every untouched bucket and the checks below would fail
    val batch = changes((1L, "a2", "U", "t2"), (2L, "b", "D", "t2"))
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val callerMode = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "STATIC")
    try {
      PartitionedMirror.applyBatch(spark, wh, "m", batch, cfg, N)
      assert(spark.conf.get(modeKey) == "STATIC",
        "applyBatch must not touch the session's partitionOverwriteMode")
    } finally callerMode.fold(spark.conf.unset(modeKey))(spark.conf.set(modeKey, _))

    // equivalence with the flat merge over the same history (visible state)
    val flat = Cdc.currentState(Cdc.applyBatch(Cdc.fold(initial, cfg), batch, cfg))
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state(wh, "m") == flat)

    // untouched buckets: identical file sets
    val after = bucketFiles
    val touched = Set(1L, 2L).map(id =>
      s"${PartitionedMirror.BucketCol}=" + batch.sparkSession.range(1).select(
        pmod(hash(lit(id)), lit(N))).collect()(0).getInt(0))
    before.foreach { case (bucket, files) =>
      if (!touched.contains(bucket))
        assert(after(bucket) == files, s"untouched $bucket was rewritten")
    }
  }

  test("OBJECT-STORE partitioned merge: the rename-free per-bucket replace keeps the contract (state exact, untouched buckets byte-identical, replay idempotent)") {
    val wh = Warehouse(tmpDir("pmirror-os"), retain = 2,
      io = graft.sources.ObjectStoreIO)
    val initial = changes(
      (1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (3L, "c", "I", "t1"),
      (4L, "d", "I", "t1"), (5L, "e", "I", "t1"), (6L, "f", "I", "t1"))
    PartitionedMirror.initialize(wh, "m", Cdc.fold(initial, cfg), cfg, N)
    import scala.jdk.CollectionConverters._
    def bucketFiles: Map[String, Set[String]] =
      Files.list(Paths.get(wh.tablePath("m"))).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(PartitionedMirror.BucketCol))
        .map(p => p.getFileName.toString ->
          Files.list(p).iterator().asScala.map(_.getFileName.toString).toSet)
        .toMap
    val before = bucketFiles
    val batch = changes((1L, "a2", "U", "t2"), (2L, "b", "D", "t2"))
    PartitionedMirror.applyBatch(spark, wh, "m", batch, cfg, N)
    val flat = Cdc.currentState(Cdc.applyBatch(Cdc.fold(initial, cfg), batch, cfg))
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state(wh, "m") == flat)
    val touched = Set(1L, 2L).map(id =>
      s"${PartitionedMirror.BucketCol}=" + batch.sparkSession.range(1).select(
        pmod(hash(lit(id)), lit(N))).collect()(0).getInt(0))
    before.foreach { case (bucket, files) =>
      if (!touched.contains(bucket))
        assert(bucketFiles(bucket) == files, s"untouched $bucket was rewritten")
    }
    // replay of the same batch converges (latest-wins re-merge)
    PartitionedMirror.applyBatch(spark, wh, "m", batch, cfg, N)
    assert(state(wh, "m") == flat)
    // no staging debris
    val root = Paths.get(wh.tablePath("m")).getParent
    val s = Files.list(root)
    val debris =
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.contains("epochstage")).toSeq
      finally s.close()
    assert(debris.isEmpty, debris.toString)
  }

  test("partial bucket overwrite + replay converges (dynamic overwrite is per-bucket, not atomic)") {
    import scala.jdk.CollectionConverters._
    val wh = Warehouse(tmpDir("pmirror-crash"))
    val initial = changes(
      (1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (3L, "c", "I", "t1"))
    PartitionedMirror.initialize(wh, "mc", Cdc.fold(initial, cfg), cfg, N)
    val batch = changes((1L, "a2", "U", "t2"), (2L, "b2", "U", "t2"))
    // bucket dir of key 1 — we will roll exactly this one back, simulating
    // a crash that committed some touched buckets' overwrites but not all
    val b1 = s"${PartitionedMirror.BucketCol}=" + spark.range(1)
      .select(pmod(hash(lit(1L)), lit(N))).collect()(0).getInt(0)
    val b1Dir = Paths.get(wh.tablePath("mc"), b1)
    val saved = Files.createTempDirectory("bucket-save")
    Files.list(b1Dir).iterator().asScala.foreach(f =>
      Files.copy(f, saved.resolve(f.getFileName.toString)))

    PartitionedMirror.applyBatch(spark, wh, "mc", batch, cfg, N)
    val want = state(wh, "mc")
    assert(want == Set((1L, "a2"), (2L, "b2"), (3L, "c")))

    // crash simulation: key 1's bucket reverts to its pre-batch files (its
    // overwrite "never happened"); key 2's bucket kept the new content
    Files.list(b1Dir).iterator().asScala.foreach(Files.delete)
    Files.list(saved).iterator().asScala.foreach(f =>
      Files.copy(f, b1Dir.resolve(f.getFileName.toString)))
    assert(state(wh, "mc") == Set((1L, "a"), (2L, "b2"), (3L, "c")),
      "half-applied batch visible before replay (the at-least-once window)")

    // foreachBatch replays the SAME batch after the crash: latest-wins
    // re-merge must converge both buckets — including the already-updated
    // one — to the exact post-batch state
    PartitionedMirror.applyBatch(spark, wh, "mc", batch, cfg, N)
    assert(state(wh, "mc") == want, "replay must converge the partial write")
    // and a further replay is a no-op (idempotent)
    PartitionedMirror.applyBatch(spark, wh, "mc", batch, cfg, N)
    assert(state(wh, "mc") == want)
  }

  test("delete leaves a tombstone (late update loses); tombstone GC then empties the bucket") {
    val wh = Warehouse(tmpDir("pmirror-del"))
    val initial = changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1"))
    PartitionedMirror.initialize(wh, "m", Cdc.fold(initial, cfg), cfg, N)
    PartitionedMirror.applyBatch(spark, wh, "m", changes((1L, "a", "D", "t3")), cfg, N)
    assert(state(wh, "m") == Set((2L, "b")))
    // out-of-order batch older than the delete must NOT resurrect the key
    PartitionedMirror.applyBatch(spark, wh, "m", changes((1L, "zombie", "U", "t2")), cfg, N)
    assert(state(wh, "m") == Set((2L, "b")), "tombstone must block older updates")
    // after the lateness horizon passes, GC drops the tombstone + its dir
    Maintenance.expireTombstones(spark, wh, "m", cfg, horizon = "t9")
    assert(state(wh, "m") == Set((2L, "b")))
    val b1 = spark.range(1).select(pmod(hash(lit(1L)), lit(N))).collect()(0).getInt(0)
    val b2 = spark.range(1).select(pmod(hash(lit(2L)), lit(N))).collect()(0).getInt(0)
    if (b1 != b2)
      assert(!Files.exists(Paths.get(wh.tablePath("m"), s"${PartitionedMirror.BucketCol}=$b1")),
        "expired bucket dir must be dropped")
  }

  test("stored bucket count wins over a drifted parameter (no duplicate keys)") {
    val wh = Warehouse(tmpDir("pmirror-drift"))
    val initial = changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1"),
      (3L, "c", "I", "t1"), (4L, "d", "I", "t1"))
    PartitionedMirror.initialize(wh, "md", Cdc.fold(initial, cfg), cfg, N)
    assert(PartitionedMirror.storedBuckets(wh, "md").contains(N))
    // config drift: a later run passes a DIFFERENT modulus; the stored
    // layout's count must be used, else updated keys land in fresh buckets
    // while their old rows survive in the original ones
    PartitionedMirror.applyBatch(spark, wh, "md",
      changes((1L, "a2", "U", "t2"), (4L, "d2", "U", "t2")), cfg, nBuckets = N * 4)
    val rows = PartitionedMirror.read(spark, wh, "md")
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == rows.map(_._1).distinct.length,
      s"duplicate keys after modulus drift: ${rows.sorted.toSeq}")
    assert(rows.toSet == Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d2")))
  }

  test("mirror scan with a key predicate prunes partitions") {
    val wh = Warehouse(tmpDir("pmirror-prune"))
    val initial = changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (3L, "c", "I", "t1"))
    PartitionedMirror.initialize(wh, "m", Cdc.fold(initial, cfg), cfg, N)
    val b = spark.range(1).select(pmod(hash(lit(2L)), lit(N))).collect()(0).getInt(0)
    val scan = spark.read.parquet(wh.tablePath("m"))
      .filter(col(PartitionedMirror.BucketCol) === b)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(PartitionedMirror.BucketCol),
      s"expected partition pruning in:\n$plan")
  }

  test("compacting a partitioned mirror preserves the bucket layout") {
    val wh = Warehouse(tmpDir("compact-pmirror"))
    val initial = changes(
      (1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (3L, "c", "I", "t1"),
      (4L, "d", "I", "t1"), (5L, "e", "I", "t1"))
    PartitionedMirror.initialize(wh, "m", Cdc.fold(initial, cfg), cfg, N)
    // several merge batches -> multiple small files per touched bucket
    PartitionedMirror.applyBatch(spark, wh, "m", changes((1L, "a2", "U", "t2")), cfg, N)
    PartitionedMirror.applyBatch(spark, wh, "m", changes((2L, "b2", "U", "t3")), cfg, N)
    val expected = state(wh, "m")

    import scala.jdk.CollectionConverters._
    def bucketDirs: Set[String] =
      Files.list(Paths.get(wh.tablePath("m"))).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith(s"${PartitionedMirror.BucketCol}=")).toSet
    val before = bucketDirs
    assert(before.nonEmpty)

    Maintenance.compact(spark, wh, "m", targetFiles = 1)

    assert(bucketDirs == before, "compaction must not flatten the bucket layout")
    assert(state(wh, "m") == expected)
    // the layout must remain merge-able and partition-pruned after compaction
    PartitionedMirror.applyBatch(spark, wh, "m", changes((3L, "c2", "U", "t4")), cfg, N)
    assert(state(wh, "m") == expected - ((3L, "c")) + ((3L, "c2")))
    val plan = spark.read.parquet(wh.tablePath("m"))
      .filter(col(PartitionedMirror.BucketCol) === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(PartitionedMirror.BucketCol))
  }

  test("compaction bounds file count and preserves data") {
    val wh = Warehouse(tmpDir("compact"))
    import spark.implicits._
    (1 to 5).foreach { i =>
      wh.append(Seq((i.toLong, s"n$i")).toDF("id", "name").repartition(3), "t")
    }
    val before = Maintenance.dataFiles(spark, wh, "t").size
    assert(before >= 5, s"expected many small files, got $before")
    val data = spark.read.parquet(wh.tablePath("t")).collect().toSet
    Maintenance.compact(spark, wh, "t", targetFiles = 1)
    assert(Maintenance.dataFiles(spark, wh, "t").size == 1)
    assert(spark.read.parquet(wh.tablePath("t")).collect().toSet == data)
  }
}
