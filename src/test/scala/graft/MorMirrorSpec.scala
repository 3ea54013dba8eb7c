package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.plans.{MorMirror, PartitionedMirror}
import graft.sources.Tables.Warehouse

/** The merge-on-read mirror must (a) reproduce the COW merge exactly on the
  * same changelog, (b) write O(delta) per batch — the base is physically
  * untouched by an append, (c) keep the T2 tombstone/late-data semantics
  * across delta batches, and (d) survive compaction (including a crash
  * between the base swap and the delta GC) read-equivalent.
  */
class MorMirrorSpec extends SparkTestBase {

  private val cfg = CdcConfig("id", "ts")
  private val N = 8

  private def changes(rows: (Long, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "op", "ts")
  }

  private def state(wh: Warehouse, name: String): Set[(Long, String)] =
    MorMirror.read(spark, wh, name)
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("MOR state == sequential COW state on the same multi-batch changelog") {
    val wh = Warehouse(tmpDir("mor-eq"))
    val initial = changes(
      (1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (3L, "c", "I", "t1"),
      (4L, "d", "I", "t1"), (5L, "e", "I", "t1"))
    val b1 = changes((1L, "a2", "U", "t2"), (2L, "b", "D", "t2"), (6L, "f", "I", "t2"))
    val b2 = changes((3L, "c2", "U", "t3"), (6L, "f2", "U", "t3"))
    // out-of-order batch: older ts than already-applied changes (T2)
    val b3 = changes((1L, "zombie", "U", "t0"), (4L, "d2", "U", "t4"))

    MorMirror.initialize(wh, "m", Cdc.fold(initial, cfg), cfg, N)
    MorMirror.appendDelta(wh, "m", b1, batchId = 1)
    MorMirror.appendDelta(wh, "m", b2, batchId = 2)
    MorMirror.appendDelta(wh, "m", b3, batchId = 3)

    val cow = Seq(b1, b2, b3).foldLeft(Cdc.fold(initial, cfg)) {
      (m, b) => Cdc.applyBatch(m, b, cfg)
    }
    val cowState = Cdc.currentState(cow)
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state(wh, "m") == cowState)
    assert(state(wh, "m") == Set(
      (1L, "a2"), (3L, "c2"), (4L, "d2"), (5L, "e"), (6L, "f2")))
  }

  test("equal-ts cross-batch tie resolves to the later batch (COW incoming-wins rule)") {
    val wh = Warehouse(tmpDir("mor-tie"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "seed", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m", changes((1L, "x", "U", "t5")), batchId = 1)
    MorMirror.appendDelta(wh, "m", changes((1L, "y", "U", "t5")), batchId = 2)
    assert(state(wh, "m") == Set((1L, "y")),
      "later batch must win an exact-ts tie, matching sequential COW")
  }

  test("appendDelta is O(delta): base files are physically untouched") {
    val wh = Warehouse(tmpDir("mor-odelta"))
    val initial = changes(
      (1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (3L, "c", "I", "t1"),
      (4L, "d", "I", "t1"), (5L, "e", "I", "t1"), (6L, "f", "I", "t1"),
      (7L, "g", "I", "t1"), (8L, "h", "I", "t1"))
    MorMirror.initialize(wh, "m", Cdc.fold(initial, cfg), cfg, N)
    val (baseBefore, deltasBefore) = MorMirror.fileCensus(wh, "m")
    assert(deltasBefore.isEmpty)

    // a batch spreading across MANY buckets — the COW worst case that
    // degrades to O(mirror); MOR must still not touch the base
    MorMirror.appendDelta(wh, "m",
      changes((1L, "a2", "U", "t2"), (3L, "c2", "U", "t2"), (5L, "e2", "U", "t2"),
        (7L, "g2", "U", "t2"), (8L, "h", "D", "t2")), batchId = 1)

    val (baseAfter, deltasAfter) = MorMirror.fileCensus(wh, "m")
    assert(baseAfter == baseBefore, "append must not rewrite any base file")
    assert(deltasAfter.nonEmpty && deltasAfter.forall(_.contains("batch_1")))
    assert(state(wh, "m") == Set(
      (1L, "a2"), (2L, "b"), (3L, "c2"), (4L, "d"), (5L, "e2"),
      (6L, "f"), (7L, "g2")))
  }

  test("at-least-once replay of a delta batch is idempotent") {
    val wh = Warehouse(tmpDir("mor-replay"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg), cfg, N)
    val batch = changes((1L, "a2", "U", "t2"), (2L, "b", "D", "t2"))
    MorMirror.appendDelta(wh, "m", batch, batchId = 1)
    val want = state(wh, "m")
    assert(want == Set((1L, "a2")))
    MorMirror.appendDelta(wh, "m", batch, batchId = 1) // foreachBatch rerun
    assert(state(wh, "m") == want)
    val (_, deltaFiles) = MorMirror.fileCensus(wh, "m")
    assert(deltaFiles.forall(_.contains("batch_1")), "replay must not add a second delta")
  }

  test("delta tombstone is a seq-scoped equality delete: hides base row, loses to nothing older") {
    val wh = Warehouse(tmpDir("mor-tomb"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m", changes((1L, "a", "D", "t3")), batchId = 1)
    assert(state(wh, "m") == Set((2L, "b")))
    // an out-of-order LATER batch with an OLDER ts must not resurrect the
    // key — the tombstone's (ts, seq) ordering scopes it exactly like an
    // Iceberg sequence-number-scoped delete file
    MorMirror.appendDelta(wh, "m", changes((1L, "zombie", "U", "t2")), batchId = 2)
    assert(state(wh, "m") == Set((2L, "b")), "tombstone must block older updates")
    // but a genuinely newer change re-inserts
    MorMirror.appendDelta(wh, "m", changes((1L, "reborn", "I", "t4")), batchId = 3)
    assert(state(wh, "m") == Set((1L, "reborn"), (2L, "b")))
  }

  test("compaction folds deltas into a new base version, read-equivalent, and keeps pruning") {
    val wh = Warehouse(tmpDir("mor-compact"))
    val initial = changes(
      (1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (3L, "c", "I", "t1"),
      (4L, "d", "I", "t1"))
    MorMirror.initialize(wh, "m", Cdc.fold(initial, cfg), cfg, N)
    MorMirror.appendDelta(wh, "m",
      changes((1L, "a2", "U", "t2"), (2L, "b", "D", "t2")), batchId = 1)
    MorMirror.appendDelta(wh, "m", changes((3L, "c2", "U", "t3")), batchId = 2)
    val want = state(wh, "m")
    assert(want == Set((1L, "a2"), (3L, "c2"), (4L, "d")))

    val nested = Warehouse(wh.tablePath("m"))
    val vBefore = nested.currentVersion("base")
    MorMirror.compact(spark, wh, "m")
    assert(nested.currentVersion("base").exists(v => vBefore.forall(_ < v)),
      "compaction must publish a NEW base version (atomic swap)")
    val (_, deltaFiles) = MorMirror.fileCensus(wh, "m")
    assert(deltaFiles.isEmpty, "folded deltas must be GC'd")
    assert(state(wh, "m") == want, "read-equivalence must survive the fold")

    // the compacted base keeps the bucket layout partition-pruned
    val plan = spark.read.parquet(nested.snapshotPath("base"))
      .filter(col(PartitionedMirror.BucketCol) === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(PartitionedMirror.BucketCol))

    // and the table keeps accepting deltas after the fold
    MorMirror.appendDelta(wh, "m", changes((4L, "d2", "U", "t4")), batchId = 3)
    assert(state(wh, "m") == want - ((4L, "d")) + ((4L, "d2")))
    // tombstone GC'd by the fold? No: the t2 delete is retained in base —
    // a late update older than it must STILL lose after compaction
    MorMirror.appendDelta(wh, "m", changes((2L, "zombie", "U", "t1")), batchId = 4)
    assert(state(wh, "m") == want - ((4L, "d")) + ((4L, "d2")),
      "compaction must not drop tombstones (T2 across the fold)")
  }

  test("crash between base swap and previous-generation GC is benign (fold horizon excludes)") {
    val wh = Warehouse(tmpDir("mor-crash"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m",
      changes((1L, "a2", "U", "t2"), (2L, "b", "D", "t2")), batchId = 1)
    MorMirror.compact(spark, wh, "m") // horizon 1; batch_1 retained a generation
    val want = state(wh, "m")
    assert(want == Set((1L, "a2")))

    // save batch_1 (previous generation), run the second cycle, then
    // restore it — exactly the state a crash after the base swap but
    // before the previous-generation GC leaves behind
    val deltaDir = Paths.get(wh.tablePath("m"), "deltas", "batch_1")
    val saved = Files.createTempDirectory("mor-delta-save")
    Files.list(deltaDir).iterator().asScala.foreach { f =>
      if (Files.isRegularFile(f))
        Files.copy(f, saved.resolve(f.getFileName.toString))
    }
    MorMirror.appendDelta(wh, "m", changes((3L, "c", "I", "t3")), batchId = 2)
    MorMirror.compact(spark, wh, "m") // horizon 2; batch_1 GC'd
    assert(!Files.exists(deltaDir))
    Files.createDirectories(deltaDir)
    Files.list(saved).iterator().asScala.foreach(f =>
      Files.copy(f, deltaDir.resolve(f.getFileName.toString)))

    // the fold horizon (swapped atomically with the base) excludes BOTH
    // retained generations — the resurrected dir changes nothing
    val want2 = want + ((3L, "c"))
    assert(state(wh, "m") == want2,
      "stale folded deltas below the horizon must be invisible to reads")
    assert(MorMirror.pendingDeltas(wh, "m") == 0)
    // the next full cycle sweeps the leftovers
    MorMirror.appendDelta(wh, "m", changes((3L, "c2", "U", "t4")), batchId = 3)
    MorMirror.compact(spark, wh, "m")
    assert(!Files.exists(deltaDir), "leftover generations must be swept")
    assert(state(wh, "m") == want2 - ((3L, "c")) + ((3L, "c2")))
  }

  test("in-flight reader survives compaction: folded deltas retained one generation") {
    val wh = Warehouse(tmpDir("mor-snap"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m",
      changes((1L, "a2", "U", "t2"), (3L, "c", "I", "t2")), batchId = 1)
    // reader opens BEFORE compaction: its plan pins the old base version
    // and the live delta files
    val reader = MorMirror.read(spark, wh, "m")
    val want = Set((1L, "a2"), (2L, "b"), (3L, "c"))

    MorMirror.compact(spark, wh, "m")
    // post-compaction: new readers see the folded base, zero live deltas
    assert(MorMirror.pendingDeltas(wh, "m") == 0)
    assert(state(wh, "m") == want)
    // the folded delta PHYSICALLY survives one generation for the pinned
    // reader, which must still produce the pre-compaction answer
    assert(Files.isDirectory(Paths.get(wh.tablePath("m"), "deltas", "batch_1")),
      "folded delta must be retained one compaction generation")
    assert(reader.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == want,
      "a reader opened before compaction must keep its snapshot")

    // the NEXT compaction GCs the previous generation
    MorMirror.appendDelta(wh, "m", changes((2L, "b2", "U", "t3")), batchId = 2)
    MorMirror.compact(spark, wh, "m")
    assert(!Files.exists(Paths.get(wh.tablePath("m"), "deltas", "batch_1")),
      "previous generation must be GC'd by the next compaction")
    assert(state(wh, "m") == want - ((2L, "b")) + ((2L, "b2")))
  }

  test("changesSince: the delta files ARE the incremental feed (cursor-gated, fold-exact)") {
    val wh = Warehouse(tmpDir("mor-feed"))
    val seed = Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg)
      .localCheckpoint(true)
    MorMirror.initialize(wh, "m", seed, cfg, N)
    MorMirror.appendDelta(wh, "m",
      changes((1L, "a2", "U", "t2"), (2L, "b", "D", "t2")), batchId = 1)
    MorMirror.appendDelta(wh, "m", changes((3L, "c", "I", "t3")), batchId = 2)

    val (d, cursor) = MorMirror.changesSince(spark, wh, "m", sinceBatch = -1L)
    assert(cursor == 2L)
    // the served changes applied to the consumer's base state reproduce
    // the mirror exactly — the feed is the changelog, not a report
    val replayed = Cdc.currentState(Cdc.applyBatch(seed, d.get, cfg))
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replayed == state(wh, "m"))
    // cursor-gated: nothing new -> None; a later batch serves alone
    assert(MorMirror.changesSince(spark, wh, "m", cursor)._1.isEmpty)
    MorMirror.appendDelta(wh, "m", changes((4L, "d", "I", "t4")), batchId = 3)
    val (d3, c3) = MorMirror.changesSince(spark, wh, "m", cursor)
    assert(c3 == 3L)
    assert(d3.get.select("id").collect().map(_.getLong(0)).toSet == Set(4L),
      "only batches above the cursor may be served")

    // a cursor behind the fold horizon fails LOUDLY — serving only the
    // live tail would silently corrupt the consumer's incremental state
    MorMirror.compact(spark, wh, "m")
    val e = intercept[NoSuchElementException] {
      MorMirror.changesSince(spark, wh, "m", sinceBatch = 1L)
    }
    assert(e.getMessage.contains("fold horizon"))
    // an up-to-date cursor keeps working across the compaction
    assert(MorMirror.changesSince(spark, wh, "m", c3)._1.isEmpty)
  }

  test("re-initialize is a reseed: stale deltas cannot resurrect; stale ids and cursors fail loudly") {
    val wh = Warehouse(tmpDir("mor-reseed"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m", changes((2L, "stale", "I", "t2")), batchId = 1)
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "fresh", "I", "t9")), cfg), cfg, N)
    assert(state(wh, "m") == Set((1L, "fresh")),
      "pre-reseed deltas must not merge over the new seed")
    assert(MorMirror.pendingDeltas(wh, "m") == 0)
    // the reseed stamped its fold horizon at the stale ids, so (a) a
    // pre-reseed consumer cursor fails loudly instead of silently
    // skipping the new incarnation's batches, and (b) a caller reusing
    // an old batch id fails loudly instead of committing an invisible
    // delta — both guards from the round-10 review
    val e1 = intercept[NoSuchElementException] {
      MorMirror.changesSince(spark, wh, "m", sinceBatch = 0L)
    }
    assert(e1.getMessage.contains("fold horizon"))
    val e2 = intercept[IllegalArgumentException] {
      MorMirror.appendDelta(wh, "m", changes((3L, "x", "I", "t10")), batchId = 1)
    }
    assert(e2.getMessage.contains("invisible to reads"))
    // ids above the horizon proceed normally
    MorMirror.appendDelta(wh, "m", changes((3L, "c", "I", "t10")), batchId = 2)
    assert(state(wh, "m") == Set((1L, "fresh"), (3L, "c")))
  }

  test("Maintenance.compact on a MOR table delegates to the delta fold (layout preserved)") {
    val wh = Warehouse(tmpDir("mor-maint"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m", changes((1L, "a2", "U", "t2")), batchId = 1)
    val want = state(wh, "m")
    graft.plans.Maintenance.compact(spark, wh, "m", targetFiles = 1)
    assert(MorMirror.storedConfig(wh, "m").isDefined, "layout must survive")
    assert(MorMirror.pendingDeltas(wh, "m") == 0, "the delegate must fold the deltas")
    assert(state(wh, "m") == want)
  }

  test("replay of the batch that triggered an inline compaction no-ops (no wedge)") {
    val wh = Warehouse(tmpDir("mor-wedge"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1")), cfg), cfg, N)
    val batch = changes((2L, "b", "I", "t2"))
    MorMirror.appendDelta(wh, "m", batch, batchId = 1)
    MorMirror.compact(spark, wh, "m") // horizon = 1; crash before the
    val want = state(wh, "m")         // streaming checkpoint commits here
    // the restart replays batch 1 with the same id: the data is provably
    // in the base fold, so this must be a silent no-op — throwing would
    // wedge the stream on every restart (round-10 ADVICE, medium)
    MorMirror.appendDelta(wh, "m", batch, batchId = 1)
    assert(state(wh, "m") == want)
    assert(MorMirror.pendingDeltas(wh, "m") == 0,
      "a replayed folded batch must not commit a new live delta")
    // but a DIFFERENT id at/below the horizon is still loud: that shape is
    // a reset checkpoint lineage, not a replay
    val e = intercept[IllegalArgumentException] {
      MorMirror.appendDelta(wh, "m", changes((3L, "x", "I", "t3")), batchId = 0)
    }
    assert(e.getMessage.contains("invisible to reads"))
  }

  test("flat->MOR migration is staged: old mirror survives every crash window") {
    val wh = Warehouse(tmpDir("mor-migrate"))
    // versioned FLAT mirror — the LOAD-bootstrap shape CdcStream migrates
    val flat = Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg)
      .localCheckpoint(true)
    wh.overwrite(flat, "m")
    assert(Files.isSymbolicLink(Paths.get(wh.tablePath("m"))))
    // crash mid-staging: an INCOMPLETE stage is junk; old table intact
    val stage = Paths.get(wh.tablePath("m") + ".morstage")
    Files.createDirectories(stage)
    Files.writeString(stage.resolve("partial.parquet"), "junk")
    assert(!MorMirror.recoverMigration(wh, "m"))
    assert(!Files.exists(stage), "incomplete stage must be swept")
    assert(Files.isSymbolicLink(Paths.get(wh.tablePath("m"))),
      "old flat table must be untouched by an incomplete stage")
    // the real migration: merged state (old + batch) through initialize
    val merged = Cdc.applyBatch(flat, changes((3L, "c", "I", "t2")), cfg)
    MorMirror.initialize(wh, "m", merged, cfg, N)
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!Files.exists(stage))
    assert(!Files.isSymbolicLink(Paths.get(wh.tablePath("m"))))
    assert(wh.listVersions("m").isEmpty, "old flat version dirs must be GC'd")
    // crash between unlink and rename (the residual two-syscall window):
    // table absent, stage complete -> recovery ADOPTS instead of letting a
    // replay reseed from one batch
    val tableP = Paths.get(wh.tablePath("m"))
    Files.move(tableP, stage)
    Files.writeString(stage.resolve("_stage_complete"), "")
    assert(MorMirror.recoverMigration(wh, "m"), "complete stage must be adopted")
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(MorMirror.storedConfig(wh, "m").isDefined)
  }

  test("expireTombstones on MOR folds deltas, drops expired markers, keeps the layout") {
    val wh = Warehouse(tmpDir("mor-expire"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m",
      changes((1L, "a", "D", "t2"), (3L, "c", "I", "t5")), batchId = 1)
    assert(state(wh, "m") == Set((2L, "b"), (3L, "c")))
    // horizon t4: the t2 tombstone is past max expected lateness — the
    // Maintenance entry point must DELEGATE (the naive rewrite would
    // legacy-move the whole MOR tree into a version dir, round-10 ADVICE)
    graft.plans.Maintenance.expireTombstones(spark, wh, "m", cfg, horizon = "t4")
    assert(MorMirror.storedConfig(wh, "m").isDefined, "layout must survive")
    assert(MorMirror.pendingDeltas(wh, "m") == 0)
    assert(state(wh, "m") == Set((2L, "b"), (3L, "c")))
    val stored = spark.read.option("mergeSchema", "true")
      .parquet(Warehouse(wh.tablePath("m")).snapshotPath("base"))
    assert(stored.filter(col("op") === "D").count() == 0,
      "the expired tombstone must be physically gone from the base")
    // and the table keeps accepting deltas afterwards
    MorMirror.appendDelta(wh, "m", changes((2L, "b2", "U", "t6")), batchId = 2)
    assert(state(wh, "m") == Set((2L, "b2"), (3L, "c")))
  }

  test("foldHorizon is the public bootstrap cursor for a compacted table") {
    val wh = Warehouse(tmpDir("mor-horizon"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1")), cfg), cfg, N)
    assert(MorMirror.foldHorizon(wh, "m") == -1L)
    MorMirror.appendDelta(wh, "m", changes((2L, "b", "I", "t2")), batchId = 1)
    MorMirror.appendDelta(wh, "m", changes((3L, "c", "I", "t3")), batchId = 2)
    MorMirror.compact(spark, wh, "m")
    assert(MorMirror.foldHorizon(wh, "m") == 2L)
    // the documented consumer bootstrap: read() for the initial state,
    // changesSince(foldHorizon) for everything after it
    val cur = MorMirror.foldHorizon(wh, "m")
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b"), (3L, "c")))
    MorMirror.appendDelta(wh, "m", changes((4L, "d", "I", "t4")), batchId = 3)
    val (d, c2) = MorMirror.changesSince(spark, wh, "m", cur)
    assert(c2 == 3L)
    assert(d.get.select("id").collect().map(_.getLong(0)).toSet == Set(4L))
  }

  test("stored layout config wins: appendDelta works without re-passing cfg or modulus") {
    val wh = Warehouse(tmpDir("mor-cfg"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1")), cfg), cfg, N)
    assert(MorMirror.storedConfig(wh, "m").contains((cfg, N)))
    // uninitialized table refuses appends loudly
    val e = intercept[IllegalStateException] {
      MorMirror.appendDelta(wh, "nope", changes((1L, "x", "U", "t2")), batchId = 1)
    }
    assert(e.getMessage.contains("not initialized"))
  }

  test("delta publication marker: object-store deltas publish by conditional PUT; an unmarked prefix (crashed attempt) is invisible and the replay heals it") {
    val wh = Warehouse(tmpDir("mor-osdelta"), retain = 2,
      io = graft.sources.ObjectStoreIO)
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1"), (2L, "b", "I", "t1")), cfg),
      cfg, N)
    MorMirror.appendDelta(wh, "m",
      changes((3L, "c", "I", "t2")), batchId = 1)
    val b1 = Paths.get(wh.tablePath("m"), "deltas", "batch_1")
    assert(Files.exists(b1.resolve("_delta_committed")),
      "the conditional-PUT marker IS the object-store publication")
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // simulate a CRASHED direct write: a batch_2 prefix with data
    // objects but no committed marker — every read and fold must treat
    // it as nonexistent (folding it would hide its rows forever)
    val b2 = Paths.get(wh.tablePath("m"), "deltas", "batch_2")
    import org.apache.spark.sql.functions.lit
    changes((9L, "ghost", "I", "t3"))
      .withColumn(PartitionedMirror.BucketCol, lit(0))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(b2.toString)
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "an unmarked delta prefix must be invisible")
    MorMirror.compact(spark, wh, "m")
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b"), (3L, "c")),
      "compaction must not fold an uncommitted delta")
    // the stream replays batch 2 (its checkpoint never committed): the
    // replay deletes the crashed prefix and publishes the real batch
    MorMirror.appendDelta(wh, "m",
      changes((4L, "d", "I", "t3")), batchId = 2)
    assert(Files.exists(b2.resolve("_delta_committed")))
    assert(state(wh, "m") ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(!MorMirror.read(spark, wh, "m").select("name")
      .collect().map(_.getString(0)).contains("ghost"),
      "the crashed attempt's rows must be gone after the replay")
  }

  test("delta publication marker rides the POSIX rename too: visible implies committed on both substrates") {
    val wh = Warehouse(tmpDir("mor-localdelta"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m", changes((2L, "b", "I", "t2")), batchId = 1)
    assert(Files.exists(Paths.get(wh.tablePath("m"), "deltas", "batch_1",
      "_delta_committed")))
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b")))
  }

  test("pre-marker rename-published deltas are adopted on listing, not silently hidden from folds") {
    val wh = Warehouse(tmpDir("mor-adopt"))
    MorMirror.initialize(wh, "m",
      Cdc.fold(changes((1L, "a", "I", "t1")), cfg), cfg, N)
    MorMirror.appendDelta(wh, "m", changes((2L, "b", "I", "t2")), batchId = 1)
    MorMirror.appendDelta(wh, "m", changes((3L, "c", "I", "t3")), batchId = 2)
    // simulate a warehouse written by the rename-only protocol: an OLDER
    // retained delta has no committed marker (the replay path would only
    // stamp the last in-flight batch — advice finding, round 16)
    val b1 = Paths.get(wh.tablePath("m"), "deltas", "batch_1")
    Files.delete(b1.resolve("_delta_committed"))
    // a read must adopt (re-stamp) it — rename-visible implies complete
    // under POSIX — instead of serving state with batch 1's rows missing
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Files.exists(b1.resolve("_delta_committed")),
      "the one-time adoption stamp must be durable")
    // and a compaction folds ALL three batches, not a horizon past b1
    MorMirror.compact(spark, wh, "m")
    assert(state(wh, "m") == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }
}
