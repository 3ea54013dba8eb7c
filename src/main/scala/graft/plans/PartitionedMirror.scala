package graft.plans

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.CdcConfig
import graft.operators.Cdc
import graft.sources.Tables.Warehouse

/** The 100 TB mirror layout: the mirror table is stored partitioned by a
  * key-hash bucket column, and each CDC batch rewrites ONLY the buckets its
  * changes touch.
  *
  * Why this matters at scale: the flat `Warehouse.overwrite` mirror rewrite
  * is O(mirror) per batch — fine at test SF, unacceptable at 100 TB. Here a
  * micro-batch touching k of N buckets reads k partitions (partition
  * pruning on `_kb`, visible as PartitionFilters in the scan) and rewrites
  * k partition directories (dynamic partition overwrite), so merge cost is
  * O(mirror_touched + delta), independent of total mirror size. This is the
  * plain-parquet equivalent of an Iceberg/Delta `MERGE INTO` with
  * bucket-clustered layout (reference semantics: tabular.py:58-64).
  */
object PartitionedMirror {

  /** Partition column: deterministic key-hash bucket. */
  val BucketCol = "_kb"

  /** Durable table property pinning the layout's bucket count. The count
    * is part of the DATA layout: merging with a different modulus would
    * look up keys in buckets they were never written to and silently
    * duplicate them — so the stored value always wins over the parameter.
    */
  val BucketsProp = "mirror.buckets"

  // hash() is variadic: single-column keys hash exactly as before
  // (stored layouts keep their bucket mapping); composite keys bucket
  // on the full tuple
  private def withBucket(df: DataFrame, cfg: CdcConfig, nBuckets: Int): DataFrame =
    df.withColumn(BucketCol, pmod(hash(cfg.keyCols.map(col): _*), lit(nBuckets)))

  /** Bucket count the stored layout was written with (None = not bucketed
    * yet / legacy).
    */
  def storedBuckets(wh: Warehouse, name: String): Option[Int] =
    graft.sources.Tables.TableProps.read(wh, name).get(BucketsProp).map(_.toInt)

  /** Create the mirror from an initial state, partitioned by key bucket.
    * If the table currently exists as a versioned (pointer) flat table —
    * e.g. it was seeded from LOAD files via `Warehouse.overwrite` — the
    * pointer layout is dissolved first: the partitioned mirror is managed
    * by IN-PLACE dynamic partition overwrites, and writing through a
    * symlink would orphan the version dirs and wedge later commits.
    */
  def initialize(
      wh: Warehouse, name: String, state: DataFrame,
      cfg: CdcConfig, nBuckets: Int): Unit = {
    val staged = withBucket(state, cfg, nBuckets).localCheckpoint(true)
    wh.dissolveVersioned(name)
    staged.write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol)
      .parquet(wh.tablePath(name))
    graft.sources.Tables.TableProps.write(wh, name,
      graft.sources.Tables.TableProps.read(wh, name) +
        (BucketsProp -> nBuckets.toString))
  }

  /** Read the mirror's VISIBLE state (tombstones hidden, bucket col
    * dropped). Widened per-bucket read + rename normalization: bucket
    * dirs may straddle a schema evolution (only touched buckets
    * rewrite) — additive columns union in, numeric widenings resolve to
    * the wide type (plain mergeSchema refuses those), declared renames
    * rejoin their history.
    */
  def read(spark: SparkSession, wh: Warehouse, name: String): DataFrame =
    Cdc.currentState(graft.sources.SchemaEvolution.normalize(
      graft.sources.SchemaEvolution.readTableWidened(spark, wh.tablePath(name)),
      wh, name).drop(BucketCol))

  /** Stored mirror rows (tombstones INCLUDED, bucket col dropped) in the
    * buckets the batch touches — the partition-pruned before-state for IVM
    * deltas ([[IncrementalAgg.applyDelta]]): the delta's key semi-join only
    * ever needs rows whose key-bucket appears in the batch, so the lookup
    * reads k of N partition dirs instead of the whole mirror. Falls back to
    * the full table while the layout is still flat (a seeded mirror before
    * its first partitioned merge migrates it).
    */
  def touchedBefore(spark: SparkSession, wh: Warehouse, name: String,
      changes: DataFrame, cfg: CdcConfig): DataFrame = {
    val raw = graft.sources.SchemaEvolution.normalize(
      graft.sources.SchemaEvolution.readTableWidened(
        spark, wh.snapshotPath(name)), wh, name)
    storedBuckets(wh, name) match {
      case Some(n) if raw.columns.contains(BucketCol) =>
        val touched = withBucket(changes, cfg, n)
          .select(BucketCol).distinct().collect().map(_.getInt(0))
        raw.filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
          .drop(BucketCol)
      case _ => raw
    }
  }

  /** Apply one changelog batch, touching only the buckets present in it.
    *
    * Steps: (1) bucket the changes; (2) collect the touched bucket ids
    * (bounded by nBuckets — partition METADATA, not data, so the driver
    * collect is safe); (3) read only those partitions of the mirror;
    * (4) run the standard latest-wins fold; (5) dynamic-partition-overwrite
    * exactly the touched buckets. Deletes persist as tombstone rows, so a
    * touched bucket always has output — buckets only become empty (and
    * their directories removed) through
    * [[graft.plans.Maintenance.expireTombstones]] after the lateness
    * horizon.
    */
  def applyBatch(
      spark: SparkSession, wh: Warehouse, name: String,
      changes: DataFrame, cfg: CdcConfig, nBuckets: Int): Unit = {
    graft.functions.GraftFunctions.register(spark)
    // the STORED bucket count always wins: a config drift to a different
    // modulus would probe buckets the keys were never written to and
    // silently duplicate them
    val buckets = storedBuckets(wh, name).getOrElse(nBuckets)
    val ch = withBucket(Cdc.withIngestSeq(changes), cfg, buckets)
    val touched = ch.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return

    // read through the snapshot path: a seeded flat mirror is a versioned
    // pointer table until the migration below dissolves it; widened +
    // normalized so a mid-stream rename/widening merges instead of forking
    val raw = graft.sources.SchemaEvolution.normalize(
      graft.sources.SchemaEvolution.readTableWidened(
        spark, wh.snapshotPath(name)), wh, name)
    if (!raw.columns.contains(BucketCol)) {
      // legacy/seeded flat mirror (e.g. LOAD-file initial load): migrate it
      // into the bucketed layout wholesale on first merge — dynamic
      // partition overwrite into a flat directory would mix layouts
      val merged = Cdc.applyBatch(raw, ch.drop(BucketCol), cfg).localCheckpoint(true)
      initialize(wh, name, merged, cfg, buckets)
      return
    }
    val mirrorTouched = raw
      .filter(col(BucketCol).isin(touched.map(Integer.valueOf): _*))
      .drop(BucketCol)
    val merged = Cdc.applyBatch(mirrorTouched, ch.drop(BucketCol), cfg)
    val out = withBucket(merged, cfg, buckets).localCheckpoint(true)

    wh.io match {
      // no rename on the store: the shared staged delete-then-CopyObject
      // per-bucket replace (same touched-buckets-only semantics — the
      // staging holds exactly the touched buckets' merged state)
      case graft.sources.ObjectStoreIO =>
        wh.partitionedOverwriteNoRename(out, name, Seq(BucketCol))
      // per-write option, not the session conf: engine code never
      // mutates session-global conf (a concurrent writer on the same
      // session would inherit dynamic mode mid-flight)
      case _ =>
        out.write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
          .option("partitionOverwriteMode", "dynamic")
          .parquet(wh.tablePath(name))
    }
  }
}
