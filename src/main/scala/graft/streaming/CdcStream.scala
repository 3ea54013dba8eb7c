package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.PipelineSpec
import graft.operators.Cdc
import graft.sources.Tables.Warehouse

/** The continuous data plane the reference delegates to Tabular's managed
  * file-loader + CDC service (README.md:6-10): new files under the monitored
  * prefix are appended to the changelog table and folded into the mirror.
  *
  * Spark-first shape: a Structured Streaming file source (which does new-file
  * detection + exactly-once tracking natively via its checkpointed file log —
  * the equivalent of the reference's S3-notification / inventory-poll
  * detection, README.md:37-40) feeding `foreachBatch`, which (a) appends the
  * raw batch to the changelog and (b) merges it into the mirror with the
  * same [[Cdc.applyBatch]] kernel the batch path uses — incremental ≡ batch
  * by construction.
  *
  * Scale notes (100 TB):
  *  - `maxFilesPerTrigger` bounds per-micro-batch work (backpressure).
  *  - The merge is one hash-agg keyed on the CDC key; with the mirror stored
  *    bucketed/partitioned by key-hash only the (small) delta shuffles.
  *  - `Trigger.AvailableNow` drains a backlog with checkpointed restarts;
  *    `ProcessingTime` for continuous tailing.
  */
object CdcStream {

  /** Batch-unique ordered ingest sequence — see [[Cdc.stampBatchSeq]]
    * (one encoding contract shared with the merge-on-read mirror).
    */
  private def stampSeq(df: DataFrame, batchId: Long): DataFrame =
    Cdc.stampBatchSeq(df, batchId)

  /** Start the auto-load + CDC stream for one pipeline spec.
    *
    * @param mirrorBuckets when set, the mirror uses the scale layout
    *   ([[graft.plans.PartitionedMirror]]): key-hash-partitioned storage
    *   with per-batch merges touching only the buckets the delta hits —
    *   O(touched + delta) instead of the flat O(mirror) rewrite.
    */
  /** Maintained-aggregate registration for [[start]]: `(aggTable, spec)` —
    * the named table is kept equal to
    * `IncrementalAgg.full(currentState(mirror), spec)` by per-batch deltas.
    */
  type MaintainedAgg = (String, graft.plans.IncrementalAgg.Spec)

  /** Marker file inside each agg version directory recording the last
    * micro-batch the aggregate absorbed. Written by the SAME versioned
    * commit that publishes the data (underscore prefix keeps it invisible
    * to parquet readers), so data+marker swap atomically — there is no
    * crash window where one is committed without the other.
    */
  private val IvmMarkerFile = "_ivm_batch_id"

  private def commitAgg(wh: Warehouse, table: String,
      df: DataFrame, batchId: Long): Unit =
    wh.commit(table) { dir =>
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, IvmMarkerFile), batchId.toString)
    }

  private def readAggMarker(wh: Warehouse, table: String): Option[Long] = {
    val p = java.nio.file.Paths.get(wh.snapshotPath(table), IvmMarkerFile)
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toLong)
    else None
  }

  def start(
      spark: SparkSession,
      wh: Warehouse,
      spec: PipelineSpec,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      mirrorBuckets: Option[Int] = None,
      maintainedAggs: Seq[MaintainedAgg] = Seq.empty,
      /** Merge-on-read mirror mode ([[graft.plans.MorMirror]]): batches
        * commit O(delta) delta files instead of rewriting touched buckets;
        * reads merge. Requires `mirrorBuckets`. The STORED layout always
        * wins over this flag — a table that already exists as a COW
        * bucketed mirror stays COW, and an existing MOR table stays MOR
        * even when the flag is off (the bucket-modulus-drift rule applied
        * to the layout choice itself).
        */
      mirrorMor: Boolean = false,
      /** Compact the MOR mirror when this many delta batches accumulate —
        * bounds read-time merge debt; the fold is atomic and replay-safe.
        */
      morCompactEvery: Int = 8,
      /** Declare hidden day partitioning on the changelog (the Iceberg
        * `days(ts)` transform): batches land as `p_day=<date>/p_batch=<id>`
        * so time-bounded replays and tombstone expiry prune whole day
        * dirs ([[graft.sources.Tables.Warehouse.readTimePruned]]). The
        * STORED layout wins: once the changelog exists, the declared
        * prop (or its absence) is authoritative and the flag is ignored —
        * flipping it mid-history would mix layouts.
        */
      changelogTimePartition: Boolean = false,
      /** Grain of the hidden time layout (day/hour/month) — declared
        * with the layout on first ingest; the STORED grain wins
        * thereafter (flipping day->hour mid-history is spec EVOLUTION,
        * [[graft.sources.Tables.Warehouse.evolveTimeGranularity]], not
        * a restart flag).
        */
      changelogTimeGranularity: String = "day"): StreamingQuery = {
    require(!mirrorMor || mirrorBuckets.isDefined,
      "mirrorMor requires mirrorBuckets (the MOR layout is bucketed)")
    if (changelogTimePartition && !wh.exists(spec.changelogTable) &&
        wh.timePartitionCol(spec.changelogTable).isEmpty)
      wh.declareTimePartition(spec.changelogTable, spec.cdc.tsCol,
        granularity = changelogTimeGranularity)

    // Schema is pinned from existing files (the reference infers at
    // table-creation time, tabular.py:130-139 carries no schema). Inference
    // must see only files that PASS the exclusion glob: initial-load
    // `LOAD*` files carry the bare data schema without the CDC envelope
    // (op/ts), and parquet inference reads one footer — picking a LOAD file
    // would silently drop the envelope columns from the whole stream.
    val schemaFiles = graft.sources.Tables.listFilesExcluding(
      spec.sourcePath, Some(spec.changelogExcludeGlob),
      extension = Some(spec.format))
    require(schemaFiles.nonEmpty,
      s"no loadable files under ${spec.sourcePath} to infer a schema from")
    val schema =
      try graft.sources.Tables
        .readFilesAs(spark, spec.format, schemaFiles).get.schema
      catch {
        // files straddling an upstream numeric WIDENING (int->long,
        // float->double): mergeSchema inference refuses mixed widths, so
        // fall back to per-footer inference merged with widening — the
        // stream then reads every old narrow file under the wide schema
        // (Spark 4 parquet promotes natively)
        case e: org.apache.spark.SparkException
            if spec.format == "parquet" &&
              Option(e.getMessage).exists(_.contains("CANNOT_MERGE_SCHEMAS")) =>
          graft.sources.SchemaEvolution.inferWidened(spark, schemaFiles)
      }
    // the merge's latest_row/long_dot must resolve in THIS session too (the
    // micro-batch clone registers separately; see Cdc.applyBatch)
    graft.functions.GraftFunctions.register(spark)

    val reader = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", s"*.${spec.format}")
      .option("recursiveFileLookup", "true")
    if (spec.format == "csv") reader.option("header", "true")
    // Batch-id markers are per-checkpoint-LINEAGE: a lost/recreated
    // checkpoint restarts numbering at 0, and a marker from the old
    // lineage would wrongly skip a replay batch that contains genuinely
    // NEW files. On a fresh lineage, resync each maintained aggregate to
    // the CURRENT mirror before starting: replayed old changes then delta
    // to zero against that mirror, and new changes delta normally.
    if (maintainedAggs.nonEmpty) {
      val offsets = java.nio.file.Paths.get(checkpointDir, "offsets")
      val freshLineage = !java.nio.file.Files.isDirectory(offsets) || {
        val s = java.nio.file.Files.list(offsets)
        try !s.iterator().hasNext finally s.close()
      }
      if (freshLineage) maintainedAggs.foreach { case (aggTable, aspec) =>
        if (wh.exists(aggTable) && wh.exists(spec.mirrorTable)) {
          // layout-aware visible state: a bucketed mirror reads through
          // PartitionedMirror (partition column + tombstone hiding)
          val visible =
            if (graft.plans.PartitionedMirror.storedBuckets(wh, spec.mirrorTable).isDefined)
              graft.plans.PartitionedMirror.read(spark, wh, spec.mirrorTable)
            else if (graft.plans.MorMirror.storedConfig(wh, spec.mirrorTable).isDefined)
              graft.plans.MorMirror.read(spark, wh, spec.mirrorTable)
            else Cdc.currentState(wh.read(spark, spec.mirrorTable))
          commitAgg(wh, aggTable,
            graft.plans.IncrementalAgg.full(visible, aspec).localCheckpoint(true),
            batchId = -1L)
        }
      }
    }

    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.format(spec.format).load(spec.sourcePath)
      // Exclusion glob (`**/LOAD*`): Spark's pathGlobFilter is inclusive, so
      // exclude by predicate on the provenance column — stays in the scan.
      .withColumn("_src_file", input_file_name())
      .filter(!excludePredicate(spec.changelogExcludeGlob, spec.sourcePath))
      .drop("_src_file")

    stream.writeStream
      .queryName(s"cdc-${spec.mirrorTable}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stamped = stampSeq(batch, batchId).persist()
        try {
          if (stamped.limit(1).count() > 0) {
            wh.appendBatch(stamped, spec.changelogTable, batchId)
            // the changelog keeps the RAW batch (historical record); the
            // MERGE consumes the normalized view — declared renames fold
            // into their history, dropped columns disappear
            val changes = graft.sources.SchemaEvolution.normalize(
              stamped.drop(graft.DmsEnvelope.SourceTableCol),
              wh, spec.mirrorTable)
            val table = spec.mirrorTable
            // a crashed flat->MOR migration swap must be finished BEFORE
            // the layout probe: an adopted stage makes exists/morStored
            // true and the replayed batch flows through appendDelta's
            // band-equality replay contract instead of reseeding from one
            // batch (round-10 ADVICE); cheap no-op when nothing is staged
            graft.plans.MorMirror.recoverMigration(wh, table)
            val exists = wh.exists(table)
            // the STORED layout wins over the parameter (a bucketed table
            // merged flat — or vice versa — would corrupt the layout)
            val stored = graft.plans.PartitionedMirror.storedBuckets(wh, table)
            val layout = stored.orElse(mirrorBuckets)
            val morStored = graft.plans.MorMirror.storedConfig(wh, table).isDefined
            val useMor = morStored || (mirrorMor && stored.isEmpty)
            // Before-state for the IVM deltas, tombstones included: the
            // partition-pruned touched-bucket read (bucketed COW) or the
            // batch-key semi-join (MOR) — O(touched + delta), NOT a
            // full-mirror scan.
            lazy val mirrorBefore: DataFrame =
              if (!exists) Cdc.fold(changes, spec.cdc).limit(0)
              else if (stored.isDefined) graft.plans.PartitionedMirror
                .touchedBefore(spark, wh, table, changes, spec.cdc)
              else if (morStored) graft.plans.MorMirror
                .touchedBefore(spark, wh, table, changes)
              else graft.sources.SchemaEvolution.normalize(
                wh.read(spark, table), wh, table)
            // Maintained aggregates fold their delta from the BEFORE-state,
            // so they run ahead of the mirror commit. Replay safety: each
            // agg table records the last batch it absorbed (durable
            // TableProps). A crash between the agg commit and the
            // checkpoint commit replays the batch, the marker says
            // "already applied", the delta is skipped — while the mirror
            // merge itself is replay-idempotent.
            maintainedAggs.foreach { case (aggTable, aspec) =>
              val applied = readAggMarker(wh, aggTable)
              if (!applied.exists(_ >= batchId)) {
                val aggBefore =
                  if (wh.exists(aggTable)) wh.read(spark, aggTable)
                  else {
                    // bootstrap from the FULL visible mirror (not the
                    // touched subset): the agg table must start equal to a
                    // recompute before deltas can keep it that way
                    val visible =
                      if (!exists) Cdc.currentState(mirrorBefore)
                      else if (stored.isDefined)
                        graft.plans.PartitionedMirror.read(spark, wh, table)
                      else if (morStored)
                        // FULL visible state, not the pruned before-view
                        graft.plans.MorMirror.read(spark, wh, table)
                      else Cdc.currentState(mirrorBefore)
                    graft.plans.IncrementalAgg.full(visible, aspec)
                  }
                val updated = graft.plans.IncrementalAgg
                  .applyDelta(aggBefore, mirrorBefore, changes, spec.cdc, aspec)
                commitAgg(wh, aggTable, updated.localCheckpoint(true), batchId)
              }
            }
            if (useMor) {
              val n = mirrorBuckets.getOrElse(64)
              if (!morStored) {
                // first MOR commit: fold the batch (merging any pre-seeded
                // flat state — a LOAD-bootstrapped table migrates here) and
                // initialize the layout; later batches are O(delta) appends
                val seedState =
                  if (exists) Cdc.applyBatch(mirrorBefore, changes, spec.cdc)
                  else Cdc.fold(changes, spec.cdc)
                graft.plans.MorMirror.initialize(wh, table, seedState, spec.cdc, n)
              } else {
                graft.plans.MorMirror.appendDelta(wh, table, changes, batchId)
                // bound read-time merge debt; compact is atomic + replay-safe
                graft.plans.MorMirror.maybeCompact(spark, wh, table, morCompactEvery)
              }
            } else layout match {
              case Some(n) =>
                // first batch bootstraps the partitioned layout from its own
                // fold (an empty partitioned dir has no readable schema)
                if (!exists)
                  graft.plans.PartitionedMirror.initialize(wh, table,
                    Cdc.fold(changes, spec.cdc), spec.cdc, n)
                else graft.plans.PartitionedMirror.applyBatch(
                  spark, wh, table, changes, spec.cdc, n)
              case None =>
                val merged = Cdc.applyBatch(mirrorBefore, changes, spec.cdc)
                // Publication is ATOMIC: Warehouse.overwrite stages into a
                // fresh version dir and swaps the table pointer with one
                // atomic rename (Warehouse.commit) — a reader never sees a
                // half-written mirror, and a crash mid-write leaves only an
                // unpublished version dir for the next commit's GC
                // (WarehouseSpec proves both).
                val staged = merged.localCheckpoint(true)
                wh.overwrite(staged, table)
            }
          }
        } finally stamped.unpersist()
        ()
      }
      .start()
  }

  /** Translate a `**&#47;...` exclusion glob into a filter on the source file
    * path (same semantics as Tables.listFilesExcluding, but applied inside
    * the streaming scan where driver-side list pre-filtering isn't
    * available). The glob tail may contain directory components; a file is
    * excluded when the tail matches any contiguous segment span of its
    * path RELATIVE to the monitored prefix — which also covers
    * writer-produced `LOAD*.parquet/part-*` directory wrapping, and agrees
    * with the listing side's prefix-relative matching: a parent directory
    * of the monitored prefix that happens to match the tail (e.g. a source
    * under `/mnt/LOADER/` with glob `**&#47;LOAD*`) must NOT exclude
    * anything. Globs without a leading `**&#47;` are not part of the
    * reference's config surface and are rejected loudly rather than
    * silently ingesting files the listing side would have excluded.
    */
  private[graft] def excludePredicate(glob: String, sourcePath: String) = {
    require(glob.startsWith("**/"),
      s"unsupported exclusion glob '$glob': expected '**/<tail>' " +
        "(the reference's fileFilter shape, tabular.py:137)")
    val tail = glob.drop(3)
    val rx = tail.flatMap {
      case '*' => "[^/]*"
      case '?' => "[^/]"
      case c if "\\^$.|+()[]{}".contains(c) => "\\" + c
      case c => c.toString
    }
    // input_file_name() is an absolute URI (`file:///...`); the monitored
    // prefix is config-shaped (maybe scheme-qualified, maybe with a
    // trailing slash). Normalize the prefix to a `/`-rooted marker and cut
    // everything up to and including its first occurrence.
    val srcNorm = {
      val p = sourcePath.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.\\-]*:/*", "/")
        .stripSuffix("/")
      if (p.startsWith("/")) p else s"/$p"
    }
    val marker = s"$srcNorm/"
    val loc = locate(marker, col("_src_file"))
    val rel = when(loc > 0,
      col("_src_file").substr(loc + lit(marker.length), lit(1 << 30)))
      .otherwise(col("_src_file"))
    // (^|/) tail ($|/) over the prefix-relative path: matches the tail as a
    // complete segment span at any depth below the monitored prefix
    rel.rlike(s"(^|/)$rx($$|/)")
  }
}
