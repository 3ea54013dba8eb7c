package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{CdcConfig, PipelineSpec, SparkEntry}
import graft.plans.{Bootstrapper, MorMirror}
import graft.sources.LocalWarehouseIO
import graft.sources.Tables.Warehouse
import graft.streaming.CdcStream

/** Benchmark harness: runs one workload against the engine's public entry
  * points and writes the raw observations (timestamps, samples, collector
  * records) as one JSON file. `run.py` builds it, prepares the inputs,
  * turns the observations into metrics and checks the answers.
  *
  * Usage: Main key=value ... (see `Conf`).
  */
object Main {

  final case class Conf(args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def flag(k: String): Boolean = apply(k) == "1"
  }

  val Table = "bench_table"
  val WarmReads = 5
  /** `CdcStream.start`'s default `morCompactEvery`: the stream compacts the
    * MOR mirror when this many deltas are pending.
    */
  val CompactEvery = 8

  def main(argv: Array[String]): Unit = {
    val conf = Conf(argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val clock = new Clock
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = conf.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${conf("workload")}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf("work") + "/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = clock.nowMs()
    val trace = conf.flag("trace")
    val (progress, sparkCol) = Collectors.install(spark, trace)
    val common: Json.Obj = Map(
      "jvm_start" -> jvmStart, "session_ready" -> sessionReady,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.adaptive.enabled") || k == "spark.master" ||
          k == "spark.sql.shuffle.partitions" || k == "spark.driver.memory"
      },
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))
    val result = conf("workload") match {
      case "cdc_mor" => cdc(spark, conf, clock)
      case "queries" => queries(spark, conf, clock)
      case w => sys.error(s"unknown workload $w")
    }
    // listener buses drain asynchronously; give them a moment before the
    // snapshot so the last batch's events are in
    Thread.sleep(500)
    val out = common ++ result ++ Map("progress" -> progress.snapshot) ++
      sparkCol.map(c => "spark" -> c.snapshot)
    Files.writeString(Paths.get(conf("out")), Json.encode(out))
    spark.stop()
  }

  private def link(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    Files.createLink(dst, src)
  }

  // ---------------------------------------------------------------- CDC

  /** One pipeline instance: a fresh warehouse seeded from the LOAD file
    * and its stream started on the first warm-up file.
    */
  final case class Pipeline(src: Path, staging: Path, wh: Warehouse, query: StreamingQuery)

  private def setUpPipeline(spark: SparkSession, conf: Conf, io: TracingIO,
      dir: Path, first: String): Pipeline = {
    val inputs = Paths.get(conf("inputs"))
    val src = dir.resolve("src").resolve(Table)
    val staging = dir.resolve("staging")
    Files.createDirectories(staging)
    link(inputs.resolve("LOAD00000001.parquet"), src.resolve("LOAD00000001.parquet"))
    val wh = Warehouse(dir.resolve("wh").toString, io = io)
    val spec = PipelineSpec.forPrefix(src.toString, CdcConfig("id", "ts"))
    Bootstrapper.bootstrapMirrorInitialLoad(spark, wh, spec)
    // the stream infers its schema from change files, so the first warm
    // file is in place before it starts
    link(inputs.resolve(first), src.resolve(first))
    val q = CdcStream.start(spark, wh, spec, s"${wh.root}/_checkpoints/$Table",
      trigger = Trigger.ProcessingTime(0L),
      mirrorBuckets = Some(conf.int("buckets")), mirrorMor = true)
    q.processAllAvailable()
    Pipeline(src, staging, wh, q)
  }

  private def visible(spark: SparkSession, wh: Warehouse): DataFrame =
    MorMirror.read(spark, wh, Table)

  /** Records `deltas/batch_<id>` directories as they are renamed in: the
    * MOR layout publishes each batch by that rename, not by a pointer swap.
    * The `deltas` directory itself appears with the first delta's staging
    * write, well before that delta is renamed in.
    */
  private final class DeltaWatch(table: Path, clock: Clock) {
    val published = mutable.ArrayBuffer.empty[(Long, Double)]
    private val deltas = table.resolve("deltas")
    private val ws = table.getFileSystem.newWatchService()
    private val create = java.nio.file.StandardWatchEventKinds.ENTRY_CREATE
    table.register(ws, create)
    if (Files.isDirectory(deltas)) deltas.register(ws, create)
    private val pattern = "batch_(\\d+)".r
    private val thread = new Thread(() => {
      try while (true) {
        val key = ws.take()
        val t = clock.nowMs()
        key.pollEvents().asScala.foreach { ev =>
          ev.context().toString match {
            case "deltas" if key.watchable() == table => deltas.register(ws, create)
            case pattern(b) if key.watchable() == deltas =>
              published.synchronized(published += ((b.toLong, t)))
            case _ => ()
          }
        }
        key.reset()
      } catch {
        case _: InterruptedException | _: java.nio.file.ClosedWatchServiceException => ()
      }
    }, "perfbench-delta-watch")
    thread.setDaemon(true)
    thread.start()
    def count: Int = published.synchronized(published.size)
    def close(): Seq[(Long, Double)] = {
      ws.close(); thread.join(5000)
      published.synchronized(published.toList)
    }
  }

  private def cdc(spark: SparkSession, conf: Conf, clock: Clock): Json.Obj = {
    val trace = conf.flag("trace")
    val io = new TracingIO(LocalWarehouseIO, clock, counting = trace, spark.sparkContext)
    val work = Paths.get(conf("work"))
    val files = Files.readAllLines(Paths.get(conf("inputs"), "files.txt")).asScala.toSeq
    val nWarm = conf.int("warm_files")
    val (warm, rest) = files.splitAt(nWarm)
    val (timed, topUps) = rest.splitAt(conf.int("timed_files"))
    val reps = conf.int("setup_reps")

    // set-up is repeated: each repetition seeds a fresh warehouse, starts
    // the stream and folds the first warm file; the last one then folds the
    // remaining warm files once (JIT warm-up; eight deltas, so the stream
    // compacts), and a compaction of whatever is still pending lets the
    // timed window open with no pending deltas
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var p: Pipeline = null
    for (r <- 1 to reps) {
      val t0 = clock.nowMs()
      p = setUpPipeline(spark, conf, io, work.resolve(s"rep$r"), warm.head)
      setupTimes += (clock.nowMs() - t0) / 1000
      if (r < reps) p.query.stop()
    }
    val warmStart = clock.nowMs()
    warm.tail.foreach { f =>
      link(Paths.get(conf("inputs"), f), p.src.resolve(f))
      p.query.processAllAvailable()
    }
    MorMirror.compact(spark, p.wh, Table)
    val setupEnd = clock.nowMs()
    timed.foreach(f => link(Paths.get(conf("inputs"), f), p.staging.resolve(f)))
    val watch = new DeltaWatch(Paths.get(p.wh.tablePath(Table)), clock)

    // open loop: one generator thread lands files on a fixed schedule,
    // whatever the stream is doing. The stream's own compaction is kept
    // out of the timed window whatever the batch rate: once five deltas
    // are pending, at most two more batches (the running one and one for
    // the files it did not take) can follow before landing stops, which
    // stays one short of `CompactEvery`. So at five the generator pauses:
    // the stream drains, the pending deltas are compacted, and the rest
    // of the schedule moves by the pause. Pauses are neither timed nor
    // freshness samples.
    val intervalMs = conf("interval_ms").toDouble
    val ioBefore = io.counters
    val fsBefore = FsStats.snapshot()
    val gcBefore = LiveHeap.gcMs()
    val t0 = clock.nowMs() + 100
    val lands = mutable.ArrayBuffer.empty[Json.Obj]
    val pauses = mutable.ArrayBuffer.empty[Json.Obj]
    val gen = new Thread(() => {
      var shift = 0.0
      var segmentStart = 0
      timed.zipWithIndex.foreach { case (f, i) =>
        var due = t0 + i * intervalMs + shift
        var wait = due - clock.nowMs()
        while (wait > 0) {
          Thread.sleep(math.max(1L, wait.toLong), 0)
          wait = due - clock.nowMs()
        }
        if (watch.count - segmentStart >= CompactEvery - 3) {
          val a = clock.nowMs()
          p.query.processAllAvailable()
          val c = clock.nowMs()
          MorMirror.compact(spark, p.wh, Table)
          segmentStart = watch.count
          val z = clock.nowMs()
          pauses += Map("start" -> a, "compact" -> c, "end" -> z)
          shift += z - a
          due += z - a
        }
        Files.move(p.staging.resolve(f), p.src.resolve(f), StandardCopyOption.ATOMIC_MOVE)
        lands += Map("file" -> f, "due" -> due, "landed" -> clock.nowMs())
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    p.query.processAllAvailable()
    val drained = clock.nowMs()
    val gcTimed = LiveHeap.gcMs() - gcBefore
    val liveHeap = LiveHeap.mb()
    val fsAfter = FsStats.snapshot()
    val ioAfter = io.counters
    val deltaPublishes = watch.close()

    // read phase: one closed-loop client reads the visible mirror state,
    // materialized. Single-file batches first bring the pending deltas to
    // a fixed count, so every run's reads merge the same number of deltas
    // however many batches the timed window made.
    var toppedUp = 0
    while (toppedUp < topUps.size &&
        MorMirror.pendingDeltas(p.wh, Table) < conf.int("read_pending")) {
      link(Paths.get(conf("inputs"), topUps(toppedUp)), p.src.resolve(topUps(toppedUp)))
      p.query.processAllAvailable()
      toppedUp += 1
    }
    val pending = MorMirror.pendingDeltas(p.wh, Table)
    // the stream stops before the reads: with nothing to take it would
    // keep listing the source prefix every few milliseconds and compete
    // with them
    p.query.stop()
    // untimed reads first: the read path keeps getting faster over its first
    // few executions as the JIT compiles it
    (1 to WarmReads).foreach(_ =>
      visible(spark, p.wh).write.format("noop").mode("overwrite").save())
    val fsReadBefore = FsStats.snapshot()
    val reads = mutable.ArrayBuffer.empty[Json.Obj]
    val readDeadline = clock.nowMs() + conf("read_seconds").toDouble * 1000
    while (reads.size < conf.int("min_reads") || clock.nowMs() < readDeadline) {
      val r0 = clock.nowMs()
      spark.sparkContext.setJobGroup(s"read:${reads.size}", "mirror read")
      visible(spark, p.wh).write.format("noop").mode("overwrite").save()
      spark.sparkContext.clearJobGroup()
      reads += Map("start" -> r0, "end" -> clock.nowMs())
    }
    val fsReadAfter = FsStats.snapshot()
    visible(spark, p.wh).select("id", "name", "modification_date")
      .write.mode("overwrite").parquet(work.resolve("final_state").toString)

    Map(
      "setup_reps_s" -> setupTimes.toList, "setup_reps_end" -> warmStart,
      "warm_rest_s" -> (setupEnd - warmStart) / 1000,
      "timed_start" -> t0, "drained" -> drained, "lands" -> lands.toList,
      "pauses" -> pauses.toList, "gc_timed_ms" -> gcTimed,
      "changes_landed" -> (warm.size + timed.size + toppedUp),
      "warehouse" -> p.wh.root, "checkpoint" -> s"${p.wh.root}/_checkpoints/$Table",
      "swaps" -> io.swaps.map(s => Map("pointer" -> s.pointer, "t" -> s.t, "batch" -> s.batch)),
      "delta_publishes" -> deltaPublishes.map { case (b, t) => Map("batch" -> b, "t" -> t) },
      "base_pointer" -> Paths.get(p.wh.tablePath(Table), "base").toString,
      "io_before" -> ioBefore, "io_after" -> ioAfter,
      "fs_before" -> fsBefore, "fs_after" -> fsAfter,
      "fs_read_before" -> fsReadBefore, "fs_read_after" -> fsReadAfter,
      "pending_deltas_at_read" -> pending,
      "reads" -> reads.toList,
      "heap_live_mb" -> liveHeap,
      "final_state" -> work.resolve("final_state").toString)
  }

  // ------------------------------------------------------------ queries

  /** Registry families, in the order `SparkEntry.queries` unions them. */
  lazy val families: Seq[(String, Iterable[String])] = {
    import graft.operators._
    Seq("Queries" -> Queries.registry.keys, "TextAnalysis" -> TextAnalysis.registry.keys,
      "Dedup" -> Dedup.registry.keys, "Similarity" -> Similarity.registry.keys,
      "Multimodal" -> Multimodal.registry.keys, "Curation" -> Curation.registry.keys,
      "ScaleOps" -> ScaleOps.registry.keys, "EmbedOps" -> EmbedOps.registry.keys)
  }

  /** `perFamily` queries from every family: those whose SHA-256 of
    * "<seed>:<name>" sorts first, a draw that is easy to reproduce
    * outside the JVM.
    */
  def stratifiedSample(perFamily: Int, seed: Long): Seq[String] = {
    def key(q: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$seed:$q".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    families.flatMap { case (_, qs) => qs.toSeq.sortBy(key).take(perFamily) }
  }

  private def queries(spark: SparkSession, conf: Conf, clock: Clock): Json.Obj = {
    val sf = conf("sf")
    val registry = SparkEntry.queries
    val sample = stratifiedSample(conf.int("per_family"), conf("sample_seed").toLong)
    val dump = Paths.get(conf("work"), "dump")
    Files.createDirectories(dump)
    val sc = spark.sparkContext
    def release(): Unit = sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

    // untimed warm pass: each sampled query once, dumped as parquet for
    // the DuckDB oracle check (the graft.Verify dump shape)
    val warm = sample.map { q =>
      val w0 = clock.nowMs()
      sc.setJobGroup(s"warm:$q", q)
      val err =
        try { registry(q)(spark, sf).write.mode("overwrite")
          .parquet(dump.resolve(q).toString); null }
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
        finally { sc.clearJobGroup(); release() }
      Map("query" -> q, "start" -> w0, "end" -> clock.nowMs(), "error" -> err)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => sample.contains(k) }
    Files.writeString(dump.resolve("oracle_sql.json"), Json.encode(oracle))
    val setupEnd = clock.nowMs()

    // one closed-loop client; whole passes over the sample, each pass in
    // a seeded order, until the run's time is used and at least
    // `min_passes` have run
    val fsBefore = FsStats.snapshot()
    val gcBefore = LiveHeap.gcMs()
    val t0 = clock.nowMs()
    val deadline = t0 + conf("query_seconds").toDouble * 1000
    val runs = mutable.ArrayBuffer.empty[Json.Obj]
    var pass = 0
    while (pass < conf.int("min_passes") || clock.nowMs() < deadline) {
      val order = new scala.util.Random(conf("seed").toLong * 1000 + pass).shuffle(sample)
      order.foreach { q =>
        val q0 = clock.nowMs()
        sc.setJobGroup(s"q:$q:$pass", q)
        val err =
          try { registry(q)(spark, sf).write.format("noop").mode("overwrite").save(); null }
          catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
          finally { sc.clearJobGroup(); release() }
        runs += Map("query" -> q, "pass" -> pass, "start" -> q0, "end" -> clock.nowMs(),
          "error" -> err)
      }
      pass += 1
    }
    val end = clock.nowMs()
    val gcTimed = LiveHeap.gcMs() - gcBefore
    val liveHeap = LiveHeap.mb()
    val fsAfter = FsStats.snapshot()

    // read phase: materialized full reads of the largest input table, the
    // scan path without any operator on top. One scan takes about 0.35 s
    // and its times fall in two modes about 0.09 s apart, so each sample
    // times three scans in a row
    def scan(): Unit =
      spark.read.parquet(s"$sf/lineitem.parquet").write.format("noop").mode("overwrite").save()
    val scansPerRead = 3
    (1 to WarmReads).foreach(_ => scan())
    val reads = mutable.ArrayBuffer.empty[Json.Obj]
    val readDeadline = clock.nowMs() + conf("read_seconds").toDouble * 1000
    while (reads.size < conf.int("min_reads") || clock.nowMs() < readDeadline) {
      val r0 = clock.nowMs()
      sc.setJobGroup(s"read:${reads.size}", "scan read")
      (1 to scansPerRead).foreach(_ => scan())
      sc.clearJobGroup()
      reads += Map("start" -> r0, "end" -> clock.nowMs(), "scans" -> scansPerRead)
    }
    Map(
      "setup_end" -> setupEnd, "timed_start" -> t0, "timed_end" -> end,
      "warm" -> warm, "runs" -> runs.toList, "dump" -> dump.toString,
      "families" -> families.flatMap { case (f, qs) =>
        qs.filter(sample.contains).map(_ -> f) }.toMap,
      "fs_before" -> fsBefore, "fs_after" -> fsAfter,
      "reads" -> reads.toList, "heap_live_mb" -> liveHeap, "gc_timed_ms" -> gcTimed)
  }
}
