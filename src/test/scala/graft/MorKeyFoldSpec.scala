package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.plans.{MorMirror, PartitionedMirror}
import graft.sources.SchemaEvolution
import graft.sources.Tables.Warehouse

/** The merge-on-read read applies the live deltas to the base BY KEY:
  * base rows whose key is in no delta pass through a left-anti join, the
  * rest fold with the delta rows. These specs pin (a) that the result
  * equals the plain fold of every stored row, `currentState(fold(base ∪
  * deltas))`, on the shapes where a key-level shortcut could go wrong,
  * (b) the plan contract — opening a read runs no Spark job, and with
  * small deltas no exchange sits above the base's pass-through side —
  * and (c) that compaction keeps one file set per bucket.
  */
class MorKeyFoldSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = CdcConfig("id", "ts")

  private def rows(rs: (java.lang.Long, String, String, String)*): DataFrame =
    rs.toDF("id", "name", "op", "ts")

  /** `currentState(fold(base ∪ deltas))` straight from the files on disk:
    * the current base version and every delta dir above its fold horizon,
    * read with plain Spark reads, normalized for declared renames.
    */
  private def reference(wh: Warehouse, name: String, c: CdcConfig): DataFrame = {
    val base = spark.read.option("mergeSchema", "true")
      .parquet(Warehouse(wh.tablePath(name)).snapshotPath("base"))
    val horizon = MorMirror.foldHorizon(wh, name)
    val deltaRoot = Paths.get(wh.tablePath(name), "deltas")
    val deltas =
      if (!Files.isDirectory(deltaRoot)) Seq.empty
      else {
        val s = Files.list(deltaRoot)
        try s.iterator().asScala.filter(_.getFileName.toString.startsWith("batch_"))
          .filter(_.getFileName.toString.stripPrefix("batch_").toLong > horizon)
          .map(d => spark.read.parquet(d.toString)).toSeq
        finally s.close()
      }
    val all = deltas.foldLeft(base)(_.unionByName(_, allowMissingColumns = true))
    Cdc.currentState(Cdc.fold(
      SchemaEvolution.normalize(all, wh, name).drop(PartitionedMirror.BucketCol), c))
  }

  private def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  private def names(df: DataFrame, c: String): Seq[String] =
    df.select(c).collect().map(_.getString(0)).sorted.toSeq

  /** The read equals the reference, before and after a compaction. */
  private def assertEquivalent(wh: Warehouse, c: CdcConfig,
      want: Seq[String] = Seq.empty): Unit = {
    def check(stage: String): Unit = {
      val got = MorMirror.read(spark, wh, "m")
      val cols = got.columns.toSeq.sorted
      assert(canon(got, cols) == canon(reference(wh, "m", c), cols),
        s"read != fold(base ∪ deltas) $stage")
      if (want.nonEmpty)
        assert(names(got, "name") == want.sorted, s"visible names $stage")
    }
    assert(MorMirror.pendingDeltas(wh, "m") > 0, "the read must merge live deltas")
    check("over live deltas")
    MorMirror.compact(spark, wh, "m")
    check("after compaction")
  }

  test("key-level read == fold(base + deltas): null key, late data, tombstone") {
    val wh = Warehouse(tmpDir("mkf-null"))
    MorMirror.initialize(wh, "m", Cdc.fold(rows(
      (1L, "a", "I", "t1"), (2L, "b", "I", "t1"), (null, "nul", "I", "t1"),
      (3L, "late-base", "U", "t5"), (4L, "d", "I", "t1")), cfg), cfg, 4)
    MorMirror.appendDelta(wh, "m", rows(
      (1L, "a2", "U", "t2"),            // plain update
      (null, "nul2", "U", "t2"),        // null key: one key, matched null-safe
      (3L, "late-delta", "U", "t3"),    // older than its base row: base wins
      (2L, "b", "D", "t2"),             // tombstone hides the base row
      (9L, "ghost", "D", "t2")), 1L)    // tombstone for a key never present
    MorMirror.appendDelta(wh, "m", rows((5L, "e", "I", "t3")), 2L)
    assertEquivalent(wh, cfg,
      Seq("a2", "nul2", "late-base", "d", "e"))
  }

  test("key-level read == fold(base + deltas): composite key with a null part") {
    val c = CdcConfig("id,grp", "ts")
    val wh = Warehouse(tmpDir("mkf-composite"))
    def cr(rs: (Long, String, String, String, String)*): DataFrame =
      rs.toDF("id", "grp", "name", "op", "ts")
    MorMirror.initialize(wh, "m", Cdc.fold(cr(
      (1L, "x", "1x", "I", "t1"), (1L, "y", "1y", "I", "t1"),
      (1L, null, "1null", "I", "t1"), (2L, "x", "2x", "I", "t1")), c), c, 4)
    // (1, x) changes; (1, y) shares the id but not the key and must pass
    // through; (1, null) matches only the null-grp row
    MorMirror.appendDelta(wh, "m", cr(
      (1L, "x", "1x-new", "U", "t2"), (1L, null, "1null-new", "U", "t2"),
      (2L, "x", "2x", "D", "t2"), (3L, "z", "3z", "I", "t2")), 1L)
    assertEquivalent(wh, c, Seq("1x-new", "1y", "1null-new", "3z"))
  }

  test("key-level read == fold(base + deltas): LOAD seed with null ts/seq/op") {
    // a bare LOAD seed (no envelope at all) and a mixed seed whose op and
    // ts are present but null
    val wh = Warehouse(tmpDir("mkf-load"))
    MorMirror.initialize(wh, "m",
      Seq((1L, "load1"), (2L, "load2"), (3L, "load3")).toDF("id", "name"), cfg, 4)
    MorMirror.appendDelta(wh, "m", rows((2L, "chg2", "U", "t1"), (3L, "x", "D", "t1")), 1L)
    assertEquivalent(wh, cfg, Seq("load1", "chg2"))

    val wh2 = Warehouse(tmpDir("mkf-load-nulls"))
    MorMirror.initialize(wh2, "m", rows(
      (1L, "load1", null, null), (2L, "load2", null, null)), cfg, 4)
    MorMirror.appendDelta(wh2, "m", rows((1L, "chg1", "U", "t1")), 1L)
    assertEquivalent(wh2, cfg, Seq("chg1", "load2"))
  }

  test("key-level read == fold(base + deltas) across bucket resizes") {
    val seed = rows((1L, "a", "U", "t01"), (2L, "b", "U", "t02"), (3L, "c", "U", "t03"),
      (4L, "d", "U", "t04"), (5L, "e", "U", "t05"), (6L, "f", "U", "t06"),
      (7L, "g", "U", "t07"), (8L, "h", "U", "t08"))
    Seq((4, 8), (8, 4), (4, 6)).foreach { case (from, to) =>
      val wh = Warehouse(tmpDir(s"mkf-resize-$from-$to"))
      MorMirror.initialize(wh, "m", seed, cfg, from)
      MorMirror.resize(spark, wh, "m", to)
      assert(MorMirror.baseBuckets(wh, "m") == from)
      MorMirror.appendDelta(wh, "m", rows((1L, "a2", "U", "t09"), (8L, "h", "D", "t10"),
        (9L, "i", "I", "t11"), (3L, "c-late", "U", "t00")), 1L)
      assertEquivalent(wh, cfg, Seq("a2", "b", "c", "d", "e", "f", "g", "i"))
      assert(MorMirror.baseBuckets(wh, "m") == to)
    }
  }

  test("key-level read == fold(base + deltas): rename + widening straddle") {
    val wh = Warehouse(tmpDir("mkf-evolve"))
    MorMirror.initialize(wh, "m", Cdc.fold(
      Seq((1L, "a", 10, "I", "t1"), (2L, "b", 20, "I", "t1"), (3L, "c", 30, "I", "t1"))
        .toDF("id", "name", "v", "op", "ts"), cfg), cfg, 4)
    SchemaEvolution.declareRename(wh, "m", "name", "full_name")
    MorMirror.appendDelta(wh, "m",
      Seq((1L, "a2", 100L, "U", "t2"), (4L, "d", 40L, "I", "t2"))
        .toDF("id", "full_name", "v", "op", "ts"), 1L)
    val got = MorMirror.read(spark, wh, "m")
    assert(got.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(!got.columns.contains("name"))
    assert(names(got, "full_name") == Seq("a2", "b", "c", "d"))
    assertEquivalent(wh, cfg)
  }

  /** Jobs started on the session while `body` runs, counted by a listener;
    * a marker job fences the asynchronous listener bus.
    */
  private def jobsDuring(body: => Unit): Int = {
    val seen = new AtomicInteger(0)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val marker = "mor-key-fold-fence"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == marker)) fenced.countDown()
        else if (fenced.getCount > 0) seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the fence job never reached the listener")
      seen.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Runs `df`; returns its row count and final (post-AQE) plan, with
    * query stages unwrapped. */
  private def runFinal(df: DataFrame): (Int, SparkPlan) = {
    val n = df.collect().length
    def unwrap(p: SparkPlan): SparkPlan = p.transform {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case s: QueryStageExec => unwrap(s.plan)
    }
    (n, unwrap(df.queryExecution.executedPlan))
  }

  test("plan contract: a read opens with no job; no exchange above the anti join") {
    val wh = Warehouse(tmpDir("mkf-plan"))
    MorMirror.initialize(wh, "m", Cdc.fold(
      (1L to 400L).map(i => (java.lang.Long.valueOf(i), s"n$i", "I", "t1")).toDF("id", "name", "op", "ts"),
      cfg), cfg, 8)
    MorMirror.appendDelta(wh, "m", rows((1L, "a2", "U", "t2"), (7L, "g", "D", "t2")), 1L)
    MorMirror.appendDelta(wh, "m", rows((11L, "k2", "U", "t3")), 2L)
    // warm the footer memos once, then open a fresh read: neither the
    // base's schema nor the delta keys may cost a Spark job
    MorMirror.read(spark, wh, "m")
    var df: DataFrame = null
    assert(jobsDuring { df = MorMirror.read(spark, wh, "m") } == 0,
      "building MorMirror.read must run no Spark job")

    val (n, plan) = runFinal(df)
    assert(n == 399)
    val anti = plan.collectFirst {
      case j: BaseJoinExec if j.joinType == LeftAnti => j
    }.getOrElse(fail(s"no left-anti pass-through join in:\n$plan"))
    def shuffles(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles(anti.left).isEmpty,
      s"the base's pass-through side must not be shuffled:\n$plan")
    // no exchange between the anti join and the plan's root either
    def pathTo(p: SparkPlan): Option[Seq[SparkPlan]] =
      if (p eq anti) Some(Seq.empty)
      else p.children.iterator.map(c => pathTo(c).map(p +: _)).collectFirst {
        case Some(path) => path }
    val above = pathTo(plan).getOrElse(fail("anti join not reachable"))
    assert(!above.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"an exchange sits above the anti join:\n$plan")
  }

  test("compaction keeps one file per bucket across compactions and expiry") {
    val wh = Warehouse(tmpDir("mkf-files"))
    val n = 8
    MorMirror.initialize(wh, "m", Cdc.fold(
      (1L to 2000L).map(i => (java.lang.Long.valueOf(i), s"n$i", "I", "t01"))
        .toDF("id", "name", "op", "ts").repartition(4), cfg), cfg, n)
    def baseFiles: Int = MorMirror.fileCensus(wh, "m")._1.size
    val counts = (1 to 3).map { i =>
      MorMirror.appendDelta(wh, "m",
        (1L to 2000L by 7L).map(k => (java.lang.Long.valueOf(k + i), s"u$i", "U", f"t$i%02d"))
          .toDF("id", "name", "op", "ts"), i.toLong)
      MorMirror.compact(spark, wh, "m")
      baseFiles
    }
    assert(counts.head <= n, s"a compacted base holds one file per bucket: $counts")
    assert(counts.forall(_ == counts.head), s"base file count must stay flat: $counts")
    MorMirror.appendDelta(wh, "m", rows((5L, "x", "D", "t05")), 4L)
    MorMirror.expireTombstones(spark, wh, "m", horizon = "t99")
    assert(baseFiles == counts.head, "tombstone expiry must keep the file layout")
    assert(MorMirror.read(spark, wh, "m").count() == 1999)
  }
}
