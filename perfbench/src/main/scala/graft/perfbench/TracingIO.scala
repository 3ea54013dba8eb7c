package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import graft.sources.WarehouseIO

/** Counting and timing decorator over the warehouse commit primitives,
  * handed to the engine through `Warehouse(root, io = ...)`. Nested
  * warehouses (the MOR base) inherit `wh.io`, so compactions pass through
  * it too. Every pointer swap is recorded with its wall time and the
  * micro-batch id of the calling thread (Spark's `streaming.sql.batchId`
  * local property): the MOR layout's base swaps are its compactions.
  * With `counting = false` only the swaps are recorded.
  */
final class TracingIO(inner: WarehouseIO, clock: Clock, counting: Boolean,
    sc: org.apache.spark.SparkContext) extends WarehouseIO {

  import TracingIO.Swap

  private val swapLog = mutable.ArrayBuffer.empty[Swap]
  private val counts = mutable.LinkedHashMap.empty[String, LongAdder]
  private val ioNanos = new AtomicLong

  def swaps: Seq[Swap] = swapLog.synchronized(swapLog.toList)

  def counters: Map[String, Long] =
    counts.synchronized(counts.map { case (k, v) => k -> v.sum() }.toMap) +
      ("io_ns" -> ioNanos.get)

  private def timed[T](op: String)(body: => T): T =
    if (!counting) body
    else {
      counts.synchronized(counts.getOrElseUpdate(op, new LongAdder)).increment()
      val t0 = System.nanoTime()
      try body
      finally ioNanos.addAndGet(System.nanoTime() - t0)
    }

  private def casConflict(body: => Unit): Unit =
    try body
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        timed("cas_conflicts")(())
        throw e
    }

  override def name: String = inner.name

  override def createExclusive(p: Path): Unit =
    timed("create_exclusive")(casConflict(inner.createExclusive(p)))

  override def createDirExclusive(p: Path): Unit =
    timed("create_dir_exclusive")(casConflict(inner.createDirExclusive(p)))

  override def atomicPointerSwap(pointer: Path, target: Path,
      scratch: Path): Unit = {
    timed("swaps")(inner.atomicPointerSwap(pointer, target, scratch))
    val batch = Option(sc.getLocalProperty("streaming.sql.batchId"))
      .map(_.toLong).getOrElse(-1L)
    swapLog.synchronized(swapLog += Swap(pointer.toString, clock.nowMs(), batch))
  }

  override def readPointer(pointer: Path): Option[Path] =
    inner.readPointer(pointer)

  override def deletePointerIfExists(pointer: Path): Unit =
    timed("pointer_deletes")(inner.deletePointerIfExists(pointer))

  override def adoptLegacyDir(src: Path, dst: Path): Unit =
    timed("legacy_adopts")(inner.adoptLegacyDir(src, dst))

  override def linkOrCopy(src: Path, dst: Path): Unit =
    timed("links")(inner.linkOrCopy(src, dst))

  override def discardDir(dir: Path): Unit =
    timed("discards")(inner.discardDir(dir))

  override def breakStaleLock(lock: Path): Unit =
    timed("lock_breaks")(inner.breakStaleLock(lock))
}

object TracingIO {
  final case class Swap(pointer: String, t: Double, batch: Long)
}

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same scale as Spark listener event times.
  */
final class Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}
