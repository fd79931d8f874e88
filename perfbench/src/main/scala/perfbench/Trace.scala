package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.embed.Embedder
import graft.store.VectorStoreWriter

/** Per-window Spark counters. A window is a label the harness puts on
  * the driver thread (a SparkContext local property) around one layer
  * call; every job carries the label it was submitted under, so its
  * stages and tasks are charged to that layer without any extra action. */
final class Census extends SparkListener {
  import Census._

  final class Acc {
    val jobs, tasks, executorMs, shuffleBytes, spillBytes, bytesWritten =
      new AtomicLong()
    /** Job intervals, for the driver-gap share of a window's wall time. */
    val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  }

  private val byWindow = new ConcurrentHashMap[String, Acc]()
  private val stageWindow = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val seen = new ConcurrentHashMap[String, java.lang.Boolean]()

  private def acc(w: String): Acc = byWindow.computeIfAbsent(w, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val w = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Windows.Prop)))
      .getOrElse(Unlabeled)
    jobStart.put(e.jobId, (w, e.time))
    e.stageIds.foreach(s => stageWindow.put(s, w))
    acc(w).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (w, t0) =>
      acc(w).intervals.add((t0, e.time))
      if (w.startsWith(DrainPrefix)) seen.put(w, true)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = Option(stageWindow.get(e.stageId)).getOrElse(Unlabeled)
    val a = acc(w)
    a.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      a.executorMs.addAndGet(m.executorRunTime)
      a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      a.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  private val drains = new AtomicLong()

  /** Waits until the listener bus has delivered every event posted so
    * far: runs one tiny labelled job and waits for its end event, which
    * the bus delivers after everything queued before it. */
  def drain(sc: SparkContext): Unit = {
    val w = s"$DrainPrefix${drains.incrementAndGet()}"
    Windows.within(sc, w)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen.containsKey(w) && System.nanoTime() < deadline)
      Thread.sleep(2)
    require(seen.containsKey(w), "listener bus did not drain within 30 s")
  }

  /** Removes and returns the counters of every window the workload's
    * own calls ran under (drains and output checks left out). */
  def take(): Map[String, Acc] = {
    val out = scala.jdk.CollectionConverters.MapHasAsScala(byWindow).asScala
      .toMap.filter { case (w, _) =>
        !w.startsWith(DrainPrefix) && w != CheckWindow }
    byWindow.clear()
    out
  }
}

object Census {
  val Unlabeled = "unlabeled"
  val DrainPrefix = "drain-"
  /** Output checks run under this window, so their jobs are not charged
    * to the workload. */
  val CheckWindow = "check"

  /** Milliseconds of `wallMs` during which no job of the window ran. */
  def driverGapMs(wallMs: Double, intervals: Iterable[(Long, Long)]): Double = {
    val sorted = intervals.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    math.max(0.0, wallMs - covered)
  }
}

/** The window label on the driver thread. Nested windows restore the
  * enclosing label on exit, so a store call inside `sync` is charged to
  * the store and the rest of the pass to sync. */
object Windows {
  val Prop = "perfbench.window"
  private val wall = new ConcurrentHashMap[String, AtomicLong]()
  // nanos spent in nested windows, per open window on the driver thread
  private val childNanos = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def within[T](sc: SparkContext, w: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, w)
    childNanos.set(0L :: childNanos.get)
    val t0 = System.nanoTime()
    try f finally {
      val elapsed = System.nanoTime() - t0
      val nested = childNanos.get.head
      childNanos.get.tail match {
        case parent :: rest => childNanos.set((parent + elapsed) :: rest)
        case Nil => childNanos.set(Nil)
      }
      wall.computeIfAbsent(w, _ => new AtomicLong()).addAndGet(elapsed - nested)
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Removes and returns each window's own wall time (nested windows
    * excluded), in milliseconds. */
  def takeWallMs(): Map[String, Double] = {
    val out = scala.jdk.CollectionConverters.MapHasAsScala(wall).asScala
      .map { case (w, n) => w -> n.get / 1e6 }.toMap
    wall.clear()
    out
  }
}

/** Process-wide counters the embedder decorator bumps from executor
  * threads (local mode runs every task in this JVM). */
object EmbedProbe {
  val calls, texts, busyNanos = new AtomicLong()
  def reset(): Unit = { calls.set(0); texts.set(0); busyNanos.set(0) }
}

/** Counts and times every batch the engine embeds, then delegates. */
final class CountingEmbedder(inner: Embedder) extends Embedder
    with Serializable {
  def model: String = inner.model
  def dimension: Int = inner.dimension
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    try inner.embedBatch(texts)
    finally {
      EmbedProbe.calls.incrementAndGet()
      EmbedProbe.texts.addAndGet(texts.size)
      EmbedProbe.busyNanos.addAndGet(System.nanoTime() - t0)
    }
  }
}

/** Times every store call, counts commits and the bytes each call adds
  * under the store root, and labels the call's jobs as the `store`
  * window. Delegates everything to the wrapped store. */
final class TimedStore(inner: VectorStoreWriter, root: String,
    @transient sc: SparkContext) extends VectorStoreWriter with Serializable {

  @transient val upserts, deleteIds, deleteProducts = new TimedStore.Stat
  @transient var commits = 0L

  private def timed[T](s: TimedStore.Stat)(f: => T): T = {
    val v0 = inner.currentVersion
    val b0 = Disk.bytes(root)
    val t0 = System.nanoTime()
    try Windows.within(sc, "store")(f)
    finally {
      s.nanos += System.nanoTime() - t0
      s.calls += 1
      s.bytes += Disk.bytes(root) - b0
      commits += inner.currentVersion - v0
    }
  }

  def bytesWritten: Long = upserts.bytes + deleteIds.bytes + deleteProducts.bytes
  def storeNanos: Long = upserts.nanos + deleteIds.nanos + deleteProducts.nanos

  def upsert(payloads: DataFrame): Int = timed(upserts)(inner.upsert(payloads))
  def deleteByIds(ids: DataFrame): Int = timed(deleteIds)(inner.deleteByIds(ids))
  def deleteByProduct(productId: Long, siteId: Int): Int =
    timed(deleteProducts)(inner.deleteByProduct(productId, siteId))
  def purgeSite(siteId: Int): Int = inner.purgeSite(siteId)
  def read(): DataFrame = inner.read()
  def count(): Long = inner.count()
  def currentVersion: Int = inner.currentVersion
}

object TimedStore {
  final class Stat { var calls = 0L; var nanos = 0L; var bytes = 0L }
}

object Disk {
  /** Bytes of every regular file under `root` (0 when it is absent). */
  def bytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
