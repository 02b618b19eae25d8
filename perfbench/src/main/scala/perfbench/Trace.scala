package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one layer: jobs and task metrics from task-end events,
  * QueryPlanningTracker phase times, and the wall time spent in the layer. */
final class TaskTotals {
  var jobs, tasks = 0L
  var runMs, cpuNs = 0L
  var inputBytes, shuffleRead, shuffleWrite, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var wallNs = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    inputBytes += m.inputMetrics.bytesRead
    shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
  }

  private def fields: Array[Long] = Array(jobs, tasks, runMs, cpuNs, inputBytes, shuffleRead,
    shuffleWrite, spill, analysisMs, optimizationMs, planningMs, wallNs)

  private def zipWith(o: TaskTotals)(f: (Long, Long) => Long): TaskTotals = {
    val v = fields.zip(o.fields).map(f.tupled)
    val c = new TaskTotals
    c.jobs = v(0); c.tasks = v(1); c.runMs = v(2); c.cpuNs = v(3); c.inputBytes = v(4)
    c.shuffleRead = v(5); c.shuffleWrite = v(6); c.spill = v(7); c.analysisMs = v(8)
    c.optimizationMs = v(9); c.planningMs = v(10); c.wallNs = v(11)
    c
  }

  def plus(o: TaskTotals): TaskTotals = zipWith(o)(_ + _)
  def minus(o: TaskTotals): TaskTotals = zipWith(o)(_ - _)
  def copy(): TaskTotals = plus(new TaskTotals)
}

/** The traced run's instruments, registered by the benchmark itself: a
  * SparkListener that attributes every job and task to the layer named in
  * the submitting thread's `perfbench.layer` local property, and a
  * QueryExecutionListener that adds the planning-tracker phases of each
  * query to the layer open when it ran. Work outside `in` (the harness's
  * own checks) is attributed to no layer and so counted nowhere. Records
  * stay in memory; callers read them after draining the listener bus. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val stageLayer = mutable.Map.empty[Int, String]
  private val byLayer = mutable.Map.empty[String, TaskTotals]
  @volatile private var open: String = null

  private def totals(layer: String): TaskTotals = byLayer.getOrElseUpdate(layer, new TaskTotals)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.LayerKey))).foreach { l =>
        e.stageIds.foreach(stageLayer(_) = l)
        totals(l).jobs += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (m <- Option(e.taskMetrics); l <- stageLayer.get(e.stageId)) totals(l).add(m)
    }
  }

  // Phase events arrive on the listener bus; `in` drains the bus on entry
  // and exit, so an event seen while a layer is open belongs to it.
  private val phases = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        Option(open).foreach { l =>
          val t = totals(l)
          qe.tracker.phases.foreach {
            case ("analysis", p) => t.analysisMs += p.durationMs
            case ("optimization", p) => t.optimizationMs += p.durationMs
            case ("planning", p) => t.planningMs += p.durationMs
            case _ =>
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(phases)

  def drain(): Unit = org.apache.spark.graft.BusDrain.drain(sc)

  /** Drained snapshot of the per-layer totals. */
  def snapshot(): Map[String, TaskTotals] = {
    drain()
    synchronized(byLayer.map { case (k, v) => k -> v.copy() }.toMap)
  }

  /** Runs `body` as work of `layer`: its jobs, tasks, query phases and
    * wall time are added to that layer's totals. */
  def in[T](layer: String)(body: => T): T = {
    drain()
    val prev = sc.getLocalProperty(Tracer.LayerKey)
    sc.setLocalProperty(Tracer.LayerKey, layer)
    open = layer
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      drain()
      open = null
      sc.setLocalProperty(Tracer.LayerKey, prev)
      synchronized(totals(layer).wallNs += ns)
    }
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(phases)
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"

  /** The program's totals: the sum over all layers. */
  def total(byLayer: Map[String, TaskTotals]): TaskTotals =
    byLayer.values.foldLeft(new TaskTotals)(_ plus _)

  /** `layer`'s totals in `after` minus those in `before`. */
  def delta(after: Map[String, TaskTotals], before: Map[String, TaskTotals],
            layer: String): TaskTotals =
    after.getOrElse(layer, new TaskTotals).minus(before.getOrElse(layer, new TaskTotals))

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Sizes of the files under a directory keyed by (inode, mtime): a rename
  * keeps both, so it is not a write, while a new file that reuses a freed
  * inode still counts as new. */
final case class FileSet(files: Map[(AnyRef, Long), Long]) {
  def bytes: Long = files.values.sum

  /** Files present here but not in `before`: (count, bytes). */
  def writtenSince(before: FileSet): (Long, Long) = {
    val added = files.keySet.diff(before.files.keySet).toSeq.map(files)
    (added.size.toLong, added.sum)
  }
}

object FileSet {
  def of(root: File): FileSet =
    if (!root.exists()) FileSet(Map.empty)
    else {
      val s = Files.walk(root.toPath)
      try FileSet(s.iterator().asScala.flatMap { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        if (a.isRegularFile) Some((a.fileKey(), a.lastModifiedTime().toMillis) -> a.size())
        else None
      }.toMap)
      finally s.close()
    }
}
