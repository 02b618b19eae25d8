package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of an iterative operator's `localCheckpoint` pins and of
  * the session confs it overrides while it runs.
  *
  * Iterated loops pin their O(|V|) state every 1–2 rounds so the plan stays
  * O(1) in the round count. A superseded round's blocks otherwise sit in
  * the storage pool until the Dataset is GC'd and the ContextCleaner runs,
  * and in a long-lived session that standing garbage evicts LIVE pins
  * (lineage-truncation warnings, 3× wall on q217). So a loop frees what it
  * no longer reads, and it must free nothing else: a released checkpoint
  * cannot be recomputed, and on a shared session another query's pins are
  * not ours to free.
  *
  * {{{
  * Pins.scope(s) { pins =>
  *   val e = pins(edges)                    // pinned, owned by this scope
  *   var st = pins(init)
  *   for (_ <- 1 to n) { st = pins(step(st, e)); pins.sweep(st, e) }
  *   st.select(...)                         // the result
  * }
  * }}}
  *
  *  - `pins(df, eager)` checkpoints `df` and records the pin as owned.
  *  - `pins.sweep(live*)` unpersists every owned pin that no `live` frame
  *    reads. A frame reads the `LogicalRDD` leaves of its analyzed plan and
  *    everything reachable from them through RDD dependencies; the second
  *    step keeps a LAZY pin's inputs alive until the pin is materialized
  *    (materializing a local checkpoint cuts its dependencies).
  *  - `pins.set(k -> v, ...)` overrides session confs until the scope exits.
  *  - On exit, normal or exceptional, the confs are restored and the scope
  *    runs `sweep(result)` (on an exception: frees every pin). Pins the
  *    result reads pass to the enclosing scope on this thread, if any — an
  *    operator called inside a gate's scope hands its result's pins to the
  *    gate — and are otherwise left to the caller.
  *
  * A pin the scope did not create is never touched, so a second thread on
  * the same session keeps its pins. A sweep must name every frame the body
  * still uses; sweeping rarely (or never) only holds pins longer, until the
  * scope exits.
  */
final class Pins private (s: SparkSession) {
  private var owned = Vector.empty[RDD[_]]
  private val saved = mutable.LinkedHashMap.empty[String, Option[String]]

  /** Checkpoints `df` (eagerly unless `eager` is false) as a pin of this
    * scope. */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame = {
    val pin = df.localCheckpoint(eager)
    owned ++= pin.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    pin
  }

  /** Unpersists every pin of this scope that none of `live` reads. */
  def sweep(live: DataFrame*): Unit = {
    val read = Pins.reads(live)
    val (kept, dead) = owned.partition(r => read(r.id))
    dead.foreach(_.unpersist(blocking = false))
    owned = kept
  }

  /** Overrides session confs until the scope exits. */
  def set(confs: (String, String)*): Unit = confs.foreach { case (k, v) =>
    if (!saved.contains(k)) saved(k) = s.conf.getOption(k)
    s.conf.set(k, v)
  }

  /** Sets `spark.sql.shuffle.partitions` to the round loop's O(state)
    * width and returns it: linear in `stateRows`, at least 8, CAPPED AT
    * THE SESSION VALUE. Iterated rounds exchange the state table, not the
    * corpus; at gate scale that is ~10⁴ rows, where the default width's
    * per-task overhead dominates every round (q250's loop at sf0.1: 2.6 →
    * 1.4 s going 32 → 8 partitions). A cluster-sized state keeps the
    * configured width. Results do not change: every round is integer
    * min/sum aggregation. Only actions run inside the scope plan under
    * this width; a frame returned from the scope plans under the session's
    * own value. */
  def shrinkShuffle(stateRows: Long): Int = {
    val key = "spark.sql.shuffle.partitions"
    val width = math.min(s.conf.get(key).toLong,
      math.max(8L, stateRows / 16384L + 1L)).toInt
    set(key -> width.toString)
    width
  }

  private def restore(): Unit = saved.foreach {
    case (k, Some(v)) => s.conf.set(k, v)
    case (k, None) => s.conf.unset(k)
  }
}

object Pins {
  private val current = new ThreadLocal[Pins]

  /** Runs `body` with a fresh scope; see [[Pins]]. */
  def scope(s: SparkSession)(body: Pins => DataFrame): DataFrame = {
    val pins = new Pins(s)
    val outer = current.get
    current.set(pins)
    var result: DataFrame = null
    try {
      result = body(pins)
      result
    } finally {
      current.set(outer)
      pins.restore()
      if (result == null) pins.sweep() else pins.sweep(result)
      if (outer != null) outer.owned ++= pins.owned
    }
  }

  /** Ids of every RDD `frames` read: their plans' `LogicalRDD` leaves and
    * all RDDs reachable from those through dependencies. */
  private def reads(frames: Seq[DataFrame]): Set[Int] = {
    val seen = mutable.HashSet.empty[Int]
    def walk(r: RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    frames.foreach(_.queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRDD => l.rdd }.foreach(walk))
    seen.toSet
  }
}
