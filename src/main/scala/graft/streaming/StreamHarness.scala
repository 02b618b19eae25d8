package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The one AvailableNow gate harness every streaming oracle gate runs
  * through — a bounded file replay into a memory sink, read back as a
  * batch frame. Extracted (round-13) from eleven per-gate copies so the
  * exec-lifecycle floor is managed in ONE place:
  *
  *  - SHUFFLE WIDTH: stateful execs open state stores per shuffle
  *    partition per micro-batch (a stream-stream join opens FOUR), so
  *    partitions are pure fixed cost at gate state sizes —
  *    SCALE.md §Round-11 streaming fixed-cost decomposition measured
  *    the task-summed store-commit time at
  *    0.4–6.9 s/gate, scaling with partitions × operators × batches.
  *    The gates ran at 8; the per-key state here is thousands of rows,
  *    so 2 is the width floor that still exercises cross-partition
  *    exchange. At production volume this is the one knob to raise.
  *  - LOG + STATE LOCATION: the exactly-once bookkeeping (offset WAL,
  *    commit log — ~70–140 ms of fsync per micro-batch) and the
  *    HDFS-backed state store files live under the checkpoint dir; for
  *    a replay gate whose durability contract ends with the run, that
  *    dir goes on tmpfs (/dev/shm) when present. A production
  *    deployment points it at durable storage — the fsyncs ARE the
  *    exactly-once guarantee there.
  *  - SHARED-CONF MUTATION: the width is set around start() only.
  *    StreamExecution snapshots the session conf into the query's own
  *    cloned session at start(), so the running stream never sees the
  *    restore; the gate runners (Verify/Bench/specs) plan queries
  *    single-threaded, so no concurrently-planned batch query can
  *    observe the temporary value. A multi-threaded caller needs its
  *    own session (s.newSession()) around the gate instead.
  *
  * == Production posture (config, no code changes) ==
  *
  * Two session confs re-deploy the harness contract outside the gate
  * environment:
  *
  *  - `spark.graft.streaming.width`: overrides every gate's width
  *    argument. The gate default (2) is the measured LOCAL floor — state
  *    stores are pure fixed cost at gate state sizes; at production
  *    volume the state must spread, so size this like any stateful
  *    job's `spark.sql.shuffle.partitions`: max concurrent state ÷
  *    target per-task state (and note a stream-stream join opens FOUR
  *    stores per partition per micro-batch — width is the multiplier on
  *    both parallelism AND store-commit overhead).
  *  - `spark.graft.streaming.checkpointRoot`: where the offset WAL,
  *    commit log, and state store files live. Unset, a bounded replay
  *    gate uses tmpfs and DELETES the checkpoint after the run (the
  *    memory sink holds the result; durability ends with the gate).
  *    SET, the harness treats the location as DURABLE: it is the
  *    exactly-once contract across restarts, so the harness never
  *    deletes it — the per-micro-batch fsyncs into it are the feature,
  *    point it at storage that survives the driver (HDFS/object store),
  *    and resume = start the same query with the same checkpoint dir.
  */
object StreamHarness {

  /** Session-conf override for every gate's width argument (production
    * re-width without code changes). */
  val widthConf = "spark.graft.streaming.width"

  /** Session-conf override for the checkpoint location; setting it also
    * marks the checkpoint DURABLE (never deleted by the harness). */
  val ckRootConf = "spark.graft.streaming.checkpointRoot"

  private def ckRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.getPath
    else System.getProperty("java.io.tmpdir")
  }

  /** Runs `pipeline` to completion under Trigger.AvailableNow into a
    * uniquely-named memory sink and returns the sink table. The pipeline
    * frame may be built before the call — Spark resolves the conf at
    * start(), not at frame construction. */
  def runToTable(pipeline: DataFrame, sinkPrefix: String, mode: OutputMode,
      parts: Int = 2, extraConfs: Map[String, String] = Map.empty,
      noDataBatches: Boolean = true): DataFrame =
    runChecked(pipeline, sinkPrefix, mode, parts, extraConfs, noDataBatches)(_ => ())

  /** Same, with a post-run hook over the finished query for gates that
    * assert on its progress (e.g. q247's one-data-batch contract).
    * `extraConfs` (e.g. the RocksDB provider transformWithState
    * requires) are scoped around start() exactly like the width.
    *
    * `noDataBatches = false` skips the trailing empty micro-batch whose
    * only job is advancing the watermark. That batch is LOAD-BEARING for
    * Append-mode flush-on-watermark operators (windowed/session aggs,
    * fMGWS timeouts, outer-join null padding) — leave it on there. It is
    * result-NEUTRAL for eager emitters: inner stream-stream joins,
    * Update-mode aggs and stateful processors, and dedup (emit on first
    * sight) — there it only re-commits every state store to evict state a
    * terminating replay never reads, a pure lifecycle cost. Every gate
    * that passes false is hash-gated against its batch oracle, so a
    * misclassification fails parity loudly. */
  def runChecked(pipeline: DataFrame, sinkPrefix: String, mode: OutputMode,
      parts: Int = 2, extraConfs: Map[String, String] = Map.empty,
      noDataBatches: Boolean = true)(
      check: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    val s = pipeline.sparkSession
    val sink = sinkPrefix + java.util.UUID.randomUUID().toString.replace("-", "")
    // config-driven production posture (see object doc): a configured
    // width overrides the gate's measured-floor argument, a configured
    // checkpoint root is a DURABLE location the harness must not delete
    val width = s.conf.getOption(widthConf).map(_.toInt).getOrElse(parts)
    require(width > 0, s"$widthConf must be positive, got $width")
    val durableRoot = s.conf.getOption(ckRootConf)
    val ck = new java.io.File(durableRoot.getOrElse(ckRoot), s"graft_ckpt_$sink")
    val owned = Set("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    require(extraConfs.keySet.intersect(owned).isEmpty,
      s"StreamHarness owns ${owned.mkString(", ")} — set them through the " +
        "parts / noDataBatches parameters, not extraConfs (a map entry " +
        "would be silently overwritten)")
    val confs = extraConfs +
      ("spark.sql.shuffle.partitions" -> width.toString) +
      ("spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString)
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    val q = try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      pipeline.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ck.getPath)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    try q.awaitTermination()
    finally if (durableRoot.isEmpty)
      graft.pipeline.Staging.rm(ck) // the memory sink holds the results; the logs are spent
    check(q)
    s.table(sink)
  }
}
