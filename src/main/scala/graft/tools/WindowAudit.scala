package graft.tools

import graft.GraftSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LW}

/** Engine-wide structural audit: finds every gate whose OPTIMIZED plan
  * contains an unpartitioned Window over a non-aggregate input — the
  * single-partition-sort anti-pattern q238's r8 rewrite removed. Reports
  * per query so the audit spec can pin the (justified) allowlist.
  *
  * Usage: runMain graft.tools.WindowAudit [sfDir]
  */
object WindowAudit {
  def unpartitionedDataWindows(plan: LogicalPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    // bounded inputs: an Aggregate (grouped frame), or a Union whose
    // branches are all bounded (q208's funnel — three one-row aggregates)
    def isAggChild(p: LogicalPlan): Boolean =
      p.isInstanceOf[Aggregate] ||
        (p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union] &&
          p.children.forall(isAggChild)) ||
        (p.children.size == 1 && isAggChild(p.children.head))
    plan.foreach {
      case w: LW if w.partitionSpec.isEmpty && !isAggChild(w.child) =>
        out += w.windowExpressions.map(_.name).mkString(",") +
          " over " + w.child.nodeName
      case _ =>
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    for (name <- graft.SparkEntry.queries.keys.toSeq.sorted) {
      try {
        val hits = unpartitionedDataWindows(
          graft.SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan)
        if (hits.nonEmpty) { flagged += 1; println(s"FLAG $name: ${hits.mkString(" | ")}") }
      } catch { case e: Throwable =>
        println(s"ERR  $name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
    println(s"DONE flagged=$flagged of ${graft.SparkEntry.queries.size}")
    spark.stop()
  }
}
