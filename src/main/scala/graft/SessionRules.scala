package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Idempotent, thread-safe registration into `spark.experimental`.
  *
  * Several loaders/queries lazily attach a session-wide optimizer rule or
  * planner strategy the first time they run (e.g. the epoch-ns predicate
  * transposition behind [[Tables.events]]). The naive check-then-append on
  * `extraOptimizations` is racy under concurrent first loads — two threads
  * can both observe "absent" and both append. The rules involved are
  * idempotent so a double registration is harmless, but it wastes an
  * optimizer pass and makes plan dumps confusing; this helper serializes
  * the check+append per session (`ExperimentalMethods` is per-session
  * state, so the lock is scoped exactly to what it guards).
  *
  * Every session registers its rules lazily through this helper, those
  * built by [[GraftSession]] included: the builder installs no session
  * extensions (`GraftExtensions` is opt-in through `spark.sql.extensions`),
  * so the first loader or query that needs a rule attaches it.
  */
object SessionRules {
  def ensureOptimizerRule(spark: SparkSession, rule: Rule[LogicalPlan]): Unit =
    spark.experimental.synchronized {
      val opts = spark.experimental.extraOptimizations
      if (!opts.contains(rule))
        spark.experimental.extraOptimizations = opts :+ rule
    }

  def ensureStrategy(spark: SparkSession)(
      already: SparkStrategy => Boolean, mk: => SparkStrategy): Unit =
    spark.experimental.synchronized {
      val strategies = spark.experimental.extraStrategies
      if (!strategies.exists(already))
        spark.experimental.extraStrategies = strategies :+ mk
    }
}
