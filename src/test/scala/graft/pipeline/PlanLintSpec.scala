package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Source lint locking in the round-11 self-review lesson: under AQE a
  * bare TreeNode `collect` over an executed plan is VACUOUS — exchanges
  * and scans hide inside LeafExecNode query stages (and reused-exchange
  * wrappers), so a guard built on it can never fire. Every executed-plan
  * structural assertion must go through [[PlanGuards]] (stage-aware
  * flatten / identity-deduped shuffleCount); this spec fails the build if
  * a future in-gate guard or test regresses to the bare pattern.
  * Explain-TEXT matching stays allowed — `explain("formatted")` output is
  * already stage-expanded. A second lint keeps session construction in
  * one place: only [[graft.GraftSession]] calls the SparkSession builder. */
class PlanLintSpec extends AnyFunSuite {

  /** `.scala` files under src/ (minus `exempt` suffixes and this spec)
    * whose whitespace-normalized text contains `banned` — normalized so a
    * line-wrapped match cannot evade the lint. */
  private def filesContaining(banned: String, exempt: String*): List[String] = {
    var bad = List.empty[String]
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    try walk.iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .forEachRemaining { p =>
        val s = p.toString
        if (s.endsWith(".scala") && !s.endsWith("PlanLintSpec.scala") &&
            !exempt.exists(s.endsWith)) {
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          if (text.replaceAll("\\s+", "").contains(banned))
            bad ::= s
        }
      }
    finally walk.close()
    bad
  }

  test("no bare TreeNode collect over an executed plan outside PlanGuards") {
    // built by concatenation so this file does not lint itself
    val bad = filesContaining("executedPlan" + ".collect", "PlanGuards.scala")
    assert(bad.isEmpty,
      s"bare executed-plan collect* (AQE-vacuous; the normalized match " +
        s"also catches collectFirst/collectLeaves and comment mentions — " +
        s"all equally banned or misleading) in: ${bad.mkString(", ")} " +
        "- use PlanGuards.flatten/shuffleCount instead")
  }

  test("sessions are built only by GraftSession") {
    // one session factory: a hand-copied builder drifts from the engine's
    // confs
    val bad = filesContaining("SparkSession" + ".builder(", "GraftSession.scala")
    assert(bad.isEmpty,
      s"hand-built SparkSession in: ${bad.mkString(", ")} " +
        "- use GraftSession.builder(master, shufflePartitions) instead")
  }
}
