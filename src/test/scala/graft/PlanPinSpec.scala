package graft

import java.nio.file.{Files, Paths}
import graft.tools.Probe

/** Staleness guard for the committed plan pins: every headline plan is
  * REGENERATED here and its invariant-op histogram (Exchange count, scan
  * multiplicity, join strategies, row-multiplying ops — see
  * `Probe.invariantOps`) diffed against the parsed PLANS.md. A code
  * change that silently alters a headline plan's scale shape fails
  * `sbt test` until `Probe plans` is re-run and the diff reviewed — the
  * same role CoverageSpec's analysis guard plays for schemas. (Added
  * after a round-9 review found a hand-written plan pin stale following
  * a rewrite of the query it pinned.)
  *
  * Plans are built over the SAME dir and width `Probe plans` uses
  * (`Probe.PinDir`, `Probe.PinWidth` — the test session's width).
  */
class PlanPinSpec extends SparkSpec {

  private val plansPath = Paths.get(Probe.PlansFile)

  /** name → plan text, parsed from PLANS.md's `## name` + fenced block. */
  private lazy val committed: Map[String, String] = {
    val text = Files.readString(plansPath)
    """(?s)## (\S+)\n\n```\n(.*?)```""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  test("PLANS.md sections cover exactly the headline set") {
    assert(committed.keySet === Probe.headline.toSet,
      s"missing from PLANS.md: ${Probe.headline.toSet -- committed.keySet}; " +
        s"stale sections: ${committed.keySet -- Probe.headline.toSet} — " +
        "re-run graft.tools.Probe plans")
  }

  test("committed plan pins match regenerated plans (invariant ops)") {
    val drifts = Probe.headline.flatMap { name =>
      val df = SparkEntry.benchQueries(name)(spark, Probe.PinDir)
      val fresh = Probe.planSignature(Probe.formatted(df))
      val pinned = Probe.planSignature(committed.getOrElse(name, ""))
      if (fresh != pinned)
        Some(s"$name: pinned=$pinned fresh=$fresh")
      else None
    }
    assert(drifts.isEmpty,
      "plan drift vs PLANS.md — review the change, then re-run " +
        s"graft.tools.Probe plans to refresh the pins:\n${drifts.mkString("\n")}")
  }
}
