package graft

import java.nio.file.{Files, Paths}

/** Plan-regression gate: the per-query shuffle/broadcast census (plus
  * anti-pattern flags) of every SparkEntry query, asserted against a
  * committed golden file. An edit that adds an Exchange, flips a join
  * strategy, or introduces a cartesian product now fails THIS test instead
  * of surfacing as a bench regression later.
  *
  * When a census change is intentional (new operator, deliberate plan
  * change), regenerate and review the diff like any other code change:
  *
  *   GRAFT_REGEN_PLAN_CENSUS=1 sbt "testOnly graft.PlanCensusSpec"
  *
  * The census is pinned at sf0.001 (the shared test SF): AQE join picks
  * depend on input sizes, so the golden is only meaningful at the SF it
  * was recorded at.
  */
class PlanCensusSpec extends SparkTestBase {

  private val goldenPath = Paths.get("src/test/resources/plan_census_sf0.001.txt")

  test("per-query shuffle/broadcast census matches the committed golden") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val censuses = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // cleared per query: a lingering cache would swap a scan subtree for
      // InMemoryRelation and make the census depend on suite order
      spark.catalog.clearCache()
      name -> PlanCensus.of(fn(spark, sf))
    }
    val actual = censuses.map { case (name, c) => c.line(name) }

    // anti-pattern flags are only legal with an explicit, justified
    // exemption (PlanCensus.exemptFlags) — the golden alone would let a
    // new cartesian in through a blind regeneration
    val unexempted = censuses.flatMap { case (name, c) =>
      c.flags.filterNot(f =>
          PlanCensus.exemptFlags.getOrElse(name, Map.empty).contains(f))
        .map(f => s"  $name: $f")
    }
    assert(unexempted.isEmpty,
      "anti-pattern flag without an exemption in PlanCensus.exemptFlags:\n" +
        unexempted.mkString("\n"))
    val stale = PlanCensus.exemptFlags.toSeq.flatMap { case (name, fs) =>
      val live = censuses.collectFirst { case (`name`, c) => c.flags }
        .getOrElse(Seq.empty)
      fs.keys.filterNot(live.contains).map(f => s"  $name: $f")
    }
    assert(stale.isEmpty,
      "stale exemption (flag no longer present — remove it):\n" +
        stale.mkString("\n"))
    if (sys.env.get("GRAFT_REGEN_PLAN_CENSUS").contains("1")) {
      Files.createDirectories(goldenPath.getParent)
      Files.writeString(goldenPath, actual.mkString("", "\n", "\n"))
      info(s"regenerated $goldenPath")
    } else {
      assert(Files.exists(goldenPath),
        s"golden file missing — run GRAFT_REGEN_PLAN_CENSUS=1 sbt 'testOnly graft.PlanCensusSpec'")
      val golden = Files.readString(goldenPath).linesIterator.toSeq
        .filter(_.nonEmpty)
      val goldenByName = golden.map(l => l.split(" ", 2)(0) -> l).toMap
      val actualByName = actual.map(l => l.split(" ", 2)(0) -> l).toMap
      val drift = (goldenByName.keySet ++ actualByName.keySet).toSeq.sorted.flatMap { n =>
        (goldenByName.get(n), actualByName.get(n)) match {
          case (Some(g), Some(a)) if g != a => Some(s"  changed: '$g' -> '$a'")
          case (Some(g), None)              => Some(s"  removed: '$g'")
          case (None, Some(a))              => Some(s"  added:   '$a'")
          case _                            => None
        }
      }
      assert(drift.isEmpty,
        "plan census drifted — review, then regenerate the golden if intentional " +
          "(GRAFT_REGEN_PLAN_CENSUS=1 sbt 'testOnly graft.PlanCensusSpec'):\n" +
          drift.mkString("\n"))
    }
  }
}
