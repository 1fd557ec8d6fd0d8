package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-artifact merge policy (VERDICT r9 task 1): the
  * committed bench_out.json is the drift baseline every future round
  * grades against, so its update rules are load-bearing evidence, not
  * plumbing. The specific regression this spec exists for: a uniformly
  * contended host (every query ~1.3× slower) passes the old >2×
  * per-query drift check and silently REPLACES a quiet baseline — r9
  * shipped exactly that artifact (median ratio 1.20 vs the 0a5d49e
  * quiet run). The median gate must catch it.
  */
class BenchMergeSpec extends AnyFunSuite {

  private val registry = (1 to 100).map(i => f"q$i%03d").toSet
  private val quiet: Map[String, Double] = registry.map(_ -> 1.0).toMap

  test("uniform 1.3x full-registry run does NOT replace the baseline") {
    val contended = quiet.map { case (k, v) => k -> v * 1.3 }
    val (merged, warnings) = Bench.mergeRuns(quiet, contended, registry)
    assert(merged.toMap === quiet, "prior values must win on overlap")
    assert(warnings.exists(_.contains("CONTENDED")), warnings.mkString("; "))
  }

  test("uniform 1.3x run still merges its genuinely-new keys") {
    val newKey = "q_new"
    val contended = quiet.map { case (k, v) => k -> v * 1.3 } + (newKey -> 2.0)
    val (merged, _) = Bench.mergeRuns(quiet, contended, registry + newKey)
    assert(merged.toMap.apply(newKey) === 2.0)
    assert(merged.toMap.apply("q001") === 1.0)
  }

  test("quiet full run (median 1.02x) replaces the baseline") {
    val run = quiet.map { case (k, v) => k -> v * 1.02 }
    val (merged, warnings) = Bench.mergeRuns(quiet, run, registry)
    assert(merged.toMap === run)
    assert(!warnings.exists(_.contains("CONTENDED")))
  }

  test("median-clean full run with a 5x tail CANNOT replace the tail keys") {
    // the r13 driver run: median ratio 1.03 passed the contention gate
    // while the late-running x-series merged at 3.7-5.5x their quiet
    // prior values (x15_ks_drift 0.665 -> 3.632 s). The tail gate must
    // keep the prior for those keys while the quiet bulk merges.
    val run = quiet.map { case (k, v) =>
      k -> (if (k <= "q004") v * 5.0 else v * 1.03)
    }
    val (merged, warnings) = Bench.mergeRuns(quiet, run, registry)
    assert(merged.toMap.apply("q001") === 1.0, "tail outlier must keep prior")
    assert(merged.toMap.apply("q004") === 1.0)
    assert(merged.toMap.apply("q005") === 1.03, "quiet bulk must merge")
    assert(!warnings.exists(_.contains("CONTENDED")))
    assert(warnings.count(_.contains("TAIL OUTLIER")) === 4,
      warnings.mkString("; "))
  }

  test("tail outliers in a full run merge when explicitly accepted") {
    val run = quiet.map { case (k, v) =>
      k -> (if (k == "q001") v * 3.0 else v)
    }
    val (byKey, _) =
      Bench.mergeRuns(quiet, run, registry, acceptDrift = Set("q001"))
    assert(byKey.toMap.apply("q001") === 3.0)
    val (byAll, _) =
      Bench.mergeRuns(quiet, run, registry, acceptDrift = Set("all"))
    assert(byAll.toMap.apply("q001") === 3.0)
    val (gated, warnings) = Bench.mergeRuns(quiet, run, registry)
    assert(gated.toMap.apply("q001") === 1.0)
    assert(warnings.exists(_.contains("TAIL OUTLIER")))
  }

  test("partial isolated re-measure bypasses the tail gate") {
    // re-running ONE key in isolation is the documented way to accept a
    // genuine regression into the artifact — no env var needed
    val partial = Map("q001" -> 3.0)
    val (merged, warnings) = Bench.mergeRuns(quiet, partial, registry)
    assert(merged.toMap.apply("q001") === 3.0)
    assert(!warnings.exists(_.contains("TAIL OUTLIER")))
  }

  test("partial run merges over prior and can't shrink the baseline") {
    val partial = Map("q001" -> 0.5, "q002" -> 1.3)
    val (merged, warnings) = Bench.mergeRuns(quiet, partial, registry)
    assert(merged.size === 100)
    assert(merged.toMap.apply("q001") === 0.5)
    assert(merged.toMap.apply("q002") === 1.3)
    assert(merged.toMap.apply("q003") === 1.0)
    assert(!warnings.exists(_.contains("CONTENDED")),
      "the gate is for full-registry runs, not partial re-measures")
  }

  test("stale prior keys (renamed/deleted queries) are dropped and logged") {
    val priorWithStale = quiet + ("q_renamed_away" -> 9.9)
    val run = Map("q001" -> 1.0)
    val (merged, warnings) = Bench.mergeRuns(priorWithStale, run, registry)
    assert(!merged.toMap.contains("q_renamed_away"))
    assert(warnings.exists(_.contains("q_renamed_away")))
  }

  test("empty prior (first run) merges the run as-is") {
    val run = quiet
    val (merged, warnings) = Bench.mergeRuns(Map.empty, run, registry)
    assert(merged.toMap === run)
    assert(warnings.isEmpty)
  }

  test("the compact last line fits a stdout tail and carries the full line's total") {
    // registry-sized: the full per-query line overflows a 2000-char tail
    val run = (1 to 232).map(i => f"q$i%03d_registry_query" -> i / 1000.0)
    val full = Bench.jsonLine(run, Bench.defaultSfDir, "4")
    val compact = Bench.compactLine(run, Bench.defaultSfDir, "4", "bench_out.c4.json")
    assert(full.length > 2000 && compact.length < 200, compact)
    val value = """"value":([0-9.]+)""".r
    assert(value.findFirstMatchIn(compact).map(_.group(1)) ===
      value.findFirstMatchIn(full).map(_.group(1)))
    assert(compact === """{"metric":"total","value":27.028000,"n":232,""" +
      """"sf":"/root/testdata/sf0.1","cpus":4,"artifact":"bench_out.c4.json"}""")
    // a first run's raw line is the artifact it writes, and it parses back
    val (merged, _) = Bench.mergeRuns(Map.empty, run.toMap, run.map(_._1).toSet)
    assert(Bench.jsonLine(merged, Bench.defaultSfDir, "4") === full)
    assert(Bench.parsePrior(full, Bench.defaultSfDir, "4")._1 === run.toMap)
  }

  test("the artifact records each query's best-of-2 samples beside their minimum, and parses to the minima") {
    val samples = Map("q001" -> Seq(0.5, 0.25), "q002" -> Seq(2.0, 3.5))
    val run = samples.toSeq.sortBy(_._1).map { case (k, ts) => k -> ts.min }
    val artifact = Bench.jsonLine(run, Bench.defaultSfDir, "4", samples)
    assert(artifact.contains(""""samples":{"q001":[0.500000,0.250000],"q002":[2.000000,3.500000]}"""),
      artifact)
    assert(Bench.parsePrior(artifact, Bench.defaultSfDir, "4") === (run.toMap, Nil))
    // the full line without samples is unchanged
    assert(Bench.jsonLine(run, Bench.defaultSfDir, "4") === """{"metric":"total","value":2.250000,""" +
      """"unit":"sec","queries":{"q001":0.250000,"q002":2.000000},"sf":"/root/testdata/sf0.1","cpus":4}""")
  }

  // --- artifact path + prior guards (VERDICT r14 task 2: the driver's
  // 8-core scaling run merged into the 32-core bench_out.json, wiping
  // the full 32-core per-query record; cross-CPU must divert exactly
  // like cross-SF) ---

  test("default run writes bench_out.json") {
    val (p, warn) = Bench.artifactPath(None, Bench.defaultSfDir, "32")
    assert(p === "bench_out.json")
    assert(warn.isEmpty)
  }

  test("a simulated 8-core run leaves the 32-core artifact intact") {
    val (p, warn) = Bench.artifactPath(None, Bench.defaultSfDir, "8")
    assert(p === "bench_out.c8.json", "foreign-CPU run must divert")
    assert(warn.nonEmpty)
  }

  test("foreign-SF run diverts to the SF-suffixed sibling") {
    val (p, _) = Bench.artifactPath(None, "/root/testdata/sf1", "32")
    assert(p === "bench_out._root_testdata_sf1.json")
    val (p2, _) = Bench.artifactPath(None, "/root/testdata/sf1", "8")
    assert(p2 === "bench_out._root_testdata_sf1.c8.json")
  }

  test("explicit SPARK_GRAFT_BENCH_OUT always wins") {
    val (p, warn) = Bench.artifactPath(Some("/tmp/x.json"), "/root/testdata/sf1", "8")
    assert(p === "/tmp/x.json")
    assert(warn.isEmpty)
  }

  test("prior at a different core count is ignored as the baseline") {
    val ref = """{"metric":"total","value":2.0,"unit":"sec","queries":{"q001":2.000000},"sf":"/root/testdata/sf0.1","cpus":8}"""
    val (m, warns) = Bench.parsePrior(ref, Bench.defaultSfDir, "32")
    assert(m.isEmpty)
    assert(warns.exists(_.contains("8 cpus")))
  }

  test("prior at the same core count parses; cpus is not a query key") {
    val ref = """{"metric":"total","value":2.0,"unit":"sec","queries":{"q001":2.000000},"sf":"/root/testdata/sf0.1","cpus":32}"""
    val (m, warns) = Bench.parsePrior(ref, Bench.defaultSfDir, "32")
    assert(m === Map("q001" -> 2.0))
    assert(warns.isEmpty)
  }

  test("pre-r15 prior without a cpus field still serves, with a warning") {
    val ref = """{"metric":"total","value":2.0,"unit":"sec","queries":{"q001":2.000000},"sf":"/root/testdata/sf0.1"}"""
    val (m, warns) = Bench.parsePrior(ref, Bench.defaultSfDir, "32")
    assert(m === Map("q001" -> 2.0))
    assert(warns.exists(_.contains("no cpus field")))
  }

  test("prior at a different SF is ignored as the baseline") {
    val ref = """{"metric":"total","value":2.0,"unit":"sec","queries":{"q001":2.000000},"sf":"/root/testdata/sf1","cpus":32}"""
    val (m, warns) = Bench.parsePrior(ref, Bench.defaultSfDir, "32")
    assert(m.isEmpty)
    assert(warns.exists(_.contains("sf")))
  }
}
