package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench contention gate (pure decision logic — the measured inputs are
  * exercised by the bench run itself).
  *
  * The r8 failure mode this pins: steady external load inflated every pass
  * of every query uniformly, so max/min pass spread stayed at 1.6 and the
  * worsening fraction stayed low — `contended: false` on an artifact whose
  * numbers were 2-20× off. Only an absolute throughput reference catches
  * that shape.
  */
class BenchGateSpec extends AnyFunSuite {

  test("quiet run: relative stats quiet, canary at best -> not contended") {
    assert(!Bench.contendedVerdict(medianSpread = 1.2, worsening = 0.1,
      maxLoad = 8.0, cpus = 32, canaryNow = 5000, canaryBest = 5074))
  }

  test("synthetic steady load: spread 1.0 but canary at half best -> contended") {
    // all passes uniformly 2x slower: spread/worsening/load all look quiet
    assert(Bench.contendedVerdict(medianSpread = 1.0, worsening = 0.0,
      maxLoad = 4.0, cpus = 32, canaryNow = 2500, canaryBest = 5074))
  }

  test("the exact r8 artifact shape trips: spread 1.60, canary 329 vs best 4951") {
    assert(Bench.contendedVerdict(medianSpread = 1.60, worsening = 0.2,
      maxLoad = 20.0, cpus = 32, canaryNow = 329, canaryBest = 4951))
  }

  test("canary threshold is 60% of stored best") {
    assert(!Bench.canaryTrips(nowMbps = 3050, bestMbps = 5000)) // 61%
    assert(Bench.canaryTrips(nowMbps = 2950, bestMbps = 5000)) // 59%
  }

  test("fresh machine (no stored best) never trips on the canary alone") {
    assert(!Bench.canaryTrips(nowMbps = 100, bestMbps = 0.0))
    assert(!Bench.contendedVerdict(medianSpread = 1.1, worsening = 0.0,
      maxLoad = 2.0, cpus = 32, canaryNow = 100, canaryBest = 0.0))
  }

  test("shuffle canary: threshold is 50% of per-cpus stored best; absent best seeds") {
    assert(!Bench.shuffleCanaryTrips(nowKrps = 2600, bestKrps = 5000)) // 52%
    assert(Bench.shuffleCanaryTrips(nowKrps = 2400, bestKrps = 5000)) // 48%
    assert(!Bench.shuffleCanaryTrips(nowKrps = 100, bestKrps = 0.0))
  }

  test("memory pressure: trips below 25% of physical RAM; unknown never trips") {
    assert(Bench.memPressure(availMb = 20000, totalMb = 128000)) // 15.6%
    assert(!Bench.memPressure(availMb = 40000, totalMb = 128000)) // 31%
    assert(!Bench.memPressure(availMb = -1, totalMb = 128000))
    assert(!Bench.memPressure(availMb = 100, totalMb = -1))
  }

  test("monotonic trip: the poisoned-r9 p03 shape (2.94 -> 31.56 -> 56.29) trips") {
    val shaped = Seq(
      "p03_curation" -> Vector(Some(2.94), Some(31.56), Some(56.29)),
      "q01_agg" -> Vector(Some(1.1), Some(1.2), Some(1.0)))
    assert(Bench.monotonicTripQueries(shaped) == Seq("p03_curation"))
  }

  test("monotonic trip: ordinary jitter, sub-3x growth, fast queries, and failed passes don't trip") {
    assert(Bench.monotonicTripQueries(Seq(
      // strictly increasing but only 2.5x total: jitter, not poison
      "a" -> Vector(Some(1.0), Some(1.8), Some(2.5)),
      // >3x growth but not strictly increasing
      "b" -> Vector(Some(1.0), Some(0.9), Some(4.0)),
      // sub-0.2s first pass: codegen-cache noise can triple it
      "c" -> Vector(Some(0.05), Some(0.1), Some(0.3)),
      // a failed pass disqualifies the query from the statistic
      "d" -> Vector(Some(1.0), None, Some(4.0)))).isEmpty)
  }

  test("oracle-proc match is executable-based: executing oracles trip") {
    assert(Bench.isOracleProc(Seq("duckdb", "/tmp/oracle.db")))
    assert(Bench.isOracleProc(Seq("/usr/bin/duckdb")))
    assert(Bench.isOracleProc(Seq("python3", "scripts/oracle_sweep.py", "--sf", "0.01")))
    assert(Bench.isOracleProc(Seq("/usr/bin/python3.11", "/root/repo/scripts/make_gate_json.py")))
    assert(Bench.isOracleProc(Seq("bash", "scripts/oracle_sweep.sh")))
  }

  test("oracle-proc match: viewers/editors whose cmdline MENTIONS an oracle file don't trip") {
    // the r10 substring match false-tripped the hard gate on all of these
    assert(!Bench.isOracleProc(Seq("vim", "scripts/oracle_sweep.py")))
    assert(!Bench.isOracleProc(Seq("less", "/tmp/duckdb_run.log")))
    assert(!Bench.isOracleProc(Seq("tail", "-f", "/tmp/oracle_sweep.out")))
    assert(!Bench.isOracleProc(Seq("grep", "-rn", "make_gate", "scripts")))
    // a python process running something else entirely
    assert(!Bench.isOracleProc(Seq("python3", "scripts/merge_bench.py", "a", "b", "11", "out")))
    assert(!Bench.isOracleProc(Seq.empty))
  }

  test("canary-file parse round-trips numbers bare and strings with quotes") {
    val m = Bench.parseCanaryJson(
      """{"best_mbps":6257.4,"point":"chunk100_comp0_enc0_10mib",""" +
        """"shuffle_best_krps_cpus32":21187.5,"shuffle_best_krps_cpus32_boot":"ab-12"}""")
    assert(m("best_mbps") == "6257.4")
    assert(m("point") == "\"chunk100_comp0_enc0_10mib\"")
    assert(m("shuffle_best_krps_cpus32") == "21187.5")
    assert(m("shuffle_best_krps_cpus32_boot") == "\"ab-12\"")
    assert(Bench.parseCanaryJson("") == Map.empty)
  }

  test("boot-scoped shuffle best: cross-boot decay 0.7x keeps r11's quiet readings above the floor") {
    // r11 driver shape: quiet fresh-JVM readings 0.40-0.47 of a 21188-krps
    // cross-regime best tripped the 0.5 floor. Under the decayed best
    // (0.7x) the same readings sit at 0.57-0.67 -> no trip; a genuinely
    // loaded box (<0.35 of the old regime's best) still trips.
    val decayed = 0.7 * 21187.5
    assert(!Bench.shuffleCanaryTrips(nowKrps = 10033, bestKrps = decayed)) // r11 attempt-1 reading
    assert(!Bench.shuffleCanaryTrips(nowKrps = 8442, bestKrps = decayed))
    assert(Bench.shuffleCanaryTrips(nowKrps = 7000, bestKrps = decayed)) // 0.33 of old best
  }

  test("boot id is non-empty and stable within the process") {
    val b = Bench.bootId()
    assert(b.nonEmpty)
    assert(Bench.bootId() == b)
  }

  test("suspect-stall label: >5x committed min AND >=1s absolute; advisory shapes don't") {
    val ref = Map("p01_clean" -> 0.45, "m09_kernel" -> 0.41, "q12_floor" -> 0.05,
      "t01_tok" -> 0.30)
    val runs = Seq(
      // the r12 driver-leg shape: every pass inflated, min 13.9 vs 0.45
      "p01_clean" -> Vector(Some(13.9), Some(14.2), Some(15.0)),
      // 5x but under the 1s absolute floor -> jitter, not a stall label
      "q12_floor" -> Vector(Some(0.4), Some(0.5), Some(0.45)),
      // 2x the committed min: regression territory, not a stall label
      "t01_tok" -> Vector(Some(0.62), Some(0.65), Some(0.7)),
      // no reference entry (new query) -> never labeled
      "zz_new" -> Vector(Some(9.9), Some(9.9), Some(9.9)),
      // one stalled pass but a healthy min -> min-of-passes already saved it
      "m09_kernel" -> Vector(Some(5.1), Some(0.43), Some(0.44)))
    assert(Bench.suspectStallQueries(runs, ref) == Seq("p01_clean"))
    // no committed reference (fresh checkout) -> sensor disabled entirely
    assert(Bench.suspectStallQueries(runs, Map.empty).isEmpty)
  }

  test("stall reference: query minima only, and a reason whenever the sensor is off") {
    val detail = """{"metric":"total","value":54.6,"queries":{"a01_sketches":0.95,"b01_bm25":0.22},""" +
      """"sf":"/root/testdata/sf0.1","passes":3,"transform_mbps":812.5}"""
    assert(Bench.stallReference(detail, "sf0.1") ==
      Right(Map("a01_sketches" -> 0.95, "b01_bm25" -> 0.22)))
    // another SF's detail, no queries object, or not JSON at all: off, with the reason
    assert(Bench.stallReference(detail, "sf1").left.exists(_.contains("sf0.1")))
    assert(Bench.stallReference("""{"sf":"sf0.1","value":1.0}""", "sf0.1") ==
      Left("has no queries object"))
    assert(Bench.stallReference("{truncated", "sf0.1").left.exists(_.startsWith("is not JSON")))
  }

  test("ramping load still trips through the relative statistics") {
    assert(Bench.contendedVerdict(medianSpread = 2.5, worsening = 0.1,
      maxLoad = 2.0, cpus = 32, canaryNow = 5000, canaryBest = 5074))
    assert(Bench.contendedVerdict(medianSpread = 1.1, worsening = 0.5,
      maxLoad = 2.0, cpus = 32, canaryNow = 5000, canaryBest = 5074))
    assert(Bench.contendedVerdict(medianSpread = 1.1, worsening = 0.1,
      maxLoad = 60.0, cpus = 32, canaryNow = 5000, canaryBest = 5074))
  }
}
