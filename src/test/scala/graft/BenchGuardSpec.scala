package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r14 "what's wrong #1": the dirty-overwrite guard recognized a
  * clean canonical by the literal substring `"load_warning":false`, so a
  * committed record re-serialized by Python tooling (`": "` separators)
  * silently disarmed it and the driver's load-warned end-of-round run
  * clobbered the clean BENCH_LOCAL.json. The guard is now
  * whitespace-insensitive; this spec locks BOTH serializations plus the
  * cases that must stay dirty. */
class BenchGuardSpec extends AnyFunSuite {

  test("clean record recognized in Scala-compact serialization") {
    assert(Bench.isCleanRecord(
      """{"metric":"total","value":90.807,"load_warning":false,"repeat":2}"""))
  }

  test("clean record recognized in Python-reserialized form (': ' separators)") {
    // json.dump(..., indent=1) style — the exact shape that disarmed the
    // r14 guard
    assert(Bench.isCleanRecord(
      """|{
         | "metric": "total",
         | "value": 90.807,
         | "load_warning": false,
         | "repeat": 2
         |}""".stripMargin))
  }

  test("load-warned record is NOT clean in either serialization") {
    assert(!Bench.isCleanRecord("""{"value":112.3,"load_warning":true}"""))
    assert(!Bench.isCleanRecord("{\n \"value\": 112.3,\n \"load_warning\": true\n}"))
  }

  test("missing flag / unreadable content is NOT clean") {
    assert(!Bench.isCleanRecord("""{"value":90.8}"""))
    assert(!Bench.isCleanRecord(""))
  }

  test("record routing: only a clean full-set canonical-core run may touch the canonical (VERDICT r17 #2/#3)") {
    // only the canonical holds a clean record on disk
    val canonClean = Set("BENCH_LOCAL.json")
    val noneClean = Set.empty[String]
    // clean full run on canonical cores -> canonical
    assert(Bench.targetFor(subsetRun = false, cpus = 32, canonCpus = 32,
      loadWarn = false, cleanOnDisk = canonClean) == "BENCH_LOCAL.json")
    // a CLEAN subset run must never clobber the canonical (the r17 failure)
    assert(Bench.targetFor(subsetRun = true, cpus = 32, canonCpus = 32,
      loadWarn = false, cleanOnDisk = canonClean) == "BENCH_LOCAL_SUBSET.json")
    // the driver's clean 8-core scaling run goes to a core-stamped side file
    assert(Bench.targetFor(subsetRun = false, cpus = 8, canonCpus = 32,
      loadWarn = false, cleanOnDisk = canonClean) == "BENCH_LOCAL_C8.json")
    // load-warned full run on canonical cores with a clean canonical on disk
    assert(Bench.targetFor(subsetRun = false, cpus = 32, canonCpus = 32,
      loadWarn = true, cleanOnDisk = canonClean) == "BENCH_LOCAL_DIRTY.json")
    // ... but when no clean canonical exists, a warned run may still seed it
    assert(Bench.targetFor(subsetRun = false, cpus = 32, canonCpus = 32,
      loadWarn = true, cleanOnDisk = noneClean) == "BENCH_LOCAL.json")
    // subset beats every other rule (even load-warned non-canonical cores)
    assert(Bench.targetFor(subsetRun = true, cpus = 8, canonCpus = 32,
      loadWarn = true, cleanOnDisk = canonClean) == "BENCH_LOCAL_SUBSET.json")
    // a full run over a NON-CANONICAL corpus (an sf1 scratch dir) must not
    // clobber the sf0.1 canonical either — the r18 variant of the clobber
    assert(Bench.targetFor(subsetRun = false, cpus = 32, canonCpus = 32,
      loadWarn = false, cleanOnDisk = canonClean, sfIsCanon = false)
      == "BENCH_LOCAL_ALTSF.json")
  }

  test("record routing: a load-warned run never replaces a clean side record") {
    val sideClean = Set("BENCH_LOCAL_C8.json", "BENCH_LOCAL_SUBSET.json",
      "BENCH_LOCAL_ALTSF.json")
    // every side target gets the same _DIRTY diversion as the canonical
    assert(Bench.targetFor(subsetRun = false, cpus = 8, canonCpus = 32,
      loadWarn = true, cleanOnDisk = sideClean) == "BENCH_LOCAL_C8_DIRTY.json")
    assert(Bench.targetFor(subsetRun = true, cpus = 32, canonCpus = 32,
      loadWarn = true, cleanOnDisk = sideClean) == "BENCH_LOCAL_SUBSET_DIRTY.json")
    assert(Bench.targetFor(subsetRun = false, cpus = 32, canonCpus = 32,
      loadWarn = true, cleanOnDisk = sideClean, sfIsCanon = false)
      == "BENCH_LOCAL_ALTSF_DIRTY.json")
    // a clean run, or a warned run over a dirty/missing record, keeps the target
    assert(Bench.targetFor(subsetRun = false, cpus = 8, canonCpus = 32,
      loadWarn = false, cleanOnDisk = sideClean) == "BENCH_LOCAL_C8.json")
    assert(Bench.targetFor(subsetRun = false, cpus = 4, canonCpus = 32,
      loadWarn = true, cleanOnDisk = sideClean) == "BENCH_LOCAL_C4.json")
  }

  test("per-query repeat divergence (VERDICT r16 #2)") {
    // the r16 canonical's emb_silhouette shape: one 8.4x-spiked repeat
    assert(Bench.divergence(Seq(0.34, 2.88)) > Bench.divergenceLimit)
    // agreeing warm repeats are clean
    assert(Bench.divergence(Seq(1.00, 1.25)) <= Bench.divergenceLimit)
    // degenerate inputs never divide by surprise
    assert(Bench.divergence(Seq(0.5)) == 1.0)
    assert(Bench.divergence(Nil) == 1.0)
    // an extra clean run does not hide that the spread stays >2x —
    // the query is flagged divergent even though its min is trustworthy
    assert(Bench.divergence(Seq(0.34, 2.88, 0.35)) > Bench.divergenceLimit)
  }
}
