package graft

/** The bench evidence channel and the three-arm retime trigger
  * (round-14 verdict asks #1/#7) — pure logic, no Spark session. */
class BenchSpec extends SparkSpec {

  test("retime trigger: ratio arm fires on warm > 1.3x cold above the " +
    "absolute floor") {
    // warm 2.0 vs cold 1.0 → inflated timed passes
    assert(BenchEvidence.isRetimeSuspect(2.0, 1.0, None))
    // same ratio under the 1s absolute floor: noise, no re-time
    assert(!BenchEvidence.isRetimeSuspect(0.9, 0.4, None))
    // warm ≤ cold: a warm pass repeating a subset of cold's work
    assert(!BenchEvidence.isRetimeSuspect(2.0, 2.0, None))
  }

  test("retime trigger: heavy arm fires regardless of the cold ratio") {
    // cold inflated TOGETHER with warm (the ratio arm's blind spot):
    // the absolute ceiling still catches it
    assert(BenchEvidence.isRetimeSuspect(6.0, 6.0, None))
    assert(!BenchEvidence.isRetimeSuspect(4.9, 4.9, None))
  }

  test("retime trigger: prior arm catches a sub-ceiling query whose " +
    "cold and warm inflated together") {
    // 3s warm, 3s cold: ratio arm blind (warm ≤ 1.3×cold), heavy arm
    // blind (< 5s) — but the committed prior record says 1.2s
    assert(!BenchEvidence.isRetimeSuspect(3.0, 3.0, None))
    assert(BenchEvidence.isRetimeSuspect(3.0, 3.0, Some(1.2)))
    // within 2× of the prior record: genuine drift, not a window
    assert(!BenchEvidence.isRetimeSuspect(3.0, 3.0, Some(1.6)))
    // prior arm also respects the absolute floor
    assert(!BenchEvidence.isRetimeSuspect(0.9, 0.9, Some(0.1)))
  }

  test("evidence file round-trips: priorWarms reads back what " +
    "evidenceJson wrote; round = max committed BENCH_r + 1") {
    val tmp = tempDir("bench_ev").toFile
    // simulate the driver's committed artifacts
    java.nio.file.Files.write(new java.io.File(tmp, "BENCH_r13.json")
      .toPath, "{}".getBytes("UTF-8"))
    assert(BenchEvidence.currentRound(tmp) === 14)
    val rows = Seq(("q_b", 2500L, 3000L, false), ("q_a", 150L, 90L, true))
    val json = BenchEvidence.evidenceJson(14, "/sf", (25.1, 21.7), rows)
    java.nio.file.Files.write(
      new java.io.File(tmp, "BENCH_LOCAL_r14.json").toPath,
      json.getBytes("UTF-8"))
    // our own BENCH_LOCAL file must not bump the round on a re-run
    assert(BenchEvidence.currentRound(tmp) === 14)
    val prior = BenchEvidence.priorWarms(tmp)
    assert(prior === Map("q_a" -> 0.15, "q_b" -> 2.5))
    // sorted names, retimed flag preserved
    assert(json.indexOf("\"q_a\"") < json.indexOf("\"q_b\""))
    assert(json.contains(""""q_a":{"warm_ms":150,"cold_ms":90,"retimed":true}"""))
    // no evidence file at all: the prior arm stays silent
    val empty = tempDir("bench_ev2").toFile
    assert(BenchEvidence.priorWarms(empty) === Map.empty)
    assert(BenchEvidence.currentRound(empty) === 1)
  }
}
