package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contention baseline: the committed line it compares a run
  * against must come from the same scale factor AND the same core count. */
class BenchSpec extends AnyFunSuite {

  test("lastCommittedQueries matches cpus as well as sf") {
    val names = Seq("q1", "q2")
    val lines = Seq(
      """{"metric":"total","value":3.00,"unit":"sec","queries":{"q1":1.00,"q2":2.00},"failed":[],"sf":0.1,"reps":3,"cpus":"4","ts":1}""",
      // newer, same sf, but a 32-core box (cpus written bare, as older lines do)
      """{"metric":"total","value":0.30,"unit":"sec","queries":{"q1":0.10,"q2":0.20},"failed":[],"sf":0.1,"reps":3,"cpus":32,"ts":2}""")
    assert(Bench.lastCommittedQueries(lines, "0.1", "4", names) ===
      Some(Map("q1" -> 1.0, "q2" -> 2.0)))
    assert(Bench.lastCommittedQueries(lines, "0.1", "32", names) ===
      Some(Map("q1" -> 0.1, "q2" -> 0.2)))
    assert(Bench.lastCommittedQueries(lines, "0.1", "8", names) === None)
    assert(Bench.lastCommittedQueries(lines, "1", "4", names) === None)
  }
}
