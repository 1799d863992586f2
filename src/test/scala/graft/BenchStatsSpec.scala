package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contamination machinery, tested as pure functions: the
  * min-statistic regression compare (a deliberately planted 2x
  * slowdown must trip it), prior-artifact parsing (qmin field, schema
  * guard, garbage tolerance, the writer's own output), and the
  * foreign-cpu ambient signal
  * (our own busy-spin must NOT register as ambient load — that
  * self-blindness is the whole point of the /proc/self subtraction).
  */
class BenchStatsSpec extends AnyFunSuite {

  test("a deliberate 2x slowdown trips the min-statistic regression compare") {
    val prev = Map("q_fast" -> 1.0, "q_slow" -> 2.0, "q_gone" -> 1.5)
    val cur = Map("q_fast" -> 2.0, "q_slow" -> 2.1, "q_new" -> 9.9)
    val hits = Bench.regressions(prev, cur, threshold = 1.3)
    assert(hits === Seq("q_fast" -> 2.0))
    // at a tighter threshold the 1.05x drift still stays quiet
    assert(Bench.regressions(prev, cur, threshold = 1.06)
      === Seq("q_fast" -> 2.0))
  }

  test("sub-second jitter below the absolute floor never flags") {
    // 1.6x ratio but only 90ms absolute: scheduler noise, not a plan
    val prev = Map("q_tiny" -> 0.15, "q_real" -> 1.0)
    val cur = Map("q_tiny" -> 0.24, "q_real" -> 1.6)
    assert(Bench.regressions(prev, cur, threshold = 1.3)
      === Seq("q_real" -> 1.6))
  }

  test("failed / absent queries never enter the regression compare") {
    val prev = Map("a" -> -1.0, "b" -> 0.0, "c" -> 1.0)
    val cur = Map("a" -> 5.0, "b" -> 5.0, "c" -> -1.0)
    assert(Bench.regressions(prev, cur, threshold = 1.3).isEmpty)
  }

  /** Writes `body` to `name` under `dir`, returning its path. */
  private def write(dir: java.nio.file.Path, name: String,
                    body: String): String = {
    val p = dir.resolve(name)
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("priorMins reads qmin, refuses pre-noop schemas, tolerates garbage") {
    val dir = Files.createTempDirectory("graft_bench_spec")
    val withQmin = write(dir, "a.json",
      s"""{"schema":${Bench.ArtifactSchema},""" +
        """"queries":{"q1":2.0},"qmin":{"q1":1.5,"q2":0.7}}""")
    assert(Bench.priorMins(withQmin) === Map("q1" -> 1.5, "q2" -> 0.7))
    assert(Bench.priorMins(write(dir, "c.json", "not json {")) === Map.empty)
    assert(Bench.priorMins(dir.resolve("missing.json").toString)
      === Map.empty)
    // schema 2 and unversioned artifacts timed `.count()`, which column
    // pruning lets skip the derived columns the noop sink computes:
    // their mins are a different instrument, so the compare is skipped
    assert(Bench.ArtifactSchema === 3)
    val v2 = write(dir, "d.json", """{"schema":2,"qmin":{"q1":1.5}}""")
    assert(Bench.priorMins(v2) === Map.empty)
    val unversioned = write(dir, "b.json", """{"qmin":{"q1":1.5}}""")
    assert(Bench.priorMins(unversioned) === Map.empty)
    // a FUTURE schema is refused outright — the reader must never guess
    // at a format it doesn't know (driver ADVICE r11: version the
    // artifact so field-meaning drift fails loudly, not silently)
    val future = write(dir, "e.json",
      s"""{"schema":${Bench.ArtifactSchema + 1},"qmin":{"q1":1.5}}""")
    assert(Bench.priorMins(future) === Map.empty)
  }

  test("an artifact from the bench's own writer round-trips through " +
      "priorMins and priorMedians") {
    val json = Bench.artifactJson(
      "metric" -> "total", "value" -> 3.5,
      "queries" -> ListMap("q1" -> 2.0, "q2" -> 1.5),
      "rows" -> ListMap("q1" -> 10L, "q2" -> 0L),
      "qmin" -> ListMap("q1" -> 1.75, "q2" -> 1.25),
      "spread" -> ListMap("q1" -> Seq(1.75, 2.0, 2.5)),
      "errors" -> ListMap("q3" -> "boom: \"quoted\"\n\tand a tab"))
    assert(json.startsWith(
      s"""{"schema":${Bench.ArtifactSchema},"sink":"noop","""), json)
    val path = write(Files.createTempDirectory("graft_bench_rt"), "rt.json",
      json)
    assert(Bench.priorMins(path) === Map("q1" -> 1.75, "q2" -> 1.25))
    assert(Bench.priorMedians(path) === Map("q1" -> 2.0, "q2" -> 1.5))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    assert(root.path("rows").path("q1").asLong === 10L)
    assert(root.path("errors").path("q3").asText ===
      "boom: \"quoted\"\n\tand a tab")
  }

  test("priorMedians reads the queries field under the same schema guard") {
    val dir = Files.createTempDirectory("graft_bench_spec_med")
    // medians come from "queries", never from qmin
    val both = write(dir, "a.json",
      s"""{"schema":${Bench.ArtifactSchema},""" +
        """"queries":{"q1":2.0,"q2":0.9},"qmin":{"q1":1.5}}""")
    assert(Bench.priorMedians(both) === Map("q1" -> 2.0, "q2" -> 0.9))
    assert(Bench.priorMedians(write(dir, "b.json", "not json {"))
      === Map.empty)
    assert(Bench.priorMedians(dir.resolve("missing.json").toString)
      === Map.empty)
    val v2 = write(dir, "d.json", """{"schema":2,"queries":{"q1":2.0}}""")
    assert(Bench.priorMedians(v2) === Map.empty)
    val future = write(dir, "c.json",
      s"""{"schema":${Bench.ArtifactSchema + 1},"queries":{"q1":2.0}}""")
    assert(Bench.priorMedians(future) === Map.empty)
  }

  test("foreign-cpu ambient signal is blind to this JVM's own burn") {
    val a = Bench.cpuSnap()
    assume(a.busy >= 0 && a.self >= 0, "/proc not readable on this platform")
    // burn ~0.4s of OUR cpu on a few threads; the machine-minus-self
    // subtraction must keep the ambient estimate near zero even though
    // machine busy jiffies clearly advanced
    val deadline = System.nanoTime() + 400_000_000L
    val burners = (1 to 4).map { _ =>
      new Thread(() => {
        var x = 0L
        while (System.nanoTime() < deadline) { x += 1 }
        if (x == -1) println(x) // keep the loop un-optimizable
      })
    }
    burners.foreach(_.start()); burners.foreach(_.join())
    val b = Bench.cpuSnap()
    assert(b.self > a.self, "burn did not register as self cpu")
    val amb = Bench.ambientCores(a, b)
    // CI containers share the host; allow real ambient work but the
    // 4-core self burn (~4.0) must not leak into the estimate
    assert(amb >= 0 && amb < 3.0,
      s"self burn leaked into ambient estimate: $amb cores")
  }

  test("degenerate cpu snapshots report unmeasurable, not garbage") {
    val t = System.nanoTime()
    assert(Bench.ambientCores(Bench.CpuSnap(-1, 0, t),
      Bench.CpuSnap(100, 0, t + 1000000)) === -1.0)
    assert(Bench.ambientCores(Bench.CpuSnap(0, 0, t),
      Bench.CpuSnap(100, 0, t)) === -1.0)
  }
}
