package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench artifact validity (VERDICT r13 #2): a run whose `errors` map
  * is non-empty must self-identify as incomparable even when every
  * per-query median looks green — a staging OOM leaves n_failed at 0
  * while every staged query silently degrades to its unstaged path
  * (+73 s at 100×), and a tripwire hit means the measured inputs are
  * not the baseline's. */
class BenchArtifactSpec extends AnyFunSuite {

  test("clean run is valid") {
    assert(Bench.artifactValid(0, Map.empty))
  }

  test("per-query failures invalidate") {
    assert(!Bench.artifactValid(1, Map.empty))
  }

  test("a stage error invalidates even with zero failed queries") {
    assert(!Bench.artifactValid(0,
      Map("stage_dedup" -> "STAGE_MATERIALIZATION_MULTIPLE_FAILURES")))
  }

  test("a schema-tripwire hit invalidates") {
    assert(!Bench.artifactValid(0,
      Map("schema_tripwire" -> "events.ts: INT64 (expected TIMESTAMP)")))
  }

  // ---- contention gate: wait-and-retry (VERDICT r15 #1) ----

  test("quiet boot sample passes with zero wait") {
    val (line, waited) = Bench.awaitQuietBox(() => "0.50 0.40 0.30 1/100 1")
    assert(line.startsWith("0.50") && waited == 0.0)
  }

  test("a gate trip waits and proceeds once the load clears") {
    // decaying post-build load: 6.1 -> 4.4 -> 2.0 across re-reads
    val samples = Iterator("6.10 3.00 2.00 1/100 1",
      "4.40 3.00 2.00 1/100 1", "2.00 2.50 2.00 1/100 1")
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val (line, waited) = Bench.awaitQuietBox(() => samples.next(),
      maxWaitMs = 180000L, stepMs = 10000L, sleep = slept += _)
    assert(Bench.contentionError(line).isEmpty)
    assert(waited == 20.0 && slept == Seq(10000L, 10000L))
  }

  test("a box still contended after the full wait records the error") {
    var reads = 0
    val (line, waited) = Bench.awaitQuietBox(
      () => { reads += 1; "9.00 9.00 9.00 1/100 1" },
      maxWaitMs = 30000L, stepMs = 10000L, sleep = _ => ())
    assert(Bench.contentionError(line).isDefined)
    assert(waited == 30.0 && reads == 4) // boot + one per step
  }

  test("the wait also holds for a sustained 5-min trip") {
    // 1-min quiet but 5-min above the hard (2x) tier: still waits
    val samples = Iterator("1.00 9.00 6.00 1/100 1", "1.00 7.00 6.00 1/100 1")
    val (line, waited) = Bench.awaitQuietBox(() => samples.next(),
      maxWaitMs = 180000L, stepMs = 10000L, sleep = _ => ())
    assert(Bench.load5Error(line).isEmpty && waited == 10.0)
  }

  // ---- 5-min tier (VERDICT r15 #3) ----

  test("5-min average between max and 2x max warns but does not error") {
    val line = "1.00 5.94 4.00 1/100 1" // the r15 16 GiB boot shape
    assert(Bench.load5Error(line).isEmpty)
    assert(Bench.load5Warning(line).isDefined)
  }

  test("5-min average above 2x max errors") {
    val line = "1.00 8.50 4.00 1/100 1"
    assert(Bench.load5Error(line).isDefined)
    assert(Bench.load5Warning(line).isEmpty)
  }

  test("quiet 5-min average neither warns nor errors") {
    val line = "0.50 0.40 0.30 1/100 1"
    assert(Bench.load5Error(line).isEmpty && Bench.load5Warning(line).isEmpty)
  }

  test("load parsing: fields and NaN off-Linux") {
    assert(Bench.load1("1.25 2.50 3.75 1/100 1") == 1.25)
    assert(Bench.load5("1.25 2.50 3.75 1/100 1") == 2.50)
    assert(Bench.load15("1.25 2.50 3.75 1/100 1") == 3.75)
    assert(Bench.load1("").isNaN && Bench.load5("").isNaN && Bench.load15("").isNaN)
  }

  // ---- 15-min tier (VERDICT r18 #2) ----

  test("recently-vacated box (the r18 driver boot shape) earns a load15 warning, stays valid") {
    // load1 0.49 / load5 1.81 / load15 4.52: passed both r18 tiers
    // clean and carried a 2.3x inflated total
    val line = "0.49 1.81 4.52 4/482 6678"
    assert(Bench.contentionError(line).isEmpty)
    assert(Bench.load5Error(line).isEmpty && Bench.load5Warning(line).isEmpty)
    assert(Bench.load15Warning(line).isDefined,
      "the 15-min tail must warn so the artifact marks its settling box")
  }

  test("quiet 15-min average does not warn; tier never blocks the wait loop") {
    assert(Bench.load15Warning("0.50 0.40 3.99 1/100 1").isEmpty)
    // load15 high but 1/5-min quiet: awaitQuietBox must NOT hold (a
    // 15-min average needs ~15 min to decay — warn, don't block)
    val (_, waited) = Bench.awaitQuietBox(() => "0.50 0.40 9.00 1/100 1")
    assert(waited == 0.0)
  }

  // ---- page-cache warm pass (VERDICT r18 #2) ----

  test("warm pass reads the input files largest-first under the byte cap") {
    val dir = java.nio.file.Files.createTempDirectory("warm")
    def put(name: String, size: Int) =
      java.nio.file.Files.write(dir.resolve(name), Array.fill[Byte](size)(7))
    put("big.parquet", 4 << 20)
    put("small.parquet", 1 << 20)
    val (sec, bytes) = Bench.warmPageCache(dir.toString)
    assert(sec >= 0.0 && bytes == (5 << 20).toLong, s"expected full read, got $bytes")
    // cap bounds the read: with a 2 MiB budget the largest file alone
    // exhausts it (reads run in 1 MiB chunks, stop at >= cap)
    val (_, capped) = Bench.warmPageCache(dir.toString, capBytes = 2L << 20)
    assert(capped >= (2L << 20) && capped < (5L << 20),
      s"cap must bound the warm read, got $capped")
    // a missing dir is a no-op, never fatal
    val (_, none) = Bench.warmPageCache(dir.resolve("absent").toString)
    assert(none == 0L)
  }
}
