package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives RetryDeterminism in a fresh `local[4, 2]` JVM: a task fails on
  * its first attempt, Spark retries it, and the exact-decimal aggregate
  * must produce a bit-identical result to the failure-free run. */
class RetryDeterminismSpec extends AnyFunSuite {

  test("task retry leaves exact aggregates bit-identical") {
    val (code, out) = TestJvm.run("graft.RetryDeterminism", Nil,
      sysProps = Seq("spark.sql.session.timeZone" -> "UTC"))
    assert(code == 0, s"retry JVM failed:\n$out")
    assert(out.contains("equal=true"), out)
    assert(out.contains("rows=97"), out)
    // ManifestSink under retry: complete manifest, no staged leftovers.
    assert(out.contains("SINK_OK files=4 rows=1000 tmps=0"), out)
  }
}
