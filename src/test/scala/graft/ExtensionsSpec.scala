package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions wiring proof: a FRESH JVM whose only link to the
  * library is `spark.sql.extensions=graft.GraftExtensions` resolves the
  * custom SQL functions and carries the TopKPerKey strategy — the
  * deployment path a spark-submit user takes. (In-process suites share a
  * session built without the conf, so the subprocess is the honest
  * test.) */
class ExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions alone wires functions and strategy") {
    val (code, out) = TestJvm.run("graft.ExtensionsDemo", Nil,
      sysProps = Seq("spark.sql.session.timeZone" -> "UTC"))
    assert(code == 0, s"demo JVM failed:\n$out")
    assert(out.contains(
      "EXT_OK cos=1.0 ngrams=a b|b c|c d hamming=3 topk=z,e strategy=true " +
        "dedup=1:1,2:5 kernel=true ksum=0"),
      out)
  }
}
