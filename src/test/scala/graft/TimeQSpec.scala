package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.TimeQ

/** `graft.tools.TimeQ`'s argument check, which runs before any session
  * or build exists. */
class TimeQSpec extends AnyFunSuite {
  test("unknown query names are listed in order; the shared-build entries are among them") {
    assert(TimeQ.unknownNames(Seq("q_gapfill", "_shared_pairs", "q_nope", "q_ace_corr")) ==
      Seq("_shared_pairs", "q_nope"))
    assert(TimeQ.unknownNames(SparkEntry.queries.keys.toSeq).isEmpty)
  }
}
