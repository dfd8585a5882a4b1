package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Verify <sf> <out> [q...]` must refuse a query name it does not
  * know: a silently dropped name leaves an empty compare that reads as
  * zero failures. */
class VerifySpec extends AnyFunSuite {
  test("unknown query names are reported, registered ones pass") {
    assert(Verify.unknownNames(Seq("q01_pricing_summary",
      "q48_dedup_clusters")).isEmpty)
    assert(Verify.unknownNames(Seq("q01_pricing_summary", "q48_dedup",
      "q999_nope")) == Seq("q48_dedup", "q999_nope"))
  }
}
