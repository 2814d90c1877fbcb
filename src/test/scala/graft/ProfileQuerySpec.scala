package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ProfileQuery

/** SPARK_GRAFT_EXTRA_CONF parsing: malformed input fails with a message
  * naming the bad segment, never a MatchError. */
class ProfileQuerySpec extends AnyFunSuite {

  test("extra conf: k=v pairs parse; values may contain '='; blank " +
      "segments (a trailing ';') are skipped") {
    assert(ProfileQuery.parseExtraConf("a.b=1;c=x=y;") ==
      Seq("a.b" -> "1", "c" -> "x=y"))
    assert(ProfileQuery.parseExtraConf(";;a=1; ;") == Seq("a" -> "1"))
    assert(ProfileQuery.parseExtraConf("") == Nil)
  }

  test("extra conf: a segment without '=' is rejected by name") {
    val e = intercept[IllegalArgumentException](
      ProfileQuery.parseExtraConf("a=1;spark.oops;b=2"))
    assert(e.getMessage.contains("'spark.oops'"))
  }
}
