package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftEnvSpec extends AnyFunSuite {

  private def parse(v: Option[String]) =
    GraftEnv.parse("SPARK_GRAFT_TEST", v, default = 7L, min = 1L)

  test("unset takes the default") {
    assert(parse(None) == 7L)
  }

  test("a valid value is used, surrounding whitespace trimmed") {
    assert(parse(Some("42")) == 42L)
    assert(parse(Some(" 3 ")) == 3L)
    assert(parse(Some("1")) == 1L) // the minimum itself is allowed
  }

  test("a malformed value throws, naming the variable") {
    Seq("", "abc", "1.5", "4g", "99999999999999999999").foreach { raw =>
      val e = intercept[IllegalArgumentException](parse(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_TEST"), e.getMessage)
    }
  }

  test("a value below the minimum throws, naming the variable") {
    Seq("0", "-5").foreach { raw =>
      val e = intercept[IllegalArgumentException](parse(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_TEST"), e.getMessage)
      assert(e.getMessage.contains("minimum"), e.getMessage)
    }
  }
}
