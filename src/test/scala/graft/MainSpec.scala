package graft

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {

  test("a malformed setting fails naming its argument or variable") {
    assert(Main.setting("cores argument", "4")(_.toInt) == 4)
    for (source <- Seq("nDocs argument", "cores argument", "SPARK_GRAFT_CPUS")) {
      val e = intercept[IllegalArgumentException](Main.setting(source, "8x")(_.toLong))
      assert(e.getMessage == s"$source: not a number: '8x'")
    }
  }
}
