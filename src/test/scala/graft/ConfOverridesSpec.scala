package graft

import org.scalatest.funsuite.AnyFunSuite

class ConfOverridesSpec extends AnyFunSuite {

  test("parse reads key=value entries in order and skips empty ones") {
    assert(ConfOverrides.parse("a.b=1;;c=x=y;d=") ==
      Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
    assert(ConfOverrides.parse("").isEmpty)
  }

  test("an entry without = or without a key fails naming the entry") {
    val e = intercept[IllegalArgumentException](ConfOverrides.parse("a=1;graft.materializer"))
    assert(e.getMessage.contains("'graft.materializer'"))
    val e2 = intercept[IllegalArgumentException](ConfOverrides.parse("=lazy"))
    assert(e2.getMessage.contains("'=lazy'"))
  }
}
