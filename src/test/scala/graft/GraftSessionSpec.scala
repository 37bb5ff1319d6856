package graft

import org.scalatest.funsuite.AnyFunSuite

/** Environment parsing of the mains, checked through the pure parsers so
  * the process environment is never touched. */
class GraftSessionSpec extends AnyFunSuite {
  import GraftSession.{nameList, positiveInt}

  for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_REPS");
       bad <- Seq("abc", "0", "-1")) {
    test(s"$name='$bad' is rejected naming the variable") {
      val e = intercept[IllegalArgumentException](positiveInt(name, Some(bad), 4))
      assert(e.getMessage.contains(name))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }

  test("an absent value gives the default, a valid one is parsed") {
    assert(positiveInt("SPARK_GRAFT_CPUS", None, 4) == 4)
    assert(positiveInt("SPARK_GRAFT_BENCH_REPS", None, 3) == 3)
    assert(positiveInt("SPARK_GRAFT_CPUS", Some(" 8 "), 4) == 8)
  }

  test("a *_ONLY list drops blank entries; absent means no filter") {
    assert(nameList(Some("q1, ,q6,,")) == Some(Set("q1", "q6")))
    assert(nameList(None).isEmpty)
  }
}
