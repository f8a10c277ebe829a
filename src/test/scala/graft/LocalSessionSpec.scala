package graft

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("withConfs puts back a set key, unsets an unset one, also when the body throws") {
    val s = spark.newSession()
    val (set, unset) = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.files.maxRecordsPerFile")
    s.conf.set(set, "1234")
    s.conf.unset(unset)
    def restored() = {
      assert(s.conf.get(set) == "1234")
      assert(!s.conf.getAll.contains(unset), s"$unset left set")
    }
    val seen = LocalSession.withConfs(s, set -> "-1", unset -> "7") {
      (s.conf.get(set), s.conf.get(unset))
    }
    assert(seen == (("-1", "7")))
    restored()
    intercept[IllegalStateException] {
      LocalSession.withConfs(s, set -> "-1", unset -> "7")(throw new IllegalStateException("boom"))
    }
    restored()
  }
}
