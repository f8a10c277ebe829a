package graft

import org.scalatest.Tag

/** The ScalaTest tag of a query family (a key of [[SparkEntry.families]]).
  * Specs that hold tests of several families tag each test with its family,
  * so one family's tests run alone:
  * `testOnly graft.PlanSpec -- -n family.dedup` (`scripts/family.sh`).
  */
object Family {
  def apply(name: String): Tag = {
    require(SparkEntry.families.contains(name), s"unknown query family: $name")
    Tag(s"family.$name")
  }
}
