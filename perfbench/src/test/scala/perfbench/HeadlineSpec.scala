package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HeadlineSpec extends AnyFunSuite {
  test("the analytics query list is the program's headline list") {
    assert(Analytics.Headline == graft.tools.PlanDump.headline)
  }

  test("every headline query exists and has a DuckDB oracle") {
    Analytics.Headline.foreach { q =>
      assert(graft.SparkEntry.queries.contains(q), q)
      assert(graft.SparkEntry.oracleSql.contains(q), q)
    }
  }
}
