package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Pins [[graft.core.GraftSession.CodegenReuse]] on the shared test session:
  * once a JVM has run an entry, running it again compiles no generated
  * class. Covers the three ways the reuse was lost:
  *   - cache sizing: the entries' classes must all fit the codegen cache
  *     (the default 100 entries evicted them between runs);
  *   - first use: the cache is sized when the JVM first generates code, so
  *     code generated before the session existed fixes the default size;
  *   - streaming: each availableNow query used to compile its classes under
  *     a fresh artifact class loader, missing the cache every run.
  */
class CodegenReuseSpec extends SparkSpec {
  private val Sf = "/root/testdata/sf0.001"
  private val Entries = Seq("pagerank_nations", "q21_waiting_suppliers", "events_stateful_stream")

  test("a second run of the same entries compiles nothing and returns the same rows") {
    def run(): Seq[Seq[String]] =
      Entries.map(e => SparkEntry.queries(e)(spark, Sf).collect().map(_.toString).toSeq.sorted)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val first = run()
    val before = compiles.getCount
    val second = run()
    assert(compiles.getCount - before == 0, "the second run recompiled generated classes")
    Entries.zip(first.zip(second)).foreach { case (e, (a, b)) =>
      assert(a.nonEmpty, s"$e returned no rows")
      assert(a == b, s"$e returned different rows on its second run")
    }
  }
}
