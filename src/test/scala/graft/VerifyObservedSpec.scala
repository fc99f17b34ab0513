package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Locks Verify.ObservedMetrics' name-keyed attribution (VERDICT r15 #3
  * / ADVICE r15): with TWO observed queries in flight, each observation
  * must be tagged to the query that registered its metric name,
  * regardless of listener-bus timing or execution order. The retired
  * scheme read a shared `current` var at event-fire time, so a late bus
  * event was tagged to whichever query happened to be current — and its
  * arrival released the next query's size-based wait early, cascading
  * the mis-tag. */
class VerifyObservedSpec extends AnyFunSuite with TestSpark {
  test("two observed queries attribute to their own names") {
    val obs = new Verify.ObservedMetrics(spark)
    val df1 = spark.range(100).toDF().observe("vos_metric_a", sum(col("id")).as("s"))
    val df2 = spark.range(50).toDF().observe("vos_metric_b", count(lit(1)).as("c"))
    val n1 = obs.register("query_one", df1)
    val n2 = obs.register("query_two", df2)
    assert(n1 == Seq("vos_metric_a") && n2 == Seq("vos_metric_b"))
    // run in REVERSE registration order: the shared-current scheme would
    // tag a slow bus event for df2 onto query_one (or vice versa);
    // name-keyed attribution cannot
    df2.collect()
    obs.await("query_two", n2)
    df1.collect()
    obs.await("query_one", n1)
    val out = obs.dump()
    assert(out.contains(""""query":"query_two","metric":"vos_metric_b""""), out)
    assert(out.contains(""""query":"query_one","metric":"vos_metric_a""""), out)
    assert(!out.contains("UNREGISTERED"), out)
  }

  test("unregistered metric is tagged UNREGISTERED, not guessed") {
    val obs = new Verify.ObservedMetrics(spark)
    val df = spark.range(10).toDF().observe("vos_metric_orphan", count(lit(1)).as("c"))
    obs.register("some_query", spark.range(1).toDF()) // registers nothing
    df.collect()
    obs.await("UNREGISTERED", Seq("vos_metric_orphan")) // flush
    val out = obs.dump()
    assert(out.contains(""""query":"UNREGISTERED","metric":"vos_metric_orphan""""), out)
    assert(!out.contains(""""query":"some_query","metric":"vos_metric_orphan""""), out)
  }

  test("cross-query metric-name reuse fails hard (suite contract)") {
    val obs = new Verify.ObservedMetrics(spark)
    val df1 = spark.range(10).toDF().observe("vos_metric_dup", count(lit(1)).as("c"))
    val df2 = spark.range(20).toDF().observe("vos_metric_dup", count(lit(1)).as("c"))
    obs.register("first_query", df1)
    val e = intercept[IllegalStateException] { obs.register("second_query", df2) }
    assert(e.getMessage.contains("vos_metric_dup"))
    // SAME query re-registering (e.g. a retried dump) stays legal
    assert(obs.register("first_query", df1) == Seq("vos_metric_dup"))
  }

  test("optimizer-elided metric is not awaited (VERDICT r16 #3)") {
    import spark.implicits._
    val obs = new Verify.ObservedMetrics(spark)
    // inner join with a statically-empty LocalRelation: PropagateEmpty-
    // Relation replaces the subtree, eliding the CollectMetrics node —
    // the analyzed plan has the metric, the optimized plan does not
    val empty = Seq.empty[Long].toDF("id")
    val df = spark.range(10).toDF()
      .observe("vos_metric_elided", count(lit(1)).as("c"))
      .join(empty, "id")
    val awaitable = obs.register("elided_query", df)
    assert(awaitable.isEmpty,
      s"elided metric must be excluded from the wait, got $awaitable")
    // a live metric on the same register call IS returned
    val live = spark.range(10).toDF().observe("vos_metric_live", count(lit(1)).as("c"))
    assert(obs.register("live_query", live) == Seq("vos_metric_live"))
  }
}
