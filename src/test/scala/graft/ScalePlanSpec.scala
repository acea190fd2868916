package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

/**
 * Global physical-plan invariants over EVERY declared query (every
 * SparkEntry.queries entry, whatever its current count), from one
 * planning pass at sf0.001. Plan-only (no execution): the initial
 * physical plan already shows the join strategy and the plan's size.
 *
 *  - No CartesianProduct anywhere. Every cross join in the engine is
 *    against a broadcast singleton/aggregate (BroadcastNestedLoopJoin with
 *    a one-row build side) — an unhinted CartesianProduct is the one
 *    operator that is always a scale bug at 100 TB.
 *  - No plan over 250 physical nodes. A derived frame is inlined at
 *    every reference, so a ladder that re-derives its request batch or its
 *    probes per use grows its plan (and its key-table scans) with each
 *    reference; stored inputs and one shared probe keep plans small.
 *  - The link catalog's resolution is one join: the chase runs on the
 *    driver, and one broadcast join checks the terminals against the
 *    bucket catalog.
 */
class ScalePlanSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"

  /** Each declared query's physical plan before execution, or the message
    * its planning failed with. */
  private lazy val plans: Seq[(String, Either[String, SparkPlan])] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> (try Right(fn(spark, sf).queryExecution.executedPlan)
        catch { case e: Throwable => Left(e.getMessage) })
    }

  /** The physical nodes, counting the AQE wrapper's input plan and every
    * node's subquery plans (DPP and scalar subqueries). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.inputPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  test("no declared query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (name, Left(_)) => name
      case (name, Right(p)) if p.toString.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty,
      s"CartesianProduct / planning failure in: ${offenders.sorted}")
  }

  test("no declared query plans more than 250 physical nodes") {
    val over = plans
      .collect { case (name, Right(p)) => name -> nodes(p).size }
      .filter(_._2 > 250)
    assert(over.isEmpty, s"over the 250-node plan budget: ${over.sorted}")
  }

  test("the link catalog's resolution plans exactly one join") {
    val plan = plans.toMap.apply("q_link_resolve")
      .fold(e => fail(e), identity)
    assert(nodes(plan).count(_.isInstanceOf[BaseJoinExec]) === 1)
  }
}
