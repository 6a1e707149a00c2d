package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Full-plan self-test: the plan the timed action executes must have the
  * operator census of the query's own `df.queryExecution.executedPlan`, and
  * the census must be able to fail: under `.count()` q162 loses its joins. */
object SelfTest {
  /** Joins, exchanges, scans, windows and sorts of a physical plan, with
    * adaptive plans read at their initial (pre-execution) form and
    * subqueries included. */
  def census(plan: SparkPlan): Map[String, Int] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    def count(f: SparkPlan => Boolean) = all.count(f)
    def name(p: SparkPlan) = p.getClass.getSimpleName
    Map(
      "joins" -> count(p => p.isInstanceOf[BaseJoinExec] ||
        name(p).contains("Join") || name(p) == "CartesianProductExec"),
      "exchanges" -> count(_.isInstanceOf[Exchange]),
      "scans" -> count(p => name(p).contains("Scan")),
      "windows" -> count(p => name(p).startsWith("Window")),
      "sorts" -> count(p => name(p) == "SortExec"))
  }

  def run(spark: SparkSession, dir: String, roster: Seq[String],
      out: String): Int = {
    val rows = roster.map { q =>
      val timedPlan = Main.timed(spark, q, dir, _ => ()).plan
      val own = Main.build(spark, q, dir).queryExecution.executedPlan
      val (t, o) = (census(timedPlan), census(own))
      q -> Map("timed" -> t, "own" -> o, "equal" -> (t == o))
    }
    val q162 = graft.SparkEntry.queries("q162_incremental_dedup")(spark, dir)
    val full = census(q162.queryExecution.executedPlan)
    val counted = census(q162.groupBy().count().queryExecution.executedPlan)
    val prunes = counted("joins") < full("joins")
    val result = Map("queries" -> rows.toMap,
      "q162" -> Map("full" -> full, "count" -> counted,
        "count_prunes_joins" -> prunes))
    Files.write(Paths.get(s"$out/selftest.json"), Json(result).getBytes(UTF_8))
    val bad = rows.collect { case (q, r) if r("equal") == false => q }
    bad.foreach(q => System.err.println(s"census differs: $q"))
    if (bad.isEmpty && prunes) 0 else 1
  }
}
