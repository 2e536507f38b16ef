package graft.tools

import graft.queries.Catalog

/** Dev-only plan-quality sweep: for every catalog query, summarize the
  * physical plan's scale red flags — cartesian products, broadcast
  * nested-loop joins, and the exchange count. Queries that are documented
  * bounded all-pairs twins (q33/q35/q40 brute baselines) legitimately show
  * a nested-loop/cartesian; anything else showing one is a bug.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [names...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only  = args.drop(1).toSet
    val spark = graft.Sessions.local("graft-planaudit")
    spark.sparkContext.setLogLevel("ERROR")

    Catalog.all.filter(q => only.isEmpty || only(q.name)).foreach { q =>
      try {
        val plan = q.fn(spark, sfDir).queryExecution.executedPlan.toString
        def n(marker: String): Int = marker.r.findAllIn(plan).length
        val cart  = n("CartesianProduct")
        val bnlj  = n("BroadcastNestedLoopJoin")
        val exch  = n("Exchange") - n("BroadcastExchange") - n("ReusedExchange")
        val flags = (if (cart > 0) s" CARTESIAN=$cart" else "") +
          (if (bnlj > 0) s" NESTEDLOOP=$bnlj" else "")
        println(f"[plan] ${q.name}%-28s shuffles=$exch%-3d broadcasts=${n("BroadcastExchange")}%-3d$flags")
      } catch {
        case e: Throwable => println(s"[plan] ${q.name} ERROR: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
