package graft.tools

import graft.queries.Catalog

/** Dev-only timing probe: run one named query N times in a warm session to
  * split plan/codegen/JIT warmup from steady-state. Usage:
  * runMain graft.tools.Probe <name> [reps] [sfDir]
  * The session is Bench's ([[graft.Sessions]]), so `SPARK_GRAFT_CONF`
  * can flip a conf for one probe. Each rep executes through the
  * full-plan `noop` sink exactly like [[graft.Bench]] (a `count()` would
  * let Catalyst prune the aggregate expressions it does not need); the
  * plan itself is [[PlanDump]]'s job.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val reps  = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = graft.Sessions.local("graft-probe")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for { s <- si.submissionTime; c <- si.completionTime } yield c - s
        println(s"[stage] id=${si.stageId} tasks=${si.numTasks} " +
          s"dur=${dur.getOrElse(-1L)}ms name=${si.name.take(60)}")
      }
    })
    val q = Catalog.byName(name)
    // same fixed pure-CPU canary as graft.Bench (graft.HostCanary),
    // printed per rep so a probe taken in a degraded-host window is
    // visibly degraded (don't adjudicate bench numbers with an
    // uncanaried probe)
    def canarySec(): Double = graft.HostCanary.sec()
    canarySec() // JIT-warm the canary loop itself
    (1 to reps).foreach { i =>
      val c  = canarySec()
      val t0 = System.nanoTime()
      val df = q.fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"[probe] $name rep$i: build=${(t1 - t0) / 1e9}%.3f s " +
        f"exec=${(t2 - t1) / 1e9}%.3f s canary=$c%.2f s")
    }
    spark.stop()
  }
}
