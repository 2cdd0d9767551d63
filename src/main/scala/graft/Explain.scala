package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Dev tool: run one or more gate queries on graft's session
  * (`runMain graft.Explain <sfDir> <queryPrefix>...`) and print one
  * greppable line per gate — the operator counts of the plan that ran
  * and the jobs, stages and tasks it took — so plan regressions show
  * up without wiring a notebook. `GRAFT_EXPLAIN_FULL=1` also prints the
  * formatted final plan. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val prefixes = args.drop(1)
    val spark = GraftSession.local()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        try {
          val (df, line) = summary(spark)(fn(spark, sfDir))
          println(s"=== $name: $line")
          if (sys.env.get("GRAFT_EXPLAIN_FULL").contains("1"))
            println(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable =>
          println(s"=== $name: ERROR ${e.getMessage}")
        }
        // block/scratch hygiene between queries — same contract as Bench
        graft.etl.Checkpoints.sweep(spark)
        graft.etl.Scratch.sweep()
      }
    spark.stop()
  }

  /** Builds a gate and runs its own plan to its full result (the
    * benchmark's action), then summarises the plan that ran and the
    * jobs, stages and tasks the build and the run took. `df.count()`
    * would execute a different `QueryExecution` and leave this one's
    * adaptive plan at its initial `isFinalPlan=false` shape, whose
    * exchange and reuse counts are not the ones that ran. */
  def summary(spark: SparkSession)(gate: => DataFrame): (DataFrame, String) = {
    val jobs, stages, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val df =
      try {
        val df = gate
        df.queryExecution.toRdd.count()
        Bridge.drainListenerBus(spark)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    val plan = df.queryExecution.executedPlan.toString
    def n(re: String) = re.r.findAllIn(plan).length
    val isFinal = raw"isFinalPlan=(\w+)".r.findFirstMatchIn(plan)
      .fold("-")(_.group(1))
    (df, s"final=$isFinal exchanges=${n("Exchange")} " +
      s"reused=${n("ReusedExchange")} windows=${n(raw"\bWindow\b")} " +
      s"hashAgg=${n("HashAggregate")} sortAgg=${n("SortAggregate")} " +
      s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
      s"nlj=${n("BroadcastNestedLoopJoin")} " +
      s"jobs=$jobs stages=$stages tasks=$tasks")
  }
}
