package graft

import org.apache.spark.sql.SparkSession

/** The one session every graft entry point runs on (`Bench`, `Verify`,
  * `Explain`, `ScaleProof`), so a plan printed or a decade timed is the
  * plan and the configuration the benchmark runs. `ClusterCheck` keeps
  * its own fixed conf, sized to its local-cluster. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core on the box. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session's settings, `spark.master` included. */
  def settings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // let AQE swap sort-merge -> shuffled-hash when the runtime map
    // size fits (the size check IS the OOM guard): big-to-big joins
    // on high-cardinality keys (shingle/band buckets) skip the sort
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "128m",
    // codegen class cache: the default (100 entries) is sized for a
    // handful of hot queries, not a 275-query workload — by the time
    // a timed pass reaches a query, its warm-up-compiled classes have
    // been evicted and every execution pays Janino compilation again.
    // Sized to hold the whole suite's generated classes (a few
    // thousand small entries). Static conf — must be set before the
    // session exists.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false")

  /** A local session with graft's settings, log level WARN, and graft's
    * SQL functions, optimizer rules and planner strategies registered. */
  def local(): SparkSession = {
    val spark = SparkSession.builder().config(settings(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
