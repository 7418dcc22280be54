package graft

import org.apache.spark.sql.SparkSession

/** The one place session configuration lives. Every entry point
  * (Bench, Verify, Explain, ScaleLane, HiveDurability) and the test
  * session start from [[builder]] and chain only their own extras, so
  * a plan captured by one of them has the same planner settings as the
  * plan the others run.
  *
  * Heartbeat headroom is part of the shared set: a local-mode JVM must
  * never heartbeat-suicide. The executor and driver share the process,
  * so a long GC pause or CPU starvation on a loaded host starves the
  * heartbeater RPC without anything actually being wrong — the session
  * tolerates minutes of that instead of exiting mid-run ("unable to
  * send heartbeats to driver more than 60 times").
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the machine — a hard-coded
    * count silently changes shuffle partitioning (and throughput)
    * when a caller forgets the variable. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(parseCpus)

  private[graft] def parseCpus(v: String): Int =
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // NTZ-vintage events.ts casts wall clock → instant through the
      // session zone; UTC keeps it identical to the oracle's naive read.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "20s")
      .config("spark.executor.heartbeat.maxFailures", "10000")
      .config("spark.network.timeout", "600s")
      .config("spark.rpc.askTimeout", "600s")
}
