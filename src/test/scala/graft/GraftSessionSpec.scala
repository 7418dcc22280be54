package graft

/** Pins the shared conf set every entry point's session starts from
  * (the test session is one of them, so its live conf is checked). */
class GraftSessionSpec extends SparkSpec {

  test("the shared builder carries the planner and robustness confs") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    // heartbeat headroom: a GC pause on a loaded host must not kill
    // the local executor
    assert(conf.get("spark.executor.heartbeatInterval") == "20s")
    assert(conf.get("spark.executor.heartbeat.maxFailures") == "10000")
    assert(conf.get("spark.network.timeout") == "600s")
    assert(conf.get("spark.rpc.askTimeout") == "600s")
  }

  test("shuffle partitions and master follow the cpus argument") {
    // read the builder's options (public in bytecode, protected in
    // Scala) rather than start a second SparkContext in this JVM
    val b = GraftSession.builder(7)
    val opts = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.HashMap[String, String]]
    assert(opts("spark.master") == "local[7]")
    assert(opts("spark.sql.shuffle.partitions") == "7")
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(GraftSession.parseCpus("8") == 8)
    Seq("", "0", "-2", "four", "4.5").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(v))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
    }
  }
}
