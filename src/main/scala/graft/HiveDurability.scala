package graft

import org.apache.spark.sql.SparkSession
import graft.io.{Catalog, Writers}

/** Proof-of-durability for the persistent catalog (S6 second half):
  * the reference's Glue crawler leaves table/partition metadata that
  * SURVIVES the job that wrote it
  * (`/root/reference/code-files/lambda/blinkit-etl-orchestrator.py:83-97`);
  * the engine-side equivalent is a Hive-backed metastore. `io.Catalog`
  * is catalog-implementation-agnostic, so the same `saveManaged` /
  * `registerExternal` calls persist when the session is built with
  * `enableHiveSupport()` (hive-metastore + derby jars ship with Spark).
  *
  * Spark holds ONE ExternalCatalog per JVM, so this cannot run inside
  * the shared in-memory-catalog test session — it is a standalone main
  * that `HiveDurabilitySpec` launches in a fresh JVM:
  *
  *   phase A: hive session #1 — saveManaged a curated table, write a
  *            Hive-layout processed zone, registerExternal + recover;
  *            STOP the session (and its SparkContext).
  *   phase B: hive session #2 over the same derby metastore — both
  *            tables resolve BY NAME, contents and partition pruning
  *            intact, with no re-registration.
  *
  * Exit 0 + "HIVE_DURABILITY_OK" on success; nonzero otherwise.
  */
object HiveDurability {

  private def session(workDir: String): SparkSession =
    GraftSession.builder(2)
      .appName("graft-hive-durability")
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      // Derby-backed metastore rooted in workDir: the durable state.
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$workDir/metastore_db;create=true")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse(
      sys.error("usage: HiveDurability <workDir>"))
    System.setProperty("derby.system.home", workDir)
    System.setProperty("derby.stream.error.file", s"$workDir/derby.log")

    // ---- phase A: write + register, then stop the session ----
    val s1 = session(workDir)
    s1.sparkContext.setLogLevel("ERROR")
    import s1.implicits._
    val curated = Seq(("Dairy", 10.5), ("Snacks", 4.0), ("Beverages", 7.25))
      .toDF("category", "revenue")
    Catalog.saveManaged(curated, "hive_durable_curated")
    val extDir = s"$workDir/processed"
    val part = Seq((1, 2024, 1), (2, 2024, 2), (3, 2025, 1))
      .toDF("id", "year", "month")
    Writers.processed(part, extDir, Seq("year", "month"))
    Catalog.registerExternal(s1, "hive_durable_processed", extDir)
    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // ---- phase B: fresh session + context, same metastore ----
    val s2 = session(workDir)
    try {
      s2.sparkContext.setLogLevel("ERROR")
      require(s2.catalog.tableExists("hive_durable_curated"),
        "managed table lost across sessions")
      require(s2.catalog.tableExists("hive_durable_processed"),
        "external table lost across sessions")
      val rev = s2.sql(
        "SELECT revenue FROM hive_durable_curated WHERE category = 'Dairy'")
        .collect().map(_.getDouble(0)).toSeq
      require(rev == Seq(10.5), s"managed contents drifted: $rev")
      val pruned = s2.sql(
        "SELECT id FROM hive_durable_processed WHERE year = 2024 AND month = 2")
      val plan = pruned.queryExecution.executedPlan.toString
      require(!plan.contains("year=2025"),
        "partition pruning not applied through the recovered catalog entry")
      val ids = pruned.collect().map(_.getInt(0)).toSeq
      require(ids == Seq(2), s"external partition contents drifted: $ids")
      println("HIVE_DURABILITY_OK")
    } finally s2.stop()
  }
}
