package graftperf

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{PlanCache, SparkEntry}
import graft.curated.Aggregations
import graft.etl.Entities
import graft.io.{Readers, Writers}
import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.orchestrate.EndToEnd
import graft.pipelines.{CustomerFeedback, DeliveryPerformance,
  InventoryReconciliation, MarketingRoi, SalesRevenue}
import graft.sources.{LedgerLifecycle, LedgerRefs, LedgerSink}
import graft.sql.AthenaQueries

/** One benchmark run in its own JVM: build the session, stage the raw
  * zone or warm the prefixes the workload consumes, then drive one
  * workload as a single closed-loop client for `--seconds`, and write
  * the raw records (units, set-up, spans, counters, result digests) as
  * JSON under `--out`. perfbench/run.py turns them into metrics.
  *
  * Every unit's results are collected to the client, digested, and
  * each distinct (query, digest) is written once as parquet for the
  * oracle check. With `--trace 1`, every unit runs twice, under the
  * benchmark's listeners and spans and bare, in alternating order, so
  * the run measures its own tracing overhead; composite workloads add
  * a component pass after each such pair that calls the composites'
  * public building blocks serially on the same raw zone. */
object Harness {
  final case class Call(name: String, layer: String, run: () => DataFrame)

  final class Span(val id: Int, val layer: String, val name: String,
      val parent: Int, val unit: Int, val start: Long) {
    var end = 0L
  }

  /** Spans live in memory for the whole run and are written at the
    * end; jobs submitted under a span carry the tag gp-span-<id>. */
  final class Tracer {
    val spans = mutable.ArrayBuffer.empty[Span]
    var enabled = false
    var unit = -1
    private var stack = List.empty[Int]
    var spark: SparkSession = _

    def apply[A](layer: String, name: String)(body: => A): A =
      if (!enabled) body
      else {
        val s = new Span(spans.size, layer, name, stack.headOption.getOrElse(-1),
          unit, System.nanoTime())
        spans += s
        stack = s.id :: stack
        val tag = s"gp-span-${s.id}"
        spark.sparkContext.addJobTag(tag)
        try body
        finally {
          s.end = System.nanoTime()
          spark.sparkContext.removeJobTag(tag)
          stack = stack.tail
        }
      }
  }

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  def deleteTree(d: String): Unit = {
    val root = Paths.get(d)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(p => Files.deleteIfExists(p))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val dir = opt("fixture")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val mix = opt.get("queries").map(_.split(",").toSeq).getOrElse(Nil)
    val storage = System.getProperty("java.io.tmpdir")
    val localDir = opt("local-dir")
    val sideTables = s"$storage/graft_feature_tables"
    new File(out).mkdirs()

    def session(): SparkSession = {
      // graft.Bench's session settings, at a fixed local[4]
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executor.heartbeatInterval", "20s")
        .config("spark.executor.heartbeat.maxFailures", "10000")
        .config("spark.network.timeout", "600s")
        .config("spark.rpc.askTimeout", "600s")
        .config("spark.graft.cachePrefixes", "true")
        .config("spark.graft.featureTableDir", sideTables)
        .config("spark.local.dir", localDir)
        .config("spark.sql.warehouse.dir", s"$storage/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    var spark: SparkSession = null
    val tracer = new Tracer

    // the corpus-curation kernels: (oracle key, layer, public function)
    val kernels: Seq[Call] = Seq(
      Call("dedup_exact", "llm.exact_dedup", () => Dedup.exactDedup(spark, dir)),
      Call("dedup_minhash_pairs", "llm.minhash_pairs", () => Dedup.minhashPairs(spark, dir)),
      Call("dedup_clusters", "llm.clusters", () => Dedup.dedupClusters(spark, dir)),
      Call("corpus_deduped", "llm.deduped_corpus", () => Dedup.dedupedCorpus(spark, dir)),
      Call("dedup_simhash_pairs", "llm.simhash_pairs", () => Dedup.simhashPairs(spark, dir)),
      Call("ann_ivf_topk", "llm.ann_topk", () => Similarity.ivfTopK(spark, dir)),
      Call("corpus_coverage_selection", "llm.coverage",
        () => Similarity.coverageSelection(spark, dir)),
      Call("text_top_repeats", "llm.top_repeats", () => TextAnalysis.topRepeats(spark, dir)))

    val cdcDedup = Call("dsv2_cdc_incremental_dedup", "ledger.cdc_dedup",
      () => LedgerLifecycle.cdcIncrementalDedup(spark, dir))
    def calls(i: Int): Seq[Call] = workload match {
      case "daily_batch" => Seq(
        Call("pipeline_end_to_end", "orchestrate",
          () => EndToEnd.pipelineEndToEnd(spark, dir)))
      case "lakehouse_cdc" => Seq(
        Call("pipeline_end_to_end_ledger", "orchestrate",
          () => EndToEnd.pipelineEndToEndLedger(spark, dir)),
        cdcDedup)
      case "query_mix" =>
        val q = mix(i % mix.size)
        val layer =
          if (q.startsWith("q_")) "sql.athena"
          else if (q.startsWith("curated_")) "curated.agg"
          else "sql.query"
        Seq(Call(q, layer, () => SparkEntry.queries(q)(spark, dir)))
      // the kernels, then the commit-by-commit dedup of the same
      // corpus appended to a ledger table
      case "corpus_curation" => kernels :+ cdcDedup
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val composite = Set("daily_batch", "lakehouse_cdc")(workload)

    // ---- result digests: each distinct (query, digest) is dumped once
    val dumped = mutable.HashSet.empty[(String, String)]
    def digest(rows: Array[Row]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    def dump(name: String, schema: StructType, rows: Array[Row], d: String): Unit =
      if (dumped.add(name -> d))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/results/$name/$d")

    // ---- storage accounting: files landed under the storage root
    def landed(sinceMs: Long): Map[String, Double] = {
      var bytes = 0L; var files = 0L; var commits = 0L; var dataFiles = 0L
      var logBytes = 0L
      val root = Paths.get(storage)
      if (Files.exists(root)) {
        val it = Files.walk(root).iterator().asScala
        it.filter(p => Files.isRegularFile(p)).foreach { p =>
          val f = p.toFile
          if (f.lastModified() >= sinceMs) {
            val name = f.getName
            val size = f.length()
            bytes += size
            if (!name.endsWith(".crc")) files += 1
            val s = p.toString
            if (s.contains("/graft_catalog_rt/") || s.contains("/graft_ledger_")) {
              // a commit writes one log, or the full state for a table's
              // first version (a checkpoint roll, every 8th commit of a
              // table, writes both and counts twice)
              if (name.startsWith("_LOG.") || name == "_MANIFEST") {
                commits += 1; logBytes += size
              }
              else if (name.startsWith("_")) logBytes += size
              else if (!name.endsWith(".crc")) dataFiles += 1
            }
          }
        }
      }
      Map("bytes_written" -> bytes.toDouble, "files_written" -> files.toDouble,
        "ledger_commits" -> commits.toDouble, "ledger_data_files" -> dataFiles.toDouble,
        "ledger_log_bytes" -> logBytes.toDouble)
    }

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    var counters: Counters = null
    def attach(on: Boolean): Unit = {
      val sc = spark.sparkContext
      if (on) { sc.addSparkListener(counters); spark.listenerManager.register(counters) }
      else { sc.removeSparkListener(counters); spark.listenerManager.unregister(counters) }
    }

    // ---- one unit: every call ends in a collect to the client
    val plannedInputs = mutable.HashMap.empty[String, Seq[String]]
    def runUnit(i: Int, traced: Boolean, record: Boolean): Map[String, Any] = {
      val cs = calls(i)
      if (traced) { PerfBridge.drain(spark.sparkContext); counters.reset() }
      tracer.enabled = traced; tracer.unit = i
      val gc0 = gcMs(); val cpu0 = osBean.getProcessCpuTime
      val t0Ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      var error: Option[String] = None
      val got = mutable.ArrayBuffer.empty[(String, DataFrame, Array[Row])]
      try cs.foreach { c =>
        tracer(c.layer, c.name) {
          val df = c.run()
          got += ((c.name, df, df.collect()))
        }
      } catch {
        case e: Throwable =>
          error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1Ms = System.currentTimeMillis()
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val gc = (gcMs() - gc0) / 1e3
      tracer.enabled = false
      // read the window now: the bookkeeping below runs Spark jobs too
      val tot = if (traced) {
        PerfBridge.drain(spark.sparkContext)
        val t = counters.snapshot()
        Some(t.asMap + ("idle_s" -> t.idleMs(t0Ms, t1Ms) / 1e3))
      } else None
      val cachedMb = if (traced) spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0 else 0.0
      if (workload == "corpus_curation") PlanCache.clear()
      if (!record) return Map.empty
      val results = got.map { case (name, df, rows) =>
        val d = digest(rows)
        dump(name, df.schema, rows, d)
        if (!plannedInputs.contains(name))
          plannedInputs(name) = df.queryExecution.analyzed.collectLeaves().collect {
            case l: LogicalRelation => l.relation
          }.flatMap {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Nil
          }.flatMap(p => graft.io.Tables.names.find(t => p.endsWith(s"/$t.parquet")))
            .distinct
        Map("name" -> name, "digest" -> d, "rows" -> rows.length)
      }
      Map("id" -> i, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "gc_s" -> gc, "error" -> error.orNull, "results" -> results.toSeq,
        "storage" -> landed(t0Ms), "cached_mb" -> cachedMb,
        "counters" -> tot.orNull)
    }

    // ---- component pass: the composites' public building blocks,
    // serially, each block in its own span
    def componentPass(i: Int): Unit = {
      tracer.enabled = true; tracer.unit = i
      val raw = EndToEnd.stageRawZone(spark, dir)
      def read(name: String, like: DataFrame): DataFrame =
        spark.read.option("header", "true").option("timestampFormat", TsFmt)
          .schema(like.schema).csv(s"$raw/$name").persist()
      val rels = tracer("io.csv_read", "raw zone read") {
        val r = Seq(
          read("orders", Entities.orders(spark, dir)),
          read("order_items", Entities.orderItems(spark, dir)),
          read("products", Entities.products(spark, dir)),
          read("customers", Entities.customers(spark, dir)),
          read("feedback", Entities.feedback(spark, dir)),
          read("marketing", Entities.marketing(spark, dir)),
          Readers.csvWithProvenance(spark, Entities.inventoryOld(spark, dir).schema,
            s"$raw/inventory/*/*.csv").persist())
        r.foreach(_.count())
        r
      }
      val Seq(orders, items, products, customers, feedback, marketing, inv) = rels
      val invOld = inv.filter(!col("source_file").contains("inventoryNew")).drop("source_file")
      val invNew = inv.filter(col("source_file").contains("inventoryNew")).drop("source_file")
      val outs = tracer("pipelines.run", "pipelines.*.run") {
        val o = Seq(
          SalesRevenue.run(orders, items, products),
          DeliveryPerformance.run(orders),
          CustomerFeedback.enrich(feedback, customers, orders,
            CustomerFeedback.ratingIcons(spark)),
          MarketingRoi.run(marketing),
          InventoryReconciliation.run(invOld, invNew, products)).map(_.persist())
        o.foreach(_.count())
        o
      }
      val Seq(sales, delivery, enriched, mktg, recon) = outs
      val aggs = Seq(
        "curated_revenue_by_category" -> Aggregations.revenueByCategory(sales),
        "curated_campaign_performance_summary" ->
          Aggregations.campaignPerformanceSummary(mktg),
        "curated_delivery_partner_performance" ->
          Aggregations.deliveryPartnerPerformance(delivery),
        "curated_area_feedback_metrics" -> CustomerFeedback.areaMetrics(enriched),
        "curated_category_inventory_impact" -> Aggregations.categoryInventoryImpact(recon),
        "curated_product_inventory_discrepancies" ->
          Aggregations.productInventoryDiscrepancies(recon))
      tracer("curated.agg", "Aggregations.*") { aggs.foreach(_._2.collect()) }
      val base = s"$storage/perf_component"
      if (workload == "daily_batch")
        tracer("io.write", "Writers.processed/curated") {
          Writers.processed(sales, s"$base/zones/processed_sales_transactions",
            Seq("year", "month"))
          aggs.foreach { case (z, df) => Writers.curated(df, s"$base/zones/$z") }
        }
      // both composites' curated tables also land through a ledger
      // write-audit-publish: stage under a wapId, then publish
      val fmt = classOf[LedgerSink].getName
      def p(z: String) = s"$base/ledger/$z"
      aggs.foreach { case (z, _) => deleteTree(p(z)) }
      tracer("ledger.stage", "ledger write with wapId") {
        aggs.foreach { case (z, df) =>
          df.limit(0).write.format(fmt).option("path", p(z)).mode("overwrite").save()
          df.write.format(fmt).option("path", p(z)).option("wapId", "w1")
            .mode("append").save()
        }
      }
      tracer("ledger.publish", "LedgerRefs.publishWap") {
        aggs.foreach { case (z, _) => LedgerRefs.publishWap(Paths.get(p(z)), "w1") }
      }
      aggs.foreach { case (z, _) =>
        (if (workload == "daily_batch") spark.read.parquet(s"$base/zones/$z")
         else spark.read.format(fmt).option("path", p(z)).load())
          .createOrReplaceTempView(z)
      }
      tracer("sql.athena", "AthenaQueries.all") {
        AthenaQueries.all.toSeq.sortBy(_._1).foreach { case (_, q) => spark.sql(q).collect() }
      }
      (rels ++ outs).foreach(_.unpersist(blocking = false))
      tracer.enabled = false
    }

    // ---- ambient-load record (graft.Bench's sentinel, smaller)
    def sentinel(): Map[String, Double] = {
      spark.range(0, 5000000L, 1, 4).selectExpr("bit_xor(xxhash64(id))").collect()
      val c0 = System.nanoTime()
      spark.range(0, 50000000L, 1, 4).selectExpr("bit_xor(xxhash64(id))").collect()
      val cpuS = (System.nanoTime() - c0) / 1e9
      val i0 = System.nanoTime()
      val f = Files.createTempFile(Paths.get(storage), "probe", ".bin")
      try {
        val chunk = Array.fill[Byte](4 << 20)(0x5a)
        val o = Files.newOutputStream(f)
        try (0 until 16).foreach(_ => o.write(chunk)) finally o.close()
        val in = Files.newInputStream(f)
        try { val b = new Array[Byte](4 << 20); while (in.read(b) > 0) () } finally in.close()
      } finally Files.deleteIfExists(f)
      Map("cpu_probe_s" -> cpuS, "io_probe_s" -> (System.nanoTime() - i0) / 1e9)
    }

    // ---- set-up, JVM start → first timed unit: the session build, the
    // ambient probe, the composites' raw-zone staging and, for
    // query_mix, one warm-up pass that fills the prefixes it consumes;
    // no other workload reuses a prefix across units, so none warms up
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = session()
    tracer.spark = spark
    val ambientBefore = sentinel()
    if (composite) EndToEnd.stageRawZone(spark, dir)
    if (workload == "query_mix")
      mix.indices.foreach(i => runUnit(i, traced = false, record = false))
    else if (trace)
      // a traced run compares a traced and a bare unit: warm the JVM
      // first, so that neither of them is the cold first execution
      runUnit(-1, traced = false, record = false)
    counters = new Counters(sideTables)

    // ---- the timed closed loop: at least --seconds, ending on a pass
    // boundary so that every run of query_mix weighs each query alike
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    val pass = if (workload == "query_mix") mix.size else 1
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || i % pass != 0 || System.nanoTime() < deadline) {
      if (trace) {
        // the same unit traced and bare, in alternating order: their
        // difference is the tracing overhead
        def traced(): Unit = {
          attach(true)
          units += runUnit(i, traced = true, record = true)
          attach(false)
        }
        def bare(): Unit = units += runUnit(i, traced = false, record = true)
        if (i % 2 == 0) { traced(); bare() } else { bare(); traced() }
        if (composite) { attach(true); componentPass(i); attach(false) }
      } else units += runUnit(i, traced = false, record = true)
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9

    // ---- fixed per-unit inputs: rows and bytes
    def fixtureRows(t: String): Long = spark.read.parquet(s"$dir/$t.parquet").count()
    def bytesUnder(p: String): Long =
      if (!Files.exists(Paths.get(p))) 0L
      else Files.walk(Paths.get(p)).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.toString.endsWith(".crc"))
        .map(f => Files.size(f)).sum
    val tables = graft.io.Tables.names
    val rowsOf = tables.map(t => t -> fixtureRows(t)).toMap
    val bytesOf = tables.map(t => t -> bytesUnder(s"$dir/$t.parquet")).toMap
    val (rawRows, rawBytes) = if (composite) {
      val raw = EndToEnd.stageRawZone(spark, dir)
      val entities = Seq("orders", "order_items", "products", "customers",
        "feedback", "marketing", "inventory/*")
      (entities.map(e => spark.read.option("header", "true").csv(s"$raw/$e").count()).sum,
        bytesUnder(raw))
    } else (0L, 0L)
    val perQueryInput = plannedInputs.map { case (q, ts) =>
      q -> Map("rows" -> ts.map(rowsOf).sum, "bytes" -> ts.map(bytesOf).sum,
        "tables" -> ts)
    }.toMap
    val unitInput: Map[String, Long] = workload match {
      case "daily_batch" => Map("rows" -> rawRows, "bytes" -> rawBytes)
      case "lakehouse_cdc" => Map("rows" -> (rawRows + rowsOf("documents")),
        "bytes" -> (rawBytes + bytesOf("documents")))
      case "corpus_curation" => Map(
        "rows" -> (rowsOf("documents") + rowsOf("embeddings")),
        "bytes" -> (bytesOf("documents") + bytesOf("embeddings")))
      case _ => Map.empty
    }
    val ambientAfter = sentinel()
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)
    val spanJson = tracer.spans.map { s =>
      Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name, "parent" -> s.parent,
        "unit" -> s.unit, "start_s" -> (s.start - loop0) / 1e9,
        "end_s" -> (s.end - loop0) / 1e9,
        "counters" -> Option(counters).flatMap(_.bySpan.get(s.id)).map(_.asMap).orNull)
    }
    val record = Map(
      "workload" -> workload, "setup_s" -> setupS,
      "loop_s" -> loopS,
      "jvm_s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
      "units" -> units.toSeq, "peak_rss_mb" -> rssMb,
      "unit_input" -> unitInput, "query_input" -> perQueryInput,
      "ambient" -> Map("before" -> ambientBefore, "after" -> ambientAfter),
      "heap" -> Runtime.getRuntime.maxMemory / 1048576,
      "session" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k.startsWith("spark.graft.") || k == "spark.master"
      }.toMap)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    // the oracle SQL is a function of the build alone, and rebuilding
    // SparkEntry.oracleSql takes seconds: write it once per build
    val oracleFile = Paths.get(opt("oracle"))
    if (!Files.exists(oracleFile)) {
      val tmp = Paths.get(s"$oracleFile.${ProcessHandle.current.pid}")
      Files.writeString(tmp, org.json4s.jackson.Serialization.write(SparkEntry.oracleSql))
      Files.move(tmp, oracleFile, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    Files.writeString(Paths.get(out, "harness.json"),
      org.json4s.jackson.Serialization.write(record))
    Files.writeString(Paths.get(out, "spans.json"),
      org.json4s.jackson.Serialization.write(spanJson))
    PlanCache.clear()
    spark.stop()
  }
}
