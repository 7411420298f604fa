package perfbench

import graft.SparkEntry
import graft.queries.{BenchWarm, LakehouseScan, WarehouseQueries}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one fresh JVM. A single client runs one workload
  * query at a time, closed loop, in a fixed phase order: setup (session,
  * then cache warm-up or writes) -> passes -> untimed output dump. It
  * writes raw timings (and, traced, the span record) as JSON; run.py
  * turns them into metrics and checks the dumped outputs against the
  * oracle.
  *
  * Usage: Harness <workload> <dataDir> <seed> <seconds> <trace 0|1>
  *        <cpus> <resultJson> <outputDir>
  */
object Harness {

  /** Each workload's queries, named as in SparkEntry.queries. The sets are
    * cut so that 2 workloads x 22 runs fit the benchmark's time budget;
    * perfbench/README.md lists what they leave out and why.
    */
  val Workloads: Map[String, Seq[String]] = Map(
    // Interactive reads: the reference dashboard's panels verbatim over
    // the ETL-loaded podcast warehouse (Q5 in its bug-compatible and
    // strict forms), and scans of the Delta and Iceberg tables written in
    // setup: log replay with deletion vectors, manifest replay with both
    // delete kinds, changelog, DSv2 and the SQL catalog.
    "serving" -> Seq(
      "wh_q1_podcasts", "wh_q2_episodes", "wh_q3_entity_types",
      "wh_q4_mentions", "wh_q5_sentiment_bugcompat", "wh_q5_sentiment_strict",
      "wh_q6_rolling", "wh_q7_proportions", "wh_q8_wordcloud",
      "x22_delta_scan", "x23_iceberg_scan", "x29_iceberg_changelog",
      "x41_dsv2_iceberg_scan", "x44_sql_catalog_scan"),
    // Near-duplicate detection over the shared dedup caches: the exact
    // n-gram all-pairs join and the sketches calibrated against it,
    // winnowing, iterative connected components over MinHash bands, and
    // the thread-pool composition d25.
    "corpus_dedup" -> Seq(
      "d2_ngram_jaccard", "d12_winnow_pairs", "d18_cc_star",
      "d21_sketch_calibration", "d25_dedup_eval"))

  /** Warm passes per `--seconds`: a warm pass of either workload takes
    * about 3.5 s on 4 cores, and every run of a workload does the same
    * number of passes, so runs compare pass for pass.
    */
  private val SecondsPerWarmPass = 3.5

  /** The session graft.Bench builds, with scratch space kept under the
    * run's work directory.
    */
  private def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    secs(t0)
  }

  /** Sizes of every regular file under `root`: (bytes, files). */
  private def walk(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val sizes = s.iterator.asScala.filter(Files.isRegularFile(_))
          .map(Files.size).toSeq
        (sizes.sum, sizes.size.toLong)
      } finally s.close()
    }
  }

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Process-wide counters, sampled at pass and query boundaries. */
  private def counters(): Seq[(String, Double)] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Seq(
      "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen_s" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime / 1e9,
      "gc_s" -> gc / 1e3,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }

  private def delta(before: Seq[(String, Double)]): Seq[(String, Any)] =
    counters().zip(before).map { case ((k, a), (_, b)) => k -> (a - b) }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  private def run(spark: SparkSession, trace: Option[Trace], name: String,
      dir: String): Unit = {
    def build() = SparkEntry.queries(name)(spark, dir)
    trace match {
      case None => build().write.format("noop").mode("overwrite").save()
      case Some(t) =>
        val df = t.span("entry.build")(build())
        // The frame's own analysis ran inside the build; executed plans
        // report theirs through the listener.
        t.record(df.queryExecution)
        t.span("exec")(df.write.format("noop").mode("overwrite").save())
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(wl, dir, seed, seconds, traceArg, cpus, resultPath, outDir) = args
    val names = Workloads(wl)
    val work = Paths.get(resultPath).toAbsolutePath.getParent.toString
    val trace = if (traceArg == "1") Some(new Trace) else None
    def span[T](name: String, attrs: => Seq[(String, Any)] = Nil)(body: => T): T =
      trace.fold(body)(_.span(name, attrs)(body))
    val out = ArrayBuffer.empty[(String, Any)]
    def q(s: String) = graft.functions.JsonText.quote(s)

    // Setup, in a fixed order: the session graft.Bench builds, then what
    // the workload's queries read that graft.Bench or graft.Verify puts in
    // place before timing. serving: the podcast warehouse, loaded by the
    // ETL pipeline and written out, then the Delta/Iceberg tables its
    // scans read (each scan's first construction runs LakehouseScan's
    // build-once table writers; no read executes). corpus_dedup: the dedup
    // module's shared caches (SessionCache.warm, cut to that module).
    var spark: SparkSession = null
    out += "setup_s" -> timed(span("setup") {
      span("session") {
        spark = session(cpus.toInt, work)
        spark.sparkContext.setLogLevel("ERROR")
      }
      trace.foreach { t =>
        spark.sparkContext.addSparkListener(t.sparkListener)
        spark.listenerManager.register(t.planListener)
      }
      wl match {
        case "serving" =>
          span("etl.load")(WarehouseQueries.dumpWarehouse(spark))
          span("sources.write")(names.filter(LakehouseScan.queries.contains)
            .foreach(n => SparkEntry.queries(n)(spark, dir)))
        case "corpus_dedup" =>
          val frames = span("cache.build")(BenchWarm.dedupFrames(spark, dir))
          frames.foreach { case (n, df) => span("cache.warm", Seq("frame" -> n))(df.count()) }
      }
    })
    val (lakeBytes, lakeFiles) =
      walk(graft.RepoPaths.target(s"graft_lakehouse/${Paths.get(dir).getFileName}"))
    out += "lake_bytes" -> lakeBytes
    out += "lake_files" -> lakeFiles
    // The tables are built from these two inputs.
    out += "lake_input_bytes" -> Seq("customer", "orders")
      .map(t => Files.size(Paths.get(dir, s"$t.parquet"))).sum
    out += "etl_bytes" -> walk(WarehouseQueries.DumpPath)._1
    out += "storage_after_setup" -> storageBytes(spark)

    // Passes: pass 1 is every query's first execution in this JVM, in the
    // listed order, since the order shifts first-use costs between queries
    // and cold.pass_s must measure the same executions in every run. A
    // fixed number of warm passes follows, each in an order the seed
    // shuffles. A traced run alternates traced and untraced warm passes to
    // measure the tracing overhead.
    val rnd = new scala.util.Random(seed.toLong)
    val warm = math.max(if (trace.isDefined) 4 else 2,
      math.round(seconds.toDouble / SecondsPerWarmPass).toInt)
    val passes = ArrayBuffer.empty[String]
    val storage = ArrayBuffer.empty[Long]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var pass = 0
    while (pass < 1 + warm) {
      pass += 1
      val tr = trace.filter(_ => pass % 2 == 1)
      val order = if (pass == 1) names else rnd.shuffle(names)
      val times = ArrayBuffer.empty[String]
      val before = counters()
      def body(): Unit = order.foreach { name =>
        val q0 = System.nanoTime()
        val qc = if (tr.isDefined) counters() else Nil
        try {
          tr match {
            case None => run(spark, None, name, dir)
            case Some(t) =>
              spark.sparkContext.setJobGroup(s"$name#$pass", name)
              try t.span("query", Seq("query" -> name, "pass" -> pass) ++ delta(qc))(
                run(spark, tr, name, dir))
              finally spark.sparkContext.clearJobGroup()
          }
          times += s"${q(name)}:${secs(q0)}"
        } catch { case e: Throwable =>
          failed.getOrElseUpdate(name, e.toString)
          System.err.println(s"[perfbench] $name failed in pass $pass: $e")
        }
      }
      val wall = timed(tr match {
        case Some(t) => t.span("pass", Seq("pass" -> pass) ++ delta(before))(body())
        case None => body()
      })
      storage += storageBytes(spark)
      val cs = delta(before).map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
      passes += s"""{"pass":$pass,"traced":${tr.isDefined},"wall_s":$wall,""" +
        s""""counters":{$cs},"times":{${times.mkString(",")}}}"""
    }
    out += "passes" -> passes.mkString("[\n", ",\n", "]")
    out += "storage_after_pass" -> storage.mkString("[", ",", "]")
    out += "attempted" -> pass * names.size
    out += "vmhwm_kb" -> vmHwmKb()
    // What the passes left reachable: caches, checkpoints, plan state.
    // Collect until the heap stops shrinking: each collection lets the
    // ContextCleaner release blocks whose owners it found unreachable.
    def heapUsed() = {
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var live = heapUsed()
    var next = heapUsed()
    while (next < live - (1L << 20)) { live = next; next = heapUsed() }
    out += "heap_live_bytes" -> math.min(live, next)

    // Untimed: every workload query's output for the oracle compare. Of
    // the fit-time dumps graft.Verify writes first, these workloads'
    // oracle SQL reads only the warehouse, which setup wrote.
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, dir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed.getOrElseUpdate(name, e.toString)
        System.err.println(s"[perfbench] $name output dump failed: $e")
      }
    }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      oracle.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"))
    out += "failed" -> failed.keys.map(q).mkString("[", ",", "]")
    out += "queries" -> names.map(q).mkString("[", ",", "]")
    out += "cpus" -> cpus
    out += "java_version" -> q(System.getProperty("java.version"))
    out += "spark_version" -> q(spark.version)

    spark.stop() // drains the listener bus before the trace is written
    trace.foreach(t => out += "trace" -> t.json)
    Files.writeString(Paths.get(resultPath),
      out.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",\n", "}\n"))
  }
}
