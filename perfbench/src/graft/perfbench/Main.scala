package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.operators.Upsert
import graft.streaming.{MergeSink, Watch}
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Runs one benchmark workload against the engine's public calls and
  * writes the raw samples to `<work>/result.json`:
  *
  *   Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *
  * Every workload is a closed loop with one client: one op in flight,
  * the next sent when it completes. Set-up runs [[Setups]] times in fresh
  * directories (the last one is measured). The inputs are files a
  * generator wrote from the seed; this program only lands and reads
  * them. Correctness is judged by the caller against its own model, from
  * the outputs this program dumps under `<work>/out` once the timed loop
  * is over. */
object Main {
  val Setups = 3
  /** Files a streaming workload applies before timing starts: file 0 in
    * every set-up, then file 1 once, untimed — the first merge into an
    * existing table runs on a cold code path (about 1.5x a warm op). */
  val UntimedFiles = 2
  val PollMs = 1L
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val t0 = System.nanoTime()
  /** Wall-clock marks of the run's phases (seconds since JVM start of
    * main), reported so the untimed cost of a run stays visible. */
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def mark(phase: String): Unit = marks(phase) = (System.nanoTime() - t0) / 1e9

  /** One client iteration: the op (landed/sent → complete) plus whatever
    * the client does before sending the next op (reads, copies). */
  final class OpRec(val idx: Int, val name: String) {
    var startNs, doneNs, endNs, startMs, endMs = 0L
    var ok = false
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  }

  final class Client(tracer: Option[Tracer], seconds: Double) {
    val ops = ArrayBuffer.empty[OpRec]
    val measureStartNs = System.nanoTime()
    def timeLeft: Boolean =
      System.nanoTime() - measureStartNs < (seconds * 1e9).toLong

    /** `body` runs the op and returns its completion time (nanos); work
      * it does after that instant belongs to the iteration, not the op. */
    def op(name: String)(body: OpRec => Long): OpRec = {
      val r = new OpRec(ops.size, name)
      val fs0 = CountingLocalFileSystem.snapshot()
      val gc0 = gcMs()
      r.startMs = System.currentTimeMillis(); r.startNs = System.nanoTime()
      try {
        r.doneNs = body(r)
        r.ok = r.doneNs > 0
      } catch {
        case e: Exception =>
          r.extra("error") = e.toString
          System.err.println(s"[perfbench] op ${r.idx} ($name) failed: $e")
      }
      r.endNs = System.nanoTime(); r.endMs = System.currentTimeMillis()
      if (!r.ok) r.doneNs = r.endNs
      tracer.foreach { t =>
        t.spans.add(Span("op", r.idx, r.startNs, r.doneNs))
        val fs1 = CountingLocalFileSystem.snapshot()
        r.extra("fs") = fs1.map { case (k, v) => k -> (v - fs0(k)) }
        r.extra("gc_s") = (gcMs() - gc0) / 1e3
      }
      ops += r
      r
    }

    def span[T](name: String, op: Int)(body: => T): T = {
      val s = System.nanoTime()
      try body finally tracer.foreach(_.spans.add(Span(name, op, s, System.nanoTime())))
    }
  }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, secondsArg, traceArg) = args
    val trace = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Paths.get(workDir).toAbsolutePath
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      // bounded status-store history, so retained heap does not grow
      // with the number of ops a run completes
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
    if (trace) b.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    mark("session")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streams)
      val local = new java.net.URI("file:///")
      val conf = spark.sparkContext.hadoopConfiguration
      val fsClass = org.apache.hadoop.fs.FileSystem.get(local, conf).getClass
      val fcClass = org.apache.hadoop.fs.FileContext.getFileContext(local, conf)
        .getDefaultFileSystem.getClass
      require(fsClass == classOf[CountingLocalFileSystem] &&
        fcClass == classOf[CountingLocalFs],
        s"traced run needs the counting filesystems, got $fsClass and $fcClass")
    }
    val seconds = secondsArg.toDouble
    val out = work.resolve("out"); Files.createDirectories(out)
    val (setups, client, queries, facts) = workload match {
      case "cpi_ingest" => cpiIngest(spark, tracer, Paths.get(inDir), work, seconds)
      case "cdc_apply" => cdcApply(spark, tracer, Paths.get(inDir), work, seconds)
      case "analytics_mix" => analyticsMix(spark, tracer, Paths.get(inDir), work, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    mark("dumped")
    val measuredS = client.ops.lastOption
      .map(o => (o.endNs - client.measureStartNs) / 1e9).getOrElse(0.0)
    // collections free what the context cleaner releases after the
    // previous one; three settle the heap
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    tracer.foreach(_.drain(spark, queries))
    val opsJson = client.ops.map { o =>
      val traced = tracer.map(t => t.attribute(o.startMs, o.endMs))
        .getOrElse(Map.empty)
      Map("idx" -> o.idx, "name" -> o.name, "ok" -> o.ok,
        "latency_s" -> (o.doneNs - o.startNs) / 1e9) ++ o.extra ++ traced
    }
    val spans = tracer.toSeq.flatMap(_.spans.asScala).map(s =>
      Map("name" -> s.name, "op" -> s.op, "start_s" -> (s.startNs - t0) / 1e9,
        "dur_s" -> (s.endNs - s.startNs) / 1e9))
    if (trace) Files.writeString(out.resolve("spans.json"), json.writeValueAsString(spans))
    mark("end")
    Files.writeString(work.resolve("result.json"), json.writeValueAsString(Map(
      "workload" -> workload, "cpus" -> cpus, "traced" -> trace,
      "setup_s" -> setups, "measured_s" -> measuredS, "untimed_files" -> UntimedFiles,
      "retained_heap_mb" -> heap / 1048576.0, "phases" -> marks.toMap,
      "ops" -> opsJson) ++ facts))
    spark.stop()
  }

  /** Copies `src` next to `dstDir` (keeping its mtime); the returned
    * thunk lands it by atomic rename. */
  private def staged(src: JPath, dstDir: JPath): () => Unit = {
    val stage = dstDir.resolveSibling("staging"); Files.createDirectories(stage)
    val tmp = stage.resolve(src.getFileName)
    Files.copy(src, tmp, StandardCopyOption.COPY_ATTRIBUTES)
    () => Files.move(tmp, dstDir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  private def rmTree(p: JPath): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def dirBytes(p: JPath): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private def liveBytes(df: DataFrame): Long =
    df.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f).getPath))).sum

  private def awaitActive(q: StreamingQuery): Unit = {
    // the stream is ready once it has made its first (empty) trigger
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (q.status.message != "Waiting for next trigger" &&
           System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(PollMs)
    }
  }

  /** Builds the workload's state [[Setups]] times, timing each build;
    * all but the last are torn down, outside the timed region. */
  private def timedSetups[T](build: Int => T)(discard: T => Unit): (Seq[Double], T) = {
    var last = Option.empty[T]
    val times = (0 until Setups).map { k =>
      last.foreach(discard)
      val s = System.nanoTime()
      last = Some(build(k))
      (System.nanoTime() - s) / 1e9
    }
    mark("setups")
    (times, last.get)
  }

  // ── cpi_ingest ─────────────────────────────────────────────────────────

  /** The reference's own path: CPI files land one at a time in a dir
    * watched by one long-lived continuous [[Watch]]; its completion
    * callback exports the landed month's report. Op = one landing →
    * report CSV written. Set-up starts the watch and loads file 0: it
    * runs until the system has produced its first report. */
  def cpiIngest(spark: SparkSession, tracer: Option[Tracer], in: JPath,
                work: JPath, seconds: Double) = {
    val plan = readPlan(in.resolve("plan.json"))
    @volatile var reportMonth = (0, 0)
    @volatile var done = new java.util.concurrent.CompletableFuture[java.lang.Long]
    @volatile var opIdx = -1
    var client: Client = null
    // stages plan(i); the thunk lands it and returns when its report has
    // been exported
    def landFile(i: Int, watchDir: JPath): () => Long = {
      val (dir, files, y, m) = plan(i)
      val lands = files.map(f => staged(in.resolve(dir).resolve(f), watchDir))
      reportMonth = (y, m)
      done = new java.util.concurrent.CompletableFuture[java.lang.Long]
      () => {
        lands.foreach(_())
        done.get(120, java.util.concurrent.TimeUnit.SECONDS).longValue
      }
    }
    def build(k: Int) = {
      val root = work.resolve(s"ingest_$k"); rmTree(root)
      val watchDir = root.resolve("watch"); Files.createDirectories(watchDir)
      val reportDir = root.resolve("report").toString
      var pipeline: graft.pipeline.IngestPipeline = null
      val watch = new Watch(spark, watchDir.toString, root.resolve("wh").toString,
        maxAttempts = 1, freshnessMinutes = 0,
        loadParallelism = math.min(4, Runtime.getRuntime.availableProcessors),
        onAllLoaded = () => {
          val (y, m) = reportMonth
          def export() = pipeline.buildAndExportReport(y, m, Seq.empty, "", reportDir)
          if (client == null) export() else client.span("pipeline.report", opIdx)(export())
          done.complete(System.nanoTime())
          ()
        })
      pipeline = watch.pipeline
      val q = watch.start(root.resolve("cp").toString, continuous = true,
        interval = "100 milliseconds")
      awaitActive(q)
      landFile(0, watchDir)()
      (root, watchDir, reportDir, watch, q)
    }
    val (setups, (root, watchDir, reportDir, watch, q)) =
      timedSetups(build) { r => r._5.stop(); rmTree(r._1) }
    landFile(1, watchDir)()
    val reports = work.resolve("out/reports"); Files.createDirectories(reports)
    client = new Client(tracer, seconds)
    var failed = false
    while (client.timeLeft && client.ops.size + UntimedFiles < plan.size && !failed) {
      val file = client.ops.size + UntimedFiles
      opIdx = client.ops.size
      val land = landFile(file, watchDir)
      val r = client.op("land") { r => r.extra("file") = file; land() }
      if (r.ok) {
        val part = Files.list(Paths.get(reportDir)).iterator.asScala
          .find(_.getFileName.toString.endsWith(".csv"))
        part.foreach(p => Files.copy(p, reports.resolve(f"op_$file%04d.csv")))
      }
      // a lost op means the watch is gone: every later op would time out
      failed = !r.ok
      q.exception.foreach(e => System.err.println(s"[perfbench] watch died: $e"))
    }
    mark("timed")
    q.stop()
    val pipeline = watch.pipeline
    val table = pipeline.permanent()
      .select(date_format(col("Date"), "yyyy-MM"), col("GEO"), col("Products"),
        col("VALUE").cast("string"))
    Files.writeString(work.resolve("out/table.tsv"),
      table.collect().map(_.toSeq.mkString("\t")).mkString("", "\n", "\n"))
    val facts = Map(
      "quarantined" -> pipeline.audit.isQuarantined("cpi_poison.csv"),
      "loaded" -> pipeline.audit.successTargets("loading").toSeq.sorted,
      "stored_bytes" -> dirBytes(root.resolve("wh/0_priceindex")),
      "live_bytes" -> liveBytes(spark.read.parquet(root.resolve("wh/0_priceindex").toString)))
    (setups, client, Setups, facts)
  }

  /** plan.json: [{"dir": .., "files": [name, ..], "year": .., "month": ..}] */
  private def readPlan(p: JPath): Seq[(String, Seq[String], Int, Int)] = {
    json.readTree(p.toFile).elements.asScala.map { n =>
      (n.get("dir").asText, n.get("files").elements.asScala.map(_.asText).toSeq,
        n.get("year").asInt, n.get("month").asInt)
    }.toSeq
  }

  // ── cdc_apply ──────────────────────────────────────────────────────────

  val CdcSchema = "part INT, id BIGINT, ver BIGINT, op STRING, amount BIGINT, tag STRING"
  val CdcKeys = Seq("part", "id")
  val CdcHot = "63"

  /** Writes beside reads: change files land one at a time in a dir
    * consumed by [[MergeSink.startCdc]] into a manifested table; after
    * every batch the client reads the hot partition. Op = one landing →
    * the batch that applies it has committed. Set-up bootstraps the table,
    * starts the stream and applies file 0. */
  def cdcApply(spark: SparkSession, tracer: Option[Tracer], in: JPath,
               work: JPath, seconds: Double) = {
    val files = Files.list(in).iterator.asScala
      .filter(p => p.getFileName.toString.matches("\\d+")).toSeq.sorted
      .map(d => Files.list(d).iterator.asScala.next())
    // stages change file i; the thunk lands it and returns once the batch
    // applying it (batch i: one file per batch) has committed, 0 if never
    def applyFile(i: Int, changes: JPath, q: StreamingQuery): () => Long = {
      val land = staged(files(i), changes)
      () => {
        land()
        val deadline = System.nanoTime() + 120L * 1000000000L
        def applied = Option(q.lastProgress)
          .exists(p => p.batchId >= i && p.numInputRows > 0)
        while (!applied && q.isActive && System.nanoTime() < deadline)
          Thread.sleep(PollMs)
        if (applied) System.nanoTime() else 0L
      }
    }
    def build(k: Int) = {
      val root = work.resolve(s"cdc_$k"); rmTree(root)
      val table = root.resolve("table").toString
      val changes = root.resolve("changes"); Files.createDirectories(changes)
      val base = spark.read.schema(CdcSchema).option("header", "true")
        .csv(in.resolve("base/base.csv").toString).drop("op")
      Upsert.mergeIntoManifested(spark, table, base, CdcKeys, "part", "ver")
      val events = spark.readStream.schema(CdcSchema).option("header", "true")
        .csv(changes.toString)
      val q = MergeSink.startCdc(events, table, CdcKeys, "part", "ver", "op",
        root.resolve("cp").toString, Trigger.ProcessingTime("100 milliseconds"))
      awaitActive(q)
      require(applyFile(0, changes, q)() > 0, "set-up batch never committed")
      (root, table, changes, q)
    }
    val (setups, (_, table, changes, q)) =
      timedSetups(build) { r => r._4.stop(); rmTree(r._1) }
    require(applyFile(1, changes, q)() > 0, "warm-up batch never committed")
    val client = new Client(tracer, seconds)
    var failed = false
    while (client.timeLeft && client.ops.size + UntimedFiles < files.size && !failed) {
      val file = client.ops.size + UntimedFiles
      val apply = applyFile(file, changes, q)
      val r = client.op("apply") { r => r.extra("file") = file; apply() }
      if (r.ok) {
        val leaves0 = Upsert.EpochManifest.leafReadCount.get
        val s = System.nanoTime()
        val hot = client.span("upsert.read", r.idx) {
          Upsert.readManifestedPartitions(spark, table, Seq(CdcHot)).count()
        }
        r.extra("read_s") = (System.nanoTime() - s) / 1e9
        r.extra("hot_rows") = hot
        r.extra("leaves") = Upsert.EpochManifest.leafReadCount.get - leaves0
      }
      failed = !r.ok
      q.exception.foreach(e => System.err.println(s"[perfbench] cdc died: $e"))
    }
    mark("timed")
    q.stop()
    Upsert.readManifested(spark, table).select(CdcKeys.map(col) ++
        Seq(col("ver"), col("amount"), col("tag")): _*)
      .coalesce(1).write.option("header", "true").csv(work.resolve("out/table").toString)
    val facts = Map(
      "stored_bytes" -> dirBytes(Paths.get(table)),
      "live_bytes" -> liveBytes(Upsert.readManifested(spark, table)))
    (setups, client, Setups, facts)
  }

  // ── analytics_mix ──────────────────────────────────────────────────────

  /** Op = one gate's query (`gates.txt` in the input dir, one name a
    * line), collected to the driver. A pass runs every gate once in
    * that order. The untimed first pass writes each result for the
    * DuckDB oracle; every timed op must return the same rows. Set-up
    * scans every input table. */
  def analyticsMix(spark: SparkSession, tracer: Option[Tracer], in: JPath,
                   work: JPath, seconds: Double) = {
    val dir = in.toString
    val gates = Files.readAllLines(in.resolve("gates.txt")).asScala.toSeq
    val tables = Files.list(in).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSeq.sorted
    def digest(rows: Array[org.apache.spark.sql.Row]): Int =
      rows.map(_.toString).sorted.toSeq.hashCode
    val qdir = work.resolve("out/q")
    val expected = gates.map { g =>
      val df = graft.SparkEntry.queries(g)(spark, dir)
      val rows = df.collect()
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.parquet(qdir.resolve(g).toString)
      spark.catalog.clearCache()
      g -> digest(rows)
    }.toMap
    mark("oracle_pass")
    Files.writeString(qdir.resolve("oracle_sql.json"),
      json.writeValueAsString(
        graft.SparkEntry.oracleSql.filter { case (k, _) => expected.contains(k) }))
    // set-up follows the oracle pass, which has already paid the JVM's
    // and Spark's first-job warm-up
    val (setups, _) = timedSetups { _ =>
      tables.foreach(t => graft.Tables.load(spark, dir, t).count())
    }(_ => ())
    val client = new Client(tracer, seconds)
    val passes = ArrayBuffer.empty[Double]
    var p0 = System.nanoTime()
    // gates cycle in a fixed order until time is up, after at least one
    // whole pass; the caller weighs every gate alike, so a partial last
    // pass does not tilt the mix
    while (client.ops.size < gates.size || client.timeLeft) {
      val g = gates(client.ops.size % gates.size)
      val r = client.op(g) { r =>
        val got = graft.SparkEntry.queries(g)(spark, dir).collect()
        val t = System.nanoTime()
        r.extra("match") = digest(got) == expected(g)
        if (r.extra("match") == true) t else 0L
      }
      spark.catalog.clearCache()
      r.endNs = System.nanoTime(); r.endMs = System.currentTimeMillis()
      if (client.ops.size % gates.size == 0) {
        passes += (System.nanoTime() - p0) / 1e9
        p0 = System.nanoTime()
      }
    }
    mark("timed")
    (setups, client, 0, Map("passes_s" -> passes.toSeq))
  }
}
