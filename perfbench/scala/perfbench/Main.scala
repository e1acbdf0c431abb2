package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.{Caches, Queries, Sessions, Tables}
import graft.operators.Compaction
import graft.streaming.StreamingIngest

/** Benchmark process for one workload run.
  *
  * Usage: `perfbench.Main <workload> <planFile> <workDir> <outDir> <seconds> <trace 0|1> <cpus>`
  *
  * The plan file (written by run.py) lists the inputs: `warm <dir> <table>`,
  * `op <query> <dir>` in run order, or
  * `staged <dir>` and `drop <key> <at> <rows> <bytes> <bootstrap>`.
  * Results go to `<outDir>`: `summary.json`, `ops.jsonl`, one `results/<id>.json`
  * per distinct (query, input) pair, and `trace.json` when tracing.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, planFile, workDir, outDir, seconds, trace, cpus) = args
    val plan = Source.fromFile(planFile).getLines().map(_.split("\t").toSeq).toSeq
    new Harness(workload, plan, workDir, outDir, seconds.toDouble,
      new Tracer(trace == "1"), cpus.toInt).run()
  }
}

final class Harness(workload: String, plan: Seq[Seq[String]], workDir: String,
                    outDir: String, seconds: Double, tracer: Tracer, cpus: Int)
    extends AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private val listener = new LayerListener
  private val summary = mutable.LinkedHashMap.empty[String, String]
  private val opLines = mutable.ArrayBuffer.empty[String]
  private var nextOp = 0L

  private def now: Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9
  private def entries(kind: String) = plan.filter(_.head == kind).map(_.tail)

  def run(): Unit = {
    new File(s"$outDir/results").mkdirs()
    // set-up is timed from JVM start: class loading, session start and
    // warming the inputs are all part of what a user waits for
    val t0 = now - java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    var t1 = 0L
    tracer.span("setup") {
      tracer.span("Sessions.start")(startSession())
      t1 = now
      tracer.span("Tables.warm")(warm())
    }
    summary("setup_s") = Json.num(secs(now - t0))
    summary("start_s") = Json.num(secs(t1 - t0))
    summary("warm_s") = Json.num(secs(now - t1))
    summary("canary_cpu_s") = Json.num(canary())
    val creates0 = FsClock.parquetCreates.get()
    val w0 = now
    workload match {
      case "ingest_stream" => runIngest()
      case _ => runQueries()
    }
    summary("wall_s") = Json.num(secs(now - w0))
    summary("parquet_files_created") = (FsClock.parquetCreates.get() - creates0).toString
    summary("oracle") = Json.obj(entries("op").map(_.head).distinct
      .flatMap(n => Queries.byName(n).oracle.map(n -> Json.str(_))): _*)
    summary("rss_mb") = Json.num(vmHwmMb())
    writeOutputs()
    spark.stop()
  }

  // ------------------------------------------------------------ session

  private def startSession(): Unit = {
    val b = Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    if (tracer.on)
      b.config("spark.hadoop.fs.file.impl", classOf[TimedLocalFileSystem].getName)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark.sparkContext)
    if (tracer.on) spark.sparkContext.addSparkListener(listener)
  }

  private def warm(): Unit = workload match {
    case "ingest_stream" => ingestSetup()
    case _ => entries("warm").foreach { case Seq(dir, t) => Tables.load(spark, dir, t).count() }
  }

  /** CPU-contention canary (as graft.Bench's canary_cpu): a fixed hash
    * over an in-memory range. Diagnostic only. */
  private def canary(): Double = {
    val t0 = now
    spark.range(0, 10000000L, 1, cpus)
      .select(sum(pmod(xxhash64(col("id")), lit(1024L)))).collect()
    secs(now - t0)
  }

  private def vmHwmMb(): Double =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Runs after every op: inside the wall time, outside the op's latency. */
  private def release(op: Long): Unit = tracer.span("Caches.release", op) {
    Caches.release(spark)
    spark.catalog.clearCache()
  }

  // ------------------------------------------------------------ query workloads

  private lazy val familyOf: Map[String, String] = Seq(
    "Relational" -> graft.operators.Relational.queries,
    "Analytics" -> graft.operators.Analytics.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "TextAnalysis" -> graft.operators.TextAnalysis.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "Multimodal" -> graft.operators.Multimodal.queries)
    .flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** Closed loop, one client: run every planned op in order. The plan holds
    * whole passes (every query once, or every stage on one shard). */
  private def runQueries(): Unit = {
    val firstDigest = mutable.Map.empty[(String, String), String]
    var memosCreated = 0L
    var storageMax = 0L
    for (Seq(name, dir) <- entries("op")) {
      val id = nextOp; nextOp += 1
      val before = Caches.memoKeys(spark)
      if (tracer.on) memosBefore(id) = before.flatMap(memoRdd.get)
      var rows: Array[Row] = null
      var columns: Seq[String] = Nil
      var err = ""
      var nodes = 0
      val t0 = now
      tracer.span("op", id) {
        try {
          // build, force the physical plan, collect every column
          val df = tracer.span("operators.build")(Queries.byName(name).run(spark, dir))
          tracer.span("plans.plan")(df.queryExecution.executedPlan)
          rows = tracer.span("operators.exec")(df.collect())
          columns = df.schema.fieldNames.toSeq
          if (tracer.on) nodes = collect(df.queryExecution.executedPlan) { case p => p }.size
        } catch { case e: Exception => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      val lat = secs(now - t0)
      if (tracer.on) storageMax = math.max(storageMax,
        spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
      val created = Caches.memoKeys(spark) -- before
      memosCreated += created.size
      if (tracer.on && err.isEmpty) created.foreach(k => memoRddId(k).foreach(memoRdd(k) = _))
      release(id)
      // correctness bookkeeping, outside the op's latency
      var digest = ""
      var first = false
      if (err.isEmpty) {
        val (cols, body) = Json.rows(columns, rows)
        digest = Json.md5(cols.mkString(",") + body)
        firstDigest.get((name, dir)) match {
          case None =>
            first = true
            firstDigest((name, dir)) = digest
            write(s"$outDir/results/$id.json", Json.obj(
              "name" -> Json.str(name), "input" -> Json.str(dir),
              "columns" -> Json.arr(cols.map(Json.str)), "rows" -> body))
          case Some(d) if d != digest => err = "result differs from the first run of this query"
          case _ =>
        }
      }
      opLines += Json.obj("id" -> id.toString, "name" -> Json.str(name),
        "input" -> Json.str(dir), "family" -> Json.str(familyOf.getOrElse(name, "other")),
        "lat" -> Json.num(lat), "ok" -> (err.isEmpty).toString, "err" -> Json.str(err),
        "first" -> first.toString, "rows" -> (if (rows == null) 0 else rows.length).toString,
        "nodes" -> nodes.toString)
    }
    summary("memos_created") = memosCreated.toString
    summary("storage_bytes_max") = storageMax.toString
  }

  // memo key -> id of the RDD its frame scans; op -> memo RDDs that
  // existed before the op started (traced run only)
  private val memoRdd = mutable.Map.empty[String, Int]
  private val memosBefore = mutable.Map.empty[Long, Set[Int]]

  /** The RDD behind an installed memo. `Caches.memo` returns the existing
    * cell for an installed key without running the builder. */
  private def memoRddId(key: String): Option[Int] =
    Caches.memo(spark, key)(throw new IllegalStateException(s"memo $key not installed"))
      .queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }

  /** Memo reads that found a frame built before the op started: an op's
    * jobs scan the memo's RDD (seen by [[LayerListener]]). */
  private def memoHits(): Int = {
    val opOf = tracer.spans.map(s => s.id -> s.op).toMap
    val read = listener.rddsBySpan.toSeq.groupBy { case (span, _) => opOf.getOrElse(span, -1L) }
      .map { case (op, xs) => op -> xs.flatMap(_._2).toSet }
    memosBefore.toSeq.map { case (op, rdds) => (rdds & read.getOrElse(op, Set.empty)).size }.sum
  }

  // ------------------------------------------------------------ ingest workload

  private case class Drop(key: String, at: Double, rows: Long, bytes: Long, bootstrap: Boolean)
  private lazy val drops = entries("drop").map { case Seq(k, at, r, b, boot) =>
    Drop(k, at.toDouble, r.toLong, b.toLong, boot == "1") }
  private lazy val dropByKey = drops.map(d => d.key -> d).toMap
  private val csvSchema = StructType(Seq(
    StructField("patient_id", StringType), StructField("encounter_id", StringType),
    StructField("diagnosis", StringType), StructField("amount", DoubleType)))
  private val baseDate = java.time.LocalDate.of(2026, 1, 1)
  private lazy val stagedDir = entries("staged").head.head

  private val incoming = s"$workDir/ingest/incoming"
  private val lake = s"$workDir/ingest/lake"
  private val ckpt = s"$workDir/ingest/checkpoint"
  private val ledger = mutable.TreeMap.empty[String, Long]
  private val ingested = mutable.Set.empty[String]
  private val batchIds = mutable.Set.empty[Long]
  private var lastResult: Map[String, Long] = Map.empty

  private def land(d: Drop): Unit = {
    val tmp = Paths.get(incoming, s".${d.key}.tmp")
    Files.copy(Paths.get(stagedDir, d.key), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(incoming, d.key), StandardCopyOption.ATOMIC_MOVE)
  }

  private def drain(date: String): Unit =
    StreamingIngest.start(spark, incoming, s"$lake/athena.parquet", ckpt, csvSchema,
      date, Trigger.AvailableNow()).awaitTermination()

  /** The reference's published query: rows per ingest_date, newest first. */
  private def countQuery(): Map[String, Long] =
    spark.sql("SELECT ingest_date, count(*) AS n_rows FROM graft.athena " +
      "GROUP BY ingest_date ORDER BY ingest_date DESC").collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap

  /** Source files the stream has committed so far, with their batch ids. */
  private def sourceLog(): Map[String, Long] = {
    val dir = new File(s"$ckpt/sources/0")
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(dir.listFiles()).getOrElse(Array.empty).filterNot(_.getName.startsWith("."))
      .flatMap(f => Source.fromFile(f).getLines().flatMap(l => entry.findFirstMatchIn(l)))
      .map(m => new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong)
      .toMap
  }

  /** Attribute newly committed drops to `date`; returns the new keys and
    * the number of new micro-batches. */
  private def account(date: String): (Seq[String], Int) = {
    val log = sourceLog()
    val newBatches = (log.values.toSet -- batchIds).size
    batchIds ++= log.values
    val fresh = log.keys.filterNot(ingested.contains).toSeq.sorted
    fresh.foreach { k =>
      ingested += k
      ledger(date) = ledger.getOrElse(date, 0L) + dropByKey.get(k).map(_.rows).getOrElse(-1L)
    }
    (fresh, newBatches)
  }

  private def ingestSetup(): Unit = {
    new File(incoming).mkdirs()
    val date = baseDate.minusDays(1).toString
    drops.filter(_.bootstrap).foreach(land)
    drain(date)
    account(date)
    Tables.registerCatalog(spark, lake, "graft", Seq("athena"))
    lastResult = countQuery()
  }

  /** Open loop: a generator thread lands drops on their schedule while the
    * main thread drains each pending backlog, refreshes the catalog and runs
    * the count query. A drop's latency runs from its scheduled land time
    * until the query that first includes it returns. */
  private def runIngest(): Unit = {
    val scheduled = drops.filterNot(_.bootstrap)
    val landedAt = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val landedCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = now + 50000000L
    val dayNs = math.max(1L, (seconds * 1e9 / 4).toLong)
    val generator = new Thread(() => scheduled.foreach { d =>
      val due = start + (d.at * 1e9).toLong
      val wait = due - now
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      land(d)
      landedAt.put(d.key, now)
      landedCount.incrementAndGet()
    }, "drop-generator")
    generator.setDaemon(true)
    generator.start()

    var backlogMax, cycles = 0
    var batches = 0L
    var drainNs, refreshNs = 0L
    val cycleLines = mutable.ArrayBuffer.empty[String]
    var seen = 0 // scheduled drops landed before the latest cycle started
    while (seen < scheduled.size) {
      if (landedCount.get() == seen) Thread.sleep(2)
      else {
        seen = landedCount.get()
        val id = nextOp; nextOp += 1
        val c0 = now
        val date = baseDate.plusDays(math.max(0L, c0 - start) / dayNs).toString
        val backlog = scheduled.take(seen).count(d => d.key.endsWith(".csv") && !ingested(d.key))
        backlogMax = math.max(backlogMax, backlog)
        var err = ""
        tracer.span("ingest.cycle", id) {
          try {
            val d0 = now
            tracer.span("streaming.drain")(drain(date))
            val d1 = now
            tracer.span("catalog.refresh")(Tables.refreshCatalog(spark, "graft", Seq("athena")))
            drainNs += d1 - d0
            refreshNs += now - d1
            lastResult = tracer.span("query.count")(countQuery())
          } catch { case e: Exception => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        }
        val c1 = now
        cycles += 1
        release(id)
        // bookkeeping, outside the drop latencies
        val (fresh, newBatches) = account(date)
        batches += newBatches
        if (err.isEmpty && lastResult != ledger.toMap)
          err = s"count per ingest_date $lastResult != ledger ${ledger.toMap}"
        if (err.isEmpty && fresh.exists(k => !k.endsWith(".csv")))
          err = s"non-csv key ingested: $fresh"
        cycleLines += Json.obj("id" -> id.toString, "start" -> Json.num(secs(c0 - start)),
          "end" -> Json.num(secs(c1 - start)), "backlog" -> backlog.toString,
          "files" -> fresh.size.toString, "date" -> Json.str(date),
          "ok" -> err.isEmpty.toString, "err" -> Json.str(err))
        fresh.flatMap(dropByKey.get).foreach { d =>
          val due = start + (d.at * 1e9).toLong
          opLines += Json.obj("id" -> id.toString, "name" -> Json.str("drop"),
            "input" -> Json.str(d.key), "family" -> Json.str("ingest"),
            "lat" -> Json.num(secs(c1 - due)), "wait" -> Json.num(secs(c0 - due)),
            "late" -> Json.num(secs(landedAt.get(d.key) - due)),
            "ok" -> err.isEmpty.toString, "err" -> Json.str(err), "first" -> "false",
            "rows" -> d.rows.toString, "nodes" -> "0")
        }
      }
    }
    generator.join()
    // drops that landed but never became queryable
    scheduled.filter(d => d.key.endsWith(".csv") && !ingested.contains(d.key)).foreach { d =>
      opLines += Json.obj("id" -> "-1", "name" -> Json.str("drop"), "input" -> Json.str(d.key),
        "family" -> Json.str("ingest"), "lat" -> Json.num(seconds), "ok" -> "false",
        "err" -> Json.str("never ingested"), "first" -> "false", "rows" -> d.rows.toString,
        "nodes" -> "0")
    }

    // one compaction at the end, then the same query must answer the same
    val before = lastResult
    val id = nextOp; nextOp += 1
    val compactLake = s"$workDir/compacted"
    val tableBytes = parquetBytes(new File(s"$lake/athena.parquet"))
    var err = ""
    var compactNs = 0L
    val t0 = now
    tracer.span("compaction", id) {
      try {
        tracer.span("Compaction.compact")(
          Compaction.compact(spark, s"$lake/athena.parquet", s"$compactLake/athena.parquet"))
        compactNs = now - t0
        tracer.span("catalog.refresh")(Tables.registerCatalog(spark, compactLake, "graft", Seq("athena")))
        lastResult = tracer.span("query.count")(countQuery())
      } catch { case e: Exception => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    val lat = secs(now - t0)
    release(id)
    if (err.isEmpty && (lastResult != before || lastResult != ledger.toMap))
      err = s"after compaction $lastResult != before $before"
    opLines += Json.obj("id" -> id.toString, "name" -> Json.str("compaction"),
      "input" -> Json.str(""), "family" -> Json.str("ingest"), "lat" -> Json.num(lat),
      "ok" -> err.isEmpty.toString, "err" -> Json.str(err), "first" -> "false",
      "rows" -> ledger.values.sum.toString, "nodes" -> "0")

    val csv = drops.filter(_.key.endsWith(".csv"))
    summary("ingest") = Json.obj(
      "cycles" -> cycles.toString, "batches" -> batches.toString,
      "files" -> (ingested.size - drops.count(_.bootstrap)).toString,
      "backlog_files_max" -> backlogMax.toString,
      "drain_s" -> Json.num(secs(drainNs)), "refresh_s" -> Json.num(secs(refreshNs)),
      "compact_s" -> Json.num(secs(compactNs)),
      "bytes_rewritten" -> tableBytes.toString,
      "files_out" -> parquetFiles(new File(s"$compactLake/athena.parquet")).toString,
      "table_files" -> parquetFiles(new File(s"$lake/athena.parquet")).toString,
      "stored_bytes" -> parquetBytes(new File(s"$compactLake/athena.parquet")).toString,
      "csv_bytes" -> csv.map(_.bytes).sum.toString,
      "csv_rows" -> csv.map(_.rows).sum.toString,
      "ledger" -> Json.obj(ledger.toSeq.map { case (k, v) => k -> v.toString }: _*),
      "cycle_log" -> Json.arr(cycleLines))
  }

  private def parquetFiles(f: File): Int =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) 1 else 0 }
    else Option(f.listFiles()).map(_.map(parquetFiles).sum).getOrElse(0)

  private def parquetBytes(f: File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
    else Option(f.listFiles()).map(_.map(parquetBytes).sum).getOrElse(0L)

  // ------------------------------------------------------------ outputs

  private def write(path: String, text: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.write(text) finally w.close()
  }

  private def writeOutputs(): Unit = {
    write(s"$outDir/ops.jsonl", opLines.mkString("", "\n", "\n"))
    if (tracer.on) {
      org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
      val spans = tracer.spans.map { s =>
        Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "op" -> s.op.toString, "start" -> s.start.toString, "end" -> s.end.toString,
          "fs_ns" -> s.fsNanos.toString,
          "counters" -> Json.obj(listener.bySpan.getOrElse(s.id, new Counters).fields
            .map { case (k, v) => k -> v.toString }: _*))
      }
      summary("task_skew") = Json.num(listener.worstSkew)
      summary("memo_hits") = memoHits().toString
      write(s"$outDir/trace.json", Json.obj("spans" -> Json.arr(spans)))
    }
    write(s"$outDir/summary.json", Json.obj(summary.toSeq: _*))
  }
}
