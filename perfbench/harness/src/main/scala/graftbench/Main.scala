package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.{CorpusPipeline, EtlPipeline, FraudMart}
import graft.sources.Tables

/** The benchmark's JVM side: one session, one workload, closed loop.
  *
  * Usage: graftbench.Main <workload> <inputsDir> <workDir> <seconds> <trace> <cpus>
  *
  * It drives graft only through public functions, on the inputs that
  * perfbench/gen.py wrote (`plan.properties` names them), and writes
  * what it measured to `<workDir>`: `oracle.json` (graft's oracle SQL
  * for the checks), `ops.jsonl` (one line per timed call), `spans.jsonl`
  * and, when traced, `jobs.jsonl` (Spark jobs with their enclosing span
  * and call site).
  * Correctness is checked afterwards by perfbench/checks.py on the files
  * the timed calls wrote.
  */
object Main {
  private val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsArg, traceArg, cpus) = args
    val seconds = secondsArg.toDouble
    Trace.enabled = traceArg == "1"
    val props = new Properties()
    val in = Files.newInputStream(Paths.get(inputs, "plan.properties"))
    try props.load(in) finally in.close()
    Files.createDirectories(Paths.get(work))

    // set-up, repeated so its median is a steady figure: a fresh session,
    // a fixed warm-up, graft's query registry, and the inputs' schemas.
    // The first set-up also loads and compiles the JVM's classes; it
    // varies with the host far more than the rest, so it is not counted.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Setups + 1) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      spark.range(200000).selectExpr("sum(id * 3)").collect()
      require(SparkEntry.queries.nonEmpty)
      inputTables(props, inputs).foreach(p => spark.read.parquet(p).schema)
      if (i > 0) setups += (System.nanoTime() - t0) / 1e9
    }
    // the ETL month runs its first day once on a throwaway warehouse before
    // timing: the days are driver-bound, and a JVM still compiling Spark's
    // planning paths makes them drift by a fifth from day to day
    if (workload == "etl_month") {
      Etl.days(spark, props, inputs, work, "warmup", 1, None)
      Trace.reset()
    }
    if (Trace.enabled) Trace.install(spark)

    writeOracle(props, work)
    val ops = new Ops(work)
    setups.zipWithIndex.foreach { case (s, i) => ops.add(0, "setup", s"setup$i", s) }
    val t0 = System.nanoTime()
    var round = 0
    var last = 0.0
    // whole rounds only, so every run attempts the same operations per
    // round; another round starts only if it fits in the run's seconds
    while (round == 0 || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val r0 = System.nanoTime()
      round += 1
      workload match {
        case "etl_month"       =>
          // the month, then its first day once more on another empty
          // warehouse: two samples of the empty-warehouse day
          Etl.days(spark, props, inputs, work, s"r$round", Int.MaxValue, Some((round, ops)))
          Etl.days(spark, props, inputs, work, s"r${round}_empty", 1, Some((round, ops)))
        case "query_families"  => Queries.round(spark, props, inputs, work, round, ops)
        case other             => throw new IllegalArgumentException(s"unknown workload $other")
      }
      last = (System.nanoTime() - r0) / 1e9
    }
    ops.close()
    Trace.write(work)
    spark.stop()
  }

  /** The oracle SQL graft declares for the queries the checks need. */
  private def writeOracle(p: Properties, work: String): Unit = {
    val names = p.getProperty("oracle", "").split(",").filter(_.nonEmpty)
    val oracle = SparkEntry.oracleSql
    val json = names.flatMap(n => oracle.get(n).map(sql => s"${jstr(n)}:${jstr(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(work, "oracle.json"), json)
  }

  def session(cpus: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def inputTables(p: Properties, inputs: String): Seq[String] =
    p.getProperty("tables", "").split(",").filter(_.nonEmpty).toSeq
      .map(t => s"$inputs/$t")

  /** Files a call left under `root`, by relative path → size. */
  def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.size(f)).toMap
      finally st.close()
    }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Timed calls, written one JSON line each. `extra` carries figures the
  * call's caller measured (bytes written, cached bytes, phase times).
  */
final class Ops(work: String) {
  private val w = Files.newBufferedWriter(Paths.get(work, "ops.jsonl"))
  def add(round: Int, kind: String, name: String, seconds: Double,
          extra: Map[String, Double] = Map.empty): Unit = {
    val ex = extra.map { case (k, v) => s""","${k}":$v""" }.mkString
    w.write(s"""{"round":$round,"kind":${Main.jstr(kind)},"name":${Main.jstr(name)},"s":$seconds$ex}""")
    w.newLine()
  }
  def close(): Unit = w.close()
}

/** Spans around every call into a layer, and (traced runs only) the
  * Spark jobs each span fired. A job is attributed through a local
  * property set while the span is open, which Spark copies onto the
  * job; its call site is the long form Spark records per stage.
  */
object Trace {
  @volatile var enabled = false
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startMs: Double, var endMs: Double)
  final case class Job(id: Int, span: Int, execId: Long, startMs: Long, var endMs: Long,
                       callSite: String, stack: String,
                       var tasks: Long = 0, var runMs: Long = 0,
                       var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
                       var memSpill: Long = 0, var diskSpill: Long = 0)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextOp = 0
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // SQL execution id -> the long call site of the action that started it
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()
  private var spark: SparkSession = _
  private val Drain = -2
  @volatile private var drained = false

  /** Forget the spans recorded so far. */
  def reset(): Unit = { spans.clear(); nextOp = 0 }

  /** Time `f` as a span; a top-level span starts a new operation id. */
  def span[T](name: String)(f: => T): (T, Double) = {
    if (stack.isEmpty) nextOp += 1
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), nextOp, nowMs, 0)
    spans += s
    stack = s.id :: stack
    // the listener is installed (traced runs, after the warm-up) once
    // `spark` is set
    if (spark != null) spark.sparkContext.setLocalProperty("graftbench.span", s.id.toString)
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.endMs = nowMs
      stack = stack.tail
      if (spark != null) spark.sparkContext.setLocalProperty("graftbench.span",
        stack.headOption.map(_.toString).orNull)
    }
  }

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p =>
          Option(p.getProperty("graftbench.span"))).map(_.toInt).getOrElse(-1)
        val exec = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
        val first = e.stageInfos.sortBy(_.stageId).headOption
        jobs.put(e.jobId, Job(e.jobId, span, exec, e.time, e.time,
          first.map(_.name).getOrElse(""), first.map(_.details).getOrElse("")))
        e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach { j =>
          j.endMs = e.time
          if (j.span == Drain) drained = true
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execSite.put(x.executionId, (x.description, x.details))
        case _ => ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
          j.synchronized {
            j.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              j.runMs += m.executorRunTime
              j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              j.memSpill += m.memoryBytesSpilled
              j.diskSpill += m.diskBytesSpilled
            }
          }
        }
    })
  }

  def write(work: String): Unit = {
    val sw = Files.newBufferedWriter(Paths.get(work, "spans.jsonl"))
    try spans.foreach { s =>
      sw.write(s"""{"id":${s.id},"name":${Main.jstr(s.name)},"parent":${s.parent},"op":${s.op},"start":${s.startMs},"end":${s.endMs}}""")
      sw.newLine()
    } finally sw.close()
    if (enabled) {
      // the listener bus delivers events in order but asynchronously: a
      // marker job's end means every earlier event has been seen
      spark.sparkContext.setLocalProperty("graftbench.span", Drain.toString)
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      val jw = Files.newBufferedWriter(Paths.get(work, "jobs.jsonl"))
      try jobs.values().asScala.toSeq.sortBy(_.id).foreach { j =>
        // jobs that adaptive execution submits from its own threads carry
        // no graft frames; they take those of the action that started
        // their SQL execution
        def graftFrames(stack: String) =
          stack.linesIterator.map(_.trim).filter(_.startsWith("graft.")).mkString("|")
        val own = graftFrames(j.stack)
        val (site, frames) =
          if (own.nonEmpty) (j.callSite, own)
          else Option(execSite.get(j.execId))
            .map { case (d, st) => (d, graftFrames(st)) }.getOrElse((j.callSite, ""))
        jw.write(s"""{"id":${j.id},"span":${j.span},"start":${j.startMs},"end":${j.endMs},"site":${Main.jstr(site)},"frames":${Main.jstr(frames)},"tasks":${j.tasks},"run_ms":${j.runMs},"shuffle_write":${j.shuffleWrite},"shuffle_read":${j.shuffleRead},"mem_spill":${j.memSpill},"disk_spill":${j.diskSpill}}""")
        jw.newLine()
      } finally jw.close()
    }
  }
}

/** A month of daily ETL: deliveries land, the reference's main.py order
  * runs (file loop, table loop, mart refresh), on a fresh warehouse per
  * round.
  */
object Etl {
  private val customerMapping = EtlPipeline.FileMapping("customers_*.txt",
    "dim_customer", "c_custkey",
    Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), scd = 2,
    decimalCols = Seq("c_acctbal"))
  private val blacklistMapping = EtlPipeline.FileMapping("passport_blacklist_*.xlsx",
    "dim_passport_blacklist", "passport", Seq("client_id", "entry_dt"), scd = 1)

  /** The first `n` business days on a fresh warehouse under
    * `etl/<name>`; each call is recorded when `record` names the round.
    */
  def days(spark: SparkSession, p: Properties, inputs: String, work: String,
           name: String, n: Int, record: Option[(Int, Ops)]): Unit = {
    val tables = s"$inputs/tables"
    val base = Paths.get(work, s"etl/$name")
    val inbox = base.resolve("inbox")
    val wh = base.resolve("wh")
    Files.createDirectories(inbox)
    val days = p.getProperty("days").split(",").toSeq.take(n)
    days.zipWithIndex.foreach { case (day, i) =>
      // the day's deliveries land in the inbox
      val src = Paths.get(inputs, "deliveries", day)
      Files.list(src).iterator().asScala.toSeq.sortBy(_.toString)
        .foreach(f => Files.copy(f, inbox.resolve(f.getFileName)))
      val date = java.time.LocalDate.parse(day)
      val dayEnd = date.plusDays(1).atStartOfDay().format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val end = lit(dayEnd).cast("timestamp")
      def feeds = Seq(EtlPipeline.TableFeed(
        EtlPipeline.TableMapping("events", "fact_operations", "event_id",
          Seq("ts", "user_id", "event_type", "value", "props"), scd = 1),
        Tables.events(spark, tables).filter(col("ts") < end)
          .withColumn("create_dt", col("ts")),
        createCol = "create_dt", updateCol = None))
      val marts = Seq("mart_fraud" -> EtlPipeline.MartAccumulate(
        full = (s, _) => FraudMart.report(s, tables).filter(col("event_dt") < end),
        increment = (s, _, since) =>
          FraudMart.incrementalReport(s, tables, since).filter(col("event_dt") < end),
        watermarkCol = "event_dt"))

      def call(call: String)(f: => Unit): Unit = {
        val before = Main.listing(wh)
        val (_, s) = Trace.span(s"pipeline.$call")(f)
        val after = Main.listing(wh)
        val fresh = after.filter { case (k, v) => before.get(k) != Some(v) }
        val byTable = fresh.groupBy(_._1.takeWhile(_ != '/')).map { case (t, fs) =>
          s"bytes.$t" -> fs.values.sum.toDouble }
        // a mart compaction rewrites the mart into fewer files
        def martFiles(l: Map[String, Long]) =
          l.keys.count(k => k.startsWith("mart_fraud/") && k.endsWith(".parquet"))
        record.foreach { case (round, ops) => ops.add(round, call, s"$name/$day", s, byTable ++ Map(
          "files" -> fresh.size.toDouble,
          "compactions" -> (if (martFiles(after) < martFiles(before)) 1.0 else 0.0),
          "stored" -> after.values.sum.toDouble)) }
      }
      Trace.span("etl.day") {
        call("run") {
          EtlPipeline.run(spark, inbox.toString, wh.toString,
            Seq(customerMapping, blacklistMapping), runId = 2L * i + 1)
        }
        call("from_tables") {
          EtlPipeline.runFromTables(spark, wh.toString, feeds, runId = 2L * i + 2,
            deleteTs = dayEnd)
        }
        call("refresh_marts") {
          EtlPipeline.refreshMarts(spark, wh.toString, marts)
        }
      }
    }
  }
}

/** The paper's query families, cold then warm, in a fresh session per
  * round. Each call constructs the query, forces its physical plan and
  * materializes every row and column to parquet, which the checks read.
  */
object Queries {
  def round(spark0: SparkSession, p: Properties, inputs: String, work: String,
            round: Int, ops: Ops): Unit = {
    SparkEntry.releaseAllCaches()
    spark0.catalog.clearCache()
    val spark = spark0.newSession()
    val tables = s"$inputs/tables"
    val names = p.getProperty("queries").split(",").toSeq
    val registry = SparkEntry.queries
    // one cold pass, then two warm ones: the warm figure of a query is the
    // faster of its two warm calls, so one stall does not decide it
    for ((pass, dir) <- Seq("cold" -> "cold", "warm" -> "warm", "warm" -> "warm2")) {
      names.foreach { q =>
        val fn = registry(q)
        val out = s"$work/queries/r$round/$dir/$q"
        Trace.span(s"query.$pass.$q") {
          val (df, construct) = Trace.span("queries.construct") {
            graft.Verify.naiveTimestamps(fn(spark, tables))
          }
          val (_, plan) = Trace.span("catalyst.plan")(df.queryExecution.executedPlan)
          val (_, exec) = Trace.span("exec.materialize") {
            df.write.mode("overwrite").parquet(out)
          }
          val phases = df.queryExecution.tracker.phases
          val tracked = phases.values.map(_.durationMs).sum / 1e3
          ops.add(round, s"query.$pass", q, construct + plan + exec, Map(
            "construct" -> construct, "plan" -> plan, "exec" -> exec, "phases" -> tracked))
        }
      }
    }
    // the memory the queries' memos hold, before curation releases them
    val infos = spark.sparkContext.getRDDStorageInfo
    ops.add(round, "cached", "after_warm", 0.0,
      Map("bytes" -> (infos.map(_.memSize).sum + infos.map(_.diskSize).sum).toDouble))
    // curation runs once, cold (the session's first curate), last so that
    // the caches it releases do not turn the warm calls cold; a warm call
    // as well would leave the run no room
    Corpus.curate(spark, inputs, s"$work/queries/r$round/corpus", round, ops)
    SparkEntry.releaseAllCaches()
    spark.catalog.clearCache()
  }
}

/** graft's corpus curation: the backfill engine, `curate` over the train
  * split with the eval slice held out, so that decontamination runs. Its
  * outputs stay under `out` for the checks.
  */
object Corpus {
  def curate(spark: SparkSession, inputs: String, out: String, round: Int, ops: Ops): Unit = {
    def docs(split: String) = Tables.documents(spark, s"$inputs/corpus/$split")
    val (_, s) = Trace.span("corpus.curate") {
      CorpusPipeline.curate(spark, docs("train"), Some(docs("eval")), out)
    }
    ops.add(round, "corpus.cold", "curate", s)
  }
}
