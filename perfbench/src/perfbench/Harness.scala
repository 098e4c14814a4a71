package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{QueryModule, SparkEntry, Tables}
import graft.operators

/** The benchmark's JVM process: runs one workload's query list as a
  * single-client closed loop, in rounds (passes over the list), and writes
  * a raw JSON record of what it saw.
  *
  * It touches the engine only through public entry points:
  * `SparkEntry.queries`, `Tables.table`, the modules' `qs` lists (used only
  * to attribute a query to its module) and the four
  * `prepareSharedStages` hooks. Every query runs through its full
  * executed plan: the timed action is a `noop` or Parquet write, never
  * `count()`, and an attached `observe` fingerprint checks the output
  * without a second execution.
  *
  * With tracing on, a [[Tracer]] listener links every Spark job, stage and
  * task to the span (setup step, construct, action) that caused it, and
  * times the planning each write does as a `plan` span inside its action.
  * Arithmetic over the raw record (percentiles, self time, per-layer
  * totals) lives in `metrics.py`, where it is unit-tested.
  *
  *   Harness <plan-file> <result-file>
  *
  * The plan file holds `key value` lines: `data`, `cores`, `trace`,
  * `sink` (`noop` or `parquet`), `sinkdir`, `seconds` and `rounds` (the
  * least number of rounds), then `shared <Module>` and
  * `query <name>` lines in run order (or `prefix` lines, see below).
  */
object Harness {

  val SpanKey = "perfbench.span"

  /** The engine's query modules (the same list `SparkEntry` assembles). */
  val modules: Seq[(String, QueryModule)] = Seq(
    "Aggregations" -> operators.Aggregations,
    "EtlOps" -> operators.EtlOps,
    "Filters" -> operators.Filters,
    "Flagships" -> operators.Flagships,
    "Joins" -> operators.Joins,
    "Multimodal" -> operators.Multimodal,
    "ScalarFns" -> operators.ScalarFns,
    "SetOps" -> operators.SetOps,
    "Sources" -> operators.Sources,
    "Streaming" -> operators.Streaming,
    "TextOps" -> operators.TextOps,
    "TypedOps" -> operators.TypedOps,
    "VectorOps" -> operators.VectorOps,
    "Windows" -> operators.Windows)

  val sharedStages: Map[String, (SparkSession, String) => Double] = Map(
    "TextOps" -> operators.TextOps.prepareSharedStages,
    "VectorOps" -> operators.VectorOps.prepareSharedStages,
    "Flagships" -> operators.Flagships.prepareSharedStages,
    "Windows" -> operators.Windows.prepareSharedStages)

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One timed interval of the run; `parent` is -1 for the root. */
  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        startMs: Double, endMs: Double)

  final case class QueryRec(name: String, module: String, round: Int, startMs: Double,
                            constructS: Double, actionS: Double, cpuS: Double,
                            ok: Boolean, error: String, rows: Long,
                            fp: String, sinkPath: String)

  def main(args: Array[String]): Unit = {
    val plan = Files.readAllLines(Paths.get(args(0))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map { l =>
        val i = l.indexOf(' ')
        if (i < 0) (l, "") else (l.take(i), l.drop(i + 1).trim)
      }
    def opt(k: String): String = plan.collectFirst { case (`k`, v) => v }
      .getOrElse(sys.error(s"plan file lacks '$k'"))
    val dataDir = opt("data")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    val sink = opt("sink")
    val sinkDir = opt("sinkdir")
    val seconds = opt("seconds").toDouble
    val minRounds = opt("rounds").toInt
    val shared = plan.collect { case ("shared", m) => m }
    // `prefix p` adds every declared query named p*, in name order
    val prefixes = plan.collect { case ("prefix", p) => p }
    val queryNames = plan.collect { case ("query", q) => q } ++
      SparkEntry.queries.keys.toSeq.sorted.filter(n => prefixes.exists(p => n.startsWith(p)))

    val clock = new Clock
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = if (trace) {
      val t = new Tracer
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None

    val spans = mutable.ArrayBuffer.empty[Span]
    // span ids: 0 = the run, 1 = setup, 2 = batch, then one per step
    val (runId, setupSpanId, batchId) = (0, 1, 2)
    var nextSpan = 3
    /** Runs `body` as a span: jobs it launches carry the span id. */
    def span[T](parent: Int, kind: String, name: String)(body: => T): (T, Int, Double) = {
      val id = nextSpan
      nextSpan += 1
      sc.setLocalProperty(SpanKey, id.toString)
      val s = clock.ms
      try {
        val r = body
        val e = clock.ms
        spans += Span(id, parent, kind, name, s, e)
        (r, id, (e - s) / 1e3)
      } catch {
        case t: Throwable =>
          spans += Span(id, parent, kind, name, s, clock.ms)
          throw t
      } finally sc.setLocalProperty(SpanKey, null)
    }
    val runStart = 0.0 // the clock starts before the session is built
    // ---- setup: touch every table once through the engine's loader, then
    // build this workload's shared stages; "ready" is the end of this block
    tableNames.foreach { t =>
      span(setupSpanId, "load", s"Tables.$t")(Tables.table(spark, dataDir, t))
    }
    val sharedS = shared.map { m =>
      m -> span(setupSpanId, "shared", s"Shared.$m")(sharedStages(m)(spark, dataDir))._3
    }
    val readyEpochMs = System.currentTimeMillis()
    val setupEnd = clock.ms
    spans += Span(setupSpanId, runId, "setup", "setup", runStart, setupEnd)
    val liveAtReady = liveHeapMb()
    val cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val warehouseBytes = dirBytes(new File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))

    // ---- the batch: closed-loop passes ("rounds") over the query list,
    // the same order each round, until `seconds` have passed and at least
    // `rounds` rounds have run
    val moduleOf: Map[String, String] =
      modules.flatMap { case (m, mod) => mod.qs.map(_.name -> m) }.toMap
    val entry = SparkEntry.queries
    val recs = mutable.ArrayBuffer.empty[QueryRec]
    val batchStart = clock.ms
    var round = 0
    while (round < minRounds || clock.ms - batchStart < seconds * 1e3) {
      val roundId = nextSpan
      nextSpan += 1
      val roundStart = clock.ms
      queryNames.zipWithIndex.foreach { case (name, i) =>
        val qStart = clock.ms
        val cpu0 = javaThreadsCpuNs()
        var constructS, actionS = 0.0
        var ok = false
        var err = ""
        var rows = -1L
        var fp = ""
        val path = new File(sinkDir, f"r$round%02d_$i%04d_$name").getPath
        val qid = nextSpan
        nextSpan += 1
        try {
          val (df, _, cs) = span(qid, "construct", name) {
            entry(name)(spark, dataDir)
          }
          constructS = cs
          val obs = Observation(s"fp${round}_$i")
          val f = fingerprint(df)
          val observed = df.observe(obs, f.head, f.tail: _*)
          actionS = span(qid, "action", name) {
            val w = observed.write.mode("overwrite")
            if (sink == "parquet") w.parquet(path) else w.format("noop").save()
          }._3
          val r = obs.get
          rows = r("n").asInstanceOf[Long]
          fp = fpString(rows, r.get("x"), r.get("s"))
          ok = true
        } catch {
          case t: Throwable =>
            err = (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage))
              .linesIterator.nextOption().getOrElse("").take(300)
        }
        spans += Span(qid, roundId, "query", name, qStart, clock.ms)
        recs += QueryRec(name, moduleOf.getOrElse(name, "?"), round, qStart - batchStart,
          constructS, actionS, cpuSinceS(cpu0), ok, err, rows, fp,
          if (sink == "parquet") path else "")
      }
      spans += Span(roundId, batchId, "round", s"round$round", roundStart, clock.ms)
      round += 1
    }
    val batchEnd = clock.ms
    spans += Span(batchId, runId, "batch", "batch", batchStart, batchEnd)
    spans += Span(runId, -1, "run", "run", runStart, batchEnd)

    // ---- after the clock: read each query's first Parquet output back
    // and fingerprint it
    val readBack: Map[String, String] = recs.filter(r => r.round == 0 && r.ok && r.sinkPath.nonEmpty)
      .map { r =>
        val fpr = try {
          val df = spark.read.parquet(r.sinkPath)
          val f = fingerprint(df)
          val row = df.agg(f.head, f.tail: _*).head()
          fpString(row.getLong(0), Option(row.get(1)).map(_.asInstanceOf[Long]),
            Option(row.get(2)).map(_.asInstanceOf[Long]))
        } catch { case t: Throwable => "error: " + t.getClass.getSimpleName }
        r.name -> fpr
      }.toMap
    val sinkFiles = recs.filter(_.sinkPath.nonEmpty).map(r => dirFiles(new File(r.sinkPath)))
    tracer.foreach { t =>
      t.drain(recs.size)
      // each write's planning becomes a `plan` span inside its action
      val actions = spans.filter(_.kind == "action").toSeq
      t.plannings.foreach { case (s0, e0) =>
        val (s, e) = (clock.fromEpoch(s0), clock.fromEpoch(e0))
        actions.find(a => a.startMs <= (s + e) / 2 && (s + e) / 2 <= a.endMs).foreach { a =>
          spans += Span(nextSpan, a.id, "plan", a.name, math.max(s, a.startMs), math.min(e, a.endMs))
          nextSpan += 1
        }
      }
    }
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

    val out = new StringBuilder
    out ++= "{"
    out ++= s""""ready_epoch_ms":$readyEpochMs,"cores":$cores,"""
    out ++= s""""rounds":$round,"batch_wall_s":${(batchEnd - batchStart) / 1e3},"""
    out ++= s""""gc_s":$gcS,"live_ready_mb":$liveAtReady,"""
    out ++= s""""cached_mb":${cachedBytes / 1048576.0},"warehouse_mb":${warehouseBytes / 1048576.0},"""
    out ++= s""""sink_files":${sinkFiles.map(_._1).sum},"sink_mb":${sinkFiles.map(_._2).sum / 1048576.0},"""
    out ++= "\"declared\":[" + modules.flatMap { case (m, mod) =>
      mod.qs.map(q => s"[${js(q.name)},${js(m)}]") }.mkString(",") + "],"
    out ++= "\"shared\":[" + sharedS.map { case (m, s) =>
      s"""{"module":${js(m)},"s":$s}""" }.mkString(",") + "],"
    out ++= "\"queries\":[" + recs.map { r =>
      s"""{"name":${js(r.name)},"module":${js(r.module)},"round":${r.round},""" +
      s""""start_s":${r.startMs / 1e3},"construct_s":${r.constructS},"action_s":${r.actionS},""" +
      s""""cpu_s":${r.cpuS},""" +
      s""""ok":${r.ok},"error":${js(r.error)},"rows":${r.rows},"fp":${js(r.fp)},""" +
      s""""readback":${(if (r.round == 0) readBack.get(r.name) else None).map(js).getOrElse("null")}}"""
    }.mkString(",") + "],"
    out ++= "\"spans\":[" + spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${js(s.kind)},"name":${js(s.name)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }.mkString(",") + "]"
    tracer.foreach { t => out ++= "," + t.json(clock) }
    out ++= "}"
    Files.writeString(Paths.get(args(1)), out.toString)
    spark.stop()
  }

  /** Observed metrics: row count plus two order-free 64-bit folds of an
    * xxhash64 over every column — XOR of the hashes, and the sum of their
    * low 32 bits (at most 2^32 per row, so the sum cannot overflow). */
  def fingerprint(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val h = xxhash64(df.columns.map(c => col("`" + c.replace("`", "``") + "`")).toSeq: _*)
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"), sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("s"))
  }

  /** Heap in use right after a full collection: the live set, which in
    * local mode includes cached blocks and the engine's memos. The first
    * collection lets Spark's context cleaner drop unreferenced broadcast
    * and shuffle state; the second frees it, so the figure does not depend
    * on how far the cleaner had got. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val threadBean = ManagementFactory.getThreadMXBean

  /** CPU time (ns) of each live Java thread: the main thread, Spark's
    * task, broadcast and service threads. The JIT compiler and garbage
    * collector threads are not Java threads and are not in it, nor is
    * time the host steals from the guest. */
  def javaThreadsCpuNs(): Map[Long, Long] =
    threadBean.getAllThreadIds.map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Java-thread CPU time (s) used since the `before` snapshot; a thread
    * started since counts from zero. */
  def cpuSinceS(before: Map[Long, Long]): Double =
    javaThreadsCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  def fpString(n: Long, x: Option[Any], s: Option[Any]): String =
    f"$n:${x.map(_.asInstanceOf[Long]).getOrElse(0L)}%016x:${s.map(_.asInstanceOf[Long]).getOrElse(0L)}%x"

  def js(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** (data files, bytes) under a sink directory, ignoring Spark's markers. */
  def dirFiles(f: File): (Int, Long) =
    if (!f.exists) (0, 0L)
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith(".") || n.startsWith("_")) (0, 0L) else (1, f.length)
    } else Option(f.listFiles).map(_.map(dirFiles)
      .foldLeft((0, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))).getOrElse((0, 0L))
}

/** Milliseconds since this process started, from the monotonic clock, plus
  * the matching wall-clock origin so listener event times (epoch ms) can
  * be placed on the same axis. */
final class Clock {
  private val n0 = System.nanoTime()
  val epochOriginMs: Long = System.currentTimeMillis()
  def ms: Double = (System.nanoTime() - n0) / 1e6
  def fromEpoch(epochMs: Long): Double = (epochMs - epochOriginMs).toDouble
}

/** Listener for the traced run: links jobs to the span id set as a local
  * property, stages to jobs, and sums task metrics per stage. As a query
  * execution listener it also keeps the interval (epoch ms) in which each
  * SQL execution was analysed, optimised and planned — the planning the
  * write itself does, so no query is planned twice. */
final class Tracer extends SparkListener with QueryExecutionListener {
  final class JobRec(val id: Int, val span: Int, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class StageRec(val id: Int) {
    var tasks = 0
    var runMs, gcMs, inRows, swBytes, srBytes, spillBytes = 0L
    var cpuNs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val lastEvent = new AtomicLong(System.nanoTime())
  private val planned = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  def plannings: Seq[(Long, Long)] = planned.asScala.toSeq

  private def recordPlanning(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) planned.add((ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max))
    lastEvent.set(System.nanoTime())
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlanning(qe)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.SpanKey)))
      .flatMap(_.toIntOption).getOrElse(-3)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    lastEvent.set(System.nanoTime())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lastEvent.set(System.nanoTime())
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.computeIfAbsent(e.stageInfo.stageId, id => new StageRec(id))
    lastEvent.set(System.nanoTime())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inRows += m.inputMetrics.recordsRead
        s.swBytes += m.shuffleWriteMetrics.bytesWritten
        s.srBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.diskBytesSpilled
      }
    }
    lastEvent.set(System.nanoTime())
  }

  /** Waits until every started job has ended, at least `executions` SQL
    * executions have been reported and the bus has been quiet for a
    * moment, so totals include the last task events. */
  def drain(executions: Int): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() < deadline &&
      (jobs.values.asScala.exists(_.endMs < 0) || planned.size < executions ||
        System.nanoTime() - lastEvent.get < 300_000_000L)) Thread.sleep(50)
  }

  def json(clock: Clock): String = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"id":${j.id},"span":${j.span},"start_ms":${clock.fromEpoch(j.startMs)},""" +
      s""""end_ms":${clock.fromEpoch(if (j.endMs < 0) j.startMs else j.endMs)},""" +
      s""""stages":[${j.stages.mkString(",")}]}"""
    }
    val ss = stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"job":${Option(stageJob.get(s.id)).getOrElse(-1)},"tasks":${s.tasks},""" +
      s""""run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},"in_rows":${s.inRows},""" +
      s""""sw_bytes":${s.swBytes},"sr_bytes":${s.srBytes},"spill_bytes":${s.spillBytes}}"""
    }
    s""""jobs":[${js.mkString(",")}],"stages":[${ss.mkString(",")}]"""
  }
}
