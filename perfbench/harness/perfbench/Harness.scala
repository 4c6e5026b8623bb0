package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry

/** Closed-loop, one-client driver for the registry queries.
  *
  * One JVM, one session at a time, queries one after another. Each query
  * execution is timed at two boundaries: build (the registry builder
  * call, which runs iterative ops, staging and stream replays eagerly)
  * and execute (a write to the noop sink, which plans the query once and
  * runs it, as the project's bench main does). The traced run splits
  * planning out of execute with the write's own planning tracker. Every
  * phase runs under a job group naming its pass, query and phase, which is
  * how the traced run attributes jobs, SQL executions and stream runs to a
  * query phase.
  *
  * Order of work: `setups` set-ups (session + one untimed warm-up pass,
  * the first timed from main entry), then timed passes until
  * `seconds` have elapsed and at least `minPasses` have run. With trace
  * on, passes alternate traced (listeners attached) and untraced. The
  * query order of each pass is read from `ordersFile`, one line per pass
  * (warm-up passes first), each a permutation of the query indices.
  * The first set-up's warm-up pass is also the correctness pass: it writes
  * every result as parquet for the oracle compare instead of to noop.
  * A query that throws in a later warm-up pass is recorded too.
  * Everything measured is written as one JSON file; statistics are left
  * to the caller.
  *
  *   Harness <sfDir> <queries,comma,separated> <ordersFile> <seconds> <trace 0|1>
  *           <minPasses> <setups> <cores> <checkDir> <outJson>
  */
object Harness {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  /** Wall clock in epoch microseconds, monotonic within the run. */
  def nowUs: Long = epochMs0 * 1000 + (System.nanoTime() - nano0) / 1000

  def main(args: Array[String]): Unit = {
    val Array(sfDir, queryList, ordersFile, secondsS, traceS, minPassesS,
      setupsS, coresS, checkDir, outJson) = args
    val names = queryList.split(",").toSeq
    val trace = traceS == "1"
    val cores = coresS.toInt
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(",")}")
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val orders = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(ordersFile)).asScala.map(_.split(",").map(_.toInt).toSeq)
    val setupN = setupsS.toInt
    val out = new Json

    // ---- set-up: session + one untimed warm-up pass, several times ------
    var spark: SparkSession = null
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val setupErrors = ArrayBuffer.empty[String]
    val setups = (0 until setupN).map { i =>
      val t = if (i == 0) nano0 else System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(sfDir, cores)
      orders(i).foreach { q =>
        if (i == 0) checks(fns(q)._1) = check(spark, sfDir, fns(q), checkDir)
        else {
          val r = runQuery(spark, sfDir, fns(q), "w")
          if (r.error.nonEmpty) setupErrors += Json.fields("setup" -> i.toString,
            "query" -> Json.str(fns(q)._1), "error" -> Json.str(r.error))
        }
      }
      (System.nanoTime() - t) / 1e9
    }
    out.nums("setup_s", setups)
    out.raw("setup_errors", setupErrors.mkString("[", ",", "]"))
    out.obj("check", checks.toSeq.map { case (n, e) => n -> Json.str(e) })
    out.obj("oracle_sql", names.map(n =>
      n -> Json.str(SparkEntry.oracleSql.getOrElse(n, ""))))

    // ---- timed passes ---------------------------------------------------
    val tracer = new Tracer(spark)
    val samples = ArrayBuffer.empty[String]
    val passes = ArrayBuffer.empty[String]
    // at least `seconds` and `minPasses`, but never past 4 x `seconds`
    val budgetNs = secondsS.toDouble * 1e9
    val tLoop = System.nanoTime()
    var p = 0
    while ((System.nanoTime() - tLoop < budgetNs || p < minPassesS.toInt) &&
        System.nanoTime() - tLoop < 4 * budgetNs && setupN + p < orders.size) {
      val traced = trace && p % 2 == 0
      if (traced) tracer.attach()
      val t0 = System.nanoTime()
      orders(setupN + p).zipWithIndex.foreach { case (q, qi) =>
        val (name, fn) = fns(q)
        val r = runQuery(spark, sfDir, (name, fn), s"$p:$qi")
        samples += Json.fields(
          "pass" -> p.toString, "qi" -> qi.toString, "query" -> Json.str(name),
          "start_us" -> r.startUs.toString, "build_s" -> r.build.toString,
          "exec_s" -> r.exec.toString, "error" -> Json.str(r.error))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) tracer.detach()
      // a second collection after the context cleaner has had time to drop
      // the blocks of the first one's unreachable broadcasts and shuffles
      System.gc(); Thread.sleep(200); System.gc()
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      passes += Json.fields("pass" -> p.toString, "traced" -> traced.toString,
        "wall_s" -> wall.toString, "heap_mb" -> heap.toString)
      p += 1
    }
    out.raw("passes", passes.mkString("[", ",", "]"))
    out.raw("samples", samples.mkString("[", ",", "]"))
    if (trace) tracer.write(out)
    out.fields("run", "cores" -> cores.toString,
      "sf_dir" -> Json.str(sfDir),
      "spark" -> Json.str(spark.version),
      "max_split_bytes" -> spark.conf.get("spark.sql.files.maxPartitionBytes"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), out.render)
    spark.stop()
  }

  /** The session settings of the project's own bench main. */
  def session(sfDir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes",
        SparkEntry.adaptiveMaxSplitBytes(sfDir, cores).toString)
      .withExtensions(graft.functions.GraftExtensions.inject)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Run(startUs: Long, build: Double, exec: Double, error: String)

  /** One query execution: build, then execute, each under its own job
    * group; persisted RDDs are released afterwards so every pass measures
    * the same work. A failure is recorded with its message, not its time. */
  def runQuery(spark: SparkSession, sfDir: String,
      q: (String, (SparkSession, String) => DataFrame), tag: String): Run = {
    val sc = spark.sparkContext
    // the phase name goes into the job group (read by jobs and SQL
    // executions) and a job tag (read by stream starts, whose thread
    // replaces the group with the stream's run id)
    var cur: String = null
    def group(phase: String): Unit = {
      if (cur != null) sc.removeJobTag(cur)
      cur = s"pb:$tag:$phase"
      sc.setJobGroup(cur, s"${q._1} $phase")
      sc.addJobTag(cur)
    }
    val start = nowUs
    val t0 = System.nanoTime()
    var t1 = t0
    val error =
      try {
        group("build")
        val df = q._2(spark, sfDir)
        t1 = System.nanoTime()
        group("execute")
        df.write.format("noop").mode("overwrite").save()
        ""
      } catch { case e: Throwable => oneLine(e) }
      finally { sc.clearJobGroup(); sc.removeJobTag(cur) }
    val t2 = System.nanoTime()
    unpersistAll(spark)
    if (t1 == t0) t1 = t2
    Run(start, (t1 - t0) / 1e9, (t2 - t1) / 1e9, error)
  }

  /** One result written as parquet for the oracle compare: "" or the error. */
  def check(spark: SparkSession, sfDir: String,
      q: (String, (SparkSession, String) => DataFrame), checkDir: String): String = {
    val err =
      try {
        q._2(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/${q._1}")
        ""
      } catch { case e: Throwable => oneLine(e) }
    unpersistAll(spark)
    err
  }

  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  def oneLine(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage))
      .replaceAll("\\s+", " ").take(300)
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  def graftNodes(plan: SparkPlan): Int =
    collectWithSubqueries(plan) {
      case n if n.getClass.getName.startsWith("graft.") => 1
    }.size
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case _: Exchange => 1 }.size
  /** (files read by scans, files written, bytes written) of an executed plan. */
  def io(plan: SparkPlan): (Long, Long, Long) = {
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val read = collectWithSubqueries(plan) {
      case n if n.children.isEmpty && n.nodeName.contains("Scan") => metric(n, "numFiles")
    }.sum
    val writes = collectWithSubqueries(plan) {
      case w: DataWritingCommandExec =>
        (w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L),
          w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L))
    }
    (read, writes.map(_._1).sum, writes.map(_._2).sum)
  }
}

/** The traced run's listeners. Jobs carry the job group the harness set
  * for their phase (stream jobs carry their run id, mapped back to the
  * phase that started the stream); stages and tasks inherit their job's
  * group; SQL executions carry it too. Records are kept in memory and
  * written once at the end. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val streamGroup = new ConcurrentHashMap[String, String]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execs = ArrayBuffer.empty[String]
  private val batches = ArrayBuffer.empty[String]

  final class JobRec(val group: String, val startMs: Long, val stages: Int) {
    @volatile var endMs = 0L
  }

  final class StageAcc {
    var group = ""; var submitMs = 0L; var doneMs = 0L
    var tasks = 0; var failed = 0
    var runMs, cpuNs, gcMs, delayMs, shW, shR, fetchMs, spillM, spillD, inB = 0L
    val taskRun = ArrayBuffer.empty[Long]
  }

  private def groupOf(g: String): String =
    if (g == null) "" else if (g.startsWith("pb:")) g
    else Option(streamGroup.get(g)).getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      e.stageIds.foreach(stageGroup.put(_, g))
      jobs.put(e.jobId, new JobRec(g, e.time, e.stageIds.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
      a.synchronized {
        a.tasks += 1
        if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime)
          a.shW += m.shuffleWriteMetrics.bytesWritten
          a.shR += m.shuffleReadMetrics.totalBytesRead
          a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillM += m.memoryBytesSpilled; a.spillD += m.diskBytesSpilled
          a.inB += m.inputMetrics.bytesRead
          a.taskRun += m.executorRunTime
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = stages.computeIfAbsent((i.stageId, i.attemptNumber()), _ => new StageAcc)
      a.synchronized {
        a.group = Option(stageGroup.get(i.stageId)).getOrElse("")
        a.submitMs = i.submissionTime.getOrElse(0L)
        a.doneMs = i.completionTime.getOrElse(0L)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execGroup.put(s.executionId, groupOf(s.jobGroupId.orNull))
      case end: SparkListenerSQLExecutionEnd =>
        val g = Option(execGroup.remove(end.executionId)).getOrElse("")
        PerfbenchBus.queryExecution(end).foreach { qe =>
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
          val (rf, wf, wb, graft, exch) =
            try {
              val plan = qe.executedPlan
              val (r, w, b) = PlanWalk.io(plan)
              (r, w, b, PlanWalk.graftNodes(plan), PlanWalk.exchanges(plan))
            } catch { case _: Throwable => (0L, 0L, 0L, 0, 0) }
          // the planning interval: first phase start to last phase end
          val from = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
          val to = if (ph.isEmpty) 0L else ph.values.map(_.endTimeMs).max
          val rec = Json.fields("group" -> Json.str(g),
            "analyze_ms" -> ms("analysis").toString,
            "optimize_ms" -> ms("optimization").toString,
            "physical_ms" -> ms("planning").toString,
            "plan_start_ms" -> from.toString, "plan_end_ms" -> to.toString,
            "graft_nodes" -> graft.toString, "exchanges" -> exch.toString,
            "read_files" -> rf.toString, "write_files" -> wf.toString,
            "write_bytes" -> wb.toString)
          execs.synchronized(execs += rec)
        }
      case _ =>
    }
  }

  private val streams = new StreamingQueryListener {
    // delivered before start() returns, so before any job of the stream
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      e.jobTags.find(_.startsWith("pb:"))
        .foreach(streamGroup.put(e.runId.toString, _))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val rec = Json.fields(
        "group" -> Json.str(Option(streamGroup.get(p.runId.toString)).getOrElse("")),
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toString,
        "trigger_ms" -> d("triggerExecution").toString,
        "plan_ms" -> d("queryPlanning").toString,
        "addbatch_ms" -> d("addBatch").toString,
        "commit_ms" -> (d("walCommit") + d("commitOffsets")).toString,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toString)
      batches.synchronized(batches += rec)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streams)
  }

  def write(out: Json): Unit = {
    out.raw("jobs", jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      Json.fields("id" -> id.toString, "group" -> Json.str(j.group),
        "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
        "stages" -> j.stages.toString)
    }.mkString("[", ",", "]"))
    out.raw("stages", stages.asScala.toSeq.sortBy(_._1).map { case ((id, att), a) =>
      val sorted = a.taskRun.sorted
      val med = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      Json.fields("id" -> id.toString, "attempt" -> att.toString,
        "group" -> Json.str(if (a.group.nonEmpty) a.group
          else Option(stageGroup.get(id)).getOrElse("")),
        "submit_ms" -> a.submitMs.toString, "done_ms" -> a.doneMs.toString,
        "tasks" -> a.tasks.toString, "failed" -> a.failed.toString,
        "run_ms" -> a.runMs.toString, "cpu_ns" -> a.cpuNs.toString,
        "gc_ms" -> a.gcMs.toString, "delay_ms" -> a.delayMs.toString,
        "shuffle_write" -> a.shW.toString, "shuffle_read" -> a.shR.toString,
        "fetch_wait_ms" -> a.fetchMs.toString, "spill_mem" -> a.spillM.toString,
        "spill_disk" -> a.spillD.toString, "read_bytes" -> a.inB.toString,
        "task_median_ms" -> med.toString,
        "task_max_ms" -> sorted.lastOption.getOrElse(0L).toString)
    }.mkString("[", ",", "]"))
    out.raw("execs", execs.mkString("[", ",", "]"))
    out.raw("batches", batches.mkString("[", ",", "]"))
  }
}

/** Minimal JSON object writer (values are pre-rendered JSON). */
final class Json {
  private val parts = ArrayBuffer.empty[String]
  def raw(k: String, v: String): Unit = parts += Json.str(k) + ":" + v
  def nums(k: String, v: Seq[Double]): Unit = raw(k, v.mkString("[", ",", "]"))
  def obj(k: String, kv: Seq[(String, String)]): Unit = raw(k, Json.fields(kv: _*))
  def fields(k: String, kv: (String, String)*): Unit = raw(k, Json.fields(kv: _*))
  def render: String = parts.mkString("{", ",", "}")
}

object Json {
  def fields(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
