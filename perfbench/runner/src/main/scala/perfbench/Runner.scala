package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.expr
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftSession, Tables}
import graft.sources.{DeltaScan, DeltaWrite}

/** One run of one benchmark workload against the engine as shipped.
  *
  * Usage: `Runner <plan.json> <result.json>`. The plan (written by
  * perfbench/run.py) names the workload, its generated inputs, the warm-up
  * operations and a long operation stream. The runner
  *  1. sets up `setup_reps` times (session build, table registration /
  *     warm-cache build / initial Delta create) and keeps the last set-up;
  *     before the last set-up it runs the warm-up operations on the
  *     previous set-up's session and tables and discards them (a
  *     read-only workload runs one more warm-up group after it);
  *  2. records the empty-job probe latency (host-phase fingerprint);
  *  3. runs the stream closed-loop with one client until `seconds` pass
  *     (in a traced run: an untraced half-length phase first, then a traced
  *     phase that forces analyze/optimize/plan/prep/execute separately and
  *     records spans plus listener counters per operation);
  *  4. records the probe again and, for Delta, re-reads the table from its
  *     log alone in a fresh session.
  * Answers are written canonically (rows as JSON arrays, sorted) and
  * deduplicated; correctness is judged by run.py against DuckDB.
  */
object Runner {
  private implicit val formats: Formats = DefaultFormats
  val QidKey = "perfbench.qid"
  val WriteKinds = Set("append", "merge", "delete", "optimize", "checkpoint")

  // ------------------------------------------------------------ clock

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock (comparable to listener times). */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  // ------------------------------------------------------------ spans

  final case class Span(id: Int, parent: Int, name: String, qid: String,
                        start: Double, var end: Double)

  /** In-memory span store; written out once when the run ends. */
  final class Tracer {
    val spans = new ArrayBuffer[Span]()
    private var nextId = 1
    def open(name: String, parent: Int, qid: String, start: Double = now()): Span =
      synchronized {
        val s = Span(nextId, parent, name, qid, start, Double.NaN)
        nextId += 1
        spans += s
        s
      }
    def span[T](name: String, parent: Int, qid: String)(body: => T): T = {
      val s = open(name, parent, qid)
      try body finally s.end = now()
    }
    def write(path: Path): Unit = {
      val lines = synchronized(spans.toList).map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
          s""""qid":${Json.str(s.qid)},"start":${Json.num(s.start)},"end":${Json.num(s.end)}}"""
      }
      Files.write(path, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Per-operation counters summed from listener events. */
  final class Counters {
    var jobs = 0L; var tasks = 0L
    var taskCpuNs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var shuffleWriteNs = 0L; var fetchWaitMs = 0L
    var inputBytes = 0L; var inputRows = 0L
    var spillBytes = 0L; var peakExecBytes = 0L
  }

  /** Attributes job/stage/task events to the operation whose id the
    * submitting thread carried as the `perfbench.qid` local property, and
    * records them as spans under the operation's execute/op span.
    */
  final class TraceListener(tracer: Tracer) extends SparkListener {
    @volatile var parent: Int = 0
    val counters = mutable.Map.empty[String, Counters]
    private val stageQid = mutable.Map.empty[Int, String]
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val jobSpans = mutable.Map.empty[Int, Span]
    // task events arrive before their stage completes: hold their
    // intervals until the stage span exists
    private val pendingTasks = mutable.Map.empty[(Int, Int), ArrayBuffer[(Double, Double)]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val qid = Option(e.properties).map(_.getProperty(QidKey)).orNull
      if (qid != null) {
        counters.getOrElseUpdate(qid, new Counters).jobs += 1
        val job = tracer.open("job", parent, qid, e.time.toDouble)
        jobSpans(e.jobId) = job
        e.stageIds.foreach { s => stageQid(s) = qid; stageSpan(s) = job.id }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      stageQid.get(info.stageId).foreach { qid =>
        val sp = tracer.open("stage", stageSpan(info.stageId), qid,
          info.submissionTime.getOrElse(0L).toDouble)
        sp.end = info.completionTime.getOrElse(0L).toDouble
        pendingTasks.remove((info.stageId, info.attemptNumber())).foreach(_.foreach {
          case (ls, le) => tracer.open("task", sp.id, qid, ls).end = le
        })
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageQid.get(e.stageId).foreach { qid =>
        val c = counters.getOrElseUpdate(qid, new Counters)
        c.tasks += 1
        val info = e.taskInfo
        pendingTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          ((info.launchTime.toDouble, info.finishTime.toDouble))
        val m = e.taskMetrics
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.spillBytes += m.diskBytesSpilled
          c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
        }
      }
    }
  }

  // ------------------------------------------------------------ json out

  object Json {
    def str(s: String): String =
      if (s == null) "null"
      else {
        val b = new StringBuilder("\"")
        s.foreach {
          case '"' => b ++= "\\\""
          case '\\' => b ++= "\\\\"
          case '\n' => b ++= "\\n"
          case '\r' => b ++= "\\r"
          case '\t' => b ++= "\\t"
          case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
          case c => b += c
        }
        (b += '"').toString
      }
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    def value(v: Any): String = v match {
      case null => "null"
      case s: String => str(s)
      case d: Double => num(d)
      case f: Float => num(f.toDouble)
      case b: java.math.BigDecimal => b.toPlainString
      case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
      case n: java.lang.Number => n.toString
      case b: Boolean => b.toString
      case d: java.sql.Date => str(d.toString)
      case d: java.time.LocalDate => str(d.toString)
      case t: java.sql.Timestamp => str(t.toString)
      case t: java.time.Instant => str(t.toString)
      case other => str(other.toString)
    }
    def obj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  }

  /** Rows as sorted JSON-array lines: one text per distinct answer. */
  def canonical(rows: Array[Row]): String =
    rows.map(r => (0 until r.length).map(i => Json.value(r.get(i))).mkString("[", ",", "]"))
      .sorted.mkString("\n")

  // ------------------------------------------------------------ run state

  final case class Exec(id: String, kind: String, phase: String, ms: Double,
                        error: String, answer: Int, version: Long,
                        counters: Seq[(String, String)])

  private object GraftNodes extends AdaptiveSparkPlanHelper {
    def count(p: SparkPlan): Int =
      collectWithSubqueries(p) { case n if n.getClass.getName.startsWith("graft.") => 1 }.size
  }

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))),
      StandardCharsets.UTF_8))
    val out = Paths.get(args(1))
    val workload = (plan \ "workload").extract[String]
    val cores = (plan \ "cores").extract[Int]
    val seconds = (plan \ "seconds").extract[Double]
    val warmupS = (plan \ "warmup_seconds").extract[Double]
    val traced = (plan \ "trace").extract[Int] == 1
    val setupReps = (plan \ "setup_reps").extract[Int]
    val dataDir = (plan \ "data_dir").extract[String]
    val workDir = Paths.get((plan \ "work_dir").extract[String])
    val probeIters = (plan \ "probe_iters").extract[Int]
    val warmup = (plan \ "warmup").extract[List[Map[String, JValue]]]
    val stream = (plan \ "stream").extract[List[Map[String, JValue]]]
    val delta = plan \ "delta"
    def field(op: Map[String, JValue], k: String): String = op(k).extract[String]

    val tracer = new Tracer
    val execs = new ArrayBuffer[Exec]()
    val answers = mutable.LinkedHashMap.empty[String, Int]
    def answerId(rows: Array[Row]): Int =
      answers.getOrElseUpdate(canonical(rows), answers.size)

    var spark: SparkSession = null
    def stopSession(): Unit = if (spark != null) {
      Tables.clearCache()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = null
    }

    // ---- one set-up: session build plus table registration / warm-cache
    // build / initial Delta create
    Tables.cacheMode = workload == "tpch_warm"
    val tableDir = workDir.resolve("table")
    def deltaTable(rep: Int): String = workDir.resolve(s"table_setup$rep").toString
    def setUp(rep: Int): Seq[(String, String)] = {
      stopSession()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores)
      val t1 = System.nanoTime()
      workload match {
        case "tpch_warm" =>
          (plan \ "tables").extract[List[String]].foreach { t =>
            Tables(spark, dataDir, t).createOrReplaceTempView(t)
          }
        case "delta_rw" =>
          DeltaWrite.create(spark, spark.read.parquet((delta \ "base").extract[String]),
            deltaTable(rep), (delta \ "partition").extract[List[String]])
      }
      val t2 = System.nanoTime()
      Seq("session_ms" -> Json.num((t1 - t0) / 1e6),
        "register_ms" -> Json.num((t2 - t1) / 1e6),
        "total_ms" -> Json.num((t2 - t0) / 1e6))
    }
    def sc = spark.sparkContext

    def probeMs(): Double = {
      val probe = sc.parallelize(1 to 32, 32)
      val t = (1 to probeIters).map { _ =>
        val t0 = System.nanoTime(); probe.count(); (System.nanoTime() - t0) / 1e6
      }.sorted
      t(t.length / 2)
    }

    // ---- Delta state: committed version after each write state index
    val versions = mutable.Map[Long, Long](0L -> 0L)
    val keys = if (workload == "delta_rw") (delta \ "keys").extract[List[String]] else Nil

    // ---- one operation; `listener` non-null means traced
    def runOp(op: Map[String, JValue], path: String, phase: String,
              listener: TraceListener): Unit = {
      val id = field(op, "id")
      val kind = field(op, "kind")
      val qid = s"$phase:${execs.size}:$id"
      var answer = -1
      var version = -1L
      var error: String = null
      val root = if (listener != null)
        tracer.open(if (WriteKinds(kind)) "op" else "query", 0, qid) else null
      if (root != null) listener.parent = root.id
      def phaseSpan[T](name: String)(body: => T): T =
        if (root == null) body else tracer.span(name, root.id, qid)(body)
      // jobs started while collecting belong to the execute span
      def execute[T](body: => T): T =
        if (root == null) body
        else {
          val s = tracer.open("execute", root.id, qid)
          listener.parent = s.id
          try body finally s.end = now()
        }
      var qe: org.apache.spark.sql.execution.QueryExecution = null
      var rows: Array[Row] = null
      sc.setLocalProperty(QidKey, qid)
      val t0 = System.nanoTime()
      try {
        def read(df: => DataFrame): Unit = {
          // phases forced one by one only when traced; collect() reuses them
          val q = phaseSpan("analyze")(df)
          qe = q.queryExecution
          if (root != null) {
            phaseSpan("optimize")(qe.optimizedPlan)
            phaseSpan("plan")(qe.sparkPlan)
            phaseSpan("prep")(qe.executedPlan)
          }
          rows = execute(q.collect())
        }
        def deltaView(df: => DataFrame): Unit = {
          phaseSpan("snapshot")(df).createOrReplaceTempView("t")
          read(spark.sql(field(op, "sql")))
        }
        kind match {
          case "sql" => read(spark.sql(field(op, "sql")))
          case "read_full" => deltaView(DeltaScan.scan(spark, path))
          case "read_where" =>
            deltaView(DeltaScan.scanWhere(spark, path, expr(field(op, "pred"))))
          case "read_tt" =>
            val v = versions(op("state").extract[Long])
            deltaView(DeltaScan.scan(spark, path, versionAsOf = Some(v)))
          case _ =>
            val state = op("state").extract[Long]
            version = kind match {
              case "append" =>
                DeltaWrite.append(spark, spark.read.parquet(field(op, "file")), path)
              case "merge" =>
                DeltaWrite.merge(spark, path, spark.read.parquet(field(op, "file")), keys)
              case "delete" => DeltaWrite.deleteWhere(spark, path, expr(field(op, "pred")))
              case "optimize" => DeltaWrite.optimize(spark, path)
              case "checkpoint" => DeltaWrite.checkpoint(spark, path)
            }
            versions(state) = version
        }
      } catch {
        case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (root != null) root.end = now()
      sc.setLocalProperty(QidKey, null)
      if (rows != null) answer = answerId(rows)
      val counters =
        if (listener == null) Nil
        else {
          PerfbenchBridge.drainListeners(sc)
          val c = listener.synchronized(listener.counters.getOrElse(qid, new Counters))
          val rules = if (qe == null) Nil else qe.tracker.rules.toSeq.filter(_._1.startsWith("graft."))
          Seq("jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
            "task_cpu_ms" -> Json.num(c.taskCpuNs / 1e6), "gc_ms" -> c.gcMs.toString,
            "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
            "shuffle_write_ms" -> Json.num(c.shuffleWriteNs / 1e6),
            "fetch_wait_ms" -> c.fetchWaitMs.toString,
            "input_bytes" -> c.inputBytes.toString, "input_rows" -> c.inputRows.toString,
            "spill_bytes" -> c.spillBytes.toString,
            "peak_exec_bytes" -> c.peakExecBytes.toString,
            "rules_graft_ms" -> Json.num(rules.map(_._2.totalTimeNs).sum / 1e6),
            "rules_graft_invoked" -> rules.map(_._2.numInvocations).sum.toString,
            "rules_graft_effective" -> rules.map(_._2.numEffectiveInvocations).sum.toString,
            "graft_nodes" ->
              (if (qe == null) "0" else GraftNodes.count(qe.executedPlan).toString))
        }
      execs += Exec(id, kind, phase, ms, error, answer, version, counters)
    }

    // ---- closed loop, one client. A phase ends at the first group boundary
    // (a whole query pass, or a Delta round) after its time
    // budget, so every phase runs whole groups.
    def runPhase(name: String, ops: BufferedIterator[Map[String, JValue]], budgetS: Double,
                 path: String, listener: TraceListener): Unit = {
      val t0 = System.nanoTime()
      var group = -1L
      while (ops.hasNext && ((System.nanoTime() - t0) / 1e9 < budgetS ||
          ops.head("group").extract[Long] == group)) {
        group = ops.head("group").extract[Long]
        runOp(ops.next(), path, name, listener)
      }
    }

    // ---- set-up, repeated. The warm-up (discarded) runs on the session and
    // tables of the second-to-last set-up; the last set-up, kept for the
    // stream, then starts with the JIT warm, and its own jobs keep warming
    // the executor code paths the stream runs.
    require(setupReps >= 2, "setup_reps must be at least 2")
    val setups = ArrayBuffer.empty[Seq[(String, String)]]
    (1 until setupReps).foreach(rep => setups += setUp(rep))
    runPhase("warmup", warmup.iterator.buffered, warmupS,
      if (workload == "delta_rw") deltaTable(setupReps - 1) else null, null)
    versions.clear(); versions(0L) = 0L
    execs.clear()
    setups += setUp(setupReps)
    val cacheMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
    val tablePath =
      if (workload == "delta_rw") {
        Files.move(Paths.get(deltaTable(setupReps)), tableDir)
        tableDir.toString
      } else null
    // a fresh session plans and broadcasts every query anew: for a
    // read-only stream, one more discarded group of the warm-up absorbs that
    if (warmup.forall(op => !WriteKinds(field(op, "kind")))) {
      warmup.takeWhile(_("group") == warmup.head("group"))
        .foreach(op => runOp(op, tablePath, "settle", null))
      execs.clear()
    }
    val probeBefore = probeMs()

    // ---- timed stream
    val it = stream.iterator.buffered
    if (!traced) runPhase("stream", it, seconds, tablePath, null)
    else {
      runPhase("untraced", it, seconds / 2, tablePath, null)
      val listener = new TraceListener(tracer)
      sc.addSparkListener(listener)
      runPhase("traced", it, seconds, tablePath, listener)
      PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    val probeAfter = probeMs()

    // ---- read-after-reopen: a fresh session rebuilds the table from its log
    if (workload == "delta_rw") {
      stopSession()
      spark = GraftSession.local(cores)
      val t0 = System.nanoTime()
      var error: String = null
      var answer = -1
      var version = -1L
      try {
        val snap = DeltaScan.snapshot(spark, tablePath)
        version = snap.version
        DeltaScan.scanSnapshot(spark, snap).createOrReplaceTempView("t")
        answer = answerId(spark.sql((delta \ "reopen_sql").extract[String]).collect())
      } catch {
        case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      execs += Exec("reopen", "reopen", "reopen", (System.nanoTime() - t0) / 1e6,
        error, answer, version, Nil)
    }
    stopSession()

    val spansFile = workDir.resolve("spans.jsonl")
    if (traced) tracer.write(spansFile)
    val execJson = execs.map { e =>
      Json.obj(Seq("id" -> Json.str(e.id), "kind" -> Json.str(e.kind),
        "phase" -> Json.str(e.phase), "ms" -> Json.num(e.ms), "error" -> Json.str(e.error),
        "answer" -> e.answer.toString, "version" -> e.version.toString,
        "counters" -> Json.obj(e.counters)))
    }
    val result = Json.obj(Seq(
      "setup" -> setups.map(Json.obj).mkString("[", ",", "]"),
      "cache_mb" -> Json.num(cacheMb),
      "probe_before_ms" -> Json.num(probeBefore),
      "probe_after_ms" -> Json.num(probeAfter),
      "execs" -> execJson.mkString("[", ",\n", "]"),
      "answers" -> answers.keys.map(Json.str).mkString("[", ",\n", "]"),
      "table_dir" -> Json.str(tablePath),
      "spans_file" -> Json.str(if (traced) spansFile.toString else null)))
    Files.write(out, result.getBytes(StandardCharsets.UTF_8))
  }
}
