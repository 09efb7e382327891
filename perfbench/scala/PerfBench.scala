package perfbench

import java.io.PrintWriter
import java.util.Properties

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.{PerfBenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.{Checkpoints, GraftExtensions, SparkEntry}
import graft.text.TrainedOracles

/** Closed-loop, single-client timing harness over the public query registry.
  *
  * One client thread submits the next query only after the previous result
  * is fully materialised: the timed action collects every output row of the
  * query's own executed plan, so column pruning cannot skip work the way
  * `count()` does. It writes raw records as JSON lines; `perfbench/run.py`
  * owns the orchestration, the oracle compare and all arithmetic.
  *
  *   mode=list out=FILE        every registered query name, one per line
  *   mode=run  sf=DIR cores=N orders=FILE out=FILE dump=DIR seconds=S
  *             trace=0|1 setups=K minwarm=M sweep=Q,.. oracle=Q,..
  *
  * `orders` holds one comma-separated query order per line: line 0 is the
  * cold pass, the rest are warm passes: as many whole passes as fit in
  * `seconds` at the first warm pass's pace, and at least `minwarm`. `sweep`
  * queries run once, untimed, after the passes; `oracle` names the queries
  * whose oracle SQL to write out.
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    opt("mode") match {
      case "list" =>
        writeLines(opt("out"), SparkEntry.queries.keys.toSeq.sorted)
      case "run" => run(opt)
    }
  }

  private def writeLines(path: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Order-independent multiset fingerprint of a query's output: row count
    * and the wrapping sum of a 64-bit hash of each row's UnsafeRow bytes. */
  def fingerprint(rows: Array[InternalRow], schema: StructType): String = {
    val proj = UnsafeProjection.create(schema)
    val h = rows.iterator.map { r =>
      val u = proj(r)
      val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
      val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995)
      (hi.toLong << 32) | (lo & 0xffffffffL)
    }.sum
    s"${rows.length}:${java.lang.Long.toHexString(h)}"
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    /** CodegenFallback expressions in the final (post-AQE) plan, subqueries included. */
    def codegenFallbacks(plan: SparkPlan): Int =
      collectWithSubqueries(plan) { case p =>
        p.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum
      }.sum
  }

  /** Per-execution task totals, keyed by the job-group (query) and the pass
    * and phase local properties the harness sets around every query. */
  final class Tally {
    var jobs, stages, tasks, retries = 0L
    var cpuNs, execRunMs, maxTaskMs, gcMs = 0L
    var shuffleBytes, spillBytes, inputBytes = 0L
  }

  final class LayerListener extends SparkListener {
    val tallies = mutable.Map.empty[(String, String), Tally]
    private val stageKey = mutable.Map.empty[Int, (String, String, String)]

    private def key(p: Properties): Option[(String, String, String)] =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")).map(q =>
        (q, p.getProperty("perfbench.pass", ""), p.getProperty("perfbench.phase", ""))))

    private def tally(q: String, pass: String): Tally =
      tallies.getOrElseUpdate((q, pass), new Tally)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      key(e.properties).foreach { case (q, pass, _) => tally(q, pass).jobs += 1 }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      key(e.properties).foreach(k => stageKey(e.stageInfo.stageId) = k)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageKey.get(e.stageInfo.stageId).foreach { case (q, pass, _) => tally(q, pass).stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageKey.get(e.stageId).foreach { case (q, pass, phase) =>
        val t = tally(q, pass)
        t.tasks += 1
        if (e.taskInfo.attemptNumber > 0) t.retries += 1
        t.maxTaskMs = t.maxTaskMs.max(e.taskInfo.duration)
        val m = e.taskMetrics
        if (m != null) {
          t.cpuNs += m.executorCpuTime
          if (phase == "exec") t.execRunMs += m.executorRunTime
          t.gcMs += m.jvmGCTime
          t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private def json(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => "\"" + k + "\":\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case (k, v) => "\"" + k + "\":" + v
  }.mkString("{", ",", "}")

  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  private def run(opt: Map[String, String]): Unit = {
    val sf = opt("sf")
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val minWarm = opt("minwarm").toInt
    val dump = opt("dump")
    val orders = scala.io.Source.fromFile(opt("orders"), "UTF-8").getLines()
      .map(_.split(',').toSeq).toVector
    val sweep = opt.get("sweep").filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil)
    val registry = SparkEntry.queries
    val out = new PrintWriter(opt("out"), "UTF-8")
    def emit(fields: (String, Any)*): Unit = { out.println(json(fields: _*)); out.flush() }

    // setup_s: session build up to a first trivial job, repeated; only the
    // last session stays up for the passes
    var spark: SparkSession = null
    for (_ <- 1 to opt("setups").toInt) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores)
      spark.sparkContext.parallelize(1 to cores, cores).map(_ + 1).sum()
      emit("kind" -> "setup", "s" -> (System.nanoTime() - t0) / 1e9)
    }
    val sc: SparkContext = spark.sparkContext
    emit("kind" -> "env", "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "parallelism" -> sc.defaultParallelism)

    val listener = new LayerListener

    /** One closed-loop query: query function call, planning, then collecting every
      * output row. The fingerprint, the dump and the plan walk happen after
      * the clock stops. */
    def execute(name: String, pass: Int, trace: Boolean, save: Boolean): Unit = {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      sc.setLocalProperty("perfbench.pass", pass.toString)
      sc.setLocalProperty("perfbench.phase", "build")
      val t0 = System.nanoTime()
      var t1, t2, t3 = t0
      var fallbacks = -1
      val result =
        try {
          val df = registry(name)(spark, sf)
          t1 = System.nanoTime()
          val plan = df.queryExecution.executedPlan
          t2 = System.nanoTime()
          sc.setLocalProperty("perfbench.phase", "exec")
          val rows = plan.executeCollect()
          t3 = System.nanoTime()
          sc.clearJobGroup()
          if (trace) fallbacks = PlanWalk.codegenFallbacks(plan)
          if (save)
            ColumnBridge.ofRows(spark, LocalRelation(plan.output, rows.toSeq))
              .coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
          Right(fingerprint(rows, plan.schema))
        } catch { case NonFatal(e) =>
          Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300))
        } finally {
          sc.clearJobGroup()
          sc.setLocalProperty("perfbench.pass", null)
          sc.setLocalProperty("perfbench.phase", null)
        }
      val r0 = System.nanoTime()
      Checkpoints.releaseTracked()
      val r1 = System.nanoTime()
      emit("kind" -> "exec", "pass" -> pass, "query" -> name, "traced" -> trace,
        "ok" -> result.isRight, "fp" -> result.getOrElse(""),
        "error" -> result.left.getOrElse(""),
        "build_ms" -> ms(t0, t1), "plan_ms" -> ms(t1, t2), "exec_ms" -> ms(t2, t3),
        "release_ms" -> ms(r0, r1), "codegen_fallback" -> fallbacks)
    }

    def runPass(pass: Int, trace: Boolean): Unit = {
      if (trace) sc.addSparkListener(listener)
      orders(pass).foreach(execute(_, pass, trace, save = pass == 0))
      if (trace) { PerfBenchBus.drain(sc); sc.removeSparkListener(listener) }
    }

    // cold pass: the first execution of every query in this JVM; its outputs
    // are dumped for the oracle compare and are what later passes must match
    runPass(0, trace = false)

    // warm passes; a traced run alternates untraced and traced passes so it
    // can state its own tracing overhead. The pass count is fixed after the
    // first warm pass, so a run near the time limit does not flip between
    // two counts from one run to the next.
    var passes = minWarm
    for (pass <- 1 until orders.length if pass <= passes) {
      val t0 = System.nanoTime()
      runPass(pass, trace = traced && pass % 2 == 0)
      if (pass == 1) passes = passes.max((seconds / ((System.nanoTime() - t0) / 1e9)).toInt)
    }

    // peak memory of the timed passes, before the seed-chosen sweep can add to it
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    emit("kind" -> "rss", "vmhwm_kb" -> hwm)

    // correctness sweep over queries outside the timed set: dumped, untimed
    sweep.foreach(execute(_, -1, trace = false, save = true))

    // oracle SQL for the dumped queries the caller has no cached result for
    val wanted = opt.get("oracle").filter(_.nonEmpty).map(_.split(',').toSet).getOrElse(Set.empty)
    if (wanted.nonEmpty) {
      val trained = wanted.intersect(TrainedOracles.names)
      val sqls = SparkEntry.oracleSql ++
        (if (trained.isEmpty) Map.empty[String, String] else TrainedOracles.all(spark, sf, trained))
      wanted.toSeq.sorted.foreach(q => emit("kind" -> "oracle", "query" -> q, "sql" -> sqls.getOrElse(q, "")))
    }

    listener.tallies.toSeq.sortBy(_._1).foreach { case ((q, p), t) =>
      emit("kind" -> "tasks", "query" -> q, "pass" -> p.toIntOption.getOrElse(-1),
        "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks, "retries" -> t.retries,
        "cpu_ms" -> t.cpuNs / 1e6, "exec_run_ms" -> t.execRunMs,
        "max_task_ms" -> t.maxTaskMs, "gc_ms" -> t.gcMs,
        "shuffle_bytes" -> t.shuffleBytes, "spill_bytes" -> t.spillBytes,
        "input_bytes" -> t.inputBytes)
    }
    out.close()
    spark.stop()
  }
}
