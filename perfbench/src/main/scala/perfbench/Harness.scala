package perfbench

import graft.{CachePool, Fixtures, Sessions, SparkEntry}
import graft.streaming.StreamStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark JVM: a fresh local session, then a cold pass and (with
  * `--warm 1`) one warm pass over a fixed query order, driven by a single
  * closed-loop client (the next query is submitted when the previous
  * one has returned its last row).
  *
  * Each query goes through the engine's public entry points in three
  * timed steps: build (`SparkEntry.queries(name)(spark, dir)`), plan
  * (`queryExecution.executedPlan`) and execute (one pass over
  * `queryExecution.toRdd` that folds the output's fingerprint).
  *
  * With `--trace 1` the harness also registers a SparkListener, tags
  * each step's jobs with a job group, and reads the planning tracker and
  * the engine's drain buffers; everything is held in memory and written
  * to `--out` (JSON lines) when the run ends. The time spent on tracing
  * (client-thread calls per query, listener callbacks) is recorded too.
  *
  * Usage: perfbench.Harness --launch-ns N --cores N --data DIR
  *   --queries FILE --out FILE [--trace 0|1] [--warm 0|1]
  */
object Harness {
  private val baseEpochNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val baseNano = System.nanoTime()
  /** Wall clock in epoch seconds, nanosecond-resolved. */
  def now(): Double = (baseEpochNs + (System.nanoTime() - baseNano)) / 1e9

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = ArrayBuffer.empty[Map[String, Any]]
    val launch = opt("launch-ns").toLong / 1e9
    val cores = opt("cores").toInt
    val spark = Sessions.local(cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    out += Map("k" -> "setup", "setup_s" -> (now() - launch))
    run(spark, opt, cores, out)
    implicit val formats: Formats = DefaultFormats
    Files.write(Paths.get(opt("out")),
      out.map(r => Serialization.write(r)).asJava)
    spark.stop()
  }

  private def run(spark: SparkSession, opt: Map[String, String], cores: Int,
      out: ArrayBuffer[Map[String, Any]]): Unit = {
    val dir = opt("data")
    val trace = opt.getOrElse("trace", "0") == "1"
    val warm = opt.getOrElse("warm", "1") == "1"
    val order = Files.readAllLines(Paths.get(opt("queries"))).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val sc = spark.sparkContext
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)
    var nextId = 0
    def span(parent: Option[Int], kind: String, name: String, qid: String,
        start: Double, end: Double, attrs: Map[String, Any] = Map.empty): Int = {
      nextId += 1
      out += Map("k" -> "span", "id" -> nextId, "parent" -> parent.orNull,
        "kind" -> kind, "name" -> name, "qid" -> qid, "start" -> start,
        "end" -> end, "attrs" -> attrs)
      nextId
    }
    val workloadId = { nextId += 1; nextId }
    val wStart = now()

    /** One query in three timed steps; records its spans. */
    def runQuery(pass: String, qid: String, name: String,
        passId: Int): Unit = {
      // client-thread time spent on tracing, the harness's share of
      // its cost
      var traceNs = 0L
      def tracing(body: => Unit): Unit = {
        val t = System.nanoTime()
        try body finally traceNs += System.nanoTime() - t
      }
      if (trace) tracing {
        Fixtures.drainBuilt(); CachePool.drainBuilt()
        CachePool.drainTouched(); StreamStats.drainProgress()
      }
      def phase(p: String): Unit =
        if (trace) tracing(sc.setJobGroup(s"$qid/$p", name))
      val t0 = now()
      var t1 = t0; var t2 = t0
      var df: DataFrame = null
      val attrs = scala.collection.mutable.Map[String, Any](
        "name" -> name, "pass" -> pass)
      try {
        phase("build")
        df = SparkEntry.queries(name)(spark, dir)
        t1 = now()
        phase("plan")
        df.queryExecution.executedPlan
        t2 = now()
        phase("execute")
        val types = df.queryExecution.executedPlan.output.map(_.dataType)
        val fp = df.queryExecution.toRdd
          .mapPartitions(it => Iterator(Fingerprint.fold(it, types)))
          .collect().foldLeft(Fingerprint.empty)(_ + _)
        attrs ++= Seq("rows" -> fp.rows, "hash" -> fp.hash)
      } catch {
        case e: Throwable =>
          attrs += "error" -> s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").linesIterator
              .take(1).mkString.take(300)}"
      }
      val t3 = now()
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      if (trace) tracing {
        sc.clearJobGroup()
        if (df != null) {
          val ph = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            attrs += s"${p}_s" -> ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          }
          attrs += "plan_nodes" ->
            (try countNodes(df.queryExecution.executedPlan)
             catch { case _: Throwable => 0 })
        }
        val fix = Fixtures.drainBuilt()
        val pool = CachePool.drainBuilt()
        val prog = StreamStats.drainProgress()
        def progMs(key: String): Double = prog.map { p =>
          Option(p.durationMs.get(key)).map(_.toLong).getOrElse(0L)
        }.sum / 1e3
        attrs ++= Seq(
          "fixture_builds" -> fix.size, "fixture_build_s" -> fix.map(_._2).sum,
          "pool_builds" -> pool.size, "pool_build_s" -> pool.map(_._2).sum,
          "pool_touches" -> CachePool.drainTouched().size,
          "stream_batches" -> prog.size,
          "stream_trigger_s" -> progMs("triggerExecution"),
          "stream_addbatch_s" -> progMs("addBatch"))
      }
      if (trace) attrs += "trace_s" -> traceNs / 1e9
      val qId = span(Some(passId), "query", name, qid, t0, t3, attrs.toMap)
      span(Some(qId), "build", "build", qid, t0, t1)
      span(Some(qId), "plan", "plan", qid, t1, t2)
      span(Some(qId), "execute", "execute", qid, t2, t3)
    }

    def runPass(pass: String): Unit = {
      val passId = { nextId += 1; nextId }
      val cpu0 = processCpuS()
      val start = now()
      order.zipWithIndex.foreach { case (name, i) =>
        runQuery(pass, s"$pass:$i", name, passId)
      }
      val end = now()
      // written by hand: the pass span's id was reserved before its children
      out += Map("k" -> "span", "id" -> passId, "parent" -> workloadId,
        "kind" -> "pass", "name" -> pass, "qid" -> null, "start" -> start,
        "end" -> end, "attrs" -> Map("cpu_s" -> (processCpuS() - cpu0)))
    }

    runPass("cold")
    if (warm) runPass("warm")
    out += Map("k" -> "span", "id" -> workloadId, "parent" -> null,
      "kind" -> "workload", "name" -> "workload", "qid" -> null,
      "start" -> wStart, "end" -> now(), "attrs" -> Map.empty)

    listener.foreach { l =>
      l.awaitQuiet(10000)
      l.synchronized {
        l.jobs.values.foreach { j =>
          out += Map("k" -> "job", "id" -> j.id, "group" -> j.group,
            "callsite" -> j.callSite, "start" -> j.startMs / 1e3,
            "end" -> (if (j.endMs < 0) j.startMs else j.endMs) / 1e3,
            "ok" -> j.ok)
        }
        l.stages.values.foreach { s =>
          out += Map("k" -> "stage", "id" -> s.id, "attempt" -> s.attempt,
            "group" -> s.group, "start" -> s.submittedMs / 1e3,
            "end" -> (if (s.completedMs < 0) s.submittedMs else s.completedMs) / 1e3,
            "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
            "run_s" -> s.runMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
            "gc_s" -> s.gcMs / 1e3, "sched_delay_s" -> s.schedDelayMs / 1e3,
            "shuffle_write_b" -> s.shuffleWriteB,
            "shuffle_read_b" -> s.shuffleReadB,
            "fetch_wait_s" -> s.fetchWaitMs / 1e3, "spill_b" -> s.spillB,
            "input_b" -> s.inputB, "input_rec" -> s.inputRec,
            "output_b" -> s.outputB, "output_rec" -> s.outputRec)
        }
      }
    }
    // live heap once the run's garbage is gone: what pools and driver
    // state keep, steadier than the peak RSS, which follows GC timing.
    // The second collection frees what Spark's cleaner released after
    // the first one cleared its weak references (broadcast blocks).
    System.gc(); Thread.sleep(500); System.gc()
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    out += Map("k" -> "end", "cores" -> cores, "vmhwm_kb" -> vmHwmKb(),
      "listener_s" -> listener.map(_.callbackNs / 1e9).getOrElse(0.0),
      "retained_heap_b" -> retained,
      "eager" -> SparkEntry.eagerWriters.toSeq.sorted)
  }

  /** Operator count of the final physical plan, subqueries included. */
  def countNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => countNodes(a.executedPlan)
    case q: QueryStageExec => 1 + countNodes(q.plan)
    case other => 1 + other.children.map(countNodes).sum +
      other.subqueries.map(countNodes).sum
  }
}
