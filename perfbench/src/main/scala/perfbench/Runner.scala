package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * One cold-JVM benchmark pass over a list of `graft.SparkEntry` queries.
 *
 * Session build and warmup are Bench's. Each query is timed under Bench's
 * protocol, `SparkEntry.queries(name)(spark, sf).queryExecution.toRdd.count()`,
 * one at a time in the given order. With `--trace 1` the pass also records,
 * from outside the program: the build / plan / execute phase boundaries of
 * every query, every Spark job with its stage and task metrics (a
 * SparkListener), every streaming progress event (a StreamingQueryListener),
 * the scan's DSv2 custom metrics and an order-independent result digest.
 *
 * Records go to `--out` as JSON lines, written as they are made so a
 * killed JVM still leaves the queries it finished. All arithmetic over the
 * records (attribution, unions, percentiles) is done by `run.py`.
 *
 * Usage: Runner --sf DIR --cpus N --out FILE --queries a,b,c --trace 0|1
 *        --query-timeout-s S --deadline-s S
 *        Runner --list FILE   (writes the query names by tier, no session)
 */
object Runner {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    opt.get("--list").foreach { path =>
      val tiers = graft.PerfbenchInventory.tiers.map { case (t, names) =>
        Json.str(t) + ":" + names.toSeq.sorted.map(Json.str).mkString("[", ",", "]")
      }
      Files.write(Paths.get(path), tiers.mkString("{", ",", "}\n").getBytes("UTF-8"))
      return
    }
    val sfDir = opt("--sf")
    val cpus = opt("--cpus")
    val trace = opt.get("--trace").contains("1")
    val names = opt.get("--queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val queryTimeoutS = opt("--query-timeout-s").toDouble
    val deadlineS = opt("--deadline-s").toDouble
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(opt("--out"))))
    def emit(fields: (String, Any)*): Unit = out.synchronized {
      out.println(Json.obj(fields: _*)); out.flush()
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", sys.env("SPARK_GRAFT_LOCAL_DIR"))
      .config("spark.sql.warehouse.dir", sys.env("SPARK_GRAFT_WAREHOUSE"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Try(warmup(spark, sfDir))
    println("PERFBENCH_READY")
    System.out.flush()

    val inventory = graft.SparkEntry.queries
    val unknown = names.filterNot(inventory.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown or empty query list: ${unknown.mkString(",")}")

    val jobs = new JobRecorder
    val streams = new StreamRecorder
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
    }

    val worker = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-query"); t.setDaemon(true); t
    }
    val proc0 = Proc.snapshot()
    val regionStart = System.nanoTime()
    val deadline = regionStart + (deadlineS * 1e9).toLong
    var stuck = false
    for (name <- names) {
      val left = (deadline - System.nanoTime()) / 1e9
      if (stuck || left <= 0) {
        emit("type" -> "query", "name" -> name, "ok" -> false,
          "error" -> (if (stuck) "not run: an earlier query could not be stopped"
                      else "not run: run deadline passed"))
      } else {
        val fut = worker.submit(new Callable[Seq[(String, Any)]] {
          def call(): Seq[(String, Any)] =
            runOne(spark, inventory(name), sfDir, trace)
        })
        val fields: Seq[(String, Any)] =
          try fut.get((math.min(queryTimeoutS, left) * 1000).toLong, TimeUnit.MILLISECONDS)
          catch {
            case _: TimeoutException =>
              spark.sparkContext.cancelAllJobs()
              spark.streams.active.foreach(q => Try(q.stop()))
              val stopped = Try(fut.get(15, TimeUnit.SECONDS)).isSuccess ||
                fut.isDone
              stuck = !stopped
              Seq("ok" -> false, "timed_out" -> true,
                "error" -> (if (stopped) "timed out; jobs cancelled"
                            else "timed out; could not be stopped"))
            case e: java.util.concurrent.ExecutionException =>
              val c = Option(e.getCause).getOrElse(e)
              Seq("ok" -> false,
                "error" -> c.toString.takeWhile(_ != '\n').take(300))
          }
        emit((Seq("type" -> "query", "name" -> name) ++ fields): _*)
      }
    }
    val regionS = (System.nanoTime() - regionStart) / 1e9
    val proc1 = Proc.snapshot()
    emit("type" -> "region", "wall_s" -> regionS,
      "cpu_s" -> (proc1.cpuNs - proc0.cpuNs) / 1e9,
      "gc_s" -> (proc1.gcMs - proc0.gcMs) / 1e3,
      "rchar" -> (proc1.rchar - proc0.rchar),
      "wchar" -> (proc1.wchar - proc0.wchar),
      "syscw" -> (proc1.syscw - proc0.syscw),
      "vmhwm_kb" -> proc1.vmHwmKb)
    if (trace && !stuck) {
      jobs.settle()
      jobs.records.foreach(r => emit(r: _*))
      streams.records.foreach(r => emit(r: _*))
    }
    out.close()
    // A query that could not be stopped still holds the session: exit
    // without running shutdown hooks that would wait on it.
    if (stuck) Runtime.getRuntime.halt(3)
    spark.stop()
  }

  /** Bench's untimed warmup: codegen, shuffle, window and parquet paths. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    spark.range(0, 100000, 1, 8)
      .withColumn("g", pmod(col("id"), lit(64)))
      .withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(col("id"))))
      .groupBy(col("g")).agg(sum(col("id")), count(lit(1)), max(col("rn")))
      .collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
  }

  /** One query. Untraced: Bench's single timed expression. Traced: the
    * same calls, split at the layer boundaries, with a digest action. */
  private def runOne(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, sfDir: String,
      trace: Boolean): Seq[(String, Any)] = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (!trace) {
      val rows = fn(spark, sfDir).queryExecution.toRdd.count()
      val t1 = System.nanoTime()
      return Seq("ok" -> true, "rows" -> rows, "start_ms" -> startMs,
        "wall_s" -> (t1 - t0) / 1e9)
    }
    val df = fn(spark, sfDir)
    val tBuild = System.nanoTime(); val buildEndMs = System.currentTimeMillis()
    val plan = df.queryExecution.executedPlan
    val tPlan = System.nanoTime(); val planEndMs = System.currentTimeMillis()
    val (rows, digest) = Digest.of(df)
    val t1 = System.nanoTime(); val endMs = System.currentTimeMillis()
    val metrics = planMetrics(plan)
    Seq("ok" -> true, "rows" -> rows, "digest" -> digest,
      "start_ms" -> startMs, "build_end_ms" -> buildEndMs,
      "plan_end_ms" -> planEndMs, "end_ms" -> endMs,
      "wall_s" -> (t1 - t0) / 1e9, "build_s" -> (tBuild - t0) / 1e9,
      "plan_s" -> (tPlan - tBuild) / 1e9, "exec_s" -> (t1 - tPlan) / 1e9,
      "remote_reads" -> metrics.getOrElse("graftRemoteReads", 0L),
      "remote_seeks" -> metrics.getOrElse("graftRemoteSeeks", 0L))
  }

  /** Sum of every SQL metric by name over the executed plan, through AQE's
    * final plan, query stages and subqueries. */
  private def planMetrics(plan: SparkPlan): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = {
      p.metrics.foreach { case (k, m) => acc(k) += m.value }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    acc.toMap
  }
}

/** Row count and an order-independent digest of a query's physical rows:
  * the wrapping sum of each row's XXH64 over its UnsafeRow bytes. */
private object Digest {
  def of(df: DataFrame): (Long, String) = {
    val schema = df.queryExecution.executedPlan.schema
    val (n, sum) = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var sum = 0L
      rows.foreach { r =>
        val u = proj(r)
        n += 1
        sum += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, sum))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, f"$sum%016x")
  }
}

/** Every job with its stage and task totals, keyed by the driver-side
  * event times Spark stamps at submission and completion. */
private class JobRecorder extends SparkListener {
  private final class Job(val id: Int, val startMs: Long) {
    var endMs = -1L; var stages = 0; var tasks = 0
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var inputB = 0L; var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  @volatile private var lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    lastEvent = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    lastEvent = System.nanoTime()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    lastEvent = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.inputB += m.inputMetrics.bytesRead
      j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    lastEvent = System.nanoTime()
  }

  /** Events arrive on Spark's asynchronous listener bus: wait until every
    * started job has ended and the bus has been quiet for half a second. */
  def settle(): Unit = {
    val giveUp = System.nanoTime() + 20000000000L
    def quiet = synchronized(jobs.values.forall(_.endMs >= 0)) &&
      System.nanoTime() - lastEvent > 500000000L
    while (!quiet && System.nanoTime() < giveUp) Thread.sleep(50)
  }

  def records: Seq[Seq[(String, Any)]] = synchronized {
    jobs.values.toSeq.map(j => Seq("type" -> "job", "id" -> j.id,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
      "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs,
      "gc_ms" -> j.gcMs, "input_b" -> j.inputB,
      "shuffle_write_b" -> j.shuffleWriteB,
      "shuffle_read_b" -> j.shuffleReadB, "spill_b" -> j.spillB))
  }
}

/** Every streaming micro-batch's progress: per-phase durations, input rows
  * and state-store commit time. */
private class StreamRecorder extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[Seq[(String, Any)]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val rec = Seq("type" -> "progress", "at" -> p.timestamp,
      "input_rows" -> p.numInputRows,
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum) ++
      d.toSeq.sortBy(_._1).map { case (k, v) => s"ms_$k" -> v }
    synchronized(progress += rec)
  }
  def records: Seq[Seq[(String, Any)]] = synchronized(progress.toList)
}

/** Process counters of this JVM: CPU, GC, `/proc/self/io`, peak RSS. */
private final case class Proc(cpuNs: Long, gcMs: Long, rchar: Long,
    wchar: Long, syscw: Long, vmHwmKb: Long)

private object Proc {
  private def procFields(path: String): Map[String, Long] =
    Try(Files.readAllLines(Paths.get(path)).asScala.flatMap { l =>
      l.split(":\\s+", 2) match {
        case Array(k, v) => Try(k -> v.trim.split("\\s+")(0).toLong).toOption
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  def snapshot(): Proc = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val io = procFields("/proc/self/io")
    val status = procFields("/proc/self/status")
    Proc(os.getProcessCpuTime, gc, io.getOrElse("rchar", -1L),
      io.getOrElse("wchar", -1L), io.getOrElse("syscw", -1L),
      status.getOrElse("VmHWM", -1L))
  }
}

/** Just enough JSON for flat records of strings, numbers and booleans. */
private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    str(k) + ":" + (v match {
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case null => "null"
      case o => str(o.toString)
    })
  }.mkString("{", ",", "}")
}
