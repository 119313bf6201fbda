package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import graft.core.{FsUtil, VaultName}
import graft.engine.{ContentStore, FileSigner}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.perfbench.Bridge
import scala.jdk.CollectionConverters._

/** Process readings taken around a timed phase. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this process, all threads; steal is not CPU time. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Heap in use after a forced full collection, in MiB: once Spark's
    * listeners have taken every queued event (which can hold query plans),
    * the least of four readings, as threads still running may allocate
    * between one collection and its reading. */
  def heapLiveMb(spark: SparkSession): Double = {
    Bridge.drain(spark.sparkContext)
    // Spark's ContextCleaner frees broadcast and shuffle blocks on its own
    // thread once a GC has found their handles unreachable; the pause lets
    // it run before the next round reads the heap
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}

/** One traced interval. `req` is the request it served: a micro-batch id,
  * a request number or a query name. Times are epoch nanoseconds. */
final case class Span(name: String, start: Long, end: Long, parent: String, req: String,
                      attrs: Map[String, Any] = Map.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** Task counters summed over the Spark work one key ran. */
final class Counters {
  var jobs, stages, tasks, scanTasks, cpuNs, gcMs, inBytes, outBytes, shuffleBytes, spillBytes = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    if (m.inputMetrics.recordsRead > 0) scanTasks += 1
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    inBytes += m.inputMetrics.bytesRead
    outBytes += m.outputMetrics.bytesWritten
    shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
  }
  def +=(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; scanTasks += o.scanTasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; outBytes += o.outBytes; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
}

/** One Spark action (a SQL execution with a query plan): its duration,
  * planning time, the class the workload gave it and the plan shapes the
  * per-layer metrics count. */
final case class Action(execId: Long, func: String, label: String, endNs: Long, durNs: Long,
                        planNs: Long, streamScans: Int, filesScanned: Long, ok: Boolean)

/**
 * The traced run's recorder. Spans and counters stay in memory and are
 * written out when the run ends. Untraced runs install none of this.
 *
 * Spark work is attributed through job properties: `perfbench.req` (set by
 * the benchmark around each request), `streaming.sql.batchId` (set by
 * Structured Streaming on its micro-batch thread; counted under
 * `batch-<id>`) and the SQL execution id, which joins task counters to the
 * action the listener classified by its plan.
 */
object Trace {
  @volatile var on = false
  val ReqKey = "perfbench.req"
  val PhaseKey = "perfbench.phase"

  val spans = new ConcurrentLinkedQueue[Span]()
  val actions = new ConcurrentLinkedQueue[Action]()
  val byReq = new ConcurrentHashMap[String, Counters]()
  val byExec = new ConcurrentHashMap[Long, Counters]()
  val batchOfExec = new ConcurrentHashMap[Long, Long]()
  val reqOfExec = new ConcurrentHashMap[Long, String]()
  val timed = new Counters

  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock. */
  def now: Long = epochNs + System.nanoTime()

  def record(s: Span): Unit = if (on) spans.add(s)

  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  private def counters(m: ConcurrentHashMap[String, Counters], k: String) =
    m.computeIfAbsent(k, _ => new Counters)

  /** Attach the listener. `classify` names an action by its plan. */
  def install(spark: SparkSession, classify: QueryExecution => String): Unit = {
    on = true
    spark.sparkContext.addSparkListener(new TaskListener(classify))
  }

  /** What a classifier reads: the analyzed plan (commands name their
    * output path) and the physical plan (scans name their input paths). */
  def planText(qe: QueryExecution): String = {
    val inputs = qe.optimizedPlan.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.map(_.toString)
    }.flatten
    qe.analyzed.toString + "\n" + qe.executedPlan.toString + "\ninputs: " + inputs.mkString(" ")
  }

  private final case class JobKeys(req: Option[String], exec: Option[Long], batch: Option[Long],
                                   timed: Boolean)

  /** Task counters by job properties, and one [[Action]] per SQL action. */
  private final class TaskListener(classify: QueryExecution => String)
      extends SparkListener with AdaptiveSparkPlanHelper {
    private val jobOfStage = new ConcurrentHashMap[Int, JobKeys]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val keys = JobKeys(prop(ReqKey), prop("spark.sql.execution.id").map(_.toLong),
        prop("streaming.sql.batchId").map(_.toLong), prop(PhaseKey).contains("timed"))
      for (x <- keys.exec; b <- keys.batch) batchOfExec.put(x, b)
      for (x <- keys.exec; r <- keys.req) reqOfExec.put(x, r)
      e.stageIds.foreach(s => jobOfStage.put(s, keys))
      each(keys)(_.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(jobOfStage.get(e.stageInfo.stageId)).foreach(each(_)(_.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (k <- Option(jobOfStage.get(e.stageId)); m <- Option(e.taskMetrics)) each(k)(_.add(m))

    override def onOtherEvent(e: SparkListenerEvent): Unit =
      Bridge.actionEnd(e).foreach { case (execId, func, qe, endMs, durNs, failed) =>
        val plan: SparkPlan = qe.executedPlan
        val planNs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
        // a micro-batch reaches foreachBatch as an RDD scan of its input
        val scans = collectWithSubqueries(plan) {
          case s: MicroBatchScanExec => s
          case s: RDDScanExec => s
        }.size
        val files = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum
        actions.add(Action(execId, func, classify(qe), endMs * 1000000L, durNs, planNs, scans, files,
          !failed))
      }

    private def each(k: JobKeys)(f: Counters => Unit): Unit = {
      k.req.foreach(r => f(counters(byReq, r)))
      k.batch.foreach(b => f(counters(byReq, s"batch-$b")))
      k.exec.foreach(x => f(byExec.computeIfAbsent(x, _ => new Counters)))
      if (k.timed) f(timed)
    }
  }

  /** Task counters summed over the executions of `as`. */
  def countersOf(as: Seq[Action]): Counters = {
    val c = new Counters
    as.foreach(a => Option(byExec.get(a.execId)).foreach(c += _))
    c
  }

  /** Spans and actions as JSON lines, for reading a run after the fact. */
  def write(path: Path, extra: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      Json.obj(Seq("span" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "req" -> s.req) ++ s.attrs.toSeq)
    } ++ actions.asScala.toSeq.sortBy(_.endNs).map { a =>
      // an action's parent is the micro-batch or the request it ran for
      val batch = Option(batchOfExec.get(a.execId))
      Json.obj(Seq("span" -> a.label, "start_ns" -> (a.endNs - a.durNs), "end_ns" -> a.endNs,
        "parent" -> batch.fold("request")(_ => "stream.trigger"),
        "req" -> batch.map(_.toString).orElse(Option(reqOfExec.get(a.execId))).getOrElse(""),
        "action" -> a.func, "sql_execution_id" -> a.execId, "plan_ns" -> a.planNs,
        "stream_scans" -> a.streamScans, "files_scanned" -> a.filesScanned, "ok" -> a.ok))
    } ++ extra
    Files.write(path, lines.asJava)
  }
}

/** [[FileSigner]] decorator: one `crypto.sign` span per artifact. */
final class TracedSigner(inner: FileSigner) extends FileSigner {
  override def sign(file: Path): Array[Byte] = {
    val t0 = Trace.now
    val sig = inner.sign(file)
    Trace.record(Span("crypto.sign", t0, Trace.now, "stream.trigger", Requests.batch,
      Map("bytes" -> Requests.size(file))))
    sig
  }
}

/** [[ContentStore]] decorator: `engine.store.put` and `.get` spans; a
  * `cold` store names its gets `engine.retriever.cold_get` and records
  * whether the artifact was there. */
final class TracedStore(inner: ContentStore, cold: Boolean = false) extends ContentStore {
  override def put(vault: VaultName, file: Path, ts: Long, sig: Array[Byte]): String = {
    val bytes = Requests.size(file)
    val t0 = Trace.now
    val cid = inner.put(vault, file, ts, sig)
    Trace.record(Span("engine.store.put", t0, Trace.now, "stream.trigger", Requests.batch,
      Map("bytes" -> bytes)))
    cid
  }
  override def get(cid: String): Option[Path] = {
    val t0 = Trace.now
    val p = inner.get(cid)
    val name = if (cold) "engine.retriever.cold_get" else "engine.store.get"
    Trace.record(Span(name, t0, Trace.now, "request.verify", Requests.current,
      Map("hit" -> p.isDefined)))
    p
  }
  override def delete(cid: String): Boolean = inner.delete(cid)
}

/** The request a thread is serving, as the traced decorators see it: the
  * Spark local properties its jobs carry. */
object Requests {
  private def prop(k: String) = Option(SparkContext.getOrCreate().getLocalProperty(k)).getOrElse("")
  def current: String = prop(Trace.ReqKey)
  /** The micro-batch Structured Streaming is running on this thread. */
  def batch: String = prop("streaming.sql.batchId")
  def size(p: Path): Long =
    if (Files.isDirectory(p)) FsUtil.listDir(p).map(Files.size).sum
    else Files.size(p)
}
