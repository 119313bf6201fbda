package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/**
 * The Spark work a block runs, counted by a listener that lives only for
 * the block: jobs, stages and tasks, executor CPU, run and GC time, input
 * bytes and records, files scanned, shuffle read and write bytes, and
 * memory and disk spill; plus the calling thread's own CPU time (planning,
 * driver-side loops over collected rows), which no executor counter sees.
 * Unlike wall-clock, the file and record counts do not move with host
 * load, and the job, stage, task and byte counts move little (see
 * [[Bench]] for what moved between two runs of the same code).
 *
 * Only work submitted from the calling thread counts: the block runs with
 * a local property naming it, and a job counts when it carries that tag.
 * Blocks nest: an inner block's work counts for the enclosing one too.
 * Threads started inside the block inherit the tag (as Spark's broadcast
 * and subquery threads do), so their jobs count too; jobs another thread
 * runs on the shared session do not. A stage counts when a tagged job
 * submitted it; files are the `numFiles` metric of the file scans of each
 * SQL execution a tagged job ran for. A scan the plan reaches only through
 * a cached relation or an RDD (the WAL parse over a text read) is not in
 * `files`; its bytes and records still are in the input counters. The
 * listener bus is drained before the listener is added and again before
 * the counters are read, so no earlier event is counted and no event of
 * the block is missed.
 */
object WorkCounters {
  private val Tag = "graft.workCounters"
  private val ExecutionId = "spark.sql.execution.id"
  private val seq = new AtomicInteger

  /** One block's counters. Executor times are summed over tasks, so on
    * many cores CPU and run time exceed the block's wall-clock. */
  final case class Counters(jobs: Int, stages: Int, tasks: Long, cpuNs: Long, driverCpuNs: Long,
                            runMs: Long, gcMs: Long, inputBytes: Long, inputRecords: Long,
                            files: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            memorySpillBytes: Long, diskSpillBytes: Long) {
    /** The counters by their JSON names; names ending in `_s` are seconds. */
    def named: Seq[(String, Double)] = Seq("jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
      "tasks" -> tasks.toDouble, "cpu_s" -> cpuNs / 1e9, "driver_cpu_s" -> driverCpuNs / 1e9,
      "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3, "input_bytes" -> inputBytes.toDouble,
      "input_records" -> inputRecords.toDouble, "files" -> files.toDouble,
      "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
      "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
      "memory_spill_bytes" -> memorySpillBytes.toDouble, "disk_spill_bytes" -> diskSpillBytes.toDouble)

    /** Each counter's smaller value of the two blocks. */
    def min(o: Counters): Counters = Counters(jobs.min(o.jobs), stages.min(o.stages),
      tasks.min(o.tasks), cpuNs.min(o.cpuNs), driverCpuNs.min(o.driverCpuNs), runMs.min(o.runMs),
      gcMs.min(o.gcMs), inputBytes.min(o.inputBytes), inputRecords.min(o.inputRecords),
      files.min(o.files), shuffleReadBytes.min(o.shuffleReadBytes),
      shuffleWriteBytes.min(o.shuffleWriteBytes), memorySpillBytes.min(o.memorySpillBytes),
      diskSpillBytes.min(o.diskSpillBytes))

    /** One flat JSON object, times in seconds. */
    def json: String = named.map { case (k, v) =>
      "\"" + k + "\":" + (if (k.endsWith("_s")) "%.3f".formatLocal(java.util.Locale.ROOT, v)
                         else v.toLong.toString)
    }.mkString("{", ",", "}")
  }

  /** The block's result and the Spark work it ran. */
  def of[T](spark: SparkSession)(body: => T): (T, Counters) = {
    val sc = spark.sparkContext
    val listener = new Listener(seq.incrementAndGet().toString)
    Bridge.drain(sc)
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, Option(outer).fold(listener.token)(_ + "," + listener.token))
    val threadCpu = ManagementFactory.getThreadMXBean
    val cpu0 = threadCpu.getCurrentThreadCpuTime
    try {
      val r = body
      val driverCpuNs = threadCpu.getCurrentThreadCpuTime - cpu0
      Bridge.drain(sc)
      (r, listener.counters(driverCpuNs))
    } finally {
      sc.setLocalProperty(Tag, outer)
      sc.removeSparkListener(listener)
    }
  }

  private final class Listener(val token: String) extends SparkListener {
    private val jobs, stages = new AtomicInteger
    private val tasks, cpuNs, runMs, gcMs, inBytes, inRecords, files, shuffleRead, shuffleWrite,
      memSpill, diskSpill = new AtomicLong
    private val ourStages = ConcurrentHashMap.newKeySet[Int]()
    private val ourExecutions = ConcurrentHashMap.newKeySet[Long]()

    private def tagged(p: java.util.Properties) =
      p != null && Option(p.getProperty(Tag)).exists(_.split(',').contains(token))

    override def onJobStart(e: SparkListenerJobStart): Unit = if (tagged(e.properties)) {
      jobs.incrementAndGet()
      Option(e.properties.getProperty(ExecutionId)).foreach(x => ourExecutions.add(x.toLong))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (tagged(e.properties)) ourStages.add(e.stageInfo.stageId)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (ourStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (ourStages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        inRecords.addAndGet(m.inputMetrics.recordsRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit =
      files.addAndGet(Bridge.scannedFiles(e, ourExecutions.contains))

    def counters(driverCpuNs: Long): Counters = Counters(jobs.get, stages.get, tasks.get,
      cpuNs.get, driverCpuNs, runMs.get, gcMs.get, inBytes.get, inRecords.get, files.get,
      shuffleRead.get, shuffleWrite.get, memSpill.get, diskSpill.get)
  }
}
