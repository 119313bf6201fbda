package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/**
 * The Spark work a block runs, counted by a listener that lives only for
 * the block: jobs, stages and tasks, executor CPU, run and GC time, input
 * bytes and records, files scanned, shuffle read and write bytes, and
 * memory and disk spill. Unlike wall-clock, the job, stage, file, byte and
 * record counts do not move with host load.
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

  /** One block's counters. Times are summed over tasks, so on many cores
    * CPU and run time exceed the block's wall-clock. */
  final case class Counters(jobs: Int, stages: Int, tasks: Long, cpuNs: Long, runMs: Long,
                            gcMs: Long, inputBytes: Long, inputRecords: Long, files: Long,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            memorySpillBytes: Long, diskSpillBytes: Long) {
    /** One flat JSON object, times in seconds. */
    def json: String = {
      def sec(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_s" -> sec(cpuNs / 1e9),
        "run_s" -> sec(runMs / 1e3), "gc_s" -> sec(gcMs / 1e3), "input_bytes" -> inputBytes,
        "input_records" -> inputRecords, "files" -> files, "shuffle_read_bytes" -> shuffleReadBytes,
        "shuffle_write_bytes" -> shuffleWriteBytes, "memory_spill_bytes" -> memorySpillBytes,
        "disk_spill_bytes" -> diskSpillBytes)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
  }

  /** The block's result and the Spark work it ran. */
  def of[T](spark: SparkSession)(body: => T): (T, Counters) = {
    val sc = spark.sparkContext
    val listener = new Listener(seq.incrementAndGet().toString)
    Bridge.drain(sc)
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, Option(outer).fold(listener.token)(_ + "," + listener.token))
    try {
      val r = body
      Bridge.drain(sc)
      (r, listener.counters)
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

    def counters: Counters = Counters(jobs.get, stages.get, tasks.get, cpuNs.get, runMs.get,
      gcMs.get, inBytes.get, inRecords.get, files.get, shuffleRead.get, shuffleWrite.get,
      memSpill.get, diskSpill.get)
  }
}
