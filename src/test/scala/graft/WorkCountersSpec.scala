package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Exact work counts of a noop write over a one-file parquet, and the
  * listener's scope: the calling thread's block, nothing before or after. */
class WorkCountersSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("work-counters").resolve("t.parquet").toString
    spark.range(0, 1000, 1, 1).selectExpr("id", "id % 7 AS k").write.parquet(d)
    d
  }

  /** The fixture read with its schema declared, so no job infers it. */
  private def scan: DataFrame = spark.read.schema("id BIGINT, k BIGINT").parquet(dir)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  override def beforeAll(): Unit = { super.beforeAll(); dir }

  test("a scan alone: one job, one stage, one file, no shuffle") {
    val (_, w) = WorkCounters.of(spark)(noop(scan))
    assert((w.jobs, w.stages, w.tasks, w.files) == (1, 1, 1L, 1L), w)
    assert(w.inputRecords == 1000 && w.inputBytes > 0, w)
    assert((w.shuffleReadBytes, w.shuffleWriteBytes) == (0L, 0L), w)
    assert(w.cpuNs > 0 && w.runMs >= 0 && w.gcMs >= 0, w)
  }

  test("a groupBy adds a shuffle stage: shuffle bytes written and read") {
    val (_, w) = WorkCounters.of(spark)(noop(scan.groupBy("k").count()))
    assert((w.jobs, w.stages, w.files) == (2, 2, 1L), w)
    assert(w.inputRecords == 1000, w)
    assert(w.shuffleWriteBytes > 0 && w.shuffleReadBytes == w.shuffleWriteBytes, w)
  }

  test("driver CPU is the calling thread's own CPU time over the block") {
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    val (_, w) = WorkCounters.of(spark) {
      val t0 = bean.getCurrentThreadCpuTime
      while (bean.getCurrentThreadCpuTime - t0 < 300000000L) {}
    }
    assert(w.jobs == 0 && w.cpuNs == 0 && w.driverCpuNs >= 300000000L, w)
  }

  test("a job another thread runs during the block is not counted") {
    val go = new CountDownLatch(1)
    val other = new Thread(() => { go.await(); noop(scan.groupBy("k").count()) })
    other.start() // before the block, so it does not inherit the block's tag
    val (_, w) = WorkCounters.of(spark) {
      go.countDown()
      other.join()
      noop(scan)
    }
    assert((w.jobs, w.stages, w.files, w.shuffleWriteBytes) == (1, 1, 1L, 0L), w)
  }

  test("blocks nest, and the listener is removed after the block, also when it throws") {
    val sc = spark.sparkContext
    def ours = Bridge.listenerCount(sc, "graft.WorkCounters")
    val listeners = ours
    val ((_, inner), outer) = WorkCounters.of(spark) {
      val r = WorkCounters.of(spark) { assert(ours == listeners + 2); noop(scan) }
      noop(scan)
      r
    }
    assert((inner.jobs, inner.files, outer.jobs, outer.files) == (1, 1L, 2, 2L))
    assert(ours == listeners)
    intercept[IllegalStateException] {
      WorkCounters.of(spark)(throw new IllegalStateException("boom"))
    }
    assert(ours == listeners)
    assert(WorkCounters.of(spark)(noop(scan))._2.jobs == 1)
  }
}
