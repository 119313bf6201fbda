package perfbench

import graft.catalog.VaultCatalog
import graft.cdc.{TableColumn, TableSchema, WalDecoder}
import graft.core.{Account, FsUtil, VaultName}
import graft.crypto.{EcmhAggregator, Signer}
import graft.engine.{ContentStore, FileSigner, LocalContentStore, Retriever, StreamPipeline}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.jdk.CollectionConverters._
import scala.util.Random

/**
 * `ingest_backfill`: a pre-spooled, seeded WAL backlog drained by
 * `StreamPipeline.start` with `Trigger.AvailableNow`, in the `vaults
 * stream` configuration (single-file artifacts, a signer, a catalog,
 * processing-time windows, strict schema). Three tables take uneven
 * shares of the transactions: `orders` is hot, `users` is ordinary and
 * `audit` is rare, so some micro-batches skip its empty window.
 */
object Ingest {
  val Namespace = "bench"
  val LsnStep = 0x1000L
  private val Tables = Seq("audit", "orders", "users")
  private val Account0 = "0x" + "5a" * 20
  private val KeyHex = "4c0883a69102937d6231471b5dbb6204fe5129617082792ae468d01a3f362318"

  val schemas: Seq[TableSchema] = Tables.map(t => TableSchema(t, Seq(
    TableColumn("id", "bigint", nullable = false, isPrimary = true),
    TableColumn("name", "text", nullable = false, isPrimary = false),
    TableColumn("v", "double precision", nullable = false, isPrimary = false),
    TableColumn("flag", "boolean", nullable = false, isPrimary = false))))

  /** The seeded backlog: per transaction its table and its spool line. */
  final case class Backlog(lines: IndexedSeq[String], tables: IndexedSeq[String], records: IndexedSeq[Int]) {
    def fed: Map[String, Long] =
      Tables.map(t => t -> tables.indices.filter(tables(_) == t).map(records(_).toLong).sum).toMap
  }

  def backlog(seed: Long, nTx: Int, maxRecs: Int): Backlog = {
    val rnd = new Random(seed)
    val out = (0 until nTx).map { tx =>
      val r = rnd.nextDouble()
      val table = if (r < 0.03) "audit" else if (r < 0.2) "users" else "orders"
      val n = 1 + rnd.nextInt(maxRecs)
      val recs = (0 until n).map { i =>
        val id = tx.toLong * maxRecs + i
        val name = rnd.alphanumeric.take(8 + rnd.nextInt(120)).mkString
        val v = rnd.nextInt(1000000) / 100.0
        s"""{"action":"I","xid":$tx,"lsn":"0/${(tx.toLong * maxRecs + i).toHexString}","nextlsn":"","timestamp":"2024-01-01 00:00:00.000000+00","schema":"public","table":"$table","columns":[{"name":"id","type":"bigint","value":$id},{"name":"name","type":"text","value":"$name"},{"name":"v","type":"double precision","value":$v},{"name":"flag","type":"boolean","value":${rnd.nextBoolean()}}],"pk":[{"name":"id","type":"bigint"}]}"""
      }
      (s"""{"commit_lsn":${LsnStep * (tx + 1)},"records":[${recs.mkString(",")}]}""", table, n)
    }
    Backlog(out.map(_._1), out.map(_._2), out.map(_._3))
  }

  /** Spool files in LSN order, like the file feed writes them. */
  def spool(dir: Path, b: Backlog, files: Int = 4): Unit = {
    Files.createDirectories(dir)
    val per = (b.lines.length + files - 1) / files
    b.lines.grouped(per).zipWithIndex.foreach { case (ls, f) =>
      Files.write(dir.resolve(f"wal-$f%04d.jsonl"), ls.asJava, StandardCharsets.UTF_8)
    }
  }

  /** What `vaults create` does for each table's vault. */
  def createVaults(spark: SparkSession, root: Path): VaultCatalog = {
    val catalog = VaultCatalog(spark, root.toString)
    Tables.foreach(t => catalog.createVault(VaultName(Namespace, t), Account(Account0), 60))
    catalog
  }

  /** Transactions per micro-batch, micro-batches, the most records in a
    * transaction (a transaction holds 1 to that many), read requests. */
  final case class Sizes(txPerBatch: Int, batches: Int, maxRecs: Int, requests: Int)
  def sizes(a: Args): Sizes =
    if (a.tiny) Sizes(20, 3, 19, 20) else Sizes(50, 3, 199, 39)

  def run(spark: SparkSession, a: Args): Outcome = {
    val sz = sizes(a)
    val nTx = sz.txPerBatch * sz.batches

    // set-up, three times over; the last copy is the one drained
    def setup(i: Int): (Path, Backlog, VaultCatalog) = {
      val dir = a.work.resolve(s"ingest-$i")
      val b = backlog(a.seed, nTx, sz.maxRecs)
      spool(dir.resolve("wal"), b)
      (dir, b, createVaults(spark, dir.resolve("provider")))
    }
    val setups = (1 to 3).map(i => Main.timed(setup(i)))
    val setupS = Main.median(setups.map(_._2))
    setups.init.foreach(s => FsUtil.deleteRecursive(s._1._1))
    val (dir, fed, catalog) = setups.last._1

    val staging = dir.resolve("staging").toString
    val provider = dir.resolve("provider")
    if (a.trace) Trace.install(spark, classify(staging, provider.toString))
    val hot = new LocalContentStore(provider.resolve("store").toString)
    val store: ContentStore = if (a.trace) new TracedStore(hot) else hot
    val signer: FileSigner =
      if (a.trace) new TracedSigner(Signer.fromHex(KeyHex)) else Signer.fromHex(KeyHex)

    // timed phase 1: the drain
    System.gc()
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, "timed")
    val drainPhase = new Main.Phase
    val (progress, streamError) = drain(spark, dir, catalog, sz.txPerBatch, store, signer)
    drainPhase.end()
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, null)

    if (a.inject == "corrupt") corruptOne(provider.resolve("store"))
    val (checks, checksS) = Main.timed(verify(spark, provider, catalog, fed.fed))
    val batches = progress.filter(_.numInputRows > 0)
    val batchS = batches.map(p => dur(p, "triggerExecution"))

    // timed phase 2: reads of the vaults just written, a quarter of them cold
    val rnd = new Random(a.seed * 31 + 7)
    val coldDir = provider.resolve("cold")
    val arts = rnd.shuffle(VaultRead.moveCold(rnd, hot, coldDir, checks.arts).toIndexedSeq)
    val cold = new LocalContentStore(coldDir.toString)
    val retriever = new Retriever(store, Some(if (a.trace) new TracedStore(cold, cold = true) else cold))
    val warm =
      if (arts.isEmpty) Nil else VaultRead.loop(spark, catalog, retriever, arts, rnd, 5, warm = true)
    System.gc()
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, "timed")
    val readPhase = new Main.Phase
    val reads =
      if (arts.isEmpty) Nil
      else VaultRead.loop(spark, catalog, retriever, arts, rnd, sz.requests, warm = false)
    readPhase.end()
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, null)

    val attempted = batches.length + (if (streamError.isDefined) 1 else 0) + checks.attempted +
      warm.length + reads.length
    val failed = (if (streamError.isDefined) 1 else 0) + checks.failed + (warm ++ reads).count(!_.ok)
    val e2e = Seq(M("setup_s", setupS, "s"), M("cpu_s", drainPhase.cpu + readPhase.cpu, "s"),
      M("heap_live_mb", Host.heapLiveMb(spark), "MiB"),
      M("work_s", drainPhase.wall + readPhase.wall, "s"),
      M("op_p50_s", if (reads.isEmpty) Double.NaN else Main.median(reads.map(_.seconds)), "s"))
    // the figures of each phase, for reading: records per second and batch
    // latency of the drain, latency by request kind of the reads
    val phaseFigures = Seq(
      "ingest_records_per_s" -> checks.verifiedRows / drainPhase.wall,
      "ingest_batch_p50_s" -> (if (batchS.isEmpty) Double.NaN else Main.median(batchS))) ++
      VaultRead.quantiles(reads)
    val metrics =
      if (!a.trace) e2e
      else {
        Bridge.drain(spark.sparkContext)
        layers(spark, batches, fed, sz.txPerBatch, dir) ++ VaultRead.layers(reads, coldDir) ++
          Main.sparkLayer()
      }
    Outcome(attempted, failed, metrics, phaseFigures ++ Seq(
      "drain_s" -> drainPhase.wall, "drain_steal_frac" -> drainPhase.steal,
      "read_s" -> readPhase.wall, "read_steal_frac" -> readPhase.steal, "checks_s" -> checksS,
      "records_fed" -> fed.fed.values.sum, "micro_batches" -> batches.length,
      "artifacts" -> arts.length, "cold_artifacts" -> arts.count(_.cold),
      "events_requests" -> reads.count(_.req.isInstanceOf[VaultRead.Events]),
      "verify_requests" -> reads.count(_.req.isInstanceOf[VaultRead.Verify]),
      "stream_error" -> streamError.getOrElse(""), "check_failures" -> checks.messages.take(5)))
  }

  /** Drain a spooled backlog to the end; returns every progress report
    * and the stream's error, if it failed. */
  def drain(spark: SparkSession, dir: Path, catalog: VaultCatalog, txPerBatch: Int,
            store: ContentStore, signer: FileSigner): (Seq[StreamingQueryProgress], Option[String]) = {
    val q = StreamPipeline.start(spark, Namespace, schemas, dir.resolve("wal").toString,
      dir.resolve("staging").toString, dir.resolve("checkpoint").toString, store,
      signer = Some(signer), catalog = Some(catalog), availableNow = true,
      maxTxPerTrigger = Some(txPerBatch))
    val err =
      try { q.awaitTermination(); None }
      catch { case e: Exception => Some(e.getMessage.take(300)) }
    (q.recentProgress.toSeq, err)
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)

  final case class Checks(attempted: Long, failed: Long, verifiedRows: Long, messages: Seq[String],
                          arts: Seq[VaultRead.Art])

  /** Output checks, outside the timed phase: rows stored equal rows fed
    * per table; each artifact's cid re-derives from its bytes; exactly one
    * catalog event per artifact, and its digest verifies — the rows' ECMH
    * digest (`EcmhAggregator`, over the columns' canonical JSON, as
    * `rowDigest` computes it) taken per artifact in one job per table. */
  def verify(spark: SparkSession, provider: Path, catalog: VaultCatalog,
             fed: Map[String, Long]): Checks = {
    import org.apache.spark.sql.functions._
    val artifacts = FsUtil.listDirSorted(provider.resolve("store")).map { p =>
      val n = p.getFileName.toString
      val cid = n.takeWhile(_ != '-')
      (cid, n.drop(cid.length + 1).takeWhile(_ != '-'), p)
    }
    val events = catalog.events.select("vault", "cid", "digest", "timestamp").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val verifiedArts = Seq.newBuilder[VaultRead.Art]
    val msgs = Seq.newBuilder[String]
    var failed = 0L
    def fail(m: String): Unit = { failed += 1; msgs += m }
    var verifiedRows = 0L
    val byTable = artifacts.groupBy(_._2)
    fed.toSeq.sorted.foreach { case (table, n) =>
      val arts = byTable.getOrElse(table, Nil)
      val cols = schemas.find(_.table == table).get.columns.map(_.name)
      // per artifact file: (rows, digest), in one job
      val got: Map[String, (Long, String)] =
        try {
          if (arts.isEmpty) Map.empty
          else spark.read.parquet(arts.map(_._3.toString): _*)
            .groupBy(input_file_name().as("f"))
            .agg(count(lit(1)), EcmhAggregator.digest(to_json(struct(cols.map(col): _*)).cast("binary")))
            .collect().map(r => r.getString(0).split('/').last -> (r.getLong(1), r.getString(2))).toMap
        } catch { case e: Exception => fail(s"$table unreadable: ${e.getMessage.take(200)}"); Map.empty }
      arts.foreach { case (cid, _, p) =>
        val evs = events.filter(e => e._2 == cid && e._1 == s"$Namespace.$table")
        val problem =
          try {
            if (LocalContentStore.contentId(p) != cid) Some(s"cid of ${p.getFileName} does not re-derive")
            else if (evs.length != 1) Some(s"$cid has ${evs.length} catalog events")
            else if (!got.get(p.getFileName.toString).exists(_._2 == evs.head._3))
              Some(s"$cid: digest does not verify")
            else {
              verifiedArts += VaultRead.Art(VaultName(Namespace, table), cid, evs.head._4,
                got(p.getFileName.toString)._1, cols)
              None
            }
          } catch { case e: Exception => Some(s"$cid: ${e.getMessage.take(200)}") }
        problem.foreach(fail)
      }
      val stored = got.values.map(_._1).sum
      if (stored == n) verifiedRows += n else fail(s"$table stored $stored rows, fed $n")
    }
    // every event names an artifact in the store
    val known = artifacts.map(_._1).toSet
    val orphans = events.filterNot(e => known(e._2))
    orphans.foreach(e => fail(s"event ${e._2} has no artifact"))
    Checks(artifacts.length + fed.size + orphans.length, failed, verifiedRows, msgs.result(),
      verifiedArts.result())
  }

  /** Self-check fault: flip bytes inside one stored artifact. */
  def corruptOne(store: Path): Unit = FsUtil.listDirSorted(store).headOption.foreach { p =>
    val b = Files.readAllBytes(p)
    val mid = b.length / 2
    (mid until math.min(mid + 64, b.length)).foreach(i => b(i) = (b(i) ^ 0x5a).toByte)
    Files.write(p, b)
  }

  /** Names each Spark action by what its plan touches. The ECMH aggregate
    * is `digest`: the sink's when it runs in a micro-batch, the reader's
    * when it serves a verify request. */
  def classify(staging: String, provider: String)(qe: QueryExecution): String =
    if (qe.isInstanceOf[org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution]) "stream.batch"
    else {
      val plan = Trace.planText(qe)
      val write = plan.contains("InsertIntoHadoopFsRelationCommand")
      if (plan.contains(s"$provider/events")) if (write) "catalog.append" else "catalog.read"
      else if (plan.contains(s"$provider/vaults")) "catalog.read"
      else if (write && plan.contains(staging)) "engine.sink.write"
      else if (plan.toLowerCase.contains("ecmhaggregator")) "digest"
      else if (plan.contains(staging)) "engine.sink.empty_check"
      else "other"
    }

  /** The traced run's per-layer metrics, per micro-batch means. */
  private def layers(spark: SparkSession, batches: Seq[StreamingQueryProgress],
                     fed: Backlog, txPerBatch: Int, dir: Path): Seq[M] = {
    val n = batches.length.toDouble
    val ids = batches.map(_.batchId).toSet
    batches.foreach { p =>
      val t0 = java.time.Instant.parse(p.timestamp)
      val s0 = t0.getEpochSecond * 1000000000L + t0.getNano
      Trace.record(Span("stream.trigger", s0, s0 + (dur(p, "triggerExecution") * 1e9).toLong, "",
        p.batchId.toString, Map("records" -> p.numInputRows)))
    }
    val acts = Trace.actions.asScala.toSeq.filter(x =>
      x.label != "stream.batch" && Option(Trace.batchOfExec.get(x.execId)).exists(b => ids(b)))
    def actS(label: String) = acts.filter(_.label == label).map(_.durNs).sum / 1e9 / n
    def spanS(name: String) = Trace.spansNamed(name).map(_.seconds).sum / n
    def spanBytes(name: String) =
      Trace.spansNamed(name).map(_.attrs("bytes").asInstanceOf[Long]).sum / n
    def sumP(k: String) = batches.map(p => dur(p, k)).sum / n
    val lsn = """"lsn"\s*:\s*(\d+)""".r
    def lsnOf(s: String) = Option(s).flatMap(lsn.findFirstMatchIn).map(_.group(1).toLong).getOrElse(0L)
    val backlog = batches.map { p =>
      val s = p.sources.head
      (lsnOf(s.latestOffset) - lsnOf(s.endOffset)) / LsnStep
    }
    val sink = new Counters
    ids.foreach(b => Option(Trace.byReq.get(s"batch-$b")).foreach(sink += _))
    val digests = acts.filter(_.label == "digest")
    val writeC = Trace.countersOf(acts.filter(_.label == "engine.sink.write"))
    val rereadC = Trace.countersOf(acts.filter(x =>
      x.label == "digest" || x.label == "engine.sink.empty_check"))

    val trigger = sumP("triggerExecution")
    val attributed = Map(
      "stream.latest_offset_s" -> sumP("latestOffset"),
      "stream.commit_s" -> (sumP("walCommit") + sumP("commitOffsets")),
      "cdc.source.get_batch_s" -> sumP("getBatch"),
      "engine.sink.write_s" -> actS("engine.sink.write"),
      "engine.sink.empty_check_s" -> actS("engine.sink.empty_check"),
      "engine.sink.digest_s" -> actS("digest"),
      "crypto.sign_s" -> spanS("crypto.sign"),
      "engine.store.put_s" -> spanS("engine.store.put"),
      "catalog.read_s" -> actS("catalog.read"),
      "catalog.append_s" -> actS("catalog.append"))

    // decode-only pass over the same batches, to the noop sink
    val decodeS = {
      import spark.implicits._
      val (_, s) = Main.timed(fed.lines.grouped(txPerBatch).foreach { ls =>
        val df = ls.toDF("value")
        WalDecoder.decodeTables(spark, df, schemas, strict = true,
          driftMode = graft.cdc.DriftMode.Exact).values
          .foreach(_.write.format("noop").mode("overwrite").save())
      })
      s / n
    }
    val eventFiles = Files.walk(dir.resolve("provider/events")).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    attributed.toSeq.map { case (k, v) => M(k, v, "s") } ++ Seq(
      M("stream.trigger_s", trigger, "s"),
      M("driver.other_s", trigger - attributed.values.sum, "s"),
      M("cdc.source.backlog_tx_max", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count"),
      M("cdc.decode_s", decodeS, "s"),
      M("cdc.batch_scans", acts.map(_.streamScans).sum / n, "count"),
      M("engine.sink.jobs", sink.jobs / n, "count"),
      M("engine.sink.stages", sink.stages / n, "count"),
      M("engine.sink.tasks", sink.tasks / n, "count"),
      M("engine.sink.digest_tasks",
        if (digests.isEmpty) 0.0 else Trace.countersOf(digests).scanTasks.toDouble / digests.length, "count"),
      M("engine.sink.bytes_written", writeC.outBytes / n, "bytes"),
      M("engine.sink.bytes_reread", rereadC.inBytes / n, "bytes"),
      M("crypto.sign_bytes", spanBytes("crypto.sign"), "bytes"),
      M("engine.store.put_bytes", spanBytes("engine.store.put"), "bytes"),
      M("catalog.event_files", eventFiles.toDouble, "count"))
  }
}
