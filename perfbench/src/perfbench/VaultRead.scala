package perfbench

import graft.catalog.VaultCatalog
import graft.core.{FsUtil, VaultName}
import graft.engine.{CarV1, LocalContentStore, Retriever}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._
import scala.util.Random

/**
 * The vault read phase of `ingest_backfill`: once the backlog is drained, a
 * seeded quarter of the artifacts moves to a cold tier of CAR v1 files, and
 * one client runs a seeded closed loop of `listEvents` requests (latest N,
 * before, after, at) and verify requests (catalog digest lookup, then
 * `Retriever.retrieveVerified` and a row count) over the vaults it wrote.
 * The event log holds one small file per artifact and the hot store every
 * artifact, both larger than anything one micro-batch touches.
 */
object VaultRead {

  /** One published artifact as the benchmark knows it. */
  final case class Art(vault: VaultName, cid: String, ts: Long, rows: Long, cols: Seq[String],
                       cold: Boolean = false)

  sealed trait Req
  final case class Events(vault: VaultName, before: Option[Long], after: Option[Long],
                          at: Option[Long], limit: Option[Int]) extends Req
  final case class Verify(art: Art) extends Req

  /** Events newest first, ties by cid: what `listEvents` must return. */
  def expected(arts: Seq[Art], e: Events): Seq[(String, Long)] = {
    val (b, a) = e.at.map(t => (Some(t), Some(t))).getOrElse((e.before, e.after))
    val xs = arts.filter(x => x.vault == e.vault && b.forall(x.ts <= _) && a.forall(x.ts >= _))
      .sortBy(x => (-x.ts, x.cid)).map(x => (x.cid, x.ts))
    e.limit.fold(xs)(xs.take)
  }

  /** The i-th request: the mix repeats every thirteen requests (three
    * verifies, ten listings cycling through the four forms), so every
    * seed runs the same mix. Verifies walk `arts` in order, so a run
    * verifies every artifact before it repeats one; the seed orders
    * `arts` and picks the listings' artifacts. */
  def request(i: Int, rnd: Random, arts: IndexedSeq[Art]): Req =
    if (i % 13 < 3) Verify(arts(((i / 13) * 3 + i % 13) % arts.length))
    else {
      val x = arts(rnd.nextInt(arts.length))
      i % 4 match {
        case 0 => Events(x.vault, None, None, None, Some(1 + rnd.nextInt(20)))
        case 1 => Events(x.vault, Some(x.ts), None, None, Some(10))
        case 2 => Events(x.vault, None, Some(x.ts), None, Some(10))
        case _ => Events(x.vault, None, None, Some(x.ts), None)
      }
    }

  /** Move every fourth artifact by size, from a seeded start, from the
    * hot store to CAR v1 files in `coldDir`, the archive form the
    * retriever's cold tier reads; the cold quarter spans the sizes. */
  def moveCold(rnd: Random, hot: LocalContentStore, coldDir: Path, arts: Seq[Art]): Seq[Art] = {
    Files.createDirectories(coldDir)
    val first = rnd.nextInt(4)
    arts.sortBy(x => (x.rows, x.cid)).zipWithIndex.map { case (x, i) =>
      if (i % 4 != first) x
      else hot.get(x.cid) match {
        case None => x
        case Some(p) =>
          val bytes = Files.readAllBytes(p)
          val id = CarV1.Cid.v1FromDigest(CarV1.CodecRaw,
            java.security.MessageDigest.getInstance("SHA-256").digest(bytes))
          CarV1.write(coldDir.resolve(s"${x.cid}-${p.getFileName}.car"), Seq(id), Seq(id -> bytes))
          hot.delete(x.cid)
          x.copy(cold = true)
      }
    }
  }

  final case class Done(req: Req, seconds: Double, ok: Boolean, id: String)

  /** The closed loop: `n` requests, one after another. A warm-up loop
    * records no spans. */
  def loop(spark: SparkSession, catalog: VaultCatalog, retriever: Retriever, arts: IndexedSeq[Art],
           rnd: Random, n: Int, warm: Boolean): Seq[Done] = {
    val out = (0 until n).map { i =>
      val r = request(i, rnd, arts)
      val id = if (warm) "warm" else s"${if (r.isInstanceOf[Verify]) "v" else "e"}$i"
      val (t0, s0) = (System.nanoTime(), Trace.now)
      val err = serve(spark, catalog, retriever, arts, r, id)
      if (!warm) Trace.record(Span(if (r.isInstanceOf[Verify]) "request.verify" else "request.events",
        s0, Trace.now, "", id, Map("ok" -> err.isEmpty)))
      err.foreach(m => System.err.println(s"[perfbench] $id failed: $m"))
      Done(r, Main.seconds(t0), err.isEmpty, id)
    }
    spark.sparkContext.setLocalProperty(Trace.ReqKey, null)
    out
  }

  /** Serve one request; None when its output checked out. */
  def serve(spark: SparkSession, catalog: VaultCatalog, retriever: Retriever, arts: Seq[Art],
            r: Req, id: String): Option[String] = {
    spark.sparkContext.setLocalProperty(Trace.ReqKey, id)
    try r match {
      case e: Events =>
        val got = catalog.listEvents(e.vault, e.before, e.after, e.at, e.limit,
          e.limit.map(_ => 0)).collect().map(x => (x.getString(0), x.getLong(1))).toSeq
        val want = expected(arts, e)
        if (got == want) None else Some(s"listing $e returned ${got.take(3)}…, expected ${want.take(3)}…")
      case Verify(x) =>
        catalog.events.where(col("cid") === x.cid).select("digest").collect()
          .headOption.map(_.getString(0)) match {
          case None => Some(s"no catalog event for ${x.cid}")
          case Some(d) =>
            retriever.retrieveVerified(spark, x.cid, d, x.cols) match {
              case None => Some(s"${x.cid} not retrievable")
              case Some(df) =>
                val rows = df.count()
                if (rows == x.rows) None else Some(s"${x.cid} has $rows rows, expected ${x.rows}")
            }
        }
    } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage.take(200)}") }
  }

  /** Latency quantiles by request kind, in seconds. */
  def quantiles(done: Seq[Done]): Seq[(String, Double)] = {
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Main.quantile(xs, p)
    val ev = done.collect { case d if d.req.isInstanceOf[Events] => d.seconds }
    val vf = done.collect { case d if d.req.isInstanceOf[Verify] => d.seconds }
    Seq("events_p50_s" -> q(ev, 0.5), "events_p95_s" -> q(ev, 0.95),
      "verify_p50_s" -> q(vf, 0.5), "verify_p95_s" -> q(vf, 0.95))
  }

  /** Per-layer metrics of the read phase, per request. */
  def layers(done: Seq[Done], coldDir: Path): Seq[M] = {
    val evIds = done.filter(_.req.isInstanceOf[Events]).map(_.id).toSet
    val vIds = done.filter(_.req.isInstanceOf[Verify]).map(_.id).toSet
    val acts = Trace.actions.asScala.toSeq
    def of(ids: Set[String]) = acts.filter(x => Option(Trace.reqOfExec.get(x.execId)).exists(ids))
    val evActs = of(evIds)
    val digests = of(vIds).filter(_.label == "digest")
    val nE = evIds.size.max(1).toDouble
    val nV = vIds.size.max(1).toDouble
    val gets = Trace.spansNamed("engine.store.get").filter(s => vIds(s.req))
    val coldHits = Trace.spansNamed("engine.retriever.cold_get")
      .filter(s => vIds(s.req) && s.attrs("hit") == true)
    // CAR v1 extraction, timed on its own over the cold artifacts the loop hit
    val cidOf = done.collect { case Done(Verify(x), _, _, id) => id -> x.cid }.toMap
    val extract = coldHits.flatMap(s => cidOf.get(s.req)).distinct.flatMap { cid =>
      FsUtil.listDir(coldDir).find(_.getFileName.toString.startsWith(cid + "-"))
        .map(p => Main.timed(CarV1.extract(p))._2)
    }
    Seq(
      M("catalog.list_events_s", evActs.map(_.durNs).sum / 1e9 / nE, "s"),
      M("catalog.files_scanned", evActs.map(_.filesScanned).sum / nE, "count"),
      M("catalog.list_jobs", evIds.toSeq.flatMap(i => Option(Trace.byReq.get(i))).map(_.jobs).sum / nE, "count"),
      M("engine.store.get_s", gets.map(_.seconds).sum / nV, "s"),
      M("engine.retriever.cold_hits", coldHits.length.toDouble, "count"),
      M("engine.retriever.car_extract_s", if (extract.isEmpty) 0.0 else Main.median(extract), "s"),
      M("crypto.row_digest_s", digests.map(_.durNs).sum / 1e9 / nV, "s"),
      M("crypto.row_digest_tasks",
        if (digests.isEmpty) 0.0 else Trace.countersOf(digests).scanTasks.toDouble / digests.length, "count"))
  }
}
