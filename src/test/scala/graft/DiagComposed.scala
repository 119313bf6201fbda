package graft

import graft.engine.{EventTimeWindows, LocalContentStore, StreamPipeline}
import graft.ops.Dedup
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The [[ComposedSeamSpec]] pipeline at SCALE (r15 verdict task 6's
 * measured row): hostile-late event-time ingest → published vault
 * artifacts → per-row documents → dup-span strip, with the seam gates
 * asserted DISTRIBUTED (anti-join emptiness, not driver sets) at a
 * volume where a driver-side set would not fit.
 *
 *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.DiagComposed [nTx]"
 *
 * Default nTx = 1,000,000 (10M records, the second decade). Prints one
 * line per phase for SCALING.md; gates throw on violation.
 */
object DiagComposed {
  def main(args: Array[String]): Unit = {
    val nTx = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Files.createTempDirectory("graft_composed_scale_").toString
    val wal = s"$base/wal"; val store = s"$base/store"
    IngestBench.genSpool(wal, nTx, files = 8, eventTimed = true, hostile = true)

    val t0 = System.nanoTime()
    val q = StreamPipeline.start(spark, "composed", IngestBench.schemas, wal,
      s"$base/staging", s"$base/ckpt", new LocalContentStore(store),
      availableNow = true, maxTxPerTrigger = Some((nTx / 10).toInt),
      singleFile = false,
      eventTime = Some(EventTimeWindows(windowSeconds = (nTx / 20) max 1,
        latenessSeconds = 0L)))
    q.awaitTermination(math.max(600000L, nTx * 3))
    val ingestSec = (System.nanoTime() - t0) / 1e9

    def listDirs(root: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.exists(root)) Seq.empty else graft.core.FsUtil.listDir(root)
    val storedRows = listDirs(Paths.get(store))
      .map(p => spark.read.parquet(p.toString)
        .select(col("id").cast("long"), col("name"), col("v")))
      .reduce(_.unionByName(_))
    val storedIds = storedRows.select("id")
    val pendingIds = listDirs(Paths.get(s"$base/staging", "pending"))
      .filter(Files.isDirectory(_))
      .flatMap(t => graft.core.FsUtil.listDir(t)).filter(Files.isDirectory(_))
      .flatMap(b => graft.core.FsUtil.listDir(b))
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__wstart="))
      .map(ws => spark.read.parquet(ws.toString).select(col("id").cast("long")))
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.range(0).select(col("id"))).toDF("id")

    // expected non-dropped ids, constructed in Spark from the generator
    // predicate (hostileLateTx: tx >= nTx/10 && tx%10 < 1 + tx*8/nTx)
    val rpt = IngestBench.RecordsPerTx
    val txs = spark.range(nTx).toDF("tx")
      // floor(): Spark's `/` is double division, the generator's is
      // Scala integer division
      .where(!(col("tx") >= nTx / 10 &&
        col("tx") % 10 < lit(1) + floor(col("tx") * 8 / nTx).cast("long")))
    val expected = txs.select(explode(sequence(col("tx") * rpt,
      col("tx") * rpt + (rpt - 1))).as("id"))

    // gate 1 (distributed): stored ∪ pending == expected, disjoint
    val t1 = System.nanoTime()
    val both = storedIds.intersect(pendingIds).count()
    require(both == 0, s"stored/pending overlap: $both ids")
    val all = storedIds.union(pendingIds)
    val missing = expected.except(all).count()
    val extra = all.except(expected).count()
    require(missing == 0 && extra == 0,
      s"conservation broke through the seam: missing=$missing extra=$extra")
    val nStored = storedIds.count(); val nPending = pendingIds.count()
    val gate1Sec = (System.nanoTime() - t1) / 1e9

    // gate 2: strip on artifact-derived docs == strip on the clean
    // construction over the same id set. CONTENT-BEARING (r16 verdict,
    // mirrors ComposedSeamSpec): the artifact side derives its tokens
    // from the PAYLOAD columns (k parsed from `name`, a 13th token from
    // `v`), the clean side from the id alone (the generator's payload
    // is a pure function of id) — value corruption through the seam
    // diverges the strip even when the id set is conserved.
    def docsOfRows(rows: DataFrame): DataFrame = {
      val tx = regexp_extract(col("name"), "^row-(\\d+)-(\\d+)-", 1).cast("long")
      val i = regexp_extract(col("name"), "^row-(\\d+)-(\\d+)-", 2).cast("long")
      val k = tx * lit(IngestBench.RecordsPerTx.toLong) + i
      val toks = (0 to 11).map(j => concat(lit("w"), (k + lit(j)).cast("long"))) :+
        concat(lit("v"), (col("v") * 100).cast("long"))
      rows.select(col("id").cast("long").as("doc_id"),
        concat_ws(" ", toks: _*).as("text"))
    }
    def docsOfIds(ids: DataFrame): DataFrame = {
      val toks = (0 to 11).map(j => concat(lit("w"), (col("id") + lit(j)).cast("long"))) :+
        concat(lit("v"), (col("id") % 1000) * 100 + 25)
      ids.select(col("id").cast("long").as("doc_id"),
        concat_ws(" ", toks: _*).as("text"))
    }
    val t2 = System.nanoTime()
    val a = Dedup.stripDuplicateSpans(docsOfRows(storedRows), windowTokens = 8)
    val b = Dedup.stripDuplicateSpans(
      docsOfIds(expected.except(pendingIds).toDF("id")), windowTokens = 8)
    val divergent = a.except(b).count() + b.except(a).count()
    require(divergent == 0, s"strip diverges through the seam: $divergent rows")
    val nRemoved = a.agg(sum("n_removed")).head().getLong(0)
    val stripSec = (System.nanoTime() - t2) / 1e9

    println(f"[composed] nTx=$nTx records=${nTx * rpt} ingest=$ingestSec%.1fs " +
      f"stored=$nStored pending=$nPending conservation_gate=$gate1Sec%.1fs " +
      f"strip_equality_gate=$stripSec%.1fs tokens_removed=$nRemoved (all gates held)")
    graft.core.FsUtil.deleteRecursive(Paths.get(base))
    spark.stop()
  }
}
