package graft.catalog

import graft.{SparkSpec, WorkCounters}
import graft.core.{Account, FsUtil, VaultName}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Q1/Q2/M1 catalog semantics: filters, flag mapping, ordering
  * (cmd/vaults/commands.go:427-586, :787-803, :524-549). */
class CatalogSpec extends SparkSpec {

  private def freshCatalog(): VaultCatalog =
    VaultCatalog(spark, Files.createTempDirectory("catalog").toString)

  private val acct = Account("0x396F15b0A2be942193BBBdC11BE3bF6F6EB1a08a")
  private val v = VaultName("ns", "t")

  private def seed(c: VaultCatalog): Unit = {
    c.createVault(v, acct, 30)
    for (i <- 1 to 5) c.appendEvents(Seq(UploadEvent(v, s"cid$i", i * 100L)))
  }

  private def cids(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.getAs[String]("cid")).toSeq

  private def corrupt(file: Path): Unit =
    Files.write(file, "this is not a parquet file".getBytes("UTF-8"))

  private def jobs(body: => Any): Int = WorkCounters.of(spark)(body)._2.jobs

  /** The Spark filter a listing must equal: newest first, ties by cid,
    * over a whole-store read of the event log. */
  private def reference(events: DataFrame, vault: VaultName,
                        before: Option[Long], after: Option[Long], at: Option[Long],
                        limit: Option[Int], offset: Option[Int]): DataFrame = {
    val (b, a) = at.map(t => (Some(t), Some(t))).getOrElse((before, after))
    var df = events.where(col("vault") === vault.toString)
    b.foreach(t => df = df.where(col("timestamp") <= t))
    a.foreach(t => df = df.where(col("timestamp") >= t))
    df = df.orderBy(col("timestamp").desc, col("cid"))
    offset.foreach(o => df = df.offset(o))
    limit.foreach(n => df = df.limit(n))
    df.select("cid", "timestamp", "is_archived", "cache_expiry")
  }

  test("events: newest-first default, before/after window") {
    val c = freshCatalog(); seed(c)
    assert(cids(c.listEvents(v)) == Seq("cid5", "cid4", "cid3", "cid2", "cid1"))
    assert(cids(c.listEvents(v, before = Some(300L))) == Seq("cid3", "cid2", "cid1"))
    assert(cids(c.listEvents(v, after = Some(300L))) == Seq("cid5", "cid4", "cid3"))
    assert(cids(c.listEvents(v, before = Some(400L), after = Some(200L))) ==
      Seq("cid4", "cid3", "cid2"))
  }

  test("events: --at maps to before=after=at (commands.go:787-803)") {
    val c = freshCatalog(); seed(c)
    assert(cids(c.listEvents(v, at = Some(300L))) == Seq("cid3"))
    assert(cids(c.listEvents(v, at = Some(250L))).isEmpty)
  }

  test("events: limit/offset paging, latest-N equivalence") {
    val c = freshCatalog(); seed(c)
    assert(cids(c.listEvents(v, limit = Some(2))) == Seq("cid5", "cid4"))
    assert(cids(c.listEvents(v, limit = Some(2), offset = Some(2))) == Seq("cid3", "cid2"))
    // --latest N ≡ limit=N offset=0 (commands.go:524-549)
    assert(cids(c.listEvents(v, limit = Some(3), offset = Some(0))) ==
      cids(c.listEvents(v, limit = Some(3))))
  }

  test("vault isolation and account filter (Q1)") {
    val c = freshCatalog(); seed(c)
    val other = VaultName("ns", "other")
    c.createVault(other, acct, 0)
    c.appendEvents(Seq(UploadEvent(other, "cidX", 999L)))
    assert(!cids(c.listEvents(v)).contains("cidX"))
    assert(cids(c.listEvents(other)) == Seq("cidX"))
    val vaults = c.listVaults(acct).collect().map(_.getString(0)).toSet
    assert(vaults == Set("ns.t", "ns.other"))
    val nobody = Account("0x0000000000000000000000000000000000000001")
    assert(c.listVaults(nobody).isEmpty)
  }

  test("appendEvents: a window-less event always appends") {
    val c = freshCatalog(); c.createVault(v, acct, 30)
    c.appendEvents(Seq(UploadEvent(v, "cidA", 100L, window = Some(1L))))
    // replay dedupe is per vault: the same cid and window in another
    // vault still appends
    val other = VaultName("ns", "other2")
    c.createVault(other, acct, 0)
    c.appendEvents(Seq(UploadEvent(other, "cidA", 200L, window = Some(1L))))
    assert(cids(c.listEvents(other)) == Seq("cidA"))
    // an event without a window token appends every time: a deliberate
    // re-upload of identical content IS an event (CompactorSpec's 'cid
    // repeats in the log' contract)
    c.appendEvents(Seq(UploadEvent(v, "cidA", 300L)))
    c.appendEvents(Seq(UploadEvent(v, "cidA", 400L)))
    assert(cids(c.listEvents(v)) == Seq("cidA", "cidA", "cidA"))
  }

  test("appendEvents: a window token dedupes only true replays") {
    val c = freshCatalog(); c.createVault(v, acct, 30)
    // window 1 publishes on an empty catalog; its crash-replay (same
    // cid, SAME window) no-ops
    c.appendEvents(Seq(UploadEvent(v, "cidW", 100L, window = Some(1L))))
    c.appendEvents(Seq(UploadEvent(v, "cidW", 100L, window = Some(1L))))
    assert(cids(c.listEvents(v)) == Seq("cidW"))
    // a LATER window legitimately emitting byte-identical content (same
    // cid, different window) is a distinct event: appended with its own
    // timestamp, not silently dropped
    c.appendEvents(Seq(UploadEvent(v, "cidW", 200L, window = Some(2L))))
    assert(cids(c.listEvents(v)) == Seq("cidW", "cidW"))
    val ts = c.listEvents(v).collect().map(r =>
      r.getLong(r.fieldIndex("timestamp"))).sorted
    assert(ts.toSeq == Seq(100L, 200L))
    // and window 2's own replay still no-ops, also inside a batch whose
    // other event is new
    c.appendEvents(Seq(UploadEvent(v, "cidW", 200L, window = Some(2L)),
      UploadEvent(v, "cidV", 200L, window = Some(2L))))
    assert(cids(c.listEvents(v)) == Seq("cidV", "cidW", "cidW"))
  }

  test("events read failures: empty catalog maps to empty, corruption propagates") {
    // missing events dir (fresh catalog, nothing appended): empty listing
    val c = freshCatalog(); c.createVault(v, acct, 30)
    assert(c.listEvents(v).count() == 0)
    // a CORRUPT events store must THROW, not read as empty — a swallowed
    // read failure would let the replay dedupe silently append a duplicate
    // (advisor r14: the catch-all in `events` covered this path)
    val root = Files.createTempDirectory("catalog_corrupt")
    val cc = VaultCatalog(spark, root.toString)
    cc.createVault(v, acct, 30)
    val eventsDir = root.resolve("events")
    Files.createDirectories(eventsDir)
    Files.write(eventsDir.resolve("part-corrupt.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    val ex = intercept[Exception] { cc.listEvents(v).count() }
    assert(!ex.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
      !Option(ex.asInstanceOf[org.apache.spark.sql.AnalysisException].getCondition)
        .exists(cond => cond.startsWith("PATH_NOT_FOUND") ||
          cond.startsWith("UNABLE_TO_INFER_SCHEMA")),
      s"corruption must not map to the empty-catalog shape: $ex")
    // and the replay-safe append path fails loud instead of duplicating
    intercept[Exception] {
      cc.appendEvents(Seq(UploadEvent(v, "cidX", 100L, window = Some(1L))))
    }
    // a CORRUPT vaults store must throw too: read as empty, it would list
    // no vaults and the next create would restart created_seq at 1.
    // Every data file is clobbered, so the scan of the declared schema fails.
    val vroot = Files.createTempDirectory("catalog_corrupt_vaults")
    val cv = VaultCatalog(spark, vroot.toString)
    cv.createVault(v, acct, 30)
    Files.list(vroot.resolve("vaults")).toArray(n => new Array[java.nio.file.Path](n))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(corrupt)
    intercept[Exception] { cv.listVaults(acct).count() }
    intercept[Exception] { cv.createVault(VaultName("ns", "u"), acct, 30) }
    // a corrupt file inside one vault's partition fails every read that
    // opens that partition, and only those: another vault's listing is
    // partition-pruned and never opens it
    val c2 = freshCatalog(); seed(c2)
    val other = VaultName("ns", "other")
    c2.createVault(other, acct, 0)
    c2.appendEvents(Seq(UploadEvent(other, "cidB", 999L)))
    corrupt(Path.of(c2.root, "events", s"vault=$v", "part-corrupt.parquet"))
    intercept[Exception] { c2.listEvents(v).count() }
    intercept[Exception] {
      c2.appendEvents(Seq(UploadEvent(v, "cidY", 100L, window = Some(1L))))
    }
    intercept[Exception] { c2.events.count() }
    assert(cids(c2.listEvents(other)) == Seq("cidB"))
  }

  test("a store written before digest, window and created_seq existed still reads") {
    val c = freshCatalog()
    val ts0 = new java.sql.Timestamp(0)
    // event files and a vaults file in the shapes older writers left
    spark.createDataFrame(Seq(("old1", 100L, false, ts0), ("old2", 200L, true, ts0)))
      .toDF("cid", "timestamp", "is_archived", "cache_expiry")
      .write.parquet(s"${c.root}/events/vault=$v")
    spark.createDataFrame(Seq((v.toString, acct.address, 10)))
      .toDF("vault", "account", "cache_duration")
      .write.parquet(s"${c.root}/vaults")
    // they list, and the missing columns read NULL
    assert(cids(c.listEvents(v)) == Seq("old2", "old1"))
    assert(c.listVaults(acct).collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq((v.toString, 10)))
    assert(c.events.select("digest", "window").collect()
      .forall(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(c.vaults.select("created_seq").collect().forall(_.isNullAt(0)))
    assert(c.cacheDurationOf(v).contains(10))
    // a window-scoped replay-safe append over an old row with the same cid
    // appends: the old row's NULL window never equals the token
    c.appendEvents(Seq(UploadEvent(v, "old1", 300L, "d", Some(1L))))
    assert(cids(c.listEvents(v)) == Seq("old1", "old2", "old1"))
    // and its own replay is a no-op
    c.appendEvents(Seq(UploadEvent(v, "old1", 300L, "d", Some(1L))))
    assert(c.listEvents(v).count() == 3)
    // re-creates start created_seq at 1 over the unsequenced row, and
    // the highest created_seq wins over it
    c.createVault(v, acct, 30)
    assert(c.cacheDurationOf(v).contains(30))
    c.createVault(v, acct, 45)
    assert(c.cacheDurationOf(v).contains(45))
    val seqs = c.vaults.select("created_seq").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(seqs.sortBy(_.getOrElse(0L)) == Seq(None, Some(1L), Some(2L)))
  }

  test("catalog reads run no schema-inference job") {
    val c = freshCatalog(); seed(c)
    val other = VaultName("ns", "other")
    c.createVault(other, acct, 0)
    for (i <- 1 to 3) c.appendEvents(Seq(UploadEvent(other, s"o$i", i * 10L)))
    def files(vault: VaultName): Int =
      Files.list(Path.of(c.root, "events", s"vault=$vault"))
        .filter(_.toString.endsWith(".parquet")).count().toInt
    val filesBefore = Seq(v, other).map(files)
    val counts = Seq(
      "stale listEvents" -> jobs(c.listEvents(v, limit = Some(5)).collect()),
      "current listEvents" -> jobs(c.listEvents(v, limit = Some(5)).collect()),
      "listVaults" -> jobs(c.listVaults(acct).collect()),
      "appendEvents of 1" -> jobs(c.appendEvents(Seq(
        UploadEvent(v, "cidNew", 600L, window = Some(7L))))),
      "appendEvents of 3 in 2 vaults" -> jobs(c.appendEvents(Seq(
        UploadEvent(v, "cidA", 700L, window = Some(8L)),
        UploadEvent(v, "cidB", 700L, window = Some(9L)),
        UploadEvent(other, "oNew", 700L, window = Some(8L))))))
    // each read's own jobs only, no footer job to infer a schema: a
    // listing of a partition this catalog has not read refreshes its
    // snapshot in one job, a current one runs none; the vault catalog's
    // snapshot took in this catalog's own creates; an append writes on
    // the driver, and runs one refresh of whichever of its vaults'
    // partitions it holds no current snapshot of (here `other`, written
    // but never read)
    assert(counts == Seq("stale listEvents" -> 1, "current listEvents" -> 0,
      "listVaults" -> 0, "appendEvents of 1" -> 0, "appendEvents of 3 in 2 vaults" -> 1))
    // one file per vault per append
    assert(Seq(v, other).map(files) == filesBefore.zip(Seq(2, 1)).map(p => p._1 + p._2))
    assert(cids(c.listEvents(v, limit = Some(3))) == Seq("cidA", "cidB", "cidNew"))
    assert(cids(c.listEvents(other, limit = Some(1))) == Seq("oNew"))
  }

  test("listEvents equals the Spark filter on every filter and page") {
    val c = freshCatalog()
    c.createVault(v, acct, 30)
    val w = VaultName("ns", "w")
    c.createVault(w, acct, 0)
    // created, never published to: no partition directory
    val empty = VaultName("ns", "empty")
    c.createVault(empty, acct, 5)
    // an old-format file, without digest and window
    val ts0 = new java.sql.Timestamp(0)
    spark.createDataFrame(Seq(("old1", 50L, true, ts0), ("old2", 200L, false, ts0)))
      .toDF("cid", "timestamp", "is_archived", "cache_expiry")
      .write.parquet(s"${c.root}/events/vault=$v")
    // three more events at 200: ties list by cid
    c.appendEvents(Seq(UploadEvent(v, "c200b", 200L, "d", Some(1L)),
      UploadEvent(v, "c200a", 200L, "d", Some(1L)), UploadEvent(v, "c100", 100L),
      UploadEvent(v, "c300", 300L, window = Some(2L)), UploadEvent(w, "w250", 250L)))
    c.appendEvents(Seq(UploadEvent(v, "c200c", 200L), UploadEvent(v, "c400", 400L, "d", Some(3L)),
      UploadEvent(w, "w100", 100L)))
    assert(!Files.exists(Path.of(c.root, "events", s"vault=$empty")))
    // the reference runs over a local copy of the whole-store read
    val events = spark.createDataFrame(c.events.collect().toSeq.asJava, VaultCatalog.EventsSchema)
    assert(events.count() == 10)
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq
    val times = Seq(None, Some(100L), Some(200L), Some(250L))
    val pages = Seq(None, Some(0), Some(2), Some(50))
    for (vault <- Seq(v, w, empty); b <- times; a <- times; at <- Seq(None, Some(200L), Some(250L));
         limit <- pages; offset <- pages)
      assert(rows(c.listEvents(vault, b, a, at, limit, offset)) ==
        rows(reference(events, vault, b, a, at, limit, offset)),
        s"listEvents($vault, before = $b, after = $a, at = $at, limit = $limit, offset = $offset)")
    assert(cids(c.listEvents(v, at = Some(200L))) == Seq("c200a", "c200b", "c200c", "old2"))
  }

  test("snapshots see changes made through another instance") {
    val c = freshCatalog(); seed(c)
    val late = VaultName("ns", "late")
    assert(cids(c.listEvents(v, limit = Some(1))) == Seq("cid5"))
    assert(c.cacheDurationOf(late).isEmpty)
    val writer = VaultCatalog(spark, c.root)
    writer.appendEvents(Seq(UploadEvent(v, "cid6", 600L, window = Some(6L))))
    writer.createVault(late, acct, 7)
    assert(cids(c.listEvents(v, limit = Some(1))) == Seq("cid6"))
    assert(c.cacheDurationOf(late).contains(7))
    assert(c.listVaults(acct).collect().map(_.getString(0)).toSeq == Seq("ns.late", "ns.t"))
  }

  test("a data file rewritten in place after a snapshot fails that vault's listings") {
    val c = freshCatalog(); seed(c)
    val other = VaultName("ns", "other")
    c.appendEvents(Seq(UploadEvent(other, "cidB", 999L)))
    assert(c.listEvents(v).collect().length == 5)
    assert(cids(c.listEvents(other)) == Seq("cidB"))
    FsUtil.listDir(Path.of(c.root, "events", s"vault=$v"))
      .filter(_.toString.endsWith(".parquet")).take(1).foreach(corrupt)
    intercept[Exception] { c.listEvents(v).collect() }
    // a failed refresh leaves nothing to serve: the next call fails too
    intercept[Exception] { c.listEvents(v).collect() }
    assert(cids(c.listEvents(other)) == Seq("cidB"))
  }

  test("in a 40-vault store a listing refresh reads only its own partition, in one job") {
    val c = freshCatalog()
    // 25 one-row files in each of 40 vault partitions, in one write
    spark.range(0, 1000, 1, 25).select(
      concat(lit("c"), format_string("%04d", col("id"))).as("cid"), col("id").as("timestamp"),
      lit(false).as("is_archived"), lit(new java.sql.Timestamp(0)).as("cache_expiry"),
      lit("").as("digest"), lit(null).cast("bigint").as("window"),
      concat(lit("ns.v"), (col("id") % 40).cast("string")).as("vault"))
      .write.partitionBy("vault").parquet(s"${c.root}/events")
    val v7 = VaultName("ns", "v7")
    val (listed, refresh) = WorkCounters.of(spark)(c.listEvents(v7, limit = Some(3)).collect())
    assert(listed.map(_.getLong(1)).toSeq == Seq(967L, 927L, 887L))
    assert((refresh.jobs, refresh.files) == (1, 25L))
    assert(jobs(c.listEvents(v7, after = Some(900L)).collect()) == 0)
    // an append to a current snapshot is folded into it: no refresh
    c.appendEvents(Seq(UploadEvent(v7, "cNew", 2000L)))
    val (after, again) = WorkCounters.of(spark)(c.listEvents(v7, after = Some(900L)).collect())
    assert(after.map(_.getString(0)).toSeq == Seq("cNew", "c0967", "c0927"))
    assert((again.jobs, again.files) == (0, 0L))
  }

  test("a create on an existing store runs no job") {
    val c = freshCatalog()
    c.createVault(v, acct, 30)
    // the vault catalog's snapshot took in this catalog's own create
    assert(jobs(c.createVault(VaultName("ns", "other"), acct, 5)) == 0)
    assert(c.listVaults(acct).collect().map(_.getString(0)).toSeq == Seq("ns.other", "ns.t"))
  }

  test("an append on a current snapshot runs no job") {
    val c = freshCatalog(); seed(c)
    assert(cids(c.listEvents(v, limit = Some(1))) == Seq("cid5"))
    assert(jobs(c.appendEvents(Seq(UploadEvent(v, "c6", 600L, "d6", Some(6L))))) == 0)
    assert(jobs(c.appendEvents(Seq(UploadEvent(v, "c7", 700L)))) == 0)
  }

  test("a read right after this catalog's own append or create runs no job") {
    val c = freshCatalog()
    c.createVault(v, acct, 30)
    val other = VaultName("ns", "other")
    c.createVault(other, acct, 5)
    assert(jobs(c.cacheDurationOf(other)) == 0)
    assert(c.cacheDurationOf(other).contains(5))
    // the first append makes the partition: its snapshot starts empty
    assert(cids(c.listEvents(v)).isEmpty)
    c.appendEvents(Seq(UploadEvent(v, "c1", 100L, "d1", Some(1L))))
    assert(jobs(c.listEvents(v).collect()) == 0)
    c.appendEvents(Seq(UploadEvent(v, "c2", 200L, window = Some(2L))))
    assert(jobs(c.digestOf(v, "c1")) == 0)
    assert(c.digestOf(v, "c1").contains("d1") && c.digestOf(v, "c2").contains(""))
    assert(cids(c.listEvents(v)) == Seq("c2", "c1"))
  }

  test("the whole-log frames on current snapshots run no job") {
    val c = freshCatalog(); seed(c)
    val other = VaultName("ns", "other")
    c.createVault(other, acct, 0)
    c.appendEvents(Seq(UploadEvent(other, "o1", 50L, window = Some(1L))))
    assert(c.listEvents(v).collect().length == 5)
    assert(jobs(c.events.collect()) == 0)
    assert(jobs(c.vaults.collect()) == 0)
    assert(c.events.collect().map(r => (r.getString(6), r.getString(0))).toSeq ==
      Seq(("ns.other", "o1")) ++ (5 to 1 by -1).map(i => ("ns.t", s"cid$i")))
    assert(c.vaults.collect().map(_.getString(0)).toSeq == Seq("ns.other", "ns.t"))
  }

  /** `rows` as value lists, in a fixed order. */
  private def valueSet(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** The footer of a parquet file: its schema, its key-value metadata, its
    * writer, and each column chunk's path, physical type and codec. */
  private def footerShape(file: Path) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), spark.sessionState.newHadoopConf()))
    val footer = try reader.getFooter finally reader.close()
    val meta = footer.getFileMetaData
    (meta.getSchema, meta.getKeyValueMetaData.asScala.toMap, meta.getCreatedBy,
      footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
        (c.getPath.toDotString, c.getPrimitiveType, c.getCodec))))
  }

  test("catalog files read back the writer's rows through a fresh catalog and through Spark") {
    val c = freshCatalog()
    val ts0 = new java.sql.Timestamp(0)
    // an old-format event file and vaults file, and a Spark-written event
    // file of every column
    spark.createDataFrame(Seq(("old1", 50L, true, ts0)))
      .toDF("cid", "timestamp", "is_archived", "cache_expiry")
      .write.parquet(s"${c.root}/events/vault=$v")
    spark.createDataFrame(Seq((v.toString, acct.address, 10)))
      .toDF("vault", "account", "cache_duration").write.parquet(s"${c.root}/vaults")
    spark.createDataFrame(Seq(org.apache.spark.sql.Row("spark1", 60L, false,
      new java.sql.Timestamp(123000L), "ds", 5L, v.toString)).asJava, VaultCatalog.EventsSchema)
      .write.mode("append").partitionBy("vault").parquet(s"${c.root}/events")
    val sparkFiles = FsUtil.listDir(Path.of(c.root, "events", s"vault=$v")).toSet
    // this catalog's files: NULL windows, empty and set digests, expiries
    // of a cached and an uncached vault, and sequenced creates
    val w = VaultName("ns", "w")
    c.createVault(v, acct, 30)
    c.createVault(w, acct, 0)
    c.appendEvents(Seq(UploadEvent(v, "c1", 100L, "d1", Some(1L)), UploadEvent(w, "c2", 200L),
      UploadEvent(v, "c3", 300L)))
    c.appendEvents(Seq(UploadEvent(w, "c4", 400L, "d4", Some(2L))))
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = valueSet(Array(
      Seq("old1", 50L, true, ts0, null, null, v.toString),
      Seq("spark1", 60L, false, new java.sql.Timestamp(123000L), "ds", 5L, v.toString),
      Seq("c1", 100L, false, at(100L + 30 * 60), "d1", 1L, v.toString),
      Seq("c3", 300L, false, at(300L + 30 * 60), "", null, v.toString),
      Seq("c2", 200L, false, ts0, "", null, w.toString),
      Seq("c4", 400L, false, ts0, "d4", 2L, w.toString)).map(org.apache.spark.sql.Row.fromSeq))
    val vaults = valueSet(Array(Seq(v.toString, acct.address, 10, null),
      Seq(v.toString, acct.address, 30, 1L), Seq(w.toString, acct.address, 0, 2L))
      .map(org.apache.spark.sql.Row.fromSeq))
    // the writer serves its own rows from its snapshots, without a job
    assert(jobs(c.events.collect()) == 0 && jobs(c.vaults.collect()) == 0)
    assert(valueSet(c.events.collect()) == events && valueSet(c.vaults.collect()) == vaults)
    // and its files hold exactly those rows
    val fresh = VaultCatalog(spark, c.root)
    assert(valueSet(fresh.events.collect()) == events)
    assert(valueSet(fresh.vaults.collect()) == vaults)
    assert(valueSet(spark.read.schema(VaultCatalog.EventsSchema).parquet(s"${c.root}/events")
      .collect()) == events)
    assert(valueSet(spark.read.schema(VaultCatalog.VaultsSchema).parquet(s"${c.root}/vaults")
      .collect()) == vaults)
    for (vault <- Seq(v, w))
      assert(valueSet(fresh.listEvents(vault).collect()) == valueSet(c.listEvents(vault).collect()))
    // a file this catalog wrote has the footer of Spark's write of the
    // same columns
    val own = FsUtil.listDir(Path.of(c.root, "events", s"vault=$v"))
      .filterNot(sparkFiles).filter(_.getFileName.toString.startsWith("part-"))
    val spark1 = sparkFiles.toSeq.filter(_.getFileName.toString.endsWith(".parquet"))
      .filter(f => spark.read.parquet(f.toString).columns.contains("digest"))
    assert(own.length == 1 && spark1.length == 1)
    assert(own.head.getFileName.toString.endsWith(".snappy.parquet"))
    assert(footerShape(own.head) == footerShape(spark1.head))
  }

  test("a file another catalog appends is not folded in, and the next listing reads it") {
    val c = freshCatalog(); seed(c)
    assert(cids(c.listEvents(v, limit = Some(1))) == Seq("cid5"))
    VaultCatalog(spark, c.root).appendEvents(Seq(UploadEvent(v, "foreign", 600L)))
    // the listing before this catalog's own append no longer equals its
    // snapshot's key, so the append leaves the snapshot stale
    assert(jobs(c.appendEvents(Seq(UploadEvent(v, "own", 700L)))) == 0)
    val (listed, work) = WorkCounters.of(spark)(cids(c.listEvents(v, limit = Some(3))))
    assert(listed == Seq("own", "foreign", "cid5"))
    assert((work.jobs, work.files) == (1, 2L))
    assert(jobs(c.listEvents(v).collect()) == 0)
  }

  test("a failed catalog write throws, leaves no data file, and the snapshot keeps serving") {
    val c = freshCatalog(); seed(c)
    val before = cids(c.listEvents(v))
    val partition = Path.of(c.root, "events", s"vault=$v")
    val names = FsUtil.listDir(partition).map(_.getFileName.toString).toSet
    // a plain file where a vault's partition directory must be: the file
    // cannot be made
    val bad = VaultName("ns", "bad")
    Files.writeString(Path.of(c.root, "events", s"vault=$bad"), "not a directory")
    intercept[java.io.IOException](c.appendEvents(Seq(UploadEvent(bad, "b1", 100L))))
    // an expiry beyond the timestamp range fails inside the temp file
    intercept[ArithmeticException](c.appendEvents(Seq(UploadEvent(v, "huge", 10000000000000L))))
    // neither a data file nor a temp file is left
    assert(FsUtil.listDir(partition).map(_.getFileName.toString).toSet == names)
    val (listed, work) = WorkCounters.of(spark)(cids(c.listEvents(v)))
    assert(listed == before && work.jobs == 0)
  }

  test("a leftover hidden temp file is ignored by listings, events and a Spark read") {
    val c = freshCatalog(); seed(c)
    for (dir <- Seq(Path.of(c.root, "events", s"vault=$v"), Path.of(c.root, "vaults")))
      Files.writeString(dir.resolve(".part-leftover.snappy.parquet.tmp"), "a partial file")
    val fresh = VaultCatalog(spark, c.root)
    assert(cids(fresh.listEvents(v)) == Seq("cid5", "cid4", "cid3", "cid2", "cid1"))
    assert(fresh.events.collect().length == 5 && fresh.vaults.collect().length == 1)
    assert(spark.read.schema(VaultCatalog.EventsSchema).parquet(s"${c.root}/events").count() == 5)
    assert(spark.read.schema(VaultCatalog.VaultsSchema).parquet(s"${c.root}/vaults").count() == 1)
  }

  test("a windowed append that fails after its first vault's file logs each event once on replay") {
    val c = freshCatalog()
    val u = VaultName("ns", "u")
    c.createVault(v, acct, 30)
    c.createVault(u, acct, 30)
    val batch = Seq(UploadEvent(v, "cv", 100L, "dv", Some(1L)),
      UploadEvent(u, "cu", 100L, "du", Some(1L)))
    // a dangling link where u's partition directory must be: it lists as
    // empty, and no directory can be made there
    val link = Path.of(c.root, "events", s"vault=$u")
    Files.createDirectories(link.getParent)
    Files.createSymbolicLink(link, Path.of(c.root, "missing"))
    intercept[java.io.IOException](c.appendEvents(batch))
    assert(cids(c.listEvents(v)) == Seq("cv") && cids(c.listEvents(u)).isEmpty)
    Files.delete(link)
    c.appendEvents(batch)
    val logged = VaultCatalog(spark, c.root).events.select("vault", "cid", "window").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(logged == Seq((v.toString, "cv", 1L), (u.toString, "cu", 1L)))
  }
}
