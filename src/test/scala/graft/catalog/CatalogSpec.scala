package graft.catalog

import graft.SparkSpec
import graft.core.{Account, VaultName}
import java.nio.file.Files

/** Q1/Q2/M1 catalog semantics: filters, flag mapping, ordering
  * (cmd/vaults/commands.go:427-586, :787-803, :524-549). */
class CatalogSpec extends SparkSpec {

  private def freshCatalog(): VaultCatalog =
    VaultCatalog(spark, Files.createTempDirectory("catalog").toString)

  private val acct = Account("0x396F15b0A2be942193BBBdC11BE3bF6F6EB1a08a")
  private val v = VaultName("ns", "t")

  private def seed(c: VaultCatalog): Unit = {
    c.createVault(v, acct, 30)
    for (i <- 1 to 5)
      c.appendEvent(v, s"cid$i", i * 100L, isArchived = false, new java.sql.Timestamp(0))
  }

  private def cids(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.getAs[String]("cid")).toSeq

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
    c.appendEvent(other, "cidX", 999L, isArchived = false, new java.sql.Timestamp(0))
    assert(!cids(c.listEvents(v)).contains("cidX"))
    assert(cids(c.listEvents(other)) == Seq("cidX"))
    val vaults = c.listVaults(acct).collect().map(_.getString(0)).toSet
    assert(vaults == Set("ns.t", "ns.other"))
    val nobody = Account("0x0000000000000000000000000000000000000001")
    assert(c.listVaults(nobody).isEmpty)
  }

  test("appendEvent ifAbsent: replay-safe dedupe on (vault, cid); default keeps re-upload events") {
    val c = freshCatalog(); c.createVault(v, acct, 30)
    // first append through the replay-safe path works on an empty catalog
    c.appendEvent(v, "cidA", 100L, isArchived = false,
      new java.sql.Timestamp(0), ifAbsent = true)
    // a crash-replayed window re-derives the same content cid: no-op
    c.appendEvent(v, "cidA", 150L, isArchived = false,
      new java.sql.Timestamp(0), ifAbsent = true)
    assert(cids(c.listEvents(v)) == Seq("cidA"))
    // dedupe is per-vault: the same cid in another vault still appends
    val other = VaultName("ns", "other2")
    c.createVault(other, acct, 0)
    c.appendEvent(other, "cidA", 200L, isArchived = false,
      new java.sql.Timestamp(0), ifAbsent = true)
    assert(cids(c.listEvents(other)) == Seq("cidA"))
    // the DEFAULT (append-always) listing semantic is unchanged — a
    // deliberate re-upload of identical content IS an event
    // (CompactorSpec's 'cid repeats in the log' contract)
    c.appendEvent(v, "cidA", 300L, isArchived = false, new java.sql.Timestamp(0))
    assert(cids(c.listEvents(v)) == Seq("cidA", "cidA"))
  }

  test("appendEvent ifAbsent with a window token dedupes only true replays") {
    val c = freshCatalog(); c.createVault(v, acct, 30)
    // window 1 publishes; its crash-replay (same cid, SAME window) no-ops
    c.appendEvent(v, "cidW", 100L, isArchived = false,
      new java.sql.Timestamp(0), ifAbsent = true, window = 1L)
    c.appendEvent(v, "cidW", 100L, isArchived = false,
      new java.sql.Timestamp(0), ifAbsent = true, window = 1L)
    assert(cids(c.listEvents(v)) == Seq("cidW"))
    // a LATER window legitimately emitting byte-identical content (same
    // cid, different window) is a distinct event: appended with its own
    // timestamp, not silently dropped (advisor r13)
    c.appendEvent(v, "cidW", 200L, isArchived = false,
      new java.sql.Timestamp(0), ifAbsent = true, window = 2L)
    assert(cids(c.listEvents(v)) == Seq("cidW", "cidW"))
    val ts = c.listEvents(v).collect().map(r =>
      r.getLong(r.fieldIndex("timestamp"))).sorted
    assert(ts.toSeq == Seq(100L, 200L))
    // and window 2's own replay still no-ops
    c.appendEvent(v, "cidW", 200L, isArchived = false,
      new java.sql.Timestamp(0), ifAbsent = true, window = 2L)
    assert(cids(c.listEvents(v)) == Seq("cidW", "cidW"))
  }

  test("events read failures: empty catalog maps to empty, corruption propagates") {
    // missing events dir (fresh catalog, nothing appended): empty listing
    val c = freshCatalog(); c.createVault(v, acct, 30)
    assert(c.listEvents(v).count() == 0)
    // a CORRUPT events store must THROW, not read as empty — a swallowed
    // read failure would let ifAbsent dedupe silently append a duplicate
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
      cc.appendEvent(v, "cidX", 100L, isArchived = false,
        new java.sql.Timestamp(0), ifAbsent = true, window = 1L)
    }
    // a CORRUPT vaults store must throw too: read as empty, it would list
    // no vaults and the next create would restart created_seq at 1.
    // Every data file is clobbered, so schema inference itself fails.
    val vroot = Files.createTempDirectory("catalog_corrupt_vaults")
    val cv = VaultCatalog(spark, vroot.toString)
    cv.createVault(v, acct, 30)
    Files.list(vroot.resolve("vaults")).toArray(n => new Array[java.nio.file.Path](n))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(Files.write(_, "this is not a parquet file".getBytes("UTF-8")))
    intercept[Exception] { cv.listVaults(acct).count() }
    intercept[Exception] { cv.createVault(VaultName("ns", "u"), acct, 30) }
  }
}
