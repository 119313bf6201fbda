package graft.engine

import graft.{SparkSpec, WorkCounters}
import graft.catalog.UploadEvent
import graft.cdc.{TableColumn, TableSchema}
import graft.core.VaultName
import java.nio.file.{Files, Paths}

/** Vault-content verification (Q3 × C2): the sink records each
  * artifact's ECMH row digest in its catalog event; a reader re-derives
  * it from the retrieved parquet and compares. Order-independent, so any
  * faithful copy verifies; a tampered artifact fails loud. */
class ContentVerifySpec extends SparkSpec {

  private val schemaT = TableSchema("t", Seq(
    TableColumn("id", "integer", nullable = false, isPrimary = true),
    TableColumn("name", "text", nullable = false, isPrimary = false)))

  private def walTx(lsn: Long, rows: (Int, String)*): String = {
    val records = rows.map { case (id, name) =>
      s"""{"action": "I", "xid": 1, "lsn": "0/$lsn", "nextlsn": "",
         |"timestamp": "t", "schema": "public", "table": "t", "columns": [
         |  {"name": "id", "type": "integer", "value": $id},
         |  {"name": "name", "type": "text", "value": "$name"}],
         |"pk": [{"name": "id", "type": "integer"}]}""".stripMargin.replace("\n", " ")
    }.mkString(",")
    s"""{"commit_lsn": $lsn, "records": [$records]}"""
  }

  test("pipeline records digests; retrieveVerified accepts faithful content") {
    val base = Files.createTempDirectory("verify-e2e").toString
    Files.createDirectories(Paths.get(s"$base/wal"))
    Files.writeString(Paths.get(s"$base/wal/a.json"),
      Seq(walTx(1, 1 -> "one", 2 -> "two"), walTx(2, 3 -> "three")).mkString("\n"))
    val store = new LocalContentStore(s"$base/store")
    val catalog = new graft.catalog.VaultCatalog(spark, base)
    val q = StreamPipeline.start(spark, "ns", Seq(schemaT), s"$base/wal",
      s"$base/staging", s"$base/ckpt", store, catalog = Some(catalog),
      availableNow = true)
    q.awaitTermination(120000)

    val events = catalog.events.select("cid", "digest").collect()
    assert(events.nonEmpty)
    events.foreach { e =>
      val cid = e.getString(0); val digest = e.getString(1)
      assert(digest != null && digest.length == 64, s"digest recorded for $cid")
      // faithful retrieval verifies (digest is row-content based, so the
      // reader's row order/partitioning is irrelevant)
      val r = new Retriever(store)
      val df = r.retrieveVerified(spark, cid, digest, schemaT.columns.map(_.name))
      assert(df.isDefined && df.get.count() > 0)
    }

    // the CLI verb wraps the same check: catalog lookup → verified read
    val cli = new graft.cli.Vaults(spark, base)
    events.foreach { e =>
      assert(cli.verifyArtifact("ns.t", e.getString(0), schemaT) == Some(true))
    }
    assert(cli.verifyArtifact("ns.t", "no-such-cid", schemaT).isEmpty)

    // the lookup reads the vault's own log: another vault's cid is unknown
    // here, and this vault's cids are unknown there
    catalog.appendEvents(Seq(UploadEvent(VaultName("ns", "other"), "cid-other", 5L, "00" * 32),
      UploadEvent(VaultName("ns", "t"), "cid-undigested", 6L)))
    assert(cli.verifyArtifact("ns.t", "cid-other", schemaT).isEmpty)
    assert(cli.verifyArtifact("ns.other", events.head.getString(0), schemaT).isEmpty)
    assert(cli.verifyArtifact("ns.t", "cid-undigested", schemaT) == Some(false))

    // on a current snapshot the lookup runs no Spark job and reads no file
    for (cid <- Seq("cid-undigested", "cid-other", "no-such-cid")) {
      val (_, work) = WorkCounters.of(spark)(cli.verifyArtifact("ns.t", cid, schemaT))
      assert((work.jobs, work.files) == (0, 0L), s"$cid: $work")
    }
  }

  test("tampered artifact fails verification loudly") {
    val base = Files.createTempDirectory("verify-tamper").toString
    Files.createDirectories(Paths.get(s"$base/wal"))
    Files.writeString(Paths.get(s"$base/wal/a.json"), walTx(1, 1 -> "one"))
    val store = new LocalContentStore(s"$base/store")
    val catalog = new graft.catalog.VaultCatalog(spark, base)
    val q = StreamPipeline.start(spark, "ns", Seq(schemaT), s"$base/wal",
      s"$base/staging", s"$base/ckpt", store, catalog = Some(catalog),
      availableNow = true)
    q.awaitTermination(120000)

    val e = catalog.events.select("cid", "digest").collect().head
    val cid = e.getString(0); val digest = e.getString(1)
    val r = new Retriever(store)
    // tamper: rewrite the stored artifact with a modified row
    val artifact = store.get(cid).get
    import spark.implicits._
    val tampered = Seq((1, "EVIL")).toDF("id", "name")
    val tmp = Files.createTempDirectory("tamper").resolve("t.parquet")
    tampered.coalesce(1).write.parquet(tmp.toString)
    val part = graft.core.FsUtil.listDir(tmp)
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, artifact, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val ex = intercept[IllegalStateException] {
      r.retrieveVerified(spark, cid, digest, schemaT.columns.map(_.name))
    }
    assert(ex.getMessage.contains("digest mismatch"))
    // the CLI verb fails as loudly
    val cliEx = intercept[IllegalStateException] {
      new graft.cli.Vaults(spark, base).verifyArtifact("ns.t", cid, schemaT)
    }
    assert(cliEx.getMessage.contains("digest mismatch"))
  }
}
