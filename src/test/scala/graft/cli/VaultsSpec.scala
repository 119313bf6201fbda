package graft.cli

import graft.SparkSpec
import graft.cdc.{TableColumn, TableSchema}
import java.nio.file.Files

/** CLI-surface spec: create/list/events/write/retrieve/account/sign over
  * a local provider dir — the reference's command set end to end. */
class VaultsSpec extends SparkSpec {

  private val acct = "0x396F15b0A2be942193BBBdC11BE3bF6F6EB1a08a"

  test("create + list + write + events + retrieve round trip") {
    val root = Files.createTempDirectory("vaults-cli").toString
    val v = new Vaults(spark, root, OutputFormat.Json)
    v.create("ns.t", acct, cacheDurationMins = 30)
    assert(v.list(acct).contains("ns.t"))

    // write an actual parquet file
    import spark.implicits._
    val f = s"$root/input.parquet"
    Seq((1, "a"), (2, "b")).toDF("id", "name").coalesce(1).write.parquet(f)
    val part = Files.list(java.nio.file.Paths.get(f))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val cid = v.write("ns.t", part.toString, timestamp = Some("2023-01-02"))
    assert(cid.nonEmpty)

    val ev = v.events("ns.t")
    assert(ev.contains(cid))
    // at/latest filters behave like the reference's flag mapping
    assert(v.events("ns.t", latest = Some(1)).contains(cid))
    assert(!v.events("ns.t", before = Some(0L)).contains(cid))

    val out = s"$root/retrieved.parquet"
    assert(v.retrieve(cid, out))
    val back = spark.read.parquet(out).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(back == Set(1 -> "a", 2 -> "b"))
    assert(!v.retrieve("nonexistent-cid", s"$root/x"))
  }

  test("cache_expiry = upload ts + vault cache_duration (provider semantics)") {
    import spark.implicits._
    val root = Files.createTempDirectory("vaults-cache").toString
    val catalog = graft.catalog.VaultCatalog(spark, s"$root/catalog")
    val vn = graft.core.VaultName("ns", "c")
    catalog.createVault(vn, graft.core.Account(acct), cacheDurationMins = 30)
    assert(catalog.cacheDurationOf(vn).contains(30))

    val f = s"$root/in.parquet"
    Seq((1, "a")).toDF("id", "name").coalesce(1).write.parquet(f)
    val part = Files.list(java.nio.file.Paths.get(f))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    val store = new graft.engine.LocalContentStore(s"$root/store")
    graft.engine.BatchWrite.write(spark, vn, part, store,
      catalog = Some(catalog), timestamp = Some("1700000000"))
    val ev = catalog.listEvents(vn).collect()(0)
    assert(ev.getAs[Long]("timestamp") == 1700000000L)
    assert(ev.getAs[java.sql.Timestamp]("cache_expiry").getTime ==
      (1700000000L + 30 * 60) * 1000L)
    // vault with no configured duration → epoch 0 (never cached)
    val other = graft.core.VaultName("ns", "nocache")
    catalog.appendEvents(Seq(graft.catalog.UploadEvent(other, "cidU", 1700000000L)))
    assert(catalog.listEvents(other).collect()(0)
      .getAs[java.sql.Timestamp]("cache_expiry").getTime == 0L)

    // re-created vault: the LATEST create wins deterministically
    // (created_seq ordering, not parquet file enumeration order)
    catalog.createVault(vn, graft.core.Account(acct), cacheDurationMins = 45)
    assert(catalog.cacheDurationOf(vn).contains(45))
    catalog.createVault(vn, graft.core.Account(acct), cacheDurationMins = 15)
    assert(catalog.cacheDurationOf(vn).contains(15))
  }

  test("compact verb consolidates a vault's uploads") {
    import spark.implicits._
    val root = Files.createTempDirectory("vaults-compact").toString
    val v = new Vaults(spark, root, OutputFormat.Json)
    v.create("ns.t", acct)
    (1 to 2).foreach { w =>
      val f = s"$root/in$w.parquet"
      Seq((w, s"row$w")).toDF("id", "name").coalesce(1).write.parquet(f)
      val part = graft.core.FsUtil.listDir(java.nio.file.Paths.get(f))
        .find(_.toString.endsWith(".parquet")).get
      v.write("ns.t", part.toString, timestamp = Some((1700000000L + w).toString))
    }
    val cid = v.compact("ns.t")
    assert(cid.isDefined)
    assert(v.events("ns.t").contains(cid.get))
  }

  test("invalid vault name / account rejected (commands.go:32)") {
    val root = Files.createTempDirectory("vaults-cli2").toString
    val v = new Vaults(spark, root)
    intercept[IllegalArgumentException](v.create("bad name", acct))
    intercept[IllegalArgumentException](v.create("ns.t", "not-an-address"))
  }

  test("account create/address + sign file (C1/C3)") {
    val root = Files.createTempDirectory("vaults-cli3").toString
    val v = new Vaults(spark, root)
    val kf = s"$root/key.hex"
    val addr = v.accountCreate(kf)
    assert(addr == v.accountAddress(kf))
    val data = s"$root/data.bin"
    Files.write(java.nio.file.Paths.get(data), "data to be signed".getBytes)
    assert(v.sign(kf, data).length == 130) // 65 bytes hex
  }

  test("stream command wires the full pipeline (signed uploads + events)") {
    val root = Files.createTempDirectory("vaults-cli4").toString
    val v = new Vaults(spark, root, OutputFormat.Json)
    v.create("ns.t", acct)
    val wal = s"$root/wal"; Files.createDirectories(java.nio.file.Paths.get(wal))
    Files.writeString(java.nio.file.Paths.get(wal, "tx1.json"),
      """{"commit_lsn": 1, "records": [{"action": "I", "xid": 1, "lsn": "0/1",
        |"nextlsn": "", "timestamp": "t", "schema": "public", "table": "t",
        |"columns": [{"name": "id", "type": "integer", "value": 7},
        |            {"name": "name", "type": "text", "value": "x"}],
        |"pk": []}]}""".stripMargin.replace("\n", " "))
    val schema = TableSchema("t", Seq(
      TableColumn("id", "integer", false, true), TableColumn("name", "text", true, false)))
    val key = "59c6995e998f97a5a0044966f0945389dc9e86dae88c7a8412f4603b6b78690d"
    val q = v.stream("ns.t", Seq(schema), wal, s"$root/work",
      keyHex = Some(key), availableNow = true)
    q.awaitTermination(120000)
    val ev = v.events("ns.t")
    assert(ev.contains("cid"), s"no event recorded: $ev")
  }
}
