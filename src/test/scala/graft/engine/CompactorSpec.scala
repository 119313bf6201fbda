package graft.engine

import graft.SparkSpec
import graft.core.VaultName
import java.nio.file.Files

/** Vault compaction: N window artifacts → one consolidated artifact,
  * event appended, inputs dropped from the hot store. */
class CompactorSpec extends SparkSpec {
  import spark.implicits._

  test("compacts window artifacts, preserves rows, drops inputs") {
    val base = Files.createTempDirectory("compact").toString
    val store = new LocalContentStore(s"$base/store")
    val catalog = graft.catalog.VaultCatalog(spark, s"$base/catalog")
    val vault = VaultName("ns", "t")

    // three window artifacts via the batch write path
    val cids = (1 to 3).map { w =>
      val f = s"$base/in$w.parquet"
      Seq((w * 10, s"w$w-a"), (w * 10 + 1, s"w$w-b")).toDF("id", "name")
        .coalesce(1).write.parquet(f)
      val part = graft.core.FsUtil.listDir(java.nio.file.Paths.get(f))
        .find(_.toString.endsWith(".parquet")).get
      BatchWrite.write(spark, vault, part, store, catalog = Some(catalog),
        timestamp = Some((1700000000L + w).toString))
    }
    assert(catalog.listEvents(vault).count() == 3)

    val newCid = Compactor.compact(spark, vault, store, catalog,
      stagingDir = s"$base/staging", clock = () => 1700009999L)
    assert(newCid.isDefined)

    // consolidated artifact holds every row of every window
    val artifact = store.get(newCid.get)
    assert(artifact.isDefined && Files.isDirectory(artifact.get))
    val back = spark.read.parquet(artifact.get.toString)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(back == (1 to 3).flatMap(w =>
      Seq(w * 10 -> s"w$w-a", (w * 10 + 1) -> s"w$w-b")).toSet)

    // inputs dropped from the hot store; event log keeps full history
    cids.foreach(c => assert(store.get(c).isEmpty, s"input $c not dropped"))
    val evs = catalog.listEvents(vault).collect()
    assert(evs.length == 4)
    assert(evs.head.getAs[String]("cid") == newCid.get) // newest-first
    assert(evs.head.getAs[Long]("timestamp") == 1700009999L)

    // nothing left to compact (single artifact < minInputs)
    assert(Compactor.compact(spark, vault, store, catalog, s"$base/staging2").isEmpty)
  }

  test("a cid repeated in the event log does not double its rows") {
    val base = Files.createTempDirectory("compact-dup").toString
    val store = new LocalContentStore(s"$base/store")
    val catalog = graft.catalog.VaultCatalog(spark, s"$base/catalog")
    val vault = VaultName("ns", "d")

    val cids = (1 to 2).map { w =>
      val f = s"$base/in$w.parquet"
      Seq((w, s"w$w")).toDF("id", "name").coalesce(1).write.parquet(f)
      val part = graft.core.FsUtil.listDir(java.nio.file.Paths.get(f))
        .find(_.toString.endsWith(".parquet")).get
      BatchWrite.write(spark, vault, part, store, catalog = Some(catalog),
        timestamp = Some((1700000000L + w).toString))
    }
    // same content re-uploaded: content-addressed cid repeats in the log
    catalog.appendEvents(Seq(graft.catalog.UploadEvent(vault, cids.head, 1700000100L)))
    assert(catalog.listEvents(vault).count() == 3)

    val newCid = Compactor.compact(spark, vault, store, catalog,
      stagingDir = s"$base/staging", clock = () => 1700009999L)
    val back = spark.read.parquet(store.get(newCid.get).get.toString)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
    assert(back == Seq(1 -> "w1", 2 -> "w2")) // each row exactly once
  }
}
