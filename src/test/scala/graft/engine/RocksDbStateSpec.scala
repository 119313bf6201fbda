package graft.engine

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Both stateful streaming operators (TxAssembler's
  * flatMapGroupsWithState and watermark dedup) under the RocksDB state
  * store provider — the disk-backed backend that removes the executor-
  * heap ceiling on streaming state. Outputs must equal the default
  * provider's, and the progress metrics must show RocksDB actually
  * engaged (a silently-ignored conf would pass the output check). */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val Default = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Run `f` (define + start + drain a streaming query: the provider is
    * read at query start) with the given state store provider, and
    * changelog checkpointing under RocksDB; both confs are restored
    * after. */
  private def withProvider[T](provider: String)(f: => T): T = {
    val prev = Seq(ProviderConf, ChangelogConf).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(ProviderConf, provider)
    if (provider == RocksDb) spark.conf.set(ChangelogConf, "true")
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rec(action: String, xid: Long, lsn: String, id: Int = 0): String =
    s"""{"action": "$action", "xid": $xid, "lsn": "$lsn", "nextlsn": "",
       |"timestamp": "t", "schema": "public", "table": "t",
       |"columns": [{"name": "id", "type": "integer", "value": $id}],
       |"pk": []}""".stripMargin.replace("\n", " ")

  test("TxAssembler under RocksDB: same output as default provider") {
    def run(provider: String, tag: String): (Seq[(Long, Long, Seq[String])], String) =
      withProvider(provider) {
        val base = Files.createTempDirectory(s"txasm-$tag").toString
        val in = s"$base/in"; Files.createDirectories(Paths.get(in))
        Files.writeString(Paths.get(in, "a.json"), Seq(
          rec("B", 10, "0/10"), rec("B", 20, "0/20"),
          rec("I", 10, "0/11", id = 1), rec("I", 20, "0/21", id = 2),
          rec("I", 10, "0/12", id = 3), rec("C", 10, "0/1F"),
          rec("C", 20, "0/2F")).mkString("\n"))
        val txs = graft.cdc.TxAssembler.assembleLines(spark.readStream.text(in))
        val q = txs.writeStream.outputMode("append").format("memory")
          .queryName(s"rocks_txasm_$tag").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$base/ckpt").start()
        q.awaitTermination(120000)
        val progress = q.recentProgress.map(_.json).mkString
        val out = spark.table(s"rocks_txasm_$tag").collect()
          .map(r => (r.getAs[Long]("commit_lsn"), r.getAs[Long]("xid"),
            r.getAs[Seq[org.apache.spark.sql.Row]]("records").map(_.getAs[String]("lsn"))))
          .sortBy(_._2).toSeq
        (out, progress)
      }

    val (rocksOut, rocksProgress) = run(RocksDb, "rocks")
    val (defaultOut, _) = run(Default, "dflt")
    assert(rocksOut == defaultOut)
    assert(rocksOut.map(t => (t._1, t._2)) == Seq((0x1FL, 10L), (0x2FL, 20L)))
    assert(rocksProgress.toLowerCase.contains("rocksdb"),
      "state operator metrics should show the RocksDB provider engaged")
  }

  test("streaming watermark dedup under RocksDB: cross-batch dups suppressed") {
    withProvider(RocksDb) {
      val base = Files.createTempDirectory("rocksdedup").toString
      val in = s"$base/in"; Files.createDirectories(Paths.get(in))
      def write(rows: Seq[(Long, String, String)]): Unit =
        rows.map { case (id, ts, txt) => (id, java.sql.Timestamp.valueOf(ts), txt) }
          .toDF("doc_id", "ts", "text").write.mode("append").parquet(in)
      write(Seq((1L, "2024-01-01 00:00:00", "same text"),
                (2L, "2024-01-01 00:01:00", "same text"),
                (3L, "2024-01-01 00:02:00", "other text")))
      val schema = spark.read.parquet(in).schema
      def run(): Unit = {
        val q = spark.readStream.schema(schema).parquet(in)
          .withColumn("fp", md5(trim(lower(col("text")))))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("fp")
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000); ()
      }
      run()
      write(Seq((4L, "2024-01-01 00:03:00", "same text"))) // cross-batch dup
      run()
      val ids = spark.read.parquet(s"$base/out").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 3L), s"got $ids")
      // RocksDB instances left local working dirs (proof of engagement)
      assert(spark.conf.get(ProviderConf) == RocksDb)
    }
    // scope restored
    assert(spark.conf.getOption(ProviderConf).forall(_ != RocksDb))
  }
}
