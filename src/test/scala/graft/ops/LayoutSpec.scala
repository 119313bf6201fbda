package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** File-skipping layout: z-ordered files + min/max stats index prune
  * range scans on EITHER clustered dimension; results stay exact. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def grid = (for { x <- 0L until 64L; y <- 0L until 64L }
    yield (x, y, x * 64 + y)).toDF("x", "y", "payload").repartition(11)

  test("z-ordered layout prunes range scans on both dimensions") {
    val dir = Files.createTempDirectory("layout-z").toString + "/data"
    Layout.zorderWrite(grid, "x", "y", dir, nFiles = 16)
    val idx = Layout.statsIndex(spark, dir, Seq("x", "y")).cache()

    // y-range scan: only the tiles intersecting y∈[0,7] are read
    val (dfY, readY, totalY) = Layout.prunedRead(spark, dir, idx, "y", 0L, 7L)
    assert(totalY == 16)
    assert(readY <= totalY / 2, s"y-pruning read $readY of $totalY files")
    // exactness: pruned result == full-scan filter
    val expectY = grid.where(col("y").between(0, 7)).agg(sum("payload")).head().getLong(0)
    assert(dfY.agg(sum("payload")).head().getLong(0) == expectY)
    assert(dfY.count() == 64 * 8)

    // x-range scan prunes too (same layout, other dimension)
    val (dfX, readX, _) = Layout.prunedRead(spark, dir, idx, "x", 56L, 63L)
    assert(readX <= 8, s"x-pruning read $readX of 16 files")
    assert(dfX.count() == 8 * 64)
  }

  test("single-column sort cannot prune the other dimension") {
    val dir = Files.createTempDirectory("layout-x").toString + "/data"
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(dir)
    val idx = Layout.statsIndex(spark, dir, Seq("x", "y"))
    val (_, readY, totalY) = Layout.prunedRead(spark, dir, idx, "y", 0L, 7L)
    assert(totalY == 16)
    // every x-sorted file spans the full y domain → nothing prunes
    assert(readY == totalY, s"x-sorted layout unexpectedly pruned to $readY")
  }

  test("incremental index maintenance equals a full rebuild") {
    val base = Files.createTempDirectory("layout-inc").toString
    val dir = s"$base/data"
    grid.where(col("x") < 32).write.parquet(dir)
    val idx0 = Layout.statsIndex(spark, dir, Seq("x", "y")).cache()
    idx0.count()

    // ingest a new window of files
    grid.where(col("x") >= 32).write.mode("append").parquet(dir)
    val inc = Layout.statsIndexIncremental(spark, dir, idx0, Seq("x", "y"))
    val full = Layout.statsIndex(spark, dir, Seq("x", "y")).cache()
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("file").collect().map(_.toSeq).toSeq
    assert(norm(inc) == norm(full) && norm(full).nonEmpty)

    // deleted files drop out of the incremental index (prior still has
    // the victim row; `full` was materialized before the delete)
    val victim = full.select("file").collect().head.getString(0)
    Files.delete(java.nio.file.Paths.get(new java.net.URI(victim)))
    val afterDelete = Layout.statsIndexIncremental(spark, dir, full, Seq("x", "y"))
    assert(!afterDelete.select("file").collect().map(_.getString(0)).contains(victim))
  }

  test("disjoint range reads zero files and returns empty") {
    val dir = Files.createTempDirectory("layout-e").toString + "/data"
    Layout.zorderWrite(grid, "x", "y", dir, nFiles = 4)
    val idx = Layout.statsIndex(spark, dir, Seq("x", "y"))
    val (df, read, _) = Layout.prunedRead(spark, dir, idx, "x", 1000L, 2000L)
    assert(read == 0 && df.count() == 0)
  }

  test("autoCells encodes the measured sizing rule (cells grow with the corpus)") {
    // bench-scale corpora stay at the established 64-cell config …
    assert(Similarity.autoCells(500) == 64)
    assert(Similarity.autoCells(200000) == 64)
    // … the measured 2M-vector point sizes to ~the 256-cell config that
    // served 9.6 s vs fixed-64's 17.6 s (SCALING.md r11) …
    val at2M = Similarity.autoCells(2000000L)
    assert(at2M == 245, s"2M/8192 rounded up, got $at2M")
    // … growth is linear in the corpus until the single-level cap
    assert(Similarity.autoCells(20000000L) == 2442)
    assert(Similarity.autoCells(1000000000L) == 4096) // capped
    // and the probed FRACTION shrinks as the corpus grows (the property
    // the rule exists for): nProbe/nCells at 32 probes
    assert(32.0 / Similarity.autoCells(2000000L) < 32.0 / 64)
    // auto is the ivfIndex default: a 500-row corpus trains 64 seeds max
    // (seed set is limit(nCells) of the corpus — 500 here), and explicit
    // nCells still pins
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (_, cents) = Similarity.ivfIndex(emb, lloydIters = 1)
    assert(cents.length == math.min(64, emb.count()).toInt)
  }

  test("IVF cell layout: probes become partition pruning (nProbe/nCells files touched)") {
    val dir = Files.createTempDirectory("layout-ivf").toString + "/ivf"
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val nCells = 16
    val (indexed, centroids) = Similarity.ivfIndex(emb, nCells = nCells, lloydIters = 2)
    Layout.ivfWrite(indexed, centroids, dir)

    // sidecar round-trips the quantizer exactly
    val back = Layout.readIvfCentroids(spark, dir)
    assert(back.map(_._1).toSeq == centroids.map(_._1).toSeq)
    assert(back.map(_._2.toSeq).toSeq == centroids.map(_._2.toSeq).toSeq)

    // one file per cell (writer repartitions on cell), nCells total
    val filesTotal = spark.read.parquet(dir).inputFiles.length
    assert(filesTotal == nCells, s"expected one file per cell, got $filesTotal")

    val queries = emb.where(col("vec_id") < 3)
    val nProbe = 2
    val result = Layout.ivfTopKFromLayout(spark, dir, queries, k = 5, nProbe = nProbe)
    val rows = result.collect()
    assert(rows.length == 3 * 5)

    // files actually read = distinct probed cells ≤ nQueries × nProbe —
    // the partition filter, not the stats index, did the skipping
    val scanned = org.apache.spark.sql.graftbridge.Bridge.scannedFileCounts(result)
    assert(scanned.nonEmpty)
    assert(scanned.max <= 3L * nProbe,
      s"scan touched ${scanned.max} of $filesTotal files; probes must prune partitions")
    assert(scanned.max < filesTotal)
    // the physical plan carries the cell partition filter
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition filter in plan:\n$plan")

    // parity: identical results to the in-memory ivfTopK on the same index
    val direct = Similarity.ivfTopK(indexed, centroids, queries, k = 5, nProbe = nProbe)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val fromLayout = rows
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(fromLayout == direct)
  }

  // The FileScan node's `PartitionFilters: [...]` / `PushedFilters: [...]`
  // lists (up to the first `]`, which closes an `In(col, [...])` value
  // list at the latest)
  private def scanFilters(plan: String, kind: String): Seq[String] =
    s"$kind: \\[([^\\]]*)".r.findAllMatchIn(plan).map(_.group(1)).toSeq

  // The one IMI on-disk shape, at every k: cell1 directories pruned at
  // the listing, the EXACT probed `pair` set pushed to the pair-sorted
  // row-group stats
  private def assertImiPruned(plan: String): Unit = {
    assert(scanFilters(plan, "PartitionFilters").exists(_.contains("cell1")),
      s"no cell1 partition filter in plan:\n$plan")
    assert(scanFilters(plan, "PushedFilters").exists(_.contains("pair")),
      s"no exact pair pushed filter in plan:\n$plan")
  }
  private def sortedHits(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq

  test("IMI layout: two-level pruning (cell1 partitions, cell2 row groups), parity with in-memory") {
    val dir = Files.createTempDirectory("layout-imi").toString + "/imi"
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (indexed, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    // ONE query, nProbe = 3: at most 3 of the 4 cell1 dirs are probed,
    // so pruning is guaranteed visible
    val queries = emb.where(col("vec_id") === 0)

    Layout.imiWrite(indexed, cents, dir)
    // sidecars round-trip both codebooks exactly
    val (b1, b2) = Layout.readImiCentroids(spark, dir)
    assert(b1.map(_._1).toSeq == cents._1.map(_._1).toSeq &&
      b1.map(_._2.toSeq).toSeq == cents._1.map(_._2.toSeq).toSeq)
    assert(b2.map(_._1).toSeq == cents._2.map(_._1).toSeq &&
      b2.map(_._2.toSeq).toSeq == cents._2.map(_._2.toSeq).toSeq)
    // one file per cell1 directory, never one per pair
    val filesTotal = spark.read.parquet(s"$dir/data").inputFiles
    assert(filesTotal.length <= cents._1.length && filesTotal.forall(_.contains("/cell1=")),
      s"expected <= k1 cell1 files, got ${filesTotal.toSeq}")
    val result = Layout.imiTopKFromLayout(spark, dir, queries, k = 5, nProbe = 3)
    val rows = sortedHits(result)
    assert(rows.nonEmpty)
    assertImiPruned(result.queryExecution.executedPlan.toString)
    val scanned = org.apache.spark.sql.graftbridge.Bridge.scannedFileCounts(result)
    assert(scanned.nonEmpty && scanned.max < filesTotal.length,
      s"scan touched ${scanned.max} of ${filesTotal.length} files; probes must prune partitions")
    assert(rows == sortedHits(Similarity.imiTopK(indexed, cents, queries, k = 5, nProbe = 3)))
  }

  test("IMI deep-cell regime: cell1 partitions + EXACT fused-pair row-group pruning") {
    // the shape a big pair space (k = 4096 per half) needs is the one
    // the writers produce at every k, so k = 4 exercises it; here under
    // the composed IMI+PQ layout
    val dir = Files.createTempDirectory("layout-imi-deep").toString + "/imipq"
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (indexed, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    val books = Similarity.pqTrain(emb)
    val queries = emb.where(col("vec_id") === 0)

    Layout.imiPqWrite(indexed, cents, books, dir)
    assert(spark.read.parquet(s"$dir/codes").inputFiles.length <= cents._1.length)
    val served = Layout.imiPqTopKFromLayout(spark, dir, queries, k = 5, nProbe = 3)
    assertImiPruned(served.queryExecution.executedPlan.toString)
    assert(sortedHits(served) ==
      sortedHits(Similarity.imiPqTopK(indexed, cents, books, queries, k = 5, nProbe = 3)))
  }

  test("IVF+PQ layout: ADC served off packed codes, partition-pruned, parity with in-memory") {
    val dir = Files.createTempDirectory("layout-ivfpq").toString + "/ivfpq"
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val nCells = 16
    val (indexed, centroids) = Similarity.ivfIndex(emb, nCells = nCells, lloydIters = 2)
    val books = Similarity.pqTrain(emb)
    Layout.pqWrite(indexed, centroids, books, dir)

    // both sidecars round-trip exactly
    val cb = Layout.readIvfCentroids(spark, dir)
    assert(cb.map(_._1).toSeq == centroids.map(_._1).toSeq)
    assert(cb.map(_._2.toSeq).toSeq == centroids.map(_._2.toSeq).toSeq)
    val bb = Layout.readPqBooks(spark, dir)
    assert(bb.length == books.length)
    for (s <- books.indices) {
      assert(bb(s).map(_._1).toSeq == books(s).map(_._1).toSeq)
      assert(bb(s).map(_._2.toSeq).toSeq == books(s).map(_._2.toSeq).toSeq)
    }

    // the persisted index rows are 8-byte packed words, one file per cell
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.schema("packed").dataType.typeName == "long")
    assert(codes.inputFiles.length == nCells)

    val queries = emb.where(col("vec_id") < 3)
    val nProbe = 2
    val result = Layout.ivfPqTopKFromLayout(spark, dir, queries,
      k = 5, nProbe = nProbe)
    val rows = result.collect()
    assert(rows.length == 3 * 5)

    // the codes scan is partition-pruned to the probed cells
    val scanned = org.apache.spark.sql.graftbridge.Bridge.scannedFileCounts(result)
    assert(scanned.nonEmpty)
    assert(scanned.max <= 3L * nProbe,
      s"a scan touched ${scanned.max} files (> ${3 * nProbe}); probes must prune the codes partitions")
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition filter in plan:\n$plan")

    // parity: identical (query, rank, neighbor, sim) to the in-memory
    // composed index on the same quantizer + codebooks
    val direct = Similarity.ivfPqTopK(indexed, centroids, books, queries,
        k = 5, nProbe = nProbe)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val fromLayout = rows
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(fromLayout == direct)

    // r13: the shortlist re-rank reads raw vectors from the SAME
    // cell-pruned layout files, and columnar pruning keeps the ADC
    // stage narrow: among the layout scans, at least one must NOT read
    // the vector column (the 8-byte ADC scan) and one must (the pruned
    // re-rank fetch)
    val reads = org.apache.spark.sql.graftbridge.Bridge.scanReads(result)
      .filter(_._1.exists(_.contains("/codes")))
    assert(reads.exists(!_._2.contains("embedding")),
      s"ADC scan reads the vector column (width regression): $reads")
    assert(reads.exists(_._2.contains("embedding")),
      s"no layout scan reads vectors — re-rank source missing: $reads")
  }

  test("IMI+PQ layout: ADC served off the two-level pruned codes, parity with in-memory") {
    val dir = Files.createTempDirectory("layout-imipq").toString + "/imipq"
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (indexed, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    val books = Similarity.pqTrain(emb)
    Layout.imiPqWrite(indexed, cents, books, dir)

    // all three sidecars round-trip exactly
    val (b1, b2) = Layout.readImiCentroids(spark, dir)
    assert(b1.map(_._1).toSeq == cents._1.map(_._1).toSeq &&
      b1.map(_._2.toSeq).toSeq == cents._1.map(_._2.toSeq).toSeq)
    assert(b2.map(_._1).toSeq == cents._2.map(_._1).toSeq &&
      b2.map(_._2.toSeq).toSeq == cents._2.map(_._2.toSeq).toSeq)
    val bb = Layout.readPqBooks(spark, dir)
    assert(bb.length == books.length)
    for (s <- books.indices) {
      assert(bb(s).map(_._1).toSeq == books(s).map(_._1).toSeq)
      assert(bb(s).map(_._2.toSeq).toSeq == books(s).map(_._2.toSeq).toSeq)
    }

    // the persisted index rows are 8-byte packed words, at most one
    // file per cell1 directory
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.schema("packed").dataType.typeName == "long")
    assert(codes.inputFiles.length <= cents._1.length)

    // ONE query, nProbe = 3: at most 3 of the 4 cell1 dirs are probed,
    // so partition pruning is guaranteed visible
    val queries = emb.where(col("vec_id") === 0)
    val result = Layout.imiPqTopKFromLayout(spark, dir, queries,
      k = 5, nProbe = 3)
    val rows = result.collect()
    assert(rows.nonEmpty)

    // cell1 partition pruning, then the exact pair set at the row groups
    val scanned = org.apache.spark.sql.graftbridge.Bridge.scannedFileCounts(result)
    val filesTotal = codes.inputFiles.length
    assert(scanned.nonEmpty && scanned.max < filesTotal,
      s"scan touched ${scanned.max} of $filesTotal files; pair probes must prune partitions")
    val plan = result.queryExecution.executedPlan.toString
    assert(scanFilters(plan, "PartitionFilters").exists(_.contains("cell1")),
      s"no cell1 partition filter in plan:\n$plan")

    // parity: identical (query, rank, neighbor, sim) to the in-memory
    // composed index on the same quantizer + codebooks
    val direct = Similarity.imiPqTopK(indexed, cents, books, queries,
        k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val fromLayout = rows
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    assert(fromLayout == direct)

    // r13: re-rank vectors come from the pair-pruned layout read, as
    // in the IVF+PQ test
    val widths = org.apache.spark.sql.graftbridge.Bridge.scanReads(result)
      .filter(_._1.exists(_.contains("/codes")))
    assert(widths.exists(!_._2.contains("embedding")),
      s"ADC scan reads the vector column (width regression): $widths")
    assert(widths.exists(_._2.contains("embedding")),
      s"no layout scan reads vectors — re-rank source missing: $widths")
  }

  // The on-disk shapes the current writers no longer produce (PQ layouts
  // without the raw vector column, an IMI layout without the fused `pair`
  // column) are neither served through a fallback nor appended in their
  // own schema: each is refused with the writer that rebuilds it.
  private def refusedNaming(writer: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(s"Layout.$writer"),
      s"refusal must name the rebuild writer $writer: ${e.getMessage}")
  }
  private def layoutFiles(p: String): Seq[String] = spark.read.parquet(p).inputFiles.sorted.toSeq

  test("pre-r13 PQ layouts (no vector column) are refused on serve and append, naming the rebuild writer") {
    val base = Files.createTempDirectory("layout-pre-r13-pq").toString
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.where(col("vec_id") < 3)
    val more = emb.where(col("vec_id") >= 9990)

    // IVF+PQ: strip the vector column in place (materialized driver-side
    // first: a lazy self-overwrite would race its own read)
    val (indexed, centroids) = Similarity.ivfIndex(emb, nCells = 8, lloydIters = 2)
    Layout.pqWrite(indexed, centroids, Similarity.pqTrain(emb), s"$base/ivfpq")
    locally {
      val full = spark.read.parquet(s"$base/ivfpq/codes").select("vec_id", "packed", "cell")
      val rows = full.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), full.schema)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$base/ivfpq/codes")
    }
    assert(!spark.read.parquet(s"$base/ivfpq/codes").columns.contains("embedding"))
    val pqFiles = layoutFiles(s"$base/ivfpq/codes")
    refusedNaming("pqWrite")(Layout.ivfPqTopKFromLayout(spark, s"$base/ivfpq", queries, k = 5, nProbe = 4))
    refusedNaming("pqWrite")(Layout.pqAppend(more, s"$base/ivfpq"))
    assert(layoutFiles(s"$base/ivfpq/codes") == pqFiles, "a refused append must write nothing")

    // IMI+PQ: the cell1 shape with the vector column stripped
    val (imiIndexed, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    Layout.imiPqWrite(imiIndexed, cents, Similarity.pqTrain(emb), s"$base/imipq")
    locally {
      val full = spark.read.parquet(s"$base/imipq/codes")
        .select("vec_id", "cell1", "cell2", "packed", "pair")
      val rows = full.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), full.schema)
        .write.mode("overwrite").partitionBy("cell1").parquet(s"$base/imipq/codes")
    }
    assert(!spark.read.parquet(s"$base/imipq/codes").columns.contains("embedding"))
    val imiPqFiles = layoutFiles(s"$base/imipq/codes")
    refusedNaming("imiPqWrite")(Layout.imiPqTopKFromLayout(spark, s"$base/imipq", queries, k = 5, nProbe = 3))
    refusedNaming("imiPqWrite")(Layout.imiPqAppend(more, s"$base/imipq"))
    assert(layoutFiles(s"$base/imipq/codes") == imiPqFiles, "a refused append must write nothing")
  }

  test("pre-r13 IMI layout (no pair column) is refused on serve and append, naming imiWrite") {
    val base = Files.createTempDirectory("layout-pre-r13-imi").toString
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.where(col("vec_id") < 3)
    val more = emb.where(col("vec_id") >= 9990)

    // the r12 shape: cell1 dirs, cell2-sorted files, no pair column
    val (imiIndexed, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    Layout.imiWrite(imiIndexed, cents, s"$base/imi") // for the sidecars
    graft.core.FsUtil.deleteRecursive(java.nio.file.Paths.get(s"$base/imi/data"))
    imiIndexed.repartition(cents._1.length, col("cell1"))
      .sortWithinPartitions("cell1", "cell2")
      .write.mode("overwrite").partitionBy("cell1").parquet(s"$base/imi/data")
    assert(!spark.read.parquet(s"$base/imi/data").columns.contains("pair"))
    val imiFiles = layoutFiles(s"$base/imi/data")
    refusedNaming("imiWrite")(Layout.imiTopKFromLayout(spark, s"$base/imi", queries, k = 5, nProbe = 3))
    refusedNaming("imiWrite")(Layout.imiAppend(more, s"$base/imi"))
    assert(layoutFiles(s"$base/imi/data") == imiFiles, "a refused append must write nothing")
  }

  test("retired pair= IMI layout: serves with parity, append refused writing nothing") {
    // The shape imiWrite wrote for pair spaces <= 256 before the single
    // cell1 shape: one `pair=` directory per (cell1, cell2) pair, cell1
    // and cell2 as data columns. Built from half the corpus.
    val base = Files.createTempDirectory("layout-pair-dirs").toString
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.where(col("vec_id") < 3)
    val half2 = emb.where(col("vec_id") % 2 =!= 0)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val (indexedFull, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    val half1 = indexedFull.where(col("vec_id") % 2 === 0)
    Layout.imiWrite(half1, cents, s"$base/imi") // for the sidecars
    graft.core.FsUtil.deleteRecursive(java.nio.file.Paths.get(s"$base/imi/data"))
    half1.withColumn("pair", (col("cell1") * cents._2.length + col("cell2")).cast("int"))
      .repartition(col("pair"))
      .write.partitionBy("pair").parquet(s"$base/imi/data")
    val pairFiles = layoutFiles(s"$base/imi/data")
    assert(pairFiles.nonEmpty && pairFiles.forall(_.contains("/pair=")))

    // serving stays exact: `cell1 IN … AND pair IN …` prunes this shape too
    assert(sortedRows(Layout.imiTopKFromLayout(spark, s"$base/imi", queries, k = 5, nProbe = 3)) ==
      sortedRows(Similarity.imiTopK(half1, cents, queries, k = 5, nProbe = 3)))

    // an append would split the layout across two shapes: refused before
    // it writes, naming both ways out
    val e = intercept[IllegalArgumentException](Layout.imiAppend(half2, s"$base/imi"))
    assert(e.getMessage.contains("Layout.imiCompact") && e.getMessage.contains("Layout.imiWrite"),
      e.getMessage)
    assert(layoutFiles(s"$base/imi/data") == pairFiles, "a refused append must write nothing")

    // the named way out: compaction rewrites it into the cell1 shape,
    // after which the append lands and serves like the full index
    Layout.imiCompact(spark, s"$base/imi")
    assert(layoutFiles(s"$base/imi/data").forall(_.contains("/cell1=")))
    Layout.imiAppend(half2, s"$base/imi")
    assert(sortedRows(Layout.imiTopKFromLayout(spark, s"$base/imi", queries, k = 5, nProbe = 3)) ==
      sortedRows(Similarity.imiTopK(indexedFull, cents, queries, k = 5, nProbe = 3)))
  }

  test("ANN layout appends: incremental maintenance equals a full rebuild (all four layouts)") {
    // The production shape: an index is built once and fed increments —
    // rebuilding a 100 TB index per ingest batch is not an option. Each
    // append encodes ONLY the new vectors under the FROZEN sidecar
    // quantizer/codebooks, so a layout built on half the corpus then
    // appended the other half must serve IDENTICAL results to one built
    // on the full corpus with the same quantizer.
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val half1 = emb.where(col("vec_id") % 2 === 0)
    val half2 = emb.where(col("vec_id") % 2 =!= 0)
    val queries = emb.where(col("vec_id") < 3)
    val base = Files.createTempDirectory("layout-append").toString
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq

    // one quantizer + one codebook set, trained once on the FULL corpus
    // (drift policy: appends never retrain)
    val (indexedFull, cents) = Similarity.ivfIndex(emb, nCells = 8, lloydIters = 2)
    val books = Similarity.pqTrain(emb)
    val (indexedImiFull, imiCents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)

    // IVF raw
    Layout.ivfWrite(indexedFull, cents, s"$base/ivf_full")
    Layout.ivfWrite(Similarity.assignCells(half1, cents), cents, s"$base/ivf_inc")
    Layout.ivfAppend(half2, s"$base/ivf_inc")
    assert(sortedRows(Layout.ivfTopKFromLayout(spark, s"$base/ivf_inc", queries, k = 5, nProbe = 3)) ==
      sortedRows(Layout.ivfTopKFromLayout(spark, s"$base/ivf_full", queries, k = 5, nProbe = 3)))

    // IVF+PQ codes
    Layout.pqWrite(indexedFull, cents, books, s"$base/pq_full")
    Layout.pqWrite(Similarity.assignCells(half1, cents), cents, books, s"$base/pq_inc")
    Layout.pqAppend(half2, s"$base/pq_inc")
    assert(sortedRows(Layout.ivfPqTopKFromLayout(spark, s"$base/pq_inc", queries, k = 5, nProbe = 3)) ==
      sortedRows(Layout.ivfPqTopKFromLayout(spark, s"$base/pq_full", queries, k = 5, nProbe = 3)))

    // IMI raw
    Layout.imiWrite(indexedImiFull, imiCents, s"$base/imi_full")
    Layout.imiWrite(Similarity.assignImiCells(half1, imiCents), imiCents, s"$base/imi_inc")
    Layout.imiAppend(half2, s"$base/imi_inc")
    assert(sortedRows(Layout.imiTopKFromLayout(spark, s"$base/imi_inc", queries, k = 5, nProbe = 3)) ==
      sortedRows(Layout.imiTopKFromLayout(spark, s"$base/imi_full", queries, k = 5, nProbe = 3)))

    // IMI+PQ codes
    Layout.imiPqWrite(indexedImiFull, imiCents, books, s"$base/imipq_full")
    Layout.imiPqWrite(Similarity.assignImiCells(half1, imiCents), imiCents, books, s"$base/imipq_inc")
    Layout.imiPqAppend(half2, s"$base/imipq_inc")
    assert(sortedRows(Layout.imiPqTopKFromLayout(spark, s"$base/imipq_inc", queries, k = 5, nProbe = 3)) ==
      sortedRows(Layout.imiPqTopKFromLayout(spark, s"$base/imipq_full", queries, k = 5, nProbe = 3)))

    // appends landed as ADDITIONAL files inside the same partition
    // dirs — serve stays partition-pruned, no rewrite of existing data
    assert(spark.read.parquet(s"$base/pq_inc/codes").inputFiles.length >
      spark.read.parquet(s"$base/pq_full/codes").inputFiles.length)

    // compaction: file counts drop back to one per cell, serving is
    // unchanged, and a post-compact append still works (the OPTIMIZE
    // half of the maintenance story, same dance as postingsCompact)
    def files(p: String) = spark.read.parquet(p).inputFiles.length
    val beforeC = files(s"$base/pq_inc/codes")
    Layout.ivfCompact(spark, s"$base/ivf_inc")
    Layout.pqCompact(spark, s"$base/pq_inc")
    Layout.imiCompact(spark, s"$base/imi_inc")
    Layout.imiPqCompact(spark, s"$base/imipq_inc")
    assert(files(s"$base/pq_inc/codes") < beforeC)
    assert(sortedRows(Layout.ivfTopKFromLayout(spark, s"$base/ivf_inc", queries, k = 5, nProbe = 3)) ==
      sortedRows(Layout.ivfTopKFromLayout(spark, s"$base/ivf_full", queries, k = 5, nProbe = 3)))
    assert(sortedRows(Layout.ivfPqTopKFromLayout(spark, s"$base/pq_inc", queries, k = 5, nProbe = 3)) ==
      sortedRows(Layout.ivfPqTopKFromLayout(spark, s"$base/pq_full", queries, k = 5, nProbe = 3)))
    assert(sortedRows(Layout.imiTopKFromLayout(spark, s"$base/imi_inc", queries, k = 5, nProbe = 3)) ==
      sortedRows(Layout.imiTopKFromLayout(spark, s"$base/imi_full", queries, k = 5, nProbe = 3)))
    assert(sortedRows(Layout.imiPqTopKFromLayout(spark, s"$base/imipq_inc", queries, k = 5, nProbe = 3)) ==
      sortedRows(Layout.imiPqTopKFromLayout(spark, s"$base/imipq_full", queries, k = 5, nProbe = 3)))
    // a fresh append into the compacted layout round-trips
    Layout.pqAppend(queries, s"$base/pq_inc") // re-appending a few rows is legal
    assert(files(s"$base/pq_inc/codes") > 0)
  }

  test("postings layout: bm25 served bucket-pruned, identical to the ad-hoc scorer") {
    val dir = Files.createTempDirectory("layout-postings").toString + "/idx"
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val nBuckets = 32
    Layout.postingsWrite(docs, dir, nBuckets = nBuckets)

    val query = Seq("spark", "query", "merge")
    val served = Layout.bm25FromLayout(spark, dir, query)
    val rows = served.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val adhoc = graft.ops.TextAnalysis.bm25(docs, query).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(rows == adhoc && rows.nonEmpty)

    // the postings scan reads ≤ |query| buckets of nBuckets (partition
    // pruning on the bucket dirs did the skipping; doclen/stats reads
    // are separate scans and not counted against the postings dirs)
    val postingsFilesTotal = spark.read.parquet(s"$dir/postings").inputFiles.length
    val queryBuckets = query.map(Layout.postingsBucket(_, nBuckets)).distinct
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no bucket partition filter in plan:\n$plan")
    val scanned = org.apache.spark.sql.graftbridge.Bridge.scannedFileCounts(served)
    assert(scanned.nonEmpty)
    // the smallest per-scan count is the pruned postings scan
    assert(scanned.min <= queryBuckets.length.toLong,
      s"postings scan touched ${scanned.min} files for ${queryBuckets.length} buckets " +
        s"(total $postingsFilesTotal)")
  }

  test("postings layout top-k: pruned serve equals unpruned top-k on a seeded query set") {
    // Relevance-side gate (r15 verdict task 6): the scan-evidence tests
    // prove the layout reads FEWER rows; this one proves the pruning
    // never drops a posting that changes top-k. Row-group pruning is
    // FORCED to engage (tiny parquet blocks, same as the tok-sort A/B)
    // so the equality is checked in the regime where skipping actually
    // happens, not a single-row-group layout where nothing is skipped.
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 16 * 1024)
    hc.setInt("parquet.page.size", 4 * 1024)
    try {
      val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      val dir = Files.createTempDirectory("layout-postings-topk").toString + "/idx"
      Layout.postingsWrite(docs, dir, nBuckets = 16)
      // seeded query set: the rare term, common terms, multi-term mixes
      val querySet = Seq(
        Seq("dup"), Seq("spark"), Seq("spark", "query", "merge"),
        Seq("dup", "spark"), Seq("data", "the"))
      for (query <- querySet) {
        def topk(df: org.apache.spark.sql.DataFrame) = df
          .orderBy(col("score").desc, col("doc_id")).limit(10)
          .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
        val served = topk(Layout.bm25FromLayout(spark, dir, query))
        val exact = topk(graft.ops.TextAnalysis.bm25(docs, query))
        assert(served == exact,
          s"layout top-k diverged from unpruned top-k for query $query:\n" +
            s"  layout: $served\n  exact:  $exact")
        assert(served.nonEmpty, s"seeded query $query matched nothing")
      }
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", oldBlock)
      if (oldPage == null) hc.unset("parquet.page.size") else hc.set("parquet.page.size", oldPage)
    }
  }

  test("postings tok-sort: a selective term's read skips row groups (sorted vs unsorted A/B)") {
    // The r12 tok-sorting of bucket files was a structural claim with no
    // supporting number (r12 verdict item 2) — this is the gate. Small
    // parquet row groups make chunk-level pruning observable at spec
    // scale; nBuckets = 1 removes bucket pruning from the picture so the
    // ONLY thing separating the two arms is the within-file sort.
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 16 * 1024)
    hc.setInt("parquet.page.size", 4 * 1024)
    try {
      val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      val base = Files.createTempDirectory("layout-toksort").toString
      Layout.postingsWrite(docs, s"$base/sorted", nBuckets = 1)
      // control: identical postings, same single bucket, NO tok sort
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .where(col("tok") =!= "")
      val dl = docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("dl"))
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .join(dl, Seq("doc_id"))
        .withColumn("bucket", lit(0))
        .repartition(1)
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$base/unsorted/postings")

      def scanRows(dir: String, term: String): Long = {
        val read = spark.read.parquet(dir)
          .where(col("bucket") === 0 && col("tok") === term)
        assert(read.count() > 0, s"term '$term' must exist in the fixture")
        org.apache.spark.sql.graftbridge.Bridge.scannedOutputRows(read).sum
      }
      val total = spark.read.parquet(s"$base/sorted/postings").count()
      // 'dup' is the corpus's one genuinely rare token (~29 of ~15k
      // postings); row counts are identical across arms by construction
      val sortedRows = scanRows(s"$base/sorted/postings", "dup")
      val unsortedRows = scanRows(s"$base/unsorted/postings", "dup")
      assert(sortedRows * 4 <= unsortedRows,
        s"tok-sort must prune chunks: sorted scan $sortedRows rows vs unsorted " +
          s"$unsortedRows (file total $total)")
      assert(sortedRows < total / 4,
        s"sorted rare-term scan read $sortedRows of $total rows — stats not tight")
      // and the full serve path over the sorted layout reads ≪ the file
      val served = Layout.bm25FromLayout(spark, s"$base/sorted", Seq("dup"))
      served.collect()
      val serveScan = org.apache.spark.sql.graftbridge.Bridge
        .scannedOutputRows(served).filter(_ > 0)
      assert(serveScan.nonEmpty && serveScan.max < total / 4,
        s"bm25 serve scanned ${serveScan.max} of $total postings rows")
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", oldBlock)
      if (oldPage == null) hc.unset("parquet.page.size") else hc.set("parquet.page.size", oldPage)
    }
  }

  test("postings layout remembers nBuckets: append and serve read it from the sidecar") {
    val dir = Files.createTempDirectory("layout-postings-nb").toString + "/idx"
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    Layout.postingsWrite(docs.where(col("doc_id") < 50), dir, nBuckets = 8)
    assert(Layout.postingsBuckets(spark, dir) == 8)
    // append + serve carry no bucket parameter: a caller cannot
    // mis-bucket appends or mis-prune reads with a wrong guess
    Layout.postingsAppend(docs.where(col("doc_id") >= 50), dir)
    assert(Layout.postingsBuckets(spark, dir) == 8)
    val served = Layout.bm25FromLayout(spark, dir, Seq("spark", "query"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val adhoc = graft.ops.TextAnalysis.bm25(docs, Seq("spark", "query"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(served == adhoc && served.nonEmpty)
  }

  test("postings append of ZERO new docs is a no-op, not an NPE") {
    val dir = Files.createTempDirectory("layout-postings-empty").toString + "/idx"
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    Layout.postingsWrite(docs.where(col("doc_id") < 50), dir, nBuckets = 8)
    val before = spark.read.parquet(s"$dir/stats").collect()(0)
    Layout.postingsAppend(docs.where(lit(false)), dir) // empty batch
    val after = spark.read.parquet(s"$dir/stats").collect()(0)
    assert(after.getLong(0) == before.getLong(0) &&
           after.getLong(1) == before.getLong(1) &&
           after.getInt(2) == 8)
  }

  test("postings append: incremental maintenance equals full rebuild") {
    val base = Files.createTempDirectory("layout-postings-inc").toString
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val first = docs.where(col("doc_id") % 3 =!= 0)
    val later = docs.where(col("doc_id") % 3 === 0)
    val nBuckets = 16

    Layout.postingsWrite(first, s"$base/inc", nBuckets = nBuckets)
    Layout.postingsAppend(later, s"$base/inc")
    Layout.postingsWrite(docs, s"$base/full", nBuckets = nBuckets)

    val query = Seq("spark", "query", "merge")
    def scores(dir: String) = Layout.bm25FromLayout(spark, dir, query)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val inc = scores(s"$base/inc")
    val full = scores(s"$base/full")
    assert(inc == full && inc.nonEmpty)

    // stats were maintained by exact addition, not rescan
    val st = spark.read.parquet(s"$base/inc/stats").collect()(0)
    val expect = spark.read.parquet(s"$base/full/stats").collect()(0)
    assert(st.getLong(0) == expect.getLong(0) && st.getLong(1) == expect.getLong(1))
  }

  test("postings compaction: file count drops, serving and appends unchanged") {
    val dir = Files.createTempDirectory("layout-postings-compact").toString + "/idx"
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val nBuckets = 8
    // simulate a few ingest windows: each append fans more files into
    // every bucket directory
    Layout.postingsWrite(docs.where(col("doc_id") % 4 === 0), dir, nBuckets = nBuckets)
    (1 to 3).foreach(r =>
      Layout.postingsAppend(docs.where(col("doc_id") % 4 === r), dir))

    val query = Seq("spark", "query", "merge")
    def scores = Layout.bm25FromLayout(spark, dir, query)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val before = scores
    val postingsBefore = Layout.dataFileCount(spark, s"$dir/postings")
    val doclenBefore = Layout.dataFileCount(spark, s"$dir/doclen")

    Layout.postingsCompact(spark, dir)

    // the gate: each bucket dir back to ≤ filesPerBucket(=1) files,
    // doclen to one file at this row count
    val postingsAfter = Layout.dataFileCount(spark, s"$dir/postings")
    val doclenAfter = Layout.dataFileCount(spark, s"$dir/doclen")
    assert(postingsAfter <= nBuckets && postingsAfter < postingsBefore,
      s"postings: $postingsBefore files -> $postingsAfter (nBuckets=$nBuckets)")
    assert(doclenAfter == 1 && doclenAfter < doclenBefore,
      s"doclen: $doclenBefore files -> $doclenAfter")
    // no leftover swap directories
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings.compact")) &&
           !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings.old")))

    // parity: identical scores, stats sidecar untouched
    assert(scores == before && before.nonEmpty)
    assert(Layout.postingsBuckets(spark, dir) == nBuckets)

    // the layout is still live: appends after compaction keep serving
    // equal to a full rebuild
    val extra = docs.where(col("doc_id") % 4 === 0) // re-use rows w/ new ids
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    Layout.postingsAppend(extra, dir)
    val full = Files.createTempDirectory("layout-postings-compact-full").toString + "/idx"
    Layout.postingsWrite(docs.unionByName(extra), full, nBuckets = nBuckets)
    val inc2 = scores
    val full2 = Layout.bm25FromLayout(spark, full, query)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(inc2 == full2 && inc2.nonEmpty)
  }

  test("rendezvous routing: balanced-ish spread; resharding moves only winners to the NEW shard") {
    import spark.implicits._
    val keys = (0L until 2000L).toDF("k")
    val r8 = keys.select($"k", Layout.shardRoute($"k", 8).as("s8"))
    val r9 = r8.withColumn("s9", Layout.shardRoute($"k", 9))
    val rows = r9.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // every shard sees traffic, no shard hogs (loose 2x-of-fair bound)
    val byShard = rows.groupBy(_._2).view.mapValues(_.length)
    assert(byShard.size == 8 && byShard.values.forall(c => c > 100 && c < 500), s"$byShard")
    // HRW minimal movement: a key either stays put or moves TO shard 8
    val moved = rows.filter { case (_, a, b) => a != b }
    assert(moved.forall(_._3 == 8), "moved keys must all land on the new shard")
    val frac = moved.length.toDouble / rows.length
    assert(frac > 0.05 && frac < 0.2, s"~1/9 should move, got $frac")
    // deterministic across partitionings
    val again = keys.repartition(13).select($"k", Layout.shardRoute($"k", 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == again)
  }
}
