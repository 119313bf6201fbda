package graft.ops

import graft.functions.ZOrderKey
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Data-layout operators for scan pruning at 100 TB: write files whose
 * min/max column ranges are NARROW (z-order clustering), keep those
 * ranges in a small stats index (one row per file), and plan reads
 * against the index so predicate ranges touch only intersecting files —
 * the file-skipping core of every lakehouse table format, expressed over
 * plain parquet directories.
 *
 * Scale shape: the index is O(files), kilobytes per petabyte-scale
 * table; pruning is a driver-side interval check followed by a scan of
 * only the selected files. With a z-ordered layout BOTH clustered
 * dimensions prune (see `ZOrderSpec`'s tile-span property); a
 * single-column sort prunes only itself.
 */
object Layout {

  /** Write `df` clustered by the Morton key of (xCol, yCol) into
    * `nFiles` range partitions — every output file covers a compact
    * rectangle of the (x, y) domain. */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String,
                  dir: String, nFiles: Int): Unit =
    df.withColumn("__graft_zkey", ZOrderKey(col(xCol), col(yCol)))
      .repartitionByRange(nFiles, col("__graft_zkey"))
      .sortWithinPartitions("__graft_zkey")
      .drop("__graft_zkey")
      .write.mode("overwrite").parquet(dir)

  /** Write an IVF-indexed corpus (from [[Similarity.ivfIndex]]) as a
    * `cell`-partitioned parquet layout plus a `_centroids.tsv` sidecar,
    * so probes become Catalyst partition pruning: a query that filters
    * `cell IN (probe cells)` lists and reads only those cell
    * directories — nProbe/nCells of the files, no index lookup at query
    * time. Rows are hash-repartitioned on `cell` first so each cell
    * lands in one file (no small-file fan-out from the input
    * partitioning). */
  def ivfWrite(indexed: DataFrame, centroids: Array[(Int, Array[Double])],
               dir: String): Unit = {
    writeCells(indexed, centroids.length, dir, mode = "overwrite")
    writeCentroids(indexed.sparkSession, s"$dir/_centroids.tsv", centroids)
  }

  /**
   * Persist the full compressed index (IVF + PQ): 8-byte packed code
   * words partitioned by coarse cell, plus the centroid and codebook
   * sidecars. At 100 TB this is THE serving layout: a 256 B float32
   * row shrinks to one `(vec_id, packed long)` scan row in exactly the
   * cell directory a probe prunes to, so a query's ADC stage reads
   * nProbe/nCells of 8-byte words.
   *
   * The full-precision vector is stored ALONGSIDE the code word in the
   * same files (r13). Parquet is columnar, so the ADC scan still reads
   * only (id, packed) — the serve plan's ReadSchema never includes the
   * vector (spec-gated) — but the shortlist re-rank can now fetch raw
   * vectors from the SAME cell-pruned read instead of joining against
   * the corpus table, which was a hidden O(corpus) scan on the serve
   * path: invisible at 2M rows, dominant at 20M+ (every other serve
   * input is O(probed cells)). Storage-wise the vectors live in the
   * index instead of beside it — total bytes unchanged when the index
   * is the only consumer of raw vectors, and at 100 TB a serve path
   * that rescans the corpus table per query cannot exist.
   *
   * Expects `indexed` from [[Similarity.ivfIndex]] (has `cell`) and
   * `books` from [[Similarity.pqTrain]] on the same corpus.
   */
  def pqWrite(indexed: DataFrame, centroids: Array[(Int, Array[Double])],
              books: Similarity.PqBooks, dir: String, dims: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    writeCells(packedCodes(indexed, books, dims, idCol, vecCol, "cell"),
      centroids.length, s"$dir/codes", mode = "overwrite")
    val spark = indexed.sparkSession
    writeCentroids(spark, s"$dir/_centroids.tsv", centroids)
    writePqBooks(spark, dir, books)
  }

  /**
   * Persist an [[Similarity.imiIndex]]'d corpus as a TWO-LEVEL pruned
   * layout: `partitionBy(cell1)` — k₁ directories — with every row
   * carrying the fused pair key `pair = cell1·k₂ + cell2` as a column
   * and the files sorted by (cell1, cell2) ≡ by `pair`. A probe prunes
   * twice: cell1 at the listing, and the EXACT probed `pair` set at the
   * parquet row-group min/max stats. Directories per pair would be a
   * filesystem problem at scale (16.8M dirs at k = 4096), and measured
   * no faster where they fit (r13, SCALING.md: a tie at 256 pairs,
   * 1.4× / 1.9× slower at 1024 / 4096 — per-directory listing and
   * footer costs grow with the pair count, and a ~2k-row pair cell is
   * a tiny file at any corpus size). Sidecars carry both half codebooks.
   */
  def imiWrite(indexed: DataFrame,
               cents: (Array[(Int, Array[Double])], Array[(Int, Array[Double])]),
               dir: String): Unit = {
    writeImiPartitioned(indexed, cents, s"$dir/data", mode = "overwrite")
    val spark = indexed.sparkSession
    writeCentroids(spark, s"$dir/_centroids1.tsv", cents._1)
    writeCentroids(spark, s"$dir/_centroids2.tsv", cents._2)
  }

  /** The one partitioned writer behind every ANN layout's build, append
    * and compaction: hash-repartition on `partCol` into `nParts` tasks,
    * so each write lands at most one file per partition directory, then
    * sort by `sortCols` within those files (tight row-group stats). */
  private def writePartitioned(df: DataFrame, partCol: String, nParts: Int,
                               sortCols: Seq[String], path: String, mode: String): Unit = {
    val parts = df.repartition(nParts, col(partCol))
    val sorted = if (sortCols.isEmpty) parts else parts.sortWithinPartitions(sortCols.map(col): _*)
    sorted.write.mode(mode).partitionBy(partCol).parquet(path)
  }

  /** The single-level shape ([[ivfWrite]], [[pqWrite]]): one `cell=`
    * directory per coarse cell. */
  private def writeCells(df: DataFrame, nCells: Int, path: String, mode: String): Unit =
    writePartitioned(df, "cell", nCells, Nil, path, mode)

  /** The IMI shape ([[imiWrite]], [[imiPqWrite]]): `cell1=` directories
    * of (cell1, cell2)-sorted files, with the fused `pair` key stored as
    * a column. Int range is safe by construction (k ≤ 4096 per half ⇒
    * pair < 2²⁴). */
  private def writeImiPartitioned(assigned: DataFrame,
                                  cents: (Array[(Int, Array[Double])], Array[(Int, Array[Double])]),
                                  path: String, mode: String): Unit =
    writePartitioned(
      assigned.withColumn("pair", (col("cell1") * cents._2.length + col("cell2")).cast("int")),
      "cell1", cents._1.length, Seq("cell1", "cell2"), path, mode)

  /** PQ-encode `df` under `books` into a PQ layout's row: the id, the
    * `cellCols`, the packed 8-byte code word and the raw vector. */
  private def packedCodes(df: DataFrame, books: Similarity.PqBooks, dims: Int,
                          idCol: String, vecCol: String, cellCols: String*): DataFrame =
    Similarity.pqEncode(df, books, dims, idCol, vecCol)
      .select((col(idCol) +: cellCols.map(col)) ++
        Seq(Similarity.pqPack(col("codes"), books.length).as("packed"), col(vecCol)): _*)

  /** Exact pair-probe predicate for an IMI layout scan: cell1 partition
    * pruning plus the EXACT fused-pair set pushed to row-group stats.
    * Exact on the retired `pair=` directory shape too, where `pair` is
    * the partition column and `cell1` a data column. */
  private def prunePairs(all: DataFrame, k2: Int, pairs: Array[(Int, Int)]): DataFrame =
    if (pairs.isEmpty) all.where(lit(false))
    else all.where(col("cell1").isin(pairs.map(_._1).distinct.toIndexedSeq: _*) &&
      col("pair").isin(pairs.map { case (a, b) => a * k2 + b }.toIndexedSeq: _*))

  /** Refuse a layout dir that lacks a column the current format stores
    * (`pair` in IMI layouts, the raw vector in PQ layouts): it was
    * written before that format, and this module neither serves nor
    * appends such a layout — it has to be rebuilt with `writer`.
    * `columns` is the dir's schema from the caller's own read, so the
    * check costs no Spark job. */
  private def requireCurrent(columns: Array[String], path: String,
                             needed: Seq[String], writer: String): Unit = {
    val missing = needed.filterNot(columns.contains)
    require(missing.isEmpty,
      s"layout $path has no ${missing.mkString(", ")} column: it predates " +
        s"the current layout format; rebuild it with Layout.$writer")
  }

  /**
   * Persist the full two-level compressed index (IMI + PQ): 8-byte
   * packed code words in the [[imiWrite]] shape (`cell1` directories of
   * pair-sorted files), plus both half codebooks and the PQ codebooks
   * as sidecars. The production serving layout past the single-level
   * cell cap: pair probes prune exactly to the probed pair set AND
   * every scanned row is a packed code word instead of a raw vector —
   * the [[pqWrite]] compression and the [[imiWrite]] cell-count path
   * composed. Raw vectors are stored beside the code words (as in
   * [[pqWrite]]) for the shortlist re-rank only.
   *
   * Expects `indexed` from [[Similarity.imiIndex]] (has `cell1`/`cell2`)
   * and `books` from [[Similarity.pqTrain]] on the same corpus.
   */
  def imiPqWrite(indexed: DataFrame,
                 cents: (Array[(Int, Array[Double])], Array[(Int, Array[Double])]),
                 books: Similarity.PqBooks, dir: String, dims: Int = 64,
                 idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    writeImiPartitioned(packedCodes(indexed, books, dims, idCol, vecCol, "cell1", "cell2"),
      cents, s"$dir/codes", mode = "overwrite")
    val spark = indexed.sparkSession
    writeCentroids(spark, s"$dir/_centroids1.tsv", cents._1)
    writeCentroids(spark, s"$dir/_centroids2.tsv", cents._2)
    writePqBooks(spark, dir, books)
  }

  /**
   * ADC top-k served straight off an [[imiPqWrite]] layout — identical
   * results to the in-memory [[Similarity.imiPqTopK]] (same pair
   * probes, same lookup table, same shortlist re-rank; `LayoutSpec`
   * pins parity), but the scan reads packed codes pruned exactly to
   * the probed pair set, and each scanned row is 8 bytes. The shortlist
   * re-rank reads raw vectors from the same pair-pruned files.
   */
  def imiPqTopKFromLayout(spark: SparkSession, dir: String, queries: DataFrame,
                          k: Int, nProbe: Int = 32,
                          shortlist: Int = 100, dims: Int = 64,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = readImiCentroids(spark, dir)
    val books = readPqBooks(spark, dir)
    val m = books.length
    val half = dims / 2
    val qRows = Similarity.collectQueries(queries, idCol, vecCol)
    val (qIds, lutM) = Similarity.pqLutMatrix(qRows, books, dims / m)
    val probes = queries.select(col(idCol).as("query_id"),
        explode(Similarity.imiProbesCol(cents, nProbe, col(vecCol), half)).as("__p"))
      .select(col("query_id"),
        col("__p.cell1").as("cell1"), col("__p.cell2").as("cell2"))
    val pairs = probes.select("cell1", "cell2").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val all = spark.read.parquet(s"$dir/codes")
    requireCurrent(all.columns, s"$dir/codes", Seq("pair", vecCol), "imiPqWrite")
    val pruned = prunePairs(all, cents._2.length, pairs)
    // fused ADC over the packed words (r13) — see [[graft.functions.PqAdcDist]]
    val approx = pruned
      .join(broadcast(probes), Seq("cell1", "cell2"))
      .where(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        graft.functions.PqAdcDist(col("packed"), col("query_id"),
          qIds, lutM, m).as("adist"))
    // re-rank from the same pair-pruned read (see [[pqWrite]])
    Similarity.adcShortlistRerank(approx, pruned.select(col(idCol), col(vecCol)),
      queries, k, shortlist, idCol, vecCol)
  }

  /** Incremental maintenance for an [[ivfWrite]] layout: assign ONLY
    * `newVectors` under the frozen sidecar centroids and append into
    * the cell partition directories. O(new data); see [[pqAppend]] for
    * the maintenance contract. */
  def ivfAppend(newVectors: DataFrame, dir: String,
                vecCol: String = "embedding"): Unit = {
    val centroids = readIvfCentroids(newVectors.sparkSession, dir)
    writeCells(Similarity.assignCells(newVectors, centroids, vecCol),
      centroids.length, dir, mode = "append")
  }

  /** Incremental maintenance for an [[imiWrite]] layout: pair-cell
    * assignment under the frozen sidecar codebooks, appended in the
    * layout's shape (see [[appendImiPartitioned]]). */
  def imiAppend(newVectors: DataFrame, dir: String, dims: Int = 64,
                vecCol: String = "embedding"): Unit = {
    val cents = readImiCentroids(newVectors.sparkSession, dir)
    appendImiPartitioned(Similarity.assignImiCells(newVectors, cents, dims, vecCol),
      cents, s"$dir/data", Seq("pair"), "imiWrite")
  }

  /** Append `assigned` (has cell1/cell2) into an existing IMI layout
    * dir, after [[requireCurrent]] on the `needed` columns. A layout in
    * the retired `pair=` directory shape is refused before anything is
    * written: appending `cell1=` directories beside it would split the
    * layout across two shapes. Both checks use the one schema read
    * (each spark.read.parquet is a leaf-file listing, measurable per
    * micro-batch under streaming ingest). */
  private def appendImiPartitioned(assigned: DataFrame,
                                   cents: (Array[(Int, Array[Double])], Array[(Int, Array[Double])]),
                                   path: String, needed: Seq[String], writer: String): Unit = {
    val existing = assigned.sparkSession.read.parquet(path)
    requireCurrent(existing.columns, path, needed, writer)
    require(!existing.inputFiles.exists(_.contains("/pair=")),
      s"layout $path is in the retired pair= directory shape; rewrite it with " +
        s"Layout.${writer.stripSuffix("Write")}Compact or rebuild it with Layout.$writer")
    writeImiPartitioned(assigned, cents, path, mode = "append")
  }

  /**
   * Incremental index maintenance for a [[pqWrite]] layout: encode ONLY
   * `newVectors` under the layout's FROZEN quantizer + codebooks (read
   * from the sidecars, never retrained — so the appended codes are
   * byte-identical to what a full rebuild with the same quantizer would
   * produce; `LayoutSpec` pins append ≡ rebuild) and append them into
   * the cell partition directories. O(new data): the indexed corpus is
   * never rescanned, the shuffle is one repartition of the increment.
   * Each append lands ≤ one file per touched cell; consolidate small
   * files off the hot path like any partitioned layout. Quantizer
   * drift (a corpus that moved off the trained centroids) is a REBUILD
   * decision, not an append concern — appends always use the sidecar
   * codebooks, so a mismatched caller parameter cannot split the index.
   */
  def pqAppend(newVectors: DataFrame, dir: String, dims: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    val centroids = readIvfCentroids(spark, dir)
    val books = readPqBooks(spark, dir)
    requireCurrent(spark.read.parquet(s"$dir/codes").columns, s"$dir/codes",
      Seq(vecCol), "pqWrite")
    writeCells(packedCodes(Similarity.assignCells(newVectors, centroids, vecCol),
        books, dims, idCol, vecCol, "cell"),
      centroids.length, s"$dir/codes", mode = "append")
  }

  /** [[pqAppend]] for an [[imiPqWrite]] layout: new vectors are
    * pair-cell-assigned and PQ-encoded under the frozen sidecar
    * codebooks, then appended in the layout's shape (see
    * [[appendImiPartitioned]]). */
  def imiPqAppend(newVectors: DataFrame, dir: String, dims: Int = 64,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVectors.sparkSession
    val cents = readImiCentroids(spark, dir)
    val books = readPqBooks(spark, dir)
    appendImiPartitioned(
      packedCodes(Similarity.assignImiCells(newVectors, cents, dims, vecCol),
        books, dims, idCol, vecCol, "cell1", "cell2"),
      cents, s"$dir/codes", Seq("pair", vecCol), "imiPqWrite")
  }

  /** Both codebook sidecars of an [[imiWrite]] layout. */
  def readImiCentroids(spark: SparkSession, dir: String)
      : (Array[(Int, Array[Double])], Array[(Int, Array[Double])]) =
    (readCentroids(spark, s"$dir/_centroids1.tsv"), readCentroids(spark, s"$dir/_centroids2.tsv"))

  /**
   * IMI search straight off an [[imiWrite]] layout — identical results
   * to the in-memory [[Similarity.imiTopK]] (spec-pinned): the probed
   * pair set is bounded (nQueries × nProbe, collected to literals) and
   * pruned EXACTLY via [[prunePairs]] — cell1 partition pruning plus
   * the fused-pair IN set at the pair-sorted row-group stats — two
   * pruning levels, no query-time index structure.
   */
  def imiTopKFromLayout(spark: SparkSession, dir: String, queries: DataFrame,
                        k: Int, nProbe: Int = 32, dims: Int = 64,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = readImiCentroids(spark, dir)
    val half = dims / 2
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      explode(Similarity.imiProbesCol(cents, nProbe, col(vecCol), half)).as("__p"))
      .select(col("query_id"), col("qvec"),
        col("__p.cell1").as("cell1"), col("__p.cell2").as("cell2"))
    val pairs = q.select("cell1", "cell2").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val all = spark.read.parquet(s"$dir/data")
    requireCurrent(all.columns, s"$dir/data", Seq("pair"), "imiWrite")
    val pruned = prunePairs(all, cents._2.length, pairs)
    val c = pruned.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col("cell1"), col("cell2"))
    Similarity.ivfScore(c, q, k, keys = Seq("cell1", "cell2"))
  }

  /** Codebook sidecar of a [[pqWrite]] layout. */
  def readPqBooks(spark: SparkSession, dir: String): Similarity.PqBooks = {
    val rows = readTsvLines(spark, s"$dir/_codebooks.tsv").map { line =>
      val Array(s, cid, vec) = line.split("\t", 3)
      (s.toInt, cid.toInt, vec.split(",").map(_.toDouble))
    }
    rows.groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(r => (r._2, r._3)))
  }

  private def writePqBooks(spark: SparkSession, dir: String, books: Similarity.PqBooks): Unit =
    writeTsv(spark, s"$dir/_codebooks.tsv",
      for { s <- books.indices.iterator; (cid, c) <- books(s).iterator }
        yield s"$s\t$cid\t${c.mkString(",")}")

  /**
   * IVF search against an [[ivfWrite]] cell-partitioned layout: the
   * probe-cell set (bounded by nQueries × nProbe, collected to
   * literals) becomes the scan's PARTITION filter, so Spark lists and
   * reads only the probed cell directories — nProbe/nCells of the files
   * with no query-time index structure at all. Same results as
   * [[Similarity.ivfTopK]] over the equivalent in-memory index
   * (spec-checked).
   */
  def ivfTopKFromLayout(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
                        nProbe: Int = 32, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val q = Similarity.ivfProbes(queries, readIvfCentroids(spark, dir), nProbe, idCol, vecCol)
    val cells = q.select("cell").distinct().collect().map(_.getInt(0))
    val all = spark.read.parquet(dir)
    // empty query set → empty probe set: skip the scan entirely rather
    // than build an empty IN filter
    val pruned = if (cells.isEmpty) all.where(lit(false))
      else all.where(col("cell").isin(cells.toIndexedSeq: _*))
    val c = pruned.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("cell"))
    Similarity.ivfScore(c, q, k)
  }

  /**
   * ADC top-k served straight off a [[pqWrite]] layout — identical
   * results to the in-memory [[Similarity.ivfPqTopK]] (same probe
   * cells, same lookup table, same shortlist re-rank; `LayoutSpec`
   * pins parity), but the scan is a partition-pruned read of packed
   * codes: `cell IN (probes)` lists only the probed directories and
   * each scanned row is 8 bytes. The shortlist re-rank reads raw
   * vectors from the same cell-pruned files.
   */
  def ivfPqTopKFromLayout(spark: SparkSession, dir: String, queries: DataFrame,
                          k: Int, nProbe: Int = 32,
                          shortlist: Int = 100, dims: Int = 64,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = readIvfCentroids(spark, dir)
    val books = readPqBooks(spark, dir)
    val m = books.length
    val qRows = Similarity.collectQueries(queries, idCol, vecCol)
    val (qIds, lutM) = Similarity.pqLutMatrix(qRows, books, dims / m)
    val probes = Similarity.probeCells(spark, centroids, qRows, nProbe)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val all = spark.read.parquet(s"$dir/codes")
    requireCurrent(all.columns, s"$dir/codes", Seq(vecCol), "pqWrite")
    val pruned = all
      .where(col("cell").isin(cells: _*)) // partition filter: probed dirs only
    // fused ADC over the packed words (r13): one row per (query,
    // candidate), no 16× unpack-explode, no aggregate exchange — see
    // [[graft.functions.PqAdcDist]]
    val approx = pruned
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        graft.functions.PqAdcDist(col("packed"), col("query_id"),
          qIds, lutM, m).as("adist"))
    // Shortlist re-rank vectors come from the SAME cell-pruned read —
    // O(probed cells), and columnar pruning keeps the ADC scan above
    // 8-bytes-per-row narrow.
    Similarity.adcShortlistRerank(approx, pruned.select(col(idCol), col(vecCol)),
      queries, k, shortlist, idCol, vecCol)
  }

  /** The centroid-table sidecar codec (`_centroids.tsv`,
    * `_centroids1.tsv`, `_centroids2.tsv`): one `cid<TAB>v1,v2,…` line
    * per centroid. */
  private def writeCentroids(spark: SparkSession, path: String,
                             cents: Array[(Int, Array[Double])]): Unit =
    writeTsv(spark, path, cents.iterator.map { case (cid, v) => s"$cid\t${v.mkString(",")}" })

  private def readCentroids(spark: SparkSession, path: String): Array[(Int, Array[Double])] =
    readTsvLines(spark, path).map { line =>
      val Array(cid, vec) = line.split("\t", 2)
      (cid.toInt, vec.split(",").map(_.toDouble))
    }

  /** Centroid sidecar of an [[ivfWrite]] layout. */
  def readIvfCentroids(spark: SparkSession, dir: String): Array[(Int, Array[Double])] =
    readCentroids(spark, s"$dir/_centroids.tsv")

  private def writeTsv(spark: SparkSession, path: String,
                       lines: Iterator[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
    finally out.close()
  }

  private def readTsvLines(spark: SparkSession, path: String): Array[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toArray
    finally in.close()
  }

  /**
   * Inverted-index layout for BM25 serving: postings `(tok, doc_id,
   * tf)` partitioned by a TERM-HASH BUCKET, a per-doc length table, and
   * a one-row exact corpus-stats table (`n_docs`, `sum_dl` as longs, so
   * `avgdl` is recomputed with the same exact division the ad-hoc
   * scorer uses). A query's terms map to buckets → Catalyst partition
   * pruning lists and reads only those bucket directories: serving a
   * 3-term query against a petabyte corpus touches 3/nBuckets of the
   * postings, no re-tokenization, no query-time index structure.
   */
  def postingsWrite(docs: DataFrame, dir: String, nBuckets: Int = 64,
                    idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val toks = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dl = docs.select(col(idCol), TextAnalysis.tokenCount(col(textCol)).as("dl"))
    // dl DENORMALIZED into every posting (a BUILD-time join — the same
    // tokenCount expression the ad-hoc scorer uses, so score parity is
    // by construction): +8 B per row buys serving that never touches a
    // corpus-sized doclen table — the dominant serve cost for common
    // terms (see [[bm25FromLayout]])
    tf.join(dl, Seq(idCol))
      .withColumn("bucket", (Sampling.hash32(col("tok")) % nBuckets).cast("int"))
      .repartition(nBuckets, col("bucket"))
      // tok-SORTED within each bucket file: a query's In(tok) data
      // filter skips row groups via tight min/max stats (the same trick
      // as the ANN layouts' cell2 sort)
      .sortWithinPartitions("bucket", "tok")
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    dl.write.mode("overwrite").parquet(s"$dir/doclen")
    // nBuckets rides in the stats row: append/serve READ it, so a
    // mismatched caller parameter cannot silently bucket new postings
    // differently (wrong-dir appends) or prune serving reads to the
    // wrong directories (silently missing docs)
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** The layout's bucket count, from the stats sidecar. */
  def postingsBuckets(spark: SparkSession, dir: String): Int =
    spark.read.parquet(s"$dir/stats").select("n_buckets").collect()(0).getInt(0)

  /**
   * Incremental index maintenance: tokenize ONLY `newDocs` and append
   * their postings into the same bucket directories; doc lengths append
   * likewise, and the stats row is replaced by exact long addition of
   * the stored sums and the new docs' sums — the indexed corpus is
   * never rescanned, so an ingest window costs O(new data) like
   * [[statsIndexIncremental]]. Serving after an append is identical to
   * a full rebuild over the union (`LayoutSpec` pins score equality).
   * Caller contract: `newDocs` ids are new (re-indexing an id would
   * double its postings — run a [[graft.ops.CorpusDiff]] first when in
   * doubt).
   */
  def postingsAppend(newDocs: DataFrame, dir: String,
                     idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    val nBuckets = postingsBuckets(spark, dir) // the layout's, never a guess
    val toks = newDocs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
    val dl = newDocs.select(col(idCol), TextAnalysis.tokenCount(col(textCol)).as("dl"))
    toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
      .join(dl, Seq(idCol)) // dl denormalized, same as postingsWrite
      .withColumn("bucket", (Sampling.hash32(col("tok")) % nBuckets).cast("int"))
      .repartition(nBuckets, col("bucket"))
      .sortWithinPartitions("bucket", "tok") // per-file row-group stats stay tight
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
    dl.write.mode("append").parquet(s"$dir/doclen")
    val old = spark.read.parquet(s"$dir/stats")
      .select("n_docs", "sum_dl").collect()(0)
    // coalesce: sum over zero rows aggregates to null (empty newDocs is
    // a legal no-op append, not an NPE)
    val fresh = dl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
    import spark.implicits._
    val stats = Seq((old.getLong(0) + fresh.getLong(0), old.getLong(1) + fresh.getLong(1), nBuckets))
      .toDF("n_docs", "sum_dl", "n_buckets")
    // write a sibling dir, then swap it in by rename: an overwrite in
    // place of the stats row just read could crash into a stats-less layout
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dst = new org.apache.hadoop.fs.Path(s"$dir/stats")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/stats.new")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/stats.old")
    fs.delete(tmp, true)
    stats.write.parquet(tmp.toString)
    fs.delete(bak, true)
    if (!fs.rename(dst, bak) || !fs.rename(tmp, dst))
      sys.error(s"postingsAppend: stats rename failed for $dir")
    fs.delete(bak, true)
  }

  /**
   * Small-file compaction for a postings layout: every [[postingsAppend]]
   * lands one parquet file set per bucket directory (plus one under
   * `doclen`), so a layout ingesting a window every few minutes
   * accumulates files forever — at 100 TB that is the classic
   * small-file death spiral (open/seek cost dwarfs byte cost, NameNode/
   * listing pressure grows unbounded). This OPTIMIZE-style maintenance
   * job rewrites `postings` back to `filesPerBucket` files per bucket
   * and `doclen` to ~`rowsPerFile` rows per file, then swaps each
   * directory into place with the same rename dance as the stats
   * rewrite (a crash leaves either the old or the new layout, never a
   * half-compacted one). Contents are byte-identical for serving —
   * `LayoutSpec` pins score parity and the file-count drop — and the
   * stats sidecar is untouched (row counts don't change), so appends
   * keep working after compaction.
   */
  def postingsCompact(spark: SparkSession, dir: String,
                      filesPerBucket: Int = 1,
                      rowsPerFile: Long = 4000000L): Unit = {
    require(filesPerBucket > 0 && rowsPerFile > 0, "positive targets required")
    val nBuckets = postingsBuckets(spark, dir)
    // shuffle keyed on (bucket, tok-salt mod filesPerBucket): a bucket's
    // rows land in at most filesPerBucket distinct tasks, so partitionBy
    // writes at most filesPerBucket files into each bucket directory.
    // (Keying on raw tok would spread one bucket over every task and
    // FAN OUT files instead of compacting them.)
    spark.read.parquet(s"$dir/postings")
      .withColumn("__salt",
        pmod(Sampling.hash32(col("tok")), lit(filesPerBucket)).cast("int"))
      .repartition(nBuckets * filesPerBucket, col("bucket"), col("__salt"))
      .drop("__salt")
      .sortWithinPartitions("bucket", "tok") // restore tight tok row-group stats
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings.compact")
    val nDocs = spark.read.parquet(s"$dir/stats")
      .select("n_docs").collect()(0).getLong(0)
    val dlParts = math.max(1L, (nDocs + rowsPerFile - 1) / rowsPerFile).toInt
    spark.read.parquet(s"$dir/doclen")
      .repartition(dlParts)
      .write.mode("overwrite").parquet(s"$dir/doclen.compact")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    swapDir(fs, s"$dir/postings")
    swapDir(fs, s"$dir/doclen")
  }

  /** Atomically promote `<path>.compact` over `<path>` (old → `.old`,
    * compact → live, drop `.old`). */
  private def swapDir(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val next = new org.apache.hadoop.fs.Path(s"$path.compact")
    val bak = new org.apache.hadoop.fs.Path(s"$path.old")
    fs.delete(bak, true)
    if (!fs.rename(live, bak) || !fs.rename(next, live))
      sys.error(s"compact: directory swap failed for $path")
    fs.delete(bak, true)
  }

  /** Rewrite an ANN layout's data dir with its own build writer — one
    * file per partition directory, sized from the sidecar quantizer so
    * no scan or listing precedes the one full read — then [[swapDir]]
    * it into place: the ANN-layout half of the [[postingsCompact]]
    * maintenance story. `preSwap` runs after the `.compact` write,
    * before the promotion (sidecar carry-over for layouts whose data dir
    * is the root). */
  private def compactPartitioned(spark: SparkSession, path: String,
                                 rewrite: (DataFrame, String) => Unit,
                                 preSwap: org.apache.hadoop.fs.FileSystem => Unit = _ => ()): Unit = {
    rewrite(spark.read.parquet(path), s"$path.compact")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    preSwap(fs)
    swapDir(fs, path)
  }

  /** Small-file compaction for an [[ivfWrite]] layout (the data dir IS
    * the layout root, so the centroid sidecar is carried into the
    * compacted dir before the swap). Serving parity and
    * append-after-compact are spec-pinned for all four ANN compacts. */
  def ivfCompact(spark: SparkSession, dir: String): Unit =
    compactPartitioned(spark, dir,
      writeCells(_, readIvfCentroids(spark, dir).length, _, mode = "overwrite"),
      preSwap = fs => org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$dir/_centroids.tsv"), fs,
        new org.apache.hadoop.fs.Path(s"$dir.compact/_centroids.tsv"),
        false, spark.sessionState.newHadoopConf()): Unit)

  /** Small-file compaction for a [[pqWrite]] layout's codes dir. */
  def pqCompact(spark: SparkSession, dir: String): Unit =
    compactPartitioned(spark, s"$dir/codes",
      writeCells(_, readIvfCentroids(spark, dir).length, _, mode = "overwrite"))

  /** Small-file compaction for an [[imiWrite]] layout's data dir: the
    * merged files are re-sorted by (cell1, cell2) ≡ pair so their
    * row-group stats stay tight. It also rewrites a layout in the
    * retired `pair=` directory shape into the current one. */
  def imiCompact(spark: SparkSession, dir: String): Unit =
    compactPartitioned(spark, s"$dir/data",
      writeImiPartitioned(_, readImiCentroids(spark, dir), _, mode = "overwrite"))

  /** Small-file compaction for an [[imiPqWrite]] layout's codes dir
    * (see [[imiCompact]]). */
  def imiPqCompact(spark: SparkSession, dir: String): Unit =
    compactPartitioned(spark, s"$dir/codes",
      writeImiPartitioned(_, readImiCentroids(spark, dir), _, mode = "overwrite"))

  /** Parquet data files under a layout subdirectory (recursive; excludes
    * _SUCCESS etc.) — the compaction gate's measurement. */
  def dataFileCount(spark: SparkSession, path: String): Int =
    spark.read.parquet(path).inputFiles.length

  /** The bucket a term's postings live in (driver-side twin of the
    * writer's `hash32 % nBuckets`). */
  def postingsBucket(term: String, nBuckets: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = md.take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % nBuckets).toInt
  }

  /**
   * BM25 over a [[postingsWrite]] layout: identical scores to
   * [[TextAnalysis.bm25]] (same expression shapes, exact avgdl from the
   * stored long sums), but the corpus scan is replaced by a
   * bucket-pruned postings read — `bucket IN (query buckets)` is a
   * partition filter, `tok IN (terms)` prunes within the bucket.
   */
  def bm25FromLayout(spark: SparkSession, dir: String, query: Seq[String],
                     k1: Double = 1.2, b: Double = 0.75,
                     idCol: String = "doc_id"): DataFrame = {
    require(query.nonEmpty, "bm25 needs at least one query term")
    val nBuckets = postingsBuckets(spark, dir) // the layout's, never a guess
    val buckets = query.map(postingsBucket(_, nBuckets)).distinct
    // dl rides IN the postings row (denormalized at build/append time),
    // so serving never joins the corpus-sized doclen table: that join
    // shuffled every matching posting against ALL doc lengths (measured
    // at 5M docs / 11.6M matching postings: 6.85 → 5.49 s, and it was
    // the only corpus-sized input on the serve path — the structural
    // bound at 100 TB, where a doclen join side cannot exist). What
    // remains is O(matching postings): the per-doc score aggregation.
    val tf = spark.read.parquet(s"$dir/postings")
      .where(col("bucket").isin(buckets: _*) && col("tok").isin(query: _*))
      .select(col(idCol), col("tok"), col("tf"), col("dl"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = spark.read.parquet(s"$dir/stats")
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val perTerm = tf
      .join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    perTerm.groupBy(col(idCol), col("dl"))
      .agg(round(sum(col("term_score")), 6).as("score"))
  }

  /** Min/max stats index over a parquet directory: one row per file,
    * (file, <c>_min, <c>_max) for each indexed column. Built with one
    * scan (an OPTIMIZE/ANALYZE-style maintenance job, not a query-time
    * cost); the result is small enough to collect or broadcast. */
  def statsIndex(spark: SparkSession, dataDir: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    spark.read.parquet(dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental index maintenance: stat ONLY files not yet indexed and
    * union with the prior index (dropping rows for deleted files). At
    * scale this is the difference between an O(new data) maintenance
    * tick after every ingest window and an O(table) rescan. */
  def statsIndexIncremental(spark: SparkSession, dataDir: String,
                            prior: DataFrame, cols: Seq[String]): DataFrame = {
    val current = spark.read.parquet(dataDir).inputFiles.toSet
    val known = prior.select("file").collect().map(_.getString(0)).toSet
    val fresh = (current -- known).toSeq.sorted
    val kept = prior.where(col("file").isin(current.toSeq: _*))
    if (fresh.isEmpty) kept
    else {
      val aggs = cols.flatMap(c =>
        Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
      val freshStats = spark.read.parquet(fresh: _*)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
      kept.unionByName(freshStats)
    }
  }

  /**
   * Rendezvous (highest-random-weight) shard routing: key → the shard
   * whose `md5(key ":" shard)` is lexicographically largest. The
   * placement function behind minimal-movement resharding: growing
   * n → n+1 shards moves ONLY the keys the new shard wins (≈ 1/(n+1)
   * of them), and every moved key lands on the NEW shard — no
   * shard-to-shard churn, unlike `hash(key) % n` which relocates
   * (n−1)/n of all keys (`LayoutSpec` pins both properties). Use it to
   * route documents to bucketed tables, state-store partitions, or
   * downstream services that must survive fleet growth.
   *
   * A narrow codegen'd projection (n md5s + an array_max over (hash,
   * shard) structs — ties impossible, md5 collisions aside); no RNG
   * state, engine-portable (the SQL oracle is DuckDB's `arg_max` over
   * the same strings).
   */
  def shardRoute(key: Column, nShards: Int): Column = {
    require(nShards > 0, "need at least one shard")
    array_max(array((0 until nShards).map(s =>
      struct(md5(concat(key.cast("string"), lit(":" + s))).as("h"),
        lit(s).as("shard"))): _*)).getField("shard")
  }

  /** Range-pruned read: scan only files whose [min,max] interval for
    * `column` intersects [lo, hi], then apply the exact filter. Result
    * is identical to filtering the full scan; only the I/O differs.
    * Returns (dataframe, filesRead, filesTotal). */
  def prunedRead(spark: SparkSession, dataDir: String, index: DataFrame,
                 column: String, lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val total = index.count().toInt
    val files = index
      .where(!(col(s"${column}_max") < lo || col(s"${column}_min") > hi))
      .select("file").collect().map(_.getString(0))
    val df =
      if (files.isEmpty)
        spark.read.parquet(dataDir).where(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    (df.where(col(column) >= lo && col(column) <= hi), files.length, total)
  }
}
