package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical table layout for the entity store at scale.
  *
  * The reference's secondary indexes (GIN/BTREE on hot metadata keys,
  * storage/schema.py:86-119) map to columnar layout choices in Spark:
  *
  *  - **Bucketing** on the join key: two tables bucketed `bucketBy(n, k)`
  *    + `sortBy(k)` join WITHOUT a shuffle (co-located sort-merge) — the
  *    equivalent of the reference's FK indexes for repeated
  *    fragment⋈concept / embedding⋈parent joins. At 100 TB the bucket
  *    count is sized to ~1 GB/bucket-file per partition.
  *  - **Partition columns** for pruning equality filters (`view`, coarse
  *    `doc_bucket`, LSH `bucket` for ANN probes).
  *  - **Sort-within-partitions** on (view, lang) for row-group skipping on
  *    the reference's hot filter keys (min/max parquet stats).
  */
object TableLayout {

  /** Write a table bucketed+sorted on `key` so future equi-joins on `key`
    * between co-bucketed tables plan with zero Exchange.
    */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tableName)

  /** Layout for filter locality: partition by a low-cardinality column,
    * sort within partitions on the hot filter keys. Every partition cell
    * is exactly one file, and the cells are written by as many tasks as
    * the session has shuffle partitions: the shuffle names its partition
    * count, so AQE does not coalesce it (a `repartition(col)` of a small
    * table collapses into one task that writes every cell in turn). The
    * sort leads with the partition column: the writer needs its input
    * grouped by cell and otherwise sorts on that column alone, and the
    * optimizer then drops the sort on the filter keys.
    */
  def writePartitionedSorted(df: DataFrame, path: String,
      partitionCol: String, sortCols: Seq[String]): Unit =
    df.repartition(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        df.col(partitionCol))
      .sortWithinPartitions((partitionCol +: sortCols).map(df.col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** True when the physical plan of `df` contains no shuffle Exchange —
    * the check that a bucketed join actually co-located.
    */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  final case class CompactStats(
      partitionsCompacted: Int, filesBefore: Int, filesAfter: Int)

  /** Small-file compaction — the table-maintenance job every streaming or
    * incremental ingest needs at 100 TB: micro-batches and per-partition
    * index updates leave many files far below the row-group sweet spot, and
    * scans then pay per-file open/footer cost and lose row-group-stat
    * skipping. For each partition directory holding more data files than
    * `ceil(bytes / targetBytes)`, the partition is rewritten into that many
    * files (each re-sorted on `sortCols`, preserving the
    * [[writePartitionedSorted]] file contract) and swapped into place with
    * the same crash-recoverable [[graft.ingest.TableSwap]] protocol the
    * entity tables and index partitions use. Partitions already compact are
    * not read, not rewritten, and stay byte-identical — compaction cost
    * scales with the fragmented fraction, never the table.
    *
    * Unpartitioned tables compact the root directory the same way.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
      sortCols: Seq[String]): CompactStats = {
    // close every directory stream — Files.list leaks one fd per call
    // otherwise, and a periodic-maintenance driver lists thousands of
    // partition dirs per sweep
    def ls(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
      } finally s.close()
    }
    val root = java.nio.file.Paths.get(path)
    val partDirs = ls(root).filter(p =>
      java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.matches("[^=]+=.*"))
    val targets = if (partDirs.nonEmpty) partDirs else Seq(root)

    var compacted = 0
    var before = 0
    var after = 0
    targets.foreach { dir =>
      val dataFiles = ls(dir)
        .filter(f => f.getFileName.toString.endsWith(".parquet") &&
          !f.getFileName.toString.startsWith("."))
      before += dataFiles.size
      val bytes = dataFiles.map(java.nio.file.Files.size).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (dataFiles.size > nOut) {
        compacted += 1
        val part = spark.read.parquet(dir.toString)
        val sorted = part.coalesce(nOut)
          .sortWithinPartitions(sortCols.map(part.col): _*)
        graft.ingest.TableSwap.swap(dir.toString) { staging =>
          sorted.write.parquet(staging)
        }
        // report what actually landed, not the plan: coalesce(nOut) is an
        // upper bound (a source with fewer partitions writes fewer files)
        after += ls(dir).count(f =>
          f.getFileName.toString.endsWith(".parquet") &&
            !f.getFileName.toString.startsWith("."))
      } else after += dataFiles.size
    }
    CompactStats(compacted, before, after)
  }

  /** Morton (Z-order) clustering value over `cols` — multi-dimensional
    * data skipping, the lakehouse answer to "no single sort order serves
    * a box predicate on two keys". Each column is min-max scaled onto
    * `bits` bits (one aggregate job for the stats), then the bits are
    * interleaved (column i's bit b lands at position b·n+i), so rows
    * close in EVERY dimension land close in the one-dimensional sort.
    * Files/row groups written in z order then carry TIGHT min/max stats
    * on all participating columns at once, and parquet row-group pruning
    * serves `a BETWEEN .. AND b BETWEEN ..` boxes that a single-column
    * sort can only serve for its leading key. The interleave is a static
    * shiftright/and/shiftleft expression tree — codegen'd, no UDF.
    *
    * `bits` defaults to 16 (two columns fill 32 bits of the long);
    * n·bits must stay ≤ 63.
    */
  def zOrderValue(df: DataFrame, cols: Seq[String], bits: Int = 16): Column = {
    require(cols.nonEmpty && cols.length * bits <= 63,
      s"${cols.length} cols x $bits bits exceeds a long")
    val statExprs = cols.flatMap(c => Seq(min(col(c)).cast("double"),
      max(col(c)).cast("double")))
    val statsRow = df.agg(statExprs.head, statExprs.tail: _*).head()
    // empty input or an all-null column has no stats: degrade to an
    // unclustered (constant-z) layout rather than NPE inside the write
    if ((0 until 2 * cols.length).exists(statsRow.isNullAt)) return lit(0L)
    val maxV = (1L << bits) - 1
    val n = cols.length
    val scaled: Seq[Column] = cols.zipWithIndex.map { case (c, i) =>
      val lo = statsRow.getDouble(2 * i)
      val hi = statsRow.getDouble(2 * i + 1)
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(lit(maxV), greatest(lit(0L),
        floor((col(c).cast("double") - lit(lo)) / lit(span) * lit(maxV.toDouble))
          .cast("long")))
    }
    (for {
      b <- 0 until bits
      (c, i) <- scaled.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i))
      .reduce(_.bitwiseOR(_))
  }

  /** Write `df` z-ordered on `cols` into `files` range-partitioned files:
    * each file covers one z-range, so its parquet stats are tight in all
    * `cols` simultaneously and box predicates prune at the row-group
    * level. (At 100 TB `files` is sized to ~1 GB each and the same value
    * feeds periodic [[compact]]ion runs.)
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
      files: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zOrderValue(df, cols, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
}
