package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, format_string}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, JobLog}
import graft.ingest.TableSwap

/** [[StageCache.table]]: a serving table is opened once per session and
  * file tree. A cold open of a 256-cell partitioned table lists it in
  * one job bounded by the session's shuffle partitions, a warm open runs
  * no partition-discovery job, a [[TableSwap]] rewrite reopens it, and
  * disposing of an opened table never uncaches another slot's stage.
  */
class StageCacheTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[2]", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("stage-cache-table")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      StageCache.release(spark)
      spark.stop()
    }
    TableSwap.rmTreeAt(dir.toString)
  }

  /** Rows `from until from + 512`, partitioned into all 256 term_bucket
    * cells (`b00` … `bff`). */
  private def writeBuckets(path: String, from: Long): Unit =
    spark.range(from, from + 512)
      .withColumn("term_bucket", format_string("b%02x", col("id") % 256))
      .repartition(2, col("term_bucket"))
      .write.partitionBy("term_bucket").parquet(path)

  private def ids(df: DataFrame): Seq[Long] =
    df.filter(col("term_bucket") === "b07").select(col("id"))
      .collect().map(_.getLong(0)).toSeq.sorted

  test("a warm open lists nothing; a swap reopens; release drops the slot") {
    val path = s"$dir/buckets"
    writeBuckets(path, 0)
    val (cold, coldJobs) = JobLog.during(spark) {
      val t = StageCache.table(spark, path)
      assert(ids(t) == Seq(7L, 263L))
      t
    }
    val listings = coldJobs.filter(_.isListing)
    assert(listings.size == 1 && listings.forall(_.tasks <= 2),
      "the cold open must list its 256 cells in one job of at most the " +
        s"session's 2 shuffle partitions as tasks: $coldJobs")

    val (warm, warmJobs) = JobLog.during(spark) {
      val t = StageCache.table(spark, path)
      assert(ids(t) == Seq(7L, 263L))
      t
    }
    assert(warm eq cold)
    assert(warmJobs.nonEmpty &&
      warmJobs.forall(j => !j.isListing && j.tasks < 32),
      "a warm open plus a pruned collect must run no listing job and no " +
        s"wide job: $warmJobs")

    TableSwap.swap(path)(staging => writeBuckets(staging, 1000))
    val swapped = StageCache.table(spark, path)
    assert(swapped ne cold)
    assert(ids(swapped) == Seq(1031L, 1287L),
      "the open after a swap must read the rewritten table")

    StageCache.release(spark)
    assert(StageCache.table(spark, path) ne swapped)
  }

  test("disposing of an opened table keeps a cached stage over its path") {
    val path = s"$dir/shared"
    writeBuckets(path, 0)
    val stage = StageCache.getOrCache(spark, "table-spec:stage") {
      spark.read.parquet(path)
    }
    assert(stage.count() == 512)
    assert(stage.storageLevel != StorageLevel.NONE)

    // released: another session's slot over the same path
    val other = spark.newSession()
    StageCache.table(other, path).count()
    StageCache.release(other)
    assert(stage.storageLevel != StorageLevel.NONE,
      "releasing an opened table uncached another slot's stage")

    // reopened: the tree changes, so the old opened table is replaced
    StageCache.table(spark, path).count()
    spark.range(1).withColumn("term_bucket", format_string("b%02x", col("id")))
      .write.mode("append").partitionBy("term_bucket").parquet(path)
    assert(StageCache.table(spark, path).count() == 513)
    assert(stage.storageLevel != StorageLevel.NONE,
      "reopening a table uncached another slot's stage")
    StageCache.release(spark)
  }
}
