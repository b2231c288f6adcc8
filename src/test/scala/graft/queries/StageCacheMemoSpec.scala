package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The session memo's slot contract: [[StageCache.release]] empties value
  * and stage slots alike, a changed fingerprint replaces (and disposes
  * of) the old value, one key is built once under concurrency, and a
  * build may ask for another key.
  */
class StageCacheMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[2]", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) {
      StageCache.release(spark)
      spark.stop()
    }
  }

  /** A value whose disposal is visible: closing deletes the directory. */
  private final class TempDir(val path: Path) extends AutoCloseable {
    def close(): Unit = graft.ingest.TableSwap.rmTreeAt(path.toString)
  }

  test("release empties value and stage slots: both rebuild") {
    val valueBuilds = new AtomicInteger
    val stageBuilds = new AtomicInteger
    def value(): Int =
      StageCache.memo(spark, "memo-spec:value", "fp")(valueBuilds.incrementAndGet())
    def stage(): DataFrame = StageCache.getOrCache(spark, "memo-spec:stage") {
      stageBuilds.incrementAndGet()
      spark.range(5).toDF()
    }
    value(); value()
    val df = stage()
    assert(stage() eq df)
    assert(df.count() == 5)
    assert((valueBuilds.get, stageBuilds.get) == ((1, 1)))
    assert(df.storageLevel != StorageLevel.NONE)
    StageCache.release(spark)
    assert(df.storageLevel == StorageLevel.NONE, "release must unpersist")
    assert(!StageCache.contains(spark, "memo-spec:stage"))
    assert(value() == 2)
    assert(stage() ne df)
    assert((valueBuilds.get, stageBuilds.get) == ((2, 2)))
  }

  test("a changed fingerprint rebuilds the value and closes the old one") {
    def tmp(fp: String)(build: => TempDir): TempDir =
      StageCache.memo(spark, "memo-spec:tmp", fp)(build)
    val first = tmp("fp1")(new TempDir(Files.createTempDirectory("memo-spec")))
    assert(Files.isDirectory(first.path))
    assert(tmp("fp1")(fail("same fingerprint must not rebuild")) eq first)
    val second = tmp("fp2")(new TempDir(Files.createTempDirectory("memo-spec")))
    assert(!Files.exists(first.path), "the replaced value was not closed")
    assert(Files.isDirectory(second.path))
    StageCache.release(spark)
    assert(!Files.exists(second.path), "release must close the value")
  }

  test("two threads on one key build it once") {
    val builds = new AtomicInteger
    val firstInside = new CountDownLatch(1)
    // only a second, concurrent build could count this down; with the
    // slot lock the second caller waits and the first build times out
    val secondBuilt = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def call(build: => DataFrame) = pool.submit(new Callable[DataFrame] {
      def call(): DataFrame = StageCache.getOrCache(spark, "memo-spec:race")(build)
    })
    try {
      val a = call {
        builds.incrementAndGet()
        firstInside.countDown()
        secondBuilt.await(2, TimeUnit.SECONDS)
        spark.range(3).toDF()
      }
      assert(firstInside.await(30, TimeUnit.SECONDS))
      val b = call {
        builds.incrementAndGet()
        secondBuilt.countDown()
        spark.range(3).toDF()
      }
      val (da, db) = (a.get(30, TimeUnit.SECONDS), b.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1, "one key was built twice")
      assert(da eq db)
    } finally {
      pool.shutdownNow()
      StageCache.release(spark)
    }
  }

  test("a build that asks for another key returns without error") {
    // a chain of nested builds: were any build run inside the map's own
    // update, keys sharing a bin would throw "Recursive update"
    def chain(i: Int): Int =
      if (i == 64) 0
      else StageCache.memo(spark, s"memo-spec:chain:$i", "")(chain(i + 1) + 1)
    assert(chain(0) == 64)
    val outer = StageCache.getOrCache(spark, "memo-spec:outer") {
      StageCache.getOrCache(spark, "memo-spec:inner")(spark.range(4).toDF())
        .selectExpr("id * 2 AS id")
    }
    assert(outer.count() == 4)
    assert(StageCache.contains(spark, "memo-spec:inner"))
    StageCache.release(spark)
  }
}
