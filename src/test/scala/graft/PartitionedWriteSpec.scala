package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.VolumeWitness
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.search.LexIndex
import graft.sources.TableLayout

/** Partitioned writes run on every core: the lex index build writes the
  * postings, the forward sidecar and the lexicon each from as many tasks
  * as the session has shuffle partitions, every partition cell is still
  * exactly one file, and each file is sorted on the write's sort
  * columns. A `repartition(col)` before the write would let AQE coalesce
  * the shuffle of so small a table into one task that writes every cell
  * in turn.
  */
class PartitionedWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[2]", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("partitioned-write")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    graft.ingest.TableSwap.rmTreeAt(dir.toString)
  }

  /** stage id → how many of its tasks wrote output bytes, over `body`. */
  private def writerTasksPerStage(body: => Unit): Map[Int, Int] = {
    val writers = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null &&
            e.taskMetrics.outputMetrics.bytesWritten > 0)
          writers.add(e.stageId)
    }
    VolumeWitness.sync(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; VolumeWitness.sync(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    writers.asScala.toSeq.groupBy(identity).view.mapValues(_.size).toMap
  }

  /** partition cell dir name → its data files. */
  private def cellFiles(table: String): Map[String, Seq[String]] =
    new java.io.File(table).listFiles().toSeq.filter(_.isDirectory)
      .map(cell => cell.getName ->
        cell.list().toSeq.filter(_.endsWith(".parquet")))
      .toMap

  test("the lex index build writes every table from all tasks, one file " +
      "per cell") {
    val s = spark
    import s.implicits._
    val td = s"$dir/tables"
    // 24 fragments over 120 distinct words: the postings and the lexicon
    // span far more than 32 term_bucket cells
    (0 until 24).map { i =>
      (s"f$i", f"doc$i%02d",
        (0 until 5).map(j => s"w${i * 5 + j}x").mkString("fragment ", " ", ""))
    }.toDF("id", "document_id", "content")
      .write.parquet(s"$td/fragments")

    val writers = writerTasksPerStage { LexIndex.build(spark, td) }
    assert(writers.size == 3,
      s"postings, forward and lexicon: one write stage each: $writers")
    assert(writers.values.forall(_ == 2),
      s"each write stage must write from both of the session's 2 " +
        s"shuffle partitions: $writers")

    Seq(LexIndex.indexPath(td), LexIndex.dictPath(td)).foreach { t =>
      val cells = cellFiles(t)
      assert(cells.size > 32, s"$t spans only ${cells.size} cells")
      assert(cells.values.forall(_.size == 1),
        s"$t: every cell must hold exactly one file: " +
          cells.filter(_._2.size != 1))
    }
    val forward = cellFiles(LexIndex.forwardPath(td))
    assert(forward.size > 1 && forward.values.forall(_.size == 1),
      s"lex_forward: every cell must hold exactly one file: $forward")
  }

  test("a partitioned write keeps each file sorted on the sort columns") {
    val s = spark
    import s.implicits._
    val path = s"$dir/sorted"
    // 2,000 terms over 16 cells, arriving in no particular order
    val df = (0 until 2000).map(i => (s"t${(i * 7919) % 2000}", s"id$i"))
      .toDF("term", "id")
      .withColumn("term_bucket", LexIndex.bucketCol($"term").substr(1, 2))
    TableLayout.writePartitionedSorted(df, path, "term_bucket",
      Seq("term", "id"))
    val cells = new java.io.File(path).listFiles().toSeq.filter(_.isDirectory)
    assert(cells.size == 16)
    val unsorted = cells.map(_.getPath).filter { cell =>
      val rows = spark.read.parquet(cell).select("term", "id")
        .as[(String, String)].collect().toSeq
      rows != rows.sorted
    }
    assert(unsorted.isEmpty, s"cells not in (term, id) order: $unsorted")
  }
}
