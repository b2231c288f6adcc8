package graft

import java.lang.management.ManagementFactory

import graft.queries.StageCache
import graft.search.Hnsw

/** Measures the driver heap a restored flat HNSW graph holds per byte of
  * its adjacency on disk: the expansion factor behind
  * `VectorSearch.ResidentExpansion`, and the SCALE.md "Resident dense
  * graph" table.
  *
  * `sbt "Test/runMain graft.ResidentHeapGen <n> [<shards> [<dim>]]"` builds
  * an index of `n` seeded vectors (ids of fragment-id length), or
  * `sbt "Test/runMain graft.ResidentHeapGen <adjacency dir>"` measures an
  * existing one. The heap figure is live heap after full collections
  * with `copies` restored graphs held, less live heap with none, over
  * `copies`: several copies lift a small graph above the collector's
  * noise.
  */
object ResidentHeapGen {
  private def liveHeap(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 4).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[2]", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val path = args.headOption.filterNot(_.forall(_.isDigit)).getOrElse {
      val n = args.headOption.map(_.toInt).getOrElse(150)
      val shards = args.lift(1).map(_.toInt).getOrElse(4)
      val dim = args.lift(2).map(_.toInt).getOrElse(64)
      val rnd = new scala.util.Random(7L)
      val rows = (0 until n).map { i =>
        (f"${rnd.nextLong().abs % 1000000000000L}%012d-$i-${i * 31}%08x",
          Array.fill(dim)(rnd.nextGaussian().toFloat))
      }
      val dir = java.nio.file.Files.createTempDirectory("resident_heap")
        .resolve("adj").toString
      Hnsw.saveIndex(rows.toDF("fragment_id", "vector"), dir, shards)
      dir
    }
    val (_, diskBytes) = StageCache.treeStat(path, "")
    val adj = spark.read.parquet(path)
    val nodes = adj.count()
    Hnsw.restoreServing(adj) // warm the code path before measuring
    val copies = math.max(2, math.min(64, (64L << 20) / (diskBytes * 8)).toInt)
    val before = liveHeap()
    val held = (0 until copies).map(_ => Hnsw.restoreServing(adj))
    val after = liveHeap()
    val perCopy = (after - before).toDouble / copies
    // scalastyle:off println
    println(f"resident nodes=$nodes disk_bytes=$diskBytes copies=$copies " +
      f"heap_bytes=${perCopy}%.0f expansion=${perCopy / diskBytes}%.2f " +
      f"max_heap_mb=${Runtime.getRuntime.maxMemory / 1048576.0}%.0f " +
      s"shards=${held.head.numShards}")
    // scalastyle:on println
    spark.stop()
  }
}
