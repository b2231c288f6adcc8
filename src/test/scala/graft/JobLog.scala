package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.VolumeWitness

/** One started Spark job: its task count over all stages, its
  * description and its stages' names (`<action> at <File>.scala:<line>`,
  * the call site that started it). */
final case class JobRecord(tasks: Int, description: String,
    stages: Seq[String] = Nil) {

  /** Spark's parallel partition discovery: the job a table open runs
    * once a directory level holds more than 32 subdirectories. */
  def isListing: Boolean = description.startsWith("Listing leaf files")
}

/** The Spark jobs `body` starts — the witness for what an action re-reads
  * beyond its data (file listings, schema inference). */
object JobLog {
  def during[A](spark: SparkSession)(body: => A): (A, Seq[JobRecord]) = {
    val jobs = new ConcurrentLinkedQueue[JobRecord]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(JobRecord(e.stageInfos.map(_.numTasks).sum,
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""), e.stageInfos.map(_.name)))
    }
    VolumeWitness.sync(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      VolumeWitness.sync(spark)
      (a, jobs.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
