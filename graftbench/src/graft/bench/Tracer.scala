package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into each layer, with the Spark work
  * each call caused. A span's jobs are found by the local property
  * [[Tracer.SpanKey]], which [[span]] sets on the calling thread, so two
  * clients serving at once never share counts. Spans stay in memory until
  * the run ends. A disabled tracer runs the body and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val counts = new ConcurrentHashMap[Long, Counts]
  private val stageSpan = new ConcurrentHashMap[Int, Long]

  private val listener = new SparkListener {
    private def of(span: Long) = counts.computeIfAbsent(span, _ => new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      p.foreach { s =>
        val id = s.toLong
        of(id).jobs.increment()
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => of(id).stages.increment())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = of(id)
        c.tasks.increment()
        val m = e.taskMetrics
        if (m != null) {
          c.readBytes.add(m.inputMetrics.bytesRead)
          c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          c.writeBytes.add(m.outputMetrics.bytesWritten)
        }
      }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` as span `name` of request `req`; nested calls become its
    * children. */
  def span[A](name: String, req: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId.getAndIncrement()
      val parent: Long = current.get
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, req, t0, System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Every span with the Spark work attributed to it (its own, not its
    * children's), once the listener bus has drained. */
  def finish(): Seq[(Span, Counts)] = {
    if (!enabled) return Nil
    org.apache.spark.sql.graft.VolumeWitness.sync(spark)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.id).map(s =>
      s -> Option(counts.get(s.id)).getOrElse(new Counts))
  }
}

object Tracer {
  val SpanKey = "graft.bench.span"

  final case class Span(id: Long, parent: Long, name: String, req: String,
      startNs: Long, endNs: Long)

  final class Counts {
    val jobs, stages, tasks, readBytes, shuffleBytes, writeBytes = new LongAdder
  }
}
