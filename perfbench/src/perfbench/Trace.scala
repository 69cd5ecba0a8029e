package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span around a call the benchmark makes into a layer. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startMs: Long, startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs, stages, tasks, shuffleRead, shuffleWrite, spill = 0L
  var runMs, cpuNs, peakMem = 0L
  var filesWritten = 0L
  var planningMs, execMs = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; runMs += o.runMs; cpuNs += o.cpuNs
    peakMem = math.max(peakMem, o.peakMem)
    filesWritten += o.filesWritten
    planningMs += o.planningMs; execMs += o.execMs
  }
}

/** Filesystem operations counted at the Hadoop `FileSystem` seam. */
object FsOps {
  val reads, lists, writes, bytesWritten = new AtomicLong
  def snapshot(): Map[String, Long] = Map(
    "read_ops" -> reads.get, "list_ops" -> lists.get,
    "write_ops" -> writes.get, "bytes_written" -> bytesWritten.get)
}

/** The local filesystem with operation counters. Registered for the
  * `file` scheme in every run, traced or not, so both run the same code.
  * Catalog, Ingestion and the streaming file source all reach storage
  * through this seam.
  */
class CountingFileSystem extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    FsOps.lists.incrementAndGet(); super.listStatus(p)
  }
  override def globStatus(p: Path): Array[FileStatus] = {
    FsOps.lists.incrementAndGet(); super.globStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    FsOps.reads.incrementAndGet(); super.getFileStatus(p)
  }
  override def open(p: Path, bufferSize: Int) = {
    FsOps.reads.incrementAndGet(); super.open(p, bufferSize)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsOps.writes.incrementAndGet()
    val out = super.create(p, perm, overwrite, bufferSize, replication,
      blockSize, progress)
    new FSDataOutputStream(out, null) {
      override def close(): Unit = {
        FsOps.bytesWritten.addAndGet(getPos)
        super.close()
      }
    }
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsOps.writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FsOps.writes.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    FsOps.writes.incrementAndGet(); super.mkdirs(p, perm)
  }
}

/** Spans in memory plus the listeners that attribute Spark work to them.
  * While not `active` every `span` call just runs its body, and no
  * listener is registered: untraced work makes exactly the same calls into
  * the program.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  /** Loop unit stamped on new spans; -1 marks set-up work. */
  var iter = 0
  var active = false

  /** Registers the listeners and starts recording spans. */
  def on(): Unit = if (!active) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
    active = true
  }

  /** Stops recording once every event posted so far is delivered. */
  def off(): Unit = if (active) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
    active = false
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), iter,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s.id :: stack
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
      }
    }

  val bySpan = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()
  def counters(id: Int): Counters = bySpan.computeIfAbsent(id, _ => new Counters)

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  val jobs: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      sp.map(_.toInt).foreach { id =>
        e.stageIds.foreach(stageSpan.put(_, id))
        counters(id).jobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(counters(_).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val c = counters(id)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        }
      }
  }

  /** Query phases land on the listener bus without the caller's local
    * properties, so each is attributed to the innermost span whose wall
    * interval holds its analysis start.
    */
  private val queries = new ConcurrentLinkedQueue[(Long, Double, Double, Long)]()
  val plans: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) {
        val files = qe.executedPlan.collect {
          case w: DataWritingCommandExec =>
            w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
        queries.add((ph.map(_.startTimeMs).min,
          ph.map(_.durationMs).sum.toDouble, ns / 1e6, files.sum))
      }
    }
    override def onFailure(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  /** `StreamingQueryProgress.durationMs` per micro-batch, in arrival order. */
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  /** Innermost recorded span covering wall time `ms`, or -1. */
  def spanAt(ms: Long): Int = {
    var best = -1
    var i = spans.size - 1
    while (i >= 0) {
      val s = spans(i)
      if (s.startMs <= ms && ms <= s.endMs &&
          (best < 0 || s.startMs >= spans(best).startMs)) best = i
      i -= 1
    }
    best
  }

  /** Folds the queued query records into their spans; call after draining. */
  def settle(): Unit = {
    var q = queries.poll()
    while (q != null) {
      val id = spanAt(q._1)
      if (id >= 0) {
        val c = counters(id)
        c.planningMs += q._2
        c.execMs += q._3
        c.filesWritten += q._4
      }
      q = queries.poll()
    }
  }

  /** Counters of span `id` plus all of its descendants. */
  def total(id: Int): Counters = {
    val c = new Counters
    spans.foreach { s =>
      var p = s.id
      while (p >= 0 && p != id) p = spans(p).parent
      if (p == id) Option(bySpan.get(s.id)).foreach(c.add)
    }
    c
  }

  /** Span duration minus the part of it that child spans cover. */
  def selfSeconds(id: Int): Double = {
    val s = spans(id)
    val kids = spans.filter(_.parent == id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var cur = (0L, 0L)
    kids.foreach { k =>
      if (k._1 > cur._2) { covered += cur._2 - cur._1; cur = k }
      else cur = (cur._1, math.max(cur._2, k._2))
    }
    covered += cur._2 - cur._1
    s.seconds - covered / 1e9
  }
}
