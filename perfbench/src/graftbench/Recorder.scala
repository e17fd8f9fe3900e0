package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed interval. `layer` is the repo module the call went into
  * (`table`, `core`, `spark`, `service`, `streaming`), `executor` for a Spark
  * job, `client` for the benchmark's own round and op spans.
  */
final class Span(val id: Int, val parent: Int, val op: Int, val round: Int,
    val layer: String, val name: String, val start: Long) {
  var end: Long = -1L
  def ms: Double = (end - start) / 1e6
}

/** Times the benchmark's calls into the engine from its single client thread.
  *
  * Every round is a root span `round`. Inside it, a `batch` span covers one
  * ingest batch from its commit through the read that sees it, and every op
  * (kind `commit`, `read` or `lookup`) is a span with an op id of its own.
  * Round, batch and op latencies are always kept.
  * In a traced run, calls into engine modules inside rounds are wrapped in
  * layer spans, and Spark jobs are attributed to spans: each job carries the op and
  * span id in local properties the client thread sets; a job started from an
  * engine-owned thread pool (whose inherited properties may be stale) falls
  * back to the innermost span open when it started, which is exact with one
  * client thread. Spans stay in memory until [[writeTrace]].
  */
final class Recorder(spark: SparkSession, tracing: Boolean) {
  import Recorder._
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def epochMsToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  /** Latencies by kind: `round`, `batch`, `commit`, `read`, `lookup`. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Op latencies by kind and name, such as `read.spj`. */
  val opSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  private var stack: List[Span] = Nil
  private var nextId = 1
  private var curRound = -1
  private var traceRound = false
  private val listener = if (tracing) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)

  def traced: Boolean = traceRound

  private def open(layer: String, name: String, newOp: Boolean = false): Span = {
    val parent = stack.headOption
    val id = nextId; nextId += 1
    val s = new Span(id, parent.map(_.id).getOrElse(0),
      if (newOp) id else parent.map(_.op).getOrElse(id), curRound, layer, name, System.nanoTime())
    stack = s :: stack
    if (traceRound) {
      spans += s
      sc.setLocalProperty(OpProp, s.op.toString)
      sc.setLocalProperty(SpanProp, id.toString)
    }
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.tail
    if (traceRound) stack.headOption match {
      case Some(p) => sc.setLocalProperty(SpanProp, p.id.toString)
      case None =>
        sc.setLocalProperty(OpProp, null)
        sc.setLocalProperty(SpanProp, null)
    }
  }

  /** One measured closed-loop round, traced when the run is. */
  def round[A](n: Int)(f: => A): A = {
    curRound = n
    traceRound = tracing
    val s = open("client", "round")
    try f
    finally {
      close(s)
      sample("round", s.ms)
      traceRound = false
    }
  }

  /** One ingest batch inside a round: its commit through the read that sees
    * it (read-your-writes).
    */
  def batch[A](f: => A): A = {
    val s = open("client", "batch")
    try f finally { close(s); sample("batch", s.ms) }
  }

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** One client operation. A failure is counted, reported and swallowed:
    * the closed loop goes on, and the run fails at its end.
    */
  def op[A](kind: String, name: String = "")(f: => A): Option[A] = {
    attempted += 1
    val s = open("client", if (name.isEmpty) kind else s"$kind.$name", newOp = true)
    try {
      val out = f
      close(s)
      sample(kind, s.ms)
      opSamples.getOrElseUpdate(s.name, mutable.ArrayBuffer.empty) += s.ms
      Some(out)
    } catch {
      case e: Exception =>
        close(s)
        failed += 1
        System.err.println(s"graftbench: $kind op failed: $e")
        e.printStackTrace(System.err)
        None
    }
  }

  /** A call into an engine module; a plain call outside traced rounds. */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!traceRound) f
    else {
      val s = open(layer, name)
      try f finally close(s)
    }

  /** Spark jobs of traced rounds as executor spans, attributed to spans. */
  lazy val jobSpans: Seq[(Span, JobRec)] = listener.toSeq.flatMap { l =>
    l.finishedJobs.flatMap { j =>
      val startNs = epochMsToNs(j.startMs)
      val endNs = math.max(epochMsToNs(j.endMs), startNs)
      // event times have millisecond resolution: allow one ms of slack
      def openAt(s: Span) = s.start - 1000000L <= startNs && startNs <= s.end
      val byProp = j.spanProp.flatMap(id => spanById.get(id)).filter(s =>
        j.opProp.contains(s.op) && openAt(s))
      val parent = byProp.orElse {
        val open = spans.filter(openAt)
        if (open.isEmpty) None else Some(open.maxBy(_.start))
      }
      parent.map { p =>
        val s = new Span(-j.jobId - 1, p.id, p.op, p.round, "executor",
          s"job-${j.jobId}", math.max(startNs, p.start))
        s.end = math.max(math.min(endNs, p.end), s.start)
        (s, j)
      }
    }
  }

  private lazy val spanById: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  /** Self time per layer: every instant of a traced round is charged to
    * the deepest span open at that instant (split evenly when several are,
    * as with concurrent jobs), so the layers' self times add up to the
    * round's wall time exactly.
    */
  lazy val selfNsByLayer: Map[String, Long] = {
    val all = spans.toSeq ++ jobSpans.map(_._1)
    val depth = mutable.Map.empty[Int, Int]
    val byId = all.map(s => s.id -> s).toMap
    def depthOf(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).map(depthOf(_) + 1).getOrElse(0))
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.groupBy(_.round).values.foreach { rs =>
      val cuts = rs.flatMap(s => Seq(s.start, s.end)).distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val open = rs.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) {
          val d = open.map(depthOf).max
          val deepest = open.filter(depthOf(_) == d)
          deepest.foreach(s => out(s.layer) += (b - a).toDouble / deepest.size)
        }
      }
    }
    out.map { case (k, v) => k -> v.toLong }.toMap
  }

  def stop(): Unit = listener.foreach { l =>
    org.apache.spark.GraftBenchBus.drain(sc)
    sc.removeSparkListener(l)
  }

  /** Writes every span of the traced rounds as JSON lines. */
  def writeTrace(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      (spans.toSeq ++ jobSpans.map(_._1)).foreach { s =>
        w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""round": ${s.round}, "layer": ${Stats.str(s.layer)}, """ +
          s""""name": ${Stats.str(s.name)}, "start_ns": ${s.start - baseNs}, """ +
          s""""end_ns": ${s.end - baseNs}}""")
      }
    } finally w.close()
  }

  /** Collects job intervals and task metrics on the listener bus thread. */
  final class JobListener extends SparkListener {
    private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
    private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()

    def finishedJobs: Seq[JobRec] = {
      val out = mutable.ArrayBuffer.empty[JobRec]
      done.forEach(j => out += j)
      out.toSeq
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e)

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = starts.remove(e.jobId)
      if (s != null) {
        def prop(k: String) = Option(s.properties).flatMap(p => Option(p.getProperty(k)))
          .flatMap(_.toIntOption)
        done.add(JobRec(e.jobId, s.time, e.time, prop(OpProp),
          prop(SpanProp),
          s.stageIds.flatMap(id => Option(stageAgg.get(id)))))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg.computeIfAbsent(e.stageId, _ => StageAgg())
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          val info = e.taskInfo
          a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

object Recorder {
  val OpProp = "graftbench.op"
  val SpanProp = "graftbench.span"

  final case class StageAgg(var tasks: Long = 0, var runMs: Long = 0,
      var cpuNs: Long = 0, var gcMs: Long = 0, var schedDelayMs: Long = 0,
      var shuffleWrite: Long = 0, var shuffleRead: Long = 0, var spill: Long = 0,
      var input: Long = 0, var output: Long = 0)

  final case class JobRec(jobId: Int, startMs: Long, endMs: Long,
      opProp: Option[Int], spanProp: Option[Int], stages: Seq[StageAgg])
}
