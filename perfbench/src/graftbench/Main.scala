package graftbench

import graft.table.GraftTable
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What every workload gives the driver loop. */
trait Workload {
  /** Builds the initial state under `dir` (timed, several times, for setup_s). */
  def setup(dir: String): Unit
  /** Untimed work after the last set-up, such as building the model. */
  def afterSetup(): Unit = ()
  /** One closed-loop round: a few ops, each through `rec.op`. */
  def round(n: Int): Unit
  /** Untimed checks after a round; returns failures. */
  def checkRound(n: Int): Seq[String] = Nil
  /** Untimed checks of the final state; returns failures. */
  def checkFinal(): Seq[String]
  /** Table directories of the state the rounds ran on. */
  def tableDirs: Seq[String]
  /** Primary-key tables whose sorted runs the reads merge. */
  def pkTables: Seq[GraftTable]
  /** The table whose planning `core.plan_ms` times. */
  def planTable: GraftTable
  /** Logical bytes of user data sent in the measured rounds. */
  def roundBytesWritten: Long
  /** Logical bytes of user data live now. */
  def liveUserBytes: Long
  /** Nominal wall time of one round on the reference host: a run measures
    * a fixed number of rounds, `--seconds` / this, so that two commits
    * measure the same operations on the same table states.
    */
  def nominalRoundS: Double
}

/** Entry point:
  * {{{
  *   graftbench.Main --workload <lsm_ingest|dedup_ingest> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir>
  * }}}
  * Prints the result as the last line of stdout. Exit code 1 on a failed
  * output check or a failed op, 2 on any other failure (then with no result
  * line).
  */
object Main {
  val SetupRepeats = 3

  private val t0Process = System.nanoTime()
  private val phases = mutable.ArrayBuffer.empty[(String, Double)]
  /** Seconds since the JVM started this class, at the end of each phase. */
  private def phase(name: String): Unit = phases += name -> (System.nanoTime() - t0Process) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.hadoop." + graft.spark.NioLocalFileSystem.ConfKey,
        graft.spark.NioLocalFileSystem.ConfValue)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", classOf[graft.spark.v2.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", s"$work/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    // exit explicitly: a non-daemon thread left behind must not keep the
    // process alive
    val code =
      try { if (run(spark, workload, seed, seconds, tracing, work, cpus)) 0 else 1 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
      finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      tracing: Boolean, work: String, cpus: Int): Boolean = {
    val rec = new Recorder(spark, tracing)
    val layers = new LayerStats(spark, rec)
    val w: Workload = workload match {
      case "lsm_ingest" => new LsmIngest(spark, rec, layers, seed)
      case "dedup_ingest" => new DedupIngest(spark, rec, layers, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val errors = mutable.ArrayBuffer.empty[String]
    phase("inputs")

    // set-up: the same state built several times, each copy in a catalog
    // namespace of its own (`graft.state<i>`); the last copy is measured
    val setupS = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      w.setup(s"$work/catalog/state$i")
      (System.nanoTime() - t0) / 1e9
    }
    (1 until SetupRepeats).foreach(i => Files.deleteTree(s"$work/catalog/state$i"))
    w.afterSetup()
    phase("setup")

    // measured phase: a closed loop of rounds, checks between rounds
    layers.begin(w)
    val filesBefore = w.tableDirs.flatMap(Files.sizes).toMap
    val rounds = math.max(1, math.round(seconds / w.nominalRoundS).toInt)
    (0 until rounds).foreach { n =>
      rec.round(n)(w.round(n))
      errors ++= w.checkRound(n).map(e => s"round $n: $e")
      if (tracing) layers.afterTracedRound()
    }
    val heapMb = {
      // let Spark's listeners and context cleaner catch up first: what they
      // still hold after a slow stretch is backlog, not retained state. So
      // collect until two readings agree within 1 MB (at most ten times).
      val mx = java.lang.management.ManagementFactory.getMemoryMXBean
      def settled(): Double = {
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        System.gc()
        Thread.sleep(100)
        mx.getHeapMemoryUsage.getUsed / 1048576.0
      }
      var prev = settled()
      var cur = settled()
      var tries = 0
      while (math.abs(cur - prev) > 1.0 && tries < 10) { prev = cur; cur = settled(); tries += 1 }
      cur
    }
    // bytes the rounds wrote under the table directories: files new since
    // set-up (taken before the final check, which writes nothing)
    val roundFileBytes = w.tableDirs.flatMap(Files.sizes)
      .collect { case (p, n) if !filesBefore.contains(p) => n }.sum
    phase("measure")
    errors ++= w.checkFinal()
    rec.stop()
    phase("check")
    val correct = errors.isEmpty && rec.failed == 0

    val m = new Stats.Metrics
    if (!tracing) {
      val s = rec.samples
      def xs(kind: String) = s.getOrElse(kind, mutable.ArrayBuffer.empty[Double]).toSeq
      val roundMs = xs("round").sum
      val ops = Seq("commit", "read", "lookup").map(xs(_).size).sum
      m("setup_s", "s") = Stats.median(setupS)
      m("ops_per_s", "1/s") = ops / (roundMs / 1000.0)
      // a kind whose every op failed has no latency; the run has failed then
      def lat(prefix: String, kind: String): Unit = {
        val v = xs(kind)
        require(v.nonEmpty || !correct, s"no $kind samples")
        if (v.nonEmpty) {
          m(s"${prefix}_p50_ms", "ms") = Stats.median(v)
          m(s"${prefix}_tail_ms", "ms") = Stats.tail(v)
        }
      }
      lat("batch", "batch")
      lat("commit", "commit")
      lat("read", "read")
      lat("lookup", "lookup")
      m("write_amp", "ratio") = roundFileBytes.toDouble / w.roundBytesWritten
      m("space_amp", "ratio") = liveBytes(spark, w).toDouble / w.liveUserBytes
      m("heap_retained_mb", "MB") = heapMb
      val detail = s.filter(_._1 != "round").map { case (k, v) =>
        s"${Stats.str(k)}: {${Stats.str("n")}: ${v.size}, " +
          s"${Stats.str("tail")}: ${Stats.str(Stats.tailRule(v.size))}}"
      }.mkString("{", ", ", "}")
      System.err.println(s"""graftbench detail: {"workload": ${Stats.str(workload)}, "seed": $seed, """ +
        s""""cpus": $cpus, "rounds": $rounds, "setup_s": [${setupS.map(Stats.num).mkString(", ")}], """ +
        s""""round_ms": [${xs("round").map(Stats.num).mkString(", ")}], """ +
        s""""op_p50_ms": ${rec.opSamples.map { case (k, v) =>
          s"${Stats.str(k)}: ${Stats.num(Stats.median(v.toSeq))}" }.mkString("{", ", ", "}")}, """ +
        s""""samples": $detail, "phases_s": ${phases.map { case (k, v) =>
          s"${Stats.str(k)}: ${Stats.num(v)}" }.mkString("{", ", ", "}")}}""")
    } else {
      layers.report(m)
      rec.writeTrace(s"$work/../trace-$workload-$seed.jsonl")
    }

    errors.take(20).foreach(e => System.err.println(s"graftbench: CHECK FAILED: $e"))
    if (rec.failed > 0) System.err.println(s"graftbench: ${rec.failed} ops failed")
    println(s"""{"correct": $correct, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": ${m.json}}""")
    correct
  }

  /** Bytes of the data files live in the latest snapshots. */
  def liveBytes(spark: SparkSession, w: Workload): Long =
    w.tableDirs.map { d =>
      val t = GraftTable.load(spark, d)
      t.store.latestSnapshot.map(s => t.store.liveFiles(s).map(_.size).sum).getOrElse(0L)
    }.sum
}

/** Small file helpers over the local file system. */
object Files {
  import java.nio.file.{Files => F, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!F.exists(p)) Nil
    else {
      val s = F.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  def treeBytes(dir: String): Long =
    walk(dir).filter(F.isRegularFile(_)).map(F.size).sum

  /** Every regular file under `dir`, with its size. */
  def sizes(dir: String): Seq[(String, Long)] =
    walk(dir).filter(F.isRegularFile(_)).map(p => p.toString -> F.size(p))

  def deleteTree(dir: String): Unit =
    walk(dir).reverse.foreach(F.deleteIfExists)
}
