package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

object Stats {
  /** Linear-interpolated percentile of unsorted samples (NaN when empty). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def metrics(ms: Seq[(String, M)]): String =
    ms.map { case (k, m) => s"${str(k)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}" }
      .mkString("{", ", ", "}")
}

/** Loop time that leaves out the benchmark's own checking work and the
  * time `excludedNs` counts (it may only grow).
  */
final class Clock(seconds: Double, excludedNs: () => Long) {
  private val t0 = System.nanoTime()
  private val excluded0 = excludedNs()
  private var pausedNs = 0L
  def elapsedS: Double = (System.nanoTime() - t0 - pausedNs - (excludedNs() - excluded0)) / 1e9
  def done: Boolean = elapsedS >= seconds
  def paused[T](f: => T): T = {
    val p0 = System.nanoTime()
    try f finally pausedNs += System.nanoTime() - p0
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      workDir: String)

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work-dir"))
  }
}

/** Runs one workload and prints its metrics. The last line of standard
  * output is the result object; the line before it is the full report
  * (every metric this workload has, with the trace summary).
  */
object Main {
  val ByName: Map[String, Ctx => Result] = Map(
    "serve_point" -> (c => Workloads.servePoint(c)),
    "write_mix" -> (c => Workloads.writeMix(c)),
    "ann_serve" -> (c => Workloads.annServe(c)))

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val run = ByName.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(args.workDir)
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.nanoTime() - t0) / 1e9

    val listener = if (args.trace) Some(new JobListener) else None
    val gen = {
      val g0 = System.nanoTime()
      val g = new Gen(GenParams.Default, args.seed)
      (g, (System.nanoTime() - g0) / 1e9)
    }
    val ctx = new Ctx(spark, gen._1, new Recorder(spark.sparkContext, listener), args,
      work, sparkStartS + gen._2)
    try {
      val res = run(ctx)
      val jobs = listener.map(_.settled(10000)).getOrElse(Nil)
      val out = Report.build(ctx, res, jobs)
      out.writeTrace()
      println(out.reportLine)
      println(out.resultLine)
    } finally spark.stop()
  }
}

/** What a workload hands back besides the recorded calls. */
final class Result {
  /** Seconds of loop time, checks left out. */
  var loopS: Double = 0.0
  var setupS: Double = 0.0
  val recall = mutable.ArrayBuffer[Double]()
  var checks = 0L
  var wrong = 0L
  val extra = mutable.LinkedHashMap[String, M]()
  val layer = mutable.LinkedHashMap[String, M]()
  var cacheMb: Double = 0.0
  var snapshotPartitions: Int = 0
  /** Ids of calls that were the first query after a mutation. */
  val firstAfterMutation = mutable.ArrayBuffer[Long]()
  var jvmGcMs: Double = 0.0
  /** Largest heap in use seen after a loop step. */
  var heapPeakMb: Double = 0.0
}
