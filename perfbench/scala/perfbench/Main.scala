package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: sets up a session several times, then runs one
  * workload's timed part and its correctness pass, and prints `PB <json>` records
  * (metrics, failures, operation counts) for `perfbench/run.py`.
  *
  * Arguments are `--key value` pairs: workload, data, out, seed,
  * seconds, trace (0|1), cpus, setups, and the workload's own keys
  * (see BatchLoad / StreamLoad).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new Out
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val setups = args("setups").toInt
    val outDir = args("out")
    new java.io.File(outDir).mkdirs()
    val load: Workload = args("workload") match {
      case "feature_stream" => new StreamLoad(args, out)
      case _ => new BatchLoad(args, out)
    }
    val p0 = System.nanoTime()
    load.prepare()
    out.metric("setup.input_s", (System.nanoTime() - p0) / 1e9, "s", 1)
    // Set-up is repeated and its median reported: one set-up is a
    // single noisy sample, and work moved into set-up must show.
    var spark: SparkSession = null
    val setupS = (1 to setups).map { k =>
      val t0 = System.nanoTime()
      spark = Session.start(cpus)
      load.setup(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: setup $k took $dt%.1f s")
      if (k < setups) Session.stop(spark)
      dt
    }
    out.metric("setup.jvm_s", jvmStartS, "s", 1)
    out.metric("setup.session_warmup_s", Stats.median(setupS), "s", setups)
    def timed(what: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      System.err.println(f"perfbench: $what took ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    if (load.checkFirst) { timed("check")(load.check(spark)); timed("measure")(load.measure(spark, trace)) }
    else { timed("measure")(load.measure(spark, trace)); timed("check")(load.check(spark)) }
    out.metric("peak_rss_mb", Stats.peakRssMb(), "MB", 1)
    out.ops()
    if (trace) load.tracer.write(s"$outDir/trace.jsonl")
    timed("session stop")(Session.stop(spark))
    System.out.flush()
  }
}

/** The session every workload uses: Bench's configuration. */
object Session {
  def start(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

trait Workload {
  val tracer = new Tracer
  /** Input preparation, once, before the session set-ups. */
  def prepare(): Unit = ()
  /** Work done once per set-up: warmup. */
  def setup(spark: SparkSession): Unit
  /** The timed part; prints the workload's metrics. */
  def measure(spark: SparkSession, trace: Boolean): Unit
  /** The untimed correctness pass. */
  def check(spark: SparkSession): Unit
  /** Run the correctness pass before the timed part, as its warmup. */
  def checkFirst: Boolean = false
}

/** `PB <json>` records on stdout, one self-contained line each. */
final class Out {
  @volatile var attempted = 0L
  @volatile var failed = 0L

  private def emit(json: String): Unit = synchronized { println("PB " + json) }

  def metric(name: String, value: Double, unit: String, n: Long): Unit =
    emit(s"""{"metric":"$name","value":${Out.num(value)},"unit":"$unit","n":$n}""")

  def attempt(n: Long = 1): Unit = synchronized { attempted += n }

  def fail(op: String, msg: String): Unit = {
    synchronized { failed += 1 }
    emit(s"""{"failure":"${Out.esc(op)}","msg":"${Out.esc(msg.take(400))}"}""")
  }

  def ops(): Unit = emit(s"""{"attempted":$attempted,"failed":$failed}""")
}

object Out {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least 10 samples beyond it, and its
    * value: the sample at rank n-10 (1-based) of the sorted n. With 10
    * or fewer samples no such percentile exists; the maximum stands in
    * and the percentile reads 100. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val k = if (s.size > 10) s.size - 11 else s.size - 1
      Some((100.0 * (k + 1) / s.size, s(k)))
    }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
