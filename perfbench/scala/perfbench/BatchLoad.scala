package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** `market_batch` / `curation_batch`: registry queries run back to back,
  * closed loop, each forced to the `noop` sink, in an order drawn from
  * the seed. Whole passes repeat while a pass still fits in the
  * `seconds` budget (always at least one pass). A pass's time is
  * the sum of its queries' latencies: the harness's GC between queries
  * (untimed, as in Bench) is left out.
  *
  * Keys: `data` (input tables), `queries` (comma list), `seed`, `seconds`, `out` (correctness
  * outputs and the trace).
  *
  * Traced runs alternate untraced and traced passes: the per-layer
  * metrics are per traced pass, and `trace.overhead_pct` compares the
  * two kinds of pass.
  */
final class BatchLoad(args: Map[String, String], out: Out) extends Workload {
  private val names = args("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
    throw new IllegalArgumentException(s"unknown query $n"))).toMap
  private val data = args("data")
  private val outDir = args("out")

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Set-up opens every input table through the table layer (schema and
    * footer reads); the correctness pass, which runs every query once
    * over the same input, is the warmup. */
  def setup(spark: SparkSession): Unit = openTables(spark)

  private def openTables(spark: SparkSession): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach(t => Tables.table(spark, data, t))
    Tables.events(spark, data)
  }

  override def checkFirst: Boolean = true

  def measure(spark: SparkSession, trace: Boolean): Unit = {
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(args("seed").toLong)
    val budgetNs = (args("seconds").toDouble * 1e9).toLong
    val start = System.nanoTime()
    val latency = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var covered = 0L
    var traced = 0
    var pass = 0
    def remaining = budgetNs - (System.nanoTime() - start)
    while (pass == 0 || remaining > passS.last * 1e9 || (trace && traced == 0)) {
      val on = trace && pass % 2 == 1
      val listener = if (on) Some(new BatchListener) else None
      listener.foreach { l => sc.addSparkListener(l); spark.listenerManager.register(l) }
      var passTime = 0.0
      var gcMs = 0L
      var spans = 0L
      rnd.shuffle(names).foreach { n =>
        sc.setLocalProperty("perfbench.query", s"$pass/$n")
        sc.setLocalProperty("perfbench.phase", "build")
        out.attempt()
        val t0 = System.currentTimeMillis(); val n0 = System.nanoTime(); val g0 = Stats.gcMs()
        var t1 = t0
        val ok = try {
          val df = fns(n)(spark, data)
          t1 = System.currentTimeMillis()
          sc.setLocalProperty("perfbench.phase", "execute")
          force(df)
          true
        } catch { case e: Throwable => out.fail(s"query $n", e.toString); false }
        finally spark.catalog.clearCache()
        val dtS = (System.nanoTime() - n0) / 1e9
        val t2 = System.currentTimeMillis()
        passTime += dtS
        gcMs += Stats.gcMs() - g0
        if (ok && !on) latency += dtS
        listener.foreach { l =>
          PerfbenchBus.drain(sc)
          spans += t2 - t0
          querySpans(l, s"$pass/$n", n, t0, t1, t2, layer)
        }
        // untimed: one query's garbage is not billed to the next
        System.gc()
      }
      sc.setLocalProperty("perfbench.query", null)
      sc.setLocalProperty("perfbench.phase", null)
      listener.foreach { l =>
        sc.removeSparkListener(l); spark.listenerManager.unregister(l)
        layer("tables.input_bytes") += l.stages.map(_.metrics.getOrElse("input_bytes", 0.0)).sum
        layer("tables.input_rows") += l.stages.map(_.metrics.getOrElse("input_rows", 0.0)).sum
        layer("exec.task_failures") += l.taskFailures
        layer("jvm.gc_ms") += gcMs
        // single-file tables infer their schema on the driver, without a
        // job: time opening every input table once through the table layer
        val m0 = System.nanoTime()
        openTables(spark)
        layer("tables.meta_ms") += (System.nanoTime() - m0) / 1e6
        covered += spans
        traced += 1
        tracedPassS += passTime
      }
      if (!on) passS += passTime
      pass += 1
    }
    val nq = names.size.toDouble
    val pass50 = Stats.median(passS.toSeq)
    out.metric("pass_s", pass50, "s", passS.size)
    out.metric("queries_per_s", nq / pass50, "1/s", passS.size)
    out.metric("query_p50_s", Stats.median(latency.toSeq), "s", latency.size)
    out.metric("query_p90_s", Stats.quantile(latency.toSeq, 0.9), "s", latency.size)
    Stats.tail(latency.toSeq).foreach { case (pct, v) =>
      out.metric("query_tail_s", v, "s", latency.size)
      out.metric("query_tail_pct", pct, "%", latency.size)
    }
    if (trace) {
      val units = traced.toDouble
      layer.foreach { case (k, v) => out.metric(k, v / units, Layers.unit(k), traced) }
      out.metric("trace.overhead_pct",
        100.0 * (Stats.median(tracedPassS.toSeq) / pass50 - 1.0), "%", traced)
      out.metric("trace.span_coverage", covered / 1000.0 / tracedPassS.sum, "ratio", traced)
    }
  }

  /** Root span per query with build / plan / execute children, job spans
    * under the phase that submitted them and stage spans under their
    * job; the layer totals are summed from these spans. */
  private def querySpans(l: BatchListener, key: String, name: String, t0: Long, t1: Long,
                         t2: Long, layer: mutable.Map[String, Double]): Unit = {
    val qes = l.takeQes()
    val execQes = qes.filter(q => q.phases.values.map(_._1).minOption.exists(_ >= t1))
    val planEnd = (t1 +: execQes.flatMap(_.phases.values.map(_._2))).max.min(t2)
    val root = tracer.add(0, name, "queries", t0, t2)
    val phaseSpan = Map(
      "build" -> tracer.add(root, "build", "queries", t0, t1),
      "plan" -> tracer.add(root, "plan", "plan", t1, planEnd),
      "execute" -> tracer.add(root, "execute", "exec", planEnd, t2))
    layer("queries.build_ms") += t1 - t0
    for (q <- qes; (ph, (s, e)) <- q.phases) layer(s"plan.${Layers.planPhase(ph)}_ms") += e - s
    layer("exec.rows_out") += execQes.map(_.rowsOut).sum
    val jobs = l.jobs.values.filter(_.key == key).toSeq
    val execIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    jobs.foreach { j =>
      val meta = j.callSite.contains("Tables.scala")
      val parent = phaseSpan(if (j.phase == "build") "build" else "execute")
      val jid = tracer.add(parent, s"job ${j.id} ${j.callSite}", if (meta) "tables" else "exec",
        j.start, j.end,
        Map("meta" -> (if (meta) 1.0 else 0.0)))
      if (meta) layer("tables.meta_jobs") += 1
      if (j.phase == "build") layer("queries.build_jobs") += 1
      val stages = l.stages.filter(s => j.stageIds.contains(s.id))
      stages.foreach { s =>
        tracer.add(jid, s"stage ${s.id}", "exec", s.submit, s.end, s.metrics + ("tasks" -> s.tasks))
        Seq("task_busy_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms")
          .foreach(k => layer(s"exec.$k") += s.metrics.getOrElse(k, 0.0))
      }
      if (j.phase == "execute") {
        layer("exec.jobs") += 1
        layer("exec.stages") += stages.size
        layer("exec.tasks") += stages.map(_.tasks).sum
        stages.foreach(s => execIntervals ++= l.taskSpans.getOrElse(s.id, Nil))
      }
    }
    layer("exec.idle_ms") += (t2 - planEnd) - BatchListener.covered(execIntervals.toSeq, planEnd, t2)
  }

  def check(spark: SparkSession): Unit = {
    names.foreach { n =>
      out.attempt()
      try fns(n)(spark, data).write.mode("overwrite").parquet(s"$outDir/results/$n")
      catch { case e: Throwable => out.fail(s"result $n", e.toString) }
      finally spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s""""${Out.esc(k)}":"${Out.esc(v)}"""" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), oracle)
  }
}

/** Units of the per-layer metrics, from their names. */
object Layers {
  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_ratio")) "ratio"
    else "count"

  def planPhase(phase: String): String = phase match {
    case "analysis" => "analysis"
    case "optimization" => "optimization"
    case _ => "planning"
  }
}
