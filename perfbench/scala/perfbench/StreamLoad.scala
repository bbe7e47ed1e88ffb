package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.ops.{Envelope, Ofi}
import graft.pipelines.Pipelines
import graft.schema.UpbitSchemas
import graft.stream.{StatefulFeatures, Streams}

/** `feature_stream`: the reference's streaming deployment in one
  * session. A seeded generator stages Upbit trade and orderbook wire
  * JSON as chunk files, once, before the set-ups; during the run one
  * thread publishes them, open loop, on a fixed schedule that steps
  * through a ladder of offered rates, by atomic renames into two
  * file-source directories. Five queries run concurrently on one
  * processing-time trigger: the raw archive of each topic
  * (`Pipelines.rawIngest` into `Streams.fileSink` parquet, partitioned
  * by `(processing_date, code)`), candles (`Pipelines.druidFeatures`),
  * OBI (`Pipelines.realtimeObi`) and the two-sided book OFI
  * (`StatefulFeatures.book`). The ladder starts on the trigger grid.
  *
  * Event time runs `speedup` times faster than the wall clock, so the
  * 10-minute OBI windows close within a run. Codes are Zipf-skewed (one
  * hot key). A `late_share` of events is held back one or two chunks:
  * they arrive out of order, but within the watermark, so none is
  * dropped and every closed window equals its batch recomputation.
  *
  * Latency of a chunk: from the moment its files were due until every
  * query reading them has committed the trigger that consumed them
  * (trigger start + `triggerExecution`, from the query progress).
  */
final class StreamLoad(args: Map[String, String], out: Out) extends Workload {
  private val rates = args("rates").split(",").map(_.toDouble).toSeq
  private val shares = args("rate_shares").split(",").map(_.toDouble).toSeq
  private val chunkMs = args("chunk_ms").toLong
  private val speedup = args("speedup").toLong
  private val watermarkMs = args("watermark_s").toLong * 1000
  private val watermark = s"${watermarkMs / 1000} seconds"
  private val triggerMs = args("trigger_ms").toLong
  private val lateShare = args("late_share").toDouble
  private val limitMs = args("limit_ms").toDouble
  private val nCodes = args("codes").toInt
  private val zipfS = args("zipf_s").toDouble
  private val seconds = args("seconds").toDouble
  private val warmS = args("warm_s").toDouble
  private val root = Paths.get(args("out")).toAbsolutePath.toString
  private val date = "2024-08-07"
  private val eventBaseMs = java.time.Instant.parse(s"${date}T00:00:00Z").toEpochMilli

  private val (trade, book) = ("upbit_trade", "upbit_orderbook")
  private val topics = Seq(trade, book)
  private val queryTopic = Map(s"archive_$trade" -> trade, s"archive_$book" -> book,
    "candles" -> trade, "obi" -> book, "book" -> book)

  /** One chunk: its scheduled wall offset, rung and per-topic row count.
    * Its payload is staged as one file per topic under `stage`. */
  final case class Chunk(atMs: Long, rung: Int, rows: Map[String, Int])

  private val stage = s"$root/stage"

  private var chunks: IndexedSeq[Chunk] = IndexedSeq.empty
  /** Latest event time of each topic's generated events. */
  private var lastEventMs = Map.empty[String, Long]

  // ---------------------------------------------------------------- generator

  private val codes: IndexedSeq[String] =
    (Seq("KRW-BTC", "KRW-ETH", "KRW-SOL", "KRW-XRP", "KRW-DOGE") ++
      (5 until nCodes).map(i => f"KRW-C$i%02d")).take(nCodes).toIndexedSeq
  private val zipfCdf: IndexedSeq[Double] = {
    val w = (1 to nCodes).map(k => 1.0 / math.pow(k, zipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  /** Stages the seeded payload of the whole ladder; the engine sees only
    * these files. */
  private def generate(seed: Long, rungs: Seq[(Double, Double)]): (IndexedSeq[Chunk], Map[String, Long]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val price = Array.tabulate(nCodes)(i => 100000.0 / (i + 1))
    var seq = 0L
    // (due chunk, topic, line) of events held back to arrive late
    val held = mutable.ArrayBuffer.empty[(Int, String, String)]
    val out = mutable.ArrayBuffer.empty[Chunk]
    val last = mutable.Map(trade -> 0L, book -> 0L)
    var carry = 0.0
    var t = 0L
    var k = 0
    rungs.zipWithIndex.foreach { case ((rate, durS), rung) =>
      val end = t + (durS * 1000).toLong
      while (t < end) {
        val want = rate * chunkMs / 1000.0 + carry
        val n = want.toInt
        carry = want - n
        val lines = Map(trade -> new StringBuilder, book -> new StringBuilder)
        val rows = mutable.Map(trade -> 0, book -> 0)
        def put(topic: String, line: String): Unit = {
          lines(topic).append(line).append('\n'); rows(topic) += 1
        }
        held.filter(_._1 == k).foreach { case (_, topic, line) => put(topic, line) }
        held.filterInPlace(_._1 != k)
        for (j <- 0 until n) {
          val tsMs = eventBaseMs + (t * speedup) + j * chunkMs * speedup / n
          val u = rnd.nextDouble()
          val c = zipfCdf.indexWhere(_ >= u).max(0)
          seq += 1
          price(c) = math.max(1.0, price(c) * (1.0 + (rnd.nextInt(21) - 10) * 1e-4))
          val p = math.rint(price(c) * 10) / 10
          val late = rnd.nextDouble() < lateShare
          val due = if (late) k + 1 + rnd.nextInt(2) else k
          // arrival is stamped when the line is written, so it is
          // strictly increasing in file order
          val arriveUs = (eventBaseMs + (t + (due - k) * chunkMs) * speedup) * 1000L + seq % 1000000
          val arrive = arriveUs / 1e6
          val (topic, line) =
            if (rnd.nextInt(10) < 6) trade -> tradeJson(codes(c), tsMs, p, rnd, seq, arrive)
            else book -> bookJson(codes(c), tsMs, p, rnd, arrive)
          last(topic) = last(topic).max(tsMs)
          if (late) held += ((due, topic, line)) else put(topic, line)
        }
        stageChunk(out.size, lines.map { case (tp, sb) => tp -> sb.toString })
        out += Chunk(t, rung, rows.toMap)
        t += chunkMs
        k += 1
      }
    }
    // late events due after the last chunk go into one final chunk
    if (held.nonEmpty) {
      val lines = held.groupBy(_._2).map { case (tp, ls) => tp -> ls.map(_._3 + "\n").mkString }
      stageChunk(out.size, topics.map(tp => tp -> lines.getOrElse(tp, "")).toMap)
      out += Chunk(t, rungs.size, topics.map(tp => tp -> held.count(_._2 == tp)).toMap)
    }
    (out.toIndexedSeq, last.toMap)
  }

  private def tradeJson(code: String, tsMs: Long, p: Double, rnd: java.util.SplittableRandom,
                        seq: Long, arrive: Double): String = {
    val vol = (1 + rnd.nextInt(20000)) / 10000.0
    val side = if (rnd.nextBoolean()) "ASK" else "BID"
    val time = java.time.Instant.ofEpochMilli(tsMs).toString.substring(11, 19)
    s"""{"type":"trade","code":"$code","timestamp":$tsMs,"trade_date":"$date",""" +
      s""""trade_time":"$time","trade_timestamp":$tsMs,"trade_price":$p,"trade_volume":$vol,""" +
      s""""ask_bid":"$side","prev_closing_price":$p,"change":"EVEN","change_price":0.0,""" +
      s""""sequential_id":$seq,"stream_type":"REALTIME","arrive_time":$arrive}"""
  }

  private def bookJson(code: String, tsMs: Long, p: Double, rnd: java.util.SplittableRandom,
                       arrive: Double): String = {
    val units = (0 until 5).map { l =>
      val ask = math.rint((p + 0.1 * (l + 1)) * 10) / 10
      val bid = math.rint((p - 0.1 * l) * 10) / 10
      s"""{"ask_price":$ask,"bid_price":$bid,"ask_size":${(1 + rnd.nextInt(5000)) / 100.0},""" +
        s""""bid_size":${(1 + rnd.nextInt(5000)) / 100.0}}"""
    }
    s"""{"type":"orderbook","code":"$code","timestamp":$tsMs,"total_ask_size":""" +
      s"""${(1 + rnd.nextInt(100000)) / 100.0},"total_bid_size":${(1 + rnd.nextInt(100000)) / 100.0},""" +
      s""""orderbook_units":${units.mkString("[", ",", "]")},"stream_type":"REALTIME",""" +
      s""""level":0,"arrive_time":$arrive}"""
  }

  private def chunkFile(dir: String, tp: String, k: Int) = Paths.get(dir, tp, f"chunk-$k%06d.json")

  private def stageChunk(k: Int, lines: Map[String, String]): Unit =
    topics.foreach(tp => Files.writeString(chunkFile(stage, tp, k), lines(tp)))

  /** Publishes chunk `k`: one atomic rename per topic into the source
    * directories. */
  private def writeChunk(dir: String, k: Int): Unit = topics.foreach { tp =>
    Files.move(chunkFile(stage, tp, k), chunkFile(dir, tp, k), StandardCopyOption.ATOMIC_MOVE)
  }

  private def fresh(dir: String): Unit = {
    val d = new java.io.File(dir)
    if (d.exists()) Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    topics.foreach(t => new java.io.File(d, t).mkdirs())
  }

  // ---------------------------------------------------------------- queries

  private def wire(spark: SparkSession, dir: String, topic: String): DataFrame =
    spark.readStream.format("text").load(s"$dir/$topic")

  private def bookTicks(orderbookWire: DataFrame): DataFrame =
    Envelope.parse(Envelope.bytesToString(orderbookWire), UpbitSchemas.orderbook)
      .select(xxhash64(col("code")).as("key"),
        round(col("arrive_time") * 1e6).cast("long").as("tsUs"),
        col("orderbook_units")(0)("bid_price").as("bidPrice"),
        col("orderbook_units")(0)("bid_size").as("bidSize"),
        col("orderbook_units")(0)("ask_price").as("askPrice"),
        col("orderbook_units")(0)("ask_size").as("askSize"))

  /** Starts the five queries over `dir`; memory sinks are named `run_<query>`. */
  private def start(spark: SparkSession, dir: String): Seq[(String, StreamingQuery)] = {
    val trigger = Trigger.ProcessingTime(triggerMs)
    def mem(df: DataFrame, name: String) = df.writeStream.format("memory")
      .queryName(s"run_$name").outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt/$name").trigger(trigger).start()
    val archives = topics.map { tp =>
      s"archive_$tp" -> Streams.fileSink(Pipelines.rawIngest(wire(spark, dir, tp), tp, Some(date)),
        "parquet", s"$dir/archive/$tp", s"$dir/ckpt/archive_$tp", trigger,
        Seq("processing_date", "code")).queryName(s"run_archive_$tp").start()
    }
    archives ++ Seq(
      "candles" -> mem(Pipelines.druidFeatures(wire(spark, dir, trade), Some(watermark)), "candles"),
      "obi" -> mem(Pipelines.realtimeObi(wire(spark, dir, book), Some(watermark)), "obi"),
      "book" -> mem(StatefulFeatures.book(bookTicks(wire(spark, dir, book))), "book"))
  }

  // ---------------------------------------------------------------- progress

  final case class Progress(query: String, batchId: Long, startMs: Long, durations: Map[String, Long],
                            rows: Long, watermarkMs: Long, state: Seq[Map[String, Double]]) {
    def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  private final class ProgressListener(names: Set[String]) extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Progress]()
    @volatile var callbackNs = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t0 = System.nanoTime()
      val p = e.progress
      Option(p.name).map(_.stripPrefix("run_")).filter(names).foreach { name =>
        val wm = Option(p.eventTime.get("watermark"))
          .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(0L)
        val state = p.stateOperators.toSeq.map(s => Map(
          "instances" -> s.numStateStoreInstances.toDouble, "rows_total" -> s.numRowsTotal.toDouble,
          "rows_updated" -> s.numRowsUpdated.toDouble, "rows_removed" -> s.numRowsRemoved.toDouble,
          "memory_bytes" -> s.memoryUsedBytes.toDouble, "commit_ms" -> s.commitTimeMs.toDouble,
          "update_ms" -> s.allUpdatesTimeMs.toDouble,
          "late_rows_dropped" -> s.numRowsDroppedByWatermark.toDouble))
        events.add(Progress(name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, wm, state))
      }
      callbackNs += System.nanoTime() - t0
    }
  }

  // ---------------------------------------------------------------- workload

  /** Rung 0 is the warm-up: `warm_s` written at once, then one trigger
    * interval fed on schedule; rungs 1.. are the ladder. */
  private def rungs: Seq[(Double, Double)] =
    (rates.head -> (warmS + triggerMs / 1000.0)) +: rates.zip(shares.map(_ * seconds))

  /** Stages the generator payload. */
  override def prepare(): Unit = {
    fresh(stage)
    val (cs, last) = generate(args("seed").toLong, rungs)
    chunks = cs
    lastEventMs = last
  }

  /** Set-up runs the batch form of the five pipelines over the first
    * `warm_s` of the feed. The streaming queries then warm up on the
    * warm-up rung, which the metrics skip. */
  def setup(spark: SparkSession): Unit = {
    val warm = chunks.indices.filter(chunks(_).atMs < warmS * 1000)
    def wireOf(tp: String) =
      spark.read.format("text").load(warm.map(chunkFile(stage, tp, _).toString): _*)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    topics.foreach(tp => noop(Pipelines.rawIngest(wireOf(tp), tp, Some(date))))
    noop(Pipelines.druidFeatures(wireOf(trade)))
    noop(Pipelines.realtimeObi(wireOf(book)))
    noop(Ofi.withBookOfi(bookTicks(wireOf(book)), "key", Seq("tsUs"),
      "bidPrice", "bidSize", "askPrice", "askSize", "ofi"))
  }

  def measure(spark: SparkSession, trace: Boolean): Unit = {
    val dir = s"$root/run"
    fresh(dir)
    val batchListener = if (trace) Some(new BatchListener) else None
    batchListener.foreach(spark.sparkContext.addSparkListener(_))
    val gc0 = Stats.gcMs()
    val listener = new ProgressListener(queryTopic.keySet)
    spark.streams.addListener(listener)
    val written = new Array[Long](chunks.size)
    val lateness = new Array[Long](chunks.size)
    def consumed(name: String): Long =
      listener.events.asScala.filter(_.query == name).map(_.rows).sum
    def rowsUpTo(k: Int): Map[String, Long] =
      topics.map(tp => tp -> chunks.take(k).map(_.rows(tp).toLong).sum).toMap
    // the only extra thread: writes chunks [from, until) on schedule from t0
    def feed(from: Int, until: Int, t0: Long): Unit = {
      val gen = new Thread(() => (from until until).foreach { k =>
        val due = t0 + chunks(k).atMs - chunks(from).atMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writeChunk(dir, k)
        written(k) = System.currentTimeMillis()
        lateness(k) = written(k) - due
      }, "perfbench-generator")
      gen.start()
      gen.join()
    }
    // warm-up: its first `warm_s` are written at once, before the queries
    // start; their first trigger compiles and consumes it. The rest of the
    // feed then runs on schedule: one more warm-up interval, so the first
    // triggers on the grid (slower by about a second) are not measured,
    // then the ladder
    val scheduled = chunks.indexWhere(_.atMs >= warmS * 1000)
    feed(0, scheduled, System.currentTimeMillis() - chunks(scheduled).atMs)
    val qs = start(spark, dir)
    val warmRows = rowsUpTo(scheduled)
    val warmBy = System.currentTimeMillis() + 90000
    while (qs.forall(_._2.isActive) && System.currentTimeMillis() < warmBy &&
      qs.exists { case (n, _) => consumed(n) < warmRows(queryTopic(n)) }) Thread.sleep(50)
    log("warm-up consumed")
    out.attempt()
    if (System.currentTimeMillis() >= warmBy)
      out.fail("stream warm-up", "the warm-up feed was not consumed within 90 s")
    // the scheduled feed starts on the trigger grid (processing-time
    // triggers fire at multiples of the interval), half a chunk after a
    // grid point, so which trigger consumes a chunk does not depend on the
    // run's phase
    val t0 = (System.currentTimeMillis() / triggerMs + 1) * triggerMs + chunkMs / 2
    feedStartMs = chunks(scheduled).atMs
    feed(scheduled, chunks.size, t0)
    val total = rowsUpTo(chunks.size)
    log("ladder written")
    // drain: every query has committed every row, and each watermarked
    // query has run a batch with its final watermark
    val drainBy = System.currentTimeMillis() + 60000
    def alive = qs.forall(_._2.isActive)
    while (alive && System.currentTimeMillis() < drainBy &&
      qs.exists { case (n, _) => consumed(n) < total(queryTopic(n)) }) Thread.sleep(50)
    // a batch ran with the final watermark, so it emitted every window
    // that watermark closes
    def emitted(name: String): Boolean =
      listener.events.asScala.exists(p => p.query == name && p.watermarkMs == expectedWatermark(name))
    log("drained")
    while (alive && System.currentTimeMillis() < drainBy &&
      !Seq("candles", "obi").forall(emitted)) Thread.sleep(50)
    log("final windows emitted")
    out.attempt()
    if (alive && System.currentTimeMillis() >= drainBy)
      out.fail("stream drain", "not every row committed and every final window emitted within 60 s")
    qs.foreach { case (n, q) =>
      out.attempt()
      q.exception.foreach(e => out.fail(s"stream query $n", e.toString))
    }
    qs.foreach(_._2.stop())
    PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(listener)
    batchListener.foreach(spark.sparkContext.removeSparkListener)
    val end = System.currentTimeMillis()
    gcMs = Stats.gcMs() - gc0
    val progress = listener.events.asScala.toSeq.sortBy(p => (p.query, p.batchId))
    report(progress, written, lateness, t0, end, trace, listener.callbackNs, batchListener)
    finalWatermark = progress.groupBy(_.query).map { case (q, ps) => q -> ps.map(_.watermarkMs).max }
  }

  private var finalWatermark = Map.empty[String, Long]
  /** The final watermark the generated input implies for a watermarked
    * query: its topic's latest event time minus the watermark delay. */
  private def expectedWatermark(q: String): Long = lastEventMs(queryTopic(q)) - watermarkMs
  private val born = System.currentTimeMillis()
  private def log(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - born) / 1e3}%.1f s")
  private var feedStartMs = 0L
  private var gcMs = 0L

  private def report(progress: Seq[Progress], written: Array[Long], lateness: Array[Long],
                     t0: Long, end: Long, trace: Boolean, callbackNs: Long,
                     batchListener: Option[BatchListener]): Unit = {
    val byQuery = progress.groupBy(_.query)
    // per query: (commit time, cumulative rows) after each trigger
    val commits = byQuery.map { case (q, ps) =>
      q -> ps.filter(_.rows > 0).map(_.commitMs).zip(ps.filter(_.rows > 0).map(_.rows).scanLeft(0L)(_ + _).tail)
    }
    val cum = topics.map(tp => tp -> chunks.map(_.rows(tp).toLong).scanLeft(0L)(_ + _).tail).toMap
    // chunk k is done when every query reading it has committed rows up
    // to it; its latency runs from when it was due (so a late generator
    // does not hide a stall)
    val due = chunks.indices.map(k => written(k) - lateness(k))
    val doneAt = chunks.indices.map { k =>
      val done = queryTopic.toSeq.map { case (q, tp) =>
        commits.getOrElse(q, Nil).find(_._2 >= cum(tp)(k)).map(_._1)
      }
      if (done.forall(_.isDefined)) Some(done.flatten.max) else None
    }
    val latency = chunks.indices.map(k => doneAt(k).map(d => (d - due(k)).toDouble))
    out.attempt(chunks.size)
    latency.zipWithIndex.filter(_._1.isEmpty).foreach { case (_, k) =>
      out.fail(s"chunk $k", "not committed by every query reading it")
    }
    def rungLat(r: Int) = chunks.indices.filter(chunks(_).rung == r).flatMap(latency(_))
    val nominal = rungLat(1)
    out.metric("stream_latency_p50_ms", Stats.median(nominal), "ms", nominal.size)
    out.metric("stream_latency_p90_ms", Stats.quantile(nominal, 0.9), "ms", nominal.size)
    Stats.tail(nominal).foreach { case (pct, v) =>
      out.metric("stream_latency_tail_ms", v, "ms", nominal.size)
      out.metric("stream_latency_tail_pct", pct, "%", nominal.size)
    }
    // the triggers of each query that consumed rows of rung r
    val byRung = byQuery.map { case (q, ps) =>
      val rung = cum(queryTopic(q)).indices.map(chunks(_).rung)
      val ends = ps.map(_.rows).scanLeft(0L)(_ + _)
      q -> ps.indices.filter(i => ps(i).rows > 0).map { i =>
        // chunks whose rows end within this trigger's row range
        val first = cum(queryTopic(q)).indexWhere(_ > ends(i))
        val last = cum(queryTopic(q)).lastIndexWhere(_ <= ends(i + 1))
        (ps(i), (first to last).map(rung).toSet)
      }
    }
    def triggersOf(q: String, r: Int) = byRung.getOrElse(q, Nil).filter(_._2.contains(r)).map(_._1)
    // a rung is sustained if every chunk of it meets the limit: a trigger
    // that overruns its interval starts the next one late, on a grown
    // backlog, and pushes the rung's later chunks over it
    val sustained = rates.indices.filter { r =>
      val l = rungLat(r + 1)
      l.nonEmpty && l.max <= limitMs
    }
    out.metric("stream_sustained_eps", sustained.lastOption.map(rates(_)).getOrElse(0.0), "1/s",
      rates.size)
    // overload rung: per topic, the rows its queries committed per second
    // of their trigger time, over the triggers that consumed the rung
    // (the harmonic mean of the queries' rates); summed over the topics
    val top = rates.size
    val saturated = topics.map { tp =>
      val ps = queryTopic.filter(_._2 == tp).keys.toSeq.map(triggersOf(_, top))
      if (ps.exists(_.isEmpty)) Double.NaN
      else ps.map(_.map(_.rows).sum).sum * 1000.0 / ps.flatten.map(_.durations("triggerExecution")).sum
    }.sum
    out.metric("stream_saturated_eps", saturated, "1/s", chunks.count(_.rung == top))
    if (trace) traceLayers(progress, written, lateness, t0, end, callbackNs, batchListener)
  }

  private def traceLayers(progress: Seq[Progress], written: Array[Long], lateness: Array[Long],
                          t0: Long, end: Long, callbackNs: Long,
                          batchListener: Option[BatchListener]): Unit = {
    val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val n = progress.size.max(1).toDouble
    val phases = Seq("latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
      "getBatch" -> "get_batch", "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
      "commitOffsets" -> "commit_offsets")
    var coverage = 0.0
    progress.foreach { p =>
      val total = p.durations.getOrElse("triggerExecution", 0L)
      val id = tracer.add(0, s"${p.query} trigger ${p.batchId}", "stream", p.startMs, p.startMs + total,
        Map("rows" -> p.rows.toDouble))
      var at = p.startMs
      phases.foreach { case (k, short) =>
        val d = p.durations.getOrElse(k, 0L)
        val lay = if (k == "addBatch" && p.query.startsWith("archive")) "sink" else "stream"
        val pid = tracer.add(id, k, lay, at, at + d)
        if (k == "addBatch" && p.state.nonEmpty) {
          val c = p.state.map(_("commit_ms")).sum.toLong
          tracer.add(pid, "state commit", "state", at + d - c, at + d)
        }
        layer(s"stream.${short}_ms") += d / n
        at += d
      }
      if (total > 0) coverage += (at - p.startMs).toDouble / total
    }
    layer("stream.triggers") = progress.size
    layer("stream.empty_trigger_ratio") = progress.count(_.rows == 0) / n
    val wm = progress.filter(_.watermarkMs > 0)
    layer("stream.watermark_lag_ms") = if (wm.isEmpty) 0.0 else
      wm.map(p => (p.commitMs - t0 + feedStartMs) -
        (p.watermarkMs - eventBaseMs).toDouble / speedup).sum / wm.size
    val cum = topics.map(tp => tp -> chunks.map(_.rows(tp).toLong).scanLeft(0L)(_ + _).tail).toMap
    layer("stream.backlog_files_max") = progress.groupBy(_.query).map { case (q, ps) =>
      val rows = ps.map(_.rows).scanLeft(0L)(_ + _).tail
      ps.zip(rows).map { case (p, r) =>
        val w = written.count(x => x > 0 && x <= p.commitMs)
        val c = cum(queryTopic(p.query)).count(_ <= r)
        (w - c).max(0)
      }.maxOption.getOrElse(0)
    }.maxOption.getOrElse(0).toDouble
    // per ladder rung, how late a trigger started after its grid point: a
    // trigger that overruns the interval makes the next one start late, on
    // a grown backlog
    val delays = progress.groupBy(_.query).values.toSeq.flatMap { ps =>
      ps.zip(ps.tail).map { case (prev, p) =>
        val w = written.count(x => x > 0 && x <= p.startMs)
        val rung = chunks(w.max(1) - 1).rung.min(rates.size)
        // late: the previous trigger ran past its interval and this one
        // started right after it, not after an idle gap
        val grid = (prev.startMs / triggerMs + 1) * triggerMs
        rung -> (if (prev.commitMs > grid && p.startMs - prev.commitMs < 1000) p.startMs - grid else 0L)
      }
    }
    rates.indices.foreach { r =>
      layer(s"stream.r${r + 1}.start_delay_max_ms") =
        delays.filter(_._1 == r + 1).map(_._2).maxOption.getOrElse(0L).toDouble
    }
    val stateful = progress.filter(_.state.nonEmpty)
    def stateSum(k: String) = stateful.map(_.state.map(_(k)).sum)
    layer("state.instances") = stateSum("instances").maxOption.getOrElse(0.0)
    layer("state.rows_total") = stateful.groupBy(_.query).values.map(_.last.state.map(_("rows_total")).sum).sum
    layer("state.rows_updated") = stateSum("rows_updated").sum
    layer("state.rows_removed") = stateSum("rows_removed").sum
    layer("state.memory_bytes") = stateful.groupBy(_.query).values
      .map(_.map(_.state.map(_("memory_bytes")).sum).max).sum
    layer("state.commit_ms") = stateSum("commit_ms").sum / stateful.size.max(1)
    layer("state.update_ms") = stateSum("update_ms").sum / stateful.size.max(1)
    layer("state.late_rows_dropped") = stateSum("late_rows_dropped").sum
    val files = topics.flatMap { tp =>
      val d = Paths.get(root, "run", "archive", tp)
      if (!Files.exists(d)) Nil
      else Files.walk(d).iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toSeq
    }
    layer("sink.files_written") = files.size
    layer("sink.bytes_written") = files.map(Files.size(_).toDouble).sum
    layer("sink.files_per_trigger") =
      files.size.toDouble / progress.count(p => p.query.startsWith("archive") && p.rows > 0).max(1)
    layer("gen.lateness_ms") = lateness.drop(chunks.indexWhere(_.rung == 1)).max.toDouble
    layer("jvm.gc_ms") = gcMs.toDouble
    batchListener.foreach { l =>
      layer("tables.meta_jobs") = l.jobs.values.count(_.callSite.contains("Tables.scala"))
      layer("tables.input_bytes") = l.stages.map(_.metrics.getOrElse("input_bytes", 0.0)).sum
      layer("tables.input_rows") = l.stages.map(_.metrics.getOrElse("input_rows", 0.0)).sum
      layer("exec.jobs") = l.jobs.size
      layer("exec.stages") = l.stages.size
      layer("exec.tasks") = l.stages.map(_.tasks).sum
      Seq("task_busy_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms")
        .foreach(k => layer(s"exec.$k") = l.stages.map(_.metrics.getOrElse(k, 0.0)).sum)
      layer("exec.task_failures") = l.taskFailures
      layer("exec.idle_ms") = (end - t0) -
        BatchListener.covered(l.taskSpans.values.flatten.toSeq, t0, end)
    }
    layer.foreach { case (k, v) => out.metric(k, v, Layers.unit(k), progress.size) }
    out.metric("trace.overhead_pct", 100.0 * callbackNs / 1e6 / (end - t0), "%", progress.size)
    out.metric("trace.span_coverage", coverage / n, "ratio", progress.size)
  }

  // ---------------------------------------------------------------- check

  def check(spark: SparkSession): Unit = {
    val dir = s"$root/run"
    val wires = topics.map(tp => tp -> spark.read.format("text").load(s"$dir/$tp")).toMap
    def batchWire(tp: String) = wires(tp)
    // row count and order-independent hash of each side
    def digest(df: DataFrame) = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    def same(op: String, a: DataFrame, b: DataFrame): Unit = {
      out.attempt()
      try {
        val (da, db) = (digest(a), digest(b))
        if (da != db) out.fail(op, s"stream (rows, hash) $da, batch $db")
        else if (db.getLong(0) == 0) out.fail(op, "no rows on either side")
      } catch { case e: Throwable => out.fail(op, e.toString) }
      log(s"checked $op")
    }
    topics.foreach { tp =>
      val batch = Pipelines.rawIngest(batchWire(tp), tp, Some(date))
      val archived = spark.read.parquet(s"$dir/archive/$tp")
        .withColumn("processing_date", col("processing_date").cast("date"))
        .select(batch.columns.map(col).toIndexedSeq: _*)
      same(s"archive $tp equals generated input", archived, batch)
    }
    // the final watermark the generated input implies: the latest event
    // time of the topic minus the watermark delay; a stream whose
    // watermark stuck or ran ahead fails here, and the closed-window
    // cut below does not depend on what the stream reported
    val closedBy = Seq("candles", "obi").map { q =>
      val want = expectedWatermark(q)
      out.attempt()
      val got = finalWatermark.getOrElse(q, 0L)
      if (got != want) out.fail(s"$q watermark", s"final watermark $got ms, generated input implies $want ms")
      q -> lit(new java.sql.Timestamp(want))
    }.toMap
    val candles = Pipelines.druidFeatures(batchWire(trade))
    same("candles equal batch on closed windows", spark.table("run_candles"),
      candles.where(from_json(col("value"),
        new StructType().add("window_end", TimestampType))("window_end") <= closedBy("candles")))
    sameWithin("obi equals batch on closed windows", spark.table("run_obi"),
      Pipelines.realtimeObi(batchWire(book)).where(col("window_end") <= closedBy("obi")),
      Seq("window_start", "window_end", "code"))
    same("book ofi equals batch", spark.table("run_book"),
      Ofi.withBookOfi(bookTicks(batchWire(book)), "key", Seq("tsUs"),
        "bidPrice", "bidSize", "askPrice", "askSize", "ofi").select("key", "tsUs", "ofi"))
  }

  /** Equal row sets, doubles within 1e-9 relative: streaming averages sum
    * partial aggregates in another order than the batch plan. */
  private def sameWithin(op: String, a: DataFrame, b: DataFrame, keys: Seq[String]): Unit = {
    out.attempt()
    try {
      val vals = a.columns.filterNot(keys.contains).toSeq
      val j = a.withColumn("_in", lit(1)).as("s").join(b.withColumn("_in", lit(1)).as("b"), keys, "full_outer")
      val bad = vals.map { c =>
        val (s, t) = (col(s"s.$c"), col(s"b.$c"))
        val differ = if (a.schema(c).dataType.typeName == "double")
          abs(s - t) > greatest(abs(s), abs(t), lit(1.0)) * 1e-9
        else !(s <=> t)
        coalesce(differ, lit(true)) && !(s.isNull && t.isNull)
      }.reduce(_ || _) || col("s._in").isNull || col("b._in").isNull
      val r = j.agg(count(lit(1)), count(when(bad, 1)), count(col("b._in"))).head()
      val (n, wrong, expected) = (r.getLong(0), r.getLong(1), r.getLong(2))
      if (wrong != 0 || expected == 0) out.fail(op, s"$wrong of $n windows differ, $expected expected")
    } catch { case e: Throwable => out.fail(op, e.toString) }
    log(s"checked $op")
  }
}
