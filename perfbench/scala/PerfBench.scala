package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.PerfBenchBus
import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.{GraftEngine, SparkEntry, Tables}
import graft.api.StreamSql
import graft.sql.Parser

/** One synthetic IoT row: device key, reading, event time (epoch ms). */
final case class Ev(event_id: Long, user_id: Long, event_type: String, value: Double, ts: Long)

/** Measures one workload and writes its raw observations (operation
  * timings, chunk and micro-batch records, spans, Spark job counters) to
  * `<out>/raw.json`. All derived metrics are computed by `metrics.py`.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --scratch DIR --checkpoint DIR [--<setting> VALUE ...]
  */
object PerfBench {

  /** Open loop: the generator sends one chunk every tick, for this share
    * of `--seconds` split over the workload's queries. */
  final val TickMs = 100
  final val OpenShare = 0.7
  /** `WITHIN` of the streaming MATCH_RECOGNIZE query. */
  final val CepWithin = "10s"

  /** Wall clock in epoch milliseconds with nanosecond resolution; Spark's
    * listener and progress times are epoch milliseconds on the same clock. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final val OpKey = "perfbench.op"

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val out = o("out")
    Files.createDirectories(Paths.get(out))
    val spark = SparkSession.builder()
      .master(o("master"))
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o("shuffle_partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o("scratch") + "/spark-local")
      .config("spark.sql.warehouse.dir", o("scratch") + "/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val b = new Bench(spark, o)
    val raw =
      try workload match {
        case "stream_rules" | "stream_state" => b.streamWorkload(workload)
        case "batch" => b.batchWorkload()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    Files.write(Paths.get(out, "raw.json"), Json(raw).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the raw dump. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Order-independent multiset fingerprint of result rows. */
object Fp {
  def row(r: Row): Long = {
    val s = r.toSeq.map(String.valueOf).mkString("|")
    (MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }
  def of(rows: Array[Row]): Long = rows.foldLeft(0L)(_ + row(_))
}

/** The benchmark's streaming sink: fingerprints every emitted row. */
final class FpSink extends VoidFunction2[Dataset[Row], java.lang.Long] {
  var rows = 0L
  var fp = 0L
  def call(batch: Dataset[Row], id: java.lang.Long): Unit = {
    val rs = batch.collect()
    synchronized { rows += rs.length; fp += Fp.of(rs) }
  }
}

/** Seeded row generator: keys drawn from a Zipf(s) law over `keys` device
  * ids (a seeded permutation decides which ids are hot), event time
  * strictly increasing, values uniform in [0, 100) with two decimals. */
final class Gen(seed: Long, keys: Int, zipf: Double) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1.0, zipf))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  private def shuffled(a: Array[Long]): Array[Long] = {
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
  private val ids = shuffled(Array.tabulate(keys)(i => i + 1L))
  private val types = Array("click", "view", "purchase", "signup", "error")
  private var id = 0L
  private var ts = 1704067200000L

  private def ev(key: Long): Ev = {
    id += 1
    ts += 1 + rnd.nextInt(8)
    Ev(id, key, types(rnd.nextInt(types.length)), math.round(rnd.nextDouble() * 10000) / 100.0, ts)
  }
  private def pick(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, keys - 1)
  }
  /** Every key once, in seeded order, so every key has state from the start. */
  def prime(): Array[Ev] = shuffled(ids.clone()).map(ev)
  def next(n: Int): Array[Ev] = Array.fill(n)(ev(ids(pick())))
  /** One far-future row per key: closes every per-key horizon. */
  def sentinels(): Array[Ev] = {
    val t = ts + 86400000L
    ids.sorted.map { k => id += 1; Ev(id, k, "flush", 0.0, t) }
  }
}

/** Collects Spark job, stage and task counters, keyed by the `perfbench.op`
  * and `streaming.sql.batchId` local properties of the launching thread. */
final class JobLog extends SparkListener {
  final class J(val id: Int, val op: String, val batch: String, val start: Long) {
    var end = 0L
    var tasks, failed, taskMs, cpuNs, gcMs, shw, shr, spill = 0L
    val stages = mutable.Map[Int, (Long, Long)]()
  }
  val jobs = mutable.LinkedHashMap[Int, J]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val j = new J(e.jobId, p.map(_.getProperty(PerfBench.OpKey)).orNull,
      p.map(_.getProperty("streaming.sql.batchId")).orNull, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (jid <- stageJob.get(s.stageId); j <- jobs.get(jid))
      j.stages(s.stageId) = (s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (!e.taskInfo.successful) j.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shw += m.shuffleWriteMetrics.bytesWritten
        j.shr += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
      }
    }
  }
  def dump(): Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      Map("id" -> j.id, "op" -> Option(j.op), "batch" -> Option(j.batch),
        "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks, "failed_tasks" -> j.failed,
        "task_ms" -> j.taskMs, "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shw, "shuffle_read_bytes" -> j.shr, "spill_bytes" -> j.spill,
        "stages" -> j.stages.toSeq.sortBy(_._1).map { case (id, (s, e)) =>
          Map("id" -> id, "start" -> s, "end" -> e) })
    }
  }
}

/** Spans of one traced part: id, parent, operation id, name, start, end
  * (epoch ms). Kept in memory and written with the raw dump. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Map[String, Any]]()
  private var next = 0L
  def add(op: String, name: String, parent: Long, start: Double, end: Double): Long = synchronized {
    next += 1
    buf += Map("id" -> next, "parent" -> parent, "op" -> op, "name" -> name,
      "start" -> start, "end" -> end)
    next
  }
  def dump(): Seq[Map[String, Any]] = synchronized(buf.toList)
}

final class Bench(spark: SparkSession, o: Map[String, String]) {
  import PerfBench.now

  private val sc = spark.sparkContext
  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private var setupEnd = -1.0
  private def markSetupDone(): Unit = if (setupEnd < 0) setupEnd = now()

  private def phaseOf(df: DataFrame, name: String): Option[(Double, Double)] =
    df.queryExecution.tracker.phases.get(name).map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))

  /** In a traced run: the listener and spans of the traced measurements.
    * A traced run interleaves untraced and traced measurements (per query
    * for streams, per pass for batch), so that the difference between the
    * two parts is the tracing overhead and not warm-up order. */
  private val spans = new Spans
  private val log = new JobLog
  if (traced) sc.addSparkListener(log)

  private def parts(untraced: Map[String, Any], tracedPart: => Map[String, Any]): Map[String, Any] =
    if (!traced) Map("untraced" -> untraced)
    else {
      PerfBenchBus.drain(sc)
      Map("untraced" -> untraced,
        "traced" -> (tracedPart + ("spans" -> spans.dump()) + ("jobs" -> log.dump())))
    }

  private def result(ps: Map[String, Any], failures: Seq[String]): Map[String, Any] =
    Map("setup_s" -> (setupEnd - jvmStart) / 1000.0, "parts" -> ps, "failures" -> failures,
      "cores" -> sc.defaultParallelism)

  // ---------------------------------------------------------------- streams

  /** The queries of each streaming workload, each run as its own query. */
  private val streamSql: Map[String, Seq[(String, String)]] = {
    val opts = "WITH (TIMESTAMP='ts', TIMEUNIT='ms', TIEBREAK='event_id')"
    Map(
      "stream_rules" -> Seq(
        "filter" -> "SELECT user_id, value FROM stream WHERE value > 25",
        "transform" -> "SELECT user_id, value * 1.8 + 32 AS fahrenheit FROM stream"),
      "stream_state" -> Seq(
        "analytic" -> s"SELECT user_id, value, lag(value) OVER (PARTITION BY user_id) AS prev FROM stream $opts",
        "window" -> ("SELECT user_id, count(*) AS cnt, round(sum(value), 2) AS sv FROM stream " +
          s"GROUP BY user_id, CountingWindow(5) $opts"),
        "cep" -> ("SELECT * FROM stream MATCH_RECOGNIZE ( PARTITION BY user_id ORDER BY ts " +
          "MEASURES MATCH_NUMBER() AS mn, LAST(A.value) AS lastv, FIRST(A.ts) - 0 AS t0 " +
          s"ONE ROW PER MATCH PATTERN (A{3}) WITHIN '${PerfBench.CepWithin}' DEFINE A AS value > 50 ) $opts")))
  }

  def streamWorkload(workload: String): Map[String, Any] = {
    val failures = mutable.ArrayBuffer[String]()
    val qs = streamSql(workload)
    val ss = StreamSql(spark)
    val stats = ss.metrics // registers the per-session progress listener before any query starts
    // in a traced run, every other query runs its traced measurement first
    val runs = qs.zipWithIndex.map { case ((name, sql), i) =>
      def run(tr: Boolean) = runStream(ss, stats, name, sql, qs.size, tr, failures)
      if (!traced) (run(false), null)
      else if (i % 2 == 0) { val u = run(false); (u, run(true)) }
      else { val t = run(true); (run(false), t) }
    }
    result(parts(Map("queries" -> runs.map(_._1)), Map("queries" -> runs.map(_._2))), failures.toSeq)
  }

  private def offsetOf(s: String): Long = Option(s).flatMap(_.trim.toLongOption).getOrElse(-1L)

  private def progressRow(p: StreamingQueryProgress): Map[String, Any] = {
    val src = p.sources.head
    Map("batch" -> p.batchId, "start" -> offsetOf(src.startOffset), "end" -> offsetOf(src.endOffset),
      "rows" -> p.numInputRows, "ts_ms" -> Instant.parse(p.timestamp).toEpochMilli,
      "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> p.stateOperators.toSeq.map { s =>
        Map("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
          "memory_bytes" -> s.memoryUsedBytes, "update_ms" -> s.allUpdatesTimeMs,
          "remove_ms" -> s.allRemovalsTimeMs, "commit_ms" -> s.commitTimeMs,
          "dropped_late" -> s.numRowsDroppedByWatermark)
      })
  }

  private def runStream(ss: StreamSql, stats: graft.streaming.StreamMetrics, name: String,
      sql: String, nq: Int, tr: Boolean,
      failures: mutable.ArrayBuffer[String]): Map[String, Any] = {
    val chunkRows = o("chunk_rows").toInt
    val gen = new Gen(seed, o("keys").toInt, o("zipf").toDouble)
    val mem = MemoryStream[Ev](Encoders.product[Ev], spark)
    val chunks = mutable.ArrayBuffer[Map[String, Any]]()
    val fed = mutable.ArrayBuffer[Ev]()
    def feed(rows: Array[Ev], phase: String, sched: Double): Unit = {
      val off = mem.addData(rows.toSeq).json.toLong
      val sent = now()
      chunks.synchronized {
        chunks += Map("offset" -> off, "rows" -> rows.length, "sched" -> sched, "sent" -> sent,
          "phase" -> phase)
        fed ++= rows
      }
    }
    val op = s"stream:$name"
    val p0 = now()
    if (tr) Parser.parseStatement(sql)
    val b0 = now()
    if (tr) sc.setLocalProperty(PerfBench.OpKey, s"build:$op")
    val df = try ss.registerTable("stream", mem.toDF()).execute(sql)
    finally sc.setLocalProperty(PerfBench.OpKey, null)
    val b1 = now()
    if (tr) {
      val root = spans.add(op, "query.start", 0, p0, b1)
      spans.add(op, "sql.parse", root, p0, b0)
      val build = spans.add(op, "plan.build", root, b0, b1)
      phaseOf(df, "analysis").foreach { case (s, e) => spans.add(op, "catalyst.analysis", build, s, e) }
    }
    val sink = new FpSink
    val ckpt = s"${o("checkpoint")}/${name}-${java.util.UUID.randomUUID()}"
    if (tr) sc.setLocalProperty(PerfBench.OpKey, op)
    val q = try df.writeStream.outputMode("append").option("checkpointLocation", ckpt)
      .foreachBatch(sink).start()
    finally sc.setLocalProperty(PerfBench.OpKey, null)
    val catalyst = mutable.ArrayBuffer[Map[String, Any]]()
    def trackBatchPlanning(): Unit = if (tr) {
      val ex = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      if (ex != null) catalyst += ex.tracker.phases.map { case (k, v) => k -> v.durationMs }.toMap
    }
    var ok = true
    val closedMs = mutable.ArrayBuffer[Double]()
    var openS, openEnd = 0.0
    try {
      // warm-up: every key once, then a few chunks
      gen.prime().grouped(chunkRows).foreach { c => feed(c, "warm", now()); q.processAllAvailable() }
      (1 to o("warm_chunks").toInt).foreach { _ => feed(gen.next(chunkRows), "warm", now()); q.processAllAvailable() }
      markSetupDone()
      // closed loop: fixed number of chunks, each fed after the previous completed
      (1 to o(s"closed_chunks_$name").toInt).foreach { _ =>
        val c0 = now()
        feed(gen.next(chunkRows), "closed", c0)
        q.processAllAvailable()
        closedMs += now() - c0
        trackBatchPlanning()
      }
      // open loop: one generator thread sends a chunk every tick at the fixed rate
      val tick = PerfBench.TickMs.toDouble
      val perTick = math.max(1, math.round(o(s"rate_$name").toDouble * tick / 1000.0).toInt)
      openS = seconds * PerfBench.OpenShare / nq
      val o0 = now() + tick
      val ticks = math.max(1, (openS * 1000.0 / tick).toInt)
      val genThread = new Thread(() => {
        var i = 0
        while (i < ticks) {
          val sched = o0 + i * tick
          val wait = sched - now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
          feed(gen.next(perTick), "open", sched)
          i += 1
        }
      }, "perfbench-gen")
      genThread.start()
      genThread.join()
      openEnd = now()
      q.processAllAvailable()
      // flush: one far-future row per key, so every stateful result is emitted
      feed(gen.sentinels(), "flush", now())
      q.processAllAvailable()
    } catch { case e: Throwable =>
      ok = false
      failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    val lastOffset = chunks.synchronized(chunks.lastOption.map(_("offset").asInstanceOf[Long]).getOrElse(-1L))
    val deadline = now() + 30000
    while (ok && now() < deadline &&
      !q.recentProgress.exists(p => offsetOf(p.sources.head.endOffset) >= lastOffset)) Thread.sleep(5)
    val progress = q.recentProgress.toSeq.map(progressRow)
    q.stop()
    PerfBenchBus.drain(sc)
    if (tr) progress.foreach { p =>
      val s = p("ts_ms").asInstanceOf[Long].toDouble
      val d = p("dur").asInstanceOf[Map[String, Long]].getOrElse("triggerExecution", 0L)
      spans.add(s"$op#b${p("batch")}", "stream.batch", 0, s, s + d)
    }
    // correctness, outside the timed region: the batch lowering of the same
    // rows must produce the same multiset of rows, and the public stats must
    // count the rows this benchmark fed (a foreachBatch sink reports no
    // output count to them; the sink's rows are checked against the lowering)
    if (ok) {
      val st = stats.stats(q)
      if (st.inputCount != fed.size)
        failures += s"$name: StreamSql.metrics input_count ${st.inputCount} != fed ${fed.size}"
      val batchRows = GraftEngine.sql(sql, Map("stream" -> spark.createDataset(fed.toSeq)(Encoders.product[Ev]).toDF()))
        .collect()
      if (batchRows.length != sink.rows || Fp.of(batchRows) != sink.fp)
        failures += s"$name: streaming output (${sink.rows} rows) differs from batch lowering (${batchRows.length} rows)"
      ok = st.inputCount == fed.size && batchRows.length == sink.rows && Fp.of(batchRows) == sink.fp
    }
    Map("name" -> name, "ok" -> ok, "chunks" -> chunks.toList, "batches" -> progress,
      "closed_ms" -> closedMs.toList, "open_s" -> openS, "open_end" -> openEnd, "sink_rows" -> sink.rows,
      "parse_ms" -> (if (tr) b0 - p0 else 0.0), "build_ms" -> (b1 - b0),
      "analysis_ms" -> phaseOf(df, "analysis").map { case (s, e) => e - s }.getOrElse(0.0),
      "catalyst" -> catalyst.toList, "tick_ms" -> PerfBench.TickMs)
  }

  // ----------------------------------------------------------------- batch

  /** The batch mix: dialect queries whose time goes to Catalyst plans and
    * their execution, then LLM-data operator queries whose time goes to
    * DataFrame construction and the eager jobs it launches. Each query
    * with the input tables its text reads. */
  private val batchQueries: Seq[(String, Seq[String])] = Seq(
    "q_agg_basic" -> Seq("lineitem"),
    "q_join_multi_agg" -> Seq("lineitem", "supplier", "nation"),
    "q_topk" -> Seq("lineitem"),
    "q_window_session" -> Seq("events"),
    "q_window_counting" -> Seq("events"),
    "q_lag" -> Seq("events"),
    "q_cep_pattern" -> Seq("events"),
    "q_dedup_keep_sigs" -> Seq("documents"))

  def batchWorkload(): Map[String, Any] = {
    val dir = o("data")
    val names = batchQueries.map(_._1)
    val failures = mutable.ArrayBuffer[String]()
    // cache the tables the mix reads, so timed passes measure the engine, not parquet decoding
    val tables = Tables.load(spark, dir)
    val tableRows = batchQueries.flatMap(_._2).distinct.map(t => t -> tables(t).cache().count()).toMap
    // rows of the input tables one pass reads: fixed by the data, not by the plans
    val inputRows = batchQueries.map(_._2.map(tableRows).sum).sum
    // warm-up pass: also the correctness reference — each result is written
    // for the DuckDB oracle and fingerprinted for the timed passes
    val ref = mutable.Map[String, (Long, Long)]()
    names.foreach { qn =>
      try {
        val df = SparkEntry.queries(qn)(spark, dir)
        val rows = df.collect()
        ref(qn) = (rows.length.toLong, Fp.of(rows))
        for (text <- DialectText.of.get(qn) if traced &&
            Fp.of(GraftEngine.sql(text, Tables.load(spark, dir)).collect()) != ref(qn)._2)
          failures += s"$qn: the benchmark's dialect text no longer gives SparkEntry's result"
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${o("out")}/oracle/$qn")
      } catch { case e: Throwable =>
        failures += s"$qn: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(Paths.get(o("out"), "oracle", "oracle_sql.json"),
      Json(oracle).getBytes(StandardCharsets.UTF_8))
    // further untimed passes: the first timed passes were still getting
    // faster as the JIT compiled the engine's code
    for (w <- 1 until o("warm_passes").toInt; op <- names.map(runBatchOp(_, -w, dir, tr = false, ref))
         if op("ok") == false)
      failures += s"${op("q")}: wrong output in warm-up pass $w"
    markSetupDone()
    val passes = Seq(mutable.ArrayBuffer[Map[String, Any]](), mutable.ArrayBuffer[Map[String, Any]]())
    val t0 = now()
    var pass = 0
    val active = if (traced) passes else passes.take(1)
    while (active.exists(_.size < o("min_passes").toInt) || (now() - t0) < seconds * 1000.0 * active.size) {
      val tr = traced && pass % 2 == 1
      val p0 = now()
      val ops = names.map(qn => runBatchOp(qn, pass, dir, tr, ref))
      (if (tr) passes(1) else passes(0)) += Map("pass" -> pass, "wall_ms" -> (now() - p0), "ops" -> ops)
      pass += 1
    }
    def part(ps: Seq[Map[String, Any]]) = Map("passes" -> ps.toList, "input_rows_per_pass" -> inputRows)
    result(parts(part(passes(0).toSeq), part(passes(1).toSeq)), failures.toSeq)
  }

  private def runBatchOp(qn: String, pass: Int, dir: String, tr: Boolean,
      ref: mutable.Map[String, (Long, Long)]): Map[String, Any] = {
    val op = s"$qn#$pass"
    val sqlText = DialectText.of.get(qn)
    val p0 = now()
    if (tr) sqlText.foreach(Parser.parseStatement)
    val p1 = now()
    var ok = ref.contains(qn)
    var nrows = 0L
    var df: DataFrame = null
    var b1, e1 = p1
    try {
      if (tr) sc.setLocalProperty(PerfBench.OpKey, s"build:$op")
      df = SparkEntry.queries(qn)(spark, dir)
      b1 = now()
      if (tr) sc.setLocalProperty(PerfBench.OpKey, s"exec:$op")
      val rows = df.collect()
      e1 = now()
      nrows = rows.length
      ok = ok && ref(qn) == ((rows.length.toLong, Fp.of(rows)))
    } catch { case _: Throwable => ok = false; e1 = now() }
    finally sc.setLocalProperty(PerfBench.OpKey, null)
    val base = Map[String, Any]("q" -> qn, "ok" -> ok, "ms" -> (e1 - p1), "rows" -> nrows)
    if (!tr || df == null) base
    else {
      val ph = Seq("analysis", "optimization", "planning").flatMap(n => phaseOf(df, n).map(n -> _)).toMap
      val root = spans.add(op, "query", 0, p0, e1)
      if (sqlText.isDefined) spans.add(op, "sql.parse", root, p0, p1)
      val build = spans.add(op, "plan.build", root, p1, b1)
      ph.get("analysis").foreach { case (s, e) => spans.add(op, "catalyst.analysis", build, s, e) }
      val exec = spans.add(op, "exec", root, b1, e1)
      Seq("optimization", "planning").foreach { n =>
        ph.get(n).foreach { case (s, e) => spans.add(op, s"catalyst.$n", exec, s, e) }
      }
      base ++ ph.map { case (n, (s, e)) => s"${n}_ms" -> (e - s) } +
        ("parse_ms" -> (p1 - p0)) + ("build_wall_ms" -> (b1 - p1)) + ("exec_wall_ms" -> (e1 - b1))
    }
  }
}
