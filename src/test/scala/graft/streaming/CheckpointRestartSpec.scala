package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{GraftEngine, SparkTestBase}
import graft.api.StreamSql

/** Local checkpoints written by the engine's streaming plans: a query
  * stopped mid-feed and restarted on the same checkpoint emits exactly
  * what an uninterrupted run and the batch lowering emit (the three
  * stateful shapes the benchmark runs), a checkpoint written by Spark's
  * default manager resumes under the engine's, and a stateful query's
  * checkpoint I/O forks no Hadoop shell commands. */
class CheckpointRestartSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // 15 devices, strictly increasing event time, then one far-future row
  // per device (value 0 never matches the CEP condition) so every
  // per-key CEP horizon closes on both the stream and the batch side
  private lazy val allRows: Seq[PEv] = {
    val rnd = new scala.util.Random(7)
    var ts = 1700000000000L
    val real = (1 to 1000).map { i =>
      ts += 1 + rnd.nextInt(60000)
      PEv(i, rnd.nextInt(15), if (rnd.nextBoolean()) "click" else "view",
        rnd.nextInt(10000) / 100.0, ts)
    }
    real ++ (0 until 15).map(u => PEv(1000000L + u, u, "view", 0.0, ts + 200L * 86400000L))
  }

  private def fingerprint(rows: Seq[Row]): Map[String, Int] =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).groupBy(identity).view.mapValues(_.size).toMap

  private val opts = "WITH (TIMESTAMP='ts', TIMEUNIT='ms', TIEBREAK='event_id', " +
    "MAXOUTOFORDERNESS='60d')"
  private val lagSql =
    s"SELECT user_id, event_id, value, lag(value) OVER (PARTITION BY user_id) AS prev FROM stream $opts"
  private val countingSql = "SELECT user_id, count(*) AS cnt, round(sum(value), 2) AS sv FROM stream " +
    s"GROUP BY user_id, CountingWindow(5) $opts"
  private val cepSql = "SELECT * FROM stream MATCH_RECOGNIZE ( PARTITION BY user_id ORDER BY ts " +
    "MEASURES MATCH_NUMBER() AS mn, LAST(A.value) AS lastv, FIRST(A.ts) - 0 AS t0 " +
    s"ONE ROW PER MATCH PATTERN (A{3}) WITHIN '60d' DEFINE A AS value > 50 ) $opts"

  private lazy val chunks: Seq[Seq[PEv]] = allRows.grouped((allRows.size + 3) / 4).toSeq

  /** Runs `sql` over one local checkpoint as one query per leg. Each leg
    * after the first is a restart: its first chunk arrives while no query
    * runs. `beforeLeg(i)` runs before leg i's plan is built. Returns every
    * emitted row (a batch replayed after a restart replaces its own). */
  private def runLegs(sql: String, legs: Seq[Seq[Seq[PEv]]],
      beforeLeg: Int => Unit = _ => ()): Seq[Row] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PEv]
    val ckpt = Files.createTempDirectory("ckpt-restart")
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Array[Row]]()
    try legs.zipWithIndex.foreach { case (leg, i) =>
      beforeLeg(i)
      val df = GraftEngine.sql(sql, Map("stream" -> mem.toDF()))
      if (i > 0) mem.addData(leg.head)
      val q = df.writeStream.outputMode("append").option("checkpointLocation", ckpt.toString)
        .foreachBatch((b: DataFrame, id: Long) => { out.put(id, b.collect()); () }).start()
      try {
        q.processAllAvailable()
        (if (i > 0) leg.tail else leg).foreach { c => mem.addData(c); q.processAllAvailable() }
      } finally SparkTestBase.stopQuietly(q)
    } finally deleteTree(ckpt)
    out.values.asScala.toSeq.flatten
  }

  private def deleteTree(dir: java.nio.file.Path): Unit =
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def assertRestartParity(sql: String): Unit = {
    val batch = fingerprint(GraftEngine.sql(sql, Map("stream" -> allRows.toDF())).collect())
    val whole = fingerprint(runLegs(sql, Seq(chunks)))
    val restarted = fingerprint(runLegs(sql, Seq(chunks.take(2), chunks.drop(2))))
    assert(batch.nonEmpty, "batch side produced no rows — vacuous parity")
    assert(whole == batch, "uninterrupted stream differs from the batch lowering")
    assert(restarted == whole,
      s"restart divergence:\nonly-whole=${(whole.toSet -- restarted.toSet).take(5)}" +
        s"\nonly-restarted=${(restarted.toSet -- whole.toSet).take(5)}")
  }

  test("restart parity: lag OVER (PARTITION BY)") {
    assertRestartParity(lagSql)
  }

  test("restart parity: CountingWindow(5)") {
    assertRestartParity(countingSql)
  }

  test("restart parity: MATCH_RECOGNIZE … WITHIN") {
    assertRestartParity(cepSql)
  }

  test("a checkpoint written by Spark's default manager resumes under the engine's") {
    val key = LocalCheckpointFileManager.ConfKey
    val before = spark.conf.getOption(key)
    try {
      val upgraded = runLegs(countingSql, Seq(chunks.take(2), chunks.drop(2)), {
        case 0 => spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
        case _ => spark.conf.unset(key)
      })
      assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
      assert(fingerprint(upgraded) ==
        fingerprint(GraftEngine.sql(countingSql, Map("stream" -> allRows.toDF())).collect()))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Child processes started while `body` runs whose stack passes through
    * Hadoop's `Shell` (how Hadoop forks `chmod`, `readlink`, `stat`, ...). */
  private def hadoopShellForks(body: => Unit): Int = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("forks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.count { e =>
        e.getStackTrace != null && e.getStackTrace.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("a stateful query's local checkpoint I/O forks no Hadoop shell command") {
    // Shell's static initializer probes for setsid once per JVM, by a fork
    Class.forName("org.apache.hadoop.util.Shell")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PEv]
    val df = StreamSql(spark).registerTable("stream", mem.toDF()).execute(countingSql)
    val ckpt = Files.createTempDirectory("ckpt-forks")
    var emitted = 0L
    try {
      val forks = hadoopShellForks {
        // the detector sees a fork through Shell: this one
        org.apache.hadoop.util.Shell.execCommand("true")
        val q = df.writeStream.outputMode("append").option("checkpointLocation", ckpt.toString)
          .foreachBatch((b: DataFrame, _: Long) => { emitted += b.count(); () }).start()
        try chunks.take(3).foreach { c => mem.addData(c); q.processAllAvailable() }
        finally SparkTestBase.stopQuietly(q)
      }
      assert(emitted > 0)
      assert(forks == 1, s"${forks - 1} Hadoop shell forks from checkpoint I/O")
    } finally deleteTree(ckpt)
  }
}
