package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sql.Parser
import graft.plan.PlanBuilder

/** Public facade of the engine — the Spark-native analog of the reference's
  * `streamsql.Streamsql` entry point (reference: streamsql.go:139-199
  * Execute / RegisterTable).
  *
  * Batch: `GraftEngine.sql(query, tables)` → DataFrame.
  * Streaming: pass streaming DataFrames as the stream table; the same plan
  * builder produces a streaming plan (windows become event-time windows with
  * watermarks — see graft.streaming).
  */
object GraftEngine {

  /** Execute a dialect query against registered tables. The `FROM` name
    * (conventionally `stream`) keys into `tables`; JOINs resolve lookup
    * tables from the same map (reference: streamsql.go:490-515 RegisterTable). */
  def sql(query: String, tables: Map[String, DataFrame]): DataFrame = {
    val stmt = Parser.parseStatement(query)
    // streaming plan: local checkpoint files without forked chmod/readlink
    tables.values.find(_.isStreaming)
      .foreach(df => graft.streaming.LocalCheckpointFileManager.install(df.sparkSession))
    val builder = new PlanBuilder(tables)
    // ANSI precedence: INTERSECT binds tighter than UNION/EXCEPT —
    // a UNION b INTERSECT c = a UNION (b INTERSECT c)
    var acc: Option[DataFrame] = None
    var accOp: (String, Boolean) = null
    var term = builder.build(stmt.head)
    def flush(): Unit = {
      acc = Some(acc match {
        case None => term
        case Some(a) => accOp match {
          case ("UNION", true)   => a.union(term)
          case ("UNION", false)  => a.union(term).distinct()
          case ("EXCEPT", true)  => a.exceptAll(term)
          case ("EXCEPT", false) => a.except(term)
          case other => throw new IllegalStateException(other.toString)
        }
      })
    }
    stmt.ops.foreach { part =>
      val rhs = builder.build(part.q)
      if (part.op == "INTERSECT")
        term = if (part.all) term.intersectAll(rhs) else term.intersect(rhs)
      else { flush(); accOp = (part.op, part.all); term = rhs }
    }
    flush()
    acc.get
  }

  /** Convenience: single-stream form. */
  def sql(query: String, stream: DataFrame): DataFrame =
    sql(query, Map("stream" -> stream))
}

/** Loads the driver-generated test tables (TESTDATA.md) and registers them
  * under their file names, with the `events` table doubling as `stream`. */
object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.LongType

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Loading resolves 10 parquet footers (a driver-side fixed cost per call);
  // the resulting DataFrames are immutable logical plans, so memoize per
  // (session, dir) — repeated queries against the same tables re-plan from
  // the cached scan instead of re-listing files. Weak keys alone would not
  // free anything (each cached DataFrame strongly references its session,
  // so the value pins the key); instead entries for STOPPED sessions are
  // evicted deterministically on every load. Plans pin the file listing as
  // of first load — rewriting the parquet dir in place needs a new session
  // (or `Tables.invalidate`).
  private val cache =
    new java.util.HashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Map[String, DataFrame]]]()

  def load(spark: SparkSession, sfDir: String): Map[String, DataFrame] = {
    val perSession = cache.synchronized {
      cache.keySet.removeIf(s => s.sparkContext.isStopped)
      var m = cache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        cache.put(spark, m)
      }
      m
    }
    perSession.getOrElseUpdate(sfDir, doLoad(spark, sfDir))
  }

  /** Drop cached plans for `sfDir` (all sessions) — needed after rewriting
    * the directory's parquet files in place. */
  def invalidate(sfDir: String): Unit = cache.synchronized {
    cache.values.forEach(m => m.remove(sfDir))
  }

  private def doLoad(spark: SparkSession, sfDir: String): Map[String, DataFrame] = {
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects natively;
    // read it as a long and convert (integer division — ns epoch overflows
    // double precision).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val m = names.map { n =>
      var df = spark.read.parquet(s"$sfDir/$n.parquet")
      if (n == "events" && df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
        df = df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // naive (isAdjustedToUTC=false) parquet timestamps infer as
      // TIMESTAMP_NTZ in Spark 4; the engine (and the DuckDB oracle's
      // epoch_us) works in plain TIMESTAMP — under the UTC session the
      // cast reinterprets the same stored micros, so epoch values are
      // unchanged
      for (f <- df.schema.fields
           if f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        df = df.withColumn(f.name, col(f.name).cast("timestamp"))
      n -> df
    }.toMap
    m + ("stream" -> m("events"))
  }
}
