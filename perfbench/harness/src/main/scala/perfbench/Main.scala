package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The job file run.py writes: one workload, already seeded. */
final class Job(val raw: Map[String, Any]) {
  def str(k: String): String = raw(k).toString
  def num(k: String): Double = raw(k).toString.toDouble
  def int(k: String): Int = num(k).toInt
  def bool(k: String): Boolean = raw(k).toString.toBoolean
  def strs(k: String): Seq[String] = raw(k).asInstanceOf[Seq[Any]].map(_.toString)
  def sub(k: String): Job = new Job(raw(k).asInstanceOf[Map[String, Any]])
  def kind: String = str("kind")
  def dataDir: String = str("data_dir")
  def workDir: String = str("work_dir")
  def cpus: Int = int("cpus")
  def trace: Boolean = bool("trace")
}

/** Harness entry: `Main <job.json>`. Runs one workload in this JVM and
  * writes everything it measured, unreduced, to the job's `out` file;
  * run.py turns that report into metrics and checks the outputs. */
object Main {
  def main(args: Array[String]): Unit =
    try run(args(0))
    catch {
      case e: Throwable =>
        // Spark's non-daemon threads would keep a failed run's JVM alive
        e.printStackTrace()
        System.exit(1)
    }

  def run(jobPath: String): Unit = {
    val mainEntryMs = Clock.ms
    val job = new Job(Json.read(jobPath))
    val spans = new Spans(job.trace)
    val (spark, setupS) = Session.setUp(job)
    val body = job.kind match {
      case "batch" => BatchWorkload.run(job, spark, spans)
      case "stream" => StreamWorkload.run(job, spark, spans)
      case other => throw new IllegalArgumentException(s"unknown workload kind $other")
    }
    val report = body ++ Map(
      "main_entry_ms" -> mainEntryMs,
      "setup_s" -> setupS,
      "spark_version" -> spark.version,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "master" -> spark.sparkContext.master,
      "spans" -> spans.toJson)
    graft.Tables.evictFixtures(spark)
    spark.stop()
    Json.write(job.str("out"), report)
  }
}

object Session {
  def start(job: Job): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[${job.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", job.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${job.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${job.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The warm-up graft.Bench does before its passes: one scan, shuffle
    * and codegen round trip, then the custom kernels' code path. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    graft.Tables.lineitem(spark, dataDir).groupBy("l_returnflag").count().collect()
    graft.functions.VectorKernels.register(spark)
    spark.range(1).selectExpr(
      "graft_simhash_text(array('a','b')) AS a",
      "graft_minhash(array('a','b'), 16) AS b",
      "graft_dot(array(1.0d), array(1.0d)) AS c",
      "graft_best_centroid(array(1.0d), array(array(1.0d))) AS d",
      "graft_rpbands(array(1.0d), 16, 24, 7) AS e").collect()
  }

  /** The run's one set-up in this JVM: a fresh SparkContext, the
    * warm-up, and for the stream reading its feed back. Returns the session and the seconds it took. */
  def setUp(job: Job): (SparkSession, Double) = {
    val t0 = Clock.ms
    val spark = start(job)
    warmUp(spark, job.dataDir)
    if (job.kind == "stream") StreamWorkload.loadFeed(job, spark)
    (spark, (Clock.ms - t0) / 1e3)
  }
}

/** Closed loop, one client: a cold pass over the frozen query list in
  * the fresh session, then a fixed number of warm passes, so every run
  * measures the same work. The run fails if they do not fit its seconds.
  * The timed action is `collect()`, which produces every output column.
  * Traced runs alternate traced and untraced warm passes so the
  * tracing overhead is measured in the same run. */
object BatchWorkload {
  final case class Result(name: String, start: Double, end: Double,
      error: Option[String], rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      memoScans: Int)

  def run(job: Job, spark: SparkSession, spans: Spans): Map[String, Any] = {
    val byName = graft.SparkEntry.all.map(o => o.key -> o).toMap
    val queries = job.strs("queries")
    val missing = queries.filterNot(byName.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val sc = spark.sparkContext
    val listener = new TaskListener
    var attached = false
    def traceOn(on: Boolean): Unit = if (job.trace) {
      org.apache.spark.BenchBridge.drainListenerBus(sc)
      if (on && !attached) sc.addSparkListener(listener)
      if (!on && attached) sc.removeSparkListener(listener)
      attached = on
      spans.enabled = on
    }

    def runQuery(name: String): Result = {
      val t0 = Clock.ms
      spans.span(name, "query") {
        try {
          val df = spans.span(name, "construct")(byName(name).fn(spark, job.dataDir))
          val qe = df.queryExecution
          if (spans.enabled) {
            spans.span(name, "analyze")(qe.analyzed)
            spans.span(name, "optimize")(qe.optimizedPlan)
            spans.span(name, "plan")(qe.executedPlan)
          }
          val rows = spans.span(name, "execute")(df.collect())
          val scans = if (!spans.enabled) 0 else {
            trackerSpans(name, t0, qe.tracker, spans)
            qe.withCachedData.collectWithSubqueries { case r: InMemoryRelation => r }.size
          }
          Result(name, t0, Clock.ms, None, rows, df.schema, scans)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            Result(name, t0, Clock.ms, Some(e.toString.take(300)), Array.empty, null, 0)
        }
      }
    }

    val passes = ArrayBuffer[Map[String, Any]]()
    var last: Seq[Result] = Nil
    def pass(kind: String, traced: Boolean): Double = {
      traceOn(traced)
      val label = s"$kind${passes.size}"
      val persisted0 = sc.getPersistentRDDs.size
      val start = Clock.ms
      val results = spans.span(label, "pass")(queries.map(runQuery))
      val end = Clock.ms
      last = results
      passes += Map("kind" -> kind, "traced" -> traced, "start_ms" -> start, "end_ms" -> end,
        "memo_builds" -> (sc.getPersistentRDDs.size - persisted0),
        "queries" -> results.map(r => Map("name" -> r.name, "start_ms" -> r.start,
          "end_ms" -> r.end, "error" -> r.error.orNull, "rows" -> r.rows.length,
          "memo_scans" -> r.memoScans)))
      (end - start) / 1e3
    }

    val t0 = Clock.ms
    pass("cold", job.trace)
    for (n <- 0 until job.int("warm_passes")) pass("warm", job.trace && n % 2 == 1)
    traceOn(false)
    val tookS = (Clock.ms - t0) / 1e3
    require(tookS <= job.num("seconds"),
      f"the cold and ${job.int("warm_passes")} warm passes took $tookS%.1f s, " +
        s"more than the run's ${job.num("seconds")} s")
    val cachedMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6

    // output checks, outside the timed passes: the last warm pass's
    // rows of every oracled query, as parquet for the DuckDB compare
    val check = graft.SparkEntry.oracleSql.keySet
    val dumpDir = s"${job.workDir}/out"
    last.filter(r => check(r.name) && r.error.isEmpty).foreach { r =>
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/${r.name}")
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Json.write(s"$dumpDir/oracle_sql.json", oracle)

    Map("passes" -> passes.toSeq, "cached_mb_end" -> cachedMb,
      "scheduler" -> (if (job.trace) listener.toJson else Map.empty))
  }

  /** Catalyst phases the QueryPlanningTracker timed, as spans under the
    * harness span whose interval holds them. */
  def trackerSpans(trace: String, since: Double,
      tracker: org.apache.spark.sql.catalyst.QueryPlanningTracker, spans: Spans): Unit = {
    val mine = spans.synchronized(
      spans.all.filter(s => s.trace == trace && s.start >= since).toSeq)
    tracker.phases.foreach { case (phase, p) =>
      val (s, e) = (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      // tracker stamps are whole milliseconds; allow one either side
      val holder = mine.filter(x => x.start - 1 <= s && e <= x.end + 1)
        .sortBy(x => x.end - x.start).headOption
      holder.foreach { h =>
        spans.add(h.id, trace, s"catalyst.$phase", math.max(s, h.start), math.min(e, h.end))
      }
    }
  }
}
