package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.streaming.{EventStreams, ParquetDirSink, ParquetStagedSink, Sink, StagedSink,
  TwoPhaseFanOut}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** Start and end of each timed call, keyed by (subscriber, step, batch). */
object StreamRec {
  val calls = TrieMap[(String, String, Long), (Double, Double)]()
  def time[T](who: String, step: String, batchId: Long)(f: => T): T = {
    val s = Clock.ms
    try f finally calls.put((who, step, batchId), (s, Clock.ms))
  }
}

/** Timing decorator around one routed sink. */
final class TimedSink(inner: Sink, route: String) extends Sink {
  override def name: String = inner.name
  override def write(batch: DataFrame, batchId: Long): Unit =
    StreamRec.time("routed", s"sink.$route", batchId)(inner.write(batch, batchId))
}

/** The 2PC coordinator with each protocol step timed. */
final class TimedTwoPhase(logDir: String, sinks: Seq[StagedSink])
    extends TwoPhaseFanOut(logDir, sinks) {
  override def stageAll(batch: DataFrame, batchId: Long): Unit =
    StreamRec.time("twopc", "stage", batchId)(super.stageAll(batch, batchId))
  override def decide(batchId: Long): Unit =
    StreamRec.time("twopc", "decide", batchId)(super.decide(batchId))
  override def commitAll(batchId: Long): Unit =
    StreamRec.time("twopc", "commit", batchId)(super.commitAll(batchId))
}

/** Progress events of both subscribers, as the engine reports them. */
final class ProgressLog extends StreamingQueryListener {
  val byQuery = TrieMap[java.util.UUID, ArrayBuffer[Map[String, Any]]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val rec = Map[String, Any]("batch" -> p.batchId, "rows" -> p.numInputRows,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    val buf = byQuery.getOrElseUpdate(p.id, ArrayBuffer())
    buf.synchronized(buf += rec)
  }
  def rows(id: java.util.UUID): Long = byQuery.get(id)
    .map(b => b.synchronized(b.map(_("rows").asInstanceOf[Long]).sum)).getOrElse(0L)
}

/** Two subscribers on one change feed: `envelope → fanOutRouted` over
  * four routed ParquetDirSinks, and `envelope → TwoPhaseFanOut` over two
  * ParquetStagedSinks. The feed is the fixture `events` table split into
  * parquet files of consecutive event ids, read the way
  * `EventStreams.readEventStream` reads it. Phases: a cold replay of a
  * backlog (files-per-trigger capped), warm replays of further backlogs,
  * each dropped once the previous one is drained, then an open-loop tail
  * in which one generator thread moves files into the watched directory
  * on a fixed schedule. Traced runs alternate warm replays with the task
  * listener detached and attached, to measure the tracing overhead. */
object StreamWorkload {
  final case class Event(id: Long, user: Long, tsUs: Long, kind: String, value: Double,
      props: String)

  def fileName(i: Int): String = f"f_$i%05d.parquet"
  private def poolDir(job: Job) = new File(s"${job.workDir}/stream/pool")
  private def feedDir(job: Job) = new File(s"${job.workDir}/stream/feed")

  /** The feed, file by file, as read back by [[loadFeed]]. */
  @volatile private var feed: IndexedSeq[IndexedSeq[Event]] = IndexedSeq.empty
  @volatile private var feedSchema: StructType = _

  private def micros(ts: Any): Long = ts match {
    case l: java.lang.Long => Math.floorDiv(l.longValue, 1000L) // long nanos
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC))
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Read the feed files run.py split from the fixture events table
    * back, with the batch reader, as the events the output checks expect
    * (part of set-up). File i holds the i-th run of event ids. */
  def loadFeed(job: Job, spark: SparkSession): Unit = {
    graft.Tables.configure(spark)
    val pool = poolDir(job)
    feedSchema = spark.read.parquet(new File(pool, fileName(0)).getPath).schema
    val fileIdx = """f_(\d+)\.parquet""".r.unanchored
    val rows = spark.read.parquet(pool.getPath)
      .select(input_file_name(), col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), col("props"))
      .collect()
    val byFile = rows.groupBy { r => val fileIdx(i) = r.getString(0); i.toInt }
    feed = IndexedSeq.tabulate(job.sub("stream").int("files")) { i =>
      byFile(i).toIndexedSeq.map(r => Event(r.getLong(1), r.getLong(2), micros(r.get(3)),
        r.getString(4), r.getDouble(5), r.getString(6))).sortBy(_.id)
    }
  }

  private def metaK(e: Event): Any =
    Json.mapper.readValue(e.props, classOf[Map[String, Any]]).get("k").orNull

  def opOf(kind: String): String = kind match {
    case "signup" => "I"
    case "error" => "D"
    case _ => "U"
  }

  /** A slice of the envelope as the harness checks it: which events it
    * holds and which of their fields it keeps. */
  final case class Slice(name: String, holds: Event => Boolean, fields: Seq[String])

  val fieldExpr: Map[String, String] = Map("position" -> "position", "pk" -> "pk",
    "ts_us" -> "unix_micros(ts)", "op" -> "op", "a_user" -> "after.user_id",
    "a_type" -> "after.event_type", "a_value" -> "after.value", "meta_k" -> "meta['k']")

  def fieldOf(e: Event, f: String): Any = f match {
    case "position" => e.id
    case "pk" | "a_user" => e.user
    case "ts_us" => e.tsUs
    case "op" => opOf(e.kind)
    case "a_type" => e.kind
    case "a_value" => e.value
    case "meta_k" => metaK(e)
  }

  val allFields = Seq("position", "pk", "ts_us", "op", "a_user", "a_type", "a_value", "meta_k")
  val routes: Seq[(Slice, org.apache.spark.sql.Column, Seq[String])] = Seq(
    (Slice("inserts", e => opOf(e.kind) == "I", Seq("position", "pk", "ts_us")),
      col("op") === "I", Seq("position", "pk", "ts")),
    (Slice("deletes", e => opOf(e.kind) == "D", Seq("position", "pk", "op")),
      col("op") === "D", Seq("position", "pk", "op")),
    (Slice("even_users", e => e.user % 2 == 0 && opOf(e.kind) == "U", allFields),
      pmod(col("pk"), lit(2)) === 0 && col("op") === "U", Nil),
    (Slice("big_values", e => e.value >= 50.0, Seq("position", "pk", "a_user", "a_type", "a_value")),
      col("after.value") >= 50.0, Seq("position", "pk", "after")))

  private def move(job: Job, i: Int): Unit =
    Files.move(new File(poolDir(job), fileName(i)).toPath, new File(feedDir(job), fileName(i)).toPath,
      StandardCopyOption.ATOMIC_MOVE)

  private def await(what: String, timeoutMs: Double)(cond: => Boolean): Unit = {
    val deadline = Clock.ms + timeoutMs
    while (!cond) {
      require(Clock.ms < deadline, s"timed out waiting for $what")
      Thread.sleep(2)
    }
  }

  def run(job: Job, spark: SparkSession, spans: Spans): Map[String, Any] = {
    val p = job.sub("stream")
    val perFile = feed.head.size
    val replay = p.int("replay_files")
    val warmFiles = p.int("warm_replay_files")
    val interval = p.num("tail_interval_ms")
    val order = job.strs("file_order").map(_.toInt).toIndexedSeq
    val root = s"${job.workDir}/stream"
    val sc = spark.sparkContext
    feedDir(job).mkdirs()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val listener = new TaskListener
    var attached = false
    def traceOn(on: Boolean): Unit = if (job.trace && on != attached) {
      org.apache.spark.BenchBridge.drainListenerBus(sc)
      if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
      attached = on
    }

    val phases = ArrayBuffer[Map[String, Any]]()
    var nextFile = 0
    def takeFiles(n: Int): Seq[Int] = {
      val fs = order.slice(nextFile, nextFile + n); nextFile += n; fs
    }

    // cold replay: the backlog is in place before either query starts
    traceOn(true)
    val coldFiles = takeFiles(replay)
    coldFiles.foreach(move(job, _))
    val coldStart = Clock.ms
    def reader(): DataFrame = graft.Tables.normalizeEventTs(spark.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", p.int("max_files_per_trigger").toString)
      .parquet(feedDir(job).getPath))
    val twoPc = new TimedTwoPhase(s"$root/twopc/log",
      Seq(new ParquetStagedSink(s"$root/twopc/a"), new ParquetStagedSink(s"$root/twopc/b")))
    val (routedQ, twopcQ) = spans.span("stream", "construct") {
      val r = EventStreams.fanOutRouted(EventStreams.envelope(reader()),
        routes.map { case (s, where, cols) =>
          EventStreams.Route(new TimedSink(new ParquetDirSink(s"$root/routed/${s.name}"), s.name),
            where, cols)
        }, s"$root/routed/_checkpoint")
      val t = twoPc.attach(EventStreams.envelope(reader()), s"$root/twopc/_checkpoint")
      (r, t)
    }
    val constructEnd = Clock.ms
    val queries = Seq("routed" -> routedQ, "twopc" -> twopcQ)
    def drained(files: Int): Boolean =
      queries.forall { case (_, q) => progress.rows(q.id) >= files.toLong * perFile }
    def failed: Option[String] = queries.collectFirst {
      case (n, q) if q.exception.isDefined => s"$n: ${q.exception.get}"
    }
    def waitDrained(what: String, files: Int): Unit =
      await(what, p.num("drain_timeout_ms")) {
        failed.foreach(e => throw new IllegalStateException(e))
        drained(files)
      }
    waitDrained("cold replay", nextFile)
    phases += Map("phase" -> "cold", "traced" -> job.trace, "start_ms" -> coldStart,
      "files" -> coldFiles)

    def warmReplay(traced: Boolean): Unit = {
      traceOn(traced)
      val files = takeFiles(warmFiles)
      val start = Clock.ms
      files.foreach(move(job, _))
      waitDrained("warm replay", nextFile)
      phases += Map("phase" -> (if (traced || !job.trace) "warm" else "warm_untraced"),
        "traced" -> traced, "start_ms" -> start, "files" -> files)
    }
    // traced runs alternate untraced and traced warm replays
    for (i <- 0 until p.int("warm_replays") + (if (job.trace) 1 else 0))
      warmReplay(traced = job.trace && i % 2 == 1)

    // open-loop tail: one generator thread, fixed schedule
    val used = nextFile
    val nTail = p.int("tail_files")
    require(used + nTail <= order.size, s"feed too small for $nTail tail files")
    val tailFiles = takeFiles(nTail)
    val schedule = ArrayBuffer[Map[String, Any]]()
    val tailStart = Clock.ms + 20
    val gen = new Thread(() => {
      tailFiles.zipWithIndex.foreach { case (f, i) =>
        val due = tailStart + i * interval
        while (Clock.ms < due) Thread.sleep(0, 200000)
        val done = queries.map { case (_, q) => progress.rows(q.id) / perFile - used }.min
        move(job, f)
        schedule += Map("file" -> f, "due_ms" -> due, "moved_ms" -> Clock.ms,
          "backlog_files" -> math.max(0L, i - done))
      }
    }, "perfbench-tail-generator")
    gen.start()
    gen.join()
    waitDrained("tail", nextFile)
    phases += Map("phase" -> "tail", "traced" -> job.trace, "start_ms" -> tailStart,
      "files" -> tailFiles, "interval_ms" -> interval)
    traceOn(false)
    queries.foreach(_._2.stop())
    val tookS = (Clock.ms - coldStart) / 1e3
    require(tookS <= job.num("seconds"),
      f"the replays and the tail took $tookS%.1f s, more than the run's ${job.num("seconds")} s")
    spark.streams.removeListener(progress)

    val batches = queries.map { case (n, q) =>
      n -> sourceLog(new File(s"$root/$n/_checkpoint/sources/0"))
    }.toMap
    val check = checkOutputs(job, spark, root, batches, twoPc, order.take(nextFile))
    val calls = StreamRec.calls.toSeq.map { case ((who, step, b), (s, e)) =>
      Map("query" -> who, "step" -> step, "batch" -> b, "start_ms" -> s, "end_ms" -> e)
    }
    val progressOut = queries.map { case (n, q) =>
      n -> progress.byQuery.get(q.id).map(_.toSeq).getOrElse(Nil)
    }.toMap
    if (job.trace) triggerSpans(spans, progressOut, phases.toSeq)
    Map("phases" -> phases.toSeq, "schedule" -> schedule.toSeq,
      "construct_ms" -> Seq(coldStart, constructEnd),
      "batches" -> batches.map { case (n, m) =>
        n -> m.toSeq.map { case (b, fs) => Map("batch" -> b, "files" -> fs) } },
      "calls" -> calls, "progress" -> progressOut, "check" -> check,
      "events_per_file" -> perFile,
      "bytes" -> Map(
        "feed" -> dirBytes(feedDir(job)),
        "routed" -> routes.map(r => dirBytes(new File(s"$root/routed/${r._1.name}"))).sum,
        "twopc" -> (dirBytes(new File(s"$root/twopc/a")) + dirBytes(new File(s"$root/twopc/b")) +
          dirBytes(new File(s"$root/twopc/log")))),
      "cached_mb_end" -> sc.getRDDStorageInfo.map(_.memSize).sum / 1e6,
      "memo_builds_end" -> sc.getPersistentRDDs.size,
      "scheduler" -> (if (job.trace) listener.toJson else Map.empty))
  }

  /** Trigger phases Spark reports per micro-batch, in the order
    * MicroBatchExecution runs them. */
  val triggerPhases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  /** Spans per traced micro-batch (trace id `<subscriber>:<batch>`): the
    * trigger, its phases laid end to end from the durations Spark
    * reports, and under `addBatch` the timed sink and 2PC calls. */
  def triggerSpans(spans: Spans, progress: Map[String, Seq[Map[String, Any]]],
      phases: Seq[Map[String, Any]]): Unit = {
    val untraced = phases.sliding(2).collect {
      case Seq(a, b) if a("phase") == "warm_untraced" =>
        (a("start_ms").asInstanceOf[Double], b("start_ms").asInstanceOf[Double])
    }.toSeq
    val calls = StreamRec.calls.toSeq
    for ((who, recs) <- progress; r <- recs) {
      val batch = r("batch").asInstanceOf[Long]
      val start = r("start_ms").asInstanceOf[Long].toDouble
      val d = r("duration_ms").asInstanceOf[Map[String, Long]]
      if (r("rows").asInstanceOf[Long] > 0 && !untraced.exists { case (a, b) => a <= start && start < b }) {
        val trace = s"$who:$batch"
        val trigger = spans.add(0, trace, "trigger", start, start + d.getOrElse("triggerExecution", 0L))
        var t = start
        triggerPhases.filter(d.contains).foreach { ph =>
          val id = spans.add(trigger, trace, ph, t, t + d(ph))
          if (ph == "addBatch") calls.foreach { case ((q, step, b), (s, e)) =>
            if (q == who && b == batch) spans.add(id, trace, step, s, e)
          }
          t += d(ph)
        }
      }
    }
  }

  def dirBytes(d: File): Long =
    if (!d.exists()) 0L
    else if (d.isFile) d.length()
    else d.listFiles().map(dirBytes).sum

  /** batchId → feed file indices, from the file source's own log. */
  def sourceLog(dir: File): Map[Long, Seq[Int]] = {
    val entry = """"path":"[^"]*/f_(\d+)\.parquet".*"batchId":(\d+)""".r
    val pairs = dir.listFiles().filter(f => !f.getName.startsWith(".")).toSeq.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().toSeq.flatMap(l =>
        entry.findFirstMatchIn(l).map(m => (m.group(2).toLong, m.group(1).toInt)))
    }.distinct
    pairs.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sorted }
  }

  /** Per committed batch: each route holds exactly its slice of the
    * batch's events, both staged sinks hold the whole batch, and no
    * 2PC batch is visible at one staged sink and missing at the other. */
  def checkOutputs(job: Job, spark: SparkSession, root: String,
      batches: Map[String, Map[Long, Seq[Int]]], twoPc: TwoPhaseFanOut,
      staged: Seq[Int]): Map[String, Any] = {
    val events = feed
    val problems = ArrayBuffer[String]()
    def canon(vals: Seq[Any]): String = vals.map(String.valueOf).mkString("|")
    def read(glob: String, fields: Seq[String]): Map[Long, Seq[String]] = {
      val df = spark.read.parquet(glob).selectExpr(
        fields.map(f => s"${fieldExpr(f)} AS $f") :+ "input_file_name() AS _f": _*)
      val batchOf = """/batch_(\d+)/""".r
      df.collect().toSeq.map { r =>
        val b = batchOf.findFirstMatchIn(r.getString(fields.size)).get.group(1).toLong
        b -> canon(fields.indices.map(r.get))
      }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sorted }
    }
    /** Batch ids whose rows at this sink differ from the slice. */
    def mismatched(who: String, log: Map[Long, Seq[Int]], actual: Map[Long, Seq[String]],
        slice: Slice): Set[Long] =
      log.toSeq.sortBy(_._1).collect { case (b, files)
          if actual.getOrElse(b, Nil) != files.flatMap(events(_)).filter(slice.holds)
            .map(e => canon(slice.fields.map(fieldOf(e, _)))).sorted =>
        problems += s"$who batch $b holds ${actual.getOrElse(b, Nil).size} rows, not its slice"
        b
      }.toSet
    for ((who, log) <- batches) {
      val missing = staged.toSet -- log.values.flatten
      if (missing.nonEmpty) problems += s"$who never committed files ${missing.toSeq.sorted.take(5)}"
    }
    // a batch that is wrong at several sinks counts once
    val routedLog = batches("routed")
    val routedBad = routes.flatMap { case (s, _, _) =>
      mismatched(s"routed/${s.name}", routedLog,
        read(s"$root/routed/${s.name}/batch_*", s.fields), s)
    }.toSet
    val twopcLog = batches("twopc")
    val full = Slice("full", _ => true, allFields)
    val sinks = Seq("a", "b").map(n => n -> new ParquetStagedSink(s"$root/twopc/$n"))
    val visible = sinks.map(_._2.visibleBatches.toSet)
    val torn = (visible.reduce(_ union _) -- visible.reduce(_ intersect _)) ++
      twopcLog.keySet.filterNot(twoPc.committed)
    if (torn.nonEmpty) problems += s"2PC batches not visible at both sinks: ${torn.toSeq.sorted}"
    val twopcBad = torn ++ sinks.flatMap { case (n, _) =>
      mismatched(s"twopc/$n", twopcLog, read(s"$root/twopc/$n/committed/batch_*", allFields), full)
    }
    Map("attempted" -> (routedLog.size + twopcLog.size),
      "failed" -> (routedBad.size + twopcBad.size), "problems" -> problems.toSeq)
  }
}
