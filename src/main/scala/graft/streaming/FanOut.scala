package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The per-micro-batch body every fan-out shares ([[EventStreams.fanOutTo]],
  * [[EventStreams.fanOutRouted]], [[TwoPhaseFanOut.attach]]): size the
  * batch, persist it once, hand the cached copy to the sink writes,
  * unpersist. The writes themselves run side by side through
  * [[concurrently]].
  *
  * Why both: a small micro-batch read by the file source arrives split
  * for a large read (one partition per core), so every sink write
  * launched one task per core and wrote as many tiny files, one write
  * after another. Once per-task overhead dominates, fewer tasks and
  * overlapped writes cut the batch's latency; more cores do not.
  */
private[graft] object FanOut {

  /** Start `events` through foreachBatch: each micro-batch is coalesced
    * by [[sizedToBatch]], persisted, passed to `body` with its batchId,
    * and unpersisted when `body` returns or throws. */
  def start(events: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val cached = sizedToBatch(batch.toDF()).persist()
        try body(cached, batchId)
        finally cached.unpersist()
        ()
      }
      .start()

  /** `df` coalesced to max(1, min(its partitions, ⌈plan size /
    * spark.sql.files.openCostInBytes⌉)) partitions. Spark's open cost is
    * its own estimate of what one file costs, so no partition carries
    * less data than the file it writes; a batch whose estimate covers
    * its partitions (any large one) is returned unchanged. Coalescing
    * merges partitions in place and never shuffles. */
  def sizedToBatch(df: DataFrame): DataFrame = {
    val current = df.queryExecution.toRdd.getNumPartitions
    val openCost = BigInt(df.sparkSession.sessionState.conf.filesOpenCostInBytes)
    val bySize = (df.queryExecution.optimizedPlan.stats.sizeInBytes + openCost - 1) / openCost
    val n = bySize.min(BigInt(current)).max(BigInt(1)).toInt
    if (n < current) df.coalesce(n) else df
  }

  /** A fan-out writes each sink once per batch: two entries with one
    * name would write the same place, and with concurrent writes race. */
  def requireDistinct(sinks: Seq[Sink]): Unit = {
    val repeated = sinks.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    require(repeated.isEmpty,
      s"a fan-out writes each sink once; repeated sink names: ${repeated.mkString(", ")}")
  }

  /** Run `writes` at the same time, one thread each (a single write runs
    * inline), and return only once every one has returned.
    *
    * The threads are started from the caller's, so they inherit its
    * Spark local properties (job group, streaming query id, SQL execution
    * id) and its active session: `StreamingQuery.stop()` cancels their
    * jobs like the query thread's own. On failure the first error, in
    * `writes` order, is rethrown with the others attached as suppressed.
    * If the caller is interrupted, every write is interrupted and waited
    * for, then the interrupt is rethrown. */
  def concurrently(writes: Seq[() => Unit]): Unit =
    if (writes.size <= 1) writes.foreach(_())
    else {
      val errors = new Array[Throwable](writes.size)
      val caller = Thread.currentThread.getName
      val threads = writes.zipWithIndex.map { case (w, i) =>
        val t = new Thread(() => try w() catch { case e: Throwable => errors(i) = e },
          s"$caller-fanout-$i")
        t.setDaemon(true)
        t
      }
      threads.foreach(_.start())
      try threads.foreach(_.join())
      catch {
        case e: InterruptedException =>
          threads.foreach(_.interrupt())
          threads.foreach(joinUninterruptibly)
          errors.filter(_ != null).foreach(e.addSuppressed)
          throw e
      }
      errors.filter(_ != null) match {
        case Array() => ()
        case Array(first, rest @ _*) =>
          rest.foreach(first.addSuppressed)
          throw first
      }
    }

  private def joinUninterruptibly(t: Thread): Unit = {
    var done = false
    while (!done) {
      try { t.join(); done = true }
      catch { case _: InterruptedException => () }
    }
  }
}
