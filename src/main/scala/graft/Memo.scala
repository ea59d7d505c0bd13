package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.InlineCTE
import org.apache.spark.sql.catalyst.plans.logical.CTERelationDef
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The session memo registry: every per-corpus artifact an op builds
  * once and then reuses for the rest of the session — persisted
  * relations (tokenized corpus, signature bases, converged rank
  * tables), plain JVM values (IVF index, PQ codebook, OPQ rotation)
  * and write-once on-disk fixture roots. It is the only code that
  * knows the key recipe, the locking, how a relation is materialized
  * and how a session's entries are dropped.
  *
  * KEY CONTRACT: an entry is keyed (session, tag, corpus). A tag names
  * ONE build. The key never looks at the build's input, so every
  * caller of a tag must build the same relation over the same corpus;
  * a caller whose input differs from the tag's other callers (a
  * different clone planting, a filtered corpus, other parameters)
  * must use its own tag, or it silently reads the other caller's rows.
  * Parameters that change the build belong in the tag.
  *
  * LOCKING: one lock object per key, taken from a ConcurrentHashMap and
  * held only while that key builds. Concurrent first calls on one key
  * build exactly once; builds of different keys, including a build
  * nested inside another (rank scores over a memoized edge list),
  * never wait on each other. A hit is one map lookup: no plan analysis,
  * no job. A build that throws records nothing, so the next call
  * retries it.
  *
  * EVICTION: [[evict]] drops one session's entries and fixtures.
  * Dropping is always safe — a persisted relation keeps its lineage
  * and the next call rebuilds it — so the registry needs no policy of
  * its own; Spark's block manager already spills or drops
  * MEMORY_AND_DISK blocks under storage pressure.
  */
object Memo {

  /** A memoized JVM value that holds persisted relations (the
    * IVF index's corpus assignment); eviction unpersists them. */
  trait HoldsRelations { def relations: Seq[DataFrame] }

  /** One key's lock and value; `value` stays null until a build
    * succeeds. */
  private final class Slot { @volatile var value: Any = null }

  private val slots = new ConcurrentHashMap[String, Slot]()

  private def sessionPrefix(spark: SparkSession): String =
    s"${Bridge.sessionUUID(spark)}|"

  private def slot(spark: SparkSession, tag: String, corpus: String): Slot =
    slots.computeIfAbsent(s"${sessionPrefix(spark)}$tag|$corpus", _ => new Slot)

  private def once[T](spark: SparkSession, tag: String, corpus: String)(
      build: => T): T = {
    val s = slot(spark, tag, corpus)
    if (s.value == null) s.synchronized {
      if (s.value == null) s.value = build
    }
    s.value.asInstanceOf[T]
  }

  /** A plain JVM value, built once per (session, tag, corpus). */
  def value[T](spark: SparkSession, tag: String, corpus: String)(
      build: => T): T = once(spark, tag, corpus)(build)

  /** A relation, built once per (session, tag, corpus): CTEs inlined,
    * persisted MEMORY_AND_DISK and materialized by one `count()`. The
    * returned frame is what consumers read (or register as a view);
    * their plans then scan it as an InMemoryRelation. */
  def relation(spark: SparkSession, tag: String, corpus: String)(
      build: => DataFrame): DataFrame =
    iterative(spark, tag, corpus)((build, Nil))

  /** [[relation]] for an iterative build that returns its result
    * together with the loop's persisted handles: the handles are
    * unpersisted only after the memo's own copy is materialized, so
    * no round is recomputed and none outlives the build. A result
    * that is already persisted (a loop's last round, or a relation
    * another entry owns) is stored as it is, not persisted twice. */
  def iterative(spark: SparkSession, tag: String, corpus: String)(
      build: => (DataFrame, Seq[DataFrame])): DataFrame =
    once(spark, tag, corpus) {
      val (df, handles) = build
      val out =
        if (df.storageLevel != StorageLevel.NONE) df
        else {
          val p = inlineCtes(df).persist(StorageLevel.MEMORY_AND_DISK)
          p.count()
          p
        }
      handles.foreach(_.unpersist(blocking = false))
      out
    }

  /** A write-once on-disk fixture under
    * [[Tables.fixtureRoot]]`(spark, corpus, name)`, returned. The root
    * is recorded only after `write` succeeds, so a failed write retries
    * instead of feeding a scan a partial layout; a recorded root is
    * rewritten whenever `present` no longer finds it on disk (an
    * evicted or externally cleaned /tmp heals itself). */
  def fixture(spark: SparkSession, corpus: String, name: String,
      present: String => Boolean = p => new java.io.File(p).exists())(
      write: String => Unit): String = {
    val root = Tables.fixtureRoot(spark, corpus, name)
    val s = slot(spark, s"fixture:$name", corpus)
    if (s.value == null || !present(root)) s.synchronized {
      if (s.value == null || !present(root)) {
        write(root)
        s.value = root
      }
    }
    root
  }

  /** Drop every entry of `spark`'s session — unpersisting its
    * relations — then its on-disk fixtures and catalog tables
    * ([[Tables.evictFixtures]]). Other sessions' entries are untouched:
    * CacheManager is shared by all sessions and keyed by plan, so a
    * relation another session memoized with the same plan is the same
    * cache entry and stays until that session drops it too. Call it
    * when no op is running in the session: a build still in flight
    * would store into a dropped slot. */
  def evict(spark: SparkSession): Unit = {
    val prefix = sessionPrefix(spark)
    val dropped = slots.keySet.asScala.filter(_.startsWith(prefix)).toSeq
      .flatMap(k => Option(slots.remove(k))).flatMap(s => relationsOf(s.value))
    val kept = slots.values.asScala.toSeq.flatMap(s => relationsOf(s.value))
      .map(_.queryExecution.analyzed)
    dropped.filterNot(df => kept.exists(_.sameResult(df.queryExecution.analyzed)))
      .foreach(_.unpersist(blocking = false))
    Tables.evictFixtures(spark)
  }

  /** The persisted relations `spark`'s session holds in the registry. */
  private[graft] def relations(spark: SparkSession): Seq[DataFrame] = {
    val prefix = sessionPrefix(spark)
    slots.asScala.toSeq.collect { case (k, s) if k.startsWith(prefix) => s.value }
      .flatMap(relationsOf)
  }

  private def relationsOf(value: Any): Seq[DataFrame] = value match {
    case ds: Dataset[_] => Seq(ds.toDF())
    case h: HoldsRelations => h.relations
    case _ => Nil
  }

  /** `df` with every CTE inlined into a plain operator tree. A temp
    * view registered from a `WITH`-clause DataFrame stores a WithCTE
    * plan whose CTERelationDef ids are renumbered relative to each
    * consumer during plan normalization, so CacheManager's fragment
    * walk never matches it against the standalone cache key and the
    * persisted build is silently rebuilt inside every consumer.
    * Inlining before persisting makes the view fragment the same plain
    * tree the cache is keyed on. Inlining copies a CTE into every
    * reference, which changes the result of a non-deterministic
    * definition (each copy would draw its own `rand()`), so such a
    * build is rejected. */
  private def inlineCtes(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    val defs = plan.collectWithSubqueries { case d: CTERelationDef => d }
    if (defs.isEmpty) df
    else {
      require(defs.forall(_.deterministic),
        "a memoized relation may only inline deterministic CTE definitions")
      Bridge.ofRows(df.sparkSession, InlineCTE(alwaysInline = true)(plan))
    }
  }
}
