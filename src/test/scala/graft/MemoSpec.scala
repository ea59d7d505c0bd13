package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The session memo registry's contract: one build per key under a
  * race, keys that separate corpora, eviction scoped to one session,
  * and no inlining of non-deterministic CTEs. */
class MemoSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A tag no other test or op uses. */
  private def freshTag(name: String): String =
    s"memospec-$name-${java.util.UUID.randomUUID()}"

  test("8 threads racing the first call on one key run exactly one build and share its frame") {
    val tag = freshTag("race")
    val builds = new AtomicInteger()
    val threads = 8
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    val persisted0 = spark.sparkContext.getPersistentRDDs.size
    try {
      val racer = new Callable[DataFrame] {
        def call(): DataFrame = {
          barrier.await()
          Memo.relation(spark, tag, sf001) {
            builds.incrementAndGet()
            // hold the build open so every racer arrives while it runs
            Thread.sleep(200)
            Tables.orders(spark, sf001).groupBy("o_orderstatus").count()
          }
        }
      }
      val futures = (1 to threads).map(_ => pool.submit(racer))
      val frames = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(builds.get == 1, s"${builds.get} builds ran for one key")
      assert(spark.sparkContext.getPersistentRDDs.size == persisted0 + 1)
      assert(frames.forall(_ eq frames.head), "racers got different frames")
      assert(rows(frames.head) ==
        rows(Tables.orders(spark, sf001).groupBy("o_orderstatus").count()))
    } finally pool.shutdown()
  }

  test("one tag over two corpora gives two entries with their own rows") {
    val tag = freshTag("corpus")
    def memo(d: String) = Memo.relation(spark, tag, d)(
      Tables.lineitem(spark, d).agg(count(lit(1)).as("n")))
    val small = memo(sf001)
    val big = memo(sf01)
    assert(!(small eq big))
    assert(rows(small) != rows(big))
    assert(rows(small) == rows(Tables.lineitem(spark, sf001).agg(count(lit(1)))))
    assert(rows(big) == rows(Tables.lineitem(spark, sf01).agg(count(lit(1)))))
    // a repeat call is a hit on each key
    assert(memo(sf001) eq small)
    assert(memo(sf01) eq big)
  }

  test("evict drops only this session's entries; the next call rebuilds identical rows") {
    val shared = freshTag("shared")
    val own = freshTag("own")
    val other = spark.newSession()
    val builds = new AtomicInteger()
    def sharedBuild(s: org.apache.spark.sql.SparkSession) = Memo.relation(s, shared, sf001) {
      builds.incrementAndGet()
      Tables.nation(s, sf001).groupBy("n_regionkey").count()
    }
    def ownBuild() = Memo.relation(spark, own, sf001) {
      builds.incrementAndGet()
      Tables.supplier(spark, sf001).groupBy("s_nationkey").count()
    }
    val mine = sharedBuild(spark)
    val mineOwn = ownBuild()
    val theirs = sharedBuild(other)
    val want = rows(mine)
    val wantOwn = rows(mineOwn)
    assert(builds.get == 3)
    Memo.evict(spark)
    assert(mineOwn.storageLevel == StorageLevel.NONE, "evict left this session's relation cached")
    // the other session's entry is still registered and still cached,
    // even though its plan is the cache entry this session's shared
    // relation also used
    assert(sharedBuild(other) eq theirs)
    assert(theirs.storageLevel != StorageLevel.NONE, "evict unpersisted another session's entry")
    assert(builds.get == 3)
    // this session rebuilds on its next call, with identical rows
    val again = sharedBuild(spark)
    val againOwn = ownBuild()
    assert(builds.get == 5)
    assert(!(again eq mine) && !(againOwn eq mineOwn))
    assert(rows(again) == want && rows(againOwn) == wantOwn)
    assert(againOwn.storageLevel != StorageLevel.NONE)
    Memo.evict(other)
    Memo.evict(spark)
  }

  test("a relation build whose CTE is non-deterministic is rejected, not inlined") {
    val tag = freshTag("rand")
    val err = intercept[IllegalArgumentException] {
      Memo.relation(spark, tag, sf001)(spark.sql(
        """WITH r AS (SELECT id, rand() AS x FROM range(4))
           SELECT a.id, a.x, b.x AS y FROM r a JOIN r b ON a.id = b.id"""))
    }
    assert(err.getMessage.contains("deterministic"))
    // nothing was recorded: a deterministic build under the same key
    // still runs
    val ok = Memo.relation(spark, tag, sf001)(spark.sql(
      """WITH r AS (SELECT id, id * 2 AS x FROM range(4))
         SELECT a.id, a.x, b.x AS y FROM r a JOIN r b ON a.id = b.id"""))
    assert(ok.collect().forall(r => r.getLong(1) == r.getLong(2)))
    Memo.evict(spark)
  }
}
