package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

class MemoSpec extends SparkTestBase {

  test("Memo: one build per key under contention, nested builds, failed builds retried, evict unpersists") {
    val memo = new Memo

    // eight threads asking for one key at once: one build, one value
    val slow = memo[Int]("slow")
    val slowBuilds = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val got = try {
      val futures = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          go.await()
          slow(spark, "dir") {
            slowBuilds.incrementAndGet(); Thread.sleep(200); 42
          }
        }
      }))
      go.countDown()
      futures.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(got === Seq.fill(8)(42))
    assert(slowBuilds.get === 1)

    // a build may read another memo
    val inner = memo[Int]("inner")
    val outer = memo[Int]("outer")
    assert(outer(spark, "dir")(inner(spark, "dir")(1) + 1) === 2)
    assert(inner(spark, "dir")(-1) === 1)

    // a throwing build caches nothing; the next get builds again
    val flaky = memo[Int]("flaky")
    intercept[IllegalStateException](
      flaky(spark, "dir")(throw new IllegalStateException("boom")))
    assert(flaky(spark, "dir")(7) === 7)

    // evict unpersists the held frames; the next get rebuilds
    val held = memo.frames[DataFrame]("held", Set("some_query"))(Seq(_))
    var heldBuilds = 0
    def frame(): DataFrame = held(spark, "dir") {
      heldBuilds += 1
      spark.range(1000).toDF().localCheckpoint(true)
    }
    val rddId = frame().queryExecution.analyzed
      .collect { case lr: LogicalRDD => lr.rdd.id }.head
    def stored = spark.sparkContext.getRDDStorageInfo.exists(_.id == rddId)
    // block updates reach the status store asynchronously
    val deadline = System.nanoTime() + 10000000000L
    while (!stored && System.nanoTime() < deadline) Thread.sleep(50)
    assert(stored)
    assert(memo.evictable.map(_.name) === Seq("held"))
    held.evict()
    assert(!stored)
    assert(frame().count() === 1000L)
    assert(heldBuilds === 2)
    held.evict()

    assert(memo.builds.map(_._1) ===
      Seq("slow", "inner", "outer", "flaky", "held", "held"))
  }
}
