package graft.plans

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** The single-flight half of the [[PlanMemo]] contract. The LRU half
  * is pinned through a real memo by HeavyHittersSuite's "sketch memo:
  * bounded LRU" test. */
class PlanMemoSuite extends SparkSpec {

  test("two threads racing on one key run build once") {
    val memo = new PlanMemo[String](4)
    val builds = new AtomicInteger(0)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    // canonically-equal plans built separately: one key. Analyzed up
    // front, so a thread is only ever parked on the memo itself.
    val dfs = Seq.fill(2)(spark.range(10).selectExpr("id * 2 AS v"))
    dfs.foreach(_.queryExecution.analyzed.canonicalized)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def call(i: Int): Unit = results.add(memo(dfs(i), "p", 1) {
      builds.incrementAndGet()
      entered.countDown()
      release.await(30, TimeUnit.SECONDS)
      "built"
    })
    val first = new Thread(() => call(0))
    first.start()
    assert(entered.await(30, TimeUnit.SECONDS), "first build never ran")
    val second = new Thread(() => call(1))
    second.start()
    // the second call must be parked on the memo while the first
    // build is still running — only then is this a race
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (second.getState == Thread.State.RUNNABLE ||
        second.getState == Thread.State.NEW) {
      assert(System.nanoTime() < deadline, "second call never blocked")
      Thread.sleep(5)
    }
    release.countDown()
    first.join(30000); second.join(30000)
    assert(builds.get == 1, s"build ran ${builds.get} times")
    assert(results.toArray.toSeq == Seq("built", "built"))
    assert(memo.size == 1)
  }
}
