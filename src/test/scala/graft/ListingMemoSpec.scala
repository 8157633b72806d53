package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.ListingMemo

/** The one freshness policy for driver-side values derived from
  * parquet dirs: a value is recomputed exactly when a dir's listing
  * changes, one entry per key, LRU-bounded, `Some` only, never for an
  * unlistable dir, and once for concurrent cold gets.
  */
class ListingMemoSpec extends AnyFunSuite with SparkTestBase {

  private def put(dir: String, name: String, body: String): Unit = {
    Files.write(Paths.get(dir, name), body.getBytes(UTF_8)); ()
  }

  /** A memo, the number of computes it ran, and a get on it that
    * answers the compute count at the time of the compute. */
  private def counted() = {
    val memo = new ListingMemo[Int]
    val computes = new AtomicInteger()
    def get(key: String, dir: String): Option[Int] =
      memo.get(spark, key, Seq(dir))(Some(computes.incrementAndGet()))
    (memo, computes, get _)
  }

  test("an unchanged listing computes once") {
    val dir = scratch("memo_unchanged")
    put(dir, "part-0", "abc")
    val (_, computes, get) = counted()
    assert(get("t", dir).contains(1))
    assert(get("t", dir).contains(1))
    assert(computes.get == 1)
  }

  test("a replaced or added file recomputes; _ and . names do not") {
    val dir = scratch("memo_changed")
    put(dir, "part-0", "abc")
    val (_, computes, get) = counted()
    assert(get("t", dir).contains(1))
    put(dir, "part-0", "abcdef") // replaced: a new length
    assert(get("t", dir).contains(2))
    put(dir, "part-1", "x") // added
    assert(get("t", dir).contains(3))
    put(dir, "_SUCCESS", "")
    put(dir, ".part-1.crc", "crc")
    assert(get("t", dir).contains(3))
    assert(computes.get == 3)
  }

  test("three rewrites of one table leave one entry for it") {
    val dir = scratch("memo_rewrites")
    val (memo, computes, get) = counted()
    for (i <- 1 to 3) {
      put(dir, s"part-$i", "x" * i)
      assert(get("t", dir).contains(i))
    }
    assert(computes.get == 3)
    assert(memo.keys == Seq("t"))
  }

  test("capacity + 1 keys evicts the least recently used") {
    val dir = scratch("memo_lru")
    put(dir, "part-0", "abc")
    val (memo, computes, get) = counted()
    val keys = (0 to ListingMemo.Capacity).map(i => s"k$i")
    keys.init.foreach(get(_, dir))
    get("k0", dir) // k0 is now the most recently used; k1 the least
    assert(computes.get == ListingMemo.Capacity)
    get(keys.last, dir)
    assert(memo.keys.size == ListingMemo.Capacity)
    assert(!memo.keys.contains("k1") && memo.keys.contains("k0"))
    assert(get("k0", dir).contains(1))
    assert(get("k1", dir).contains(ListingMemo.Capacity + 2))
  }

  test("None is not stored; invalidate recomputes") {
    val dir = scratch("memo_none")
    put(dir, "part-0", "abc")
    val memo = new ListingMemo[Int]
    val computes = new AtomicInteger()
    for (_ <- 1 to 2)
      assert(memo.get(spark, "t", Seq(dir)) {
        computes.incrementAndGet(); None }.isEmpty)
    assert(computes.get == 2 && memo.keys.isEmpty)
    assert(memo.get(spark, "t", Seq(dir))(Some(7)).contains(7))
    memo.invalidate("t")
    assert(memo.get(spark, "t", Seq(dir))(Some(8)).contains(8))
  }

  test("an unlistable dir answers None without calling compute") {
    val dir = scratch("memo_unlistable")
    put(dir, "part-0", "abc")
    val (memo, computes, get) = counted()
    assert(get("t", dir).contains(1))
    assert(memo.get(spark, "t", Seq(dir, s"$dir/no_such")) {
      computes.incrementAndGet(); Some(0) }.isEmpty)
    assert(get("missing", s"$dir/no_such").isEmpty)
    assert(computes.get == 1)
  }

  test("two threads cold-getting one key compute once") {
    val dir = scratch("memo_threads")
    put(dir, "part-0", "abc")
    val memo = new ListingMemo[Int]
    val computes = new AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gets = (1 to 2).map(_ => pool.submit(() => {
        start.await()
        memo.get(spark, "t", Seq(dir)) {
          Thread.sleep(300) // hold the key while the other thread arrives
          Some(computes.incrementAndGet())
        }
      }))
      start.countDown()
      assert(gets.map(_.get()) == Seq(Some(1), Some(1)))
      assert(computes.get == 1)
    } finally pool.shutdown()
  }
}
