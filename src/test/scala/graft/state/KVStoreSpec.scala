package graft.state

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

class KVStoreSpec extends SparkSpec {

  private def tmp = Files.createTempDirectory("kvstore").toString
  private def ts(ms: Long) = new Timestamp(ms)

  test("save/get: last write wins, updated_at stamped") {
    val kv = new KVStore(spark, tmp)
    assert(kv.get("t1").isEmpty)
    kv.save("t1", "Id,Name", ts(1000))
    assert(kv.get("t1").contains("Id,Name"))
    kv.save("t1", "Id,Name,LastUpdate", ts(2000))
    assert(kv.get("t1").contains("Id,Name,LastUpdate"))
    assert(kv.all().count() == 1)
  }

  test("incoming wins on exact timestamp tie (overwrite semantics)") {
    val kv = new KVStore(spark, tmp)
    kv.save("k", "old", ts(5000))
    kv.save("k", "new", ts(5000))
    assert(kv.get("k").contains("new"))
  }

  test("independent keys coexist; delete removes one") {
    val kv = new KVStore(spark, tmp)
    kv.save("a", "1", ts(1)); kv.save("b", "2", ts(2))
    assert(kv.all().count() == 2)
    kv.delete("a")
    assert(kv.get("a").isEmpty && kv.get("b").contains("2"))
  }

  private def entries(dir: String, prefix: String) =
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(_.startsWith(prefix)).sorted.toSeq

  test("snapshots are compacted to the retained window (bounded history)") {
    val dir = tmp
    val kv = new KVStore(spark, dir, keepSnapshots = 2)
    // 150 point saves: the log folds at 64 records, so this crosses two folds;
    // the deletes fold twice more
    (1 to 150).foreach(i => kv.save("k", s"v$i", ts(i.toLong)))
    kv.delete("none"); kv.delete("none")
    val snaps = entries(dir, "v_")
    assert(snaps.length == 2, s"expected 2 snapshot dirs, got $snaps")
    val logs = entries(dir, "log_")
    assert(logs.length <= 2, s"expected at most 2 log dirs, got $logs")
    assert(kv.get("k").contains("v150"))
    assert(new KVStore(spark, dir).get("k").contains("v150"))
  }

  test("point saves launch no Spark job and write no snapshot") {
    val dir = tmp
    val kv = new KVStore(spark, dir)
    // jobs started from this thread carry its job group; a marker job run
    // last flushes the listener bus in order
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("kv-point-ops") => jobs.incrementAndGet()
          case Some("kv-marker") => flushed.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("kv-point-ops", "point ops")
      (1 to 5).foreach(i => kv.save(s"k${i % 2}", s"v$i", ts(i.toLong)))
      assert(kv.get("k1").contains("v5") && kv.get("k0").contains("v4"))
      assert(kv.get("k1").contains("v5"))
      sc.setJobGroup("kv-marker", "marker")
      spark.range(1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get == 0, s"${jobs.get} jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(entries(dir, "v_").isEmpty)
  }

  test("newer updated_at wins across the base and the log, whatever the write order") {
    val kv = new KVStore(spark, tmp)
    kv.save("k", "newest", ts(5000))
    kv.delete("other") // fold: "newest" now lives in the base snapshot
    kv.save("k", "older", ts(1000))
    assert(kv.get("k").contains("newest"), "base row is newer than the log record")
    kv.save("j", "b", ts(3000))
    kv.save("j", "a", ts(2000))
    assert(kv.get("j").contains("b"), "earlier log record is newer")
    val rows = kv.all().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("k" -> "newest", "j" -> "b"))
    kv.delete("other")
    assert(kv.get("k").contains("newest") && kv.get("j").contains("b"), "survives a fold")
  }

  test("exact timestamp tie against the base: the incoming write wins") {
    val kv = new KVStore(spark, tmp)
    kv.save("k", "old", ts(5000))
    kv.delete("other")
    kv.save("k", "new", ts(5000))
    assert(kv.get("k").contains("new"))
    assert(kv.all().collect().map(_.getString(1)).toSeq == Seq("new"))
  }

  test("delete followed by save") {
    val kv = new KVStore(spark, tmp)
    kv.save("k", "v1", ts(10))
    kv.delete("k")
    assert(kv.get("k").isEmpty)
    kv.save("k", "v2", ts(1)) // an older stamp still recreates a deleted key
    assert(kv.get("k").contains("v2"))
    assert(kv.all().count() == 1)
  }

  test("lazy handle from all() stays evaluable after later saves and a fold") {
    val kv = new KVStore(spark, tmp)
    kv.save("a", "1", ts(1))
    kv.delete("none") // the handle below reads a snapshot plus a log record
    kv.save("b", "2", ts(2))
    val before = kv.all()
    kv.save("a", "3", ts(3))
    kv.delete("b") // fold
    kv.save("c", "4", ts(4))
    val rows = before.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == Map("a" -> "1", "b" -> "2"), "the handle keeps its captured state")
    assert(kv.all().collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "3", "c" -> "4"))
  }

  test("concurrent saves from threads and two instances on one path all survive") {
    val dir = tmp
    val stores = Seq(new KVStore(spark, dir), new KVStore(spark, dir))
    // 4 threads x 20 saves = 80 records: one fold runs while others append
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 20).foreach { i =>
        stores(t % 2).save(s"t$t-$i", s"v$i", ts(i.toLong))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(stores(0).all().count() == 80)
    for (t <- 0 until 4; i <- 0 until 20; kv <- stores)
      assert(kv.get(s"t$t-$i").contains(s"v$i"), s"t$t-$i lost")
  }

  test("a second instance's write is seen by the first instance's next get") {
    val dir = tmp
    val first = new KVStore(spark, dir)
    val second = new KVStore(spark, dir)
    first.save("k", "v1", ts(1))
    assert(first.get("k").contains("v1"))
    second.save("k", "v2", ts(2))
    assert(first.get("k").contains("v2"), "log append by another instance")
    second.delete("other")
    second.save("k", "v3", ts(3))
    assert(first.get("k").contains("v3"), "fold and append by another instance")
  }

  test("lazy handle from all() survives a subsequent save (snapshot retention)") {
    val kv = new KVStore(spark, tmp) // default retention of 3
    kv.save("k", "v1", ts(1))
    val before = kv.all() // lazy: reads v_0 when evaluated
    kv.save("k", "v2", ts(2)) // writes v_1; v_0 must still exist
    assert(before.filter(before("key") === "k").count() == 1)
    assert(kv.get("k").contains("v2"))
  }

  test("concurrent saves of different keys both survive (no lost update)") {
    val kv = new KVStore(spark, tmp)
    val threads = (1 to 4).map { i =>
      new Thread(() => kv.save(s"k$i", s"v$i", ts(i.toLong)))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(kv.all().count() == 4)
    (1 to 4).foreach(i => assert(kv.get(s"k$i").contains(s"v$i")))
  }

  test("cleanStorage: empty entities removed, crash leftovers deleted") {
    val dir = tmp
    val kv = new KVStore(spark, dir)
    kv.save("live", "data", ts(1))
    kv.save("empty", "", ts(2))
    kv.save("blank", "   ", ts(3))
    // simulate a writer that died mid-swap: stray tmp pointer + future snapshot
    val root = java.nio.file.Paths.get(dir)
    Files.writeString(root.resolve("_CURRENT.tmp99"), "99")
    Files.createDirectories(root.resolve("v_99"))
    val (empties, orphans) = kv.cleanStorage()
    assert(empties == 2, s"expected 2 empty entities, got $empties")
    assert(orphans == 2, s"expected 2 orphans, got $orphans")
    assert(kv.get("live").contains("data"))
    assert(kv.get("empty").isEmpty && kv.get("blank").isEmpty)
    assert(!Files.exists(root.resolve("_CURRENT.tmp99")))
    assert(!Files.exists(root.resolve("v_99")))
  }

  test("cleanStorage removes stray log tmp records and log directories newer than the live version") {
    val dir = tmp
    val kv = new KVStore(spark, dir)
    kv.save("live", "data", ts(1))
    kv.delete("none") // live version 1, with an empty log_1
    kv.save("more", "x", ts(2))
    val root = java.nio.file.Paths.get(dir)
    Files.writeString(root.resolve("log_1").resolve(".tmp-dead"), "partial")
    Files.createDirectories(root.resolve("log_7"))
    Files.writeString(root.resolve("log_7").resolve("0"), "junk")
    val (empties, orphans) = kv.cleanStorage()
    assert(empties == 0)
    assert(orphans == 2, s"expected 2 orphans, got $orphans")
    assert(!Files.exists(root.resolve("log_1").resolve(".tmp-dead")))
    assert(!Files.exists(root.resolve("log_7")))
    assert(kv.get("live").contains("data") && kv.get("more").contains("x"))
  }

  test("LeaseStore: attempt counts and the 5->4 re-arm nudge") {
    val lease = new LeaseStore(spark, tmp)
    assert(lease.attemptCount("t").isEmpty)
    assert(!lease.nudgeIfExhausted("t"))
    lease.setAttemptCount("t", 3, ts(1))
    assert(!lease.nudgeIfExhausted("t"))
    assert(lease.attemptCount("t").contains(3))
    lease.setAttemptCount("t", 5, ts(2))
    assert(lease.nudgeIfExhausted("t", ts(3)))
    assert(lease.attemptCount("t").contains(4))
  }
}
