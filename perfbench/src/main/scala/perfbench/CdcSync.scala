package perfbench

import graft.operators.ChangeFeed
import graft.pipeline.DeliveryPipeline
import graft.sinks.HttpPostAction
import graft.storage.SnapshotStore
import org.apache.spark.sql.SparkSession

import java.util.SplittableRandom
import scala.collection.mutable

/** cdc_sync: the paper's delivery path as a closed loop — one tracked table,
  * one delivery in flight. Each batch commits a seeded change set with
  * `SnapshotStore.merge`, reads the commit back with `readRowChanges` and
  * hands it to `DeliveryPipeline.deliver`, which POSTs it through
  * `HttpPostAction` to the in-process [[Receiver]]. Refused deliveries are
  * redelivered until acknowledged. Batch latency runs from the start of the
  * commit to the acknowledgement of the whole delivery. */
object CdcSync {
  val Table = "dbo.tracked"
  // Batch sizes follow the reference trigger's local configuration
  // (BASELINE.md, "Reference configuration envelope"): a batch delivers at
  // most Sql_Trigger_MaxBatchSize = 500 rows, and a worker holds at most
  // Sql_Trigger_MaxChangesPerWorker = 1000 changes. The shares below have no
  // source in the reference and are assumptions (see perfbench/README.md).
  val NormalRows = 500          // raw change rows per batch: MaxBatchSize
  val BurstRows = 1000          // last batch of each cycle: MaxChangesPerWorker
  val BurstEvery = 4            // batches per cycle: one burst, one refused POST
  val MaxSingleDocRows = 500    // = MaxBatchSize; a burst takes the per-partition path
  val HotKeys = 100             // keys 0..HotKeys-1 take HotShare of the changes
  val HotShare = 0.5
  val InsertShare = 0.05        // changes that insert a new key
  val MaxAttempts = 10
  // the first cycle's refused plain batch and its burst: every delivery
  // path (single document, redelivery, per-partition) runs once
  val WarmupBatches = Seq(0, BurstEvery - 1)
  val CycleSeconds = 10.0        // nominal warm cycle length that sizes a run
  val ConfigAllowlist = "k,ver,qty"
  val ClientAllowlist = "PRICE, status"

  final case class Change(k: Long, ver: Long, qty: Double, price: Double,
                          status: String, note: String)

  /** Seeded change sets: batch `b` is a pure function of (seed, b) and of
    * the versions handed out by earlier batches. */
  final class ChangeGen(seed: Long, baseRows: Long) {
    private val ver = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    private var nextKey = baseRows
    private val statuses = Array("new", "open", "held", "done")

    def batch(b: Int): Seq[Change] = {
      val rng = new SplittableRandom(seed * 1000003L + b)
      val n = if (b % BurstEvery == BurstEvery - 1) BurstRows else NormalRows
      Seq.fill(n) {
        val u = rng.nextDouble()
        val k =
          if (u < InsertShare) { nextKey += 1; nextKey - 1 }
          else if (u < InsertShare + HotShare) rng.nextLong(HotKeys)
          else rng.nextLong(baseRows)
        ver(k) += 1
        Change(k, ver(k), rng.nextInt(1, 100).toDouble,
          math.round(rng.nextDouble(1.0, 1000.0) * 100) / 100.0,
          statuses(rng.nextInt(statuses.length)), s"n${rng.nextInt(1000000)}")
      }
    }
  }

  def run(spark: SparkSession, rec: Recorder, inputs: String, work: String): Unit = {
    val tracer = rec.tracer
    val dir = s"$work/tracked"
    val base = spark.read.parquet(s"$inputs/cdc_base.parquet")
    val baseRows = rec.setupPhase("initial_commit_s") {
      SnapshotStore.merge(spark, dir, base, Seq("k"))
      base.count()
    }
    val allowed = allowlistCols(base.columns.toSeq)
    val receiver = new Receiver(allowed, "k", "ver")
    val clientAllow = new TimedKVStore(spark, s"$work/state/allowlist", tracer)
    clientAllow.save(Table, ClientAllowlist)
    val pipeline = new DeliveryPipeline(Table, Seq("k"), "ver", Some(ConfigAllowlist),
      clientAllow, new TimedKVStore(spark, s"$work/state/last_error", tracer),
      new TimedLeaseStore(spark, s"$work/state/lease", tracer),
      new TimedSink(new HttpPostAction(), tracer),
      Map("baseUrl" -> receiver.url, "maxSingleDocRows" -> MaxSingleDocRows.toString,
        "timeoutMs" -> "60000"))
    val gen = new ChangeGen(rec.seed, baseRows)
    rec.note("change_sets_sha256", Seq(rec.seed, rec.seed, rec.seed + 1)
      .map(s => changeSetsHash(s, baseRows)))
    import spark.implicits._

    var keysDelivered, keysChanged = 0L
    var lastFeed: org.apache.spark.sql.DataFrame = null

    def oneBatch(b: Int): (Double, Option[String]) = {
      val changes = gen.batch(b)
      val latest = changes.groupBy(_.k).map { case (k, cs) =>
        val c = cs.maxBy(_.ver)
        k -> Map[String, Any]("k" -> c.k, "ver" -> c.ver, "qty" -> c.qty,
          "price" -> c.price, "status" -> c.status).filter(kv => allowed(kv._1))
      }
      // the first batch of every cycle is refused once: a plain batch, never the burst
      receiver.beginBatch(latest, refuseFirst = b % BurstEvery == 0)
      tracer.trace = s"batch$b"
      val t0 = System.nanoTime()
      val delta = ChangeFeed.dedupLatest(changes.toDF(), Seq("k"), "ver")
      val v = tracer.span("storage.merge")(SnapshotStore.merge(spark, dir, delta, Seq("k")))
      val feed = tracer.span("storage.row_changes")(
        SnapshotStore.readRowChanges(spark, dir, v - 1, v, Seq("k")))
      var attempts = 0
      var outcome: Option[Option[String]] = None
      while (outcome.isEmpty) {
        attempts += 1
        tracer.span("pipeline.deliver")(pipeline.deliver(feed)) match {
          case pipeline.Delivered => outcome = Some(None)
          case pipeline.RetryScheduled(_) if attempts < MaxAttempts => ()
          case pipeline.RetryScheduled(o) => outcome = Some(Some(s"gave up: ${o.markerString}"))
          case pipeline.NotifyRequired(o) => outcome = Some(Some(s"not retryable: ${o.markerString}"))
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val (got, want) = receiver.coverage()
      keysDelivered += got
      keysChanged += want
      lastFeed = feed
      (secs, outcome.get.orElse(receiver.verdict()))
    }

    /** Redelivers the last acknowledged batch with no injected failures:
      * an idempotent receiver's state must not move. */
    def redeliver(): Option[String] = {
      val before = receiver.stateDigest()
      pipeline.deliver(lastFeed) match {
        case pipeline.Delivered =>
          if (receiver.stateDigest() != before) Some("redelivery changed the state")
          else receiver.verdict()
        case other => Some(s"redelivery refused: $other")
      }
    }

    rec.setupPhase("warmup_s") {
      WarmupBatches.foreach { b =>
        oneBatch(b)._2.foreach(e => rec.fail(s"warm-up batch $b: $e"))
      }
    }
    def receiverCounts = Seq(receiver.posts, receiver.postBytes, receiver.rows, receiver.refused)
    val before = receiverCounts
    keysDelivered = 0
    keysChanged = 0
    rec.startWindow()
    var b = BurstEvery
    // a traced run traces every other cycle, so it makes at least two
    val cycles = math.max(rec.units(CycleSeconds), if (rec.traced) 2 else 1)
    def cycle = b / BurstEvery - 1
    while (cycle < cycles) {
      rec.traceOn(cycle)
      val (secs, verdict) =
        try oneBatch(b)
        catch { case e: Exception => (Double.NaN, Some(s"threw ${e.getClass.getName}: ${e.getMessage}")) }
      verdict.foreach(e => rec.fail(s"batch $b: $e"))
      rec.op("batch", s"batch$b", secs, verdict.isEmpty)
      b += 1
    }
    rec.endWindow()
    tracer.enabled = false
    val counts = receiverCounts.zip(before).map { case (a, z) => a - z }
    rec.note("receiver", Seq("posts", "post_bytes", "rows", "refused").zip(counts).toMap)
    val redelivered = redeliver()
    redelivered.foreach(e => rec.fail(s"redelivery of batch ${b - 1}: $e"))
    rec.check("idempotent_redelivery", redelivered.isEmpty)
    receiver.stop()
    rec.note("cycle", BurstEvery)
    rec.note("recall", keysDelivered / math.max(1L, keysChanged).toDouble)
  }

  /** Digest of the first 20 change sets a fresh generator draws for `seed`. */
  def changeSetsHash(seed: Long, baseRows: Long): String = {
    val gen = new ChangeGen(seed, baseRows)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until 20).foreach(b => gen.batch(b).foreach(c => md.update(c.toString.getBytes)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The columns a delivery must carry: the table's columns named by the
    * union of the configured and client allowlists, case-insensitively. */
  def allowlistCols(tableCols: Seq[String]): Set[String] = {
    val union = (ConfigAllowlist + "," + ClientAllowlist).split(",")
      .map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
    tableCols.filter(c => union(c.toLowerCase)).toSet
  }
}
