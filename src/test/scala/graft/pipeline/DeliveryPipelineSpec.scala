package graft.pipeline

import graft.SparkSpec
import graft.sinks.{DataSyncAction, SinkOutcome}
import graft.state.{KVStore, LeaseStore}
import org.apache.spark.sql.DataFrame
import java.nio.file.Files
import java.sql.Timestamp

class DeliveryPipelineSpec extends SparkSpec {

  private def ts(n: Long) = new Timestamp(n)

  private class ScriptedSink(outcomes: SinkOutcome*) extends DataSyncAction {
    var received = List.empty[(Seq[String], Long)]
    private var i = -1
    override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome = {
      i += 1
      received :+= (changes.columns.toSeq, changes.count())
      outcomes(math.min(i, outcomes.length - 1))
    }
  }

  private def pipeline(sink: DataSyncAction,
                       dir: String = Files.createTempDirectory("dp").toString) = {
    val client = new KVStore(spark, s"$dir/allowed")
    client.save("demo", "id,version,name", ts(1))
    val err = new KVStore(spark, s"$dir/err")
    val lease = new LeaseStore(spark, s"$dir/lease")
    (new DeliveryPipeline("demo", Seq("id"), "version",
      allowlistConfig = Some("ID"), clientAllowlist = client,
      lastError = err, lease = lease, sink = sink,
      sinkParams = Map("baseUrl" -> "http://x")), err, lease, client)
  }

  private def changes = {
    import spark.implicits._
    Seq((1L, 1L, "v1", "x"), (1L, 2L, "v2", "x"), (2L, 1L, "w1", "x"))
      .toDF("id", "version", "name", "secret")
  }

  test("success: dedup + union-allowlist projection reach the sink; lease cleared") {
    val sink = new ScriptedSink(SinkOutcome(success = true, 200, retryable = false, ""))
    val (p, err, lease, _) = pipeline(sink)
    assert(p.deliver(changes, ts(10)) == p.Delivered)
    val (cols, rows) = sink.received.head
    assert(cols == Seq("id", "version", "name"), "config ∪ client allowlist, secret dropped")
    assert(rows == 2, "dedup-to-latest: one row per key")
    assert(lease.attemptCount("demo").contains(0))
    assert(err.get("demo").isEmpty)
  }

  test("retryable failure: LastError written, attempts++, RetryScheduled") {
    val sink = new ScriptedSink(SinkOutcome(success = false, 503, retryable = true, "boom"))
    val (p, err, lease, _) = pipeline(sink)
    val d = p.deliver(changes, ts(10))
    assert(d.isInstanceOf[p.RetryScheduled])
    assert(lease.attemptCount("demo").contains(1))
    assert(err.get("demo").exists(_.startsWith("status=503")))
    // second failed delivery increments again (redelivery semantics)
    p.deliver(changes, ts(20))
    assert(lease.attemptCount("demo").contains(2))
  }

  test("non-retryable failure: retry=false marker, NotifyRequired") {
    val sink = new ScriptedSink(SinkOutcome(success = false, 404, retryable = false, "nope"))
    val (p, err, _, _) = pipeline(sink)
    val d = p.deliver(changes, ts(10))
    assert(d.isInstanceOf[p.NotifyRequired])
    assert(err.get("demo").exists(_.startsWith("retry=false")))
  }

  test("client allowlist changes take effect on the NEXT batch (re-read per delivery)") {
    val sink = new ScriptedSink(SinkOutcome(success = true, 200, retryable = false, ""))
    val (p, _, _, client) = pipeline(sink)
    p.deliver(changes, ts(10))
    assert(sink.received.head._1 == Seq("id", "version", "name"))
    // shrink the client allowlist; config still contributes ID
    client.save("demo", "version", ts(15))
    p.deliver(changes, ts(20))
    assert(sink.received(1)._1 == Seq("id", "version"),
      "next batch re-resolves the allowlist (never cached)")
  }

  test("allowlist edits, by this store or another instance on its path, reach the next delivery") {
    val sink = new ScriptedSink(SinkOutcome(success = true, 200, retryable = false, ""))
    val dir = Files.createTempDirectory("dp").toString
    val (p, _, _, client) = pipeline(sink, dir)
    val other = new KVStore(spark, s"$dir/allowed")
    p.deliver(changes, ts(10))
    client.save("demo", "name", ts(15))
    p.deliver(changes, ts(20))
    other.save("demo", "secret", ts(25))
    p.deliver(changes, ts(30))
    client.save("demo", "name,secret", ts(35))
    p.deliver(changes, ts(40))
    other.delete("nothing") // a fold by the other instance keeps the value
    p.deliver(changes, ts(50))
    assert(sink.received.map(_._1) == Seq(
      Seq("id", "version", "name"),
      Seq("id", "name"),
      Seq("id", "secret"),
      Seq("id", "name", "secret"),
      Seq("id", "name", "secret")))
  }
}
