package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sinks.{DataSyncAction, SinkOutcome}
import graft.state.{KVStore, LeaseStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Checks one POSTed delivery against the latest state of the batch's
  * changed keys. A delivery must hold one `{"Operation", "Item"}` object
  * per row; every Item carries exactly `columns`, its key is a changed key
  * of the batch, no key repeats within the document, and every value equals
  * the expected latest state (a lower version is reported as stale). */
object DeliveryCheck {
  private val mapper = new ObjectMapper()

  /** Right((key, canonical item)) per row, or Left(reason). */
  def check(body: String, expected: Map[Long, Map[String, Any]],
            columns: Set[String], keyCol: String, versionCol: String)
      : Either[String, Seq[(Long, String)]] = {
    val doc = try mapper.readTree(body) catch {
      case e: Exception => return Left(s"unparseable payload: ${e.getMessage}")
    }
    if (doc == null || !doc.isArray) return Left("payload is not a JSON array")
    val seen = mutable.HashSet.empty[Long]
    val out = Seq.newBuilder[(Long, String)]
    for (row <- doc.elements().asScala) {
      val item = row.get("Item")
      if (item == null || !item.isObject || !row.has("Operation"))
        return Left(s"row without Operation/Item: $row")
      val cols = item.fieldNames().asScala.toSet
      if (cols != columns)
        return Left(s"columns ${cols.toSeq.sorted.mkString(",")} != " +
          columns.toSeq.sorted.mkString(","))
      val key = item.get(keyCol).asLong()
      if (!seen.add(key)) return Left(s"duplicated key $key")
      val want = expected.getOrElse(key, return Left(s"extra key $key"))
      val got = item.get(versionCol).asLong()
      val wantVer = want(versionCol).asInstanceOf[Long]
      if (got < wantVer) return Left(s"stale key $key: version $got < $wantVer")
      want.foreach { case (c, v) =>
        if (!same(item.get(c), v)) return Left(s"key $key column $c: ${item.get(c)} != $v")
      }
      out += key -> item.toString
    }
    Right(out.result())
  }

  private def same(node: JsonNode, v: Any): Boolean = v match {
    case null => node == null || node.isNull
    case _ if node == null || node.isNull => false
    case l: Long => node.isIntegralNumber && node.asLong() == l
    case d: Double => node.isNumber && node.asDouble() == d
    case s: String => node.isTextual && node.asText() == s
    case other => node.asText() == other.toString
  }
}

/** The sink endpoint: an in-process JDK HttpServer with one handler thread.
  * When a batch begins with `refuseFirst`, its first POST is answered 503
  * and not applied. Every other POST is checked with [[DeliveryCheck]]
  * (400 when wrong) and applied to the receiver's key → item state, so a
  * redelivery of accepted rows leaves the state unchanged. */
final class Receiver(columns: Set[String], keyCol: String, versionCol: String) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newSingleThreadExecutor()
  private val state = mutable.HashMap.empty[Long, String]
  private var expected = Map.empty[Long, Map[String, Any]]
  private val received = mutable.HashSet.empty[Long]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var refuseNext = false
  var posts = 0L
  var postBytes = 0L
  var rows = 0L
  var refused = 0L

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def beginBatch(want: Map[Long, Map[String, Any]], refuseFirst: Boolean): Unit = synchronized {
    expected = want
    refuseNext = refuseFirst
    received.clear()
    errors.clear()
  }

  /** None when every changed key arrived and every POST checked out. */
  def verdict(): Option[String] = synchronized {
    if (errors.nonEmpty) Some(errors.head)
    else if (received.size != expected.size)
      Some(s"undelivered: ${expected.size - received.size} of ${expected.size} keys")
    else None
  }

  /** (changed keys delivered, changed keys) of the current batch. */
  def coverage(): (Int, Int) = synchronized((received.size, expected.size))

  def stateDigest(): Int = synchronized(state.toSeq.sortBy(_._1).hashCode)

  private def handle(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val (code, msg) = synchronized {
      posts += 1
      postBytes += body.length
      if (refuseNext) {
        refuseNext = false
        refused += 1
        (503, "injected unavailability")
      } else DeliveryCheck.check(body, expected, columns, keyCol, versionCol) match {
        case Left(err) =>
          errors += err
          (400, err)
        case Right(items) =>
          items.foreach { case (k, item) => state(k) = item; received += k }
          rows += items.size
          (200, "ok")
      }
    }
    val bytes = msg.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

/** State stores whose public calls are spans of the `state` layer. */
final class TimedKVStore(spark: SparkSession, path: String, tracer: Tracer)
    extends KVStore(spark, path) {
  override def get(key: String): Option[String] =
    tracer.span("state.get")(super.get(key))
  override def save(key: String, value: String, now: Timestamp): Unit =
    tracer.span("state.save")(super.save(key, value, now))
}

final class TimedLeaseStore(spark: SparkSession, path: String, tracer: Tracer)
    extends LeaseStore(spark, path) {
  override def attemptCount(table: String): Option[Int] =
    tracer.span("state.get")(super.attemptCount(table))
  override def setAttemptCount(table: String, n: Int, now: Timestamp): Unit =
    tracer.span("state.save")(super.setAttemptCount(table, n, now))
}

/** The sink's `executeAction` as a span of the `sinks` layer. */
final class TimedSink(inner: DataSyncAction, tracer: Tracer) extends DataSyncAction {
  override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome =
    tracer.span("sinks.execute")(inner.executeAction(changes, params))
}
