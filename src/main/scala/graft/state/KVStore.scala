package graft.state

import graft.operators.ChangeFeed
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths,
  StandardCopyOption, StandardOpenOption}
import java.sql.Timestamp
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock
import scala.jdk.CollectionConverters._

/** Keyed last-write-wins state table — the durable-entity analogue
  * (S4 read / S7 upsert; /root/reference/EntityFunctions/EntityFunctions.cs:8-47):
  * `Save` overwrites the value for a key and stamps the write time
  * (EntityFunctions.cs:17-21).
  *
  * Layout under `path`:
  *  - `_CURRENT` names the live base version `n` (absent: version 0 over
  *    an empty base — a new store);
  *  - `v_<n>/` is the base: a parquet snapshot of (key, value, updated_at);
  *  - `log_<n>/` holds the point writes made on top of `v_<n>`, one small
  *    binary record per file named by its sequence number. A writer writes
  *    the record to a `.tmp-*` file in the log, then publishes it by
  *    hard-linking it to the next free number. Linking is exclusive, so a
  *    writer that loses the race for a number retries at the next one and
  *    never overwrites another write. Point writes launch no Spark job.
  *  - `_LOCK` serializes folds across instances and processes.
  *
  * Fold: the state is the base ∪ the log, reduced with
  * `ChangeFeed.dedupLatest` on `updated_at`, log order breaking ties (the
  * later write wins a tie, so the incoming write wins). `all()` captures the
  * log records at call time into the returned frame, so a lazy handle only
  * depends on its base snapshot. A fold (under the lock) renames the live log
  * to `log_<n>.sealed` — a writer racing it can no longer link into it and
  * retries on the next version — writes base ∪ log (optionally with a batch
  * of updates or a filter) as `v_<n+1>` with an empty `log_<n+1>`, swaps the
  * pointer atomically, and prunes versions older than the last
  * `keepSnapshots`, each snapshot together with its log. `saveAll`, `delete`
  * and `cleanStorage` fold; a point `save` folds only when the log holds
  * [[KVStore.FoldBound]] records. The retained snapshots keep lazy frames
  * from `all()` evaluable across that many folds (MVCC-style bounded
  * history).
  *
  * Read memo: `get` remembers the values it has resolved, tagged with the
  * state identity (base version, log length). Every `get` re-reads the
  * pointer and lists the log — one small file read and a directory
  * listing — and answers from the memo only when the identity is unchanged.
  * The store's own saves advance the memo in step; a write by another
  * instance or process changes the identity and invalidates it. A miss
  * reads the log records and, when the base is a snapshot, runs one Spark
  * job for the key.
  */
class KVStore(spark: SparkSession, path: String, keepSnapshots: Int = 3) {
  import KVStore._
  require(keepSnapshots >= 1, "must retain at least the live snapshot")

  private val root = Paths.get(path).toAbsolutePath.normalize
  private val pointer = root.resolve("_CURRENT")
  Files.createDirectories(root)
  private val jvmLock = locks.computeIfAbsent(root, _ => new ReentrantLock())

  /** Values resolved at one state identity (base version, log length);
    * guarded by `this`. */
  private case class Memo(id: (Int, Int), entries: Map[String, Option[Rec]])
  private var memo: Option[Memo] = None

  private def snapshotDir(v: Int) = root.resolve(s"v_$v")
  private def logDir(v: Int) = root.resolve(s"log_$v")
  private def sealedDir(v: Int) = root.resolve(s"log_$v.sealed")

  private def currentVersion: Option[Int] =
    try Some(Files.readString(pointer).trim.toInt)
    catch { case _: NoSuchFileException => None }

  private def live: Int = currentVersion.getOrElse(0)

  /** The base snapshot of version `n`; none for a new store. */
  private def base(n: Int): Option[DataFrame] =
    if (n > 0 || Files.exists(pointer))
      Some(spark.read.schema(Schema).parquet(snapshotDir(n).toString))
    else None

  // Files.walk/list return streams that hold an open directory fd until
  // closed — a scheduled cleanup that never closes them exhausts the
  // process's fd table. Always close via try/finally.
  private def deleteRecursively(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  private def listDir(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.toVector
    finally listing.close()
  }

  /** Published records of a log directory, in sequence order. */
  private def slots(log: Path): Seq[Path] =
    listDir(log).flatMap(p => p.getFileName.toString.toIntOption.map(_ -> p))
      .sortBy(_._1).map(_._2)

  private def readRecords(files: Seq[Path]): Seq[Rec] =
    files.map(f => decode(Files.readAllBytes(f)))

  /** Runs `body` holding the store lock: a JVM-wide lock per store path,
    * plus an OS file lock on `_LOCK` against other processes. Reentrant. */
  private def withLock[T](body: => T): T = {
    jvmLock.lock()
    try {
      if (jvmLock.getHoldCount > 1) body
      else {
        val channel = FileChannel.open(root.resolve("_LOCK"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try { channel.lock(); body } finally channel.close()
      }
    } finally jvmLock.unlock()
  }

  /** Called when version `n`'s live log is missing: either a fold is in
    * progress (waiting on the lock lets it finish), a fold died after
    * sealing the log (finish it), or the log was never made — a new store,
    * or one written before logs existed (make it). Log directories are only
    * created here and by a fold, under the lock, for the live version, so a
    * sealed or pruned log is never brought back. */
  private def repair(n: Int): Unit = withLock {
    if (live == n && !Files.isDirectory(logDir(n))) {
      if (Files.isDirectory(sealedDir(n))) foldLocked()
      else Files.createDirectories(logDir(n))
    }
  }

  /** Runs `f` on the live version, again on the next one if its log was
    * sealed or is missing meanwhile. */
  private def onLive[T](f: Int => T): T = {
    var result: Option[T] = None
    while (result.isEmpty) {
      val n = live
      try result = Some(f(n))
      catch { case _: NoSuchFileException => repair(n) }
    }
    result.get
  }

  /** Base ∪ log records ∪ `incoming`, folded to the latest row per key. */
  private def view(n: Int, recs: Seq[Rec], incoming: Option[DataFrame] = None): DataFrame = {
    val layers =
      base(n).map(_.withColumn(Pri, lit(0L))).toSeq ++
        (if (recs.isEmpty) Nil else Seq(recordFrame(recs))) ++
        incoming.map(_.withColumn(Pri, lit(Long.MaxValue)))
    layers match {
      case Seq() => spark.createDataFrame(java.util.List.of[Row](), Schema)
      case Seq(only) if recs.isEmpty && incoming.isEmpty => only.drop(Pri)
      case _ =>
        ChangeFeed.dedupLatest(layers.reduce(_ unionByName _),
          pk = Seq("key"), version = "updated_at", tieBreak = Seq(Pri)).drop(Pri)
    }
  }

  /** Log records as a local frame; record i of the log ranks i + 1, above
    * the base. */
  private def recordFrame(recs: Seq[Rec]): DataFrame = {
    val rows = recs.zipWithIndex.map { case (r, i) =>
      Row(r.key, r.value, if (r.micros == NullMicros) null else r.micros, i + 1L)
    }
    spark.createDataFrame(rows.asJava, RecordSchema)
      .select(col("key"), col("value"),
        timestamp_micros(col("micros")).as("updated_at"), col(Pri))
  }

  /** Full current state: (key string, value string, updated_at timestamp). */
  def all(): DataFrame = {
    val (n, recs) = onLive(n => (n, readRecords(slots(logDir(n)))))
    view(n, recs)
  }

  /** Point lookup (S4): Some(value) or None, mirroring entity-get-or-204
    * (ClientAllowedColumnsFunction.cs:37-44). */
  def get(key: String): Option[String] = onLive { n =>
    val files = slots(logDir(n))
    val id = (n, files.size)
    synchronized(memo.filter(_.id == id).flatMap(_.entries.get(key))).getOrElse {
      val fromBase = base(n).flatMap { df =>
        df.filter(col("key") === key)
          .select(col("value"), unix_micros(col("updated_at")))
          .collect()
          .map(r => Rec(key, r.getString(0), if (r.isNullAt(1)) NullMicros else r.getLong(1)))
          .maxByOption(_.micros)
      }
      val latest = readRecords(files).filter(_.key == key).foldLeft(fromBase)(lastWriteWins)
      synchronized {
        memo = Some(memo.filter(_.id == id).fold(Memo(id, Map(key -> latest)))(m =>
          m.copy(entries = m.entries + (key -> latest))))
      }
      latest
    }
  }.map(_.value)

  /** Last-write-wins upsert (S7). `now` injectable for deterministic tests. */
  def save(key: String, value: String, now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit = {
    val rec = Rec(key, value, Math.floorDiv(now.getTime, 1000L) * 1000000L + now.getNanos / 1000)
    val (n, seq) = append(rec)
    synchronized {
      memo = memo.map { m =>
        if (m.id != (n, seq)) m
        else Memo((n, seq + 1), m.entries.get(key)
          .fold(m.entries)(cur => m.entries + (key -> lastWriteWins(cur, rec))))
      }
    }
    if (seq + 1 >= FoldBound) withLock { if (live == n) foldLocked() }
  }

  /** Publishes `rec` into the live log; returns (version, sequence number). */
  private def append(rec: Rec): (Int, Int) = {
    val bytes = encode(rec)
    onLive { n =>
      val log = logDir(n)
      val tmp = log.resolve(s".tmp-${UUID.randomUUID}")
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
      try {
        var seq = slots(log).size
        while (!publish(tmp, log.resolve(seq.toString))) seq += 1
        (n, seq)
      } finally Files.deleteIfExists(tmp)
    }
  }

  /** Links `tmp` to `target` unless `target` exists (never replaces it). */
  private def publish(tmp: Path, target: Path): Boolean =
    try { Files.createLink(target, tmp); true }
    catch { case _: FileAlreadyExistsException => false }

  /** Batch upsert of a whole keyed DataFrame (key, value, updated_at); its
    * rows win timestamp ties against the stored state. */
  def saveAll(updates: DataFrame): Unit = withLock { foldLocked(Some(updates)) }

  /** Delete a key (entity removal, CleanEntityStorage analogue). */
  def delete(key: String): Unit = withLock {
    foldLocked(keep = _.filter(col("key") =!= key))
  }

  /** Entity-storage compaction (CleanupFunction.cs:36-40,
    * `CleanEntityStorageAsync { ReleaseOrphanedLocks, RemoveEmptyEntities }`):
    *
    *  - remove-empty-entities → drop keys whose value is null/blank (the
    *    durable-entity "exists but holds no state" shape);
    *  - release-orphaned-locks → delete crash leftovers: stray
    *    `_CURRENT.tmp*` pointer files (a writer died mid-swap), stray
    *    `.tmp-*` log records (a writer died before publishing), and `v_*`
    *    snapshot and `log_*` directories NEWER than the live pointer (a
    *    writer died after writing them but before the swap — they are
    *    unreachable, not history).
    *
    * Returns (emptyEntitiesRemoved, orphansDeleted). */
  def cleanStorage(removeEmptyEntities: Boolean = true,
                   releaseOrphanedLocks: Boolean = true): (Long, Long) = withLock {
    val empty = col("value").isNull || trim(col("value")) === ""
    val empties =
      if (!removeEmptyEntities) 0L
      else {
        val emptyCount = all().filter(empty).count()
        if (emptyCount > 0) foldLocked(keep = _.filter(!empty))
        emptyCount
      }
    var orphans = 0L
    if (releaseOrphanedLocks) {
      val n = live
      listDir(root).foreach { p =>
        val name = p.getFileName.toString
        val staleTmp = name.startsWith("_CURRENT.tmp")
        val future = versionOf(name).exists(_ > n)
        if (staleTmp || future) {
          deleteRecursively(p)
          orphans += 1
        } else if (name.startsWith("log_")) {
          listDir(p).filter(_.getFileName.toString.startsWith(".tmp-")).foreach { t =>
            Files.deleteIfExists(t)
            orphans += 1
          }
        }
      }
    }
    (empties, orphans)
  }

  /** The only writer of snapshots. Seals the live log, writes
    * `keep(base ∪ log ∪ incoming)` as the next version with an empty log,
    * swaps the pointer and prunes. Caller holds the lock. */
  private def foldLocked(incoming: Option[DataFrame] = None,
                         keep: DataFrame => DataFrame = identity): Unit = {
    val n = live
    if (Files.isDirectory(logDir(n)))
      Files.move(logDir(n), sealedDir(n), StandardCopyOption.ATOMIC_MOVE)
    val recs =
      if (Files.isDirectory(sealedDir(n))) readRecords(slots(sealedDir(n))) else Nil
    val next = n + 1
    keep(view(n, recs, incoming)).write.mode(SaveMode.Overwrite)
      .parquet(snapshotDir(next).toString)
    Files.createDirectories(logDir(next))
    val tmp = root.resolve(s"_CURRENT.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    synchronized { memo = None }
    // prune versions older than the retained window (history compaction,
    // the ContinueAsNew bounded-state analogue — RetryFunctions.cs:60-62);
    // keeping `keepSnapshots` versions keeps recently handed-out lazy
    // readers evaluable instead of failing on a vanished input directory
    listDir(root).foreach { p =>
      if (versionOf(p.getFileName.toString).exists(_ <= next - keepSnapshots))
        deleteRecursively(p)
    }
  }
}

object KVStore {
  /** Log records that trigger a fold on the next point save. Readers list
    * and read every record of the live log on a memo miss, so the bound
    * keeps a cold read to a few dozen small files; a fold costs a few Spark
    * jobs (≈0.3 s), which 64 saves at ≈1 ms each amortize. */
  private val FoldBound = 64

  private val Pri = "__pri"
  private val NullMicros = Long.MinValue

  private val Schema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("updated_at", TimestampType)))
  private val RecordSchema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("micros", LongType), StructField(Pri, LongType)))

  private val locks = new ConcurrentHashMap[Path, ReentrantLock]()

  /** One log record; `micros` is `updated_at` in epoch microseconds (the
    * precision of Spark's timestamps). */
  private final case class Rec(key: String, value: String, micros: Long)

  /** The later of two writes; `rec` is the later one in log order, so it
    * wins a tie. */
  private def lastWriteWins(cur: Option[Rec], rec: Rec): Option[Rec] = cur match {
    case Some(c) if c.micros > rec.micros => cur
    case _ => Some(rec)
  }

  /** The version a `v_<n>`, `log_<n>` or `log_<n>.sealed` entry belongs to. */
  private def versionOf(name: String): Option[Int] =
    if (name.startsWith("v_")) name.stripPrefix("v_").toIntOption
    else if (name.startsWith("log_")) name.stripPrefix("log_").stripSuffix(".sealed").toIntOption
    else None

  private def encode(r: Rec): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    def str(s: String): Unit =
      if (s == null) out.writeInt(-1)
      else { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
    out.writeLong(r.micros)
    str(r.key)
    str(r.value)
    out.flush()
    buf.toByteArray
  }

  private def decode(bytes: Array[Byte]): Rec = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    def str(): String = in.readInt() match {
      case -1 => null
      case len => val b = new Array[Byte](len); in.readFully(b); new String(b, UTF_8)
    }
    val micros = in.readLong()
    val key = str()
    Rec(key, str(), micros)
  }
}

/** The lease/checkpoint table analogue (S3 scan / S8 conditional rewrite):
  * per-table delivery attempt counts (`[az_func].[lease_*]`,
  * RetryFunctions.cs:137-167). */
class LeaseStore(spark: SparkSession, path: String) {
  private val kv = new KVStore(spark, path)

  def attemptCount(table: String): Option[Int] = kv.get(table).map(_.toInt)

  def setAttemptCount(table: String, n: Int,
                      now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit =
    kv.save(table, n.toString, now)

  /** S8 — the 5→4 nudge that re-arms the trigger's redelivery
    * (RetryFunctions.cs:159-167). Returns true when a nudge happened. */
  def nudgeIfExhausted(table: String,
                       now: Timestamp = new Timestamp(System.currentTimeMillis())): Boolean =
    attemptCount(table) match {
      case Some(5) => setAttemptCount(table, 4, now); true
      case _ => false
    }
}
