package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.dedup.Dedup
import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import java.io.File
import scala.jdk.CollectionConverters._

/** corpus_dedup: the LLM-data-pipeline batch job. One pass runs exact
  * dedup, MinHash candidates, connected components over those candidates,
  * exact-span dedup and LSH top-k over the embeddings, each collected in
  * full, and checks every output against the generator's planted truth. */
object CorpusDedup {
  val TopK = 10
  // sanity floors that catch a broken operator; the measured recalls are
  // reported as metrics
  val NearDupRecallFloor = 0.5
  val TopKRecallFloor = 0.5
  val PrecisionThreshold = 0.5   // est. Jaccard at which a candidate counts as true
  val PassSeconds = 20.0         // nominal cold-pass length that sizes a run

  final case class Truth(exact: Seq[(Long, Long)], near: Seq[(Long, Long)],
                         spans: Seq[(Long, Long)], neighbours: Seq[(Long, Long)])

  def readTruth(path: String): Truth = {
    val root = new ObjectMapper().readTree(new File(path))
    def pairs(name: String) = root.get(name).elements().asScala
      .map(p => (p.get(0).asLong(), p.get(1).asLong())).toSeq
    Truth(pairs("exact_pairs"), pairs("near_pairs"), pairs("span_pairs"), pairs("neighbours"))
  }

  def run(spark: SparkSession, rec: Recorder, inputs: String, work: String): Unit = {
    val tracer = rec.tracer
    val truth = readTruth(s"$inputs/truth.json")
    val (docs, vecs) = rec.setupPhase("load_s") {
      val d = spark.read.parquet(s"$inputs/documents.parquet").persist()
      val v = spark.read.parquet(s"$inputs/embeddings.parquet").persist()
      d.count()
      v.count()
      (d, v)
    }
    val queryIds = truth.neighbours.map(_._1).distinct
    val isQuery = col("vec_id").isin(queryIds: _*)

    /** One pass over (docs, vecs); returns the pass seconds (input to all
      * outputs collected), per-operation seconds and failures. */
    def onePass(p: Int): (Double, Seq[(String, Double)], Seq[String]) = {
      tracer.trace = s"pass$p"
      val t0 = System.nanoTime()
      val times = Seq.newBuilder[(String, Double)]
      def timed[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try tracer.span(name)(body)
        finally times += name -> (System.nanoTime() - t0) / 1e9
      }
      val exact = timed("dedup.exact")(Dedup.exact(docs, "doc_id", "text").collect())
      val (candDf, cand) = timed("dedup.minhash") {
        val c = Dedup.minhashCandidates(docs, "doc_id", "text").persist()
        (c, c.collect())
      }
      val comps = timed("dedup.components")(
        Dedup.connectedComponents(candDf, docs, "doc_id").collect())
      candDf.unpersist()
      val spans = timed("dedup.exact_span")(
        Dedup.exactSpanDedup(docs, "doc_id", "text").collect())
      val topk = timed("similarity.topk")(
        Similarity.lshTopK(vecs, "vec_id", "embedding", isQuery, TopK).collect())
      val secs = (System.nanoTime() - t0) / 1e9
      val (failures, quality) = check(truth, exact, cand, comps, spans, topk)
      quality.foreach { case (k, v) => rec.note(k, v) }
      (secs, times.result(), failures)
    }

    // A batch job runs once per fresh JVM, so the measured pass is cold.
    // Traced runs first make one whole untraced pass, so the traced and the
    // untraced pass they compare are both warm.
    if (rec.traced) rec.setupPhase("warmup_s") {
      onePass(-1)._3.foreach(f => rec.fail(s"warm-up pass: $f"))
    }
    if (rec.traced) rec.note("similarity.topk.candidates_per_query", candidatesPerQuery(vecs, isQuery))
    rec.startWindow()
    val passes = math.max(rec.units(PassSeconds), if (rec.traced) 2 else 1)
    for (p <- 0 until passes) {
      rec.traceOn(p)
      val (secs, times, failures) =
        try onePass(p)
        catch { case e: Exception =>
          (Double.NaN, Seq.empty, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")) }
      failures.foreach(f => rec.fail(s"pass $p: $f"))
      times.foreach { case (name, s) => rec.op(name, s"pass$p", s, failures.isEmpty) }
      if (times.isEmpty) rec.op("pass", s"pass$p", Double.NaN, ok = false)
      rec.pass(secs, failures.isEmpty)
    }
    rec.endWindow()
    tracer.enabled = false
  }

  /** Checks one pass's outputs against the planted truth. Returns the
    * failures and the quality figures (recalls, candidate precision). */
  def check(truth: Truth, exact: Array[Row], cand: Array[Row], comps: Array[Row],
            spans: Array[Row], topk: Array[Row]): (Seq[String], Map[String, Double]) = {
    val failures = Seq.newBuilder[String]
    // exact duplicates: the multi-member groups are exactly the planted ones
    val planted = groupsOf(truth.exact).map(g => (g.min, g.size.toLong)).toSet
    val found = exact.filter(_.getAs[Long]("n_dups") > 1)
      .map(r => (r.getAs[Long]("survivor_id"), r.getAs[Long]("n_dups"))).toSet
    if (found != planted)
      failures += s"exact groups: ${(found diff planted).size} unplanted, " +
        s"${(planted diff found).size} missed"
    // near duplicates: both ends of a planted pair share a component
    val cluster = comps.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val nearRecall = truth.near.count { case (a, b) =>
      cluster.get(a).exists(cluster.get(b).contains) } / truth.near.size.toDouble
    if (nearRecall < NearDupRecallFloor) failures += s"near-dup recall $nearRecall"
    val candPairs = cand.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val candRecall = truth.near.count(candPairs) / truth.near.size.toDouble
    val precision = if (cand.isEmpty) 0.0
      else cand.count(_.getAs[Double]("est_jaccard") >= PrecisionThreshold) / cand.length.toDouble
    // shared spans: one side of every planted pair loses the span's tokens
    val removed = spans.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_removed")).toMap
    val missedSpans = truth.spans.count { case (a, b) =>
      removed.getOrElse(a, 0L) + removed.getOrElse(b, 0L) < 16 }
    if (missedSpans > 0) failures += s"$missedSpans planted spans not removed"
    // top-k: the planted neighbour ranks within k
    val hits = topk.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val topkRecall = truth.neighbours.count(hits) / truth.neighbours.size.toDouble
    if (topkRecall < TopKRecallFloor) failures += s"top-k recall $topkRecall"
    if (topk.groupBy(_.getAs[Long]("query_id")).exists(_._2.length > TopK))
      failures += "a query returned more than k neighbours"
    (failures.result(), Map("dedup.near_dup_recall" -> nearRecall,
      "similarity.topk_recall" -> topkRecall,
      "dedup.minhash.candidate_precision" -> precision,
      "dedup.minhash.candidate_recall" -> candRecall))
  }

  /** The groups the pairs connect (union-find). */
  def groupsOf(pairs: Seq[(Long, Long)]): Iterable[Set[Long]] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def root(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = root(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => parent(root(a)) = root(b) }
    parent.keys.toSeq.groupBy(root).values.map(_.toSet)
  }

  /** Corpus vectors each query scores: the size of its sign bucket, less
    * itself (the bucket rule `Similarity.lshTopK` applies). */
  def candidatesPerQuery(vecs: DataFrame, isQuery: Column): Double = {
    val dims = Seq(0, 8, 16, 24)
    val b = vecs.withColumn("bucket", Similarity.signBucket(col("embedding"), dims))
    val sizes = b.groupBy("bucket").agg(count(lit(1)).as("n"))
    val r = b.filter(isQuery).join(sizes, "bucket")
      .agg(org.apache.spark.sql.functions.avg(col("n") - 1)).collect()
    r.head.getDouble(0)
  }
}
