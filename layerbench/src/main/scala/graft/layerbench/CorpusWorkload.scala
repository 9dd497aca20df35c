package graft.layerbench

import graft.dedup.Dedup
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `corpus_dedup`: exact dedup, then MinHash and embedding near-duplicate
  * pairs over the survivors, then cluster keepers over the union of both
  * pair sets. */
final class CorpusWorkload(spark: SparkSession, work: String, seed: Long,
    params: Gen.CorpusParams) extends Workload {

  private val JaccardThreshold = 0.8 // minhashNearDups' default
  private val CosineThreshold = 0.95 // embeddingNearDups' default

  private val corpus = Gen.corpus(seed, params)
  private var docs: DataFrame = _

  def sizes: String = s"${corpus.docs.size} docs, ${corpus.clusters.size} planted " +
    s"clusters (hot cluster ${params.hotSize} docs), vocabulary ${params.vocab}, " +
    s"${params.dim}-d embeddings"

  def prepare(): Unit = {
    import spark.implicits._
    val dir = s"$work/corpus"
    spark.createDataset(corpus.docs).repartition(4).write.parquet(dir)
    docs = spark.read.parquet(dir)
  }

  private def exact(): DataFrame = Dedup.exactKeep(docs, "doc_id", "text").localCheckpoint()
  private def minhash(kept: DataFrame): DataFrame =
    Dedup.minhashNearDups(kept, "doc_id", "text").localCheckpoint()
  private def embedding(kept: DataFrame, threshold: Double = CosineThreshold): DataFrame =
    Dedup.embeddingNearDups(kept, "doc_id", "vec", params.dim, threshold).localCheckpoint()
  private def keepers(mh: DataFrame, emb: DataFrame): Array[Row] =
    Dedup.clusterKeepers(
      mh.select("id_a", "id_b").union(emb.select("id_a", "id_b")), "id_a", "id_b").collect()

  def op(t: Tracing): Outcome = {
    val kept = t.span("text.fingerprint") { exact() }
    val mh = t.span("dedup.verify") { minhash(kept) }
    val emb = t.span("vector.candidates") { embedding(kept) }
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0))
    val mhPairs = mh.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val embPairs = emb.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val clusters = t.span("dedup.components") { keepers(mh, emb) }
    Outcome(corpus.docs.size, () => Checked(recall(mhPairs, embPairs),
      check(keptIds, mhPairs, embPairs, clusters)))
  }

  def layers(t: Tracer): Map[String, Double] = {
    val kept = t.span("text.fingerprint") { exact() }
    val candidates = t.span("dedup.candidates") {
      Dedup.minhashCandidates(kept, "doc_id", "text").localCheckpoint()
    }.count()
    val dropped = Dedup.oversizedBuckets(Dedup.minhashBanded(kept, "doc_id", "text"),
      Seq("_band", "_bandhash"), Dedup.DefaultMaxBucketSize).count()
    val mh = t.span("dedup.verify") { minhash(kept) }
    val emb = t.span("vector.candidates") { embedding(kept) }
    // every candidate pair clears a cosine threshold below -1
    val embCandidates = embedding(kept, -2.0).count()
    t.span("dedup.components") { keepers(mh, emb) }
    val rounds = t.isolated("dedup.components").map(_.stats.changedObservations).getOrElse(0)
    def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    Map(
      "dedup.candidates.pairs" -> candidates.toDouble,
      "dedup.candidates.dropped_buckets" -> dropped.toDouble,
      "dedup.verify.useful_ratio" -> ratio(mh.count(), candidates),
      "vector.candidates.useful_ratio" -> ratio(emb.count(), embCandidates),
      "dedup.components.rounds" -> rounds.toDouble)
  }

  // ------------------------------------------------------------ checks

  private lazy val rowOf: Map[Long, Int] =
    corpus.docs.indices.map(r => corpus.docs(r).doc_id -> r).toMap

  /** Sorted distinct word-trigram keys of a document: the same set the
    * engine's `shingleSet(text, 3)` builds, keyed by token ids. */
  private lazy val shingleSets: Array[Array[Long]] = corpus.tokens.map { t =>
    val v = params.vocab.toLong
    (0 until t.length - 2).map(k => (t(k) * v + t(k + 1)) * v + t(k + 2))
      .distinct.sorted.toArray
  }.toArray

  private def jaccard(a: Long, b: Long): Double = {
    val x = shingleSets(rowOf(a))
    val y = shingleSets(rowOf(b))
    var i = 0; var j = 0; var inter = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1 else j += 1
    }
    val union = x.length + y.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private def cosine(a: Long, b: Long): Double = {
    val x = corpus.docs(rowOf(a)).vec
    val y = corpus.docs(rowOf(b)).vec
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    x.indices.foreach { k => dot += x(k) * y(k); nx += x(k) * x(k); ny += y(k) * y(k) }
    if (nx == 0 || ny == 0) 0.0 else dot / math.sqrt(nx * ny)
  }

  /** Exact dedup keeps the smallest id of each distinct text. */
  private lazy val expectedKept: Set[Long] =
    corpus.docs.groupBy(_.text).values.map(_.map(_.doc_id).min).toSet

  /** Planted pairs (within a cluster, among exact-dedup survivors) whose
    * true similarity clears each method's threshold. */
  private lazy val (truthMinhash: Set[(Long, Long)], truthEmbedding: Set[(Long, Long)]) = {
    val pairs = corpus.clusters.flatMap { cl =>
      val ids = cl.filter(expectedKept).distinct.sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }
    (pairs.filter { case (a, b) => jaccard(a, b) >= JaccardThreshold }.toSet,
      pairs.filter { case (a, b) => cosine(a, b) >= CosineThreshold }.toSet)
  }

  private def recall(mh: Array[(Long, Long, Double)], emb: Array[(Long, Long, Double)]): Double = {
    val found = mh.count(p => truthMinhash((p._1, p._2))) +
      emb.count(p => truthEmbedding((p._1, p._2)))
    found.toDouble / math.max(1, truthMinhash.size + truthEmbedding.size)
  }

  private def check(keptIds: Array[Long], mh: Array[(Long, Long, Double)],
      emb: Array[(Long, Long, Double)], clusters: Array[Row]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (keptIds.toSet != expectedKept || keptIds.length != expectedKept.size)
      errs += s"exact dedup kept ${keptIds.length} docs, expected ${expectedKept.size}"
    def pairsOk(name: String, ps: Array[(Long, Long, Double)], threshold: Double,
        exactSim: (Long, Long) => Double, tol: Double): Unit = {
      val bad = ps.filterNot { case (a, b, s) =>
        a < b && expectedKept(a) && expectedKept(b) && {
          val e = exactSim(a, b)
          e >= threshold - tol && math.abs(e - s) <= tol
        }
      }
      if (bad.nonEmpty) errs += s"$name: ${bad.length} of ${ps.length} pairs fail the " +
        s"exact re-score, e.g. ${bad.head}"
      if (ps.map(p => (p._1, p._2)).distinct.length != ps.length)
        errs += s"$name: duplicate pairs"
    }
    // reported scores are rounded to 6 places; cosine also differs by the
    // float-to-double summation order
    pairsOk("minhash", mh, JaccardThreshold, jaccard, 1e-6)
    pairsOk("embedding", emb, CosineThreshold, cosine, 1e-5)

    // connected components of the union graph, by union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (mh.iterator ++ emb.iterator).foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectedClusters = parent.keys.toSeq.groupBy(find).values
      .map(m => (m.min, m.size.toLong)).toSet
    val got = clusters.map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("component_size"))).toSet
    val labelled = clusters.forall(r =>
      r.getAs[Long]("component_id") == r.getAs[Long]("keeper_id") &&
        r.getAs[Long]("removed") == r.getAs[Long]("component_size") - 1)
    if (got != expectedClusters || clusters.length != expectedClusters.size || !labelled)
      errs += s"cluster keepers: ${clusters.length} clusters reported, " +
        s"${expectedClusters.size} expected"
    errs.result()
  }
}
