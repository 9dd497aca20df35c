package graft.layerbench

import graft.io.{Clip, ClipsGenerator}

import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** The benchmark's seeded inputs. Every generator is a pure function of
  * the seed (and of a size), so a run can be repeated exactly and the
  * correctness checks can re-derive what the engine must report without
  * calling the engine. */
object Gen {

  /** Half-open clip index range `[lo, hi)`. */
  final case class Window(lo: Long, hi: Long) {
    def size: Long = hi - lo
    def indices: Iterator[Long] = Iterator.range(0L, size).map(lo + _)
  }

  /** Seeds map onto at most this many disjoint index windows, which keeps
    * every index under ClipsGenerator's 12-digit `clip_id`. */
  val SeedSlots = 400000L

  private def slot(seed: Long): Long = math.floorMod(seed, SeedSlots)

  /** The clips window of a seed: `n` consecutive indices, starting on a
    * multiple of `n`. `n` must be a multiple of 5000 (the injection
    * period), so every window holds whole injection periods and each
    * duplicate-id row's original sits in the same window. */
  def clipWindow(seed: Long, n: Long): Window = {
    require(n > 0 && n % 5000 == 0, s"window size $n is not a multiple of 5000")
    Window(slot(seed) * n, (slot(seed) + 1) * n)
  }

  /** Row `i` of the clips table, errors injected (FIXTURES.md rules). */
  def clipRow(i: Long): Clip =
    ClipsGenerator.injectErrors(ClipsGenerator.clip(i), i)

  /** The catalog drops ids with `i % 1000 == 3`, so those clips are the
    * referential check's orphans. */
  def inCatalog(i: Long): Boolean = i % 1000 != 3

  def catalogRow(i: Long): (String, String) =
    (ClipsGenerator.clipId(i), ClipsGenerator.transcript(i))

  // ------------------------------------------------------------ ingest

  /** One landed row before casting: `sr_hz` and `dur_ms` arrive as strings
    * (the reference's landing shape). */
  final case class RawClip(clip_id: String, bytes: Array[Byte], sr_hz: String,
      dur_ms: String, codec: String, transcript: String)

  /** Landing-side damage owned by the benchmark: these rows carry a
    * whitespace-padded zero `dur_ms`, which the (strict, trimming) cast
    * accepts and the spec's `dur_ms > 0` constraint rejects. */
  def badDuration(i: Long): Boolean = i % 2500 == 23

  def rawRow(i: Long): RawClip = {
    val c = clipRow(i)
    RawClip(c.clip_id, c.bytes, c.sr_hz.toString,
      if (badDuration(i)) " 0 " else c.dur_ms.toString, c.codec, c.transcript)
  }

  /** Batch `round` of the ingest stream: `size` fresh indices. */
  def ingestWindow(seed: Long, round: Int, size: Int): Window = {
    val lo = slot(seed) * 1000000L + round.toLong * size
    require(round >= 0 && (round + 1).toLong * size <= 1000000L,
      s"ingest round $round of size $size leaves the seed's index slot")
    Window(lo, lo + size)
  }

  /** Rows the ingest spec must reject: null transcript, out-of-range
    * `sr_hz` (ClipsGenerator's rules) and the zero `dur_ms`. */
  def ingestError(i: Long): Boolean =
    i % 1000 == 7 || i % 5000 == 13 || badDuration(i)

  // ------------------------------------------------------------ corpus

  final case class CorpusParams(docs: Int, vocab: Int, clusters: Int,
      maxClusterSize: Int, hotSize: Int, dim: Int)

  final case class Doc(doc_id: Long, text: String, vec: Array[Float])

  /** A generated corpus: the rows the engine sees, each row's token ids
    * (for exact re-scoring), and the planted near-duplicate clusters as
    * doc ids (`hot` indexes the one oversized cluster). */
  final case class Corpus(docs: IndexedSeq[Doc], tokens: IndexedSeq[Array[Int]],
      clusters: IndexedSeq[IndexedSeq[Long]], hot: Int)

  /** Word `k` of the vocabulary. */
  def word(k: Int): String = "w" + Integer.toString(k, 36)

  private val zipfCache = scala.collection.concurrent.TrieMap.empty[Int, Array[Double]]

  /** Zipf(1.05) CDF over ranks: common words repeat across documents, as
    * in text, while the long tail keeps trigram shingles distinctive. */
  private def zipfCdf(vocab: Int): Array[Double] = zipfCache.getOrElseUpdate(vocab, {
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1, 1.05))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  })

  /** Planted copies differ from their parent by one substituted word (one
    * in ten copies is exact, for the exact-dedup stage); vectors drift
    * alongside, each copy perturbing its parent's vector by ~10 degrees.
    * Ordinary clusters are copy-of-copy chains of at most `maxClusterSize`
    * docs and the hot cluster is a star around its seed. Chains stay short
    * enough that every planted pair clears the thresholds, so each cluster
    * is one clique in the pair graph and connected components takes the
    * same number of rounds for every seed: random chain depths made that
    * count, and with it the op's wall, vary by a third between seeds. */
  def corpus(seed: Long, p: CorpusParams): Corpus = {
    val rng = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 0x5deece66dL)
    val cdf = zipfCdf(p.vocab)
    def drawWord(): Int = {
      val k = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (k >= 0) k else -k - 1, p.vocab - 1)
    }
    def freshText(): Array[Int] = Array.fill(60 + rng.nextInt(81))(drawWord())
    def mutate(parent: Array[Int]): Array[Int] = {
      val out = parent.clone()
      val pos = rng.nextInt(out.length)
      var w = drawWord()
      while (w == out(pos)) w = drawWord()
      out(pos) = w
      out
    }
    def gaussian(): Array[Double] = Array.fill(p.dim)(rng.nextGaussian())
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def perturb(v: Array[Float]): Array[Float] =
      unit(v.indices.map(k => v(k) + 0.022 * rng.nextGaussian()).toArray)

    val texts = ArrayBuffer.empty[Array[Int]]
    val vecs = ArrayBuffer.empty[Array[Float]]
    val clusterRows = ArrayBuffer.empty[IndexedSeq[Int]]
    def add(t: Array[Int], v: Array[Float]): Int = { texts += t; vecs += v; texts.size - 1 }
    def plant(size: Int, pickParent: IndexedSeq[Int] => Int): Unit = {
      val rows = ArrayBuffer(add(freshText(), unit(gaussian())))
      while (rows.size < size) {
        val parent = pickParent(rows.toIndexedSeq)
        rows += (if (rng.nextInt(10) == 0) add(texts(parent), vecs(parent))
          else add(mutate(texts(parent)), perturb(vecs(parent))))
      }
      clusterRows += rows.toIndexedSeq
    }
    (0 until p.clusters).foreach(_ => plant(2 + rng.nextInt(p.maxClusterSize - 1), _.last))
    plant(p.hotSize, _.head)
    val hot = clusterRows.size - 1
    while (texts.size < p.docs) add(freshText(), unit(gaussian()))

    // ids are a seeded permutation, so clusters are not id-contiguous
    val perm = (0 until texts.size).toArray
    var k = perm.length - 1
    while (k > 0) {
      val j = rng.nextInt(k + 1)
      val t = perm(k); perm(k) = perm(j); perm(j) = t
      k -= 1
    }
    val docs = texts.indices.map(r =>
      Doc(perm(r).toLong, texts(r).map(word).mkString(" "), vecs(r)))
    Corpus(docs, texts.toIndexedSeq, clusterRows.map(_.map(r => perm(r).toLong)).toIndexedSeq, hot)
  }

  // ------------------------------------------------------------ hashing

  /** Content hash (hex SHA-256) of a clips window, with errors injected. */
  def clipsHash(w: Window): String = digest { md =>
    w.indices.foreach { i =>
      val c = clipRow(i)
      md.update(s"${c.clip_id}|${c.sr_hz}|${c.dur_ms}|${c.codec}|${c.transcript}|".getBytes("UTF-8"))
      md.update(c.bytes)
    }
  }

  def rawHash(w: Window): String = digest { md =>
    w.indices.foreach { i =>
      val r = rawRow(i)
      md.update(s"${r.clip_id}|${r.sr_hz}|${r.dur_ms}|${r.codec}|${r.transcript}|".getBytes("UTF-8"))
      md.update(r.bytes)
    }
  }

  def corpusHash(c: Corpus): String = digest { md =>
    c.docs.foreach { d =>
      md.update(s"${d.doc_id}|${d.text}|".getBytes("UTF-8"))
      d.vec.foreach(x => md.update(java.nio.ByteBuffer.allocate(4).putFloat(x).array()))
    }
    c.clusters.foreach(cl => md.update(cl.mkString(",", ",", ";").getBytes("UTF-8")))
  }

  private def digest(f: MessageDigest => Unit): String = {
    val md = MessageDigest.getInstance("SHA-256")
    f(md)
    md.digest().map(b => f"$b%02x").mkString
  }
}
