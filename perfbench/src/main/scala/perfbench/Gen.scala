package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generation. Every generator is a pure function of the
  * workload seed (and of the model state it is handed), so the same seed
  * gives byte-identical inputs. The engine only ever sees what these
  * return.
  */
object Gen {

  /** An independent stream per (seed, purpose): adding a stream never
    * shifts the values another stream draws. */
  def rng(seed: Long, stream: String): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L
    stream.foreach(c => h = (h ^ c) * 0x100000001B3L)
    new SplittableRandom(h)
  }

  // --- text -------------------------------------------------------------

  private val Syllables =
    for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** Fixed, seed-independent vocabulary: word i is three syllables, so
    * every word is 6 ASCII letters and distinct. Words are drawn
    * uniformly, which keeps SimHash signatures of unrelated documents
    * uncorrelated (a skewed vocabulary would let the common words vote
    * every signature into the same few buckets). */
  val VocabSize = 20000

  def word(i: Int): String = {
    val n = Syllables.size
    Syllables(i % n) + Syllables(i / n % n) + Syllables(i / n / n % n)
  }

  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(word(r.nextInt(VocabSize)))

  /** Word count with a skewed tail: `longShare` of the documents run to
    * 450–1450 words (3–10 KB, past the 3000-char chunk, so they produce
    * several overlapping chunks); the rest are 20–120 words. */
  def docWords(r: SplittableRandom, longShare: Double): Int =
    if (r.nextDouble() < longShare) 450 + r.nextInt(1000)
    else 20 + r.nextInt(100)

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val Langs = Array("en", "de", "es", "zh")

  def doc(r: SplittableRandom, id: Long, longShare: Double): Doc =
    Doc(id, words(r, docWords(r, longShare)).mkString(" "),
      Langs(r.nextInt(Langs.length)), s"src${id % 50}")

  // --- vectors ----------------------------------------------------------

  val Dim = 64

  /** A mixture of `clusters` unit-norm centres with Zipf(1) weights, so
    * IVF cells built over it have unequal populations and run hot. */
  final class Mixture(r: SplittableRandom, clusters: Int) {
    val centres: Array[Array[Double]] =
      Array.fill(clusters)(unit(Array.fill(Dim)(gauss(r))))
    private val cum = {
      val w = (1 to clusters).map(i => 1.0 / i)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def sample(r: SplittableRandom): Array[Float] = {
      val u = r.nextDouble()
      val i = cum.indexWhere(_ >= u)
      val c = centres(if (i < 0) clusters - 1 else i)
      unit(Array.tabulate(Dim)(d => c(d) + 0.12 * gauss(r)))
        .map(_.toFloat)
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian on Java 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  // --- rag_query --------------------------------------------------------

  sealed trait Request { def kind: String }
  final case class IvfSearch(q: Array[Float]) extends Request {
    def kind = "VersionedIvf.search" }
  final case class RagSearch(query: String) extends Request {
    def kind = "Api.ragSearch" }
  final case class ReadDocs(ids: Seq[Long]) extends Request {
    def kind = "SnapshotStore.readDocs" }
  final case class Topic(terms: Seq[String]) extends Request {
    def kind = "Api.searchByTopic" }
  final case class Report(query: String) extends Request {
    def kind = "Api.assembleReport" }

  /** Request mix per block of 10: 4 IVF searches, 2 ragSearch, 2
    * readDocs, 1 searchByTopic, 1 assembleReport (40/20/20/10/10 %),
    * shuffled within the block. Whole blocks keep the mix exact in every
    * run, so a seed changes which requests run, never the proportions. */
  val BlockMix: Seq[(Char, Int)] =
    Seq('v' -> 4, 'r' -> 2, 'd' -> 2, 't' -> 1, 'a' -> 1)
  val BlockSize: Int = BlockMix.map(_._2).sum

  /** `probes`: query vectors for the closing recall pass over the index. */
  final case class RagInputs(docs: Array[Doc], vecs: Array[Array[Float]],
      requests: Array[Request], probes: Array[Array[Float]])

  def ragInputs(seed: Long, nDocs: Int, nBlocks: Int): RagInputs = {
    val r = rng(seed, "rag.docs")
    val docs = Array.tabulate(nDocs)(i => doc(r, i + 1L, 0.03))
    val rv = rng(seed, "rag.vecs")
    val mix = new Mixture(rv, 24)
    val vecs = Array.fill(nDocs)(mix.sample(rv))
    val rq = rng(seed, "rag.requests")
    def phrase(n: Int) = words(rq, n).mkString(" ")
    val requests: Array[Request] = (0 until nBlocks).flatMap { _ =>
      val kinds = shuffle(rq, BlockMix.flatMap { case (k, n) =>
        Seq.fill(n)(k) })
      kinds.map[Request] {
        case 'v' => IvfSearch(mix.sample(rq))
        case 'r' => RagSearch(phrase(3))
        case 'd' => ReadDocs(Seq.fill(4)(1L + rq.nextInt(nDocs)) :+
          (nDocs + 1L + rq.nextInt(1000)))
        case 't' =>
          // terms taken from a document so the search always matches
          val t = docs(rq.nextInt(nDocs)).text.split(" ")
          Topic(Seq.fill(2)(t(rq.nextInt(t.length))))
        case _ => Report(phrase(2))
      }
    }.toArray
    RagInputs(docs, vecs, requests, Array.fill(100)(mix.sample(rq)))
  }

  def shuffle[T](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  // --- ingest_churn -----------------------------------------------------

  /** One write batch: `docs` are upserted (new ids and re-ingested live
    * ids with changed text), each with a fresh vector; `deleteRange`, when
    * set, is an inclusive doc_id range deleted after the upsert. */
  final case class Batch(docs: Array[Doc], vecs: Array[Array[Float]],
      deleteRange: Option[(Long, Long)])

  /** Seeded churn stream. State (next new id, live ids) advances with
    * each batch, so batch i is a function of the seed alone. Three in four
    * of a batch's vectors come from a cluster the corpus does not have
    * yet, a new one every `deleteEvery` batches, so the cell nearest it
    * runs hot and a maintenance pass every `deleteEvery` batches has a
    * cell to split. The cluster centres are the same for every seed
    * (the seed draws the vectors around them), so the index has much the
    * same shape for every seed, as the fixed family schedule gives
    * curate_batch the same duplicate structure. */
  final class Churn(seed: Long, val initialDocs: Int, batchDocs: Int,
      deleteEvery: Int) {
    private val r = rng(seed, "churn")
    private val mix = new Mixture(rng(0L, "churn.mixture"), 12)
    val initial: Array[Doc] =
      Array.tabulate(initialDocs)(i => doc(r, i + 1L, 0.1))
    val initialVecs: Array[Array[Float]] =
      Array.fill(initialDocs)(mix.sample(r))
    private var nextId = initialDocs + 1L
    private val live = mutable.LinkedHashSet.from(1L to initialDocs)
    private var batchNo = 0

    /** 70 % new ids, 30 % re-ingested live ids; three in four vectors
      * come from a cluster new to each cycle of `deleteEvery` batches,
      * whose first batch also deletes a 30-id range. */
    def next(): Batch = {
      batchNo += 1
      val nNew = batchDocs * 7 / 10
      val liveArr = live.toArray
      val reIds = (0 until batchDocs - nNew).map(_ =>
        liveArr(r.nextInt(liveArr.length))).distinct
      val ids = reIds ++ (0 until nNew).map(i => nextId + i)
      nextId += nNew
      val docs = ids.map(id => doc(r, id, 0.1)).toArray
      val drift = new Mixture(
        rng(0L, s"churn.drift.${(batchNo - 1) / deleteEvery}"), 1)
      val vecs = Array.fill(docs.length)(
        if (r.nextInt(4) > 0) drift.sample(r) else mix.sample(r))
      live ++= ids
      val del =
        if ((batchNo - 1) % deleteEvery != 0) None
        else {
          val lo = 1L + r.nextLong(nextId - 30)
          live --= (lo to lo + 29)
          Some((lo, lo + 29))
        }
      Batch(docs, vecs, del)
    }
  }

  // --- curate_batch -----------------------------------------------------

  /** Planted duplicate families: sizes follow a fixed skewed schedule
    * (many pairs, one 32-member family) so every seed plants the same
    * amount of duplicate structure; which documents, which edits and
    * which shape (chain vs bush) are seeded. Each copy edits its parent
    * by 1–3 word substitutions, or is an exact copy (30 %). */
  val FamilySizes: Seq[(Int, Int)] =
    Seq(2 -> 300, 3 -> 150, 4 -> 75, 6 -> 40, 10 -> 20, 16 -> 10,
      24 -> 4, 32 -> 1)

  final case class Curation(docs: Array[Doc],
      family: Map[Long, Long], // member id -> family root id
      parentEdges: Array[(Long, Long, Boolean)]) // (parent, copy, exact)

  /** [[FamilySizes]] with every count divided by `parts` (at least one
    * family of each size), for a corpus a `parts`-th the size. */
  def familySizes(parts: Int): Seq[(Int, Int)] =
    FamilySizes.map { case (s, n) => s -> math.max(1, n / parts) }

  /** A corpus of `nDocs` with `families` planted; `part` selects one of
    * several independent corpora of one seed. */
  def curation(seed: Long, nDocs: Int,
      families: Seq[(Int, Int)] = FamilySizes, part: Int = 0): Curation = {
    val r = rng(seed, s"curate.$part")
    val famDocs = families.map { case (s, n) => s * n }.sum
    require(nDocs > famDocs, s"corpus of $nDocs cannot hold $famDocs " +
      "family members")
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val family = mutable.LinkedHashMap.empty[Int, Int]
    val edges = mutable.ArrayBuffer.empty[(Int, Int, Boolean)]
    for ((size, n) <- families; _ <- 0 until n) {
      val root = texts.size
      texts += words(r, 40 + r.nextInt(100))
      family(root) = root
      val chain = r.nextDouble() < 0.7
      for (k <- 1 until size) {
        val parent = if (chain) root + k - 1 else root + r.nextInt(k)
        val exact = r.nextDouble() < 0.3
        val t = texts(parent).clone()
        if (!exact) for (_ <- 0 until 1 + r.nextInt(3))
          t(r.nextInt(t.length)) = word(r.nextInt(VocabSize))
        family(texts.size) = root
        edges += ((parent, texts.size, exact))
        texts += t
      }
    }
    while (texts.size < nDocs) texts += words(r, 40 + r.nextInt(100))
    // scatter families over the id space: ids are a seeded permutation
    val ids = shuffle(r, (1L to nDocs).toSeq).toArray
    val docs = texts.indices.map(i =>
      Doc(ids(i), texts(i).mkString(" "), "en", s"src${ids(i) % 50}"))
      .sortBy(_.id).toArray
    Curation(docs,
      family.map { case (m, root) => ids(m) -> ids(root) }.toMap,
      edges.map { case (p, c, e) => (ids(p), ids(c), e) }.toArray)
  }
}
