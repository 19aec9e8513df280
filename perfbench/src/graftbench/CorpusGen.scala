package graftbench

import scala.collection.mutable

/** Seeded text corpus with planted duplicates and its ground truth.
  *
  * Documents are lowercase words joined by single spaces, so graft's
  * tokenizer (split on " ") and the word 3-shingles the generator
  * computes here agree exactly. Counts depend only on the
  * [[CorpusGen.Spec]]; the seed moves the words.
  */
object CorpusGen {

  final case class Spec(baseDocs: Int, batches: Int, batchDocs: Int,
      crossPlantsPerBatch: Int, maxLen: Int)

  /** Shares of the corpus planted as exact and as near duplicates, and
    * the shortest document.
    */
  val exactFrac = 0.05
  val nearFrac = 0.10
  val minLen = 100

  final case class Doc(id: Long, text: String)

  final class Truth {
    /** (kept id, dropped copy id) of planted exact duplicates */
    val exactPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    /** (d1, d2) planted near pairs within the edit budget whose word
      * 3-shingle Jaccard clears editDistancePairs' 3/5 blocking bound
      */
    val editPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    /** per batch: (new id, corpus id) planted near-duplicates */
    val crossPlants = mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
  }

  final case class Corpus(base: IndexedSeq[Doc], batches: IndexedSeq[IndexedSeq[Doc]],
      truth: Truth)

  def shingles(text: String, n: Int = 3): Set[String] = {
    val ws = text.split(" ")
    if (ws.length < n) Set.empty else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.intersect(y).size
    inter.toDouble / (x.size + y.size - inter)
  }

  def generate(spec: Spec, seed: Long): Corpus = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(4000) { _ =>
      Iterator.fill(2 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString
    }
    // Zipf-ish word choice: squaring a uniform skews towards the front
    def word(): String = { val u = rnd.nextDouble(); vocab((u * u * vocab.length).toInt) }
    def fresh(): String = {
      val target = minLen + rnd.nextInt(spec.maxLen - minLen + 1)
      val sb = new StringBuilder(word())
      while (sb.length < target) sb.append(' ').append(word())
      sb.toString
    }
    // Near copy: insert or replace whole words with long random tokens
    // until `rate` of the characters are edited. Each edit costs at
    // most its token length + 1 in Levenshtein distance, and touching
    // few words keeps the shingle overlap high.
    def nearCopy(text: String, rate: Double): String = {
      val ws = mutable.ArrayBuffer.from(text.split(" "))
      var budget = math.max(1, (text.length * rate).toInt)
      while (budget > 0) {
        val len = math.min(budget, 8 + rnd.nextInt(16))
        val tok = Iterator.fill(math.max(1, len - 1))(('a' + rnd.nextInt(26)).toChar).mkString
        val at = rnd.nextInt(ws.length)
        if (rnd.nextBoolean()) ws.insert(at, tok) else ws(at) = tok
        budget -= len
      }
      ws.mkString(" ")
    }
    val truth = new Truth
    val n = spec.baseDocs
    val nExact = (n * exactFrac).toInt
    val nNear = (n * nearFrac).toInt
    val nOrig = n - nExact - nNear
    val origs = IndexedSeq.fill(nOrig)(fresh())
    // ids are a seeded permutation, so copies are not adjacent to their sources
    val ids = rnd.shuffle((1L to n.toLong).toVector)
    val texts = mutable.ArrayBuffer.from(origs)
    val sources = rnd.shuffle(origs.indices.toVector).take(nExact + nNear)
    sources.take(nExact).foreach { s =>
      texts += origs(s)
      truth.exactPairs += ids(s) -> ids(texts.size - 1)
    }
    sources.drop(nExact).foreach { s =>
      val copy = nearCopy(origs(s), 0.02 + rnd.nextDouble() * 0.13)
      texts += copy
      if (jaccard(origs(s), copy) >= 0.6) {
        val (a, b) = (ids(s), ids(texts.size - 1))
        truth.editPairs += math.min(a, b) -> math.max(a, b)
      }
    }
    // keep the exact pairs as (kept = smaller id, dropped = larger id)
    truth.exactPairs.mapInPlace { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val base = texts.indices.map(i => Doc(ids(i), texts(i))).sortBy(_.id)

    val seen = mutable.ArrayBuffer.from(base.filter(_.text.length >= 400))
    var nextId = n.toLong + 1
    val batches = (0 until spec.batches).map { _ =>
      val plants = mutable.ArrayBuffer.empty[(Long, Long)]
      val docs = (0 until spec.batchDocs).map { k =>
        val text =
          if (k < spec.crossPlantsPerBatch) {
            val src = seen(rnd.nextInt(seen.size))
            // light edit; re-draw until the overlap is unmistakable
            val copy = Iterator.continually(nearCopy(src.text, 0.02))
              .find(c => jaccard(src.text, c) >= 0.9).get
            plants += nextId -> src.id
            copy
          } else fresh()
        val d = Doc(nextId, text)
        nextId += 1
        d
      }
      truth.crossPlants += plants.toSeq
      seen ++= docs.filter(_.text.length >= 400)
      docs
    }
    Corpus(base, batches, truth)
  }
}
