package graft.perfbench

import graft.analysis.StopWords
import graft.model.Turn
import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so one seed reproduces the same inputs at any parallelism, and
  * another seed gives different words, texts and queries with the same
  * statistics. The engine only ever sees the tables and query strings made
  * here. */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom = new SplittableRandom(mix(mix(seed) + salt))

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- documents table (serve_small) ---------------------------------------

  /** The shape of the sf0.1 `documents` table the frozen Bench serves: a
    * small data-engineering vocabulary, ~300 chars per doc. The rank of each
    * word (and so its df) is shuffled per seed. */
  private val DocWords: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "agg", "key",
    "query", "scan", "batch", "index", "shard", "cache", "plan", "cluster",
    "node", "task", "stage", "shuffle", "spill", "skew", "bucket", "commit",
    "snapshot", "schema", "record", "offset", "topic", "event", "metric")
  private val Langs = Array("en", "en", "en", "en", "zh", "es", "fr", "de")

  final case class Docs(vocab: Array[String], rows: Seq[(Long, String, String, String, Long)])

  def documents(seed: Long, nDocs: Int): Docs = {
    val r0 = rng(seed, 1)
    val vocab = shuffled(DocWords, r0)
    val cdf = zipfCdf(vocab.length, 0.7)
    val rows = (0 until nDocs).map { i =>
      val r = rng(seed, 1000L + i)
      val n = 7 + r.nextInt(82)
      val text = Array.fill(n)(vocab(draw(cdf, r))).mkString(" ")
      (i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
    Docs(vocab, rows)
  }

  def documentsFrame(spark: SparkSession, rows: Seq[(Long, String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
  }

  /** Top-10 query stream over the documents vocabulary: 1-4 terms drawn
    * uniformly over df rank, the term count cycling 1, 2, 3, 4 and every
    * tenth query carrying a term no document has, so any stretch of the
    * stream has the same mix whatever the seed. */
  def docQueries(seed: Long, vocab: Array[String], n: Int): IndexedSeq[String] = {
    val r = rng(seed, 2)
    (0 until n).map { i =>
      val terms = Array.fill(1 + i % 4)(vocab(r.nextInt(vocab.length)))
      if (i % 10 == 9) terms(r.nextInt(terms.length)) = s"absent${r.nextInt(1000)}q$i"
      terms.mkString(" ")
    }
  }

  // ---- transcript corpus (serve_large, ingest) -----------------------------

  /** Zipf vocabulary of pronounceable pseudo-words (letters only, never an
    * English stopword), ranked: word r is drawn with probability ∝ 1/(r+1). */
  final case class Corpus(seed: Long, vocab: Array[String], cdf: Array[Double],
                          headRanks: Int) {
    /** Text of transcript row `row`: 40-130 tokens, a fifth of them English
      * stopwords, sentences of ~10 tokens. */
    def text(row: Long): String = {
      val r = rng(seed, 1L << 40 | row)
      val n = 40 + r.nextInt(91)
      val sb = new java.lang.StringBuilder(n * 8)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(if (i % 10 == 0) ". " else " ")
        if (r.nextInt(5) == 0) sb.append(Fillers(r.nextInt(Fillers.length)))
        else sb.append(vocab(draw(cdf, r)))
        i += 1
      }
      sb.toString
    }
  }

  private val Fillers = Array("the", "and", "of", "to", "is", "it", "that", "with", "for", "we")
  private val Roles = Array("user", "assistant", "tool")
  private val Tools = Array("", "", "", "search", "calculator", "browser", "compiler", "")
  val TurnsPerConv = 20
  val BaseEpochMs = 1704067200000L

  def corpus(seed: Long, vocabSize: Int): Corpus = {
    val r = rng(seed, 3)
    val onset = "bcdfghjklmnprstvz"
    val vowel = "aeiou"
    val seen = new java.util.HashSet[String]()
    val words = Array.newBuilder[String]
    var k = 0
    while (k < vocabSize) {
      val sb = new StringBuilder
      (0 until 2 + r.nextInt(3)).foreach { _ =>
        sb += onset(r.nextInt(onset.length)); sb += vowel(r.nextInt(vowel.length))
      }
      if (r.nextInt(3) == 0) sb += onset(r.nextInt(onset.length))
      val w = sb.toString
      if (!StopWords.english.contains(w) && seen.add(w)) { words += w; k += 1 }
    }
    val cdf = zipfCdf(vocabSize, 1.0)
    // expected share of turns containing rank r: mean over the uniform
    // 40..130 token count, 4/5 of tokens drawn from the vocabulary
    var h = 0
    def share(rank: Int): Double = {
      val p = cdf(rank) - (if (rank == 0) 0.0 else cdf(rank - 1))
      (40 to 130).map(n => 1 - math.pow(1 - p, n * 0.8)).sum / 91
    }
    while (h < vocabSize && share(h) >= 0.10) h += 1
    Corpus(seed, words.result(), cdf, h)
  }

  /** Transcript rows [from, until) in the engine's input schema. Rows of one
    * conversation are contiguous, so later rows extend the corpus with new
    * conversations. `sentinel` appends `(term, rows)` to the given rows. */
  def transcripts(spark: SparkSession, c: Corpus, from: Long, until: Long, parts: Int,
                  sentinel: Option[(String, Set[Long])] = None): Dataset[Turn] = {
    import spark.implicits._
    spark.range(from, until, 1L, parts).map { row =>
      val conv = row / TurnsPerConv
      val turn = (row % TurnsPerConv).toInt
      val base = c.text(row)
      val text = sentinel match {
        case Some((term, rows)) if rows.contains(row) => base + " " + term
        case _ => base
      }
      Turn(f"conv-$conv%09d", turn, Roles(turn % 3), text,
        Tools((java.lang.Long.hashCode(row * 31 + c.seed) & 0x7fffffff) % Tools.length),
        new Timestamp(BaseEpochMs + conv * 60000L + turn * 1000L))
    }
  }

  /** Top-10 query stream over the transcript vocabulary: 2-4 terms (the
    * count cycling 2, 3, 4), the first a head term (expected df ≥ 10% of
    * turns), the rest at the ranks corpus tokens are drawn at. The ranks
    * follow a fixed low-discrepancy sequence, so query i has the same df
    * profile under every seed; the seed changes the words. */
  def transcriptQueries(c: Corpus, n: Int): IndexedSeq[String] = {
    var u = 0.0
    def next(): Double = { u = (u + 0.6180339887498949) % 1.0; u }
    (0 until n).map { i =>
      val head = c.vocab((next() * c.headRanks).toInt)
      (head +: Array.fill(1 + i % 3)(c.vocab(rankAt(c.cdf, next())))).distinct.mkString(" ")
    }
  }

  /** A term no generated text contains: digits never occur in vocabulary
    * words. */
  def sentinelTerm(seed: Long, cycle: Int): String = s"sentinel${cycle}x${seed & 0xffff}"

  // ---- sampling ------------------------------------------------------------

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def draw(cdf: Array[Double], r: SplittableRandom): Int = rankAt(cdf, r.nextDouble())

  private def rankAt(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def shuffled[T: scala.reflect.ClassTag](a: Array[T], r: SplittableRandom): Array[T] = {
    val b = a.clone()
    (b.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t
    }
    b
  }
}
