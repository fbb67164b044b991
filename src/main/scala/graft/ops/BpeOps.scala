package graft.ops

import graft.analysis.Analyzer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge learning and application — the
  * subword-tokenizer-training step of an LLM data pipeline (Sennrich et
  * al. 2016's algorithm, re-shaped for Spark).
  *
  * Scale shape: the CORPUS is touched exactly once (one hash-partitioned
  * groupBy producing the (word, count) vocabulary); every merge round
  * after that runs over the VOCABULARY, which is Heaps'-law bounded
  * (~10^7-10^8 distinct words at 100 TB — a few GB as symbol arrays,
  * comfortably distributed, never driver-resident). Each round is one
  * map-side pair explode + partial-agg count + a 1-ROW TakeOrdered to the
  * driver (the argmax pair — the same bounded-scalar round-trip as the
  * connected-components label sums), then a map applying the merge.
  * Lineage is cut every round with an eager localCheckpoint exactly like
  * [[TextOps.connectedComponentsStar]], so the iterate's plan stays O(1)
  * deep regardless of merge count.
  *
  * Semantics (pinned by BpeSpec against a from-scratch driver-side
  * reference): symbols start as single characters of each raw token (no
  * end-of-word marker); each round merges the pair with the highest
  * corpus-weighted adjacent-occurrence count (overlaps included — "aaa"
  * contributes 2 to (a,a)), ties broken by UTF-8 byte order on
  * (left, right); replacement is greedy left-to-right within each word;
  * training stops early when the best pair's count drops below
  * `minCount`. Output: one row per learned merge,
  * (rank, left, right, cnt), ordered by rank.
  */
object BpeOps {

  private val rawToksUdf = udf((t: String) => Analyzer.tokenizeRaw(t))

  /** (word, n) corpus word counts — the single corpus-scale pass. */
  private def wordCounts(source: DataFrame): DataFrame =
    source
      .select(explode(rawToksUdf(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** Replace every greedy left-to-right occurrence of (l, r) in `syms`. */
  private[graft] def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Learn up to `numMerges` BPE merges over the documents table. Pair
    * counting includes overlaps (a run "aaaa" contributes 3 to (a,a) even
    * though only 2 slots can merge) — exactly the classic implementation's
    * accounting, matched by the BpeSpec reference; replacement stays
    * greedy left-to-right. */
  def bpeTrain(spark: SparkSession, sfDir: String,
               numMerges: Int = 30, minCount: Long = 2L): DataFrame =
    bpeTrainOver(graft.sources.Corpus.documents(spark, sfDir), numMerges, minCount)

  /** UTF-8 byte-order comparison — the tie-break order the SQL form's
    * `orderBy(l, r)` used (Spark compares strings as UTF-8 bytes). */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val m = math.min(x.length, y.length)
    var i = 0
    while (i < m) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

/** Greedy left-to-right replacement over int-encoded symbols — the
    * [[applyMerge]] kernel on ids (ids are bijective with symbol strings,
    * so id equality IS string equality). */
  private[graft] def applyMergeInt(syms: Array[Int], l: Int, r: Int,
                                   to: Int): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += to; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  private[graft] def bpeTrainOver(source: DataFrame, numMerges: Int,
                                  minCount: Long): DataFrame = {
    val spark = source.sparkSession
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // Vocabulary as an RDD[(symbols, weight)]. The merge rounds run on the
    // RDD API deliberately: each round is ONE job of two pipelined stages
    // (flatMap adjacent pairs → reduceByKey partial-agg → takeOrdered(1))
    // with none of the per-exchange query-stage materialization AQE adds
    // to tiny iterative SQL plans — the dominant cost of a numMerges-round
    // training at any vocab size (guide §1.2: the distributed shape is
    // unchanged — map-side combine, 1-row driver argmax, exact integer
    // sums, UTF-8 tie order).
    //
    // Symbols are INT-ENCODED in the hot path: initial symbols are single
    // UTF-16 code units (the toCharArray alphabet), so a char's code is
    // its id; each learned merge mints id 65536+k for its NEW string —
    // deduplicated through mergedId, so ids stay BIJECTIVE with symbol
    // strings even when two different merges produce the same string
    // (e.g. ("a","ab") and ("aa","b") both yielding "aab" — under string
    // symbols those later count as one key, and the bijection preserves
    // exactly that). The per-round pair explode then emits primitive
    // (Long, Long) rows — no per-occurrence string/tuple allocation, Long
    // instead of string-pair hashing in the map-side combine (guide §2.3:
    // narrower shuffle keys) — and only the post-combine DISTINCT pairs
    // are decoded back to strings inside the argmax ordering.
    val MergedBase = 0x10000
    val mergedStr = scala.collection.mutable.ArrayBuffer.empty[String]
    val mergedId = scala.collection.mutable.HashMap.empty[String, Int]
    def decode(id: Int): String =
      if (id < MergedBase) String.valueOf(id.toChar) else mergedStr(id - MergedBase)
    var vocab = wordCounts(source).as[(String, Long)].rdd
      .map { case (w, n) => (w.toCharArray.map(_.toInt), n) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prevVocab: org.apache.spark.rdd.RDD[(Array[Int], Long)] = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // the tie order needs the strings; decode through an immutable
      // snapshot of the (numMerges-bounded) merge table in the closure
      val table = mergedStr.toArray
      val ord: Ordering[(Long, Long)] = new Ordering[(Long, Long)] {
        private def str(id: Int): String =
          if (id < MergedBase) String.valueOf(id.toChar) else table(id - MergedBase)
        def compare(x: (Long, Long), y: (Long, Long)): Int = {
          val c = java.lang.Long.compare(y._2, x._2)
          if (c != 0) c
          else {
            val cl = utf8Compare(str((x._1 >>> 32).toInt), str((y._1 >>> 32).toInt))
            if (cl != 0) cl else utf8Compare(str(x._1.toInt), str(y._1.toInt))
          }
        }
      }
      val top = vocab.flatMap { case (syms, n) =>
          var i = 0
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
            math.max(0, syms.length - 1))
          while (i < syms.length - 1) {
            out += (((syms(i).toLong << 32) | syms(i + 1).toLong, n)); i += 1
          }
          out
        }
        .reduceByKey(_ + _)
        .takeOrdered(1)(ord)
      // the argmax job materialized `vocab`'s persist — its parent (the
      // previous round's vocab) can now be released
      if (prevVocab != null) { prevVocab.unpersist(false); prevVocab = null }
      top.headOption match {
        case Some((key, cnt)) if cnt >= minCount =>
          val l = (key >>> 32).toInt
          val r = key.toInt
          val (ls, rs) = (decode(l), decode(r))
          merges += ((rank, ls, rs, cnt))
          val to = mergedId.getOrElseUpdate(ls + rs,
            { mergedStr += ls + rs; MergedBase + mergedStr.length - 1 })
          rank += 1
          prevVocab = vocab
          vocab = vocab
            .map { case (syms, n) => (applyMergeInt(syms, l, r, to), n) }
            .persist(StorageLevel.MEMORY_AND_DISK)
        case _ => done = true
      }
    }
    vocab.unpersist(false)
    if (prevVocab != null) prevVocab.unpersist(false)
    merges.toSeq.toDF("rank", "left", "right", "cnt").orderBy("rank")
  }

  /** Segment a word with a learned merge table: apply merges in rank
    * order (the classic greedy decoder). `ranked` = (left, right) in
    * rank order. */
  private[graft] def segmentWord(word: String, ranked: Seq[(String, String)]): Array[String] = {
    var syms = word.toCharArray.map(_.toString)
    ranked.foreach { case (l, r) => if (syms.length > 1) syms = applyMerge(syms, l, r) }
    syms
  }

  /** (doc_id, n_bpe) — corpus token-budget measurement under the learned
    * subword vocabulary: per-doc piece count after applying `merges`
    * (from [[bpeTrain]]) to every raw token. The merge table is
    * rank-bounded and broadcast inside the UDF closure — the corpus side
    * is one map-side pass, no shuffle beyond the output ordering. */
  def bpePieceCount(spark: SparkSession, sfDir: String,
                    numMerges: Int = 30, minCount: Long = 2L): DataFrame = {
    import spark.implicits._
    val ranked = bpeTrain(spark, sfDir, numMerges, minCount)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq
    // Per-task word→pieces memo: segmentWord replays every learned merge
    // over every token, and corpus tokens repeat heavily (Heaps' law), so
    // segmenting once per DISTINCT word per task cuts the pass's compute
    // by the corpus' repetition factor. The map ships EMPTY in the closure
    // and each task deserializes its own copy — no cross-task or cross-run
    // state, memory bounded by the task's distinct words.
    val pieceCount: String => Long = {
      val cache = new java.util.HashMap[String, java.lang.Long]()
      (t: String) => {
        val toks = Analyzer.tokenizeRaw(t)
        var s = 0L
        var i = 0
        while (i < toks.length) {
          val w = toks(i)
          var c = cache.get(w)
          if (c == null) {
            c = java.lang.Long.valueOf(segmentWord(w, ranked).length.toLong)
            cache.put(w, c)
          }
          s += c.longValue
          i += 1
        }
        s
      }
    }
    val nUdf = udf(pieceCount)
    graft.sources.Corpus.documents(spark, sfDir)
      .select(col("doc_id"), nUdf(col("text")).as("n_bpe"))
      .orderBy("doc_id")
  }
}
