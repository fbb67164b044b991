package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pluggable model-judged relevance stage with the reference LMRanker's
  * behavioral contracts (O15, LMRanker.cs):
  *
  *  - score clamped to [0, 1]            (LMRanker.cs:246)
  *  - empty query or empty doc → 0.0     (LMRanker.cs:90-97)
  *  - any scorer error → 0.0, never fail (LMRanker.cs:256-267); a JVM
  *    error (NonFatal does not match it) still fails the query
  *
  * The scorer is any (query, docText) => Double — in production an LLM
  * call (no egress in this sandbox); tests and the driver queries use a
  * deterministic mock. The stage itself is what the engine owns: contract
  * enforcement + distribution (one scorer invocation per row, partitioned;
  * at 10^12 docs this stage only ever runs on a cascade's surviving
  * candidates, LMRanker is never the first cut).
  */
object LmStage {

  def score(df: DataFrame, idCol: String, textCol: String, query: String,
            scorer: (String, String) => Double): DataFrame = {
    val q = query
    val f = udf { (text: String) =>
      if (q == null || q.trim.isEmpty || text == null || text.trim.isEmpty) 0.0
      else {
        try {
          val s = scorer(q, text)
          math.max(0.0, math.min(1.0, s))
        } catch { case scala.util.control.NonFatal(_) => 0.0 } // model errors only
      }
    }
    df.select(col(idCol), f(col(textCol)).as("score"))
  }

  /** Batched model-call adapter — the at-scale shape for a REAL model:
    * the reference scores row-at-a-time (LMRanker.cs:211-268), which as a
    * per-row UDF would be the wrong plan at 10^12 rows. Here each
    * PARTITION is the client-session scope (initialize one connection,
    * reuse it), requests are grouped into `batchSize` calls, each call is
    * retried up to `maxRetries` times, and the per-item contracts still
    * hold: clamp to [0,1], empty query/doc → 0 without calling the model,
    * exhausted retries → 0 for the batch, never a failure. */
  def scoreBatched(df: DataFrame, idCol: String, textCol: String, query: String,
                   batchScorer: Seq[(String, String)] => Seq[Double],
                   batchSize: Int = 32, maxRetries: Int = 2): DataFrame = {
    val q = query
    import df.sparkSession.implicits._
    // ids ride through AS STRINGS so any id type works (conv_id strings,
    // numeric doc_ids); the original column is joined back at the end —
    // a long-cast here would null out non-numeric ids and crash the encoder
    val src = df.select(col(idCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
    val scored = src.mapPartitions { rows =>
      // per-partition init point for a real client (connection reuse,
      // rate limiting live here)
      rows.grouped(batchSize).flatMap { batch =>
        val qEmpty = q == null || q.trim.isEmpty
        val askIdx = batch.zipWithIndex.collect {
          case ((_, t), i) if !qEmpty && t != null && t.trim.nonEmpty => i
        }
        val answers = new Array[Double](batch.size) // zeros by contract
        if (askIdx.nonEmpty) {
          val req = askIdx.map(i => (q, batch(i)._2))
          var attempt = 0
          var done = false
          while (!done) {
            try {
              val res = batchScorer(req)
              require(res.length == req.length,
                s"batch scorer returned ${res.length} scores for ${req.length} docs")
              askIdx.zip(res).foreach { case (i, s) =>
                answers(i) = math.max(0.0, math.min(1.0, s))
              }
              done = true
            } catch {
              // never swallow cancellation or VM death — only model errors
              // fall under the retry/zero contract
              case e: InterruptedException => throw e
              case scala.util.control.NonFatal(_) if attempt < maxRetries => attempt += 1
              case scala.util.control.NonFatal(_) => done = true // exhausted → batch 0.0
            }
          }
        }
        batch.zipWithIndex.map { case ((id, _), i) => (id, answers(i)) }
      }
    }.toDF(idCol, "score")
    // restore the caller's id type (string→long round-trips numeric ids)
    scored.withColumn(idCol, col(idCol).cast(df.schema(idCol).dataType))
  }

  /** HTTP batch scorer for [[scoreBatched]] — the REAL-client shape of
    * the reference's LM service calls (LMRanker.cs:211-268, service
    * fallback chain LMRankerPerformanceTests.cs:367-421), built on the
    * JDK's own HttpClient so the engine stays dependency-free:
    *
    *  - ONE client per executor task (the `@transient lazy` field is
    *    re-initialized after deserialization on each partition) —
    *    connection reuse across the partition's batches;
    *  - one POST per batch: `{"requests":[{"query":...,"doc":...}]}` →
    *    `{"scores":[...]}` (scores parsed positionally; count must match);
    *  - a per-request deadline (`timeoutMs`) — a hung service surfaces as
    *    an exception, which [[scoreBatched]] turns into retry → zero,
    *    never a stuck task.
    *
    * Any non-200, malformed body, wrong score count, connect failure or
    * timeout throws — deliberately: the CONTRACT layer (clamp, retry,
    * error→0) lives in scoreBatched, not here, so every transport ever
    * used gets the same guarantees. Exercised end-to-end against a live
    * localhost server (timeout, flaky-then-recover, 5xx, clamp) in
    * LmHttpSpec. */
  final class HttpBatchScorer(endpoint: String, timeoutMs: Long = 2000)
      extends (Seq[(String, String)] => Seq[Double]) with Serializable {
    @transient private lazy val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
      .build()

    private def jstr(s: String): String = {
      val b = new java.lang.StringBuilder("\"")
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }

    def apply(batch: Seq[(String, String)]): Seq[Double] = {
      val body = batch.map { case (q, d) =>
        s"""{"query":${jstr(q)},"doc":${jstr(d)}}"""
      }.mkString("""{"requests":[""", ",", "]}")
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200, s"scorer service HTTP ${resp.statusCode()}")
      val m = """"scores"\s*:\s*\[([^\]]*)\]""".r
        .findFirstMatchIn(resp.body())
        .getOrElse(throw new IllegalStateException(
          s"malformed scorer response: ${resp.body().take(200)}"))
      val scores = m.group(1).split(",").iterator
        .map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
      require(scores.length == batch.length,
        s"scorer returned ${scores.length} scores for ${batch.length} docs")
      scores
    }
  }

  /** Deterministic mock "LM": query-term overlap ratio + a length prior.
    * Deliberately exceeds 1.0 on long docs (exercises the clamp) and
    * throws on docs containing the token `slow` (exercises error→0). */
  def mockScorer(language: String = "en"): (String, String) => Double = { (q, text) =>
    val qs = graft.analysis.Analyzer.tokenizeRaw(q).distinct
    val ts = graft.analysis.Analyzer.tokenizeRaw(text)
    if (ts.contains("slow")) throw new RuntimeException("mock model failure")
    val overlap = qs.count(ts.contains)
    overlap.toDouble / math.max(qs.length, 1) + ts.length / 200.0
  }
}
