package graft.operators

import graft.{Plans, Q, Tables}
import graft.functions.TextHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline tier: token
  * counting, quality scoring, language-ID heuristic, and document
  * fingerprinting — over the `documents` table. Extends the reference's
  * keyword-insight/text surface (pkg/rag/queries/insights.py:33-240) to the
  * operations a 100 TB text-corpus pipeline needs.
  *
  * Everything is native higher-order-function SQL (codegen-friendly, no
  * UDFs); the DuckDB oracle runs the same math via graft.functions.TextHash
  * dual-dialect fragments.
  *
  * Scale notes: all four queries are embarrassingly parallel single-pass
  * scans — no shuffle except the final presentation sort (which a cluster
  * job would drop). Projection is doc_id + text only, so the parquet scan
  * prunes the other columns.
  */
object TextOps {

  private val stop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopSqlList = stop.map(s => s"'$s'").mkString(", ")

  /** Marker-word lists for the n-gram language-ID heuristic (shared by the
    * per-doc classifier and the per-source confusion matrix).
    */
  private val esList = Seq("el", "la", "de", "que", "y", "en")
    .map(w => s"'$w'").mkString(", ")
  private val frList = Seq("le", "la", "de", "et", "les", "un")
    .map(w => s"'$w'").mkString(", ")

  /** BM25 query terms (fixed retrieval query; chosen for df spread in the
    * synthetic corpus: ~80 % / ~80 % / ~5 % of docs).
    */
  private val bm25Terms = Seq("data", "join", "dup")

  /** Fixed 3-token phrase for the positional-index search (present as an
    * adjacent run in ~1.4 % of synthetic docs — rare enough that the
    * positional join is load-bearing, common enough that every test scale
    * returns rows).
    */
  private val phrase = Seq("part", "filter", "scan")

  /** Hashed-classifier model: bucket count + deterministic integer weight
    * lattice in [-1000, 1000] (same generator family as the LSH planes —
    * reproducible, no RNG). A trained model would slot in unchanged.
    */
  private val ClfB = 64
  private[graft] val clfWeights: Seq[Long] =
    (0 until ClfB).map(b => ((b * 2654435761L) % 2001L) - 1000L)

  /** Per-doc hashed-classifier sufficient stats
    * (doc_id, source, n_tokens, w_sum) — shared by the score query and
    * the per-source cap. Map-only; the weight array rides along as a
    * literal (the broadcast-the-model form).
    */
  private def clfScored(s: SparkSession, d: String): DataFrame = {
    val wArr = clfWeights.mkString("array(", "L, ", "L)")
    tokenized(s, d)
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr(s"transform(${hashArraySpark("toks")}, " +
          s"x -> element_at($wArr, cast(x % $ClfB AS int) + 1))").as("ws"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr("aggregate(ws, 0L, (a, x) -> a + x)").as("w_sum"))
  }

  /** DuckDB CTE chain ending in `cs(doc_id, source, n_tokens, w_sum)` —
    * oracle twin of [[clfScored]].
    */
  private val clfDuck: String = {
    val wList = clfWeights.mkString("[", ", ", "]")
    s"""ct AS (SELECT doc_id, source, ${tokensDuck("text")} AS toks
       |  FROM documents),
       |ch AS (SELECT doc_id, source, len(toks) AS n_tokens,
       |    ${hashArrayDuck("toks")} AS th
       |  FROM ct WHERE len(toks) > 0),
       |cs AS (SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(th, x -> ($wList)[(x % $ClfB) + 1]))
       |      AS BIGINT) AS w_sum
       |  FROM ch)""".stripMargin
  }

  /** One term's BM25 contribution (k1 = 1.2, b = 0.75) over columns
    * (tf_<t>, dl, avgdl, nd, df_<t>) — ONE string `expr()`-ed on the Spark
    * side and spliced into the oracle, so both dialects evaluate the
    * identical arithmetic shape. The zero-tf CASE doubles as the
    * division guard (tf > 0 ⇒ the corpus has tokens ⇒ avgdl > 0). The
    * final score is round(·, 6): Java's and DuckDB's `ln` differ in the
    * last ulp on ~0.02 % of inputs (measured), and 6 dp absorbs that.
    */
  /** Fixed-order first-match curation rules → `rr(doc_id, rule_reason)`
    * (DuckDB CTE chain; names tf/rr avoid collisions with the shingle
    * CTEs when composed into the curation-pipeline oracle).
    */
  private[operators] val ruleReasonDuck: String =
    s"""tf AS (
       |  SELECT doc_id, length(text) AS nc, ${tokensDuck("text")} AS toks,
       |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS npunct
       |  FROM documents),
       |rr AS (
       |  SELECT doc_id,
       |    CASE
       |      WHEN nc < 50 THEN 'too_short'
       |      WHEN len(toks) < 10 THEN 'too_few_tokens'
       |      WHEN len(list_filter(toks, x -> x IN ($stopSqlList)))::DOUBLE
       |           / len(toks) < 0.05 THEN 'low_stopword'
       |      WHEN npunct::DOUBLE / nc > 0.10 THEN 'high_punct'
       |      WHEN len(list_distinct(toks))::DOUBLE / len(toks) < 0.3
       |        THEN 'repetitive'
       |      ELSE 'kept' END AS rule_reason
       |  FROM tf)""".stripMargin

  /** Spark half of [[ruleReasonDuck]]: (doc_id, rule_reason) per document. */
  private[operators] def filterReasons(s: SparkSession, d: String): DataFrame = {
    val stopSpark = stop.map(w => s"'$w'").mkString(", ")
    Tables.documents(s, d)
      .withColumn("toks", expr(tokensSpark("text")))
      .repartition(col("doc_id"))
      .withColumn("nc", length(col("text")).cast("long"))
      .withColumn("npunct",
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long"))
      .select(col("doc_id"),
        when(col("nc") < 50, "too_short")
          .when(size(col("toks")) < 10, "too_few_tokens")
          .when(expr(s"size(filter(toks, x -> x IN ($stopSpark)))")
            .cast("double") / size(col("toks")) < 0.05, "low_stopword")
          .when(col("npunct").cast("double") / col("nc") > 0.10, "high_punct")
          .when(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks")) < 0.3, "repetitive")
          .otherwise("kept").as("rule_reason"))
  }

  /** documents + token array, repartitioned off the single-file scan and
    * persisted (lifecycle registry): shared by the repetition, vocabulary,
    * and OOV queries — each references the token stream 1-2×, and without
    * the barrier CollapseProject re-inlines the tokenizer regex per
    * reference.
    */
  private def tokenized(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "rep-toks")(
      // text/lang/n_chars deliberately dropped before caching: the
      // four consumers (repetition, vocab, OOV, KL) need only
      // (doc_id, source, toks), and text is the corpus's widest column —
      // caching it here would double the frame's memory for nothing
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          expr(tokensSpark("text")).as("toks"))
        .repartition(col("doc_id")))

  /** (source, tok, c) token counts per source — vocab-bounded (≤ |sources|
    * × |vocab| rows), memoized + persisted: the KL drift report and the
    * per-source TF-IDF terms each start from this identical aggregate of
    * the exploded token stream, which is the row-bounded half of both.
    */
  private def sourceTokenCounts(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "src-tok-counts")(
      tokenized(s, d)
        .select(col("source"), explode(col("toks")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c")))

  /** Exploded positional bigrams (doc_id, pos, w1, w2), persisted per dir:
    * THREE plan branches consume them in each LM query (counts c and u,
    * plus the scoring join's probe side) — without the barrier the
    * tokenize+explode runs 3× (measured 2.3 s → 1.0 s at sf0.1).
    */
  private def bigrams(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "lm-bigrams")(
      Tables.documents(s, d)
        .withColumn("toks", expr(tokensSpark("text")))
        .repartition(col("doc_id"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(i AS pos, element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"))
          .as("bg"))
        .select(col("doc_id"), col("bg.pos").as("pos"),
          col("bg.w1").as("w1"), col("bg.w2").as("w2")))

  /** DuckDB CTE chain ending in `b(doc_id, pos, w1, w2)` — oracle twin of
    * [[bigrams]].
    */
  private val bigramsDuck: String =
    s"""t AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents),
       |e AS (SELECT doc_id, unnest(list_transform(
       |    generate_series(1, len(toks) - 1),
       |    i -> {'pos': i, 'w1': toks[i], 'w2': toks[i + 1]})) AS bg
       |  FROM t WHERE len(toks) >= 2),
       |b AS (SELECT doc_id, bg.pos AS pos, bg.w1 AS w1, bg.w2 AS w2 FROM e)""".stripMargin

  /** Bigram LM scoring with the model truncated to the top-K bigrams by
    * count (ties broken on (w1, w2) so the cut is deterministic in both
    * engines) and an add-1 default-smoothing miss path: a bigram outside
    * the kept model scores ln(1/(n1+|V|)) — exactly the n2=0 smoothed
    * probability. This is the 100 TB form of [[q_text_lm_score]]'s model
    * broadcast: the full conditional table is |V|²-bounded, the top-K
    * table is K-bounded regardless of vocabulary growth, and the miss
    * path keeps scores well-defined for the long tail. The unigram table
    * (|V|-bounded) still broadcasts whole.
    */
  def lmTopKScores(s: SparkSession, d: String, k: Int): DataFrame = {
    val b = bigrams(s, d)
    // pre-joined, memoized serve model: the conditional table covers every
    // stream bigram by construction, so the top-K cut becomes a kept-flag
    // left join folded onto it ONCE (with the unigram counts + vocab row),
    // and each serve pays a single broadcast build from one cached frame
    // instead of re-running the orderBy-limit cut + two joins per run
    val model = graft.Caches.frame(s, d, s"lm-topk-model:$k") {
      val c = lmModelC(s, d)
      val topk = c.orderBy(desc("n2"), asc("w1"), asc("w2")).limit(k)
        .select(col("w1"), col("w2"), lit(1).as("kept"))
      c.join(lmModelU(s, d), Seq("w1"))
        .join(topk, Seq("w1", "w2"), "left_outer")
        .crossJoin(lmModelU(s, d).agg(count(lit(1)).as("vocab")))
        .select(col("w1"), col("w2"),
          when(col("kept").isNotNull, col("n2")).as("n2k"),
          col("n1"), col("vocab"))
    }
    b.join(broadcast(model), Seq("w1", "w2"))
      .select(col("doc_id"), col("pos"),
        expr("ln((coalesce(n2k, 0L) + 1.0) / (n1 + vocab))").as("logp"),
        col("n2k").isNotNull.as("hit"))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(struct(col("pos"), col("logp")))).as("plps"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("doc_id"),
        size(col("plps")).cast("long").as("n_bigrams"),
        col("n_hits"),
        expr("round(aggregate(plps, cast(0 AS double), (a, x) -> a + x.logp) / size(plps), 6)")
          .as("avg_logp"))
      .orderBy("doc_id")
  }

  /** Kept-model size for q_text_lm_topk — small enough that the miss path
    * is exercised at every test scale (sf0.001 already has > 500 distinct
    * bigrams), large enough that common text hits it.
    */
  val LmTopK: Int = 500

  /** The trained corpus bigram model, persisted per directory — TRAIN
    * ONCE, SERVE MANY: four queries (full-model scoring, top-K scoring,
    * DSIR's denominator, curriculum tiers) probe the same conditional
    * counts, and without the barrier each re-aggregates the full bigram
    * stream (measured ~0.4 s/query at sf0.1). The tables are
    * vocab-bounded (n2: |V|², n1: |V|) — exactly what makes them
    * broadcast-able on the serve side.
    */
  private def lmModelC(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "lm-model-c")(
      bigrams(s, d).groupBy("w1", "w2").agg(count(lit(1)).as("n2")))

  private def lmModelU(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "lm-model-u")(
      bigrams(s, d).groupBy("w1").agg(count(lit(1)).as("n1")))

  /** Target-slice ('src0') model tables for DSIR — trained once and
    * persisted with the same discipline as the corpus tables they ratio
    * against. Without the barrier each q_dsir_weight run re-ran the
    * semi-join + both aggregations over the bigram stream (and ran the
    * semi-join TWICE, once per table) — measured as the suite's slowest
    * query at sf0.1. Both tables are target-vocab-bounded → broadcast.
    */
  private def dsirTargetC(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "dsir-target-c")(
      dsirTargetBigrams(s, d)
        .groupBy("w1", "w2").agg(count(lit(1)).as("t2")))

  private def dsirTargetU(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "dsir-target-u")(
      dsirTargetBigrams(s, d)
        .groupBy("w1").agg(count(lit(1)).as("t1")))

  private def dsirTargetBigrams(s: SparkSession, d: String): DataFrame =
    bigrams(s, d).join(
      Tables.documents(s, d).where(col("source") === "src0").select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** The PRE-JOINED DSIR model — corpus counts (n2, n1), target counts
    * (t2, t1) and the vocab size folded onto the conditional table's
    * (w1, w2) key, which covers every stream bigram by construction.
    * Memoized + persisted: the four-way join over the cached model
    * tables re-ran per execution as ~8 small driver jobs (~0.45 s of the
    * query's wall at sf0.1); pre-joining leaves ONE broadcast build from
    * one cached |V|²-bounded frame per serve.
    */
  private def dsirModel(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "dsir-model")(
      lmModelC(s, d)
        .join(lmModelU(s, d), Seq("w1"))
        .join(dsirTargetC(s, d), Seq("w1", "w2"), "left_outer")
        .join(dsirTargetU(s, d), Seq("w1"), "left_outer")
        .crossJoin(lmModelU(s, d).agg(count(lit(1)).as("vocab"))))

  /** Full-model bigram LM scores (doc_id, n_bigrams, avg_logp) — the
    * q_text_lm_score result frame, factored out so the curriculum
    * bucketing composes the same plan (same broadcast-model shape, same
    * ordered-fold float discipline). Memoized + persisted per directory:
    * the |docs|-row score frame is consumed by q_text_lm_score AND by
    * q_curriculum, whose distributed-prefix ntile executes its input
    * three times (range sampling, per-partition counts, final pass) —
    * without the persist those would each re-run the model serve.
    */
  private def lmScores(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "lm-scores")(lmScoresUncached(s, d))

  private def lmScoresUncached(s: SparkSession, d: String): DataFrame = {
    val b = bigrams(s, d)
    val c = lmModelC(s, d)
    val u = lmModelU(s, d)
    val v = u.agg(count(lit(1)).as("vocab"))
    b.join(broadcast(c), Seq("w1", "w2"))
      .join(broadcast(u), Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("pos"),
        expr("ln((n2 + 1.0) / (n1 + vocab))").as("logp"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("logp"))))
        .as("plps"))
      .select(col("doc_id"),
        size(col("plps")).cast("long").as("n_bigrams"),
        expr("round(aggregate(plps, cast(0 AS double), (a, x) -> a + x.logp) / size(plps), 6)")
          .as("avg_logp"))
  }

  /** DuckDB CTE chain (continues [[bigramsDuck]]) ending in
    * `lm(doc_id, n_bigrams, avg_logp)` — oracle twin of [[lmScores]].
    */
  private val lmScoresDuck: String =
    """c AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY 1, 2),
      |u AS (SELECT w1, count(*) AS n1 FROM b GROUP BY 1),
      |v AS (SELECT count(DISTINCT w1) AS vocab FROM b),
      |sc AS (SELECT b.doc_id, b.pos,
      |    ln((c.n2 + 1.0) / (u.n1 + v.vocab)) AS logp
      |  FROM b JOIN c ON b.w1 = c.w1 AND b.w2 = c.w2
      |         JOIN u ON b.w1 = u.w1, v),
      |lmagg AS (SELECT doc_id,
      |    list(logp ORDER BY pos) AS lps
      |  FROM sc GROUP BY doc_id),
      |lm AS (SELECT doc_id, len(lps) AS n_bigrams,
      |    round(list_sum(lps) / len(lps), 6) AS avg_logp
      |  FROM lmagg)""".stripMargin

  private def bm25TermScore(t: String): String =
    s"(CASE WHEN tf_$t = 0 THEN 0.0 ELSE " +
      s"ln((nd - df_$t + 0.5) / (df_$t + 0.5) + 1.0) * " +
      s"(tf_$t * 2.2) / (tf_$t + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) END)"
  private val bm25ScoreSql = bm25Terms.map(bm25TermScore).mkString(" + ")

  /** Positive BM25 scores (doc_id, score) for the fixed term query —
    * shared by the rank query and the hybrid-fusion query.
    */
  private[operators] def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d)
      .withColumn("toks", expr(tokensSpark("text")))
      .repartition(col("doc_id"))
      .select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
        bm25Terms.map(t =>
          expr(s"size(filter(toks, x -> x = '$t'))").cast("long").as(s"tf_$t")): _*)
    val aggCols = avg(col("dl")).as("avgdl") +: count(lit(1)).as("nd") +:
      bm25Terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val g = f.agg(aggCols.head, aggCols.tail: _*)
    f.crossJoin(broadcast(g))
      .withColumn("score", expr(s"round($bm25ScoreSql, 6)"))
      .where(col("score") > 0)
      .select("doc_id", "score")
  }

  /** DuckDB CTE chain ending in `bsc(doc_id, score)` — oracle twin of
    * [[bm25Scores]].
    */
  private[operators] val bm25ScoresDuck: String = {
    val tfDuck = bm25Terms.map(t =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf_$t").mkString(",\n    ")
    val dfDuck = bm25Terms.map(t =>
      s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(",\n    ")
    s"""bt AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents),
       |bf AS (SELECT doc_id, len(toks) AS dl,
       |    $tfDuck
       |  FROM bt),
       |bg AS (SELECT avg(dl) AS avgdl, count(*) AS nd,
       |    $dfDuck
       |  FROM bf),
       |bsc AS (SELECT bf.doc_id, round($bm25ScoreSql, 6) AS score
       |  FROM bf, bg WHERE round($bm25ScoreSql, 6) > 0)""".stripMargin
  }

  val entries: Seq[Q] = Seq(

    // BM25 ranking for a fixed term query — the retrieval scorer a
    // training-data pipeline uses for quality-targeted selection ("find
    // documents about X"). Shape: per-doc term frequencies come from the
    // token array MAP-SIDE (size(filter(...)) per term — no posting-list
    // explode, no shuffle), the corpus statistics (N, avgdl, per-term df)
    // are ONE 1-row aggregate broadcast back, and the top-k is a
    // TakeOrdered — so the whole query is one pass over the corpus plus a
    // k-row presentation sort. At 100 TB this is the scan-side scorer; an
    // inverted index only pays off once the term set is user-dynamic.
    Q("q_bm25_rank",
      s"""WITH $bm25ScoresDuck,
         |top AS (SELECT doc_id, score FROM bsc
         |  ORDER BY score DESC, doc_id LIMIT 20)
         |SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
         |  doc_id, score
         |FROM top ORDER BY rnk""".stripMargin) { (s, d) =>
      val top = bm25Scores(s, d)
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
      top.withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(desc("score"), asc("doc_id"))))
        .select("rnk", "doc_id", "score")
        .orderBy("rnk")
    },

    // Keyword insight search (reference pkg/rag/queries/insights.py:33-240:
    // substring search over payloads with limit/offset): case-insensitive
    // containment + hit count, deterministic paging order. The filter is a
    // plain predicate, so at scale it rides the scan (and would sit behind
    // a bloom/ngram index in a real corpus store).
    Q("q_keyword_search",
      """SELECT doc_id, lang,
        |  (length(lower(text)) - length(replace(lower(text), 'merge', '')))
        |    // length('merge') AS n_hits
        |FROM documents
        |WHERE contains(lower(text), 'merge')
        |ORDER BY n_hits DESC, doc_id LIMIT 50 OFFSET 10""".stripMargin) { (s, d) =>
      val kw = "merge"
      Tables.documents(s, d)
        .where(lower(col("text")).contains(kw))
        .select(col("doc_id"), col("lang"),
          ((length(lower(col("text"))) -
            length(regexp_replace(lower(col("text")), kw, ""))) /
            lit(kw.length.toLong))
            .cast("long").as("n_hits"))
        .orderBy(desc("n_hits"), asc("doc_id"))
        .offset(10).limit(50)
    },

    // Bigram language-model quality scoring — the perplexity-filtering
    // step of a training-data pipeline: train add-1-smoothed conditional
    // bigram probabilities ON the corpus, score each document by its mean
    // log-probability (low = unnatural/repetitive/boilerplate text).
    // Cross-engine float discipline: each doc's per-bigram logps are
    // collected IN POSITION ORDER and folded sequentially (sort_array +
    // aggregate / list(... ORDER BY pos) + list_sum) — never an unordered
    // SUM over join rows whose summation order an engine may pick — and
    // ln outputs are round(·, 6) (last-ulp divergence, see q_bm25_rank).
    // Scale shape: bigram counts are one shuffle keyed on (w1, w2); the
    // scoring join re-uses that key; the per-doc regroup collects a list
    // bounded by the doc's own length. At 100 TB the model side would be
    // the top-K bigrams broadcast + a default-smoothing miss path.
    // The MODEL side is vocab-bounded (n2: |V|², n1: |V|) while the probe
    // side is the full bigram stream — [[lmScores]] broadcasts the model
    // so the stream is never shuffled on token keys (its only shuffle is
    // the per-doc regroup); same broadcast-the-model shape as the 100 TB
    // top-K variant.
    Q("q_text_lm_score",
      s"""WITH $bigramsDuck,
         |$lmScoresDuck
         |SELECT doc_id, n_bigrams, avg_logp
         |FROM lm ORDER BY doc_id""".stripMargin) { (s, d) =>
      lmScores(s, d).orderBy("doc_id")
    },

    // CURRICULUM BUCKETING: order documents by LM difficulty (the
    // easiest-first curriculum-learning schedule) and report the 5
    // difficulty tiers a data loader would stage — per tier: doc count,
    // token mass, and the score envelope. The tier cut is ntile(5) over
    // (avg_logp DESC, doc_id) — avg_logp is already round(·, 6) so the
    // ordering (and thus the cut) is cross-engine deterministic. The
    // Spark side computes it WITHOUT a global window: the global rank is
    // a distributed running count (Plans.runningSum), and ntile's bucket
    // function is a closed-form expression of (rank, n), so the plan
    // scales to any corpus while the oracle keeps the literal ntile.
    Q("q_curriculum",
      s"""WITH $bigramsDuck,
         |$lmScoresDuck,
         |tiers AS (SELECT doc_id, n_bigrams, avg_logp,
         |    ntile(5) OVER (ORDER BY avg_logp DESC, doc_id) AS tier
         |  FROM lm),
         |agg AS (SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
         |    max(avg_logp) AS easiest, min(avg_logp) AS hardest,
         |    list(avg_logp ORDER BY doc_id) AS lps
         |  FROM tiers GROUP BY tier)
         |SELECT tier, n_docs, total_bigrams, easiest, hardest,
         |  round(list_sum(lps) / len(lps), 6) AS mean_logp
         |FROM agg ORDER BY tier""".stripMargin) { (s, d) =>
      val (ranked, n) = Plans.runningSum(s, d, "curriculum-parts",
        lmScores(s, d), Seq(desc("avg_logp"), asc("doc_id")), lit(1L), "rn")
      // ntile(5) in closed form over the global rank rn: the first
      // n%5 buckets carry ceil(n/5) rows, the rest floor(n/5)
      val size5 = n / 5
      val rem = n % 5
      val cut = rem * (size5 + 1)
      val tiers = ranked
        .withColumn("tier", expr(
          s"CAST(CASE WHEN rn <= $cut THEN (rn - 1) div ${size5 + 1} + 1 " +
            s"ELSE $rem + (rn - $cut - 1) div ${math.max(size5, 1L)} + 1 " +
            "END AS INT)"))
      tiers.groupBy("tier")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bigrams").cast("long").as("total_bigrams"),
          max("avg_logp").as("easiest"), min("avg_logp").as("hardest"),
          sort_array(collect_list(struct(col("doc_id"), col("avg_logp"))))
            .as("lps"))
        .select(col("tier"), col("n_docs"), col("total_bigrams"),
          col("easiest"), col("hardest"),
          expr("round(aggregate(lps, cast(0 AS double), (a, x) -> a + x.avg_logp) / size(lps), 6)")
            .as("mean_logp"))
        .orderBy("tier")
    },

    // The 100 TB form the full-model query's comment promises: model
    // truncated to the top-K bigrams (deterministic (n2 DESC, w1, w2)
    // cut), misses scored by the n2=0 smoothed default ln(1/(n1+|V|)).
    // n_hits exposes how much of each doc the kept model covered, so the
    // K-vs-coverage trade is measurable per document. Same ordered-fold
    // float discipline as q_text_lm_score.
    Q("q_text_lm_topk",
      s"""WITH $bigramsDuck,
         |c AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY 1, 2),
         |tk AS (SELECT w1, w2, n2 FROM c ORDER BY n2 DESC, w1, w2 LIMIT $LmTopK),
         |u AS (SELECT w1, count(*) AS n1 FROM b GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS vocab FROM b),
         |sc AS (SELECT b.doc_id, b.pos,
         |    ln((coalesce(tk.n2, 0) + 1.0) / (u.n1 + v.vocab)) AS logp,
         |    tk.n2 IS NOT NULL AS hit
         |  FROM b JOIN u ON b.w1 = u.w1
         |         LEFT JOIN tk ON b.w1 = tk.w1 AND b.w2 = tk.w2, v),
         |agg AS (SELECT doc_id, list(logp ORDER BY pos) AS lps,
         |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM sc GROUP BY doc_id)
         |SELECT doc_id, len(lps) AS n_bigrams, n_hits,
         |  round(list_sum(lps) / len(lps), 6) AS avg_logp
         |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
      lmTopKScores(s, d, LmTopK)
    },

    // DSIR-style importance weight (Data Selection via Importance
    // Resampling): per-document mean log-likelihood RATIO between a
    // target-domain bigram model (trained on the 'src0' slice) and the
    // corpus model — positive means "looks like the target domain", the
    // ranking signal for domain-matched data selection. Both models are
    // add-1 smoothed over the SAME corpus-wide vocabulary so the ratio is
    // well-defined for bigrams the target never saw (c_t = 0 path). Scale
    // shape: both models are vocab-bounded and broadcast (target side is
    // a slice, so its tables are strictly smaller); the probe stream is
    // the shared persisted bigram frame; per-doc logp-diff folds are
    // position-ordered for cross-engine float parity (round 6).
    Q("q_dsir_weight",
      s"""WITH $bigramsDuck,
         |src AS (SELECT doc_id, source FROM documents),
         |bs AS (SELECT b.*, CASE WHEN src.source = 'src0' THEN 1 ELSE 0 END
         |    AS is_t
         |  FROM b JOIN src USING (doc_id)),
         |c AS (SELECT w1, w2, count(*) AS n2, sum(is_t) AS t2
         |  FROM bs GROUP BY 1, 2),
         |u AS (SELECT w1, count(*) AS n1, sum(is_t) AS t1
         |  FROM bs GROUP BY 1),
         |v AS (SELECT count(DISTINCT w1) AS vocab FROM b),
         |sc AS (SELECT b.doc_id, b.pos,
         |    ln((c.t2 + 1.0) / (u.t1 + v.vocab))
         |      - ln((c.n2 + 1.0) / (u.n1 + v.vocab)) AS lr
         |  FROM b JOIN c ON b.w1 = c.w1 AND b.w2 = c.w2
         |         JOIN u ON b.w1 = u.w1, v),
         |agg AS (SELECT doc_id, list(lr ORDER BY pos) AS lrs
         |  FROM sc GROUP BY doc_id)
         |SELECT a.doc_id, s.source, len(a.lrs) AS n_bigrams,
         |  round(list_sum(a.lrs) / len(a.lrs), 6) AS dsir_weight
         |FROM agg a JOIN src s USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
      val b = bigrams(s, d)
      // the doc→source map is narrow but corpus-sized: join it on doc_id,
      // where the bigram stream is ALREADY hash-partitioned (the persisted
      // frame repartitions before exploding) — only the small side
      // shuffles, the stream does not move
      val src = Tables.documents(s, d).select("doc_id", "source")
      // all four model tables come from SHARED trained frames (persisted
      // once): corpus counts from the LM model, target-slice counts from
      // the dsirTarget tables — a pass over the (much smaller) target
      // stream instead of re-counting the whole corpus with an is_t flag.
      // Bigrams the target never saw coalesce to t = 0, which is exactly
      // the combined-aggregation value they had before.
      // ONE broadcast for all four model tables + the vocab row: the
      // pre-joined [[dsirModel]] frame (memoized + persisted — the
      // four-way join itself cost ~8 small driver jobs per run before).
      b.join(broadcast(dsirModel(s, d)), Seq("w1", "w2"))
        .select(col("doc_id"), col("pos"),
          expr("ln((coalesce(t2, 0L) + 1.0) / (coalesce(t1, 0L) + vocab))" +
            " - ln((n2 + 1.0) / (n1 + vocab))").as("lr"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("lr"))))
          .as("plrs"))
        .join(src, Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          size(col("plrs")).cast("long").as("n_bigrams"),
          expr("round(aggregate(plrs, cast(0 AS double), (a, x) -> a + x.lr) / size(plrs), 6)")
            .as("dsir_weight"))
        .transform(Plans.sortedOutput(_, "doc_id"))
    },

    Q("q_text_tokens",
      s"""WITH t AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_distinct,
         |  CASE WHEN len(toks) = 0 THEN NULL
         |       ELSE list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
         |  END AS avg_token_len
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr(tokensSpark("text")))
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          when(size(col("toks")) === 0, lit(null))
            .otherwise(
              expr("aggregate(toks, 0L, (a,x) -> a + char_length(x))")
                .cast("double") / size(col("toks")))
            .as("avg_token_len"))
        .orderBy("doc_id")
    },

    Q("q_text_quality",
      s"""WITH t AS (
         |  SELECT doc_id, length(text) AS nc, ${tokensDuck("text")} AS toks,
         |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS npunct
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN nc = 0 THEN NULL ELSE npunct::DOUBLE / nc END AS punct_ratio,
         |  CASE WHEN len(toks) = 0 THEN NULL
         |       ELSE len(list_filter(toks, x -> x IN ($stopSqlList)))::DOUBLE / len(toks)
         |  END AS stopword_ratio,
         |  CASE WHEN len(toks) >= 20
         |        AND len(list_filter(toks, x -> x IN ($stopSqlList)))::DOUBLE / len(toks)
         |            BETWEEN 0.05 AND 0.6 THEN 'good'
         |       WHEN len(toks) >= 5 THEN 'fair'
         |       ELSE 'poor' END AS quality
         |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val stopSpark = stop.map(w => s"'$w'").mkString(", ")
      Tables.documents(s, d)
        .withColumn("toks", expr(tokensSpark("text")))
        .repartition(col("doc_id"))
        .withColumn("nc", length(col("text")).cast("long"))
        .withColumn("npunct",
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long"))
        .withColumn("stopword_ratio",
          when(size(col("toks")) === 0, lit(null)).otherwise(
            expr(s"size(filter(toks, x -> x IN ($stopSpark)))").cast("double") /
              size(col("toks"))))
        .select(col("doc_id"),
          when(col("nc") === 0, lit(null))
            .otherwise(col("npunct").cast("double") / col("nc"))
            .as("punct_ratio"),
          col("stopword_ratio"),
          when(size(col("toks")) >= 20 &&
              col("stopword_ratio").between(0.05, 0.6), "good")
            .when(size(col("toks")) >= 5, "fair")
            .otherwise("poor").as("quality"))
        .orderBy("doc_id")
    },

    // Curation filter pipeline (the C4/Gopher-style keep/drop chain a
    // training-data pipeline runs before dedup): fixed-order rules with a
    // FIRST-MATCH reject reason, aggregated into the survival report a
    // pipeline operator dashboards. One pass, no shuffle beyond the final
    // tiny group-by; doc-level decisions via [[filterReasons]].
    Q("q_text_filter_report",
      s"""WITH $ruleReasonDuck
         |SELECT rule_reason AS reason, count(*) AS n_docs
         |FROM rr GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      filterReasons(s, d)
        .groupBy(col("rule_reason").as("reason"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("reason")
    },

    // Stopword-hit scoring per language family; fixed priority on ties.
    // (The synthetic corpus shares one vocabulary across langs, so this is
    // graded on cross-engine parity of the scoring, not on accuracy.)
    // Per-source quality report: docs, rule-kept rate, and mean token
    // count per source — the one-line-per-source summary a pipeline
    // owner reads to decide which sources to keep, fix, or drop (the
    // doc-level rule reasons roll up; a source with a low kept-rate is
    // cheaper to drop than to filter). Composes the same first-match
    // rule chain the filter report uses; exact int/int division for the
    // rate.
    Q("q_source_quality",
      s"""WITH $ruleReasonDuck,
         |src AS (SELECT d.doc_id, d.source,
         |    len(${tokensDuck("d.text")}) AS n_toks, r.rule_reason
         |  FROM documents d JOIN rr r ON d.doc_id = r.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN rule_reason = 'kept' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN rule_reason = 'kept' THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*) AS kept_rate,
         |  CAST(sum(n_toks) AS BIGINT) AS total_tokens
         |FROM src GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          expr(s"size(${tokensSpark("text")})").cast("long").as("n_toks"))
      docs.join(filterReasons(s, d), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rule_reason") === "kept", 1L).otherwise(0L)).as("n_kept"),
          (sum(when(col("rule_reason") === "kept", 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("kept_rate"),
          sum("n_toks").cast("long").as("total_tokens"))
        .orderBy("source")
    },

    // Per-source language confusion matrix: the label-quality audit over
    // the langid heuristic — (source, labeled lang, predicted lang, n).
    // A source whose labels disagree with content-based prediction has a
    // metadata problem (mislabeled scrape, mixed-language dump) and gets
    // routed to re-labeling before the mixture step. Rollup of the same
    // marker-word scores the per-doc classifier uses; one grouped count.
    Q("q_lang_confusion",
      s"""WITH t AS (SELECT doc_id, lang, source, ${tokensDuck("text")} AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, lang, source,
         |    len(list_filter(toks, x -> x IN ($stopSqlList))) AS s_en,
         |    len(list_filter(toks, x -> x IN ($esList))) AS s_es,
         |    len(list_filter(toks, x -> x IN ($frList))) AS s_fr
         |  FROM t),
         |p AS (SELECT source, lang,
         |    CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |         WHEN s_es >= s_fr THEN 'es'
         |         ELSE 'fr' END AS predicted
         |  FROM s)
         |SELECT source, lang, predicted, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      val en = stop.map(w => s"'$w'").mkString(", ")
      Tables.documents(s, d)
        .withColumn("toks", expr(tokensSpark("text")))
        .repartition(col("doc_id"))
        .withColumn("s_en", expr(s"size(filter(toks, x -> x IN ($en)))").cast("long"))
        .withColumn("s_es", expr(s"size(filter(toks, x -> x IN ($esList)))").cast("long"))
        .withColumn("s_fr", expr(s"size(filter(toks, x -> x IN ($frList)))").cast("long"))
        .select(col("source"), col("lang"),
          when(col("s_en") === 0 && col("s_es") === 0 && col("s_fr") === 0, "und")
            .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
            .when(col("s_es") >= col("s_fr"), "es")
            .otherwise("fr").as("predicted"))
        .groupBy("source", "lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "lang", "predicted")
    },

    Q("q_text_langid", {
      val en = stopSqlList
      val es = esList
      val fr = frList
      s"""WITH t AS (SELECT doc_id, lang, ${tokensDuck("text")} AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |    len(list_filter(toks, x -> x IN ($en))) AS s_en,
         |    len(list_filter(toks, x -> x IN ($es))) AS s_es,
         |    len(list_filter(toks, x -> x IN ($fr))) AS s_fr
         |  FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS predicted,
         |  (CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END) = lang AS is_match
         |FROM s ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val en = stop.map(w => s"'$w'").mkString(", ")
      val es = esList
      val fr = frList
      val base = Tables.documents(s, d)
        .withColumn("toks", expr(tokensSpark("text")))
        .repartition(col("doc_id"))
        .withColumn("s_en", expr(s"size(filter(toks, x -> x IN ($en)))").cast("long"))
        .withColumn("s_es", expr(s"size(filter(toks, x -> x IN ($es)))").cast("long"))
        .withColumn("s_fr", expr(s"size(filter(toks, x -> x IN ($fr)))").cast("long"))
      val predicted =
        when(col("s_en") === 0 && col("s_es") === 0 && col("s_fr") === 0, "und")
          .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr")
      base.select(col("doc_id"), col("lang"),
          predicted.as("predicted"),
          (predicted === col("lang")).as("is_match"))
        .orderBy("doc_id")
    },

    // Full-document rolling hash + winnowing-style minimum shingle hash
    // (shingle hashes combined arithmetically from token hashes — see
    // TextHash.shingleHashesSpark for why strings never enter the hot path).
    Q("q_text_fingerprint",
      s"""WITH t AS (SELECT doc_id, text, ${tokensDuck("text")} AS toks FROM documents),
         |h0 AS (SELECT doc_id, text, ${hashArrayDuck("toks")} AS th FROM t)
         |SELECT doc_id, ${polyDuck("text")} AS full_hash,
         |  list_min(${shingleHashesDuck("th")}) AS min_shingle_hash
         |FROM h0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      // the tokenize + per-token hash + shingle combine is EXACTLY the
      // persisted dedup shingle frame — join its hs back (narrow, by
      // doc_id) instead of re-running the regex over the corpus; only
      // the char-level full-document hash is per-run map work
      val full = Tables.documents(s, d)
        .select(col("doc_id"), expr(polySpark("text")).as("full_hash"))
        .repartition(col("doc_id"))
      full.join(
          Dedup.shingled(s, d).select(col("doc_id"),
            expr("array_min(hs)").as("min_shingle_hash")),
          Seq("doc_id"))
        .orderBy("doc_id")
    },

    // Repetition signals (the Gopher/MassiveText repetition rules, word
    // and bigram granularity since the synthetic corpus is single-line):
    // fraction of tokens taken by the most frequent token, and of bigrams
    // by the most frequent bigram — high values mark boilerplate/looping
    // text that length- and stopword-rules miss. Shape: the grams of one
    // document are already an in-row array, so the per-doc top-frequency
    // is a MAP-ONLY sorted-run fold (array_sort + longest-equal-run
    // aggregate) — zero shuffles, cost bounded by the longest single
    // document at any corpus size (the exploded two-level groupBy this
    // replaces shuffled every gram occurrence twice; measured 2x at
    // sf0.1). All-integer counts; the only doubles are final int/int
    // divisions (order-free, bit-identical cross-engine).
    Q("q_text_repetition",
      s"""WITH t AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |wc AS (SELECT doc_id, w, count(*) AS c FROM e GROUP BY 1, 2),
         |ws AS (SELECT doc_id, max(c)::BIGINT AS top_w, sum(c)::BIGINT AS n_toks
         |  FROM wc GROUP BY 1),
         |bg AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(toks) - 1),
         |    i -> toks[i] || ' ' || toks[i + 1])) AS b
         |  FROM t WHERE len(toks) >= 2),
         |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
         |bs AS (SELECT doc_id, max(c)::BIGINT AS top_b, sum(c)::BIGINT AS n_bg
         |  FROM bc GROUP BY 1)
         |SELECT ws.doc_id,
         |  top_w::DOUBLE / n_toks AS top_word_frac,
         |  top_b::DOUBLE / n_bg AS top_bigram_frac,
         |  (top_w::DOUBLE / n_toks > 0.2
         |   OR coalesce(top_b::DOUBLE / n_bg, 0.0) > 0.18) AS is_repetitive
         |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
         |ORDER BY ws.doc_id""".stripMargin) { (s, d) =>
      // longest equal-run in a sorted array == max occurrence count of
      // any element; the null-safe <=> makes the first element open a
      // run of 1 (prev starts null)
      def maxRun(arr: String): String =
        s"aggregate(array_sort($arr), " +
          "named_struct('p', CAST(NULL AS STRING), " +
          "'r', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT)), " +
          "(a, x) -> named_struct('p', x, " +
          "'r', IF(a.p <=> x, a.r + 1, CAST(1 AS BIGINT)), " +
          "'b', GREATEST(a.b, IF(a.p <=> x, a.r + 1, CAST(1 AS BIGINT)))), " +
          "a -> a.b)"
      val bgArr = "transform(sequence(1, size(toks) - 1), " +
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
      tokenized(s, d)
        .where(size(col("toks")) > 0) // empty docs vanish in the oracle too
        .select(col("doc_id"),
          expr(maxRun("toks")).as("top_w"),
          size(col("toks")).cast("long").as("n_toks"),
          when(size(col("toks")) >= 2, expr(maxRun(bgArr))).as("top_b"),
          when(size(col("toks")) >= 2, (size(col("toks")) - 1).cast("long"))
            .as("n_bg"))
        .select(col("doc_id"),
          (col("top_w").cast("double") / col("n_toks")).as("top_word_frac"),
          (col("top_b").cast("double") / col("n_bg")).as("top_bigram_frac"),
          (col("top_w").cast("double") / col("n_toks") > 0.2 ||
            coalesce(col("top_b").cast("double") / col("n_bg"), lit(0.0)) > 0.18)
            .as("is_repetitive"))
        .transform(Plans.sortedOutput(_, "doc_id"))
    },

    // Corpus vocabulary / Zipf report: top-50 tokens by frequency with
    // rank and corpus share — the tokenizer-design diagnostic (vocabulary
    // head coverage) run before choosing a vocab size. Shape: explode →
    // (token)-keyed count with map-side partial aggregation (the Zipf head
    // IS the skew, and partial agg is exactly what absorbs it — each
    // partition pre-collapses its 'the'-count to one row before the
    // shuffle), then TakeOrdered(50) — never a global sort of the
    // vocabulary — and a 1-row total broadcast for the share division.
    // All-integer until the final exact int/int division.
    Q("q_vocab_zipf",
      s"""WITH t AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents),
         |e AS (SELECT unnest(toks) AS tok FROM t),
         |c AS (SELECT tok, count(*) AS cnt FROM e GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok ASC LIMIT 50)
         |SELECT row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank,
         |  tok, cnt, cnt::DOUBLE / total AS share
         |FROM top, tot ORDER BY rank""".stripMargin) { (s, d) =>
      val c = tokenized(s, d).select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = c.agg(sum("cnt").as("total"))
      // rank window runs over the 50 surviving rows only (post-limit)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("cnt"), asc("tok"))
      c.orderBy(desc("cnt"), asc("tok")).limit(50)
        .crossJoin(broadcast(tot))
        .select(row_number().over(w).cast("long").as("rank"), col("tok"),
          col("cnt"), (col("cnt").cast("double") / col("total")).as("share"))
        .orderBy("rank")
    },

    // Out-of-vocabulary rate per document against the corpus's own top-20
    // token vocabulary — the coverage signal a tokenizer/vocab choice is
    // judged by (CCNet-style: high-OOV docs are noise under a trained
    // vocab). Two-phase: the vocab is a TakeOrdered(20) broadcast — the
    // exploded token stream left-joins it with NO shuffle (broadcast hash
    // join), and the per-doc rate is a (doc_id)-keyed count — skew-free
    // because doc_id is the grouping key. Exact int/int division.
    Q("q_oov_rate",
      s"""WITH t AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |c AS (SELECT tok, count(*) AS cnt FROM e GROUP BY 1),
         |vocab AS (SELECT tok FROM c ORDER BY cnt DESC, tok ASC LIMIT 20),
         |j AS (SELECT e.doc_id,
         |    CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM e LEFT JOIN vocab v ON e.tok = v.tok)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  CAST(sum(oov) AS DOUBLE) / count(*) AS oov_rate
         |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val e = tokenized(s, d).select(col("doc_id"), explode(col("toks")).as("tok"))
      val vocab = e.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok")).limit(20)
        .select(col("tok"), lit(1).as("in_vocab"))
      e.join(broadcast(vocab), Seq("tok"), "left_outer")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
        .orderBy("doc_id")
    },

    // Per-source token-distribution drift: KL(P_source ‖ P_corpus) =
    // Σ_t p_s(t)·ln(p_s(t)/q(t)) — the information-theoretic "how unlike
    // the corpus is this source" signal that decides re-weighting or
    // exclusion before mixing (a source whose token distribution has
    // drifted far from the pool is boilerplate, spam, or another
    // language). Support is safe by construction: p_s(t) > 0 ⇒ the corpus
    // contains t ⇒ q(t) > 0. Float discipline: the per-source sum folds
    // over a TOKEN-ORDERED list (never an engine-ordered SUM of ln terms)
    // and the result is round(·, 6) for the ln ulp divergence, the
    // q_bm25_rank/q_text_lm_score convention. Shape: one (source, token)
    // count (map-side partials absorb the Zipf head), a broadcast 1-row
    // corpus total, a broadcast corpus-distribution join keyed on token,
    // then a per-source ordered fold — vocab-bounded state everywhere.
    Q("q_kl_drift",
      s"""WITH t AS (SELECT source, ${tokensDuck("text")} AS toks FROM documents),
         |e AS (SELECT source, unnest(toks) AS tok FROM t),
         |st AS (SELECT source, tok, count(*) AS c FROM e GROUP BY 1, 2),
         |sn AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY 1),
         |ct AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cc FROM st GROUP BY 1),
         |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS nn FROM ct),
         |terms AS (SELECT st.source, st.tok,
         |    (st.c::DOUBLE / sn.ns) *
         |      ln((st.c::DOUBLE / sn.ns) / (ct.cc::DOUBLE / tot.nn)) AS kt
         |  FROM st JOIN sn USING (source) JOIN ct USING (tok), tot),
         |agg AS (SELECT source, list(kt ORDER BY tok) AS ks
         |  FROM terms GROUP BY 1)
         |SELECT source, len(ks) AS n_tokens_distinct,
         |  round(list_sum(ks), 6) AS kl_divergence
         |FROM agg ORDER BY source""".stripMargin) { (s, d) =>
      val st = sourceTokenCounts(s, d)
      val sn = st.groupBy("source").agg(sum("c").cast("long").as("ns"))
      val ct = st.groupBy("tok").agg(sum("c").cast("long").as("cc"))
      val tot = ct.agg(sum("cc").cast("long").as("nn"))
      st.join(sn, Seq("source"))
        .join(broadcast(ct), Seq("tok"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("tok"),
          expr("(c / cast(ns AS double)) * " +
            "ln((c / cast(ns AS double)) / (cc / cast(nn AS double)))").as("kt"))
        .groupBy("source")
        .agg(sort_array(collect_list(struct(col("tok"), col("kt")))).as("ks"))
        .select(col("source"),
          size(col("ks")).cast("long").as("n_tokens_distinct"),
          expr("round(aggregate(ks, cast(0 AS double), (a, x) -> a + x.kt), 6)")
            .as("kl_divergence"))
        .orderBy("source")
    },

    // Heaps'-law vocabulary growth: distinct-vocabulary size after each
    // decile of the corpus (by doc_id order) — the diagnostic that says
    // whether vocabulary is still growing (open-domain web text) or has
    // saturated (templated corpus), which sizes tokenizer vocabularies
    // and dedup expectations. Shape: one (token → first doc) aggregate,
    // then a 10-row cumulative sum — the heavy lifting is a single
    // min-aggregate keyed on token (map-side partials absorb the Zipf
    // head); no window ever touches the token stream. All-integer.
    Q("q_vocab_growth",
      s"""WITH t AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents),
         |e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |nd AS (SELECT max(doc_id) AS mx FROM e),
         |fo AS (SELECT tok, min(doc_id) AS first_doc FROM e GROUP BY 1),
         |b AS (SELECT CAST(least(9, floor(first_doc * 10.0 / (mx + 1)))
         |    AS BIGINT) AS decile, count(*) AS new_toks
         |  FROM fo, nd GROUP BY 1)
         |SELECT d.decile,
         |  CAST(coalesce(b.new_toks, 0) AS BIGINT) AS new_tokens,
         |  CAST(sum(coalesce(b.new_toks, 0)) OVER (ORDER BY d.decile
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
         |FROM (SELECT unnest(generate_series(0, 9)) AS decile) d
         |LEFT JOIN b ON d.decile = b.decile
         |ORDER BY d.decile""".stripMargin) { (s, d) =>
      val e = tokenized(s, d).select(col("doc_id"), explode(col("toks")).as("tok"))
      val nd = e.agg(max("doc_id").as("mx"))
      val fo = e.groupBy("tok").agg(min("doc_id").as("first_doc"))
      // floor of the exact IEEE division in BOTH dialects — a bare
      // CAST(double AS BIGINT) truncates in Spark but rounds in DuckDB
      val b = fo.crossJoin(broadcast(nd))
        .select(least(lit(9), floor(col("first_doc") * 10.0 / (col("mx") + 1)))
          .cast("long").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("new_toks"))
      val deciles = s.range(0, 10).toDF("decile")
      val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      deciles.join(b, Seq("decile"), "left_outer")
        .select(col("decile"),
          coalesce(col("new_toks"), lit(0L)).cast("long").as("new_tokens"))
        .withColumn("vocab_size", sum("new_tokens").over(w).cast("long"))
        .orderBy("decile")
    },

    // Positional phrase search — exact phrase match ("part filter scan")
    // via an inverted index WITH POSITIONS, the retrieval shape BM25's
    // bag-of-words scoring can't express. Each phrase term filters the
    // postings stream to (doc_id, pos - offset): a phrase occurrence is
    // one (doc_id, start) key present in ALL per-term streams, so the
    // match is a chain of equi-joins on (doc_id, start) — hash-partitioned,
    // no positions array ever compared element-wise. At 100 TB the
    // postings table is the pre-built term-bucketed index and each term's
    // filter is a bucket lookup; the join chain is unchanged. Matches
    // roll up per doc (count + first position).
    Q("q_phrase_search", {
      val terms = phrase.zipWithIndex.map { case (w, i) =>
        s"m$i AS (SELECT doc_id, pos - $i AS start FROM post WHERE tok = '$w')"
      }.mkString(",\n")
      val joins = phrase.indices.tail
        .map(i => s"JOIN m$i USING (doc_id, start)").mkString(" ")
      s"""WITH t AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(toks)),
         |    i -> {'pos': i, 'tok': toks[i]})) AS pt
         |  FROM t WHERE len(toks) >= ${phrase.length}),
         |post AS (SELECT doc_id, pt.pos AS pos, pt.tok AS tok FROM p),
         |$terms,
         |mm AS (SELECT m0.doc_id, m0.start FROM m0 $joins)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |  CAST(min(start) AS BIGINT) AS first_pos
         |FROM mm GROUP BY 1 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val post = tokenized(s, d)
        .where(size(col("toks")) >= phrase.length)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks)), " +
            "i -> struct(i AS pos, element_at(toks, i) AS tok))")).as("pt"))
        .select(col("doc_id"), col("pt.pos").as("pos"), col("pt.tok").as("tok"))
      val parts = phrase.zipWithIndex.map { case (w, i) =>
        post.where(col("tok") === w)
          .select(col("doc_id"), (col("pos") - i).cast("long").as("start"))
      }
      parts.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), min("start").as("first_pos"))
        .orderBy("doc_id")
    },

    // Hashed bag-of-words linear classifier scoring — the fastText-style
    // quality-classifier serving pass of a training-data pipeline (score
    // every document against a trained model; keep the positives). The
    // model is the hashing trick's dense weight array: token → bucket =
    // hash(token) mod B, score = mean of the bucket weights — no vocab
    // table, model size is B regardless of vocabulary growth. Weights
    // here are a deterministic integer lattice (stand-in for trained
    // parameters; the serving shape is what's under test): the array is a
    // literal in both dialects — the broadcast-the-model form — and the
    // whole query is map-only, no shuffle but the presentation sort.
    // All-integer accumulation; the only double is the final exact
    // int/int division.
    Q("q_text_clf_score",
      s"""WITH $clfDuck
         |SELECT doc_id, n_tokens, w_sum,
         |  CAST(w_sum AS DOUBLE) / n_tokens AS score,
         |  w_sum > 0 AS keep
         |FROM cs ORDER BY doc_id""".stripMargin) { (s, d) =>
      clfScored(s, d)
        .select(col("doc_id"), col("n_tokens"), col("w_sum"),
          (col("w_sum").cast("double") / col("n_tokens")).as("score"),
          (col("w_sum") > 0).as("keep"))
        .transform(Plans.sortedOutput(_, "doc_id"))
    },

    // PER-SOURCE QUALITY CAP — the per-domain rate limit a web-scale
    // pipeline applies so no single source floods the mix (RefinedWeb
    // keeps a bounded take per domain): rank each source's documents by
    // classifier score (tie → doc_id) and keep the top 10. The rank
    // window partitions on source — the same key the mixture/sampling
    // operators shuffle on — and the cap is applied in the window pass,
    // so no source's full document list is ever collected. Survivors
    // carry their rank for downstream mixture weighting.
    Q("q_source_cap",
      s"""WITH $clfDuck,
         |r AS (SELECT source, doc_id, n_tokens,
         |    CAST(w_sum AS DOUBLE) / n_tokens AS score,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY CAST(w_sum AS DOUBLE) / n_tokens DESC, doc_id) AS rnk
         |  FROM cs)
         |SELECT source, rnk, doc_id, n_tokens, score
         |FROM r WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin) { (s, d) =>
      val scored = clfScored(s, d)
        .withColumn("score", col("w_sum").cast("double") / col("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("score"), asc("doc_id"))
      scored.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 10)
        .select("source", "rnk", "doc_id", "n_tokens", "score")
        .orderBy("source", "rnk")
    },

    // TOKEN-WINDOW CHUNKING with stride — the RAG/embedding-prep splitter
    // (32-token chunks, stride 24 ⇒ 8-token overlap so no boundary
    // sentence is ever lost). Tail rule: a sub-8-token trailing chunk is
    // dropped unless it is the document's only chunk. Each chunk carries
    // a rolling hash COMBINED ARITHMETICALLY from the precomputed token
    // hashes (the shingle-hash trick — token strings are hashed once per
    // doc, never once per chunk), which downstream chunk-level dedup
    // joins on. Map-only: the explode multiplies rows ~n/24× but nothing
    // shuffles until a consumer asks; chunk payloads stay as (start, len)
    // offsets into the doc, not copied text.
    Q("q_doc_chunks",
      s"""WITH t AS (SELECT doc_id, ${tokensDuck("text")} AS toks FROM documents),
         |h AS (SELECT doc_id, len(toks) AS n, ${hashArrayDuck("toks")} AS th
         |  FROM t WHERE len(toks) > 0),
         |st AS (SELECT doc_id, n, th,
         |    unnest(list_filter(generate_series(1, n, 24),
         |      s -> s = 1 OR n - s + 1 >= 8)) AS start
         |  FROM h)
         |SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
         |  CAST(start AS BIGINT) AS start,
         |  CAST(least(32, n - start + 1) AS BIGINT) AS n_chunk_tokens,
         |  CAST(list_reduce(list_slice(th, start, least(start + 31, n)),
         |    (a, x) -> (a * 8191 + x) % ${graft.functions.TextHash.P})
         |    AS BIGINT) AS chunk_hash
         |FROM st ORDER BY doc_id, start""".stripMargin) { (s, d) =>
      val P = graft.functions.TextHash.P
      tokenized(s, d)
        .where(size(col("toks")) > 0)
        .select(col("doc_id"), size(col("toks")).as("n"),
          expr(hashArraySpark("toks")).as("th"))
        .select(col("doc_id"), col("n"), col("th"),
          explode(expr(
            "filter(sequence(1, n, 24), s -> s = 1 OR n - s + 1 >= 8)"))
            .as("start"))
        .select(col("doc_id"),
          ((col("start") - 1) / 24).cast("long").as("chunk_idx"),
          col("start").cast("long").as("start"),
          least(lit(32), col("n") - col("start") + 1).cast("long")
            .as("n_chunk_tokens"),
          expr(s"aggregate(slice(th, start, 32), 0L, " +
            s"(a, x) -> (a * 8191 + x) % $P)").as("chunk_hash"))
        .transform(Plans.sortedOutput(_, "doc_id", "start"))
    },

    // Sensitive-pattern scrubbing with an audit count — the PII-masking
    // shape (regex replace + how-many-were-masked) over the one column of
    // this corpus that carries digit payloads (events.props). Map-only:
    // no shuffle but the presentation sort; the pattern set extends to
    // emails/phones/IPs unchanged. Patterns stay in the RE2 ∩ Java-regex
    // common dialect (character classes + quantifiers, no backrefs) so
    // both engines match identical spans.
    Q("q_scrub_mask",
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS masked,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("masked"),
          size(expr("regexp_extract_all(props, '[0-9]+', 0)")).cast("long")
            .as("n_masked"))
        // a full-width exchange: see Plans.sortedOutput
        .transform(Plans.sortedOutput(_, "event_id"))
    },

    // DISTINCTIVE TERMS per source (TF-IDF with sources as the document
    // unit): what vocabulary sets each source apart — the corpus-
    // exploration report read before weighting a mixture. tf is
    // map-side-combined token counts per (source, token); idf counts
    // sources, so universal terms vanish at ln(1) = 0. The tfidf score
    // rounds to 6 dp BEFORE the per-source ranking (the engine-stable-
    // cut rule), tiebreak on the token. Every frame after tokenize is
    // vocabulary-bounded, not row-bounded.
    Q("q_tfidf_terms",
      s"""WITH ct AS (SELECT source, unnest(${tokensDuck("text")}) AS tok
         |  FROM documents),
         |tf AS (SELECT source, tok, count(*) AS tf FROM ct GROUP BY 1, 2),
         |df AS (SELECT tok, count(DISTINCT source) AS df FROM tf GROUP BY 1),
         |ns AS (SELECT count(DISTINCT source) AS ns FROM documents),
         |sc AS (SELECT tf.source, tf.tok,
         |    round(tf.tf * ln(CAST(ns.ns AS DOUBLE) / df.df), 6) AS tfidf
         |  FROM tf JOIN df USING (tok), ns),
         |r AS (SELECT source, tok, tfidf,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY tfidf DESC, tok ASC) AS rnk
         |  FROM sc)
         |SELECT source, rnk, tok, tfidf FROM r WHERE rnk <= 3
         |ORDER BY source, rnk""".stripMargin) { (s, d) =>
      val tf = sourceTokenCounts(s, d).withColumnRenamed("c", "tf")
      val df = tf.groupBy("tok").agg(countDistinct("source").as("df"))
      val ns = Tables.documents(s, d)
        .agg(countDistinct("source").as("ns"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("tfidf"), asc("tok"))
      tf.join(df, Seq("tok"))
        .crossJoin(broadcast(ns))
        .select(col("source"), col("tok"),
          round(col("tf") * expr("ln(CAST(ns AS DOUBLE) / df)"), 6)
            .as("tfidf"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("source", "rnk", "tok", "tfidf")
        .orderBy("source", "rnk")
    }
  )
}
