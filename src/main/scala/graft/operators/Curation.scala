package graft.operators

import graft.{Plans, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end curation pipeline: the composition a 100 TB corpus actually
  * runs before training — exact dedup → near-dup cluster resolution →
  * quality rules → benchmark decontamination — with ONE first-match
  * status per document and a survival report. Every stage is an operator
  * this library already oracle-checks individually; this query proves the
  * COMPOSITION matches too (the stages share scans/postings through the
  * persisted shingle frames, so the pipeline costs barely more than its
  * most expensive stage).
  *
  * Stage order (first match wins): exact_dup (not the min-id copy of its
  * text) → near_dup (in a >= 0.5-Jaccard cluster, not the canonical
  * min-id member) → rule reject (TextOps.filterReasons' first-match
  * reason) → contaminated (>= 3 shingles shared with an eval doc) → kept.
  */
object Curation {

  /** Training-token budget for q_budget_select — sized to bite at every
    * test scale (sf0.001 carries ~6k corpus tokens, so even the smallest
    * fixture exercises the cutoff).
    */
  val TokenBudget: Long = 3000L

  /** Per-document curation status — the doc-level view the report
    * aggregates (exposed for the API facade and specs).
    */
  def statuses(s: SparkSession, d: String): DataFrame =
    // memoized + persisted per directory: the report, the per-source dup
    // rate, the kept-corpus facade and the split assignment all consume
    // the same ~|docs|-row status frame — compute it once (the
    // trained-once discipline the LM model uses)
    graft.Caches.frame(s, d, "curation-status")(statusesUncached(s, d))

  private def statusesUncached(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val keepers = docs.groupBy("text").agg(min("doc_id").as("keep_id"))
    val exactDup = docs.join(keepers, Seq("text"))
      .where(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit(1).as("is_exact"))
    val nonCanon = Dedup.clusterLabels(s, d)
      .where(col("id") =!= col("lab"))
      .select(col("id").as("doc_id"), lit(1).as("is_near"))
    val contam = Dedup.contaminatedIds(s, d)
      .select(col("doc_id"), lit(1).as("is_contam"))
    docs.select("doc_id")
      .join(exactDup, Seq("doc_id"), "left_outer")
      .join(nonCanon, Seq("doc_id"), "left_outer")
      .join(TextOps.filterReasons(s, d), Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("is_exact").isNotNull, "exact_dup")
          .when(col("is_near").isNotNull, "near_dup")
          .when(col("rule_reason") =!= "kept", col("rule_reason"))
          .when(col("is_contam").isNotNull, "contaminated")
          .otherwise("kept")
          .as("status"))
  }

  /** DuckDB CTE chain ending in `st(doc_id, status)` — the oracle half
    * of [[statuses]], shared by q_curation_report and
    * q_source_dup_rate. Requires WITH RECURSIVE (the CC fixpoint).
    */
  private val statusDuck: String =
    s"""${Dedup.ngramPairsDuck},
       |${Dedup.ccDuck},
       |noncanon AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
       |keepers AS (SELECT text, min(doc_id) AS keep_id
       |  FROM documents GROUP BY text),
       |exactdup AS (SELECT d.doc_id FROM documents d
       |  JOIN keepers k ON d.text = k.text WHERE d.doc_id <> k.keep_id),
       |${TextOps.ruleReasonDuck},
       |bench AS (SELECT doc_id AS bench_id, hsh FROM e WHERE doc_id < 10),
       |train AS (SELECT doc_id, hsh FROM e WHERE doc_id >= 10),
       |contam AS (SELECT DISTINCT doc_id FROM (
       |    SELECT t.doc_id, bn.bench_id, count(*) AS n_shared
       |    FROM train t JOIN bench bn ON t.hsh = bn.hsh
       |    GROUP BY 1, 2) o WHERE n_shared >= 3),
       |st AS (SELECT d.doc_id,
       |    CASE
       |      WHEN ed.doc_id IS NOT NULL THEN 'exact_dup'
       |      WHEN nc.doc_id IS NOT NULL THEN 'near_dup'
       |      WHEN r.rule_reason <> 'kept' THEN r.rule_reason
       |      WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
       |      ELSE 'kept' END AS status
       |  FROM documents d
       |  LEFT JOIN exactdup ed ON d.doc_id = ed.doc_id
       |  LEFT JOIN noncanon nc ON d.doc_id = nc.doc_id
       |  JOIN rr r ON d.doc_id = r.doc_id
       |  LEFT JOIN contam ct ON d.doc_id = ct.doc_id)""".stripMargin

  val entries: Seq[Q] = Seq(
    Q("q_curation_report",
      s"""WITH RECURSIVE $statusDuck
         |SELECT status, count(*) AS n_docs
         |FROM st GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      statuses(s, d)
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("status")
    },

    // PER-SOURCE DUPLICATION RATE: the crawl-ops dashboard number — which
    // sources are feeding the corpus copies. Same status chain as the
    // curation report, rolled up by source with the dup share (exact +
    // near) as the headline ratio; a source whose dup_rate climbs
    // release-over-release is re-crawling itself.
    Q("q_source_dup_rate",
      s"""WITH RECURSIVE $statusDuck
         |SELECT d.source, count(*) AS n_docs,
         |  count(CASE WHEN st.status IN ('exact_dup', 'near_dup')
         |    THEN 1 END) AS n_dup,
         |  round(CAST(count(CASE WHEN st.status IN ('exact_dup', 'near_dup')
         |    THEN 1 END) AS DOUBLE) / count(*), 6) AS dup_rate
         |FROM st JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val dup = count(when(col("status").isin("exact_dup", "near_dup"), 1))
      statuses(s, d)
        .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), dup.as("n_dup"),
          round(dup.cast("double") / count(lit(1)), 6).as("dup_rate"))
        .orderBy("source")
    },

    // Sequence packing — the concat-and-chunk step that turns curated
    // documents into fixed-token-budget training sequences: concatenate
    // docs in deterministic (source, doc_id) order, then chunk the token
    // stream every `budget` tokens; each doc lands at (seq_id, offset) =
    // (start DIV budget, start MOD budget). Shape: ONE running-sum window
    // per source — sources are independent shards, so on a cluster each
    // packs in parallel and no global order exists (at 100 TB the
    // partition key would be (source, day-shard) to bound any one
    // window's run; the math is unchanged). All-integer arithmetic —
    // bit-exact cross-engine.
    Q("q_pack_sequences",
      s"""WITH t AS (SELECT doc_id, source,
         |    len(${graft.functions.TextHash.tokensDuck("text")})::BIGINT AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |      AS start_tok
         |  FROM t)
         |SELECT doc_id, source, n_tokens, start_tok,
         |  start_tok // 256 AS seq_id, start_tok % 256 AS seq_offset
         |FROM c ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(expr(graft.functions.TextHash.tokensSpark("text")))
            .cast("long").as("n_tokens"))
        .withColumn("start_tok", coalesce(sum("n_tokens").over(w), lit(0L)))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("start_tok"),
          expr("start_tok DIV 256").as("seq_id"),
          (col("start_tok") % 256).as("seq_offset"))
        .orderBy("source", "doc_id")
    },

    // TOKEN-BUDGET SELECTION: fill a fixed training-token budget with the
    // best documents — rank by lexical diversity (distinct-token count,
    // integer → exact cross-engine), take docs while the running token
    // total stays inside the budget. The running sum over a GLOBAL order
    // is a distributed prefix sum (Plans.runningSum), so the same plan
    // runs a 500-doc gate and a 100 TB corpus. (The oracle states the
    // semantics directly as one ordered window.)
    Q("q_budget_select",
      s"""WITH t AS (SELECT doc_id,
         |    ${graft.functions.TextHash.tokensDuck("text")} AS toks
         |  FROM documents),
         |m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    len(list_distinct(toks))::BIGINT AS diversity FROM t),
         |c AS (SELECT doc_id, diversity, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY diversity DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM m)
         |SELECT doc_id, diversity, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= $TokenBudget
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val m = Tables.documents(s, d)
        .select(col("doc_id"),
          expr(graft.functions.TextHash.tokensSpark("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("diversity"))
      val (cum, _) = Plans.runningSum(s, d, "budget-parts", m,
        Seq(desc("diversity"), asc("doc_id")), col("n_tokens"), "cum_tokens")
      cum.where(col("cum_tokens") <= TokenBudget)
        .select("doc_id", "diversity", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    },

    // Quantile-trim report — the outlier-trimming curation rule (drop the
    // shortest/longest tails per source before training): exact
    // interpolated P05/P95 of n_chars per source, then band counts.
    // percentile() is an exact sort-based aggregate whose per-group state
    // is the group's (value → count) map — bounded by the length domain,
    // not the row count; at 100 TB swap for approx_percentile and keep
    // the identical report shape. Percentiles are round(·, 6) BEFORE the
    // band compare so both engines flag against the same constant.
    Q("q_quantile_trim",
      """WITH q AS (SELECT source,
        |    round(quantile_cont(n_chars, 0.05), 6) AS p05,
        |    round(quantile_cont(n_chars, 0.95), 6) AS p95
        |  FROM documents GROUP BY 1)
        |SELECT d.source, q.p05, q.p95,
        |  sum(CASE WHEN d.n_chars < q.p05 THEN 1 ELSE 0 END)::BIGINT AS n_low,
        |  sum(CASE WHEN d.n_chars > q.p95 THEN 1 ELSE 0 END)::BIGINT AS n_high,
        |  sum(CASE WHEN d.n_chars BETWEEN q.p05 AND q.p95 THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM documents d JOIN q USING (source)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin) { (s, d) =>
      val q = Tables.documents(s, d)
        .groupBy("source")
        .agg(expr("round(percentile(n_chars, 0.05), 6)").as("p05"),
          expr("round(percentile(n_chars, 0.95), 6)").as("p95"))
      Tables.documents(s, d)
        .join(broadcast(q), Seq("source"))
        .groupBy("source", "p05", "p95")
        .agg(sum(when(col("n_chars") < col("p05"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("n_chars") > col("p95"), 1L).otherwise(0L)).as("n_high"),
          sum(when(col("n_chars").between(col("p05"), col("p95")), 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy("source")
    },

    // Leakage-safe train/val/test assignment: every member of a near-dup
    // cluster gets the SAME split — assigning by raw doc_id hash leaks
    // near-copies of val/test docs into train, the classic contamination
    // bug a naive 90/5/5 split ships. The split key is the cluster
    // representative (connected-components label; singletons represent
    // themselves), so the decision is one deterministic integer per
    // GROUP, not per doc. Shape: the cluster labels are the persisted
    // fixpoint frame q_dedup_cluster already built; assignment is a
    // left join + map-only CASE — no new shuffle beyond the label join.
    Q("q_split_assign",
      s"""WITH RECURSIVE ${Dedup.ngramPairsDuck},
         |${Dedup.ccDuck}
         |SELECT d.doc_id,
         |  COALESCE(cc.cluster_id, d.doc_id) AS group_id,
         |  CASE COALESCE(cc.cluster_id, d.doc_id) % 10
         |    WHEN 8 THEN 'val' WHEN 9 THEN 'test' ELSE 'train' END AS split
         |FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val labels = Dedup.clusterLabels(s, d)
        .select(col("id").as("doc_id"), col("lab"))
      Tables.documents(s, d).select("doc_id")
        .join(labels, Seq("doc_id"), "left_outer")
        .withColumn("group_id", coalesce(col("lab"), col("doc_id")))
        .select(col("doc_id"), col("group_id"),
          when(col("group_id") % 10 === 8, "val")
            .when(col("group_id") % 10 === 9, "test")
            .otherwise("train").as("split"))
        .orderBy("doc_id")
    },

    // Cross-source duplication overlap: near-dup pair counts per
    // (source, source) cell — the provenance diagnostic that decides
    // which sources to drop or down-weight before mixing (a web-dump
    // source that heavily overlaps a curated one contributes mostly
    // duplicates). Sources are ordered canonically (least/greatest) so
    // A↔B and B↔A land in one cell. max(jaccard) not avg: max is
    // order-free and exact cross-engine; a float avg's summation order
    // is not. Shape: the pair frame is the same inverted-index join the
    // dedup queries share; the doc→source map joins once per side.
    Q("q_source_overlap",
      s"""WITH ${Dedup.ngramPairsDuck},
         |m AS (SELECT doc_id, source FROM documents)
         |SELECT least(x.source, y.source) AS source_a,
         |  greatest(x.source, y.source) AS source_b,
         |  count(*) AS n_pairs, max(p.jaccard) AS max_jaccard
         |FROM pairs p
         |JOIN m x ON p.a_id = x.doc_id
         |JOIN m y ON p.b_id = y.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val m = Tables.documents(s, d).select(col("doc_id"), col("source"))
      Dedup.ngramPairs(s, d)
        .join(m.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
        .join(m.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
        .orderBy("source_a", "source_b")
    },

    // SHARD BALANCE AUDIT: deterministic hash-shard assignment (the
    // training-output write layout — shard = h(doc_id) mod 16) plus the
    // per-shard row/char balance report a data engineer reads before
    // committing the layout. The hash is the sampling family's exact
    // int64 multiplicative hash, so assignment is engine- and
    // cluster-size-independent: the same doc lands in the same shard on
    // 32 cores or 1000 executors, which is what makes reshard-free
    // incremental appends possible. One aggregation shuffle on the
    // 16-value shard key; the grand total rides a window over the
    // 16-row aggregate, not the input.
    Q("q_shard_balance",
      """WITH a AS (SELECT
        |    (((doc_id % 1000000007) * 2654435761) % 1000000007) % 16
        |      AS shard, n_chars
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS frac
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(expr(
          "(((doc_id % 1000000007) * 2654435761) % 1000000007) % 16")
          .as("shard"),
          col("n_chars"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("frac", round(col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy()), 6))
        .orderBy("shard")
    }
  )
}
