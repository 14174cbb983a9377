package graft

/** Physical-plan regression net: plans every registered query (no
  * execution) and asserts the join-strategy invariants the per-round
  * explain audits established. A future edit that silently degrades a
  * broadcast-able join into a cartesian — or grows a new nested-loop join
  * outside the audited set — fails here, not in the next round's bench.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin —
    * every one is a cross against a BROADCAST side that is one row (model
    * betas, histogram bounds, share-of-total totals, the similarity
    * target) or bounded by a tiny domain (the ANN query set, the
    * pre-aggregated date-interval side). Map-only at any scale.
    */
  private val allowedBnl = Set(
    "q_ann_brute", // broadcast ≤10-row query set over the corpus
    "q_ann_quantized", // same broadcast query-set shape, int8 payload
    "q_hard_negatives", // same broadcast ≤10-row query set, label-filtered
    "q_ann_rerank", // same broadcast ≤10-row query set (coarse stage)
    "q_ann_recall", // same broadcast ≤10-row query set (ground-truth stage)
    "q_ann_ndcg", // same broadcast ≤10-row query set (graded eval)
    "q_ivf_recall", // same broadcast ≤10-row query set (IVF eval)
    "q_ivfpq_recall", // same ≤10-row query set + K=4 centroid broadcast
    "q_cluster_purity", // 4-row centroid cross join inside kmeansAssign
    "q_ivfpq_index", // same K=4 centroid cross inside kmeansAssign
    "q_tfidf_terms", // 1-row source-count broadcast onto the tf frame
    "q_label_scatter", // broadcast label-count-bounded centroid rows (4)
    "q_bm25_rank", // 1-row corpus statistics (N, avgdl, per-term df)
    "q_dedup_ngram_fcapped", // 1-row corpus size N onto the shingle-df frame
    "q_mm_dedup_capped", // 1-row corpus size N onto the chunk-df frame
    "q_boilerplate", // same frame: 1-row corpus size N onto the shingle-df
    "q_text_lm_score", // 1-row vocabulary size broadcast
    "q_text_lm_topk", // same 1-row vocabulary-size broadcast
    "q_curriculum", // same 1-row vocabulary-size broadcast (via lmScores)
    "q_hybrid_rank", // 1-row dense query vector broadcast
    // (q_event_funnel left this set in r17: the single-pass window rewrite
    // computes all stage counts in one aggregate — no cross join remains)
    "q_rolling_actives", // day-domain-bounded (≤ |days| rows) range probe
    "q_dsir_weight", // same 1-row vocabulary-size broadcast
    "q_sample_mixture", // 1-row total-T broadcast onto per-domain counts
    "q_mixture_temperature", // 1-row Σ√n and total-T onto per-source rows
    "q_skew_report", // 1-row global skew stats onto the top-k keys
    "q_heat_cost", // 1-row fitted betas
    "q_heat_model", // 1-row fitted betas
    "q_histogram", // 1-row min/max bounds
    "q_interval_join", // right side pre-aggregated to the date domain
    "q_ivf_train", // broadcast K=4 centroid rows per Lloyd iteration
    "q_kl_drift", // 1-row corpus token total onto vocab-bounded terms
    "q_ann_ivf_trained", // same K=4 centroid broadcast via kmeansAssign
    "q_ann_ivfpq", // same K=4 centroid broadcast via kmeansAssign
    "q_semdedup", // same K=4 centroid broadcast via kmeansAssign
    "q_similarity_score", // 1-row target
    "q_type_distribution", // 1-row total
    "q_vocab_growth", // 1-row max-doc-id onto the token-first-doc rows
    "q_vocab_zipf", // 1-row corpus token total onto the top-50 rows
    "q_zone_distribution") // 1-row total

  test("eventsInRange pushes its time bounds into the parquet scan") {
    // the bounds must hit the RAW stored column (TIMESTAMP_NTZ today) so
    // the scan prunes row groups — a filter on the normalized column is
    // per-row compute and at 100 TB a full stream-table scan per query
    val df = Tables.eventsInRange(spark, sfDir,
      "2024-01-02 00:00:00", "2024-01-03 00:00:00")
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(ts") &&
      pushed.contains("LessThan(ts"), s"PushedFilters: $pushed")
  }

  test("date-partitioned events layout: range queries prune day directories") {
    // The pruning seam (Tables.eventsInRange derived partition predicate)
    // against the layout ScaleUp writes: a 1-day range over a
    // multi-day partitioned log must (a) plan non-empty PartitionFilters,
    // (b) actually READ only that day's files, (c) return byte-identical
    // rows to the flat layout, (d) present the flat 6-column schema, and
    // (e) leave q_time_range_stats, which rides the seam, unchanged.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-prune-").toFile
    try {
      val out = s"${dir.getAbsolutePath}/events.parquet"
      spark.read.parquet(s"$sfDir/events.parquet")
        .withColumn(Tables.EventsPartCol, to_date(col("ts")))
        .repartition(col(Tables.EventsPartCol))
        .write.partitionBy(Tables.EventsPartCol).parquet(out)
      val totalDays = spark.read.parquet(out)
        .select(Tables.EventsPartCol).distinct().count()
      assert(totalDays > 1, "fixture must span multiple days to prune")
      val ranged = Tables.eventsInRange(spark, dir.getAbsolutePath,
        "2024-01-02 00:00:00", "2024-01-03 00:00:00")
      assert(ranged.columns.toSeq ==
        Tables.events(spark, sfDir).columns.toSeq,
        "partitioned layout must present the flat events schema")
      val rows = ranged.collect() // execute so scan metrics are final
      val scan = ranged.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      val pf = scan.metadata.getOrElse("PartitionFilters", "")
      assert(pf.contains(Tables.EventsPartCol), s"PartitionFilters: $pf")
      // one in-range day out of totalDays: the scan may list at most the
      // files of that single day directory (repartition above wrote 1)
      val totalFiles = spark.read.parquet(out).inputFiles.length
      val readFiles = scan.metrics("numFiles").value
      assert(readFiles < totalFiles && readFiles >= 1,
        s"pruning read $readFiles of $totalFiles files")
      val flat = Tables.eventsInRange(spark, sfDir,
        "2024-01-02 00:00:00", "2024-01-03 00:00:00").collect()
      assert(rows.map(_.toString).sorted.toSeq ==
        flat.map(_.toString).sorted.toSeq,
        "partitioned and flat layouts must return identical rows")
      // avg/stddev are unordered double sums and the layouts feed rows in
      // a different order: floats at the oracle's 1e-6 relative, the
      // count exact
      val Seq(qp, qf) = Seq(dir.getAbsolutePath, sfDir).map(d =>
        SparkEntry.queries("q_time_range_stats")(spark, d).collect().toSeq)
      assert(qp.length === qf.length && qf.head.getAs[Long]("n_rows") > 0)
      qp.zip(qf).foreach { case (a, b) =>
        (0 until a.length).foreach { i =>
          (a.get(i), b.get(i)) match {
            case (x: Double, y: Double) =>
              assert(math.abs(x - y) <=
                1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y))), s"$a vs $b")
            case (x, y) => assert(x === y, s"$a vs $b")
          }
        }
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  /** Queries whose plan legitimately contains an UNPARTITIONED window —
    * the classic 100 TB killer (all rows to one task), acceptable ONLY
    * when the frame under the window is provably domain-bounded, never
    * data-bounded. Every entry names its bound. (q_curriculum used to be
    * here with a row-bounded ntile; it now uses the distributed
    * prefix-sum rank, so a regression would fail this test.)
    */
  private val allowedGlobalWindow: Set[String] = Set(
    "q_user_growth", // cumsum over the |days| growth curve (day domain)
    "q_vocab_growth", // cumsum over exactly 10 decile rows
    "q_vocab_zipf", // rank over the post-limit top-50 token rows
    "q_bm25_rank", // row_number over the post-limit top-20 scored docs
    "q_hybrid_rank", // RRF rank over two post-limit top-20 ranked lists
    "q_shard_balance", // share-of-total over the 16-row shard aggregate
    "q_skew_report", // rank over the top-10 key rows + 1-row global stats
    "q_sample_weighted") // row_number over the post-limit top-50 A-ES keys

  test("unpartitioned windows only over provably domain-bounded frames") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val hasGlobal = fn(spark, sfDir).queryExecution.sparkPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.nonEmpty
        if (hasGlobal) Some(name) else None
    }.toSet
    val unaudited = offenders -- allowedGlobalWindow
    assert(unaudited.isEmpty,
      s"unaudited global window in: $unaudited — prove the frame is " +
        "domain-bounded (not row-bounded) and extend allowedGlobalWindow")
    val stale = allowedGlobalWindow -- offenders
    assert(stale.isEmpty,
      s"allowedGlobalWindow entries with no global window left: $stale")
  }

  test("column pruning: payload columns never reach scans that don't need them") {
    // `text` is the corpus's widest column and `props` the events blob —
    // a scan that reads them for a metadata-only query is a full-payload
    // read at 100 TB. Representative metadata-only queries per table:
    val noText = Seq("q_shard_balance", "q_quantile_trim", "q_source_overlap")
    val noProps = Seq("q_user_growth", "q_sessionize", "q_event_transitions")
    def readSchemas(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.requiredSchema.fieldNames.toSeq }.flatten
    noText.foreach { q =>
      assert(!readSchemas(q).contains("text"), s"$q scans documents.text")
    }
    noProps.foreach { q =>
      assert(!readSchemas(q).contains("props"), s"$q scans events.props")
    }
  }

  test("shuffle-count budget: plans don't grow shuffles unannounced") {
    // The BNL/window nets catch strategy regressions; this catches the
    // quieter "one more repartition/groupBy" class: every query's
    // ShuffleExchange count (initial physical plan, pre-AQE) is pinned in
    // a committed budget file. An INTENTIONAL plan change re-records via
    //   SHUFFLE_BUDGET_RECORD=1 sbt "testOnly graft.PlanAuditSpec"
    // and the diff lands in review like any other code change.
    val path = java.nio.file.Paths.get("src/test/resources/shuffle_budget.tsv")
    // Counted in the WARM cache state — the state Bench times and a
    // long-lived session converges to (observed: 11 queries lose 1-2
    // shuffles when another suite has executed the shared frames first).
    val counts = ShuffleCount.counts(spark, sfDir)
    val rendered = counts.map { case (n, c) => s"$n\t$c" }
      .mkString("", "\n", "\n")
    if (!java.nio.file.Files.exists(path) ||
        sys.env.contains("SHUFFLE_BUDGET_RECORD")) {
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.writeString(path, rendered)
      fail(s"shuffle budget (re)recorded to $path — review the diff and commit")
    }
    val budget = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(path)).asScala
      .filter(_.nonEmpty)
      .map { l => val Array(n, c) = l.split("\t"); n -> c.toInt }.toMap
    val drift = counts.collect {
      case (n, c) if budget.get(n) != Some(c) =>
        s"$n: ${budget.get(n).fold("absent")(_.toString)} -> $c"
    }
    assert(drift.isEmpty,
      s"shuffle-count drift (budget vs plan): ${drift.mkString("; ")} — if " +
        "intentional, re-record with SHUFFLE_BUDGET_RECORD=1 and commit")
    val stale = budget.keySet -- counts.map(_._1).toSet
    assert(stale.isEmpty, s"budget entries for deleted queries: $stale")
  }

  test("no cartesian products; nested-loop joins only in the audited set") {
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.sparkPlan.toString
    }
    val cartesian = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(cartesian.isEmpty, s"cartesian product in: $cartesian")
    val bnl = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") => n
    }.toSet
    val unaudited = bnl -- allowedBnl
    assert(unaudited.isEmpty,
      s"unaudited BroadcastNestedLoopJoin in: $unaudited — audit the plan " +
        "and extend allowedBnl only if the build side is provably tiny")
    // the allowlist must not go stale either: every entry still has a BNL
    val stale = allowedBnl -- bnl
    assert(stale.isEmpty,
      s"allowedBnl entries whose plan no longer has a BNL: $stale")
  }

  test("blessed scale-flip files stay well-formed and non-stale") {
    // The scale-aware gate (runMain graft.ShuffleCount <scaleDir>
    // budget.tsv blessed.tsv) enforces the counts against live plans at
    // scale; this cheap hygiene net guards the blessed FILES themselves:
    // every entry must name a registered query, carry a pinned count and
    // a reason, and actually DIFFER from the test-scale budget (an entry
    // equal to the budget is a flip that no longer exists — stale
    // blessing that would mask a future regression to that count).
    val budget = scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("src/test/resources/shuffle_budget.tsv")))
      .asScala.filter(_.nonEmpty)
      .map { l => val Array(n, c) = l.split("\t"); n -> c.toInt }.toMap
    val blessedFiles = Seq("shuffle_blessed_sf1.tsv", "shuffle_blessed_sf2.tsv",
      "shuffle_blessed_sf10.tsv")
      .map(f => java.nio.file.Paths.get(s"src/test/resources/$f"))
    blessedFiles.foreach { blessedPath =>
      assert(java.nio.file.Files.exists(blessedPath), s"$blessedPath missing")
      val blessed = scala.jdk.CollectionConverters
        .ListHasAsScala(java.nio.file.Files.readAllLines(blessedPath)).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val a = l.split("\t")
          assert(a.length == 3 && a(2).trim.nonEmpty,
            s"$blessedPath row needs query\\tcount\\treason: $l")
          a(0) -> a(1).toInt
        }
      assert(blessed.nonEmpty)
      blessed.foreach { case (q, c) =>
        assert(SparkEntry.queries.contains(q),
          s"$blessedPath blesses unknown query $q")
        assert(budget.contains(q), s"$blessedPath: $q missing from the budget")
        assert(budget(q) != c,
          s"$blessedPath: $q pins $c == its test-scale budget — stale entry")
      }
    }
  }
}
