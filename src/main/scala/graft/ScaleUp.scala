package graft

import org.apache.spark.sql.functions._

/** Deterministic ×N replica generator for scale-stress runs: reads an
  * sf directory and writes `outDir` with every FACT table replicated
  * `factor` times under disjoint entity-key ranges, dims kept single-copy.
  *
  * `runMain graft.ScaleUp <inDir> <outDir> <factor>`
  *
  * Replica i adds `i * KeyOffset` to every entity key (order, customer,
  * part, supplier, event, user, doc, vec) — referential integrity is
  * preserved WITHIN a replica because every fact's foreign keys shift by
  * the same offset as the dimension they reference. nation/region stay
  * un-replicated (fixed 25/5-row dims, like the real TPC-H scale rule),
  * so each replica's customers/suppliers land on the same nations —
  * which also means nation-grouped results grow in ROWS-PER-GROUP, not
  * group count, the shape a 10× corpus actually has.
  *
  * Payload columns (text, embeddings, timestamps, measures) are NOT
  * mutated: replicas are exact content clones under fresh ids. That is
  * deliberate — it reproduces the dominant artifact of real web-scale
  * corpora (exact and near duplicates at ~10× multiplicity) and turns
  * the dedup tier into a genuine stress test: every doc gains a
  * C(factor,2)-pair clone family, shingle document frequencies multiply
  * by `factor`, and the df-cap / LSH-band bounds have to hold the
  * candidate-pair volume down exactly as they would at 100 TB.
  *
  * The job is all-narrow (union of per-replica projections, no shuffle,
  * no collect) — at cluster scale this same plan fans out as `factor`
  * map-only read-write waves.
  */
object ScaleUp {
  /** Larger than every key in the shipped testdata (max observed 149 999
    * at sf0.1) by two orders of magnitude, and small enough that
    * factor·offset stays far below 2^53 (doubles in the oracle) and any
    * hash/bucket arithmetic downstream.
    */
  val KeyOffset = 10000000L

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val dims = Seq("region", "nation")

  /** SCALEUP_ZIPF=1: Zipf-skewed clone multiplicity for the three
    * self-contained tables (documents / embeddings / events-by-USER) —
    * entity at rank r (ascending key) gets m(r) = clamp(round(A/r), 1,
    * cap) clones, A solved so Σ m(r) ≈ factor·N (same total rows as the
    * uniform rung, same key algebra: replica i shifts keys by
    * i·KeyOffset). This produces the one 100 TB failure mode uniform
    * clones cannot: a few entities at cap-multiplicity (huge dup
    * families, hot user keys) and a long tail at multiplicity 1 —
    * stressing delegate collapse, df-caps and salted joins under real
    * skew. TPC-H fact tables stay uniform ×factor even under ZIPF: their
    * FK web (lineitem → orders/part/supplier) needs replica i of every
    * referenced dim to exist, which only uniform multiplicity guarantees.
    * cap defaults to 10·factor (SCALEUP_ZIPF_CAP overrides): deep enough
    * for genuine skew, bounded so the clone-family pair blowup (C(m,2)
    * per family) stays polynomially sane for the dedup tier.
    */
  private val zipfEntity: Map[String, String] = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "user_id")

  /** Solve A so Σ_r clamp(round(A/r), 1, cap) · w_r ≈ factor · Σ_r w_r
    * (binary search on the driver — one weight per ENTITY, ≤ ~1e6 at the
    * base sf this generator reads). Weights are the entity's base ROW
    * counts: for per-row tables (documents, embeddings) all weights are
    * 1, but events replicate per USER, whose base event counts are
    * themselves skewed — an unweighted solve would miss the row target
    * by whatever that skew is (measured 1.66× instead of 10× at sf0.1).
    */
  private[graft] def solveZipfA(weights: Array[Long], factor: Int,
      cap: Int): Double = {
    val n = weights.length
    def total(a: Double): Long = {
      var s = 0L; var r = 0
      while (r < n) {
        s += math.min(cap.toLong, math.max(1L, math.round(a / (r + 1)))) *
          weights(r)
        r += 1
      }
      s
    }
    val want = factor.toLong * weights.sum
    var lo = 1.0
    var hi = cap.toDouble * n
    var i = 0
    while (i < 60 && hi - lo > 1e-6 * hi) {
      val mid = (lo + hi) / 2
      if (total(mid) < want) lo = mid else hi = mid
      i += 1
    }
    (lo + hi) / 2
  }

  private[graft] def solveZipfA(n: Long, factor: Int, cap: Int): Double =
    solveZipfA(Array.fill(n.toInt)(1L), factor, cap)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <inDir> <outDir> <factor>")
    val Array(inDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = GraftSession.build("graft-scaleup")
    spark.sparkContext.setLogLevel("WARN")
    dims.foreach { t =>
      spark.read.parquet(s"$inDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    keyCols.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$inDir/$t.parquet")
      // Fail fast if any base key reaches KeyOffset: replica key ranges
      // would overlap and silently MERGE key families across replicas —
      // corrupted referential integrity with no error anywhere downstream.
      // One tiny agg per table (runs once, before the replication write).
      val maxes = base.select(keys.map(k => max(col(k)).as(k)): _*).head()
      keys.zipWithIndex.foreach { case (k, idx) =>
        val m = Option(maxes.getAs[Number](idx)).fold(0L)(_.longValue)
        require(m < KeyOffset,
          s"ScaleUp: $t.$k max key $m >= KeyOffset $KeyOffset — replica " +
            "ranges would collide; raise KeyOffset or shrink the base")
      }
      val zipf = sys.env.get("SCALEUP_ZIPF").exists(_ == "1") &&
        zipfEntity.contains(t)
      val replicated = if (zipf) {
        val entity = zipfEntity(t)
        val cap = sys.env.get("SCALEUP_ZIPF_CAP").map(_.toInt)
          .getOrElse(10 * factor)
        // cap < factor makes the ×factor row target unreachable (max total
        // = cap·Σw < factor·Σw): the binary search would converge to its
        // ceiling and the run would proceed with an under-scaled corpus,
        // visible only in a stderr line (r15 ADVICE). Fail instead.
        require(cap >= factor,
          s"ScaleUp: SCALEUP_ZIPF_CAP=$cap < factor $factor — the row " +
            "target factor·N is unreachable under this cap")
        // entity ROW counts in ascending-key order: the solve is weighted
        // so the SCALED ROW total lands on factor x the base rows even
        // when rows-per-entity are themselves skewed (events). Collect is
        // one row per ENTITY (≤ ~1e6 at the base sf) — generator-only.
        val entRows = base.groupBy(col(entity)).count()
          .orderBy(col(entity)).collect()
        val weights = entRows.map(_.getLong(1))
        val a = solveZipfA(weights, factor, cap)
        val spark2 = base.sparkSession
        import spark2.implicits._
        val ms = weights.indices.map(i =>
          math.min(cap.toLong, math.max(1L, math.round(a / (i + 1)))).toInt)
        val mult = entRows.toSeq.zip(ms).map { case (r, m) =>
          (r.getAs[Number](0).longValue, m)
        }.toDF(entity, "__m")
        val got = ms.zip(weights).map { case (m, w) => m.toLong * w }.sum
        val want = factor * weights.sum
        // ScaleUpZipfSpec asserts the scaled total lands within 1% of
        // factor·N; enforce the same bound here so a degenerate solve
        // (step-quantized total at tiny entity counts, cap pressure) fails
        // the generator rather than shipping an off-target corpus.
        require(math.abs(got - want) <= 0.01 * want,
          s"ScaleUp: $t zipf solve landed $got rows vs target $want " +
            "(>1% off) — raise SCALEUP_ZIPF_CAP or inspect the weights")
        System.err.println(s"[scaleup] $t zipf: ${weights.length} entities, " +
          s"A=${a.round}, cap=$cap, scaled rows $got " +
          s"(uniform target $want)")
        base.join(broadcast(mult), Seq(entity))
          .withColumn("__i",
            explode(sequence(lit(0), col("__m") - 1)))
          .transform { df =>
            keys.foldLeft(df) { (d, k) =>
              d.withColumn(k, col(k) + col("__i").cast("long") * lit(KeyOffset))
            }
          }
          .drop("__i", "__m")
          .select(base.columns.map(col): _*) // original column order
      } else (0 until factor).map { i =>
        keys.foldLeft(base) { (df, k) =>
          // `+ lit(long)` keeps the column's LongType; dims' INTEGER
          // nation keys are never offset so no widening anywhere
          df.withColumn(k, col(k) + lit(i * KeyOffset))
        }
      }.reduce(_ unionAll _)
      // Events is the stream table, and a 100 TB stream table IS
      // date-partitioned — so the replicas are too: every date-range
      // query at every scale rung exercises partition pruning
      // (PlanAuditSpec pins the pruning and the flat-layout parity).
      // Tables presents the identical flat schema either way, and
      // eventsInRange derives the PartitionFilters. One repartition(date)
      // shuffle for this table only — one file per day dir, tight ts
      // row-group stats via the within-partition sort.
      if (t == "events") {
        replicated
          .withColumn(Tables.EventsPartCol, to_date(col("ts")))
          .repartition(col(Tables.EventsPartCol))
          .sortWithinPartitions("ts")
          .write.mode("overwrite")
          .partitionBy(Tables.EventsPartCol)
          .parquet(s"$outDir/$t.parquet")
        System.err.println(s"[scaleup] $t x$factor written (date-partitioned)")
      } else {
        replicated.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
        System.err.println(s"[scaleup] $t x$factor written")
      }
    }
    spark.stop()
  }
}
