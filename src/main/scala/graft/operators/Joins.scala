package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Join operators (SURVEY.md §2.3).
  *
  * Covers the reference's join surface: plain equi joins
  * (db_reader.py:431-443, readers/fitness_curve.py:58-67), left-outer +
  * count-distinct + having (readers/performance.py:164-181), semi joins
  * (fitness_assessor.py:226-237), as-of / nearest-neighbour temporal joins
  * (analysis/running_economy.py:115-196, readers/physiology.py:193-219),
  * interval-containment joins (physiology.py:269-311), and top-k similarity
  * candidate selection (rag/queries/comparisons.py:205-267).
  *
  * Scale notes: the as-of/nearest
  * joins are the union-tag formulation — tag both sides, hash-partition by
  * the join key, sort by (ts, side, tiebreak) within partitions, and carry
  * the most recent right payload forward with
  * `last(struct, ignoreNulls) OVER (... ROWS UNBOUNDED PRECEDING)`. ONE
  * shuffle, no broadcast of a side that grows with the data, no join blowup
  * — the plan that survives two large sides at 100 TB (it is exactly the
  * streaming as-of shape). Interval joins use a broadcast of a
  * pre-aggregated interval side bounded by the date domain; Catalyst plans
  * a BroadcastNestedLoop which is right at that size.
  */
object Joins {

  /** Internal: tag and align the two sides of a temporal join for the
    * union-window formulation. Returns (unioned, leftCols, rightCols); the
    * unioned frame has _k (join key), _ts (timestamp, coerced), _tb (right
    * tiebreak, null on left rows), _side (0=right, 1=left), _r (right row
    * struct incl. `__rts`, null on left rows), _l (left row struct).
    */
  private def tagUnion(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTs: String, rightTs: String,
      rightTiebreak: String): DataFrame = {
    // Payload hygiene at the ONE exchange this formulation pays: the row
    // structs omit each side's key and ts columns — they already ride
    // once as _k / _ts / __rts and are reconstructed exactly at [[unpack]]
    // (key by join equality, ts by a lossless round-trip cast). Every
    // byte in the struct is carried through the shuffle AND buffered by
    // the window sort, so the duplicate key+ts fields were pure spill
    // pressure at constrained heap and pure network at cluster scale
    // (8 GiB sf10 rung, q_nearest_join + q_asof_backward pair: disk
    // spill 589 -> 534 MB, GC 58.4 -> 27.4 s, wall 19.6 -> 14.5 s,
    // identical oracle output on all three consuming queries).
    val rPayload = payloadCols(right, rightKey, rightTs)
    val lPayload = payloadCols(left, leftKey, leftTs)
    val r = right.select(
      col(rightKey).as("_k"),
      col(rightTs).cast("timestamp").as("_ts"),
      col(rightTiebreak).as("_tb"),
      lit(0).as("_side"),
      struct(rPayload.map(col) :+
        col(rightTs).cast("timestamp").as("__rts"): _*).as("_r"),
      lit(null).cast(StructType(
        lPayload.map(c => left.schema(c)).toArray)).as("_l"))
    val l = left.select(
      col(leftKey).as("_k"),
      col(leftTs).cast("timestamp").as("_ts"),
      lit(null).cast(right.schema(rightTiebreak).dataType).as("_tb"),
      lit(1).as("_side"),
      lit(null).cast(r.schema("_r").dataType).as("_r"),
      struct(lPayload.map(col): _*).as("_l"))
    r.unionByName(l)
  }

  /** A side's struct payload: everything except its key/ts columns —
    * falling back to the key when nothing else remains (a zero-field
    * struct row is not representable).
    */
  private def payloadCols(df: DataFrame, key: String, ts: String)
      : Seq[String] = {
    val p = df.columns.toSeq.filter(c => c != key && c != ts)
    if (p.nonEmpty) p else Seq(key)
  }

  /** Rebuild each side's full column set on the surviving LEFT rows: left
    * key/ts come back from the row's own _k/_ts, the matched right row's
    * key from _k (the join is key-EQUAL, so the value is shared) and its
    * ts from the struct's __rts; every cast round-trips losslessly
    * (timestamp↔date at midnight, session-zoned timestamps identically).
    */
  private def unpack(df: DataFrame, left: DataFrame, right: DataFrame,
      matchCol: String, leftKey: String, leftTs: String, rightKey: String,
      rightTs: String, extra: Seq[Column] = Nil): DataFrame = {
    val lPayload = payloadCols(left, leftKey, leftTs).toSet
    val rPayload = payloadCols(right, rightKey, rightTs).toSet
    df.select(left.columns.toSeq.map {
      case c if !lPayload(c) && c == leftKey =>
        col("_k").cast(left.schema(c).dataType).as(c)
      case c if c == leftTs =>
        col("_ts").cast(left.schema(c).dataType).as(c)
      case c => col(s"_l.$c").as(c)
    } ++ right.columns.toSeq.map {
      case c if !rPayload(c) && c == rightKey =>
        col("_k").cast(right.schema(c).dataType).as(c)
      case c if c == rightTs =>
        col(s"$matchCol.__rts").cast(right.schema(c).dataType).as(c)
      case c => col(s"$matchCol.$c").as(c)
    } ++ extra: _*)
  }

  /** As-of backward join: for each left row, the single most recent right
    * row with rightTs <= leftTs and equal key. Deterministic tiebreak on
    * `rightTiebreak` descending. Left rows with no preceding right row are
    * dropped (inner semantics, matching the reference).
    *
    * `leftTs`/`rightTs` must be TIMESTAMP (or date) columns: the union
    * tag casts them to timestamp, and a numeric epoch-micros column cast
    * to timestamp is read as SECONDS — large epochs overflow the internal
    * micros long and scramble the order (observed, not hypothetical).
    *
    * Exact duplicates on the left survive (each is its own union row); a
    * dedup window partitioned by all left columns would silently drop
    * them.
    */
  def asofBackward(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTs: String, rightTs: String,
      rightTiebreak: String): DataFrame = {
    val u = tagUnion(left, right, leftKey, rightKey, leftTs, rightTs,
      rightTiebreak)
    // sort: right rows before left rows at equal ts (<= is inclusive);
    // ascending tiebreak so `last` picks the max-tiebreak right row.
    val w = Window.partitionBy("_k")
      .orderBy(col("_ts").asc, col("_side").asc, col("_tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u.withColumn("_m", last("_r", ignoreNulls = true).over(w))
      .where(col("_side") === 1 && col("_m").isNotNull)
    unpack(matched, left, right, "_m", leftKey, leftTs,
      rightKey, rightTs)
  }

  /** Nearest-neighbour temporal join: for each left row, the right row
    * minimizing |leftTs - rightTs| (key-equal), ties resolved to the past
    * side then by `rightTiebreak` ascending — mirroring the reference's
    * run↔weight matching (running_economy.py:115-196). Adds a `gap_s`
    * column (absolute gap in seconds). Left rows with no candidate within
    * `maxGapSeconds` are dropped (inner semantics).
    *
    * Two directional passes over one union: a backward running window
    * (sorted ts asc) and a forward one (sorted ts desc) share the single
    * hash exchange on the key; the per-row winner is column math.
    */
  def nearestJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTs: String, rightTs: String,
      rightTiebreak: String, maxGapSeconds: Option[Long] = None): DataFrame = {
    val u = tagUnion(left, right, leftKey, rightKey, leftTs, rightTs,
      rightTiebreak)
    // descending tiebreak: at equal |gap| and equal ts the reference keeps
    // the MIN tiebreak, and `last` picks the latest row in the frame.
    val wB = Window.partitionBy("_k")
      .orderBy(col("_ts").asc, col("_side").asc, col("_tb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("_k")
      .orderBy(col("_ts").desc, col("_side").asc, col("_tb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = u
      .withColumn("_b", last("_r", ignoreNulls = true).over(wB))
      .withColumn("_f", last("_r", ignoreNulls = true).over(wF))
      .where(col("_side") === 1)
    val ls = unix_timestamp(col("_ts"))
    val gb = ls - unix_timestamp(col("_b.__rts")) // >= 0 by construction
    val gf = unix_timestamp(col("_f.__rts")) - ls // >= 0 by construction
    val inGap: Column => Column = g =>
      maxGapSeconds.fold(lit(true))(m => g <= m)
    val bOk = col("_b").isNotNull && inGap(gb)
    val fOk = col("_f").isNotNull && inGap(gf)
    val takeB = bOk && (!fOk || gb <= gf) // tie -> past
    val withM = cand
      .withColumn("_m", when(takeB, col("_b")).when(fOk, col("_f")))
      .withColumn("gap_s", when(takeB, gb).when(fOk, gf))
      .where(col("_m").isNotNull)
    unpack(withM, left, right, "_m", leftKey, leftTs,
      rightKey, rightTs, Seq(col("gap_s")))
  }

  // ---------------------------------------------------------------- queries

  /** The reference's 7 training-intensity levels in progression order
    * (comparisons.py:36-38).
    */
  val TrainingTypes: Seq[String] = Seq("recovery", "aerobic_base", "tempo",
    "lactate_threshold", "vo2max", "anaerobic_capacity", "speed")

  /** Hierarchical training-type similarity matrix
    * (comparisons.py:39-77). Keys are the two type names sorted
    * alphabetically and joined with '|' (the reference sorts the tuple for
    * symmetric lookup); absent combinations default to 0.3
    * (comparisons.py:104).
    */
  val TrainingTypeSimilarity: Map[String, Double] = Map(
    "recovery|recovery" -> 1.0,
    "aerobic_base|recovery" -> 0.6,
    "recovery|tempo" -> 0.3,
    "lactate_threshold|recovery" -> 0.2,
    "recovery|vo2max" -> 0.2,
    "anaerobic_capacity|recovery" -> 0.2,
    "recovery|speed" -> 0.2,
    "aerobic_base|aerobic_base" -> 1.0,
    "aerobic_base|tempo" -> 0.5,
    "aerobic_base|lactate_threshold" -> 0.3,
    "aerobic_base|vo2max" -> 0.2,
    "aerobic_base|anaerobic_capacity" -> 0.2,
    "aerobic_base|speed" -> 0.2,
    "tempo|tempo" -> 1.0,
    "lactate_threshold|tempo" -> 0.8,
    "tempo|vo2max" -> 0.4,
    "anaerobic_capacity|tempo" -> 0.3,
    "speed|tempo" -> 0.2,
    "lactate_threshold|lactate_threshold" -> 1.0,
    "lactate_threshold|vo2max" -> 0.6,
    "anaerobic_capacity|lactate_threshold" -> 0.4,
    "lactate_threshold|speed" -> 0.3,
    "vo2max|vo2max" -> 1.0,
    "anaerobic_capacity|vo2max" -> 0.8,
    "speed|vo2max" -> 0.5,
    "anaerobic_capacity|anaerobic_capacity" -> 1.0,
    "anaerobic_capacity|speed" -> 0.7,
    "speed|speed" -> 1.0,
    "unknown|unknown" -> 1.0)

  /** Symmetric matrix lookup as a column: sort the two types, probe the
    * literal map, default 0.3 (comparisons.py:79-104). A map literal probe —
    * no join, no UDF, stays in codegen.
    */
  def trainingTypeSimilarityCol(t1: Column, t2: Column): Column =
    coalesce(
      element_at(typedLit(TrainingTypeSimilarity),
        concat_ws("|", least(t1, t2), greatest(t1, t2))),
      lit(0.3))

  /** Weighted similarity score (comparisons.py:415-453): pace 45% +
    * distance 35% + training type 20%, the numeric terms as
    * 1 - |Δ|/target, clamped to [0, 100].
    */
  def similarityScore(targetPace: Column, candPace: Column,
      targetDist: Column, candDist: Column,
      targetType: Column, candType: Column): Column = {
    val paceS = lit(1.0) - abs(candPace - targetPace) / targetPace
    val distS = lit(1.0) - abs(candDist - targetDist) / targetDist
    val typeS = trainingTypeSimilarityCol(targetType, candType)
    least(lit(100.0), greatest(lit(0.0),
      (paceS * 0.45 + distS * 0.35 + typeS * 0.20) * 100.0))
  }

  /** Deterministic training-type assignment for the synthetic star schema:
    * key % 7 indexes the 7 intensity levels.
    */
  private def trainingTypeOf(key: Column): Column =
    element_at(typedLit(TrainingTypes), (key % 7).cast("int") + 1)

  /** DuckDB rendering of [[trainingTypeOf]] for the oracle SQL. */
  private val typeSqlCase: String =
    "CASE CAST(o.o_orderkey % 7 AS INTEGER) " +
      TrainingTypes.zipWithIndex.dropRight(1)
        .map { case (t, i) => s"WHEN $i THEN '$t'" }.mkString(" ") +
      s" ELSE '${TrainingTypes.last}' END"

  /** DuckDB rendering of [[trainingTypeSimilarityCol]] for the oracle SQL —
    * generated from the same map so the two dialects cannot drift.
    */
  private val matrixSqlCase: String =
    "CASE concat(least(c.ttype, t.ttype), '|', greatest(c.ttype, t.ttype)) " +
      TrainingTypeSimilarity.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ") +
      " ELSE 0.3 END"

  /** Salted equi join for skewed keys: the big side gets a per-row salt in
    * [0, buckets) from `saltBy` (any expression that VARIES WITHIN a join
    * key's rows — a row id, another column's hash; never the key itself),
    * the small side is replicated `buckets`× with every salt value, and
    * the join runs on (key, salt) — so a hot key's rows spread over
    * `buckets` shuffle partitions instead of landing on one straggler
    * task. Results are exactly the plain join's (proved by the
    * q_salted_join oracle, which IS the plain join). Cost: the small side
    * shuffles `buckets`× larger — size buckets to the observed skew, and
    * prefer AQE's runtime skew-join split when it can see the stats; the
    * explicit salt is for the 100 TB cases where the skew is known ahead
    * of time (a boilerplate dedup key, a null-bucket foreign key) or the
    * join sits below an operator AQE can't re-plan.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      buckets: Int, saltBy: Column): DataFrame = {
    val salted = big.withColumn("__salt", pmod(saltBy, lit(buckets)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(expr(s"sequence(0, ${buckets - 1})")))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  val entries: Seq[Q] = Seq(
    Q("q_join_agg",
      """SELECT c.c_mktsegment, sum(o.o_totalprice) AS total_v,
        |  count(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum("o_totalprice").as("total_v"), count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    },

    // The SAME join semantics through the salt: the oracle is the plain
    // join — a hash-identical result is the proof that salting is purely
    // a physical rewrite. (q_join_agg broadcasts its small side; this
    // variant is the shape for when the "small" side is too big to
    // broadcast AND the big side's keys are skewed.)
    Q("q_salted_join",
      """SELECT c.c_nationkey, count(*) AS n_orders,
        |  sum(o.o_totalprice) AS total_v
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          col("o_totalprice"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_nationkey"))
      saltedJoin(orders, cust, Seq("custkey"),
          buckets = 8, saltBy = xxhash64(col("o_orderkey")))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("total_v"))
        .orderBy("c_nationkey")
    },

    Q("q_left_join_having",
      """SELECT c.c_custkey,
        |  count(DISTINCT o.o_orderstatus) AS n_status
        |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY 1 HAVING count(DISTINCT o.o_orderstatus) < 3
        |ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"),
          "left_outer")
        .groupBy("c_custkey")
        .agg(countDistinct("o_orderstatus").as("n_status"))
        .filter(col("n_status") < 3)
        .orderBy("c_custkey")
    },

    Q("q_semi_join",
      """SELECT l_returnflag, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    Q("q_asof_backward",
      """SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate
        |FROM events e
        |JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |QUALIFY row_number() OVER (
        |  PARTITION BY e.event_id
        |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select("event_id", "user_id", "ts")
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      asofBackward(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        "o_orderkey")
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    },

    Q("q_nearest_join",
      """SELECT o_orderkey, event_id, gap_s FROM (
        |  SELECT o.o_orderkey, e.event_id,
        |    abs(epoch_ms(e.ts)//1000 - epoch_ms(o.o_orderdate)//1000) AS gap_s,
        |    row_number() OVER (PARTITION BY o.o_orderkey
        |      ORDER BY abs(epoch_ms(e.ts)//1000 - epoch_ms(o.o_orderdate)//1000),
        |        epoch_ms(e.ts)//1000 - epoch_ms(o.o_orderdate)//1000,
        |        e.event_id) AS rn
        |  FROM orders o JOIN events e ON e.user_id = o.o_custkey) t
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
      val e = Tables.events(s, d).select("event_id", "user_id", "ts")
      nearestJoin(o, e, "o_custkey", "user_id", "o_orderdate", "ts",
        "event_id")
        .select("o_orderkey", "event_id", "gap_s")
        .orderBy("o_orderkey")
    },

    // Interval/range join with a pushed-down aggregation: counting lineitem
    // rows per 30-day order window only needs the per-shipdate COUNTS, so
    // lineitem collapses 600k -> ~2.5k rows BEFORE the non-equi join. The
    // broadcast nested loop then touches orders x distinct-dates instead of
    // orders x lineitem (measured 122 s -> sub-second at sf0.1; at 100 TB
    // the same rewrite keeps the BNL side bounded by the date domain, which
    // grows with time, not data volume).
    Q("q_interval_join",
      """SELECT o.o_orderkey, count(l.l_orderkey) AS n_shipped
        |FROM (SELECT * FROM orders WHERE o_orderkey % 100 = 0) o
        |LEFT JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).filter(col("o_orderkey") % 100 === 0)
        .select("o_orderkey", "o_orderdate")
      val perDate = Tables.lineitem(s, d)
        .groupBy("l_shipdate").agg(count(lit(1)).as("cnt"))
      o.join(broadcast(perDate),
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= date_add(col("o_orderdate"), 30),
          "left_outer")
        .groupBy("o_orderkey")
        .agg(sum(coalesce(col("cnt"), lit(0L))).as("n_shipped"))
        .orderBy("o_orderkey")
    },

    Q("q_topk_similar",
      """SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM orders
        |ORDER BY abs(o_totalprice - 150000.0) ASC, o_orderdate DESC,
        |  o_orderkey ASC
        |LIMIT 20""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .orderBy(abs(col("o_totalprice") - 150000.0).asc,
          col("o_orderdate").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(20)
    },

    // Full weighted similarity score over the candidate band (reference
    // comparisons.py:141-267 band + :415-453 score). Proxies on the star
    // schema: pace = o_totalprice, distance = Σ l_quantity per order,
    // training type = the 7 intensity levels keyed by o_orderkey % 7. The
    // target is the lowest-orderkey row (CTE, not a magic constant).
    Q("q_similarity_score",
      s"""WITH dist AS (
        |  SELECT l_orderkey, sum(l_quantity) AS dist_v
        |  FROM lineitem GROUP BY 1),
        |base AS (
        |  SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice AS pace_v,
        |    d.dist_v, $typeSqlCase AS ttype
        |  FROM orders o JOIN dist d ON o.o_orderkey = d.l_orderkey),
        |tgt AS (SELECT * FROM base ORDER BY o_orderkey LIMIT 1)
        |SELECT c.o_orderkey,
        |  least(100.0, greatest(0.0,
        |    ((1.0 - abs(c.pace_v - t.pace_v) / t.pace_v) * 0.45 +
        |     (1.0 - abs(c.dist_v - t.dist_v) / t.dist_v) * 0.35 +
        |     $matrixSqlCase * 0.20) * 100.0)) AS similarity_score,
        |  c.pace_v - t.pace_v AS pace_diff
        |FROM base c, tgt t
        |WHERE c.o_orderkey != t.o_orderkey
        |  AND c.pace_v BETWEEN t.pace_v * 0.8 AND t.pace_v * 1.2
        |  AND c.dist_v BETWEEN t.dist_v * 0.8 AND t.dist_v * 1.2
        |ORDER BY abs(c.pace_v - t.pace_v) ASC, c.o_orderdate DESC,
        |  c.o_orderkey ASC
        |LIMIT 20""".stripMargin) { (s, d) =>
      val dist = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(sum("l_quantity").as("dist_v"))
      val base = Tables.orders(s, d)
        .join(dist, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").as("pace_v"), col("dist_v"),
          trainingTypeOf(col("o_orderkey")).as("ttype"))
      val tgt = broadcast(base.orderBy("o_orderkey").limit(1).select(
        col("o_orderkey").as("t_key"), col("pace_v").as("t_pace"),
        col("dist_v").as("t_dist"), col("ttype").as("t_type")))
      base.crossJoin(tgt)
        .filter(col("o_orderkey") =!= col("t_key") &&
          col("pace_v").between(col("t_pace") * 0.8, col("t_pace") * 1.2) &&
          col("dist_v").between(col("t_dist") * 0.8, col("t_dist") * 1.2))
        .withColumn("similarity_score",
          similarityScore(col("t_pace"), col("pace_v"), col("t_dist"),
            col("dist_v"), col("t_type"), col("ttype")))
        .withColumn("pace_diff", col("pace_v") - col("t_pace"))
        .orderBy(abs(col("pace_v") - col("t_pace")).asc,
          col("o_orderdate").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "similarity_score", "pace_diff")
    },

    // Anti join: customers with NO orders, rolled up by segment. Planned
    // as a shuffled left-anti hash join on the key — same shuffle shape
    // as the inner join, no NOT-IN materialization, null-safe by
    // construction (NOT EXISTS semantics, which is what left_anti is).
    Q("q_anti_join",
      """SELECT c.c_mktsegment, count(*) AS n_cust,
        |  sum(c.c_acctbal) AS bal_v
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), sum("c_acctbal").as("bal_v"))
        .orderBy("c_mktsegment")
    },

    // Set operations: INTERSECT / EXCEPT between the customer sets of two
    // order-status slices. Spark plans both as aggregate-free left-semi /
    // left-anti joins over the deduped inputs — one shuffle each on the
    // set element, no row-comparison sort. The two slices come from ONE
    // scan each (status filter pushed to parquet).
    Q("q_set_ops",
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE o_orderstatus = 'F'),
        |  o AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE o_orderstatus = 'O')
        |SELECT 'both' AS tag, count(*) AS n
        |  FROM (SELECT * FROM f INTERSECT SELECT * FROM o) t
        |UNION ALL
        |SELECT 'f_only' AS tag, count(*) AS n
        |  FROM (SELECT * FROM f EXCEPT SELECT * FROM o) t
        |UNION ALL
        |SELECT 'o_only' AS tag, count(*) AS n
        |  FROM (SELECT * FROM o EXCEPT SELECT * FROM f) t
        |ORDER BY tag""".stripMargin) { (s, d) =>
      def custOf(status: String) = Tables.orders(s, d)
        .filter(col("o_orderstatus") === status)
        .select("o_custkey").distinct()
      val f = custOf("F")
      val o = custOf("O")
      def tagged(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n")).select(lit(tag).as("tag"), col("n"))
      tagged(f.intersect(o), "both")
        .unionByName(tagged(f.except(o), "f_only"))
        .unionByName(tagged(o.except(f), "o_only"))
        .orderBy("tag")
    },

    // LAST-TOUCH ATTRIBUTION: each purchase is credited to the user's
    // most recent click at-or-before it, provided the gap is within the
    // 1-hour attribution window. The as-of machinery does the heavy
    // lifting (ONE union-tag shuffle on user_id, no join blowup); the
    // window filter runs on the single matched row per purchase. All
    // time comparisons are explicit integer MICROS in both dialects —
    // the source timestamps carry nanoseconds, and floor-to-micros on
    // both sides makes the <= / tiebreak semantics identical by
    // construction instead of by luck.
    Q("q_attribution",
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |    epoch_ns(ts) // 1000 AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id,
        |    epoch_ns(ts) // 1000 AS c_us
        |  FROM events WHERE event_type = 'click')
        |SELECT purchase_id, user_id, click_id,
        |  (p_us - c_us) // 1000000 AS gap_s
        |FROM (
        |  SELECT p.purchase_id, p.user_id, c.click_id, p.p_us, c.c_us,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.c_us DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON c.user_id = p.user_id AND c.c_us <= p.p_us) t
        |WHERE rn = 1 AND p_us - c_us <= 3600000000
        |ORDER BY purchase_id""".stripMargin) { (s, d) =>
      // the Spark timestamps are already micros precision, so comparing
      // them IS comparing the oracle's floored integer micros; the gap
      // math drops to explicit unix_micros
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ts").as("c_ts"))
      asofBackward(purchases, clicks, "user_id", "c_user", "p_ts", "c_ts",
          "click_id")
        .withColumn("gap_us",
          expr("unix_micros(p_ts) - unix_micros(c_ts)"))
        .where(col("gap_us") <= 3600L * 1000000L)
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          expr("gap_us div 1000000").as("gap_s"))
        .orderBy("purchase_id")
    },

    // SHIPPING-PRIORITY shape (TPC-H Q3): segment-filtered customers ⨝
    // orders ⨝ lineitem, revenue per order, top 10. The dim filter
    // (c_mktsegment) broadcasts; the orders⨝lineitem shuffle carries
    // only the join keys + revenue terms. Revenue is rounded to 6 dp
    // BEFORE the ranking so the top-10 cut is the same on both engines
    // (raw float sums can differ in the last ulp and flip near-ties).
    Q("q_ship_priority",
      """SELECT o.o_orderkey,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
        |  CAST(o.o_orderdate AS DATE) AS order_date
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1, 3
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
            .filter(col("c_mktsegment") === "BUILDING")
            .select("c_custkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("revenue"))
        .select("o_orderkey", "revenue", "order_date")
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    },

    // MARKET-SHARE shape (TPC-H Q8): the deep dim chain region → nation
    // → customer joined into the orders⨝lineitem fact flow. The TINY
    // dims (region, nation) broadcast into customer first — pruning
    // customers to the ASIA region before any fact shuffle — but
    // customer itself scales with the data, so customer⨝orders and
    // orders⨝lineitem are shuffled equi joins, never a broadcast that
    // only fits at toy scale. Share = one nation's revenue fraction per
    // order year, the numerator as a conditional sum inside the same
    // aggregate (never a second scan or self-join).
    Q("q_market_share",
      """SELECT CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
        |  round(sum(CASE WHEN n.n_name = 'JAPAN'
        |      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
        |    / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS japan_share,
        |  count(*) AS n_rows
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val asianCust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
      // Join ORDER matters at scale: the ASIA filter keeps ~1/5 of
      // customers, so reducing orders by the (broadcastable) filtered
      // customer side FIRST shrinks the fact-fact join's build side ~5×
      // before lineitem ever shuffles — the selective dimension reduction
      // belongs under the big join, not above it (at sf10 with 8 GiB the
      // other order made this the #2 spiller, 1.50 GB).
      val asianOrders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(asianCust, col("o_custkey") === col("c_custkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), rev.as("rev"))
        .join(asianOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
            sum(when(col("n_name") === "JAPAN", col("rev")).otherwise(lit(0)))
              / sum(col("rev")), 6).as("japan_share"),
          count(lit(1)).as("n_rows"))
        .orderBy("o_year")
    }
  )

}
