package graft.operators

import graft.{Q, Tables}
import graft.functions.ArrayOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, an IVF-style
  * label-bucketed variant as the pruned path, and a random-hyperplane LSH
  * variant as the fully-approximate scale path.
  *
  * Generalizes the reference's tolerance-band + weighted-distance
  * similarity search (pkg/rag/queries/comparisons.py:196-267) to vector
  * spaces.
  *
  * Scale design (100 TB):
  *  - brute force broadcasts the (small) query set against the corpus —
  *    one pass, no shuffle of the corpus; per-partition top-k then global
  *    top-k via the window only over q x k candidates would be the
  *    full-scale refinement.
  *  - IVF prunes candidates with an equi-join on the bucket id (label here,
  *    a trained centroid id in production) — the join is hash-partitioned
  *    on the bucket, so each cell is scanned by exactly one task.
  *  - LSH replaces the bucket id with sign-bit hyperplane hashes over the
  *    int8 quantized vectors; identical join shape. All-integer bits and
  *    scoring make it fully oracle-checked (the float-vector variant was
  *    rows-only); ScalaTest additionally asserts the recall floor.
  */
object Similarity {

  /** Normalized double-precision vectors + L2 norm. Repartitioned before
    * the per-element math (embeddings arrive as one parquet file = one
    * partition) and persisted: every search query references the frame as
    * both the query and candidate side.
    */
  private[operators] def vecs(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "vecs")(
      Tables.embeddings(s, d)
        .repartition(col("vec_id"))
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> cast(x AS double))").as("v"))
        .withColumn("nrm", sqrt(ArrayOps.dotDouble(col("v"), col("v")))))

  private val duckVecs =
    """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |    sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e)""".stripMargin

  // try_divide: a zero-norm vector yields NULL cosine (DuckDB's native /0
  // semantics) instead of an ANSI DIVIDE_BY_ZERO crash at scale. The dot
  // product is the codegen'd primitive loop (functions/ArrayOps) — same
  // left-to-right fold order as the HOF chain it replaced, so oracle floats
  // are bit-identical.
  private val cosSpark = try_divide(
    ArrayOps.dotDouble(col("qv"), col("cv")),
    col("qn") * col("cn"))

  /** Deterministic hyperplane j for LSH (fixed integer lattice, no RNG —
    * reproducible across runs/partitions). Components in [-1000, 1000].
    */
  private[operators] def plane(j: Int): Seq[Long] =
    (0 until 64).map(dim => (((j * 73L + dim * 179L) * 2654435761L) % 2001L) - 1000L)

  /** Quantized int8 corpus (vec_id, qv BIGINT[64], qn) — persisted once per
    * directory; feeds q_ann_quantized (query + candidate sides) and the
    * k-means trainer.
    */
  private[graft] def quantizedVecs(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "quantized-vecs")(
      quantizeInt8(Tables.embeddings(s, d).repartition(col("vec_id")))
        .withColumn("qn",
          sqrt(ArrayOps.dotLong(col("qv"), col("qv")).cast("double"))))

  /** Symmetric int8 quantization of a (vec_id, embedding) frame to
    * (vec_id, qv): each component scaled by 127 / max |x| and rounded.
    * Zero vectors are unindexable and dropped. The batch corpus
    * ([[quantizedVecs]]) and the streaming encoders share it, so a
    * streamed vector quantizes bit-identically to its batch row.
    */
  private[graft] def quantizeInt8(vecs: DataFrame): DataFrame = vecs
    .select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    .withColumn("_amax", expr("array_max(transform(v, x -> abs(x)))"))
    .where(col("_amax") =!= 0.0)
    .select(col("vec_id"),
      expr("transform(v, x -> cast(round(x * (127.0 / _amax)) AS bigint))")
        .as("qv"))

  // ------------------------------------------------- product quantization

  /** DuckDB CTE fragment continuing a chain that provides `q8(vec_id,
    * qv)`: PQ encode — 8 subspaces of 8 dims, codebook = the 4 lowest-id
    * vectors' subvectors, argmin with tie to the lower codeword — ending
    * in `code(vec_id, j, c)` and the per-query distance tables
    * `qt(q_id, j, c, dist)`. Shared by q_ann_pq (full ADC scan) and
    * q_ann_ivfpq (cell-pruned ADC).
    */
  private val pqDuckChain: String =
    s"""js AS (SELECT unnest(generate_series(0, 7)) AS j),
       |sub AS (SELECT vec_id, j,
       |    list_transform(generate_series(1, 8), i -> qv[8 * j + i]) AS sv
       |  FROM q8, js),
       |cb AS (SELECT j, vec_id AS c, sv AS cv FROM sub WHERE vec_id < 4),
       |enc0 AS (SELECT s.vec_id, s.j, cb.c,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |      i -> (s.sv[i] - cb.cv[i]) * (s.sv[i] - cb.cv[i]))) AS BIGINT)
       |      AS dist
       |  FROM sub s JOIN cb ON s.j = cb.j),
       |code AS (SELECT vec_id, j, c FROM (
       |    SELECT vec_id, j, c,
       |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c)
       |        AS rn
       |    FROM enc0) t WHERE rn = 1),
       |qt AS (SELECT vec_id AS q_id, j, c, dist FROM enc0
       |  WHERE vec_id < 10)""".stripMargin

  /** Per-(vector, subspace) codeword distances — the shared intermediate
    * both PQ frames cut from.
    */
  private def pqSubvectors(s: SparkSession, d: String): DataFrame =
    quantizedVecs(s, d).select(col("vec_id"), explode(expr(
      "transform(sequence(0, 7), j -> struct(j AS j, " +
        "transform(sequence(1, 8), i -> element_at(qv, 8 * j + i)) AS sv))"))
      .as("s"))
      .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv"))

  /** The trained PQ codebook `(j, c, cv BIGINT[8])` — 8 subspaces × 4
    * codewords (the 4 lowest-vec_id vectors' subvectors, the same seed
    * discipline as the IVF trainer). m·K-bounded: the model artifact the
    * batch encoder joins and the streaming encoder broadcasts.
    */
  private[graft] def pqCodebook(s: SparkSession, d: String): DataFrame =
    pqSubvectors(s, d).where(col("vec_id") < 4)
      .select(col("j"), col("vec_id").as("c"), col("sv").as("cv"))

  /** Driver-side copy of the two trained model artifacts for the
    * streaming index encoder — K centroid rows + m·K codebook rows, both
    * entity-bounded collects (32 + 4 rows here; the model IS the thing a
    * deployment broadcasts).
    */
  private[graft] def ivfPqModel(s: SparkSession, d: String)
      : (Seq[(Long, Seq[Double])], Seq[(Int, Long, Seq[Long])]) = {
    val cents = kmeansCentroids(s, d).collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    val cb = pqCodebook(s, d).collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
    (cents, cb)
  }

  private def pqEnc0(s: SparkSession, d: String): DataFrame = {
    val sub = pqSubvectors(s, d)
    val cb = pqCodebook(s, d)
    sub.join(broadcast(cb), Seq("j"))
      .withColumn("dist", expr(
        "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), " +
          "cast(0 AS bigint), (a, x) -> a + x)"))
  }

  /** The written PQ index: one code per (vector, subspace) — argmin as
    * min(struct(dist, c)), map-side combinable, tie to the lower codeword
    * exactly like the oracle's (dist, c) row_number. Persisted per
    * directory (serve-model discipline — at 100 TB this is the silver
    * code table the searches read).
    */
  private def pqCode(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "pq-code")(
      pqEnc0(s, d).groupBy("vec_id", "j")
        .agg(min(struct(col("dist"), col("c"))).as("m"))
        .select(col("vec_id"), col("j"), col("m.c").as("c")))

  /** Asymmetric-distance tables for the query set (vec_id < 10): 8×4
    * exact subvector-to-codeword distances per query — m·K-bounded, the
    * broadcast side of every ADC join.
    */
  private def pqQueryTables(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "pq-qt")(
      pqEnc0(s, d).where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("j"), col("c"), col("dist")))

  /** Cell-pruned ADC top-3 `(q_id, rnk, nn_id, adist)` — the IVF-PQ
    * serve path, shared by q_ann_ivfpq and q_ivfpq_recall. All inputs
    * (pq-code, pq-qt, ivf-assign) are the memoized serve frames; what
    * remains per run is one broadcast join + a per-query window.
    */
  private def ivfpqTop3(s: SparkSession, d: String): DataFrame = {
    val cells = kmeansAssign(s, d).select("vec_id", "cid")
    val qc = pqQueryTables(s, d)
      .join(broadcast(cells.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("cid"))), Seq("q_id"))
    val adc = pqCode(s, d).join(cells, Seq("vec_id"))
      .join(broadcast(qc), Seq("j", "c", "cid"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("nn_id"))
      .agg(sum("dist").as("adist"))
    val w = Window.partitionBy("q_id").orderBy(asc("adist"), asc("nn_id"))
    adc.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select("q_id", "rnk", "nn_id", "adist")
  }

  /** DuckDB CTE chain ending in `q8(vec_id, qv)` — the oracle half of
    * [[quantizedVecs]] (qn recomputed where needed).
    */
  private[operators] val quantizedDuck =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |    CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN NULL
      |         ELSE 127.0 / list_max(list_transform(v, x -> abs(x)))
      |    END AS scale
      |  FROM e),
      |q8 AS (SELECT vec_id,
      |    list_transform(v, x -> CAST(round(x * scale) AS BIGINT)) AS qv
      |  FROM s WHERE scale IS NOT NULL)""".stripMargin

  /** DuckDB CTE chain continuing [[quantizedDuck]] — int8 norms (`n8`)
    * through the 8×4-bit hyperplane tables to `lr(q_id, nn_id, cosine,
    * rnk)`: the LSH candidates' integer-cosine ranking per query. Shared
    * by q_ann_lsh and q_ann_recall (which also reuses `n8` for its exact
    * ground truth).
    */
  private[operators] val lshTopDuck: String = {
    val planesDuck = (0 until 32)
      .map(j => plane(j).mkString("[", ", ", "]"))
      .mkString("[", ",\n       |    ", "]")
    val hDuck = (0 until 4)
      .map(b => s"bt[4 * t + ${b + 1}] * ${1 << b}")
      .mkString(" + ")
    s"""n8 AS (SELECT vec_id, qv,
       |    sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS qn
       |  FROM q8),
       |bits AS (SELECT vec_id, list_transform(
       |    $planesDuck,
       |    p -> CASE WHEN list_sum(list_transform(generate_series(1, 64),
       |      i -> qv[i] * p[i])) > 0 THEN 1 ELSE 0 END) AS bt
       |  FROM n8),
       |tb AS (SELECT vec_id, unnest(list_transform(generate_series(0, 7),
       |    t -> {'t': t, 'h': $hDuck})) AS s
       |  FROM bits),
       |bk AS (SELECT vec_id, s.t AS t, s.h AS h FROM tb),
       |qb AS (SELECT vec_id AS q_id, t, h FROM bk WHERE vec_id < 10),
       |cand AS (SELECT DISTINCT c.vec_id AS nn_id, q.q_id
       |  FROM bk c JOIN qb q ON c.t = q.t AND c.h = q.h
       |  WHERE c.vec_id <> q.q_id),
       |lsc AS (SELECT cand.q_id, cand.nn_id,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> a.qv[i] * b.qv[i]))::DOUBLE / (a.qn * b.qn) AS cosine
       |  FROM cand JOIN n8 a ON cand.q_id = a.vec_id
       |            JOIN n8 b ON cand.nn_id = b.vec_id),
       |lr AS (SELECT q_id, nn_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS rnk
       |  FROM lsc)""".stripMargin
  }

  /** Spark: LSH candidate top-3 `(q_id, rnk, nn_id, cosine)` — the
    * multi-table sign-bit layout shared by q_ann_lsh and q_ann_recall.
    * Memoized + persisted like quantTop3: THREE consumers (the LSH dump,
    * recall@3, nDCG@3) each re-ran the 32-plane sign-bit pass and the
    * candidate scoring join otherwise; the frame itself is ≤ 3·|queries|
    * rows.
    */
  private[graft] def lshTop3(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "lsh-top3")(lshTop3Uncached(s, d))

  private def lshTop3Uncached(s: SparkSession, d: String): DataFrame = {
    val n = quantizedVecs(s, d)
    val nTables = 8
    val bitsPerTable = 4
    // ONE higher-order pass over a 2D plane literal computes all 32 sign
    // bits, then the 8 per-table buckets — replacing 32 separate
    // projection columns (same flops, far fewer codegen'd expression
    // trees). The candidate join then carries IDS ONLY; vectors join
    // back after the distinct (the minhash-pairs lesson: payload arrays
    // never go through the pair shuffle).
    val planesLit = (0 until nTables * bitsPerTable)
      .map(j => plane(j).mkString("array(", "L, ", "L)"))
      .mkString("array(", ", ", ")")
    val hExpr = (0 until bitsPerTable)
      .map(b => s"element_at(bits, ${bitsPerTable} * t + ${b + 1}) * ${1 << b}")
      .mkString(" + ")
    val bucketed = n
      .select(col("vec_id"),
        expr(s"""transform($planesLit,
          p -> CASE WHEN aggregate(zip_with(qv, p, (x,y) -> x*y),
            cast(0 AS bigint), (a,x) -> a + x) > 0 THEN 1 ELSE 0 END)""")
          .as("bits"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${nTables - 1}), t -> struct(t AS t, $hExpr AS h))"))
        .as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.h").as("h"))
    val qb = bucketed.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("t"), col("h"))
    val cand = bucketed.select(col("vec_id").as("nn_id"), col("t"), col("h"))
      .join(broadcast(qb), Seq("t", "h"))
      .where(col("nn_id") =!= col("q_id"))
      .select("q_id", "nn_id").distinct()
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("nn_id"))
    cand
      .join(n.select(col("vec_id").as("q_id"),
        col("qv").as("qa"), col("qn").as("qna")), Seq("q_id"))
      .join(n.select(col("vec_id").as("nn_id"), col("qv"), col("qn")), Seq("nn_id"))
      .select(col("q_id"), col("nn_id"),
        (ArrayOps.dotLong(col("qa"), col("qv")).cast("double") /
          (col("qna") * col("qn"))).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select("q_id", "rnk", "nn_id", "cosine")
      .orderBy("q_id", "rnk")
  }

  /** DuckDB CTE chain continuing `n8` (from [[lshTopDuck]]) to
    * `br(q_id, nn_id, rnk)` — the exact integer-cosine brute ranking
    * used as ground truth by q_ann_recall and q_ann_ndcg.
    */
  private[operators] val bruteTopDuck: String =
    """bq AS (SELECT vec_id AS q_id, qv AS qa, qn AS qna
      |  FROM n8 WHERE vec_id < 10),
      |bsc AS (SELECT bq.q_id, c.vec_id AS nn_id,
      |    list_sum(list_transform(bq.qa, (x,i) -> x * c.qv[i]))::DOUBLE
      |      / (bq.qna * c.qn) AS cosine
      |  FROM bq JOIN n8 c ON c.vec_id <> bq.q_id),
      |br AS (SELECT q_id, nn_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS rnk
      |  FROM bsc)""".stripMargin

  /** DuckDB CTE chain continuing [[kmeansDuck]]'s `a2` to
    * `tr(q_id, nn_id, cosine, rnk)` — the trained-cell pruned ranking,
    * shared by q_ann_ivf_trained and q_ivf_recall.
    */
  private[operators] val ivfTopDuck: String =
    """n8t AS (SELECT vec_id, qv, cid,
      |    sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS qn
      |  FROM a2),
      |qt AS (SELECT vec_id AS q_id, cid, qv AS qa, qn AS qna
      |  FROM n8t WHERE vec_id < 10),
      |tsc AS (SELECT qt.q_id, c.vec_id AS nn_id,
      |    list_sum(list_transform(qt.qa, (x,i) -> x * c.qv[i]))::DOUBLE
      |      / (qt.qna * c.qn) AS cosine
      |  FROM qt JOIN n8t c ON c.cid = qt.cid AND c.vec_id <> qt.q_id),
      |tr AS (SELECT q_id, nn_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS rnk
      |  FROM tsc)""".stripMargin

  /** Spark: trained-cell pruned top-3 `(q_id, rnk, nn_id, cosine)` —
    * shared by q_ann_ivf_trained, q_ivf_recall and the recall evals.
    * Memoized + persisted: the result is |queries|x3 rows but each build
    * re-runs the cell-pruned scoring join — three consumers otherwise
    * pay it three times per suite pass.
    */
  private[graft] def ivfTrainedTop3(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "ivf-top3")(ivfTrainedTop3Uncached(s, d))

  private def ivfTrainedTop3Uncached(s: SparkSession, d: String): DataFrame = {
    val n8t = kmeansAssign(s, d)
      .withColumn("qn",
        sqrt(ArrayOps.dotLong(col("qv"), col("qv")).cast("double")))
    val q = n8t.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("cid"),
        col("qv").as("qa"), col("qn").as("qna"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("nn_id"))
    n8t.select(col("vec_id").as("nn_id"), col("cid"), col("qv"), col("qn"))
      .join(broadcast(q), Seq("cid"))
      .where(col("nn_id") =!= col("q_id"))
      .select(col("q_id"), col("nn_id"),
        (ArrayOps.dotLong(col("qa"), col("qv")).cast("double") /
          (col("qna") * col("qn"))).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select("q_id", "rnk", "nn_id", "cosine")
      .orderBy("q_id", "rnk")
  }

  /** Ideal DCG@3 — identical expression text in both dialects so the
    * constant is bit-identical.
    */
  private val idcgSql =
    "(3 / log2(CAST(2 AS DOUBLE)) + 2 / log2(CAST(3 AS DOUBLE)) + " +
      "1 / log2(CAST(4 AS DOUBLE)))"

  /** Spark: exact integer-cosine top-3 over the int8 corpus `(q_id, rnk,
    * nn_id, cosine)` — shared by q_ann_quantized and (as ground truth)
    * q_ann_recall.
    */
  private[graft] def quantTop3(s: SparkSession, d: String): DataFrame =
    // memoized + persisted like ivfTrainedTop3: FOUR consumers (the
    // quantized search dump, recall@3, nDCG@3, and the IVF eval's ground
    // truth) each re-ran the brute-force scoring join otherwise
    graft.Caches.frame(s, d, "quant-top3")(quantTop3Uncached(s, d))

  private def quantTop3Uncached(s: SparkSession, d: String): DataFrame = {
    // quantized corpus feeds both the query and candidate sides —
    // persisted once per dir (Caches registry), like the double vecs frame
    val n8 = quantizedVecs(s, d)
    val q = n8.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("qa"), col("qn").as("qna"))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("nn_id"))
    n8.select(col("vec_id").as("nn_id"), col("qv"), col("qn"))
      .join(broadcast(q), col("nn_id") =!= col("q_id"))
      .select(col("q_id"), col("nn_id"),
        (ArrayOps.dotLong(col("qa"), col("qv")).cast("double") /
          (col("qna") * col("qn"))).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select("q_id", "rnk", "nn_id", "cosine")
      .orderBy("q_id", "rnk")
  }

  // ------------------------------------------------- k-means (IVF trainer)

  private val KmDims = 1 to 64

  /** DuckDB CTE chain continuing [[quantizedDuck]] through 2 Lloyd
    * iterations to `a2(vec_id, qv, cid)` (final assignment) and
    * `u2a(cid, cnt, sum_components, sv)` (final cluster stats) — shared by
    * the trainer and the trained-cell search oracle.
    */
  private val kmeansDuck: String = {
    val sums = KmDims.map(i => s"sum(qv[$i]) AS s$i").mkString(",\n    ")
    val cArr = KmDims.map(i => s"CAST(s$i AS DOUBLE) / cnt").mkString("[", ", ", "]")
    val sArr = KmDims.map(i => s"s$i").mkString("[", ", ", "]")
    val sTot = KmDims.map(i => s"s$i").mkString(" + ")
    def distInt(v: String, c: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> ($v[i] - $c[i]) * ($v[i] - $c[i])))"
    s"""$quantizedDuck,
       |c0 AS (SELECT vec_id AS cid, qv AS cv FROM q8 ORDER BY vec_id LIMIT 4),
       |d1 AS (SELECT v.vec_id, v.qv, c.cid,
       |    ${distInt("v.qv", "c.cv")} AS dist
       |  FROM q8 v, c0 c),
       |a1 AS (SELECT vec_id, qv, cid FROM (
       |    SELECT vec_id, qv, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d1) t WHERE rn = 1),
       |u1 AS (SELECT cid, count(*) AS cnt,
       |    $sums
       |  FROM a1 GROUP BY cid),
       |c1 AS (SELECT cid, $cArr AS cv FROM u1),
       |d2 AS (SELECT v.vec_id, v.qv, c.cid,
       |    ${distInt("v.qv", "c.cv")} AS dist
       |  FROM q8 v, c1 c),
       |a2 AS (SELECT vec_id, qv, cid FROM (
       |    SELECT vec_id, qv, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d2) t WHERE rn = 1),
       |u2 AS (SELECT cid, count(*) AS cnt,
       |    $sums
       |  FROM a2 GROUP BY cid),
       |u2a AS (SELECT cid, cnt, CAST($sTot AS BIGINT) AS sum_components,
       |  $sArr AS sv FROM u2)""".stripMargin
  }

  /** Spark: final k-means assignment `(vec_id, qv, cid)` after the same 2
    * unrolled Lloyd iterations — persisted per directory (the trainer and
    * the trained-cell search both consume it).
    */
  // distance folds: integer accumulator against int centroids, double
  // against the updated (fractional) centroids — codegen'd primitive
  // loops (ArrayOps), same sequential fold as the oracle's index-based
  // list_sum
  private def kmDistInt = ArrayOps.sqDistLong(col("qv"), col("cv"))
  private def kmDistDbl = ArrayOps.sqDistDouble(
    expr("transform(qv, x -> cast(x AS double))"), col("cv"))

  /** One Lloyd assignment pass: argmin over the broadcast centroids as
    * min(struct(dist, cid)) — map-side combinable, tie to the lower cid.
    */
  private def kmAssignPass(n8: DataFrame, cents: DataFrame,
      dist: org.apache.spark.sql.Column): DataFrame =
    n8.crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"),
        first("qv").as("qv"))
      .select(col("vec_id"), col("qv"), col("m.cid").as("cid"))

  /** The TRAINED coarse quantizer `(cid, cv DOUBLE[64])` after the first
    * Lloyd update — the model artifact the final assignment, the IVF-PQ
    * serve path, and the streaming index-maintenance encoder all run
    * against. K-bounded (4 rows here; K rows in production — the thing a
    * deployment writes out and broadcasts).
    */
  private[graft] def kmeansCentroids(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "ivf-centroids") {
      val n8 = quantizedVecs(s, d).select("vec_id", "qv")
      val seeds = n8.orderBy("vec_id").limit(4)
        .select(col("vec_id").as("cid"), col("qv").as("cv"))
      val u1 = kmeansUpdate(kmAssignPass(n8, seeds, kmDistInt))
      u1.select(col("cid"),
        expr(KmDims.map(i => s"cast(s$i AS double) / cnt")
          .mkString("array(", ", ", ")")).as("cv"))
    }

  private[graft] def kmeansAssign(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "ivf-assign")(
      kmAssignPass(quantizedVecs(s, d).select("vec_id", "qv"),
        kmeansCentroids(s, d), kmDistDbl))

  /** Per-cluster count + 64 per-dimension integer sums (map-side partial
    * aggregation; exact at any scale).
    */
  private def kmeansUpdate(assigned: DataFrame): DataFrame = {
    val aggCols = count(lit(1)).as("cnt") +:
      KmDims.map(i => sum(expr(s"element_at(qv, $i)")).as(s"s$i"))
    assigned.groupBy("cid").agg(aggCols.head, aggCols.tail: _*)
  }

  // ------------------------------------------------------- semantic dedup

  /** Hard upper bound on the number of per-cell pair REPRESENTATIVES the
    * SemDeDup join may use as its smaller-id side — the adversarial
    * backstop that keeps within-cell pair volume ≤ |cell| · cap (linear)
    * even when a cell's DISTINCT population outgrows what the coarse
    * quantizer was provisioned for. Chosen above every observed distinct
    * cell population at the test scales (≤ ~500 at sf0.1, and UNCHANGED
    * under clone replication because the cap applies after exact-dup
    * collapse), so at contract scale the cap is inert and the semantics
    * are the full within-cell pairwise prune.
    */
  private[graft] val SemDedupCellCap = 1024

  /** Every vector with its cell, integer norm, and `mid` = the smallest
    * vec_id sharing its EXACT quantized vector (the exact-dup group key;
    * one window pass, partitioned by the canonical vector string).
    */
  private[graft] def semDedupGrouped(s: SparkSession, d: String): DataFrame =
    graft.Caches.frame(s, d, "semdedup-grouped")(
      kmeansAssign(s, d)
        .withColumn("qn",
          sqrt(ArrayOps.dotLong(col("qv"), col("qv")).cast("double")))
        .withColumn("mid", min("vec_id").over(
          // partition directly by the array column (Spark arrays are
          // group-comparable): same grouping as the oracle's injective
          // array_to_string key, minus a 64-element string build per row
          Window.partitionBy(col("cid"), col("qv")))))

  /** One delegate row per DISTINCT quantized vector per cell:
    * (mid, cid, qv, qn). THIS is what makes SemDeDup scale-safe against
    * duplicate multiplicity: cosine depends only on qv, so "b has a
    * smaller-id partner at cosine ≥ t" is decidable entirely between
    * group delegates — ∃ a < b with cos(a,b) ≥ t ⟺ ∃ group A with
    * min(A) < min(B) and cos(A,B) ≥ t (for b = min(B)), while every
    * non-minimal member of a nonzero group is dropped unconditionally by
    * its own group minimum at cosine 1.0. The quadratic stage therefore
    * runs over distinct vectors only — under ×m exact-clone replication
    * (ScaleUp's clone families, or a real corpus's mirror copies) the
    * pair volume is CONSTANT, not m².
    */
  private[graft] def semDedupDelegates(s: SparkSession, d: String): DataFrame =
    semDedupGrouped(s, d).where(col("vec_id") === col("mid"))
      .select(col("mid"), col("cid"), col("qv"), col("qn"))

  /** Within-cell delegate pairs (a = representative, rank ≤ `cap` by mid
    * within the cell; b = any delegate with a larger mid) with their
    * integer cosine — the bounded candidate stage: ≤ |delegates| · cap
    * rows, an equi-join on cid. Parameterized cap so the bound itself is
    * unit-testable at visible sizes.
    */
  private[graft] def semDedupPairsFrom(g: DataFrame,
      cap: Int = SemDedupCellCap): DataFrame = {
    val reps = g.withColumn("rn",
        row_number().over(Window.partitionBy("cid").orderBy("mid")))
      .where(col("rn") <= cap)
      .select(col("cid"), col("mid").as("a_mid"),
        col("qv").as("qa"), col("qn").as("na"))
    g.select(col("cid"), col("mid").as("b_mid"),
        col("qv").as("qb"), col("qn").as("nb"))
      .join(reps, Seq("cid"))
      .where(col("a_mid") < col("b_mid"))
      .withColumn("cosine",
        try_divide(ArrayOps.dotLong(col("qa"), col("qb")).cast("double"),
          col("na") * col("nb")))
  }

  private[graft] def semDedupPairs(s: SparkSession, d: String): DataFrame =
    semDedupPairsFrom(semDedupDelegates(s, d))

  /** Final per-vector status: a vector is kept iff it is its group's
    * minimum and no capped representative with a smaller mid sits at
    * cosine ≥ 0.4 (zero-norm vectors are always kept — cosine with them
    * is NULL, so nothing can drop them; quantizedVecs filters true zero
    * vectors upstream, the guard mirrors the oracle's CASE exactly).
    */
  private[graft] def semDedupStatus(s: SparkSession, d: String): DataFrame = {
    val droppedGroups = semDedupPairs(s, d).where(col("cosine") >= 0.4)
      .select(col("b_mid").as("mid")).distinct()
      .withColumn("is_dropped", lit(1))
    semDedupGrouped(s, d).join(droppedGroups, Seq("mid"), "left_outer")
      .select(col("vec_id"), col("cid"),
        when(col("qn") === 0.0, lit("kept"))
          .when(col("vec_id") === col("mid") && col("is_dropped").isNull,
            lit("kept"))
          .otherwise(lit("dropped")).as("status"))
  }

  val entries: Seq[Q] = Seq(

    // Symmetric int8 quantization of the embedding column — the 4×
    // storage-reduction step a 100 TB vector corpus applies before
    // indexing: per-vector scale = 127 / max|vᵢ| (null for a zero
    // vector), qᵢ = round(vᵢ·scale) ∈ [-127, 127]. Map-only, exact
    // integer outputs in both dialects (Spark round and DuckDB round are
    // both half-away-from-zero on doubles), plus the max reconstruction
    // error as a quality column. The quantized vector is emitted as its
    // canonical comma-joined string (plus Σq and Σq² integer checksums):
    // the oracle comparator sorts/hashes scalar cells, so an array column
    // would crash it — the string IS the full vector, bit-for-bit.
    Q("q_emb_quantize",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN NULL
        |         ELSE 127.0 / list_max(list_transform(v, x -> abs(x)))
        |    END AS scale
        |  FROM e),
        |q AS (SELECT vec_id, scale,
        |    list_transform(v, x -> CAST(round(x * scale) AS BIGINT)) AS qv,
        |    list_max(list_transform(v, x -> abs(x - round(x * scale) / scale)))
        |      AS max_err
        |  FROM s)
        |SELECT vec_id, scale,
        |  array_to_string(qv, ',') AS qv_str,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_sumsq,
        |  max_err
        |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .repartition(col("vec_id"))
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("v"))
        .withColumn("_amax",
          expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn("scale",
          when(col("_amax") === 0.0, lit(null).cast("double"))
            .otherwise(lit(127.0) / col("_amax")))
        .withColumn("qv",
          expr("transform(v, x -> cast(round(x * scale) AS bigint))"))
        .select(col("vec_id"), col("scale"),
          expr("array_join(qv, ',')").as("qv_str"),
          expr("aggregate(qv, cast(0 AS bigint), (a,x) -> a + x)").as("q_sum"),
          expr("aggregate(qv, cast(0 AS bigint), (a,x) -> a + x*x)").as("q_sumsq"),
          expr("array_max(transform(v, x -> abs(x - round(x * scale) / scale)))")
            .as("max_err"))
        .orderBy("vec_id")
    },

    // PRODUCT QUANTIZATION (encode + ADC search): split the 64-dim int8
    // vectors into 8 subspaces of 8 dims, encode each subvector as the id
    // of its nearest codeword (codebook = the 4 seed vectors' subvectors,
    // the same lowest-vec_id seed discipline as the IVF trainer; argmin
    // with the tie to the lower codeword), then answer queries by
    // ASYMMETRIC DISTANCE: per query, an 8x4 table of exact
    // subvector-to-codeword distances, and each candidate's approximate
    // distance is the sum of 8 table lookups selected by its code.
    // Everything is INTEGER (squared L2 on int8 values) — bit-identical
    // across engines, no rounding discipline needed.
    //
    // Scale shape: the codebook and the per-query tables are m*K-bounded
    // broadcasts (32 rows here; a few MB at production K) — the corpus
    // side is ONE argmin aggregate per (vector, subspace) at encode time
    // (the written PQ index at 100 TB) and one code-indexed lookup join +
    // per-(query, candidate) sum at serve time. ADC is the compressed
    // linear scan PQ exists for; pair it with the IVF cells (q_ann_ivf_
    // trained) for the pruned IVF-PQ form.
    Q("q_ann_pq",
      s"""WITH $quantizedDuck,
         |$pqDuckChain,
         |adc AS (SELECT q.q_id, d.vec_id AS nn_id,
         |    CAST(sum(q.dist) AS BIGINT) AS adist
         |  FROM code d JOIN qt q ON d.j = q.j AND d.c = q.c
         |  WHERE d.vec_id <> q.q_id GROUP BY 1, 2),
         |r AS (SELECT q_id, nn_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, nn_id)
         |      AS rnk
         |  FROM adc)
         |SELECT q_id, rnk, nn_id, adist FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val adc = pqCode(s, d).join(broadcast(pqQueryTables(s, d)), Seq("j", "c"))
        .where(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id").as("nn_id"))
        .agg(sum("dist").as("adist"))
      val w = Window.partitionBy("q_id").orderBy(asc("adist"), asc("nn_id"))
      adc.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("q_id", "rnk", "nn_id", "adist")
        .orderBy("q_id", "rnk")
    },

    // IVF-PQ: the two trained structures composed the way a production
    // ANN index deploys them — the coarse quantizer (the 2-Lloyd-
    // iteration IVF cells of q_ann_ivf_trained) prunes candidates to the
    // query's cell, and the PQ codes answer the distance for the
    // survivors by the same 8-lookup asymmetric sum. At 100 TB the scan
    // touches one cell's codes (nprobe=1) instead of every code — the
    // memory-resident form of inverted-file search. Still all-integer,
    // so the oracle is exact; cell restriction is an equi-join on cid
    // (corpus side) against the broadcast query cells.
    Q("q_ann_ivfpq",
      s"""WITH $kmeansDuck,
         |$pqDuckChain,
         |cells AS (SELECT vec_id, cid FROM a2),
         |qc AS (SELECT q.q_id, q.j, q.c, q.dist, cl.cid
         |  FROM qt q JOIN cells cl ON cl.vec_id = q.q_id),
         |adc AS (SELECT q.q_id, d.vec_id AS nn_id,
         |    CAST(sum(q.dist) AS BIGINT) AS adist
         |  FROM code d
         |  JOIN cells dc ON dc.vec_id = d.vec_id
         |  JOIN qc q ON d.j = q.j AND d.c = q.c AND dc.cid = q.cid
         |  WHERE d.vec_id <> q.q_id GROUP BY 1, 2),
         |r AS (SELECT q_id, nn_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, nn_id)
         |      AS rnk
         |  FROM adc)
         |SELECT q_id, rnk, nn_id, adist FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      ivfpqTop3(s, d).orderBy("q_id", "rnk")
    },

    // THE WRITTEN IVF-PQ INDEX TABLE — one row per indexed vector with
    // its coarse cell and the 8 PQ codes as the canonical comma string
    // (the scalar-cell form the oracle comparator hashes). This is what
    // an index REBUILD materializes, and the batch twin of the streaming
    // maintenance path (Streams.ivfPqEncodeStream appends rows a full
    // rebuild would produce bit-identically — IvfPqStreamSpec pins the
    // parity). One 8-element collect_list per vector (j-bounded), one
    // equi-join with the persisted cell assignment.
    Q("q_ivfpq_index",
      s"""WITH $kmeansDuck,
         |$pqDuckChain,
         |codes AS (SELECT vec_id,
         |    string_agg(c::VARCHAR, ',' ORDER BY j) AS codes
         |  FROM code GROUP BY vec_id)
         |SELECT a2.vec_id, a2.cid, codes.codes
         |FROM a2 JOIN codes USING (vec_id)
         |ORDER BY a2.vec_id""".stripMargin) { (s, d) =>
      val codes = pqCode(s, d).groupBy("vec_id")
        .agg(sort_array(collect_list(struct(col("j"), col("c")))).as("jc"))
        .select(col("vec_id"),
          expr("array_join(transform(jc, x -> cast(x.c AS string)), ',')")
            .as("codes"))
      kmeansAssign(s, d).select("vec_id", "cid")
        .join(codes, Seq("vec_id"))
        .select("vec_id", "cid", "codes")
        .orderBy("vec_id")
    },

    // RECALL@3 of the IVF-PQ search vs the exact integer-cosine ranking —
    // the combined quality number the two stages' own evals bound from
    // above: losses come from the cell restriction (q_ivf_recall's cost)
    // AND the code compression (q_ann_pq's cross-metric floor), so this
    // is the number a deployment actually ships with. LEFT join keeps
    // zero-hit queries visible as recall 0 rows.
    Q("q_ivfpq_recall",
      s"""WITH $kmeansDuck,
         |n8 AS (SELECT vec_id, qv,
         |    sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS qn
         |  FROM q8),
         |$bruteTopDuck,
         |$pqDuckChain,
         |cells AS (SELECT vec_id, cid FROM a2),
         |qc AS (SELECT q.q_id, q.j, q.c, q.dist, cl.cid
         |  FROM qt q JOIN cells cl ON cl.vec_id = q.q_id),
         |adc AS (SELECT q.q_id, d.vec_id AS nn_id,
         |    CAST(sum(q.dist) AS BIGINT) AS adist
         |  FROM code d
         |  JOIN cells dc ON dc.vec_id = d.vec_id
         |  JOIN qc q ON d.j = q.j AND d.c = q.c AND dc.cid = q.cid
         |  WHERE d.vec_id <> q.q_id GROUP BY 1, 2),
         |pr AS (SELECT q_id, nn_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, nn_id)
         |      AS rnk
         |  FROM adc)
         |SELECT b.q_id, count(t.nn_id) AS n_hits,
         |  round(CAST(count(t.nn_id) AS DOUBLE) / 3, 6) AS recall
         |FROM (SELECT q_id, nn_id FROM br WHERE rnk <= 3) b
         |LEFT JOIN (SELECT q_id, nn_id FROM pr WHERE rnk <= 3) t
         |  ON t.q_id = b.q_id AND t.nn_id = b.nn_id
         |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin) { (s, d) =>
      val b3 = quantTop3(s, d).select("q_id", "nn_id")
      val t3 = ivfpqTop3(s, d)
        .select(col("q_id").as("tq"), col("nn_id").as("t_nn"))
      b3.join(broadcast(t3),
          col("q_id") === col("tq") && col("nn_id") === col("t_nn"),
          "left_outer")
        .groupBy("q_id")
        .agg(count(col("t_nn")).as("n_hits"),
          round(count(col("t_nn")).cast("double") / 3, 6).as("recall"))
        .orderBy("q_id")
    },

    // Brute-force cosine top-3 for query vectors vec_id < 10.
    Q("q_ann_brute",
      s"""WITH $duckVecs,
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |sc AS (SELECT q.q_id, c.vec_id AS nn_id,
         |    list_sum(list_transform(q.qv, (x,i) -> x * c.v[i])) / (q.qn * c.nrm) AS cosine
         |  FROM q JOIN n c ON c.vec_id <> q.q_id),
         |r AS (SELECT q_id, nn_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS rnk
         |  FROM sc)
         |SELECT q_id, rnk, nn_id, cosine FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val n = vecs(s, d)
      val q = n.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      val c = n.select(col("vec_id").as("nn_id"), col("v").as("cv"), col("nrm").as("cn"))
      val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("nn_id"))
      c.join(broadcast(q), col("nn_id") =!= col("q_id"))
        .select(col("q_id"), col("nn_id"), cosSpark.as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("q_id", "rnk", "nn_id", "cosine")
        .orderBy("q_id", "rnk")
    },

    // Quantized brute-force search over the int8 vectors: the symmetric
    // per-vector scales CANCEL in cosine, so the score is pure integer
    // math — Σ(qa·qb) / (√Σqa²·√Σqb²) — deterministic across engines and
    // 4× less data through the broadcast than the double vectors. The
    // search shape is q_ann_brute's; the payload is the quantized corpus.
    Q("q_ann_quantized",
      s"""WITH $quantizedDuck,
        |n8 AS (SELECT vec_id, qv,
        |    sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS qn
        |  FROM q8),
        |q AS (SELECT vec_id AS q_id, qv AS qa, qn AS qna
        |  FROM n8 WHERE vec_id < 10),
        |sc AS (SELECT q.q_id, c.vec_id AS nn_id,
        |    list_sum(list_transform(q.qa, (x,i) -> x * c.qv[i]))::DOUBLE
        |      / (q.qna * c.qn) AS cosine
        |  FROM q JOIN n8 c ON c.vec_id <> q.q_id),
        |r AS (SELECT q_id, nn_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS rnk
        |  FROM sc)
        |SELECT q_id, rnk, nn_id, cosine FROM r WHERE rnk <= 3
        |ORDER BY q_id, rnk""".stripMargin) { (s, d) => quantTop3(s, d) },

    // K-MEANS TRAINING for IVF (2 unrolled Lloyd iterations, K=4 seeds =
    // the lowest vec_ids): the step that turns q_ann_ivf's "given bucket
    // id" into a TRAINED coarse quantizer. Runs on the int8 vectors so
    // every cross-engine number is exact: centroid updates are INTEGER
    // per-dimension sums (order-free — no float summation-order drift),
    // centroids are exact int/count divisions, distances are sequential
    // 64-element array folds (deterministic in both engines), and the
    // reported distortion is kept in integer form (q_i·cnt − s_i)² until
    // one final exact division by cnt². Assignment argmin is
    // min(struct(dist, cid)) — a map-side-combinable aggregate, NOT a
    // window — with the tie broken by cid.
    //
    // Scale shape: each iteration is one broadcast of K centroids + one
    // groupBy(cid) with 64 partial-aggregated sums — no window, no
    // explode, no NxK shuffle (the cross join is map-only against the
    // broadcast). At production K (thousands) the per-dim agg columns
    // become a typed Aggregator over array buffers; the dataflow is
    // identical.
    Q("q_ivf_train",
      s"""WITH $kmeansDuck,
         |dn AS (SELECT a.cid,
         |    CAST(sum(list_sum(list_transform(generate_series(1, 64),
         |      i -> (a.qv[i] * u.cnt - u.sv[i]) * (a.qv[i] * u.cnt - u.sv[i]))))
         |      AS DECIMAL(38,0)) AS distortion_num
         |  FROM a2 a JOIN u2a u ON a.cid = u.cid GROUP BY a.cid)
         |SELECT u.cid, u.cnt AS n_members, u.sum_components,
         |  CAST(dn.distortion_num AS DOUBLE) / (u.cnt * u.cnt) AS distortion
         |FROM u2a u JOIN dn ON u.cid = dn.cid
         |ORDER BY u.cid""".stripMargin) { (s, d) =>
      val a2 = kmeansAssign(s, d)
      // the trained-centroid sums table (K rows) — memoized + persisted:
      // re-aggregating the 64 per-dim sums per run cost a 64-wide Catalyst
      // plan (planning alone ~0.3 s) plus a 32-task stage; the table IS
      // the train artifact (at 100 TB it's the written coarse quantizer)
      val u2a = graft.Caches.frame(s, d, "ivf-centroid-sums")(
        kmeansUpdate(a2).select(col("cid"), col("cnt"),
          expr(KmDims.map(i => s"s$i").mkString(" + ")).as("sum_components"),
          expr(KmDims.map(i => s"s$i").mkString("array(", ", ", ")")).as("sv")))
      // Σᵢ (qvᵢ·cnt − svᵢ)² expanded to cnt²·⟨qv,qv⟩ − 2·cnt·⟨qv,sv⟩ +
      // ⟨sv,sv⟩ — three codegen'd integer dot kernels instead of the
      // 64-term interpreted HOF fold; exact BIGINT arithmetic, identical
      // value (the expansion is algebra, not approximation). Per-ROW the
      // int64 headroom holds to ~×300 the test corpus (dnum ≲ cnt²·⟨qv,qv⟩
      // ≈ 5e16 at the ×100 replica rung), but the per-CELL SUM crossed
      // 2^63 there (measured ANSI overflow: ~cnt³·10⁶ ≈ 7e21), so the
      // accumulation — and the output column — are DECIMAL(38,0): exact
      // integer arithmetic to 10^38, mirrored by the oracle's HUGEINT sum
      // cast to the same type; the final distortion double divides the
      // identically-rounded exact value in both engines.
      val dot = graft.functions.ArrayOps.dotLong _
      val dn = a2.join(broadcast(u2a.select("cid", "cnt", "sv")), Seq("cid"))
        .withColumn("dnum",
          col("cnt") * col("cnt") * dot(col("qv"), col("qv"))
            - lit(2L) * col("cnt") * dot(col("qv"), col("sv"))
            + dot(col("sv"), col("sv")))
        .groupBy("cid")
        .agg(sum(col("dnum").cast("decimal(38,0)")).as("distortion_num"))
      // distortion_num stays INTERNAL (exact DECIMAL(38,0) accumulation —
      // still needed, int64 overflows at the ×100 rung) but is NOT emitted:
      // the driver's hash is type-sensitive and Spark's Decimal(38,0) and
      // DuckDB's HUGEINT-cast-to-DECIMAL render differently at the hash
      // layer even when bit-identical in value. The
      // `distortion` double divides the identically-rounded exact numerator
      // in both engines and carries the full signal.
      u2a.join(dn, Seq("cid"))
        .select(col("cid"), col("cnt").as("n_members"), col("sum_components"),
          (col("distortion_num").cast("double") / (col("cnt") * col("cnt")))
            .as("distortion"))
        .orderBy("cid")
    },

    // IVF search over the TRAINED cells: the end-to-end pipeline —
    // quantize → train (2 Lloyd iterations) → assign → search within the
    // query's cell. Same integer-cosine scoring as q_ann_quantized, same
    // equi-join-on-bucket shape as q_ann_ivf, but the bucket is the
    // trained centroid id instead of a given label. The assignment frame
    // is the persisted one the trainer produced — at 100 TB it's the
    // written silver index.
    Q("q_ann_ivf_trained",
      s"""WITH $kmeansDuck,
         |$ivfTopDuck
         |SELECT q_id, rnk, nn_id, cosine FROM tr WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) => ivfTrainedTop3(s, d) },

    // RECALL@3 of the trained-IVF pruned search vs the exact ranking —
    // the nprobe=1 quality number: how much the single-cell restriction
    // costs. Same bit-exact integer-cosine discipline as q_ann_recall,
    // so the metric is pure integer arithmetic. Read next to
    // q_cluster_purity: low purity cells and low IVF recall are the same
    // disease (a coarse quantizer that splits true neighbourhoods).
    Q("q_ivf_recall",
      s"""WITH $kmeansDuck,
         |n8 AS (SELECT vec_id, qv,
         |    sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS qn
         |  FROM q8),
         |$bruteTopDuck,
         |$ivfTopDuck
         |SELECT b.q_id, count(t.nn_id) AS n_hits,
         |  round(CAST(count(t.nn_id) AS DOUBLE) / 3, 6) AS recall
         |FROM (SELECT q_id, nn_id FROM br WHERE rnk <= 3) b
         |LEFT JOIN (SELECT q_id, nn_id FROM tr WHERE rnk <= 3) t
         |  ON t.q_id = b.q_id AND t.nn_id = b.nn_id
         |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin) { (s, d) =>
      val b3 = quantTop3(s, d).select("q_id", "nn_id")
      val t3 = ivfTrainedTop3(s, d)
        .select(col("q_id").as("tq"), col("nn_id").as("t_nn"))
      b3.join(broadcast(t3),
          col("q_id") === col("tq") && col("nn_id") === col("t_nn"),
          "left_outer")
        .groupBy("q_id")
        .agg(count(col("t_nn")).as("n_hits"),
          round(count(col("t_nn")).cast("double") / 3, 6).as("recall"))
        .orderBy("q_id")
    },

    // IVF-style pruned search: candidates restricted to the query's bucket
    // (label = given coarse centroid assignment). Equi-join on the bucket.
    Q("q_ann_ivf",
      s"""WITH $duckVecs,
         |q AS (SELECT vec_id AS q_id, label, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |sc AS (SELECT q.q_id, c.vec_id AS nn_id,
         |    list_sum(list_transform(q.qv, (x,i) -> x * c.v[i])) / (q.qn * c.nrm) AS cosine
         |  FROM q JOIN n c ON c.label = q.label AND c.vec_id <> q.q_id),
         |r AS (SELECT q_id, nn_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, nn_id ASC) AS rnk
         |  FROM sc)
         |SELECT q_id, rnk, nn_id, cosine FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val n = vecs(s, d)
      val q = n.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val c = n.select(col("vec_id").as("nn_id"), col("label"),
        col("v").as("cv"), col("nrm").as("cn"))
      val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("nn_id"))
      c.join(broadcast(q), Seq("label"))
        .where(col("nn_id") =!= col("q_id"))
        .select(col("q_id"), col("nn_id"), cosSpark.as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("q_id", "rnk", "nn_id", "cosine")
        .orderBy("q_id", "rnk")
    },

    // Random-hyperplane LSH: 8 hash tables x 4 sign bits over the INT8
    // quantized vectors. A candidate is anything sharing ANY table's
    // bucket with the query (exploded (table, bucket) equi-join +
    // distinct — the standard multi-table LSH layout on Spark). Running
    // the hash on qv instead of the double vectors makes every bit an
    // integer-dot SIGN — bit-exact in both engines — and the candidate
    // scoring the same all-integer cosine as q_ann_quantized, so the
    // whole query is deterministically oracle-checkable (it was rows-only
    // while the bits came from 64-float dot products). The per-vector
    // quantization scale is positive, so sign(qv·p) = sign(v·p) except
    // where rounding flips a near-zero projection — recall@3 vs exact
    // brute force stays 0.8 on this corpus (SimilaritySpec floor 0.5;
    // the corpus' max cosine ~0.5 is LSH's worst case).
    Q("q_ann_lsh",
      s"""WITH $quantizedDuck,
         |$lshTopDuck
         |SELECT q_id, rnk, nn_id, cosine FROM lr WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) => lshTop3(s, d) },

    // ANN QUALITY EVALUATION: recall@3 of the LSH candidate ranking
    // against the exact integer-cosine ground truth, per query. This is
    // the acceptance metric every approximate index ships with — the
    // number that decides whether a bucketing config (tables × bits) is
    // allowed to replace the brute-force scan. Both rankings use the same
    // bit-exact integer cosine with the same (cosine DESC, nn_id) total
    // order, so the top-3 SETS are cross-engine identical and recall is
    // integer arithmetic — fully hash-checkable, no tolerance games. At
    // 100 TB the ground truth comes from a sampled query set (never the
    // full corpus); the join shape is unchanged: two TakeOrdered top-k
    // frames, k·|queries| rows each, joined on (q_id, nn_id).
    Q("q_ann_recall",
      s"""WITH $quantizedDuck,
         |$lshTopDuck,
         |$bruteTopDuck
         |SELECT b.q_id, count(l.nn_id) AS n_hits,
         |  round(CAST(count(l.nn_id) AS DOUBLE) / 3, 6) AS recall
         |FROM (SELECT q_id, nn_id FROM br WHERE rnk <= 3) b
         |LEFT JOIN (SELECT q_id, nn_id FROM lr WHERE rnk <= 3) l
         |  ON l.q_id = b.q_id AND l.nn_id = b.nn_id
         |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin) { (s, d) =>
      val b3 = quantTop3(s, d).select("q_id", "nn_id")
      val l3 = lshTop3(s, d)
        .select(col("q_id").as("lq"), col("nn_id").as("l_nn"))
      b3.join(broadcast(l3),
          col("q_id") === col("lq") && col("nn_id") === col("l_nn"),
          "left_outer")
        .groupBy("q_id")
        .agg(count(col("l_nn")).as("n_hits"),
          round(count(col("l_nn")).cast("double") / 3, 6).as("recall"))
        .orderBy("q_id")
    },

    // GRADED ranking quality: nDCG@3 of the LSH ranking, relevance
    // graded by the exact ranking's position (rel = 4 − true rank; 0 for
    // anything outside the true top-3). Complements q_ann_recall's set
    // metric: recall can't see that the index returned the right
    // neighbours in the wrong ORDER, nDCG can. IDCG is the same
    // expression text in both dialects; position discounts are
    // log2(rank+1) on integer ranks, so the only float work is three
    // discounted terms per query, rounded to 6 dp.
    Q("q_ann_ndcg",
      s"""WITH $quantizedDuck,
         |$lshTopDuck,
         |$bruteTopDuck,
         |rel AS (SELECT q_id, nn_id, 4 - rnk AS rel FROM br WHERE rnk <= 3)
         |SELECT l.q_id,
         |  round(sum(coalesce(r.rel, 0) / log2(l.rnk + 1)), 6) AS dcg,
         |  round(sum(coalesce(r.rel, 0) / log2(l.rnk + 1)) / $idcgSql, 6)
         |    AS ndcg,
         |  count(*) AS n_ranked
         |FROM (SELECT q_id, nn_id, rnk FROM lr WHERE rnk <= 3) l
         |LEFT JOIN rel r ON r.q_id = l.q_id AND r.nn_id = l.nn_id
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val truth = quantTop3(s, d)
        .select(col("q_id").as("tq"), col("nn_id").as("t_nn"),
          (lit(4) - col("rnk")).as("rel"))
      val l3 = lshTop3(s, d).select("q_id", "nn_id", "rnk")
      val dcg = sum(coalesce(col("rel"), lit(0)) / log2(col("rnk") + 1))
      l3.join(broadcast(truth),
          col("q_id") === col("tq") && col("nn_id") === col("t_nn"),
          "left_outer")
        .groupBy("q_id")
        .agg(round(dcg, 6).as("dcg"),
          round(dcg / expr(idcgSql), 6).as("ndcg"),
          count(lit(1)).as("n_ranked"))
        .orderBy("q_id")
    },

    // SEMANTIC DEDUP (SemDeDup shape): prune embedding-space near-copies
    // CLUSTERING-QUALITY EVAL: label purity per trained k-means cell —
    // the sanity check that decides whether the coarse quantizer's cells
    // mean anything before they gate IVF search or SemDeDup pruning.
    // Majority label per cell with a deterministic tiebreak (count DESC,
    // label ASC); purity = majority fraction. Labels join the persisted
    // assignment on vec_id (one equi-join); the count frame is
    // |cells|·|labels| — domain-bounded, never row-bounded.
    Q("q_cluster_purity",
      s"""WITH $kmeansDuck,
         |lab AS (SELECT a2.vec_id, a2.cid, e.label
         |  FROM a2 JOIN embeddings e USING (vec_id)),
         |g AS (SELECT cid, label, count(*) AS cnt FROM lab GROUP BY 1, 2),
         |m AS (SELECT cid, label AS maj_label, cnt,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY cnt DESC, label ASC) AS rn
         |  FROM g),
         |t AS (SELECT cid, sum(cnt) AS n FROM g GROUP BY 1)
         |SELECT t.cid, CAST(t.n AS BIGINT) AS n, m.maj_label,
         |  round(CAST(m.cnt AS DOUBLE) / t.n, 6) AS purity
         |FROM t JOIN m ON m.cid = t.cid AND m.rn = 1
         |ORDER BY t.cid""".stripMargin) { (s, d) =>
      val lab = kmeansAssign(s, d).select("vec_id", "cid")
        .join(Tables.embeddings(s, d).select("vec_id", "label"), Seq("vec_id"))
      val g = lab.groupBy("cid", "label").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("cid").orderBy(desc("cnt"), asc("label"))
      g.withColumn("rn", row_number().over(w))
        .withColumn("n", sum("cnt").over(Window.partitionBy("cid")))
        .where(col("rn") === 1)
        .select(col("cid"), col("n"), col("label").as("maj_label"),
          round(col("cnt").cast("double") / col("n"), 6).as("purity"))
        .orderBy("cid")
    },

    // WITHIN each trained k-means cell — quantize → train → assign (the
    // persisted IVF assignment), then integer-cosine pairs inside a cell
    // only, dropping every vector that has a smaller-id partner at
    // cosine >= 0.4 (deterministic greedy keep-the-first, the same
    // min-id survivor rule the text dedup uses). Cell blocking alone is
    // NOT a bound — clone families (the dominant artifact of a web-scale
    // corpus, and exactly what ScaleUp injects) inflate each cell's
    // population m-fold and an all-pairs join m²-fold. Two mechanisms
    // bound it (see [[semDedupPairsFrom]]): exact-duplicate COLLAPSE
    // (pairs run over distinct quantized vectors only — provably
    // result-identical, and immune to duplicate multiplicity) and a hard
    // per-cell representative cap as the adversarial backstop. Output is
    // every vector with its cell and kept/dropped status.
    Q("q_semdedup",
      s"""WITH $kmeansDuck,
         |n8s AS (SELECT vec_id, qv, cid,
         |    sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS qn
         |  FROM a2),
         |gm AS (SELECT vec_id, qv, cid, qn,
         |    min(vec_id) OVER (PARTITION BY cid, array_to_string(qv, ','))
         |      AS mid
         |  FROM n8s),
         |g AS (SELECT vec_id AS mid, qv, cid, qn FROM gm WHERE vec_id = mid),
         |r AS (SELECT mid, qv, cid, qn,
         |    row_number() OVER (PARTITION BY cid ORDER BY mid) AS rn FROM g),
         |p AS (SELECT b.mid AS b_mid,
         |    CASE WHEN a.qn * b.qn = 0 THEN NULL
         |         ELSE list_sum(list_transform(a.qv, (x,i) -> x * b.qv[i]))::DOUBLE
         |           / (a.qn * b.qn) END AS cosine
         |  FROM r a JOIN g b
         |    ON a.cid = b.cid AND a.mid < b.mid AND a.rn <= $SemDedupCellCap),
         |dr AS (SELECT DISTINCT b_mid AS mid FROM p WHERE cosine >= 0.4)
         |SELECT gm.vec_id, gm.cid,
         |  CASE WHEN gm.qn = 0 THEN 'kept'
         |       WHEN gm.vec_id = gm.mid AND dr.mid IS NULL THEN 'kept'
         |       ELSE 'dropped' END AS status
         |FROM gm LEFT JOIN dr ON dr.mid = gm.mid
         |ORDER BY gm.vec_id""".stripMargin) { (s, d) =>
      semDedupStatus(s, d).orderBy("vec_id")
    },

    // HYBRID RETRIEVAL FUSION (reciprocal-rank fusion, k = 60): the
    // union-of-rankers shape every modern retrieval/curation stack runs —
    // a lexical ranking (the shared BM25 scorer, query doc excluded) and
    // a dense ranking (cosine against document 0's embedding; the
    // synthetic corpus pairs vec_id with doc_id) each contribute
    // 1/(60 + rank) for their top-50, and documents surface on the fused
    // score even when only one ranker saw them (full outer join +
    // coalesce). RRF needs no score normalization across rankers — ranks
    // are scale-free — which is exactly why it survives at 100 TB where
    // score distributions drift per shard; both ranker top-50s are
    // TakeOrdered results, so the fusion join touches 100 rows max.
    Q("q_hybrid_rank", {
      val rrf = "coalesce(CAST(1.0 AS DOUBLE) / (60 + br), CAST(0.0 AS DOUBLE)) + " +
        "coalesce(CAST(1.0 AS DOUBLE) / (60 + dr), CAST(0.0 AS DOUBLE))"
      s"""WITH ${TextOps.bm25ScoresDuck},
         |$duckVecs,
         |br AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS br
         |  FROM (SELECT doc_id, score FROM bsc WHERE doc_id <> 0
         |        ORDER BY score DESC, doc_id LIMIT 50) bx),
         |dq AS (SELECT v, nrm FROM n WHERE vec_id = 0),
         |dsc AS (SELECT n.vec_id AS doc_id,
         |    list_sum(list_transform(dq.v, (x,i) -> x * n.v[i]))
         |      / (dq.nrm * n.nrm) AS cosine
         |  FROM n, dq WHERE n.vec_id <> 0),
         |dr AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY cosine DESC, doc_id) AS dr
         |  FROM (SELECT doc_id, cosine FROM dsc
         |        ORDER BY cosine DESC, doc_id LIMIT 50) dx),
         |f AS (SELECT coalesce(br.doc_id, dr.doc_id) AS doc_id,
         |    br.br AS br, dr.dr AS dr
         |  FROM br FULL OUTER JOIN dr ON br.doc_id = dr.doc_id),
         |top AS (SELECT doc_id, br, dr, $rrf AS rrf FROM f
         |  ORDER BY rrf DESC, doc_id LIMIT 20)
         |SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk,
         |  doc_id, CAST(br AS BIGINT) AS bm25_rank,
         |  CAST(dr AS BIGINT) AS dense_rank, rrf
         |FROM top ORDER BY rnk""".stripMargin
    }) { (s, d) =>
      val rrf = "coalesce(CAST(1.0 AS DOUBLE) / (60 + br), CAST(0.0 AS DOUBLE)) + " +
        "coalesce(CAST(1.0 AS DOUBLE) / (60 + dr), CAST(0.0 AS DOUBLE))"
      val wB = Window.orderBy(desc("score"), asc("doc_id"))
      val br = TextOps.bm25Scores(s, d)
        .where(col("doc_id") =!= 0)
        .orderBy(desc("score"), asc("doc_id")).limit(50)
        .withColumn("br", row_number().over(wB))
        .select("doc_id", "br")
      val vs = vecs(s, d)
      val q0 = vs.where(col("vec_id") === 0)
        .select(col("v").as("qv0"), col("nrm").as("qn0"))
      val dsc = vs.where(col("vec_id") =!= 0).crossJoin(broadcast(q0))
        .select(col("vec_id").as("doc_id"),
          try_divide(ArrayOps.dotDouble(col("qv0"), col("v")),
            col("qn0") * col("nrm")).as("cosine"))
      val wD = Window.orderBy(desc("cosine"), asc("doc_id"))
      val dr = dsc.orderBy(desc("cosine"), asc("doc_id")).limit(50)
        .withColumn("dr", row_number().over(wD))
        .select("doc_id", "dr")
      val wF = Window.orderBy(desc("rrf"), asc("doc_id"))
      br.join(dr, Seq("doc_id"), "full_outer")
        .withColumn("rrf", expr(rrf))
        .orderBy(desc("rrf"), asc("doc_id")).limit(20)
        .withColumn("rnk", row_number().over(wF))
        .select(col("rnk"), col("doc_id"),
          col("br").cast("long").as("bm25_rank"),
          col("dr").cast("long").as("dense_rank"), col("rrf"))
        .orderBy("rnk")
    },

    // TWO-STAGE ANN (coarse → refine): the production retrieval shape —
    // a cheap int8 scan proposes top-20 candidates per query, and only
    // those 20 are re-scored with full-precision cosine for the final
    // top-3. At 100 TB the refine stage touches 20 rows per query
    // regardless of corpus size (the full-precision vectors are fetched
    // by id, never scanned), which is why every real ANN system layers
    // exactly this refinement over its quantized index. Candidate
    // generation reuses the quantized frame; the refine join is an
    // equi-join on vec_id against the double-precision frame.
    Q("q_ann_rerank",
      s"""WITH $quantizedDuck,
         |n8 AS (SELECT vec_id, qv,
         |    sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS qn
         |  FROM q8),
         |qq AS (SELECT vec_id AS q_id, qv AS qa, qn AS qna
         |  FROM n8 WHERE vec_id < 10),
         |coarse AS (SELECT q_id, nn_id FROM (
         |    SELECT qq.q_id, c.vec_id AS nn_id,
         |      row_number() OVER (PARTITION BY qq.q_id ORDER BY
         |        list_sum(list_transform(qq.qa, (x,i) -> x * c.qv[i]))::DOUBLE
         |          / (qq.qna * c.qn) DESC, c.vec_id ASC) AS crnk
         |    FROM qq JOIN n8 c ON c.vec_id <> qq.q_id) t
         |  WHERE crnk <= 20),
         |fv AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))
         |      AS nrm
         |  FROM embeddings),
         |fine AS (SELECT co.q_id, co.nn_id,
         |    list_sum(list_transform(a.v, (x,i) -> x * b.v[i]))
         |      / (a.nrm * b.nrm) AS cosine
         |  FROM coarse co JOIN fv a ON a.vec_id = co.q_id
         |                 JOIN fv b ON b.vec_id = co.nn_id),
         |r AS (SELECT q_id, nn_id, cosine,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, nn_id ASC) AS rnk
         |  FROM fine)
         |SELECT q_id, rnk, nn_id, cosine FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val n8 = quantizedVecs(s, d)
      val qq = n8.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qv").as("qa"),
          col("qn").as("qna"))
      val wc = Window.partitionBy("q_id").orderBy(desc("ccos"), asc("nn_id"))
      val coarse = n8.select(col("vec_id").as("nn_id"), col("qv"), col("qn"))
        .join(broadcast(qq), col("nn_id") =!= col("q_id"))
        .select(col("q_id"), col("nn_id"),
          (ArrayOps.dotLong(col("qa"), col("qv")).cast("double") /
            (col("qna") * col("qn"))).as("ccos"))
        .withColumn("crnk", row_number().over(wc))
        .where(col("crnk") <= 20)
        .select("q_id", "nn_id")
      val fv = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
      val wf = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("nn_id"))
      coarse
        .join(fv.select(col("vec_id").as("q_id"), col("v").as("qv0"),
          col("nrm").as("qn0")), Seq("q_id"))
        .join(fv.select(col("vec_id").as("nn_id"), col("v").as("cv"),
          col("nrm").as("cn")), Seq("nn_id"))
        .select(col("q_id"), col("nn_id"),
          try_divide(ArrayOps.dotDouble(col("qv0"), col("cv")),
            col("qn0") * col("cn")).as("cosine"))
        .withColumn("rnk", row_number().over(wf))
        .where(col("rnk") <= 3)
        .select("q_id", "rnk", "nn_id", "cosine")
        .orderBy("q_id", "rnk")
    },

    // HARD-NEGATIVE MINING for contrastive training: for each query
    // vector, the top-3 most-similar candidates with a DIFFERENT label —
    // the "closest wrong answers" that make the strongest negatives for
    // embedding-model training (easy random negatives carry no gradient).
    // Same broadcast-the-queries / integer-cosine shape as
    // q_ann_quantized, plus the label-disequality predicate fused into
    // the join condition so rejected candidates never leave the probe
    // task. At 100 TB the exhaustive candidate side becomes the IVF/LSH
    // bucket stream; the scoring and per-query top-k are unchanged.
    Q("q_hard_negatives",
      s"""WITH $quantizedDuck,
         |n8 AS (SELECT q8.vec_id, qv, e2.label,
         |    sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS qn
         |  FROM q8 JOIN embeddings e2 USING (vec_id)),
         |q AS (SELECT vec_id AS q_id, qv AS qa, qn AS qna, label AS ql
         |  FROM n8 WHERE vec_id < 10),
         |sc AS (SELECT q.q_id, q.ql AS q_label, c.vec_id AS nn_id, c.label,
         |    list_sum(list_transform(q.qa, (x,i) -> x * c.qv[i]))::DOUBLE
         |      / (q.qna * c.qn) AS cosine
         |  FROM q JOIN n8 c ON c.label <> q.ql),
         |r AS (SELECT q_id, q_label, nn_id, label, cosine,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, nn_id ASC) AS rnk
         |  FROM sc)
         |SELECT q_id, q_label, rnk, nn_id, label, cosine FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val n8 = quantizedVecs(s, d)
        .join(Tables.embeddings(s, d).select("vec_id", "label"), Seq("vec_id"))
      val q = n8.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qv").as("qa"),
          col("qn").as("qna"), col("label").as("ql"))
      val w = Window.partitionBy("q_id").orderBy(desc("cosine"), asc("nn_id"))
      n8.select(col("vec_id").as("nn_id"), col("qv"), col("qn"), col("label"))
        .join(broadcast(q), col("label") =!= col("ql"))
        .select(col("q_id"), col("ql").as("q_label"), col("nn_id"), col("label"),
          (ArrayOps.dotLong(col("qa"), col("qv")).cast("double") /
            (col("qna") * col("qn"))).as("cosine"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("q_id", "q_label", "rnk", "nn_id", "label", "cosine")
        .orderBy("q_id", "rnk")
    },

    // Per-label embedding scatter report — the class-separation audit run
    // on a labeled embedding corpus before training on it (a label whose
    // within-class scatter rivals its distance to the nearest other
    // centroid is noisy or mislabeled). All moments come from
    // map-side-combinable integer sufficient statistics over the int8
    // vectors (count, per-dim sums, Σ‖v‖²): within-SS uses the exact
    // integer identity Σ‖v−c‖² = (n·Σ‖v‖² − Σ_d s_d²)/n — numerator
    // all-BIGINT like q_ivf_train's distortion — and only the final
    // divisions are doubles. Centroid pair distances fold double
    // centroids in fixed dim order (identical IEEE ops both engines).
    // One groupBy(label) shuffle; the 4×4 centroid cross join is
    // label-count-bounded, never data-bounded.
    Q("q_label_scatter", {
      val dims = 1 to 64
      val sums = dims.map(i => s"sum(qv[$i]) AS s$i").mkString(",\n    ")
      val sArr = dims.map(i => s"s$i").mkString("[", ", ", "]")
      val sqSum = dims.map(i => s"s$i * s$i").mkString(" + ")
      s"""WITH $quantizedDuck,
         |v AS (SELECT q8.vec_id, qv, e2.label
         |  FROM q8 JOIN embeddings e2 USING (vec_id)),
         |u0 AS (SELECT label, count(*) AS cnt,
         |    CAST(sum(list_sum(list_transform(qv, x -> x * x))) AS BIGINT) AS ssq,
         |    $sums
         |  FROM v GROUP BY label),
         |u AS (SELECT label, cnt, ssq,
         |    CAST(cnt * ssq - ($sqSum) AS BIGINT) AS within_num,
         |    $sArr AS sv
         |  FROM u0),
         |p AS (SELECT a.label, b.label AS nn_label,
         |    list_sum(list_transform(generate_series(1, 64),
         |      i -> (a.sv[i]::DOUBLE / a.cnt - b.sv[i]::DOUBLE / b.cnt)
         |         * (a.sv[i]::DOUBLE / a.cnt - b.sv[i]::DOUBLE / b.cnt)))
         |      AS cdist
         |  FROM u a JOIN u b ON a.label <> b.label),
         |r AS (SELECT label, nn_label, cdist,
         |    row_number() OVER (PARTITION BY label
         |      ORDER BY cdist, nn_label) AS rn
         |  FROM p)
         |SELECT u.label, CAST(u.cnt AS BIGINT) AS n_vecs, u.ssq,
         |  CAST(u.within_num AS DOUBLE) / u.cnt AS within_ss,
         |  CAST(u.within_num AS DOUBLE) / (u.cnt * u.cnt) AS mean_within,
         |  r.nn_label, r.cdist AS centroid_dist
         |FROM u JOIN r ON u.label = r.label AND r.rn = 1
         |ORDER BY u.label""".stripMargin
    }) { (s, d) =>
      val dims = 1 to 64
      // the label-bounded (4-row) sufficient-statistics frame is consumed
      // TWICE below (centroid pairs + the final report join) — memoized +
      // persisted, or the full embedding scan + 66-column aggregate runs
      // twice per execution (measured: the whole query halves at sf0.1)
      val u = graft.Caches.frame(s, d, "label-scatter-u") {
        val v = quantizedVecs(s, d)
          .join(Tables.embeddings(s, d).select("vec_id", "label"),
            Seq("vec_id"))
        val aggCols = count(lit(1)).as("cnt") +:
          sum(ArrayOps.dotLong(col("qv"), col("qv"))).cast("long").as("ssq") +:
          dims.map(i => sum(expr(s"element_at(qv, $i)")).as(s"s$i"))
        v.groupBy("label").agg(aggCols.head, aggCols.tail: _*)
          .select(col("label"), col("cnt"), col("ssq"),
            (col("cnt") * col("ssq") -
              expr(dims.map(i => s"s$i * s$i").mkString(" + ")))
              .cast("long").as("within_num"),
            expr(dims.map(i => s"s$i").mkString("array(", ", ", ")")).as("sv"))
      }
      val cent = u.select(col("label"), col("sv"), col("cnt"))
        .withColumn("cv", expr("transform(sv, x -> cast(x AS double) / cnt)"))
      val p = cent.select(col("label"), col("cv"))
        .join(broadcast(
          cent.select(col("label").as("nn_label"), col("cv").as("cvb"))),
          col("label") =!= col("nn_label"))
        .select(col("label"), col("nn_label"),
          ArrayOps.sqDistDouble(col("cv"), col("cvb")).as("cdist"))
      val w = Window.partitionBy("label").orderBy(asc("cdist"), asc("nn_label"))
      val near = p.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).select("label", "nn_label", "cdist")
      u.join(near, Seq("label"))
        .select(col("label"), col("cnt").cast("long").as("n_vecs"), col("ssq"),
          (col("within_num").cast("double") / col("cnt")).as("within_ss"),
          (col("within_num").cast("double") / (col("cnt") * col("cnt")))
            .as("mean_within"),
          col("nn_label"), col("cdist").as("centroid_dist"))
        .orderBy("label")
    }
  )
}
