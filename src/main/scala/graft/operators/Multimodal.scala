package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the training-data pipeline tier: media
  * payloads ride as opaque `binary` columns with typed metadata; decode /
  * feature-extraction runs partition-batched. The decode step is REAL as of
  * round 8: [[graft.functions.Bmp]] is a pure-JVM codec for uncompressed
  * 24-bit BMP (no external codec libraries needed), image fixtures are
  * synthesized deterministically from document bytes at the ingest step
  * ([[bmpPayloads]]), and q_mm_decode parses actual BMP headers + pixel
  * rows. The round-7 FakeDecoder stub is gone; q_mm_features keeps its
  * (unchanged, honestly named) payload byte-statistics semantics.
  *
  * Scale design (100 TB): payload bytes never enter a shuffle — metadata
  * extraction and feature extraction are map-only over the scan, and any
  * downstream join/dedup runs on the extracted (narrow) features.
  * `documents.text` stands in for the media payload via UTF-8 encoding.
  */
object Multimodal {

  /** (doc_id, chunk_idx, n_units, chunk_hash) — the 64-unit payload
    * chunking, memoized + persisted: the chunk layout dump and the
    * chunk-hash dedup both start from this identical map-only explode +
    * per-chunk hash, which is the substring-heavy half of each.
    */
  private def chunkHashes(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.TextHash
    graft.Caches.frame(s, d, "mm-chunks")(
      Tables.documents(s, d)
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(expr(
            "sequence(1, cast(ceil(char_length(text) / 64.0) AS bigint))"))
            .as("chunk_idx"))
        .withColumn("chunk", expr(
          "substring(text, cast((chunk_idx - 1) * 64 + 1 AS int), 64)"))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast("long").as("n_units"),
          expr(TextHash.polySpark("chunk")).as("chunk_hash")))
  }

  /** Exact-duplicate collapse membership over the chunk-bearing corpus:
    * (doc_id, gid), gid = min doc_id among documents with an IDENTICAL
    * distinct chunk-hash SET — the mm twin of Dedup.dupGroups. The chunk
    * set is a pure function of the payload bytes, so members of a group
    * are interchangeable in the pairwise chunk-overlap computation: a
    * member pair's shared-chunk count IS its delegates' count, not an
    * approximation. This is what q_mm_dedup was missing at the ×300 rung
    * (the only superlinear query there, ×386 wall on ×300 data): clone
    * multiplicity entered the postings self-join directly, m² per hot
    * chunk. Collapsed, the quadratic stage sees one delegate per distinct
    * payload — constant under clone replication — and multiplicity only
    * re-enters in the output-bound expansion joins.
    *
    * One groupBy(doc_id) to build the set + one hash-partitioned window
    * on the set array (Spark arrays are group-comparable); the persisted
    * frame is two BIGINTs per chunk-bearing doc.
    */
  private[graft] def mmDupGroups(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Caches.frame(s, d, "mm-dup-groups")(
      chunkHashes(s, d)
        .groupBy("doc_id")
        .agg(sort_array(collect_set(col("chunk_hash"))).as("hs"))
        .withColumn("gid", min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("hs")))
        .select("doc_id", "gid"))

  /** Distinct (doc_id, h) chunk-hash postings of the DELEGATES only — the
    * input of both pairwise mm-dedup stages, hash-partitioned on the chunk
    * hash so the self-join needs no further exchange. Bounded by the
    * distinct-payload population, not the corpus.
    */
  private def mmDelegatePostings(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Caches.frame(s, d, "mm-dpostings")(
      chunkHashes(s, d)
        .select(col("doc_id"), col("chunk_hash").as("h")).distinct()
        .join(mmDupGroups(s, d).where(col("doc_id") === col("gid"))
          .select("doc_id"), Seq("doc_id"), "left_semi")
        .repartition(col("h")))

  /** Delegate-level shared-chunk pair stage + output-bound expansion,
    * shared by the uncapped and df-capped mm dedup queries. `ex` is a
    * (doc_id, h) delegate posting frame (already df-filtered for the
    * capped variant); pairs sharing >= 3 distinct chunk hashes survive.
    * Within-group pairs (exact payload clones) share ALL of their
    * delegate's surviving chunks, so their n_shared is the delegate's
    * surviving posting count — eligible only when that count clears the
    * same >= 3 bar (a payload whose every chunk was capped away emits no
    * postings, hence no pair with its own exact clone — the same
    * eligibility edge the text family's frac-capped collapse preserves).
    */
  private def mmDedupPairs(mem: org.apache.spark.sql.DataFrame,
      ex: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dpairs = ex.select(col("doc_id").as("a_id"), col("h"))
      .join(ex.select(col("doc_id").as("b_id"), col("h")), Seq("h"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
    val eligible = ex.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
      .withColumnRenamed("doc_id", "gid")
    // (a_id, b_id) stays unique across the union — cross-group pairs have
    // distinct gids, within-group pairs share one — so the final
    // ORDER BY a_id, b_id is total.
    Dedup.expandDelegatePairs(dpairs, mem)
      .unionByName(Dedup.withinGroupPairs(mem, eligible))
      .orderBy("a_id", "b_id")
  }

  /** Payload byte statistics [byteLen, mean, max, checksum] — the cheap
    * pre-decode feature tier (corrupt-file triage, size histograms) every
    * media pipeline extracts before spending codec cycles. Deterministic
    * byte math, so the DuckDB oracle recomputes it exactly.
    */
  private[operators] def byteStats(payload: Array[Byte]): Array[Double] = {
    if (payload.isEmpty) Array(0.0, 0.0, 0.0, 0.0)
    else {
      val unsigned = payload.map(b => (b & 0xff).toDouble)
      Array(
        payload.length.toDouble,
        unsigned.sum / payload.length,
        unsigned.max,
        unsigned.sum % 256.0)
    }
  }

  /** Deterministic image-fixture synthesis — the ingest step that turns the
    * text corpus into a REAL media column: per document (n = UTF-8 byte
    * length > 0), a w×h 24-bit image with w = 1 + n mod 13, h = 1 + n mod 7
    * and RGB bytes cycled from the document's own bytes, encoded as a
    * complete BMP file by [[graft.functions.Bmp.encode24]]. Partition-
    * batched map, payloads never shuffled. The construction is pure integer
    * arithmetic on bytes, so the oracle can derive the expected DECODED
    * pixels without a codec — which is what keeps q_mm_decode byte-exact
    * while the Spark side parses actual headers.
    */
  private[operators] def bmpPayloads(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.functions.Bmp
    Tables.documents(s, d)
      .where(length(col("text")) > 0)
      .withColumn("raw", encode(col("text"), "UTF-8"))
      .select(col("doc_id"), col("raw"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val n = bytes.length
          val w = 1 + n % 13
          val h = 1 + n % 7
          val rgb = Array.tabulate(w * h * 3)(i => bytes(i % n))
          (id, Bmp.encode24(w, h, rgb))
        }
      }.toDF("doc_id", "payload")
  }

  val entries: Seq[Q] = Seq(

    // Binary payload + typed metadata: the bronze layout for media columns.
    Q("q_mm_meta",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  length(text) AS n_chars_meta,
        |  octet_length(encode(text))::DOUBLE / length(text) AS bytes_per_char
        |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(length(col("text")) > 0)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          length(col("text")).cast("long").as("n_chars_meta"),
          (length(col("payload")).cast("double") / length(col("text")))
            .as("bytes_per_char"))
        .orderBy("doc_id")
    },

    // Frame sampling: every 50th unit of the payload -> thumbnail. The
    // sequence/transform shape is exactly how frame indices map over a
    // video byte stream; here units are characters.
    Q("q_mm_framesample",
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN ''
        |       ELSE array_to_string(list_transform(
        |         generate_series(1, length(text), 50), i -> substr(text, i, 1)), '')
        |  END AS thumb,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE len(generate_series(1, length(text), 50)) END AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(length(col("text")) === 0, "")
            .otherwise(expr(
              "array_join(transform(sequence(1, char_length(text), 50), i -> substring(text, i, 1)), '')"))
            .as("thumb"),
          when(length(col("text")) === 0, 0L)
            .otherwise(expr("size(sequence(1, char_length(text), 50))").cast("long"))
            .as("n_frames"))
        .orderBy("doc_id")
    },

    // Fixed-size payload chunking: one row per 64-unit chunk with its
    // length and content hash — the layout for chunked decode/transcode/
    // upload of media too large to process whole (each chunk is an
    // independent unit of work, so a 4 GB video fans out over the
    // cluster instead of pinning one task). Map-only explode; chunk
    // hashes via the dual-dialect polyHash so dedup can run chunk-level.
    Q("q_mm_chunks", {
      import graft.functions.TextHash
      s"""SELECT doc_id, chunk_idx,
         |  length(chunk) AS n_units,
         |  ${TextHash.polyDuck("chunk")} AS chunk_hash
         |FROM (
         |  SELECT doc_id, i AS chunk_idx, substr(text, (i - 1) * 64 + 1, 64) AS chunk
         |  FROM documents, unnest(generate_series(1,
         |    CAST(ceil(length(text) / 64.0) AS BIGINT))) AS u(i)
         |  WHERE length(text) > 0)
         |ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, d) =>
      chunkHashes(s, d).orderBy("doc_id", "chunk_idx")
    },

    // Chunk-hash payload dedup: binary blobs sharing >= 3 distinct
    // content-chunk hashes are near-dup media — the content-addressed
    // dedup a 100 TB multimodal corpus runs BEFORE any decode (byte-level,
    // codec-agnostic, catches re-uploads, trims, and container re-wraps
    // that whole-file hashing misses). Same inverted-index shape as the
    // n-gram text dedup — and, as of round 13, the same exact-duplicate
    // COLLAPSE: the postings self-join runs over one delegate per distinct
    // chunk-hash set ([[mmDupGroups]]), so duplicate multiplicity never
    // enters the quadratic stage (it was the only ×300-superlinear query
    // before this). Payload bytes never enter the shuffle (hashes only);
    // the m×m member fan-out happens in the output-bound expansion joins,
    // whose intermediates ARE the result rows. The oracle keeps the naive
    // self-join formulation — bit-identical semantics, the collapse is
    // pure plan shape.
    Q("q_mm_dedup", {
      import graft.functions.TextHash
      s"""WITH ch AS (
         |  SELECT DISTINCT doc_id, ${TextHash.polyDuck("chunk")} AS h
         |  FROM (
         |    SELECT doc_id, substr(text, (i - 1) * 64 + 1, 64) AS chunk
         |    FROM documents, unnest(generate_series(1,
         |      CAST(ceil(length(text) / 64.0) AS BIGINT))) AS u(i)
         |    WHERE length(text) > 0))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM ch a JOIN ch b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY a_id, b_id""".stripMargin
    }) { (s, d) =>
      mmDedupPairs(mmDupGroups(s, d), mmDelegatePostings(s, d))
    },

    // The scale path for ORGANIC hot chunks (shared container headers,
    // codec boilerplate — exactly what a real media corpus is full of):
    // chunk hashes present in more than 1% of chunk-bearing payloads are
    // boilerplate, not evidence of shared content, and are dropped from
    // the postings BEFORE the pair join — the q_dedup_ngram_fcapped
    // treatment. The cap is integer-exact on both engines (df * 100 >
    // n_docs — no float literal, no ceil-of-decimal divergence) and
    // FRACTIONAL, so it scales with the corpus instead of silently
    // capping everything at 100 TB. Spark computes each delegate chunk's
    // df over the FULL corpus (delegates weighted by group size: Σm over
    // groups containing the chunk ≡ the naive per-doc count), so the hot
    // set matches the oracle's exactly.
    Q("q_mm_dedup_capped", {
      import graft.functions.TextHash
      s"""WITH ch AS (
         |  SELECT DISTINCT doc_id, ${TextHash.polyDuck("chunk")} AS h
         |  FROM (
         |    SELECT doc_id, substr(text, (i - 1) * 64 + 1, 64) AS chunk
         |    FROM documents, unnest(generate_series(1,
         |      CAST(ceil(length(text) / 64.0) AS BIGINT))) AS u(i)
         |    WHERE length(text) > 0)),
         |nd AS (SELECT count(DISTINCT doc_id) AS n FROM ch),
         |keep AS (
         |  SELECT h FROM ch GROUP BY h
         |  HAVING count(*) * 100 <= (SELECT n FROM nd)),
         |cf AS (SELECT ch.doc_id, ch.h FROM ch JOIN keep USING (h))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM cf a JOIN cf b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY a_id, b_id""".stripMargin
    }) { (s, d) =>
      val mem = mmDupGroups(s, d)
      val gsizes = mem.groupBy("gid").agg(count(lit(1)).as("m"))
      val ex0 = mmDelegatePostings(s, d)
      val dfs = ex0
        .join(gsizes.select(col("gid").as("doc_id"), col("m")), Seq("doc_id"))
        .groupBy("h").agg(sum("m").as("df"))
      val n = gsizes.agg(sum("m").as("n_docs"))
      val hot = dfs.crossJoin(broadcast(n))
        .where(col("df") * lit(100L) > col("n_docs"))
        .select("h")
      mmDedupPairs(mem, ex0.join(broadcast(hot), Seq("h"), "left_anti"))
    },

    // Partition-batched byte-stats extraction -> feature columns.
    // mapPartitions is the Scala analog of mapInPandas: one extractor per
    // partition, payloads streamed through it without collecting to the
    // driver. The features are deterministic byte math over the UTF-8
    // payload, so the oracle CAN recompute them: DuckDB lacks blob
    // indexing, but hex(blob) exposes every byte as two hex digits and
    // strpos('0123456789ABCDEF', ·) turns a digit back into its value —
    // exact integer arithmetic, no float-parity risk (sums of bytes stay
    // under 2^53, where double accumulation is exact too).
    Q("q_mm_features",
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, n,
        |    list_transform(range(1, n + 1), i ->
        |      16 * (strpos('0123456789ABCDEF', substr(h, 2*i::INT - 1, 1)) - 1)
        |         + strpos('0123456789ABCDEF', substr(h, 2*i::INT, 1)) - 1) AS bs
        |  FROM b)
        |SELECT doc_id, CAST(n AS DOUBLE) AS f_len,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(list_aggregate(bs, 'sum') AS DOUBLE) / n END AS f_mean,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(list_aggregate(bs, 'max') AS DOUBLE) END AS f_max,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(list_aggregate(bs, 'sum') % 256 AS DOUBLE) END AS f_checksum
        |FROM v ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val payloads = Tables.documents(s, d)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
      payloads.mapPartitions { it =>
        // per-partition extractor init would go here (codec handles, models)
        it.map { case (id, bytes) =>
          val f = byteStats(bytes)
          (id, f(0), f(1), f(2), f(3))
        }
      }.toDF("doc_id", "f_len", "f_mean", "f_max", "f_checksum")
        .orderBy("doc_id")
    },

    // REAL image decode: synthesize the BMP media column at ingest
    // (bmpPayloads — each payload is a complete, valid 24-bit BMP file),
    // then decode it back with the pure-JVM Bmp codec: parse the header,
    // re-order the bottom-up padded BGR rows into natural RGB pixels, and
    // reduce them to features. The decode stage consumes ONLY
    // (doc_id, payload) — it has no access to the text the fixture came
    // from — so a header-math or padding bug cannot cancel out: the oracle
    // derives the expected pixels arithmetically (dims from the byte
    // length, pixels = document bytes cycled) and any decoder drift breaks
    // the hash. Two chained partition-batched maps, payload bytes never
    // shuffled; the final mean is rounded in SQL on both sides so float
    // discipline matches the rest of the suite.
    Q("q_mm_decode",
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE length(text) > 0),
        |dims AS (
        |  SELECT doc_id, hx, n, 1 + n % 13 AS w, 1 + n % 7 AS h FROM b),
        |v AS (
        |  SELECT doc_id, w, h,
        |    list_transform(range(0, w * h * 3), i ->
        |      16 * (strpos('0123456789ABCDEF',
        |             substr(hx, 2 * ((i % n)::INT) + 1, 1)) - 1)
        |         + strpos('0123456789ABCDEF',
        |             substr(hx, 2 * ((i % n)::INT) + 2, 1)) - 1) AS px
        |  FROM dims)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(w * h * 3 AS BIGINT) AS n_px_bytes,
        |  round(CAST(list_aggregate(px, 'sum') AS DOUBLE) / (w * h * 3), 6)
        |    AS f_mean,
        |  CAST(list_aggregate(px, 'max') AS DOUBLE) AS f_max,
        |  CAST(list_aggregate(px, 'sum') % 256 AS DOUBLE) AS f_checksum
        |FROM v ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.Bmp
      bmpPayloads(s, d)
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val (w, h, rgb) = Bmp.decode24(bytes)
            var sum = 0L
            var max = 0
            var i = 0
            while (i < rgb.length) {
              val v = rgb(i) & 0xff
              sum += v
              if (v > max) max = v
              i += 1
            }
            (id, w.toLong, h.toLong, rgb.length.toLong, sum, max.toDouble)
          }
        }.toDF("doc_id", "width", "height", "n_px_bytes", "px_sum", "f_max")
        .select(col("doc_id"), col("width"), col("height"), col("n_px_bytes"),
          expr("round(CAST(px_sum AS DOUBLE) / n_px_bytes, 6)").as("f_mean"),
          col("f_max"),
          (col("px_sum") % 256).cast("double").as("f_checksum"))
        .orderBy("doc_id")
    }
  )
}
