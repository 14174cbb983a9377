package graft.operators

import graft.{Plans, Q, Tables}
import org.apache.spark.sql.functions._

/** Scalar-function operators (SURVEY.md §2.8, §2.9): date/duration
  * formatting, rating-label when-chains (byte-exact strings incl. the
  * reference's Japanese terrain labels, inserters/splits_helpers/terrain.py:
  * 8-28), JSON payload extraction (readers/strength_sessions.py:105-121),
  * and unit conversions (readers/performance.py:120-135).
  *
  * All pure codegen'd column expressions — they stay inside whole-stage
  * codegen with no UDFs, so per-row cost is branch + arithmetic only.
  */
object Scalars {

  val entries: Seq[Q] = Seq(
    Q("q_pace_format",
      """SELECT event_id,
        |  printf('%d:%02d', CAST(floor(value) AS BIGINT) // 60,
        |         CAST(floor(value) AS BIGINT) % 60) AS pace
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val total = floor(col("value")).cast("long")
      Tables.events(s, d)
        .select(col("event_id"),
          format_string("%d:%02d", (total / 60).cast("long"), total % 60)
            .as("pace"))
        .orderBy("event_id")
    },

    Q("q_rating_labels",
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity < 10 THEN '平坦'
        |       WHEN l_quantity < 25 THEN '起伏'
        |       WHEN l_quantity < 40 THEN '丘陵'
        |       ELSE '山岳' END AS terrain,
        |  CASE WHEN l_discount < 0.02 THEN 'Low'
        |       WHEN l_discount < 0.05 THEN 'Good'
        |       WHEN l_discount < 0.08 THEN 'Excellent'
        |       ELSE 'Elite' END AS rating
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin) { (s, d) =>
      // (l_quantity, l_discount) tiebreakers make the sort TOTAL: the
      // synthetic lineitem duplicates (l_orderkey, l_linenumber) pairs, so
      // the key-only sort left tie order engine-dependent — latent until
      // the ×100 rung (same class as q_heat_cost, caught by the sf10
      // ORDER-BY-totality sweep). Rows tying on all four project identical
      // labels, so residual order is immaterial; sort BEFORE the projection
      // (the tiebreakers are not output columns).
      Tables.lineitem(s, d)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") < 10, "平坦")
            .when(col("l_quantity") < 25, "起伏")
            .when(col("l_quantity") < 40, "丘陵")
            .otherwise("山岳").as("terrain"),
          when(col("l_discount") < 0.02, "Low")
            .when(col("l_discount") < 0.05, "Good")
            .when(col("l_discount") < 0.08, "Excellent")
            .otherwise("Elite").as("rating"))
    },

    Q("q_json_extract",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .transform(Plans.sortedOutput(_, "event_id"))
    },

    Q("q_unit_conv",
      """SELECT event_id, value / 3.6 AS speed_ms,
        |  value * 9.0 / 5.0 + 32.0 AS temp_f
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          (col("value") / 3.6).as("speed_ms"),
          (col("value") * 9.0 / 5.0 + 32.0).as("temp_f"))
        .orderBy("event_id")
    }
  )
}
