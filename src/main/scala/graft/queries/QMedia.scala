package graft
package queries

import graft.core.{FeatureRow, GeoJson, TileRow}
import graft.functions.cells
import graft.functions.raster._
import graft.functions.spatial._
import graft.ops.Elevation
import graft.synth.TileGen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import Fixtures._
import OracleCtes._
import OracleCtes2._

/** Media/audio gates over synthesized signals (2 entries),
  * each with its DuckDB oracle SQL.
  */
object QMedia {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_gated_loudness" -> ((s, dir) => {
      val w = ops.MediaOps.windowSquares(
        ops.MediaOps.synth(mediaMeta(s, dir)), winLen = 512)
      val tot = w.groupBy("media_id")
        .agg(count(lit(1)).as("n_win"), sum("sq_sum").as("tot_sq"))
      w.join(tot, "media_id")
        .filter(col("sq_sum") * col("n_win") >= col("tot_sq"))
        .groupBy("media_id", "n_win", "tot_sq")
        .agg(count(lit(1)).as("n_gated"), sum("sq_sum").as("gated_sum"))
        .withColumn("gated_mean_q", expr("gated_sum div n_gated"))
        .select("media_id", "n_win", "n_gated", "tot_sq", "gated_sum",
          "gated_mean_q")
        .orderBy("media_id")
    }),
    // Quantization-level usage per media (ops.MediaOps.levelUsage): distinct
    // sample values, 256-level utilization in ppm and the Σc² concentration
    // numerator of the level histogram.
    "media_level_usage" -> ((s, dir) => {
      ops.MediaOps.levelUsage(ops.MediaOps.synth(mediaMeta(s, dir)))
        .orderBy("media_id")
    }),
  )

  val sql: Map[String, String] = Map(
    "media_gated_loudness" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         w AS (SELECT media_id, unnest(range(0, n_bytes // 512)) AS win_no FROM m),
         wsq AS (SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(list_sum(list_transform(range(0,512),
             i -> (((media_id*31 + (win_no*512+i)*7) % 256) - 128)
                * (((media_id*31 + (win_no*512+i)*7) % 256) - 128))) AS BIGINT) AS sq
           FROM w),
         tot AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_win,
             CAST(sum(sq) AS BIGINT) AS tot_sq
           FROM wsq GROUP BY 1)
         SELECT w.media_id, t.n_win, CAST(count(*) AS BIGINT) AS n_gated,
           t.tot_sq, CAST(sum(w.sq) AS BIGINT) AS gated_sum,
           CAST(sum(w.sq) AS BIGINT) // CAST(count(*) AS BIGINT) AS gated_mean_q
         FROM wsq w JOIN tot t ON w.media_id = t.media_id
         WHERE w.sq * t.n_win >= t.tot_sq
         GROUP BY w.media_id, t.n_win, t.tot_sq
         ORDER BY w.media_id""",
    "media_level_usage" ->
      """WITH m AS (SELECT s_suppkey AS media_id,
           4096 + (s_suppkey % 7) * 512 AS n_bytes FROM supplier),
         s AS (SELECT media_id, (media_id*31 + k*7) % 256 AS lvl
           FROM m, unnest(range(0, n_bytes)) AS t(k)),
         lc AS (SELECT media_id, lvl, CAST(count(*) AS BIGINT) AS c
           FROM s GROUP BY 1, 2)
         SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(sum(c) AS BIGINT) AS n_samp,
           CAST(count(*) AS BIGINT) AS n_levels,
           CAST(sum(c * c) AS BIGINT) AS simpson_num,
           CAST(1000000 * count(*) // 256 AS BIGINT) AS util_ppm
         FROM lc GROUP BY 1 ORDER BY media_id""",
  )
}
