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

/** Event-analytics gates: Welford stats, rolling z-scores, hourly
  * aggregates (3 entries),
  * each with its DuckDB oracle SQL.
  */
object QEvents1 {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_welford" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("iv", floor(col("value") * 100).cast("long"))
      val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("iv")).as("sv"),
        sum(col("iv") * col("iv")).as("svv"))
        .withColumn("mean", col("sv").cast("double") / col("n"))
        .withColumn("stddev", sqrt(
          (col("svv").cast("double") - col("sv").cast("double") * col("sv") / col("n")) /
            (col("n") - 1)))
      val flagged = e.join(stats.select("event_type", "mean", "stddev"), Seq("event_type"))
        .filter(abs(col("iv") - col("mean")) >= col("stddev") * 2)
        .groupBy("event_type").agg(count(lit(1)).as("n_outliers"))
      stats.join(flagged, Seq("event_type"), "left_outer")
        .select(col("event_type"), col("n"), round(col("mean"), 6).as("mean_r"),
          round(col("stddev"), 6).as("std_r"),
          coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
        .orderBy("event_type")
    }),
    "events_rolling_z" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-24, -1)
      t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", expr("cast(ts as timestamp)")).as("hr"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
        .withColumn("rcnt", count(lit(1)).over(w))
        .withColumn("rsum", sum("cents").over(w))
        .withColumn("rsumsq", sum(col("cents") * col("cents")).over(w))
        .withColumn("is_anomaly",
          when(col("rcnt") >= 8 &&
            (col("cents") * col("rcnt") - col("rsum")) *
              (col("cents") * col("rcnt") - col("rsum")) >=
              lit(4L) * (col("rcnt") * col("rsumsq") - col("rsum") * col("rsum")),
            1).otherwise(0))
        .select("event_type", "hr", "n", "cents", "rcnt", "is_anomaly")
        .orderBy("event_type", "hr")
    }),
    "events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("hr", "event_type")
    }),
  )

  val sql: Map[String, String] = Map(
    "events_welford" ->
      """WITH e AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS iv FROM events),
         st AS (SELECT event_type, count(*) AS n, sum(iv) AS sv, sum(iv*iv) AS svv FROM e GROUP BY 1),
         st2 AS (SELECT event_type, n, CAST(sv AS DOUBLE)/n AS mean,
           sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)*sv/n) / (n-1)) AS stddev FROM st),
         fl AS (SELECT e.event_type, count(*) AS n_outliers FROM e JOIN st2 USING (event_type)
           WHERE abs(e.iv - st2.mean) >= st2.stddev * 2 GROUP BY 1)
         SELECT event_type, n, round(mean, 6) AS mean_r, round(stddev, 6) AS std_r,
           coalesce(n_outliers, 0) AS n_outliers
         FROM st2 LEFT JOIN fl USING (event_type) ORDER BY event_type""",
    "events_rolling_z" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
           FROM events GROUP BY 1, 2),
         r AS (SELECT *,
             count(*) OVER w AS rcnt,
             COALESCE(sum(cents) OVER w, 0) AS rsum,
             COALESCE(sum(cents * cents) OVER w, 0) AS rsumsq
           FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, hr, n, cents, rcnt,
           CASE WHEN rcnt >= 8 AND
             (cents * rcnt - rsum) * (cents * rcnt - rsum) >=
               4 * (rcnt * rsumsq - rsum * rsum) THEN 1 ELSE 0 END AS is_anomaly
         FROM r ORDER BY event_type, hr""",
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n,
         round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hr, event_type""",
  )
}
