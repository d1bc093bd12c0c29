package graft.sources

import graft.core.{FeatureRow, GeoJson}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** File-based GeoJSON sources/sinks (the batch analog of the reference's
  * HTTP `/geojson` endpoint, src/server.ts:74-95).
  *
  * Two layouts:
  *  - whole-document: each file is one GeoJSON doc (FeatureCollection /
  *    Feature / bare Geometry) — `readDocuments` uses `wholetext` so a
  *    pretty-printed FeatureCollection stays one record;
  *  - GeoJSON-lines (ndjson): one Feature per line — `readLines` scales to
  *    arbitrarily many features because lines split across tasks.
  * Feature ids are assigned by document order (GeoJSON `id` is not unique —
  * see GeoJson.featureRows).
  */
object GeoJsonSource {

  private implicit val enc: org.apache.spark.sql.Encoder[FeatureRow] =
    Encoders.product[FeatureRow]

  /** One GeoJSON document per FILE (wholetext). feature_id is prefixed with
    * the source file's basename so ids stay keys across multi-file reads
    * (downstream reassembly groups on feature_id — colliding ids would merge
    * unrelated features' coordinates).
    */
  def readDocuments(spark: SparkSession, path: String): Dataset[FeatureRow] = {
    import org.apache.spark.sql.functions.input_file_name
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("f"), org.apache.spark.sql.functions.col("value"))
      .as[(String, String)]
      .flatMap { case (f, doc) =>
        // basename alone collides across directories (a/x.json vs b/x.json);
        // a short full-path hash keeps ids both unique and readable
        val base = f.substring(f.lastIndexOf('/') + 1)
        val h = java.lang.Integer.toHexString(f.hashCode)
        GeoJson.featureRows(GeoJson.parse(doc))
          .map(r => FeatureRow(s"$base-$h#${r.feature_id}", r.feature_json))
      }
  }

  /** One GeoJSON value per LINE (ndjson / GeoJSON-lines). A line that is a
    * FeatureCollection contributes ALL its features (sub-indexed), never
    * silently just the first. Ids are `splitRowId` or `splitRowId:sub`,
    * where splitRowId = monotonically_increasing_id (unique, stable for a
    * fixed input layout, NOT contiguous). Single pass, fully in Catalyst —
    * rdd.zipWithIndex would cost an extra count-per-partition job and exit
    * the optimized plan, a hidden tax on the advertised scalable layout.
    * Caveat: ids depend on the input SPLIT layout, so these ids MUST NOT be
    * used as `keyCols` of `Checkpoint.writeResumable` (a resume under a
    * different split configuration would re-bucket rows past committed
    * buckets — see writeResumable's key-stability contract); key on content,
    * or use readDocuments, whose ids derive from document order alone.
    */
  def readLines(spark: SparkSession, path: String): Dataset[FeatureRow] = {
    import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
    import spark.implicits._
    spark.read.text(path)
      .select(monotonically_increasing_id().as("i"), col("value"))
      .as[(Long, String)]
      .filter((r: (Long, String)) => r._2.trim.nonEmpty)
      .flatMap { case (i, line) =>
        val rows = GeoJson.featureRows(GeoJson.parse(line))
        if (rows.size == 1) Seq(FeatureRow(i.toString, rows.head.feature_json))
        else rows.zipWithIndex.map { case (r, j) =>
          FeatureRow(s"$i:$j", r.feature_json)
        }
      }
  }

  /** Write features as GeoJSON-lines (one Feature JSON per line). */
  def writeLines(features: Dataset[FeatureRow], path: String): Unit = {
    import features.sparkSession.implicits._
    features.map(_.feature_json).write.mode("overwrite").text(path)
  }
}
