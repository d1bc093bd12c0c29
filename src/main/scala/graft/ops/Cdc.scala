package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Changelog application (CDC MERGE): fold an ordered stream of
  * insert/update/delete change rows into a base snapshot — the lakehouse
  * MERGE INTO / Debezium-apply primitive that turns the engine's tables
  * into maintainable state (the row-level complement of
  * [[graft.table.Checkpoint]]'s table-level snapshots: time travel answers
  * "as of WHEN", CDC apply answers "after WHICH changes").
  *
  * Semantics — latest-wins by change sequence, deletes terminal:
  *  - base rows carry sequence −∞ (any change outranks them);
  *  - for each key the row with the highest `(seq)` wins (callers must
  *    provide a total order: one change per (key, seq));
  *  - a winning `D` removes the key; a winning `I`/`U` emits its payload;
  *  - change keys absent from the base are inserts.
  *
  * Plan shape: ONE union + ONE key-partitioned window (row_number over
  * seq desc) + a filter — the standard shuffle-once merge; at 100 TB both
  * sides hash-partition by key and the state never collects anywhere.
  * Deterministic: the window order is (seq DESC) with the caller's unique-
  * (key, seq) contract, so the winner is engine-independent.
  *
  * @param base    current snapshot (key + payload columns)
  * @param changes change rows: same key + payload columns, plus `seq`
  *                (Long, unique per key) and `op` ('I' | 'U' | 'D';
  *                payload of a 'D' row is ignored)
  * @param keyCols key column names
  * @return the next snapshot (key + payload columns)
  */
object Cdc {
  def applyChanges(base: DataFrame, changes: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val payload = base.columns.filterNot(keyCols.contains)
    val b = base.withColumn("__seq", lit(Long.MinValue))
      .withColumn("__op", lit("U"))
    val c = changes.select(
      (keyCols ++ payload).map(col) :+ col("seq").cast("long").as("__seq")
        :+ col("op").as("__op"): _*)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__seq").desc)
    b.select(c.columns.map(col).toIndexedSeq: _*).unionAll(c)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") =!= "D")
      .select((keyCols ++ payload).map(col): _*)
  }
}
