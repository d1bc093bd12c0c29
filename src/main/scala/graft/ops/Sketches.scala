package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.graftshim.GraftColumns
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch aggregations — bounded-state answers where the exact form needs a
  * corpus-wide shuffle of raw keys.
  *
  * The flagship is HyperLogLog-style distinct counting: exact
  * `count(distinct)` at 100 TB shuffles every (group, key) pair; the sketch
  * shuffles m integer registers per group, mergeable by max. This
  * implementation is DETERMINISTIC end-to-end so a second engine reproduces
  * the estimate bit-for-bit (the correctness gate's requirement — a
  * randomized-seed sketch cannot be oracle-checked):
  *
  *  - the hash is an explicit multiplicative congruence (no engine-internal
  *    xxhash), valid for the gate's bounded ids;
  *  - the harmonic register sum Σ 2^(-Mj) is computed as an EXACT integer,
  *    `Σ 2^(40 - Mj)` over a common denominator 2^40 (ranks ≤ 27 < 40), so
  *    no float accumulation order can perturb it;
  *  - the only floating arithmetic is the final `α·m²·2^40 / sum` — a
  *    product of exact doubles and one division, identical IEEE ops in any
  *    engine — floor-quantized on emit.
  */
object Sketches {

  /** HLL distinct estimate per group over 31-bit nonnegative ids.
    *
    * m = 32 buckets (α = 0.697): raw estimate, no small/large-range
    * corrections — the deterministic textbook formula, σ ≈ 1.04/√m ≈ 18%.
    *
    * @return (groupCol, n_buckets, hll_q = floor(estimate))
    */
  def hllDistinct(df: DataFrame, groupCol: String, idCol: String): DataFrame =
    hllFinish(hllRegisters(df, groupCol, idCol), groupCol)

  /** The sketch state itself: per-(group, bucket) max rank — 32 registers
    * per group, mergeable by MAX, so the SAME rows come out of a batch
    * groupBy, a streaming stateful agg, or a union of per-shard sketches
    * (order-insensitive by construction). Shared by the batch estimate
    * above and [[graft.streaming.StreamOps]]'s incremental twin.
    */
  def hllRegisters(df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    // rank = (trailing zeros of the 26-bit rest) + 1; 27 when rest = 0.
    // lsb = rest & -rest is a power of two — an exact integer CASE beats a
    // log2 whose libm rounding an oracle need not share
    val lsbCase = (0 until 26).map(i => s"WHEN ${1L << i} THEN ${i + 1}")
      .mkString(" ")
    df.selectExpr(groupCol,
        s"($idCol * 1103515245 + 12345) % 2147483648 AS h")
      .selectExpr(groupCol, "CAST(h % 32 AS INT) AS bucket", "h div 32 AS rest")
      .selectExpr(groupCol, "bucket",
        s"CASE (rest & -rest) $lsbCase ELSE 27 END AS rank")
      .groupBy(col(groupCol), col("bucket"))
      .agg(max("rank").as("m"))
  }

  /** Fold register rows from [[hllRegisters]] into the final estimate. */
  def hllFinish(registers: DataFrame, groupCol: String): DataFrame =
    registers.groupBy(groupCol)
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 40 - m)")).as("sump"))
      // empty buckets contribute 2^0 = 1 each ⇒ 2^40 over the denominator
      .withColumn("sumint",
        col("sump") + (lit(32) - col("n_buckets")) * lit(1L << 40))
      .selectExpr(groupCol, "n_buckets",
        // α·m²·2^40 = 0.697 · 2^50; scaling by a power of two is exact, so
        // the whole estimate is one IEEE division of exact doubles
        "CAST(floor(0.697D * 1125899906842624.0D / CAST(sumint AS DOUBLE)) AS BIGINT) AS hll_q")

  /** k=3 deterministic Bloom hash constants (multiplicative congruences over
    * 2^31, like [[hllDistinct]]'s — an independent engine replays them).
    */
  private[graft] val BloomA = Array(1103515245L, 214013L, 69069L)
  private[graft] val BloomB = Array(12345L, 2531011L, 1234567L)

  /** Build an m-bit Bloom filter over `key` (nonnegative bigint) and return
    * it as a broadcast bitmap.
    *
    * 100 TB shape: the build side reduces to DISTINCT bit positions — a
    * map-side-combined shuffle whose volume is bounded by m per input
    * partition regardless of build cardinality — and the driver materializes
    * only the ≤ m positions into an m/8-byte bitmap (16 KiB at m = 2^17).
    * The probe side then never shuffles: membership is a codegen'd
    * expression against the broadcast handle, and the exact verification
    * join runs only on bloom-positive rows. Spark's own runtime bloom-join
    * rewrite exists, but is neither deterministic nor engine-reproducible;
    * this one is both (the correctness gate replays the bit positions).
    */
  def bloomBuild(df: DataFrame, key: String, m: Int): Broadcast[Array[Long]] = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
    // reduce the key mod 2^31 BEFORE the multiply: keys >= ~8.4e9 overflow
    // the Long multiply-add (an ANSI-mode error, and pre-reduction a negative
    // remainder indexed bits() out of bounds). (2^31-1)·1103515245 < 2^63, so
    // the reduced product is overflow-free; values are unchanged for the
    // nonnegative in-range keys the oracle replays, and build and probe
    // (BloomHelpers) stay identical
    val k = pmod(col(key).cast("long"), lit(2147483648L))
    val posCols = BloomA.zip(BloomB).map { case (a, b) =>
      pmod(k * a + b, lit(2147483648L)) % m
    }
    val pos = df.select(explode(array(posCols.toIndexedSeq: _*)).as("pos"))
      .distinct().collect().map(_.getLong(0).toInt)
    val bits = new Array[Long]((m + 63) / 64)
    pos.foreach(p => bits(p >> 6) |= 1L << (p & 63))
    df.sparkSession.sparkContext.broadcast(bits)
  }

  /** Codegen'd membership probe against [[bloomBuild]]'s broadcast bitmap:
    * no false negatives; false positives bounded by the classic
    * (1 - e^(-kn/m))^k.
    */
  def bloomMightContain(bc: Broadcast[Array[Long]], m: Int, key: Column): Column =
    GraftColumns.column(BloomMightContainExpr(
      GraftColumns.expression(key.cast("long")), bc, m))

  /** Count-Min sketch of key frequencies: d=3 rows × w counters, the same
    * deterministic hash family as [[bloomBuild]].
    *
    * 100 TB shape: the sketch is ONE map-side-combined aggregation whose
    * state is bounded by d·w counters per partition — frequency structure
    * over 10^12 rows crosses the shuffle as ≤ 3w rows total, where the
    * exact per-key count shuffles every distinct key. Counters are
    * mergeable by + (streaming/windowed variants compose for free).
    *
    * @return (j, pos, cnt) — the nonzero counters
    */
  def cmSketch(df: DataFrame, key: String, w: Int): DataFrame = {
    val k = pmod(col(key).cast("long"), lit(2147483648L))
    val rows = (0 until 3).map { j =>
      struct(lit(j).as("j"),
        (pmod(k * BloomA(j) + BloomB(j), lit(2147483648L)) % w).as("pos"))
    }
    df.select(explode(array(rows: _*)).as("jp"))
      .groupBy(col("jp.j").as("j"), col("jp.pos").as("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates from a [[cmSketch]]: est(key) = min_j sketch[j][h_j(key)]
    * — an overestimate, never an under (est ≥ true count always). The tiny
    * sketch is broadcast; candidate keys never shuffle. The sketch stores
    * only nonzero counters, so the probe LEFT-joins and coalesces a missing
    * counter to 0 — a key absent from the build keeps its row (est 0 unless
    * every hash collides), and a zero counter correctly wins the min.
    */
  def cmEstimate(keys: DataFrame, key: String, sketch: DataFrame, w: Int): DataFrame = {
    val k = pmod(col(key).cast("long"), lit(2147483648L))
    val carried = keys.columns.map(col)
    keys.withColumn("jp", explode(array((0 until 3).map { j =>
        struct(lit(j).as("j"),
          (pmod(k * BloomA(j) + BloomB(j), lit(2147483648L)) % w).as("pos"))
      }: _*)))
      .select((carried :+ col("jp.j").as("j") :+ col("jp.pos").as("pos")).toIndexedSeq: _*)
      .join(broadcast(sketch), Seq("j", "pos"), "left_outer")
      .groupBy(carried.toIndexedSeq: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
  }
}

/** Static helper invoked from generated code (the plan carries only the
  * broadcast handle, as in [[SpatialJoin]]'s hot-set expression).
  */
object BloomHelpers {
  def mightContain(bc: Broadcast[Array[Long]], m: Int, v: Long): Boolean = {
    val bits = bc.value
    val vr = Math.floorMod(v, 2147483648L) // mirrors the build side's pre-reduction
    var j = 0
    while (j < 3) {
      val p = (Math.floorMod(vr * Sketches.BloomA(j) + Sketches.BloomB(j),
        2147483648L) % m).toInt
      if ((bits(p >> 6) & (1L << (p & 63))) == 0L) return false
      j += 1
    }
    true
  }
}

case class BloomMightContainExpr(child: Expression, bc: Broadcast[Array[Long]],
    m: Int) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override def nullSafeEval(v: Any): Any =
    BloomHelpers.mightContain(bc, m, v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bcBloom", bc,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.ops.BloomHelpers.mightContain($bcRef, $m, $v);")
  }
  override protected def withNewChildInternal(c: Expression): BloomMightContainExpr =
    copy(child = c)
}
