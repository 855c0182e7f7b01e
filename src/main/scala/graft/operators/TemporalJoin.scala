package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Temporal joins Spark has no built-in operator for: the backward as-of
  * join (each left row picks up the latest right row at-or-before its
  * timestamp) and the bounded-interval range join. Both are written so the
  * plan NEVER degenerates into a cartesian / broadcast-nested-loop product,
  * which is what a naive `l.join(r, cond)` with a pure inequality condition
  * becomes — unrunnable at any real scale.
  *
  * - [[asofBackward]] is the union-then-window formulation: tag the two
  *   inputs, union them, and let ONE per-key window sort carry each right
  *   row's payload forward to the left rows that follow it. One shuffle by
  *   key, no join operator at all, and a hot key costs one sorted partition
  *   of its own rows — the same scale envelope as sessionization (q51).
  * - [[rangeJoinBucketed]] is the time-bucket equi-join: quantize the right
  *   side's timestamp into buckets as wide as the join interval, expand each
  *   left row to the (at most 2) buckets its interval can touch, equi-join
  *   on (keys, bucket), and re-check the exact range. The shuffle is a plain
  *   hash join on (keys, bucket); candidate fan-out is bounded by 2× the
  *   left side, never |left|×|right|.
  */
object TemporalJoin {

  /** Backward as-of join: for every left row, the single right row with the
    * greatest `tsCol` ≤ the left row's `tsCol` within the same `keys` group
    * (at-or-before; same-instant right rows match). Left rows with no
    * predecessor keep NULL payloads — left-outer semantics.
    *
    * `payload` columns must exist on `right` and not collide with left
    * columns (rename on the right side first). The matched right timestamp
    * is exposed as `matchedTsCol`. Right payloads ride inside ONE struct, so
    * a legitimately-NULL payload field survives (the window's ignoreNulls
    * skips absent RIGHT ROWS, not null fields).
    *
    * Determinism: ties inside one input are broken by nothing — callers
    * needing determinism must have unique (keys, ts) per side (the events
    * corpus does; [[graft.queries.CoreQueries.q59]]'s oracle relies on it).
    */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                   tsCol: String, payload: Seq[String],
                   matchedTsCol: String = "asof_ts"): DataFrame = {
    require(payload.nonEmpty, "asofBackward needs at least one payload column")
    require(payload.forall(p => !left.columns.contains(p)),
      s"payload columns ${payload.filter(left.columns.contains)} collide with left columns — rename on the right side")
    val asofType = StructType((tsCol +: payload).map(n =>
      right.schema(right.schema.fieldIndex(n)).copy(name = n)))
    val leftU = left
      .withColumn("__asof", lit(null).cast(asofType))
      .withColumn("__side", lit(1))
    val leftOnly = left.columns.filterNot(c => keys.contains(c) || c == tsCol)
    val rightU = leftOnly
      .foldLeft(right.select((keys :+ tsCol).map(col) :+
        struct((tsCol +: payload).map(col): _*).as("__asof"): _*)) {
        (df, c) => df.withColumn(c, lit(null).cast(left.schema(left.schema.fieldIndex(c)).dataType))
      }
      .withColumn("__side", lit(0))
      .select(leftU.columns.map(col): _*)
    // side 0 < side 1: a right row at the exact left timestamp sorts FIRST,
    // so at-or-before includes it.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    leftU.unionByName(rightU)
      .withColumn("__m", last(col("__asof"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        (col("__m").getField(tsCol).as(matchedTsCol) +:
          payload.map(p => col("__m").getField(p).as(p))): _*)
  }

  /** NEAREST as-of join: for every left row, the right row minimizing
    * |Δts| within the same `keys` group, looking BOTH directions — the
    * nearest-quote/nearest-reading enrichment [[asofBackward]] can't
    * express (backward-only misses a right row one tick ahead). Ties at
    * equal distance prefer the backward match (the at-or-before row),
    * and a right row at the exact left instant is distance 0 backward.
    * Same union trick as [[asofBackward]], two window passes over ONE
    * sorted union — still join-free: the backward candidate is
    * `last(ignoreNulls)` over the trailing frame, the forward one
    * `first(ignoreNulls)` over the leading frame, and a scalar compare of
    * exact integer microsecond distances picks the winner. Left-outer
    * semantics; determinism needs unique (keys, ts) per side (the events
    * corpus has it — the q59 contract).
    */
  def asofNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                  tsCol: String, payload: Seq[String],
                  matchedTsCol: String = "asof_ts"): DataFrame = {
    require(payload.nonEmpty, "asofNearest needs at least one payload column")
    require(payload.forall(p => !left.columns.contains(p)),
      s"payload columns ${payload.filter(left.columns.contains)} collide with left columns — rename on the right side")
    val asofType = StructType((tsCol +: payload).map(n =>
      right.schema(right.schema.fieldIndex(n)).copy(name = n)))
    val leftU = left
      .withColumn("__asof", lit(null).cast(asofType))
      .withColumn("__side", lit(1))
    val leftOnly = left.columns.filterNot(c => keys.contains(c) || c == tsCol)
    val rightU = leftOnly
      .foldLeft(right.select((keys :+ tsCol).map(col) :+
        struct((tsCol +: payload).map(col): _*).as("__asof"): _*)) {
        (df, c) => df.withColumn(c, lit(null).cast(left.schema(left.schema.fieldIndex(c)).dataType))
      }
      .withColumn("__side", lit(0))
      .select(leftU.columns.map(col): _*)
    // right (side 0) sorts before left at equal ts: the trailing frame sees
    // it (distance-0 backward match); the leading frame starts at the left
    // row, so the forward candidate is strictly after
    val ord = Seq(col(tsCol).asc, col("__side").asc)
    val wb = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // exact integer distance: micros for timestamp columns, the value
    // itself for integer time axes (the asofBackward fixtures' long ts)
    val toUs: Column => Column =
      left.schema(left.schema.fieldIndex(tsCol)).dataType match {
        case _: org.apache.spark.sql.types.TimestampType => unix_micros _
        case _ => (c: Column) => c.cast("long")
      }
    val us = toUs(col(tsCol))
    def mUs(m: Column) = toUs(m.getField(tsCol))
    val picked = leftU.unionByName(rightU)
      .withColumn("__mb", last(col("__asof"), ignoreNulls = true).over(wb))
      .withColumn("__mf", first(col("__asof"), ignoreNulls = true).over(wf))
      .filter(col("__side") === 1)
      .withColumn("__m",
        when(col("__mf").isNull, col("__mb"))
          .when(col("__mb").isNull, col("__mf"))
          .when(us - mUs(col("__mb")) <= mUs(col("__mf")) - us, col("__mb"))
          .otherwise(col("__mf")))
    picked.select(left.columns.map(col) ++
      (col("__m").getField(tsCol).as(matchedTsCol) +:
        payload.map(p => col("__m").getField(p).as(p))): _*)
  }

  /** Inner interval-overlap join: pairs sharing `keys` whose HALF-OPEN
    * intervals `[lStart, lEnd)` and `[rStart, rEnd)` intersect
    * (`lStart < rEnd && rStart < lEnd`). Column values are integer
    * microseconds; empty intervals (`end <= start`) never match.
    *
    * Both sides explode to the `bucketUs`-wide buckets their interval
    * touches and equi-join on (keys, bucket) — a hash join, never a
    * nested-loop. Because an overlapping pair can now co-occupy SEVERAL
    * buckets, each true pair is claimed by exactly one: the bucket holding
    * the overlap's left edge `max(lStart, rStart)` (that instant lies inside
    * both intervals, so both sides exploded its bucket) — the standard
    * emit-once rule for grid-partitioned spatial joins.
    *
    * Fan-out per row is `intervalLen/bucketUs + 1`: size `bucketUs` near the
    * typical interval length. A pathological interval B times the bucket
    * width costs B candidate rows — bounded and linear, but callers with
    * heavy-tailed interval lengths should clamp or split upstream.
    */
  def intervalOverlapBucketed(left: DataFrame, right: DataFrame,
                              keys: Seq[String],
                              lStartCol: String, lEndCol: String,
                              rStartCol: String, rEndCol: String,
                              bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucket width must be positive, got $bucketUs")
    def buckets(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(col(e) > col(s)).withColumn("__b", explode(sequence(
        expr(s"$s div ${bucketUs}L"), expr(s"($e - 1L) div ${bucketUs}L"))))
    buckets(left, lStartCol, lEndCol)
      .join(buckets(right, rStartCol, rEndCol), keys :+ "__b")
      .filter(col(lStartCol) < col(rEndCol) && col(rStartCol) < col(lEndCol) &&
        col("__b") === expr(s"greatest($lStartCol, $rStartCol) div ${bucketUs}L"))
      .drop("__b")
  }

  /** Inner range join: pairs (l, r) sharing `keys` with
    * `r[rightUsCol] ∈ (l[leftUsCol] + lowUs, l[leftUsCol] + highUs]`
    * (half-open: strictly after the low edge, closed at the high edge).
    * Timestamps are integer microseconds so the comparison is exact — no
    * sub-second truncation hazard.
    *
    * Buckets are `(highUs - lowUs)` wide: an interval of that length spans
    * at most 2 bucket boundaries, so each left row expands to ≤ 2 candidate
    * buckets and each true pair is produced exactly once (a right row lives
    * in exactly one bucket). Equality keys keep the join a hash join; the
    * exact range predicate re-checks after the bucket match.
    */
  def rangeJoinBucketed(left: DataFrame, right: DataFrame, keys: Seq[String],
                        leftUsCol: String, rightUsCol: String,
                        lowUs: Long, highUs: Long): DataFrame = {
    require(highUs > lowUs, s"empty range ($lowUs, $highUs]")
    // `div` is integral division (exact on longs — a double-divide-then-cast
    // could land in the wrong bucket near boundaries). Truncation == floor
    // only for non-negative operands: epoch-microsecond timestamps are, and
    // lowUs may be negative only up to the smallest timestamp.
    val w = highUs - lowUs
    val l2 = left.withColumn("__b", explode(sequence(
      expr(s"($leftUsCol + ${lowUs}L) div ${w}L"),
      expr(s"($leftUsCol + ${highUs}L) div ${w}L"))))
    val r2 = right.withColumn("__b", expr(s"$rightUsCol div ${w}L"))
    l2.join(r2, keys :+ "__b")
      .filter(col(rightUsCol) > col(leftUsCol) + lowUs &&
        col(rightUsCol) <= col(leftUsCol) + highUs)
      .drop("__b")
  }
}
