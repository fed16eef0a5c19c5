package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded range join — pairs an anchor row with every probe row of
  * the same key whose value lies in `[anchor - width, anchor]` (e.g.
  * "all clicks in the 5 minutes before each error").
  *
  * Spark plans a raw inequality join as BroadcastNestedLoopJoin —
  * O(n·m) comparisons, the classic range-join scale-killer. The
  * scalable encoding is interval BINNING: quantize values into
  * fixed-width bins, equi-join on (key, bin), and re-check the exact
  * range on the (small) candidate set. A window of width `w` with bin
  * size `w` overlaps at most two bins, so each anchor row expands to
  * exactly 2 join keys — the shuffle is hash-partitioned, linear in
  * input size, and AQE-handles skew like any other equi-join. This is
  * the standard trick range-join-capable engines apply internally;
  * here it is declared with the DataFrame API so Catalyst still sees
  * an ordinary shuffled equi-join.
  */
object RangeJoin {

  /** @param anchor rows whose trailing window is probed
    * @param probe  rows looked up inside each anchor's window
    * @param key    equi-join key column name (both sides)
    * @param anchorV/probeV numeric (double) value column names
    * @param width  window width in value units; pairs satisfy
    *               `anchorV - width <= probeV <= anchorV`
    * @return anchor columns + probe payload columns prefixed `probe_`
    */
  def trailingWindowJoin(anchor: DataFrame, probe: DataFrame, key: String,
                         anchorV: String, probeV: String, width: Double,
                         probeCols: Seq[String]): DataFrame = {
    require(width > 0, s"window width $width must be positive")
    val bin = (c: Column) => floor(c / lit(width)).cast("long")
    val a = anchor
      .withColumn("__bin", explode(array_distinct(array(
        bin(col(anchorV) - lit(width)), bin(col(anchorV))))))
    val p = probe
      .select(col(key).as("__pk") +: bin(col(probeV)).as("__bin") +:
        col(probeV).as("__pv") +: probeCols.map(c => col(c).as(s"probe_$c")): _*)
    a.join(p, a(key) === p("__pk") && a("__bin") === p("__bin"))
      .filter(col("__pv") >= col(anchorV) - lit(width) &&
        col("__pv") <= col(anchorV))
      .drop("__bin", "__pk", "__pv")
  }

  /** General interval × interval OVERLAP join — pairs a left interval
    * `[lStart, lEnd]` with every right interval `[rStart, rEnd]` of
    * the same key that intersects it (closed-interval semantics:
    * touching endpoints overlap). The temporal-algebra primitive
    * behind "which ad flights ran while each outage was open".
    *
    * Same scale discipline as [[trailingWindowJoin]]: a raw
    * `lS <= rE AND rS <= lE` predicate plans as a nested-loop join.
    * Here BOTH sides replicate into every `binWidth`-sized bin their
    * interval touches (`sequence(floor(s/w), floor(e/w))`), the join
    * is a shuffled equi-join on (key, bin), and the exact predicate
    * re-checks the candidates. Two intervals overlapping in several
    * shared bins would pair once per shared bin, so each candidate
    * pair is CLAIMED by exactly one bin — the first bin both
    * intervals inhabit, `max(floor(lS/w), floor(rS/w))` — a
    * projection-level dedup (no distinct/shuffle).
    *
    * Replication factor is `len/binWidth + 1` per row, so `binWidth`
    * should sit near the typical interval length (the engine contract
    * every binned range join carries). Intervals are validated
    * non-inverted; binning is exact integer floor division over the
    * full long domain (endpoints within binWidth of Long.MinValue
    * excepted — the pmod subtraction would overflow there), never a
    * double round-trip.
    *
    * @param rightCols right payload columns, emitted as `r_<name>`
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame, key: String,
                          lStart: String, lEnd: String,
                          rStart: String, rEnd: String,
                          binWidth: Long, rightCols: Seq[String]): DataFrame = {
    require(binWidth > 0, s"binWidth $binWidth must be positive")
    // exact long floor division (never through double — a |value| >=
    // 2^53 would round and silently mis-bin): pmod makes the numerator
    // an exact multiple of the width, so the truncating integral `div`
    // IS the floor, for the full long domain including negatives
    val bin = (c: Column) => {
      val v = c.cast("long")
      call_function("div", v - pmod(v, lit(binWidth)), lit(binWidth))
    }
    def binned(df: DataFrame, s: String, e: String): DataFrame = {
      val checked = df.filter(
        when(col(s) <= col(e), lit(true))
          .otherwise(Publish.raise(concat(
            lit(s"inverted interval in $s/$e: "), col(s), lit(" > "), col(e)))))
      checked.withColumn("__bin", explode(sequence(bin(col(s)), bin(col(e)))))
    }
    val l = binned(left, lStart, lEnd)
    val r = binned(right, rStart, rEnd)
      .select(col(key).as("__rk") +: col("__bin").as("__rbin") +:
        col(rStart).as("__rs") +: col(rEnd).as("__re") +:
        rightCols.map(c => col(c).as(s"r_$c")): _*)
    l.join(r, l(key) === r("__rk") && l("__bin") === r("__rbin"))
      .filter(col(lStart) <= col("__re") && col("__rs") <= col(lEnd))
      // claim: only the first shared bin emits the pair
      .filter(col("__bin") === greatest(bin(col(lStart)), bin(col("__rs"))))
      .withColumnRenamed("__rs", s"r_$rStart")
      .withColumnRenamed("__re", s"r_$rEnd")
      .drop("__bin", "__rbin", "__rk")
  }

  /** Per-key interval coalescing (union of overlapping-or-adjacent
    * intervals): merges every maximal run of intervals whose gaps are
    * <= `maxGap` into one island row — key, `island_start`,
    * `island_end`, `n_intervals`. The gaps-and-islands fold behind
    * "total covered on-air time", sessionized from already-interval
    * data (contrast `Funnel.sessionize`, which islands POINT events).
    *
    * One window per key: an island opens where the interval's start
    * exceeds the running max of all earlier ends by more than
    * `maxGap` (running max, not lag — an interval nested inside a
    * longer predecessor must not reopen), then a running sum of the
    * open flags numbers the islands and one keyed agg folds each.
    * Shuffles once on the key; no self-join, nothing quadratic. The
    * (start, end) ordering is total up to exact duplicates, so island
    * boundaries — and the aggregated output — are deterministic.
    */
  def mergeIntervals(df: DataFrame, key: String, start: String, end: String,
                     maxGap: Long = 0L): DataFrame = {
    require(maxGap >= 0, s"maxGap $maxGap must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col(key)).orderBy(col(start), col(end))
    val runMax = max(col(end)).over(order.rowsBetween(Window.unboundedPreceding, -1))
    val opens = when(runMax.isNull || col(start) > runMax + lit(maxGap), 1L).otherwise(0L)
    df.filter(
        when(col(start) <= col(end), lit(true))
          .otherwise(Publish.raise(concat(
            lit(s"inverted interval in $start/$end: "), col(start), lit(" > "), col(end)))))
      .withColumn("__island", sum(opens).over(order))
      .groupBy(col(key), col("__island"))
      .agg(min(col(start)).as("island_start"), max(col(end)).as("island_end"),
        count(lit(1)).as("n_intervals"))
      .drop("__island")
  }
}
