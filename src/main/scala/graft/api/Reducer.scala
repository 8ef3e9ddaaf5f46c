package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's MapReducer/MapAggregator reducer surface
  * [ref: oshdb-api/…/mapreducer/MapReducer.java :: count/sum/average/
  * weightedAverage/uniq/countUniq/estimatedQuantile/reduce;
  * MapAggregator :: aggregateBy/aggregateByTimestamp + zerofill]
  * re-expressed as a thin fluent layer that compiles straight to
  * `groupBy().agg()` — Catalyst's partial/final hash aggregation IS the
  * reference's per-cell-partial + combiner contract (SURVEY.md D, O5), so
  * every reducer here inherits map-side combine and whole-stage codegen.
  *
  * Aggregates of one `Reducer` joined back on its keys run as ONE pass:
  * `r.count().join(r.sum(x), keys)` plans a single Aggregate over one scan
  * of `df`, not one per reducer (`countUniq`, a DISTINCT aggregate, keeps
  * its own pass; [[graft.plans.MergeKeyedAggregates]],
  * which [[Reducer.on]] installs on the DataFrame's session). The rule
  * then stays on that session and rewrites any such join, also in queries
  * that never use a Reducer.
  *
  * Numeric policy: sums/averages go through exact DECIMAL accumulation and
  * are cast to double ONCE at the end — bit-identical across engines and
  * row orders (no float-summation order sensitivity), which is what makes
  * the DuckDB oracle twins hash-exact.
  */
final case class Reducer(df: DataFrame, keys: Seq[(String, Column)]) {

  /** D9: keyed aggregation by arbitrary indexers (chainable = D12 nested). */
  def aggregateBy(name: String, key: Column): Reducer = copy(keys = keys :+ (name -> key))

  /** D10: event-time tumbling bucket by calendar unit ("hour"/"day"/"month"). */
  def aggregateByTimestamp(name: String, ts: Column, unit: String): Reducer =
    aggregateBy(name, date_format(date_trunc(unit, ts), "yyyy-MM-dd HH:mm:ss"))

  private def grouped = df.groupBy(keys.map { case (n, c) => c.as(n) }: _*)
  private def keyNames = keys.map(_._1)

  private def sumDec(c: Column): Column =
    org.apache.spark.sql.functions.sum(c.cast("decimal(27,6)"))

  /** D1 */
  def count(as: String = "cnt"): DataFrame =
    grouped.agg(org.apache.spark.sql.functions.count(lit(1)).as(as))
  /** D2 — exact decimal accumulation, one final cast to double */
  def sum(c: Column, as: String = "sum"): DataFrame =
    grouped.agg(sumDec(c).cast("double").as(as))
  /** D3 */
  def average(c: Column, as: String = "avg"): DataFrame =
    grouped.agg((sumDec(c).cast("double") / org.apache.spark.sql.functions.count(c)).as(as))
  /** D4: Σwx/Σw; NULL for a group whose weights sum to 0. */
  def weightedAverage(x: Column, w: Column, as: String = "wavg"): DataFrame =
    grouped.agg(try_divide(sumDec(x * w).cast("double"), sumDec(w).cast("double")).as(as))
  /** D5: exact distinct set — surfaced as distinct rows (set-as-rows keeps
    * oracle comparison well-defined; the reference returns Set<X>). */
  def uniq(c: Column, as: String = "val"): DataFrame =
    df.select((keys.map { case (n, k) => k.as(n) } :+ c.as(as)): _*).distinct()
  /** D6 */
  def countUniq(c: Column, as: String = "n_uniq"): DataFrame =
    grouped.agg(countDistinct(c).as(as))
  /** D6 at scale: HLL sketch (flagged non-exact; no oracle twin). */
  def countUniqApprox(c: Column, as: String = "n_uniq_approx"): DataFrame =
    grouped.agg(approx_count_distinct(c).as(as))
  /** D6 incremental: MERGEABLE HLL sketch as a stored column
    * (Spark's Datasketches builtins) — per-batch sketches union with
    * `hll_union_agg`, so distinct counts compose across Iceberg-style
    * appends without re-scanning old data (the incremental-stats pattern;
    * ReducerSpec gates union-vs-rescan equality).
    */
  def uniqSketch(c: Column, as: String = "uniq_sketch"): DataFrame =
    grouped.agg(hll_sketch_agg(c).as(as))
  /** D7: exact quantiles on small/medium groups (reference uses a t-digest
    * sketch; we expose Spark's exact percentile + approx_percentile for the
    * sketch path). */
  def quantile(c: Column, q: Double, as: String = "q"): DataFrame =
    grouped.agg(percentile(c, lit(q)).as(as))
  /** D7 plural: exact quantile list (reference estimatedQuantiles(qs)). */
  def quantiles(c: Column, qs: Seq[Double], as: String = "qs"): DataFrame =
    grouped.agg(percentile(c, array(qs.map(lit): _*)).as(as))
  def estimatedQuantile(c: Column, q: Double, as: String = "q_est"): DataFrame =
    grouped.agg(percentile_approx(c, lit(q), lit(10000)).as(as))
  /** D7 at scale: mergeable KLL sketch (graft.functions.KllQuantileAgg) —
    * O(k·log n) state per group vs `percentile`'s full value buffering, so
    * billion-row groups aggregate in constant memory; rank error O(1/k)
    * (error-bound spec: KllSpec). This is the upstream t-digest
    * `estimatedQuantiles` role re-expressed as a TypedImperativeAggregate.
    */
  def sketchQuantile(c: Column, q: Double, as: String = "q_sketch", k: Int = 200): DataFrame =
    grouped.agg(graft.functions.KllAgg.kllQuantile(c, q, k).as(as))
  /** D7 plural at scale (upstream estimatedQuantiles(qs)): one sketch
    * aggregate per requested quantile — the sketches are per-group-small
    * (O(k·log n)), so q columns cost q merges, not q data passes.
    */
  def sketchQuantiles(c: Column, qs: Seq[Double], prefix: String = "q_sketch",
                      k: Int = 200): DataFrame = {
    val aggs = qs.map(q => graft.functions.KllAgg.kllQuantile(c, q, k)
      .as(s"${prefix}_${math.round(q * 100)}"))
    grouped.agg(aggs.head, aggs.tail: _*)
  }
  /** D8: generic user fold via a typed Aggregator (the reference's
    * reduce(identity, accumulator, combiner)). */
  def reduce[B](agg: org.apache.spark.sql.expressions.Aggregator[org.apache.spark.sql.Row, B, _], as: String = "reduced"): DataFrame =
    grouped.agg(agg.toColumn.as(as))

  /** Zerofill (D9/D10): left-join the requested key domain, fill identity.
    * `domain` must carry exactly the key columns.
    */
  def zerofill(result: DataFrame, domain: DataFrame, fills: Map[String, Column]): DataFrame = {
    val joined = domain.join(result, keyNames, "left")
    val cols = domain.columns.map(col) ++
      result.columns.filterNot(keyNames.contains).map(c =>
        coalesce(col(c), fills.getOrElse(c, lit(0L))).as(c))
    joined.select(cols.toIndexedSeq: _*)
  }
}

object Reducer {
  def on(df: DataFrame): Reducer = {
    graft.plans.MergeKeyedAggregates.install(df.sparkSession)
    Reducer(df, Seq.empty)
  }
}
