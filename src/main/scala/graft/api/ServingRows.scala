package graft.api

import graft.sinks.StoreGen
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, GraftColumnBridge => CB}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedOrdering, InterpretedPredicate, PredicateHelper, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils

/** The rows a serving query reads. [[LinkDb]] and [[PageDb]] define a
  * request once — its filter Columns, its sort order with the full
  * tiebreak and its window — and a ServingRows evaluates that
  * definition: [[ServingRows.frame]] as a Spark plan over any
  * DataFrame, [[ServingRows.direct]] in the calling thread over the
  * listed bucket directories of a store, with no Spark job.
  */
private[graft] trait ServingRows {

  /** The rows passing `filter`, sorted by `order`, from `offset` on,
    * at most `fetch` of them.
    */
  def window(filter: Column, order: Seq[Column], offset: Int, fetch: Int): Seq[Row]

  /** Page `page` (1 when out of range) of `limit` rows, `fetch` rows
    * fetched from its first one. Int-safe offset: (page-1)*limit can
    * overflow Int for absurd page numbers (the reference skips with
    * int64); past Int.MaxValue rows the page is empty by construction.
    */
  final def page(filter: Column, order: Seq[Column], page: Int, limit: Int,
      fetch: Int): Seq[Row] = {
    val off = (math.max(page, 1) - 1).toLong * limit
    if (off + fetch > Int.MaxValue) Seq.empty
    else window(filter, order, off.toInt, fetch)
  }
}

private[graft] object ServingRows extends PredicateHelper {

  /** The reference's limit rule (controller.go:29-34): an out-of-range
    * limit FALLS BACK to 100 rather than clamping.
    */
  def limitOf(limit: Int): Int = if (limit > 0 && limit <= 100) limit else 100

  /** Frame path: the window as a Spark plan over `df`, whose predicates
    * push into its scan. Only the window is collected.
    */
  def frame(df: DataFrame): ServingRows = new ServingRows {
    def window(filter: Column, order: Seq[Column], offset: Int, fetch: Int): Seq[Row] =
      df.filter(filter).orderBy(order: _*).offset(offset).limit(fetch)
        .collect().toSeq // bounded: at most `fetch` rows — the serving window
  }

  /** Direct path: the window over the rows of `bucket` that pass every
    * `bound` predicate (the bind's own, e.g. the store domain), read in
    * the calling thread ([[StoreGen.Partitions.scan]]). The Columns are
    * resolved against the bucket's row schema by the session analyzer
    * (so types coerce as on the frame path) and evaluated by catalyst's
    * interpreted predicate and ordering. Not code-generated on purpose:
    * a generated `rlike` embeds the user's pattern in its source, so
    * every new pattern would compile a class. The conjuncts that
    * translate to data source filters (the domain or host equality)
    * are pushed into the reader to prune row groups. The rows passing
    * are copied and sorted in memory: a domain's rows live in one
    * bucket, and the serving window needs all of them ordered.
    */
  def direct(spark: SparkSession, bucket: StoreGen.Partitions, bound: Column*): ServingRows =
    new ServingRows {
      def window(filter: Column, order: Seq[Column], offset: Int, fetch: Int): Seq[Row] = {
        val schema = bucket.schema
        val attrs = DataTypeUtils.toAttributes(schema)
        val cond = CB.expressionEager((bound :+ filter).reduce(_ && _))
        val filtered = Filter(cond, LocalRelation(attrs))
        val plan: LogicalPlan =
          if (order.isEmpty) filtered
          else Sort(order.map(c => CB.expressionEager(c).asInstanceOf[SortOrder]),
            global = true, filtered)
        val analyzed = spark.sessionState.analyzer
          .executeAndCheck(plan, new QueryPlanningTracker)
        val resolved = analyzed.collectFirst { case f: Filter => f.condition }.get
        val sortOrder = analyzed.collectFirst { case s: Sort => s.order }.getOrElse(Nil)
        val pred = InterpretedPredicate(BindReferences.bindReference(resolved, attrs))
        pred.initialize(0)
        val pushed = splitConjunctivePredicates(resolved).flatMap(CB.sourceFilter)
        val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        bucket.scan(spark, pushed)(r => if (pred.eval(r)) kept += r.copy())
        if (sortOrder.nonEmpty) kept.sortInPlace()(new InterpretedOrdering(sortOrder, attrs))
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        kept.slice(offset, offset + fetch).map(toRow(_).asInstanceOf[Row]).toSeq
      }
    }
}
