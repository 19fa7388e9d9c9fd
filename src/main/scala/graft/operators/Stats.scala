package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Deterministic.rd
import graft.sources.Tables

/** Optimizer-statistics surface: the ANALYZE-class structures every
  * engine maintains so its planner can estimate selectivity and pick
  * join sides — per-column statistics and equi-depth histograms. The
  * reference has no optimizer at all (SURVEY §4.1: its one pipeline is
  * hard-coded), so this family is pure north-star extension; Spark's
  * own `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` is the native
  * analog, re-expressed here as plain queries so the driver's DuckDB
  * oracle can replay every number exactly. */
object Stats {

  /** Per-column statistics for the lineitem fact: row count, null
    * count, EXACT distinct count, and rounded numeric min/max. One
    * wide single-row aggregate covers counts and min/max; the 16 exact
    * distinct counts run as 16 concurrent single-column jobs (see the
    * inline rationale — the merged multi-distinct Expand form was
    * measured 8c-faster-than-32c at 10×). At 100 TB production swaps
    * the exact distincts for per-column HLL sketches (one pass,
    * mergeable — [[lineitemColumnStatsApprox]]); the exact form here
    * is what lets the oracle replay it. The tiny per-column rows are
    * assembled on the driver (11 rows — stats are driver-sized by
    * definition). */
  def lineitemColumnStats(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val fields = li.schema.fields
    val aggExprs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(count(c).as(s"nn_${f.name}")) ++ (f.dataType match {
        case _: NumericType => Seq(
          rd(min(c).cast("double"), 4).as(s"mn_${f.name}"),
          rd(max(c).cast("double"), 4).as(s"mx_${f.name}"))
        case _ => Seq.empty
      })
    }
    // Per-column exact distincts as 16 CONCURRENT single-column jobs
    // (r17, guide §2.6), not one merged 17-way Expand aggregate. The
    // r16 merged form won at sf0.1 (2.86 → 2.16 s) but scales badly:
    // Expand materializes one input-row copy per column before the
    // partial agg, and the 10× sweep measured it at 13.0 s on 32 cores
    // with 8 cores FASTER (10.6 s). Per-column jobs instead prune the
    // parquet scan to ONE column each (ReadSchema = that column — the
    // narrowest possible currency, guide §2.3/§6), partial-aggregate
    // map-side, and all 16 run together from driver futures, so the
    // wall is the slowest column, not the sum. No floor here: a pruned
    // single-column scan plus map-side partial distinct needs no
    // full-row shuffle, and the concurrency covers the 1-task
    // small-file shape. Results identical (count_distinct per column,
    // nulls ignored — same as the merged spelling; oracle unchanged).
    val wideJob = () =>
      li.agg(count(lit(1)).as("n_rows"), aggExprs.toSeq: _*).head()
    val distinctJobs = fields.toSeq.map(f => () =>
      li.select(f.name).agg(count_distinct(col(f.name))).head())
    val wide +: distinctRows = Par.all(spark)(wideJob +: distinctJobs: _*)
    val nRows = wide.getAs[Long]("n_rows")
    val distincts = fields.map(_.name).zip(distinctRows.map(_.getLong(0))).toMap
    val rows = fields.toSeq.map { f =>
      def num(prefix: String): Option[Double] = f.dataType match {
        case _: NumericType =>
          Option(wide.getAs[java.lang.Double](s"${prefix}_${f.name}")).map(_.doubleValue)
        case _ => None
      }
      (f.name, nRows, nRows - wide.getAs[Long](s"nn_${f.name}"),
        distincts(f.name), num("mn"), num("mx"))
    }
    rows.toDF("col_name", "n_rows", "n_nulls", "n_distinct", "min_num", "max_num")
      .orderBy("col_name")
  }

  /** PRODUCTION form of [[lineitemColumnStats]]: distinct counts via
    * HyperLogLog++ sketches (`approx_count_distinct`) instead of the
    * exact (column, value) explode. This is the swap the exact form's
    * docstring promises: ONE wide single-row aggregate computes count,
    * null count, sketch-distinct and min/max for every column in a
    * single pass — no Expand blowup (HLL aggregates don't plan the
    * per-distinct input duplication exact multi-column distinct does)
    * and no ×C row amplification. At 100 TB the partials are fixed-size
    * registers per (partition, column) — the shuffle is O(columns), not
    * O(values). Sketch values are engine-specific (rows-only driver
    * check); StatsSpec asserts <10% relative error per column against
    * the exact form, the `events_approx_distinct` pattern. */
  def lineitemColumnStatsApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    import spark.implicits._
    val li = Tables.floored(spark, sfDir, "lineitem")
    val fields = li.schema.fields
    val aggExprs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(count(c).as(s"nn_${f.name}"),
        approx_count_distinct(c).as(s"nd_${f.name}")) ++ (f.dataType match {
        case _: NumericType => Seq(
          rd(min(c).cast("double"), 4).as(s"mn_${f.name}"),
          rd(max(c).cast("double"), 4).as(s"mx_${f.name}"))
        case _ => Seq.empty
      })
    }
    val wide = li.agg(count(lit(1)).as("n_rows"), aggExprs.toSeq: _*).head()
    val nRows = wide.getAs[Long]("n_rows")
    val rows = fields.toSeq.map { f =>
      def num(prefix: String): Option[Double] = f.dataType match {
        case _: NumericType =>
          Option(wide.getAs[java.lang.Double](s"${prefix}_${f.name}")).map(_.doubleValue)
        case _ => None
      }
      (f.name, nRows, nRows - wide.getAs[Long](s"nn_${f.name}"),
        wide.getAs[Long](s"nd_${f.name}"), num("mn"), num("mx"))
    }
    rows.toDF("col_name", "n_rows", "n_nulls", "n_distinct_approx", "min_num", "max_num")
      .orderBy("col_name")
  }

  /** Data-quality constraint report — the Deequ-class validation pass
    * every production table runs before data is trusted: primary-key
    * uniqueness, referential integrity, null contracts, value ranges
    * and enum membership, one row per constraint with its violation
    * count. Scale shape: per-table constraints fold into ONE wide
    * aggregate per table (conditional sums — a single scan covers all
    * of them, map-side partial); each FK check is one LEFT ANTI join
    * count (shuffles only the key column; at 100 TB this is the
    * standard orphan scan, and a broadcast of the dimension side when
    * it fits). The handful of scalar results is assembled driver-side —
    * constraint reports are driver-sized by definition. */
  def dataQualityReport(spark: SparkSession, sfDir: String): DataFrame =
    dataQualityReportOf(spark, Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir), Tables.customer(spark, sfDir))

  /** [[dataQualityReport]] over caller-supplied frames (spec injects
    * violations through this seam). */
  def dataQualityReportOf(spark: SparkSession, orders: DataFrame,
      li: DataFrame, cust: DataFrame): DataFrame = {
    import spark.implicits._
    // one wide pass per table: every row-local constraint as a conditional
    // sum. coalesce matters: sum() over an EMPTY table is NULL and an
    // empty table is a quality state to report, not to NPE on
    def viol(c: Column): Column = coalesce(sum(when(c, 1).otherwise(0)), lit(0)).cast("long")
    // the four anchors (two wide per-table aggregates, two orphan
    // counts) are independent scalar jobs — overlap them (r17, guide
    // §2.6) instead of running four serial driver waits; measured 2.0 s
    // of serial construction at sf0.1, dominated by the lineitem
    // composite-key distinct
    val Seq(o, l, liOrphans, oOrphans) = Par.all(spark)(
      () => orders.agg(
        count(lit(1)), count_distinct(col("o_orderkey")),
        viol(col("o_orderdate").isNull)).head(),
      () => li.agg(
        count(lit(1)),
        count_distinct(struct(col("l_orderkey"), col("l_linenumber"))),
        viol(col("l_quantity") < 1 || col("l_quantity") > 50),
        viol(!col("l_returnflag").isin("A", "N", "R")),
        viol(col("l_extendedprice") < 0)).head(),
      // referential integrity: orphan keys via anti join (key column only)
      () => li.select("l_orderkey")
        .join(orders.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1))).head(),
      () => orders.select("o_custkey")
        .join(cust.select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1))).head())
    val nO = o.getLong(0); val nL = l.getLong(0)
    Seq(
      ("enum_lineitem_returnflag", "lineitem", nL, l.getLong(3)),
      ("fk_lineitem_orderkey", "lineitem", nL, liOrphans.getLong(0)),
      ("fk_orders_custkey", "orders", nO, oOrphans.getLong(0)),
      ("nn_orders_orderdate", "orders", nO, o.getLong(2)),
      ("nonneg_lineitem_extendedprice", "lineitem", nL, l.getLong(4)),
      ("pk_lineitem_orderkey_linenumber", "lineitem", nL, nL - l.getLong(1)),
      ("pk_orders_orderkey", "orders", nO, nO - o.getLong(1)),
      ("range_lineitem_quantity", "lineitem", nL, l.getLong(2)))
      .toDF("check_name", "table_name", "n_rows", "n_violations")
      .withColumn("pass", col("n_violations") === 0)
      .orderBy("check_name")
  }

  /** Equi-depth histogram over order values — the other stats structure
    * planners keep (equi-WIDTH is `order_value_histogram`). The
    * scale-honest formulation: bucket BOUNDARIES come from one
    * distributed percentile aggregate (a 1-row result), broadcast back,
    * and every row finds its bucket with a row-local fold over the
    * 9-entry boundary list — no global sort, no single-partition ntile
    * window (the naive formulation Spark itself warns about).
    * Boundaries are rounded to 4 dp BEFORE bucketing on both engines so
    * the strict comparison can never split on a final-ulp
    * disagreement. Counts are ~N/buckets up to boundary ties (equal
    * values always land together — deterministic). */
  def orderValueEquidepth(spark: SparkSession, sfDir: String,
      buckets: Int = 10): DataFrame =
    equidepthOver(spark, sfDir, buckets,
      qs => s"percentile(o_totalprice, array($qs))")

  /** Shared body of the exact and GK-sketch equi-depth forms — ONE
    * bucketing pipeline (boundary rounding, broadcast, row-local fold,
    * final agg) parameterized only by the boundary aggregate, so the
    * twins can never drift apart. */
  private def equidepthOver(spark: SparkSession, sfDir: String,
      buckets: Int, boundaryAggOf: String => String): DataFrame = {
    val qs = (1 until buckets).map(i => i.toDouble / buckets).mkString(", ")
    val bounds = Tables.orders(spark, sfDir)
      .agg(expr(boundaryAggOf(qs)).as("raw"))
      .select(transform(col("raw"), b => rd(b, 4)).as("bs"))
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice")
      .crossJoin(broadcast(bounds))
      .select(col("o_totalprice"),
        aggregate(col("bs"), lit(0),
          (acc, b) => acc + when(col("o_totalprice") > b, 1).otherwise(0))
          .cast("int").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .orderBy("bucket")
  }

  /** Production twin of [[orderValueEquidepth]]: boundaries from
    * `approx_percentile` (Greenwald–Khanna sketch) instead of the exact
    * percentile aggregate — closing the same exact→sketch loop as
    * `stats_lineitem_columns_approx` (HLL) and
    * `events_approx_distinct`. At 100 TB this is the form ANALYZE
    * actually runs: the exact percentile buffers every value per
    * partition; GK holds O(accuracy·log N) summaries with a hard
    * ±N/accuracy rank guarantee (accuracy=10k ⇒ boundaries within
    * 0.01% of true rank — `StatsSpec` asserts the resulting bucket
    * depths). Sketch values are engine-specific, so the query is
    * registered WITHOUT a DuckDB oracle (rows-only driver check), the
    * `events_approx_distinct` justification. Plan shape is identical
    * to the exact form: 1-row boundary agg broadcast back, row-local
    * bucketing fold, O(buckets) final agg. */
  def orderValueEquidepthApprox(spark: SparkSession, sfDir: String,
      buckets: Int = 10, accuracy: Int = 10000): DataFrame =
    equidepthOver(spark, sfDir, buckets,
      qs => s"approx_percentile(o_totalprice, array($qs), $accuracy)")
}
