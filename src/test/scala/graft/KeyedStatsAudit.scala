package graft

import graft.sources.{KeyedSource, KeyedStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.types.StructType

/** Spec helper for the keyed write audit: the per-key stats a layout's
  * head view reports against a direct aggregate of its rows. Figures
  * are raw strings per column in the sidecar's own form: BIGINT and
  * INT digits, STRING values, DOUBLE and FLOAT sortable-bits digits
  * ([[KeyedStats.sortableDouble]] — NaN and -0.0 normalized). */
object KeyedStatsAudit {
  /** raw key -> (row count, per-column (min, max)) */
  type PerKey = Map[String, (Long, Seq[(String, String)])]

  /** The head view's stats as [[KeyedStats.readView]] merges them
    * (sidecars, stats patches, KMV table line), plus the table line's
    * row count (None when the view reports no table line). */
  def fromStats(spark: SparkSession, dir: String, schema: StructType,
      key: String): (PerKey, Option[Long]) = {
    val hconf = spark.sessionState.newHadoopConf()
    val sc = KeyedStats.readView(KeyedSource.resolveView(dir, hconf, None),
      new org.apache.spark.util.SerializableConfiguration(hconf), schema, key)
      .getOrElse(throw new AssertionError(s"no readable stats view at $dir"))
    (sc.entries.map(e => e.rawKey ->
      (e.count, schema.indices.map(i => (e.mins(i), e.maxs(i))))).toMap,
      sc.table.map(_.count))
  }

  /** The same per-key figures aggregated from the rows of `df`, plus
    * the row total. The rows are collected first, so the aggregate
    * cannot be answered from the very stats under audit (a keyed scan
    * pushes count/min/max down to its sidecar). */
  def fromRows(scanned: DataFrame, schema: StructType, key: String): (PerKey, Long) = {
    val df = scanned.sparkSession.createDataFrame(
      java.util.Arrays.asList(scanned.collect(): _*), scanned.schema)
    val aggs = schema.fieldNames.toSeq.flatMap(c => Seq(min(col(c)), max(col(c))))
    def raw(v: Any): String = v match {
      case d: java.lang.Double => KeyedStats.sortableDouble(d).toString
      case f: java.lang.Float => KeyedStats.sortableFloat(f).toString
      case other => String.valueOf(other)
    }
    val perKey = df.groupBy(col(key)).agg(count(lit(1)), aggs: _*).collect()
      .map(r => String.valueOf(r.get(0)) -> (r.getLong(1), schema.indices.map(i =>
        (raw(r.get(2 + 2 * i)), raw(r.get(3 + 2 * i)))))).toMap
    (perKey, df.count())
  }
}
