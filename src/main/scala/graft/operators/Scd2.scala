package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic SCD Type 2 merge — the reference's dimension-merge strategy
  * (/root/reference/etl/load.py:246-319: "expire changed records, insert
  * new/changed versions, detect change by row_hash") as a single
  * declarative Spark plan over any dimension.
  *
  * Contract:
  *  - `existing`: the dimension as loaded — `key`, attribute columns,
  *    `row_hash`, `version`, `is_current`, `effective_start_date`,
  *    `effective_end_date`.
  *  - `incoming`: the new batch snapshot — `key`, the same attribute
  *    columns, `row_hash`.
  *  - output: the merged dimension (history preserved) plus a
  *    `change_type` lineage column: history | unchanged | expired |
  *    changed | new.
  *
  * Scale: one full-outer shuffle join on the natural key between the
  * CURRENT slice and the batch (history rows never join), and the join
  * output is scanned ONCE — every joined row explodes into its one or
  * two (expired + re-versioned) output rows, instead of the classic
  * union-of-four-filters that re-executes the join per change type.
  * The reference's row-by-row UPDATE+INSERT (load.py:277-299) becomes
  * a single set-based pass — the shape that survives a 10^9-row
  * dimension.
  */
object Scd2 {

  private val META = Seq("version", "is_current", "effective_start_date", "effective_end_date")

  def merge(existing: DataFrame, incoming: DataFrame, key: String, mergeTs: Column,
            farFuture: Column = lit("9999-12-31 00:00:00").cast("timestamp_ntz")): DataFrame = {
    val attrs = incoming.columns.filterNot(c => c == key || c == "row_hash").toSeq
    val outCols = (key +: attrs) ++ META ++ Seq("change_type", "row_hash")

    val history = existing.filter(!col("is_current"))
      .withColumn("change_type", lit("history"))
      .select(outCols.map(col): _*)

    val cur = existing.filter(col("is_current")).as("cur")
    val inc = incoming.as("inc")
    val joined = cur.join(inc, col(s"cur.$key") === col(s"inc.$key"), "full_outer")

    def rowOf(side: String, version: Column, isCurrent: Column,
              start: Column, end: Column, changeType: String): Column =
      struct(
        (col(s"$side.$key").as(key) +: attrs.map(a => col(s"$side.$a").as(a))) ++
          Seq(version.as("version"), isCurrent.as("is_current"),
            start.as("effective_start_date"), end.as("effective_end_date"),
            lit(changeType).as("change_type"), col(s"$side.row_hash").as("row_hash")): _*)

    // null-safe compare: with plain ===, a matched pair whose row_hash is
    // NULL on either side makes both when-branches NULL and the row falls
    // through to 'new' (version reset, current row silently dropped).
    // <=> keeps matched keys on the unchanged/changed branches always.
    val sameHash = col("cur.row_hash") <=> col("inc.row_hash")
    val bothMatched = col(s"cur.$key").isNotNull && col(s"inc.$key").isNotNull

    val expanded = joined.select(explode(
      when(col(s"cur.$key").isNotNull && (col(s"inc.$key").isNull || sameHash),
        array(rowOf("cur", col("cur.version"), col("cur.is_current"),
          col("cur.effective_start_date"), col("cur.effective_end_date"), "unchanged")))
      .when(bothMatched && !sameHash,
        array(
          rowOf("cur", col("cur.version"), lit(false),
            col("cur.effective_start_date"), mergeTs, "expired"),
          rowOf("inc", col("cur.version") + 1, lit(true),
            mergeTs, farFuture, "changed")))
      .otherwise(
        array(rowOf("inc", lit(1L), lit(true), mergeTs, farFuture, "new"))))
      .as("r"))
      .select(outCols.map(c => col(s"r.$c")): _*)

    history.union(expanded)
  }

  /** MERGE-shaped write: read the dimension at `path`, [[merge]] the
    * incoming batch into it, and publish the result back to the same
    * path. The staging-then-swap write (Sinks.publish) fully
    * materializes the merged plan BEFORE the target is overwritten —
    * Spark cannot safely overwrite a path a lazy plan is still reading.
    * Returns the merged row count. This is the reference's
    * UPDATE-then-INSERT SCD2 load (load.py:246-319) as one set-based
    * merge + atomic-ish swap, re-runnable per batch.
    */
  def mergeInto(spark: org.apache.spark.sql.SparkSession, path: String,
                incoming: DataFrame, key: String, mergeTs: Column,
                farFuture: Column = lit("9999-12-31 00:00:00").cast("timestamp_ntz")): Long = {
    val existing = spark.read.parquet(path)
    val merged = merge(existing, incoming, key, mergeTs, farFuture)
    graft.sources.Sinks.publish(merged, path)
  }
}
