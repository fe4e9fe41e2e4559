package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed loaders for the test tables plus the reference's JSON/REST
  * source with nested-object flattening (extract.py:62-100), which the
  * API feeds (`Cleaning`'s ratings feed, [[Fetch]]) read through.
  *
  * All loaders return lazy DataFrames: column pruning and predicate
  * pushdown reach the parquet scan because nothing here forces an action.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** The events table carries a nanosecond-precision parquet timestamp,
    * which Spark 4 only reads with `spark.sql.legacy.parquet.nanosAsLong`
    * (a runtime SQL conf). We flip it for the read and normalize the
    * long-nanos column back to a proper TimestampType (microsecond
    * truncation — Spark's native precision).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** JSON source reader (reference's REST-API source, extract.py:62-100).
    * JSON lines with explicit schema; nested objects arrive as structs and
    * are flattened by [[flattenStructs]] the way the reference flattens the
    * API's nested `rating` object (extract.py:79-84).
    */
  def readJson(spark: SparkSession, path: String, schema: StructType,
               sourceTag: String): DataFrame =
    tagSource(spark.read.schema(schema).json(path), sourceTag)

  /** Source lineage tagging (extract.py:40-41, 86-87). `_extracted_at` is
    * the batch-stable current_timestamp (evaluated once per query, not per
    * row — deterministic within a run).
    */
  def tagSource(df: DataFrame, sourceTag: String): DataFrame =
    df.withColumn("_source", lit(sourceTag))
      .withColumn("_extracted_at", current_timestamp())

  /** Flatten one level of struct columns: `rating: {rate, count}` →
    * `rating_rate`, `rating_count`. Pure projection — zero shuffle.
    */
  def flattenStructs(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case st: StructType =>
          st.fields.toSeq.map(sf => col(s"${f.name}.${sf.name}").as(s"${f.name}_${sf.name}"))
        case _ => Seq(col(f.name))
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Warehouse explorer (the reference dashboard's "Data Warehouse"
    * page, streamlit_app.py table browser): one row per (table, column)
    * with type and table row count. Metadata-only except the counts.
    */
  def catalog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    names.flatMap { t =>
      val df = if (t == "events") events(spark, dir) else apply(spark, dir, t)
      val n = df.count()
      df.schema.fields.zipWithIndex.map { case (f, i) =>
        (t, i + 1, f.name, f.dataType.simpleString, n)
      }
    }.toDF("table_name", "ordinal", "column_name", "data_type", "table_rows")
  }

  /** Size+mtime fingerprint of a source file — cache key fragment for
    * warehouse artifacts derived from it (IVF index, LSH candidates):
    * regenerating the source invalidates the artifact automatically
    * instead of silently serving results for data that no longer exists.
    */
  def sourceKey(spark: SparkSession, file: String): String = {
    val p = new org.apache.hadoop.fs.Path(file)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    s"${st.getLen}_${st.getModificationTime}"
  }
}
