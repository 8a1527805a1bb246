package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Source/sink layer (SURVEY.md §2.A12-A14).
  *
  * The reference ingests pipe-delimited CSV downloads named
  * `{HOTEL}_{MMddyyyy_HH-mm-ss}.csv` (process_files.py:47
  * `pd.read_csv(full_filename, sep="|")`), derives metadata from each
  * filename, and persists JSON state (optimizations.json,
  * utils.py:120-140).
  *
  * Spark-first re-expression: the per-file loop disappears — one
  * distributed scan reads every file, and the filename-derived columns
  * come from `input_file_name()` evaluated AT SCAN TIME per partition,
  * not from a driver-side directory listing. At 100 TB / millions of
  * files this is the difference between an O(files) driver bottleneck
  * and a fully parallel read.
  */
object Sources {

  /** Pipe-delimited CSV scan with filename metadata columns:
    * `src_filename` (basename), `loc_id` (leading [A-Z]+ code — the
    * reference's hotel_name_pattern, process_files.py:37), `file_ts`
    * (the `MMddyyyy_HH-mm-ss` stamp). Schema may be supplied (strongly
    * preferred at scale — inference is an extra full read). */
  def readDelimited(
      spark: SparkSession,
      path: String,
      delimiter: String = "|",
      schema: Option[StructType] = None,
      header: Boolean = true): DataFrame = {
    val base = spark.read
      .option("sep", delimiter)
      .option("header", header.toString)
    val withSchema = schema.map(base.schema).getOrElse(base.option("inferSchema", "true"))
    withSchema.csv(path)
      .withColumn("src_filename",
        element_at(split(input_file_name(), "/"), -1))
      // NOTE: the reference's `\b([A-Z]+)\b` (process_files.py:37) cannot
      // match a code followed by `_` (underscore is a word char); the
      // working intent is "leading uppercase code", so anchor it.
      .withColumn("loc_id",
        regexp_extract(col("src_filename"), "^([A-Z]+)", 1))
      .withColumn("file_ts",
        to_timestamp(
          regexp_extract(col("src_filename"), "\\d{8}_\\d{2}-\\d{2}-\\d{2}", 0),
          "MMddyyyy_HH-mm-ss"))
  }

  /** Partitioned, appendable parquet sink — the warehouse-load step
    * (gcp_processes.py:20-26 WRITE_APPEND). Partition columns become
    * directory keys, so downstream reads prune by them. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: String = "append"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** JSON state read — the optimizations.json analog. Set
    * `multiLine=true` for the reference's pretty-printed
    * array-of-objects layout; default JSONL for our own writes. A state
    * [[writeJsonState]] wrote reads back with its stored schema: its
    * own column order and types, and no inference job. Any other
    * layout is inferred. */
  def readJsonState(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame = {
    val reader = spark.read.option("multiLine", multiLine.toString)
    storedSchema(spark, path).fold(reader)(reader.schema).json(path)
  }

  /** JSON state write (single file, small state), with the frame's
    * schema in `_schema.json` beside the part file; Spark's readers
    * skip `_`-prefixed files. */
  def writeJsonState(df: DataFrame, path: String): Unit = {
    df.coalesce(1).write.mode("overwrite").json(path)
    val p = new Path(path, SchemaFile)
    val out = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(df.schema.json.getBytes(UTF_8)) finally out.close()
  }

  private val SchemaFile = "_schema.json"

  private def storedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path, SchemaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(DataType.fromJson(new String(in.readAllBytes(), UTF_8)).asInstanceOf[StructType])
      finally in.close()
    }
  }
}
