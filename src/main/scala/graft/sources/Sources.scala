package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for outside text input. The reference takes user-supplied
  * Flink `DataStream`s and ships no scans of its own (SURVEY §2.D); on
  * Spark a parquet, file-stream, rate or Kafka source is a one-liner
  * over `spark.read`/`readStream`, so only the readers that add a
  * contract live here: an explicit schema and malformed input captured
  * into `_corrupt_record` as an auditable reject relation.
  */
object Sources {

  /** JSONL corpus — the crawl-dump interchange format real curation
    * pipelines ingest. Schema is explicit (inference is a full extra
    * pass at 100 TB), and malformed lines are CAPTURED into
    * `_corrupt_record` (PERMISSIVE) so ingest loss is auditable:
    * `df.filter(col("_corrupt_record").isNotNull)` is the reject
    * relation (Spark requires the parse be materialized — cache or
    * write — before a corrupt-only projection). Pass
    * `dropMalformed = true` to discard instead.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType,
      dropMalformed: Boolean = false): DataFrame = {
    val withCorrupt =
      if (dropMalformed) schema
      else new StructType((schema.fields :+ org.apache.spark.sql.types
        .StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType, nullable = true)).toArray)
    spark.read.schema(withCorrupt)
      .option("mode", if (dropMalformed) "DROPMALFORMED" else "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** JSONL tailed as a stream (same schema/corrupt-record contract). */
  def jsonlStream(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val withCorrupt = new StructType((schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType, nullable = true)).toArray)
    spark.readStream.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** CSV corpus — the other interchange format metadata tables arrive
    * in (crawl indexes, blocklists, label sheets). Same contract as
    * [[jsonl]]: explicit schema, PERMISSIVE malformed-row capture into
    * `_corrupt_record` as the auditable reject relation (materialize
    * the parse before a corrupt-only projection), or DROPMALFORMED.
    * Header/sep configurable; quotes/escapes are Spark's RFC-4180
    * defaults.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, sep: String = ",",
      dropMalformed: Boolean = false): DataFrame = {
    val withCorrupt =
      if (dropMalformed) schema
      else new StructType((schema.fields :+ org.apache.spark.sql.types
        .StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType, nullable = true)).toArray)
    spark.read.schema(withCorrupt)
      .option("header", header.toString)
      .option("sep", sep)
      // RFC-4180 doubled-quote escaping (Spark's default escape is the
      // backslash, which no spreadsheet/exporter actually writes)
      .option("escape", "\"")
      .option("mode", if (dropMalformed) "DROPMALFORMED" else "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }
}
