package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Each table is `<name>.parquet` under `sfDir`: one file (the
  * shipped testdata) or a flat directory of part files (what
  * [[GenScale]] and [[GenSkew]] write). All engine operators take
  * `DataFrame => DataFrame` so they are source-agnostic; these helpers
  * are the only place paths are constructed.
  *
  * The schema is read on the driver from the footer of that file, or
  * of the directory's first part file by path (the one file Spark's
  * own inference reads), and handed to the reader, so building a
  * query launches no schema-inference job. The footer is read on
  * every call (no cache: a rewritten file is seen by the next query),
  * through the converter inference uses, built from a clone of the
  * session's `SQLConf`, so the session conf is never changed. A path
  * with no data file at its top level, such as a `key=value`
  * partitioned directory, fails loudly.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, sfDir, name, spark.sessionState.conf.clone())

  private def read(spark: SparkSession, sfDir: String, name: String, conf: SQLConf): DataFrame = {
    val path = new Path(s"$sfDir/$name.parquet")
    val hadoopConf = spark.sessionState.newHadoopConf()
    // a file lists as itself, a directory as its part files
    val first = path.getFileSystem(hadoopConf).listStatus(path)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .minByOption(_.getPath.toString).getOrElse(throw new IllegalArgumentException(
        s"Tables reads a parquet file or a directory of part files; $path holds no data file"))
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(first, hadoopConf), SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, footer), new ParquetToSparkSchemaConverter(conf))
    spark.read.schema(schema).parquet(path.toString)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** `events.ts` has shipped in two parquet encodings across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark 4 refuses
    * to read as a timestamp — read nanos as long, floor-truncate to
    * micros, matching DuckDB's nanos→micros cast) and plain
    * TIMESTAMP(MICROS) (read natively as NTZ). Both normalize to a
    * session-TZ TIMESTAMP column (session TZ is pinned UTC, so the
    * NTZ→LTZ cast is value-identity) — downstream operators and the
    * correctness oracle see one stable type either way. Nanos-as-long
    * is set only on the cloned conf the footer is converted with. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val conf = spark.sessionState.conf.clone()
    conf.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
    val df = read(spark, sfDir, "events", conf)
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
