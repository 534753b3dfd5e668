package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md /
  * FIXTURES.md). All queries take a scale-factor directory and read
  * through here so filter pushdown / column pruning reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table as `spark.read.parquet` reads it, with the schema taken
    * from the first data file's footer on the driver ([[footerSchema]]),
    * so no schema-inference job runs. A path with no data file goes
    * through Spark's inference and fails there. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    parquetFiles(spark, path).headOption match {
      case Some(f) => spark.read.schema(footerSchema(spark, f)).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The schema Spark infers for a parquet file from its footer (as
    * `ParquetFileFormat.readSchema` does): the Spark schema the footer
    * carries when Spark wrote the file, else the parquet schema
    * converted with the session's settings (`nanosAsLong` among them). */
  private def footerSchema(spark: SparkSession, file: InputFile): StructType = {
    val meta = footer(file)(_.getFileMetaData)
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
  }

  /** A parquet table's non-empty data files, in path order: a
    * single-file table (the test fixtures) or a directory of part files
    * (ScaleStress replicas). */
  private def parquetFiles(spark: SparkSession, path: String): Seq[InputFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leafFiles(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName)
        .flatMap(leafFiles)
      else if (st.getPath.getName.endsWith(".parquet") && st.getLen > 0) Seq(st)
      else Nil
    leafFiles(fs.getFileStatus(root)).map(HadoopInputFile.fromStatus(_, conf))
  }

  private def footer[T](file: InputFile)(read: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(file)
    try read(r) finally r.close()
  }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** `events.ts` is parquet timestamp[ns], which Spark's vectorized reader
    * rejects. With `spark.sql.legacy.parquet.nanosAsLong=true` (set in our
    * session builders) it arrives as nanos-since-epoch LongType; we truncate
    * to micros — exactly DuckDB's CAST(TIMESTAMP_NS AS TIMESTAMP) — so both
    * engines see identical event times. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every table as a temp view (for spark.sql-driven tests). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** EXACT row count of a parquet table read on the DRIVER from file
    * footers — no Spark job (r21, guide §1.2/§5: several operators need
    * a table's row count only to pick a physical layout or a join
    * strategy, and were paying a full count(*) job — ~0.3-0.5 s of pure
    * task scheduling per call at fixture scale, once per rep under the
    * bench's cache-clearing protocol). A parquet footer records the
    * file's row count; summing footers is milliseconds for any sane
    * file count and scales with FILE count, not row count — the same
    * metadata a table format's statistics would serve. Handles both a
    * single-file table (the test fixtures) and a directory of part
    * files (ScaleStress replicas). Not a cache: re-read per call. */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long =
    parquetFiles(spark, s"$dir/$name.parquet").map(footer(_)(_.getRecordCount)).sum
}
