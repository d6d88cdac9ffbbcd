package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage seam for every table the pipeline reads or writes (SURVEY §7 R1).
  * The engine's logic is written against this trait; the binding decides
  * whether a "table" is a parquet path ([[ParquetTableIO]], the default in
  * this container) or an Iceberg identifier ([[IcebergTableIO]] — compiles
  * against core Spark's DataFrameWriterV2, runnable only where the Iceberg
  * runtime jar + catalog are on the cluster, which `/opt/spark/jars` lacks).
  * Swapping bindings changes no pipeline code. */
trait TableIO {

  /** Read a table (path or catalog identifier, binding-dependent). */
  def read(spark: SparkSession, table: String): DataFrame

  /** Overwrite/append `df` as `table`, optionally partitioned. With
    * `dynamicOverwrite` only the partitions present in `df` are replaced
    * (the resume path's contract). */
  def write(df: DataFrame, table: String, partitionCols: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite, dynamicOverwrite: Boolean = false): Unit

  /** Hash-bucketed AND sorted write, so url-keyed downstream ops read
    * co-located, time-ordered data with no exchange. */
  def writeBucketedSorted(df: DataFrame, table: String, buckets: Int,
      bucketCol: String, sortCols: Seq[String]): Unit
}

/** Parquet-path binding: `table` is a filesystem path (except the bucketed
  * sink, which must go through the session catalog for Spark to record
  * bucketing metadata). */
object ParquetTableIO extends TableIO {

  def read(spark: SparkSession, table: String): DataFrame = spark.read.parquet(table)

  def write(df: DataFrame, table: String, partitionCols: Seq[String],
      mode: SaveMode, dynamicOverwrite: Boolean): Unit = {
    val plain = df.write.mode(mode)
    // a per-write option, so the session's own overwrite mode is untouched
    val w = if (dynamicOverwrite) plain.option("partitionOverwriteMode", "dynamic") else plain
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(table)
  }

  def writeBucketedSorted(df: DataFrame, table: String, buckets: Int,
      bucketCol: String, sortCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(table)
}

/** Iceberg binding: `table` is a catalog identifier (e.g.
  * `catalog.db.rollups`). Uses only core-Spark DataFrameWriterV2 calls, so
  * it compiles here; executing it requires the iceberg-spark-runtime jar and
  * a configured catalog (`spark.sql.catalog.<name>=org.apache.iceberg...`),
  * which this container does not ship — see SURVEY §7 R1. */
final class IcebergTableIO extends TableIO {
  import org.apache.spark.sql.functions.{bucket, col}

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  def write(df: DataFrame, table: String, partitionCols: Seq[String],
      mode: SaveMode, dynamicOverwrite: Boolean): Unit = {
    val w = df.writeTo(table).using("iceberg")
    val partitioned =
      if (partitionCols.nonEmpty) w.partitionedBy(col(partitionCols.head), partitionCols.tail.map(col): _*)
      else w
    mode match {
      case SaveMode.Append => df.writeTo(table).append()
      case _ if dynamicOverwrite => df.writeTo(table).overwritePartitions()
      case _ => partitioned.createOrReplace()
    }
  }

  def writeBucketedSorted(df: DataFrame, table: String, buckets: Int,
      bucketCol: String, sortCols: Seq[String]): Unit =
    df.sortWithinPartitions(sortCols.map(col): _*)
      .writeTo(table).using("iceberg")
      .partitionedBy(bucket(buckets, col(bucketCol)))
      .createOrReplace()
}
