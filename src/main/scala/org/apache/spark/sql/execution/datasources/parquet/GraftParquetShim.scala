package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** Bridge to the package-private footer readers behind Spark's parquet
  * schema inference. Inference without a schema runs them inside a
  * one-task Spark job (`mergeSchemasInParallel`); called here, they
  * read the same footer on the driver and start no job. */
object GraftParquetShim {
  /** The schema Spark's non-merging inference gives `path`. It lists
    * `path` the way a read does and touches the one file inference
    * touches: `_common_metadata`, else `_metadata`, else the first data
    * file in path order. The footer goes through Spark's own
    * conversion, so the Spark row metadata and the session's parquet
    * confs (`nanosAsLong`, `inferTimestampNTZ`, binary-as-string) apply
    * as they do in inference. None when `path` holds no readable
    * parquet file, or when the session merges schemas across files
    * (then only Spark's own inference gives the answer). */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else {
      val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
      val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
      val touched = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      ParquetFileFormat.readSchema(
        ParquetFileFormat.readParquetFootersInParallel(
          spark.sessionState.newHadoopConf(), touched.toSeq, conf.ignoreCorruptFiles),
        spark)
    }
  }
}
