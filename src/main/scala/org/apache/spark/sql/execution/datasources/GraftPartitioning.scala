package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's partition-directory parser (`private[datasources]`),
  * called with the arguments `PartitioningAwareFileIndex` passes for a
  * read without options: the session's type-inference, case,
  * validation and time-zone confs. A manifest-backed index that hands
  * it the same directories and base path types and unescapes partition
  * values exactly as `spark.read.option("basePath", …)` does. */
object GraftPartitioning {
  def parse(spark: SparkSession, dirs: Seq[Path], basePath: Path,
      declared: StructType): PartitionSpec = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(dirs,
      conf.partitionColumnTypeInferenceEnabled, Set(basePath),
      Some(declared).filter(_.nonEmpty), conf.caseSensitiveAnalysis,
      conf.validatePartitionColumns, conf.sessionLocalTimeZone,
      conf.ignoreInvalidPartitionPaths)
  }
}
