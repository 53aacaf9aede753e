package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Size-aware Parquet sink: write, measure actual bytes on the
  * filesystem, then compact to ceil(bytes / 128 MB) files (1 file if
  * under 64 MB, capped at 100) — the reference's small-file compaction
  * (etl2_advclean_and_dimcreatin.py:62,67-88,301-316), re-homed from
  * boto3 S3 listing onto the Hadoop FileSystem API so it works on any
  * Hadoop-compatible store.
  *
  * The measuring write is unpartitioned: `initialPartitions`
  * round-robin files, not one file per (task, partition value) as the
  * reference's partitioned temp write (etl2:285) makes. That is ~10
  * files to create, list and read back instead of ~10 × #values. The
  * measured bytes therefore include the partition columns and carry
  * fewer footers than a partitioned layout would — close enough for a
  * 128 MB-granular file count. The final write keeps `partitionBy`,
  * so the layout the caller sees is unchanged.
  *
  * Scale note: on Spark 3/4 the same goal is often better served by
  * AQE + `spark.sql.files.maxRecordsPerFile`, which avoids the second
  * write entirely; this operator reproduces the reference's explicit
  * measure-then-coalesce contract where exact file counts matter.
  */
object SizedWrite {
  val TargetFileBytes: Long = 128L * 1024 * 1024
  val MinSingleFileBytes: Long = TargetFileBytes / 2
  val MaxFiles: Int = 100

  /** Sum of data-file bytes under `path` (recursively), counting only
    * parquet part files like the reference's S3 key filter (etl2:78-82). */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (name.endsWith(".parquet") || name.startsWith("part-"))
          total += f.getLen
      }
      total
    }
  }

  /** clamp(ceil(bytes/128MB), 1, 100); 1 if under 64 MB (etl2:303-308). */
  def optimalPartitions(bytes: Long): Int =
    if (bytes < MinSingleFileBytes) 1
    else math.min(MaxFiles, math.max(1, math.ceil(bytes.toDouble / TargetFileBytes).toInt))

  /** Write df unpartitioned to `tempPath`, measure, rewrite compacted
    * (and partitioned by `partitionCols`) to `finalPath`, delete the
    * temp (etl2:285,301-331). */
  def writeSized(
      df: DataFrame, tempPath: String, finalPath: String,
      partitionCols: Seq[String] = Nil, initialPartitions: Int = 10): Unit = {
    val spark = df.sparkSession
    df.repartition(initialPartitions).write.mode("overwrite").parquet(tempPath)
    val n = optimalPartitions(dataBytes(spark, tempPath))
    val back = spark.read.parquet(tempPath).coalesce(n)
    val w1 = back.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w1.partitionBy(partitionCols: _*) else w1)
      .parquet(finalPath)
    val tp = new Path(tempPath)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tp, true)
  }
}
