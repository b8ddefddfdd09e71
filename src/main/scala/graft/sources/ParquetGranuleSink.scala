package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Chunk-size-controlled granule output — the Spark analog of the reference
  * `-c udim:chunksize` option (reference: /root/reference/ncagg/cli.py:207-218
  * and chunksizes in aggregator.py:391-398).
  *
  * The reference controls HDF5 chunking of the output file; on Spark the
  * equivalent knobs are (a) range partitioning on the index column so each
  * output file covers a contiguous index range (preserving the "sorted
  * granule" property consumers rely on), and (b) `maxRecordsPerFile` to cap
  * file sizes. At 100 TB this is the difference between a downstream reader
  * pruning files by time range and reading everything.
  */
object ParquetGranuleSink {
  def write(df: DataFrame, path: String, sortCol: String,
      maxRecordsPerFile: Int, numRangePartitions: Int = 0): Unit = {
    val parts =
      if (numRangePartitions > 0) numRangePartitions
      else df.sparkSession.sparkContext.defaultParallelism
    df.repartitionByRange(parts, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .parquet(path)
  }
}
