package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage audit from parquet FOOTERS only — which columns pay for the
  * table's bytes, per-column compressed/raw sizes and compression
  * ratios, without scanning a single data page. At 100 TB this is how
  * you find the column that should be zstd-compressed, dictionary-
  * encoded, or dropped from the hot table — the same metadata-only
  * discipline as the zone-map index and the seal's schema check (driver
  * listing + footer reads, O(files), no Spark job). Run it over one
  * sealed partition to audit the whole table's layout. */
object ParquetStats {

  final case class ColumnStats(
      column: String,
      compressed_bytes: Long,
      raw_bytes: Long,
      n_values: Long)

  def columnSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs   = root.getFileSystem(conf)
    val files = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
    val agg = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        reader.getFooter.getBlocks.forEach { block =>
          block.getColumns.forEach { c =>
            val key = c.getPath.toDotString
            val (cb, rb, nv) = agg.getOrElse(key, (0L, 0L, 0L))
            agg(key) = (cb + c.getTotalSize, rb + c.getTotalUncompressedSize, nv + c.getValueCount)
          }
        }
      } finally reader.close()
    }
    agg.toSeq
      .map { case (col, (cb, rb, nv)) => ColumnStats(col, cb, rb, nv) }
      .toDF()
      .orderBy(org.apache.spark.sql.functions.desc("compressed_bytes"))
  }
}
