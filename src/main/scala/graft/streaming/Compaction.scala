package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import HiveBatchSink.eachHour

/** Partition sealing: the reference's "batch load into Hive" step.
  *
  * A closed staging partition (`staging/dt=…/hr=…`, one subdir per
  * micro-batch) is committed into the final table (`table/dt=…/hr=…`),
  * the hour's done marker is stamped, and the staging partition is
  * deleted. An hour that staged one parquet file is committed by
  * renaming that file into the table: no Spark job, no data read. Every
  * other hour is rewritten by one Spark job, with dynamic partition
  * overwrite keeping the rewrite atomic-per-partition and idempotent.
  * Both replace the table hour whole, so a re-seal (a backfill, a
  * replayed batch) is idempotent; partitions seal independently, so the
  * step parallelizes trivially across a cluster.
  */
object Compaction {

  /** Seal many closed partitions, by rename or by rewrite:
    *
    *   - one glob lists the staged data files of every hour in `parts`
    *     (no full-table listing), and their parquet footers are read on
    *     the driver;
    *   - RENAME: when the sink seals parquet and every footer of the call
    *     holds the same schema, an hour with one staged file is sealed
    *     by moving that file into its table hour (cleared first);
    *   - REWRITE: the other hours (several staged files, an ORC or text
    *     seal, a call whose schemas differ) are read and shuffled once on
    *     (dt, hr), one file per hour, then dynamic-overwritten into the
    *     table ([[HiveBatchSink.overwriteHours]]) in ONE Spark job: O(1)
    *     jobs per call however many hours close. When the footers agree
    *     the read takes their schema, so no inference job runs; otherwise
    *     file schemas are merged;
    *   - ROLL FORWARD: an hour whose staged files are all gone was
    *     renamed by a seal that stopped before its marker; it is not
    *     read, only marked and dropped;
    *   - then the sink stamps every hour's marker and drops its staging.
    *
    * A seal that stops before the markers leaves its hours unsealed, and
    * the next call finishes them: a rewritten hour still has its staged
    * files, a renamed one rolls forward. The sealed format follows
    * `sink.sealFormat`: parquet/ORC columnar, or the reference's
    * delimited text lines. */
  def sealPartitions(spark: SparkSession, sink: HiveBatchSink, parts: Seq[(String, String)]): Unit = {
    if (parts.isEmpty) return
    val staged = sink.stagedFiles(parts)
    val conf = spark.sparkContext.hadoopConfiguration
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val schemas = eachHour(parts)(p => staged(p).map(footerSchema(conf, converter, _))).flatten.distinct
    val schema = if (schemas.size == 1) schemas.headOption else None
    val (renamed, rewritten) = parts.filter(staged(_).nonEmpty)
      .partition(p => sink.sealFormat == "parquet" && schema.isDefined && staged(p).size == 1)
    if (rewritten.nonEmpty) {
      val read = sink.readHours(sink.stagingPath, rewritten, schema)
      sink.overwriteHours(
        if (sink.sealFormat == "text")
          // the reference's Hive load shape: delimited event lines
          read.select(EventParser.lineColumn().as("value"), col("dt"), col("hr"))
        else read)
    }
    sink.moveIntoTable(renamed.map(p => p -> staged(p).head.getPath).toMap)
    sink.markSealed(parts)
    sink.dropHours(sink.stagingPath, parts)
    spark.catalog.refreshByPath(sink.stagingPath)
    spark.catalog.refreshByPath(sink.tablePath)
  }

  /** The Spark schema a read infers from one parquet file's footer. */
  private def footerSchema(conf: Configuration, converter: ParquetToSparkSchemaConverter, file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, reader.getFooter), converter)
    finally reader.close()
  }
}
