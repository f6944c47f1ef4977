package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftinternal.GraftSql
import scala.jdk.CollectionConverters._

/**
 * The single seam for state-table I/O: superstep checkpoints
 * (`graft.core.Superstep.writeCheckpoint`/resume) and any other engine
 * table read/write go through here, so the storage format is one runtime
 * conf away instead of hardcoded at every call site.
 *
 * `graft.table.format` (session conf, default `"parquet"`) names any
 * DataSourceV2 format. On a cluster that ships the Iceberg runtime jar,
 * setting it to `"iceberg"` (plus the usual catalog conf) yields the
 * north-star layout — every superstep a committed table snapshot alongside
 * its `manifest.json` lineage. No Iceberg jar exists in this sandbox
 * (SURVEY.md §7.0), so parquet-dir + manifest is the tested default; the
 * seam keeps the engine itself format-agnostic either way.
 */
object TableIO {
  val FormatKey = "graft.table.format"

  def format(spark: SparkSession): String =
    spark.conf.get(FormatKey, "parquet")

  /** Overwrite `path` with `df` in the configured table format. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").format(format(df.sparkSession)).save(path)

  /**
   * [[write]] that also returns the rows written from each partition of
   * `df`, keyed by partition index. The rows are counted as the write job
   * streams them, so the counts cost no second job.
   */
  def writeCounted(df: DataFrame, path: String): Map[Int, Long] = {
    val spark = df.sparkSession
    val counts = spark.sparkContext.collectionAccumulator[(Int, Long)]("rows per partition")
    val counted = df.queryExecution.toRdd.mapPartitionsWithIndex { (p, rows) =>
      new Iterator[InternalRow] {
        private var n = 0L
        private var open = true
        def hasNext: Boolean = {
          val more = rows.hasNext
          if (!more && open) { open = false; counts.add(p -> n) }
          more
        }
        def next(): InternalRow = { n += 1; rows.next() }
      }
    }
    write(GraftSql.fromInternalRdd(spark, counted, df.schema), path)
    counts.value.asScala.toMap
  }

  /** Read a table previously written by [[write]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(format(spark)).load(path)
}
