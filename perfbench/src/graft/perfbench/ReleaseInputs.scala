package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.queries.ExtensionQueries
import graft.sources.Segments

/** What the release benchmark needs from inside `graft`: the three
  * release inputs the release CLI (`graft.ReleaseApp`) wires into
  * `ReleaseRun.run` for a documents directory, and a reader of the live
  * ids of a segmented store, for the output checks. */
object ReleaseInputs {
  def raw(spark: SparkSession, dir: String): DataFrame =
    ExtensionQueries.releaseRawInput(spark, dir)

  def transcriptsOf(spark: SparkSession)(keep: DataFrame): DataFrame =
    ExtensionQueries.sftTranscriptsOf(spark, keep)

  def merges(spark: SparkSession, dir: String): Seq[(String, String)] =
    ExtensionQueries.releaseMerges(spark, dir)

  /** The `idCol` values of a store's `child` table that a reader sees:
    * the live version, tombstones applied. Named `doc_id`. */
  def liveIds(spark: SparkSession, dir: String, child: String, idCol: String): DataFrame = {
    val root = Segments.resolve(spark, dir)
    Segments.minusTombstones(spark, root,
      spark.read.parquet(s"$root/$child").select(col(idCol).as("doc_id")), "doc_id")
  }
}
