package graft.perfbench

import graft.streaming.CheckpointStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-insensitive fingerprints and the streaming parity rule. */
object Checks {
  /** (row count, sum of a 64-bit row hash) — equal for equal multisets. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1L)),
      coalesce(sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)")), lit(BigDecimal(0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  val SinkCols = Seq("user_id", "task_id", "event_id", "ts_us", "payload", "seq")
  val DiffCols = Seq("user_id", "seq", "event_id", "ts_us", "diff_json")

  /** Expected sink and diff-sink fingerprints for a feed: the batch
    * backfill (E2) over the same wire rows, as in the engine's
    * StreamingParitySpec.
    */
  def expected(spark: SparkSession, feed: DataFrame): ((Long, BigDecimal), (Long, BigDecimal)) = {
    val all = CheckpointStream.backfillAll(spark, feed).toDF().persist()
    try {
      val sink = all.filter(col("kind") === "session").select(SinkCols.map(col): _*)
      val diffs = all.filter(col("kind") === "diff")
        .select(col("user_id"), col("seq"), col("event_id"), col("ts_us"),
          col("payload").as("diff_json"))
      (fingerprint(sink), fingerprint(diffs))
    } finally { all.unpersist(); () }
  }

  def sinkPrint(spark: SparkSession, dir: String): (Long, BigDecimal) =
    fingerprint(spark.read.parquet(dir).select(SinkCols.map(col): _*))

  def diffPrint(spark: SparkSession, dir: String): (Long, BigDecimal) =
    if (!new java.io.File(dir).isDirectory) (0L, BigDecimal(0))
    else fingerprint(spark.read.parquet(dir).select(DiffCols.map(col): _*))

  def rowCount(spark: SparkSession, dir: String): Long =
    if (!new java.io.File(dir).isDirectory) 0L else spark.read.parquet(dir).count()
}
