package graft.store

import graft.SparkTestSession
import graft.model.Streaming
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** The schema memo under more than one writer: a commit another process
  * publishes to the same log while this process is inside an upsert must
  * not be hidden by the memo this process carries forward. */
class TableCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a column another writer commits mid-upsert stays visible") {
    import spark.implicits._
    val root = SparkTestSession.tempDir("tablecache-foreign")
    val tp = new Path(s"$root/streaming")
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1757595600000L // 2025-09-11T13:00:00Z
    def rows(i: Int) = Seq(("SPY", new java.sql.Timestamp(t0 + i * 1000L), 1.0 + i, 1L))
      .toDF("ticker", "timestamp", "price", "volume")
    /** a stored row: what an upsert writes (version, day partitions) */
    def stored(df: DataFrame) = df.withColumn("version", lit(1))
      .withColumn("y", lit(2025)).withColumn("m", lit(9)).withColumn("d", lit(11))
    def stageAndPublish(df: DataFrame, name: String): Seq[FileStatus] = {
      val stage = new Path(root, s"stage-$name")
      df.coalesce(1).write.partitionBy("ticker", "y", "m", "d").parquet(stage.toString)
      val data = TableLog.promoteWithStatus(fs, stage, tp)
      TableLog.publish(fs, tp, data.map(_._1), Nil)
      data.map(_._2)
    }
    StockStore.upsert(spark, root, Streaming, rows(0))
    val memoized = StockStore.table(spark, root, Streaming).schema

    // this process reads its snapshot, as an upsert does before merging
    val before = TableCache.snapshot(fs, tp)
    // another writer commits a file with a new dynamic column (A10)
    stageAndPublish(stored(rows(1).withColumn("venue", lit("XNYS"))), "foreign")
    // then this process commits a file with only the columns it knows
    val own = stored(rows(2))
    TableCache.committed(spark, fs, tp, before, stageAndPublish(own, "own"), own.schema)

    val files = TableLog.effective(fs, tp)._1.map(r => new Path(tp, r).toString)
    val fresh = spark.read.option("mergeSchema", "true").option("basePath", tp.toString)
      .parquet(files: _*).schema
    assert(fresh.fieldNames.contains("venue") && !memoized.fieldNames.contains("venue"))
    val got = StockStore.table(spark, root, Streaming)
    assert(got.schema == fresh, s"stale memo: ${got.schema.fieldNames.mkString(",")}")
    assert(got.where($"venue" === "XNYS").count() == 1 && got.count() == 3)
  }
}
