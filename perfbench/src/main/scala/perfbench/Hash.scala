package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._

/** Row count plus an order-insensitive content hash of a result. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Hash {
  /** Executes the plan as optimized for full output (as graft.Bench.force
    * does) and hashes every output column of every row in the same job:
    * the sum of per-row xxhash64 over the row's unsafe encoding. Equal
    * multisets of rows give equal digests whatever the partitioning. */
  def forceDigest(df: DataFrame): Digest = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Digests of several parquet tables in one job: per table, the row
    * count and the sum of Spark's xxhash64 over every column of each row. */
  def tableDigests(spark: SparkSession, tables: Seq[(String, String)]): Map[String, Digest] = {
    val rows = tables.map { case (name, path) =>
      val t = spark.read.parquet(path)
      t.select(lit(name).as("t"), xxhash64(t.columns.map(c => col(s"`$c`")): _*).cast("decimal(20,0)").as("h"))
    }.reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)).as("n"), sum("h").as("h"))
      .collect()
    rows.map(r => r.getString(0) -> Digest(r.getLong(1), r.getDecimal(2).toBigInteger.longValue)).toMap
  }
}
