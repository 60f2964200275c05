package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.hadoop.util.functional.RemoteIterators
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** The one reader of the parquet tables, with a schema memo.
  *
  * `spark.read.parquet` runs a Spark job to infer the schema on every call;
  * `read` infers a table once and then reads with `.schema(s)`, no job. The
  * JVM-wide memo is keyed by the qualified path, the path, length and mtime
  * of every file under it (one driver-side listing) and the session's
  * `InferConfs` values — not by the session, so fresh sessions hit too. A
  * table rewritten in place has new files and is inferred again. Nothing is
  * evicted: an entry is one small `StructType` per table file version.
  *
  * `events.ts` has been written by the driver as parquet TIMESTAMP(NANOS)
  * in some rounds and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others,
  * so the reader dispatches on the type that actually arrives:
  *   - NANOS: Spark rejects it by default (PARQUET_TYPE_ILLEGAL); we read
  *     nanos as LONG via the legacy conf and convert to a microsecond
  *     TIMESTAMP with integer division — exactly the truncation DuckDB
  *     applies when it loads nanosecond timestamps into its native
  *     microsecond TIMESTAMP, so oracle comparisons stay bit-identical.
  *     (Float division would corrupt: epoch nanos ~1.7e18 exceeds the
  *     2^53 double mantissa.)
  *   - MICROS (not UTC-adjusted): arrives as TIMESTAMP_NTZ; cast to the
  *     session-local TIMESTAMP, which under the UTC session timezone every
  *     entry point sets is the same instant DuckDB's naive TIMESTAMP read
  *     yields.
  */
object Tables {

  /** Parquet confs whose session values change the inferred schema. */
  private val InferConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private final case class Key(path: String, files: Seq[(String, Long, Long)], confs: Seq[String])

  private val schemas = new ConcurrentHashMap[Key, StructType]()

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    val files = RemoteIterators.toList(fs.listFiles(root, true)).asScala.toSeq
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    val key = Key(root.toString, files, InferConfs.map(spark.conf.get))
    val schema = schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }
}
