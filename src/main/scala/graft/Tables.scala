package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loads the driver-generated parquet tables (TESTDATA.md) and registers
  * them as temp views so both the DataFrame API and `spark.sql` paths see
  * the same catalog — mirroring how the reference registers connector
  * tables via ConnectorMetadata
  * (reference: presto-spi/.../spi/connector/ConnectorMetadata.java:61).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize an events-shaped `ts` column to session-time TIMESTAMP
    * (LTZ). The fixture's parquet has shipped as TIMESTAMP(NANOS) (read as
    * a long under GraftSession nanosAsLong) and as timestamp[us] with no
    * UTC-adjustment flag (read as TIMESTAMP_NTZ under Spark 4's
    * parquet.inferTimestampNTZ) — and watermarks refuse NTZ event time
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session is pinned to UTC
    * (GraftSession), so NTZ→LTZ cast is value-preserving. Every consumer —
    * batch table registration AND readStream callers — must go through
    * this one guard so the watermark surface never sees an NTZ column.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Read one table, normalizing `events.ts` (see [[normalizeEventTs]]). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Last directory registered per session. Every QueryDef calls
    * `register` defensively; doing the work each time re-read 10 parquet
    * footers per query, so the real work runs only when the session/dir
    * pair changes.
    */
  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every table as a temp view on this session. Views only:
    * the Presto-named functions are already in every GraftSession's
    * registry (GraftExtensions). Idempotent and cheap when already
    * registered for this (session, dir).
    */
  def register(spark: SparkSession, dir: String): Unit =
    // compute holds the per-key lock until registration completes, so a
    // concurrent caller on a fresh session can't observe the pair as
    // registered while views are still being created
    registeredDir.compute(spark, (_, prev) => {
      if (prev != dir) all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      dir
    })
}
