package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Fixture-table loader (TESTDATA.md): one parquet file per table under the
  * scale-factor directory. Loading is a plain parquet scan so Catalyst gets
  * full pushdown (PushedFilters / ReadSchema) into the columnar reader.
  *
  * `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's reader
  * rejects outright; we read it via the `nanosAsLong` escape hatch and
  * normalize back to a microsecond timestamp (truncation — the same
  * conversion DuckDB applies), keeping the column name and downstream
  * semantics identical.
  *
  * Each file's schema is inferred once per process and then supplied to
  * the reader. A bare `spark.read.parquet` runs one Spark job per call to
  * read the footers (`ParquetUtils.inferSchema`). Measured on a 4-core
  * host at sf0.01, that job cost about 0.08 s per read: 0.13 s of the
  * 0.50 s mean query of the `elt_queries` benchmark workload, whose
  * queries read 1.6 tables on average. The cache key is the file's
  * qualified path, length and modification time (so a file rewritten in
  * place is inferred again) plus the session confs that change Parquet
  * inference. Every call still builds a fresh relation with fresh
  * attribute ids, so two reads of one table self-join unambiguously.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change what Parquet inference returns.
    * `nanosAsLong` is not among them: [[apply]] always forces it. */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas = new ConcurrentHashMap[(String, Long, Long, Seq[String]), StructType]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // restore range-predicate pushdown through the nanos->micros rebuild
    org.apache.spark.sql.graft.NanosPushdown.install(spark)
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") normalizeNanos(df, "ts") else df
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    val key = (fs.makeQualified(p).toString, st.getLen, st.getModificationTime,
      inferenceConfs.map(k => spark.conf.get(k)))
    schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  /** Nano-long epoch column → microsecond timestamp (floor division). */
  private def normalizeNanos(df: DataFrame, c: String): DataFrame =
    df.schema.find(_.name == c) match {
      case Some(StructField(_, LongType, _, _)) =>
        df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case _ => df
    }
}
