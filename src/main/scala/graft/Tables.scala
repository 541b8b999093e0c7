package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Reads go straight through `spark.read.parquet` so Catalyst keeps full
  * pushdown: filters and column pruning land in the parquet scan
  * (`PushedFilters` / `ReadSchema` in `.explain`), which is what makes the
  * same plans viable at 100 TB — only the referenced columns and row
  * groups are read. The schema is inferred once per file listing and
  * passed to the reader after that (see `schemas`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The generator has emitted events.ts in two encodings across rounds:
    * parquet TIMESTAMP(NANOS) (readable only as long nanos under the
    * nanosAsLong legacy flag) and plain µs timestamps (which Spark 4
    * infers as TIMESTAMP_NTZ). Normalize either to the session
    * TimestampType — identical µs instants under the UTC session TZ — so
    * every downstream window/watermark/unix_micros path sees one type. */
  def eventTs(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts DIV 1000)")
      case org.apache.spark.sql.types.TimestampNTZType => col("ts").cast("timestamp")
      case _ => col("ts")
    }
  }

  /** `df.transform(Tables.tsNormalized)` — [[eventTs]] applied in place. */
  val tsNormalized: DataFrame => DataFrame = df => df.withColumn("ts", eventTs(df))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // legacy flag is a no-op for the µs encoding, required for the nanos one
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = schemaOf(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path) // missing path: Spark's own error
    }
    if (name == "events") tsNormalized(df) else df
  }

  /** Schema memo: path -> (listing and parquet confs it was inferred
    * under, schema). Inferring a parquet schema is a one-task Spark job
    * per read; the catalog reads the same few files hundreds of times.
    * One entry per path keeps the memo bounded by the number of tables.
    * A rewritten directory has new part-file names (or lengths or
    * mtimes), so it misses and is inferred again. */
  private final case class Inferred(
      files: Seq[(String, Long, Long)], confs: Seq[(String, String)], schema: StructType)
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, Inferred]()

  private def schemaOf(spark: SparkSession, path: String): Option[StructType] =
    leafFiles(spark, path).map { files =>
      val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
      val hit = schemas.get(path)
      if (hit != null && hit.files == files && hit.confs == confs) hit.schema
      else {
        val schema = spark.read.parquet(path).schema
        schemas.put(path, Inferred(files, confs, schema))
        schema
      }
    }

  /** (path, length, mtime) of every file under `path`, sorted; None when
    * the path does not exist. */
  private def leafFiles(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: FileNotFoundException => None }
  }
}
