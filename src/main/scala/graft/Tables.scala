package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (schemas in FIXTURES.md).
  *
  * The reference addressed columns by ordinal over '|'-split text lines
  * (e.g. reference Q1.scala:39-41); here every table is columnar parquet
  * with a named schema, so Catalyst column pruning + filter pushdown reach
  * the scan for free. At 100 TB these would be partitioned/bucketed tables
  * behind a catalog; the `dir` parameter stands in for that resolution.
  *
  * Schema memo: Spark infers a parquet schema by running a job (a footer
  * read per file), so an unmemoized `load` pays one scheduled job per
  * table per query before any plan runs. `load` infers each table's
  * schema once and then reads with it supplied, which plans with no job.
  * The memo key is the qualified path plus the session's parquet-read
  * confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`: `events`
  * flips `nanosAsLong`, which changes the inferred `ts` type). Each entry
  * carries a stamp of the path's file listing (name, length and mtime of
  * every file under it); a table rewritten at the same path no longer
  * matches its stamp and is inferred again. Every call still builds a
  * fresh relation with fresh attribute ids, so self-joins are unaffected.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type Stamp = Seq[(String, Long, Long)]
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), (Stamp, StructType)]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val file = s"$dir/$name.parquet"
    val path = new Path(file)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(path).toString
    // a missing path stamps empty; inference below then raises Spark's
    // own "path does not exist" error, and nothing is memoized
    val stamp: Stamp = if (!fs.exists(path)) Nil else {
      val it = fs.listFiles(path, true)
      val files = Seq.newBuilder[LocatedFileStatus]
      while (it.hasNext) files += it.next()
      files.result().map(f =>
        (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    }
    val readConfs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    }
    val key = (qualified, readConfs)
    val memo = schemas.get(key)
    val schema = if (memo != null && memo._1 == stamp) memo._2 else {
      val inferred = spark.read.parquet(file).schema
      schemas.put(key, (stamp, inferred))
      inferred
    }
    spark.read.schema(schema).parquet(file)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader refuses; read it as a nanos long (legacy flag, runtime-
    * settable) and rebuild a microsecond timestamp — every consumer
    * works at second/hour granularity, so nothing is lost.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df   // already a timestamp (e.g. test-written fixtures)
    }
  }
  /** The text and vector tables feed compute-heavy per-row work
    * (tokenization, hashing, vector math). The fixtures are single-row-
    * group files, so the scan is one task no matter what — spread the
    * rows across the session's parallelism right after the scan or the
    * whole tier runs single-threaded. On a real cluster the table
    * would arrive in many files and this becomes a no-op-sized shuffle.
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, load(s, d, "embeddings"))
}
