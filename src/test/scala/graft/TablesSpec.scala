package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.load` memoizes each table's inferred parquet schema, so a
  * repeated load plans with no Spark job. Pins the zero-job reload, the
  * re-inference after a rewrite at the same path, the conf-sensitive
  * key (`events` reads `ts` with `nanosAsLong` on), and that operator
  * code reaches fixture tables only through `Tables.load`.
  */
class TablesSpec extends SparkSpec {

  /** `body`'s result and the number of jobs it started. Listener
    * events are asynchronous: a fence job started after `body` is
    * awaited, and the bus delivers in order, so every job of `body`
    * has been seen by then. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup("tables-probe", "tables-probe")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-fence", "tables-fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains("tables-fence") && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(seen.contains("tables-fence"), "listener never saw the fence")
      result
    } finally sc.removeSparkListener(listener)
    (out, seen.asScala.count(_ == "tables-probe"))
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a repeated load starts no job and matches the inferred schema") {
    val dir = tempDir("tables-memo")
    spark.range(100).selectExpr("id", "id * 2 AS v")
      .write.parquet(s"$dir/t.parquet")
    // the first load infers; proves the listener sees inference jobs
    assert(jobsDuring(Tables.load(spark, dir, "t"))._2 > 0,
      "first load of a fresh table should run schema inference")
    val (again, jobs) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(jobs == 0, "second load of an unchanged table must start no job")
    assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    // each call is a fresh relation: a self-join resolves both sides
    val other = Tables.load(spark, dir, "t")
    assert(again.join(other, again("id") === other("v")).count() == 50)
  }

  test("a table rewritten at the same path is inferred again") {
    val dir = tempDir("tables-rewrite")
    val path = s"$dir/t.parquet"
    spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    spark.range(10).selectExpr("id", "'x' AS w", "id + 1 AS z")
      .write.mode("overwrite").parquet(path)
    val reread = Tables.load(spark, dir, "t")
    assert(reread.schema == spark.read.parquet(path).schema)
    assert(reread.columns.toSeq == Seq("id", "w", "z"))
    assert(reread.selectExpr("sum(z)").head().getLong(0) == 55L)
  }

  /** `dir/events.parquet` with `ts` as parquet TIMESTAMP(NANOS), the
    * physical type `Tables.events` exists to read. */
  private def nanosEvents(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach { i =>
      writer.write(rows.newGroup().append("event_id", i)
        .append("ts", 1700000000000000000L + i * 1000000000L))
    } finally writer.close()
    dir
  }

  test("events reads a nanos ts as a timestamp after a load with " +
    "nanosAsLong off") {
    val dir = nanosEvents()
    // a separate session: its own SQL conf, the same JVM-wide memo
    val s = spark.newSession()
    def rawTs() = scala.util.Try(
      Tables.load(s, dir, "events").schema("ts").dataType).toOption
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val off = rawTs()
    assert(!off.contains(LongType),
      "with nanosAsLong off, ts must not read as the nanos long")
    val ev = Tables.events(s, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.selectExpr("min(ts)").head().getTimestamp(0).getTime ==
      1700000001000L)
    // events leaves nanosAsLong on; the raw table then reads the long,
    // and that memo entry must not serve a load with the flag off
    assert(rawTs().contains(LongType))
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(rawTs() == off)
    assert(Tables.events(s, dir).schema("ts").dataType == TimestampType)
  }

  test("operator code reads fixture tables only through Tables.load") {
    // a direct parquet read skips the schema memo and pays an inference
    // job per call; fixture tables go through Tables.load (or a named
    // loader on Tables built on it)
    val direct = """\.read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet")""".r
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = (java.nio.file.Files.walk(root.resolve("operators"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq :+
      root.resolve("SparkEntry.scala"))
    assert(files.size > 10, s"source scan found too few files: $files")
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if direct.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, "direct parquet reads bypass Tables.load:\n" +
      hits.mkString("\n"))
  }
}
