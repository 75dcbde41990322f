package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.LongType

/** `Tables` infers each fixture file's schema once and supplies it to every
  * later read: no inference job after the first read, identical schema and
  * rows to a plain read, fresh attribute ids per read, re-inference when a
  * file is rewritten, and one schema under concurrent first reads. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  /** `body`'s result and the Spark jobs started while it ran. Listener
    * events arrive asynchronously but in order, so marker jobs run before
    * and after `body` bracket exactly its job starts. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val tag = s"tables-spec-${System.nanoTime}"
    val seen = new ConcurrentLinkedQueue[String]
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = String.valueOf(e.properties.getProperty("spark.job.description"))
        seen.add(d)
        if (d == s"$tag-end") ended.countDown()
      }
    }
    val sc = spark.sparkContext
    def marker(m: String): Unit = {
      sc.setJobDescription(s"$tag-$m")
      try spark.range(1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      val result = body
      marker("end")
      assert(ended.await(60, TimeUnit.SECONDS))
      val jobs = seen.asScala.toSeq
      (result, jobs.indexOf(s"$tag-end") - jobs.lastIndexOf(s"$tag-start") - 1)
    } finally sc.removeSparkListener(listener)
  }

  /** A one-file parquet table `name.parquet` in `dir`, as the fixtures are. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val out = Files.createTempDirectory("tables-spec-out")
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
    val part = Files.list(out.resolve("t")).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of a table runs no Spark job") {
    val dir = Files.createTempDirectory("tables-spec")
    Files.copy(Paths.get(s"$sf/orders.parquet"),
      dir.resolve("orders.parquet"))
    assert(jobsDuring(Tables(spark, dir.toString, "orders"))._2 == 1) // inference
    assert(jobsDuring(Tables(spark, dir.toString, "orders"))._2 == 0)
  }

  test("every fixture table: schema and rows equal an uncached plain read, " +
      "events.ts included") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.foreach { name =>
      val raw = spark.read.parquet(s"$sf/$name.parquet")
      val plain =
        if (name == "events" && raw.schema("ts").dataType == LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw
      val cached = Tables(spark, sf, name)
      assert(cached.schema == plain.schema, name)
      assert(cached.collect().toSeq == plain.collect().toSeq, name)
    }
    assert(Tables(spark, sf, "events").schema("ts").dataType.typeName
      .startsWith("timestamp"))
  }

  test("two reads of one table self-join on real keys, not as a cross product") {
    val a = Tables(spark, sf, "orders")
    val b = Tables(spark, sf, "orders")
    val n = a.count()
    assert(n > 1)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == n)
    // Spark re-resolves a trivially true `x === x` by name, so also pin a
    // condition it cannot: pairs of distinct orders of one customer
    val pairs = a.groupBy("o_custkey").count().as[(Long, Long)].collect()
      .map { case (_, c) => c * (c - 1) / 2 }.sum
    assert(pairs > 0)
    assert(a.join(b, a("o_custkey") === b("o_custkey") &&
      a("o_orderkey") < b("o_orderkey")).count() == pairs)
  }

  test("a file rewritten in place with a new schema is inferred again") {
    val dir = Files.createTempDirectory("tables-spec")
    writeTable(Seq(1L, 2L).toDF("a"), dir, "t")
    assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    writeTable(Seq(("x", 3L)).toDF("b", "c"), dir, "t")
    val reread = Tables(spark, dir.toString, "t")
    assert(reread.columns.toSeq == Seq("b", "c"))
    assert(reread.as[(String, Long)].collect().toSeq == Seq(("x", 3L)))
  }

  test("concurrent first reads all get the same schema") {
    val dir = Files.createTempDirectory("tables-spec")
    Files.copy(Paths.get(s"$sf/lineitem.parquet"),
      dir.resolve("lineitem.parquet"))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val (schemas, jobs) = jobsDuring(Await.result(Future.sequence((1 to 4)
        .map(_ => Future(Tables(spark, dir.toString, "lineitem").schema))),
        Duration.Inf))
      assert(jobs == 1) // one inference, shared by all four readers
      assert(schemas.distinct.size == 1)
      assert(schemas.head == spark.read.parquet(s"$sf/lineitem.parquet").schema)
    } finally pool.shutdown()
  }
}
