package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Ingest-shape contract for the driver-owned events corpus (VERDICT r9
  * item 1): the testdata regeneration flipped `ts` from raw-nanos INT64
  * (parquet TIMESTAMP(NANOS) under the legacy nanosAsLong conf) to
  * TIMESTAMP(MICROS, NTZ) between rounds and broke every events query at
  * ANALYSIS time. `Tables.t("events")` now branches on the footer schema;
  * this spec writes the SAME instants in all three parquet renderings and
  * asserts every shape analyzes and yields identical micros timestamps —
  * so neither direction of a future driver-side regeneration can break
  * ingest silently again. */
class TablesIngestSpec extends AnyFunSuite with SparkTestBase {

  // whole-micro instants incl. pre-epoch and the epoch itself
  private val micros = Seq(-1234567L, 0L, 1L, 1699999999123456L)

  private def writeShape(shape: String,
      dir: String = Files.createTempDirectory("graft-ingest").toString,
      name: String = "events"): String = {
    import spark.implicits._
    val base = micros.toDF("us")
    val df = shape match {
      // plain INT64 nanos — how a TIMESTAMP(NANOS) file surfaces under
      // spark.sql.legacy.parquet.nanosAsLong=true
      case "nanos" => base.select((col("us") * 1000L).as("ts"))
      case "ntz" => base.select(
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      case "tz" => base.select(timestamp_micros(col("us")).as("ts"))
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    dir
  }

  test("events ts ingest: all three parquet shapes analyze to identical micros TimestampType") {
    for (shape <- Seq("nanos", "ntz", "tz")) {
      val dir = writeShape(shape)
      val ev = Tables.t(spark, dir, "events")
      assert(ev.schema("ts").dataType === TimestampType,
        s"shape=$shape must resolve ts to TimestampType")
      val got = ev.select(unix_micros(col("ts"))).collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(got === micros.sorted,
        s"shape=$shape micros mismatch: got ${got.mkString(",")}")
    }
  }

  test("events ts ingest: real driver corpus analyzes and reads") {
    val ev = Tables.t(spark, sf0001, "events")
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.limit(1).count() === 1L)
  }

  private def tsMicros(dir: String): Seq[Long] = {
    val ev = Tables.t(spark, dir, "events")
    assert(ev.schema("ts").dataType === TimestampType)
    ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
  }

  test("events ts ingest: a same-path rewrite from nanos to ntz re-resolves the memoized schema") {
    val dir = writeShape("nanos")
    assert(tsMicros(dir) === micros.sorted)
    // the session now holds the raw-nanos LongType schema for this path;
    // given to the reader of the NTZ files, it would take the nanos branch
    writeShape("ntz", dir)
    assert(tsMicros(dir) === micros.sorted)
  }

  /** The jobs that start while `body` runs in `session`. */
  private def jobs(session: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftBridge.waitListenerBus(session)
    session.sparkContext.addSparkListener(listener)
    try {
      body
      GraftBridge.waitListenerBus(session)
    } finally session.sparkContext.removeSparkListener(listener)
    n.get
  }

  test("a table's schema is resolved once per session: one footer job, then none while its files are unchanged") {
    for (name <- Seq("events", "orders")) {
      val dir = writeShape("tz", name = name)
      assert(jobs(spark)(Tables.t(spark, dir, name)) === 1, s"$name: first t()")
      assert(jobs(spark)(Tables.t(spark, dir, name)) === 0, s"$name: unchanged")
      val other = spark.newSession()
      assert(jobs(other)(Tables.t(other, dir, name)) === 1, s"$name: new session")
      assert(jobs(other)(Tables.t(other, dir, name)) === 0, s"$name: new session, unchanged")
      // the schema given on a hit is the one a plain read infers
      assert(Tables.t(spark, dir, name).schema ===
        spark.read.parquet(s"$dir/$name.parquet").schema)
    }
  }

  test("a missing table still fails analysis with PATH_NOT_FOUND") {
    val dir = Files.createTempDirectory("graft-ingest-missing").toString
    val e = intercept[AnalysisException](Tables.t(spark, dir, "orders"))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }
}
