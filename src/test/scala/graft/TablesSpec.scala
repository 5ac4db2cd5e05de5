package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.LongType

import graft.sources.ParquetGroups

/** The base-table contract: `Tables(...)` resolves a table from its
  * footer with no Spark job and no session conf written, returns the
  * schema inference would, and serves both shipped generations of
  * `events.ts` as the same epoch-nanos BIGINT.
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // Micro-aligned epoch nanos (the micros generation can hold them).
  private val nanos = Seq(0L, 1700000000123456000L, 1699999999999999000L)

  /** A one-table dir whose `events.parquet` has `ts` as `tsType`,
    * written by parquet-mr (no Spark row-metadata key, as the shipped
    * files have none).
    */
  private def eventsDir(tsType: String, encode: Long => Long): String = {
    val dir = tmpDir("tables-events")
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration(false)).build()
    try {
      val rows = new SimpleGroupFactory(schema)
      nanos.zipWithIndex.foreach { case (ns, i) =>
        w.write(rows.newGroup().append("event_id", i.toLong).append("ts", encode(ns)))
      }
    } finally w.close()
    dir
  }

  private def tsOf(dir: String): Seq[Long] = {
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType === LongType)
    df.orderBy("event_id").collect().map(_.getAs[Long]("ts")).toSeq
  }

  test("events.ts: the NANOS and the MICROS generation read as the same epoch nanos") {
    assert(tsOf(eventsDir("TIMESTAMP(NANOS,true)", identity)) === nanos)
    assert(tsOf(eventsDir("TIMESTAMP(MICROS,false)", _ / 1000L)) === nanos)
  }

  test("Tables leaves the session conf unchanged") {
    assume(new java.io.File(s"$sf/events.parquet").exists())
    // A child session with the two parquet settings back at Spark's
    // defaults, so a read that wrote them would show in getAll.
    val s = spark.newSession()
    Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled").foreach(s.conf.unset)
    val before = s.conf.getAll
    Tables.all.foreach(t => Tables(s, sf, t): Unit)
    assert(s.conf.getAll === before)
  }

  test("each base table resolves with no Spark job, to the schema inference returns") {
    assume(new java.io.File(s"$sf/events.parquet").exists())
    Tables.all.foreach { t =>
      val (df, jobs) = SparkSpec.jobsOf(Tables(spark, sf, t))
      assert(jobs.isEmpty, s"$t resolution ran Spark jobs: $jobs")
      val path = s"$sf/$t.parquet"
      assert(ParquetGroups.read(spark, path).schema === spark.read.parquet(path).schema, t)
      if (t != "events")
        assert(df.schema === spark.read.parquet(path).schema, t)
    }
  }
}
