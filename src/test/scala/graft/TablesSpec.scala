package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.model.Tables

/** The fixture loaders' schema memo: a path's parquet schema is inferred
  * once per content signature and conversion-conf state, and a rewrite or
  * a conf flip is never served the old schema. */
class TablesSpec extends SparkSpec {

  /** A fresh fixture dir holding `region.parquet` written from `cols`. */
  private def fixture(cols: org.apache.spark.sql.Column*): String = {
    val dir = Files.createTempDirectory("graft-tables").toString
    write(dir, cols: _*)
    dir
  }
  private def write(dir: String, cols: org.apache.spark.sql.Column*): Unit =
    spark.range(3).select(cols: _*).write.mode("overwrite").parquet(s"$dir/region.parquet")

  test("a second load of the same file infers no schema: 0 jobs, same schema") {
    val dir = fixture(col("id"), (col("id") * 2).as("r_x"))
    var first, second: org.apache.spark.sql.types.StructType = null
    val cold = RunMeter.measure(spark) { first = Tables.region(spark, dir).schema }
    val warm = RunMeter.measure(spark) { second = Tables.region(spark, dir).schema }
    assert(cold.jobs == 1)
    assert(warm.jobs == 0)
    assert(second == first)
    assert(Tables.region(spark, dir).count() == 3)
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = fixture(col("id"))
    assert(Tables.region(spark, dir).columns.toSeq == Seq("id"))
    write(dir, col("id"), lit("x").as("added"))
    val df = Tables.region(spark, dir)
    assert(df.columns.toSeq == Seq("id", "added"))
    assert(df.where(col("added") === "x").count() == 3)
  }

  test("flipping spark.sql.parquet.binaryAsString changes the loaded type") {
    // an un-annotated binary column, written without Spark's schema
    // metadata (which would pin the type and bypass the conf)
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-tables").toString
    val pq = MessageTypeParser.parseMessageType("message m { required int64 id; required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/region.parquet"))
      .withType(pq).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(pq)
    try (0 until 3).foreach(i => w.write(rows.newGroup().append("id", i.toLong).append("b", s"v$i")))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      assert(Tables.region(spark, dir).schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val df = Tables.region(spark, dir)
      assert(df.schema("b").dataType == StringType)
      assert(df.where(col("b") === "v1").count() == 1)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
