package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import java.io.FileOutputStream
import graft.TestSpark
import org.apache.spark.sql.functions.lit

class InputsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("consecutiveLongs covers [start, limit) exactly") {
    val ds = Inputs.consecutiveLongs(spark, 5, 15, shards = 3)
    assert(ds.collect().map(_.longValue).sorted === (5L until 15L).toArray)
  }

  test("randomLongs is deterministic per (seed, shard)") {
    val a = Inputs.randomLongs(spark, seed = 42, countPerShard = 10, shards = 4)
    val b = Inputs.randomLongs(spark, seed = 42, countPerShard = 10, shards = 4)
    assert(a.collect().sorted === b.collect().sorted)
    assert(a.count() === 40)
    val c = Inputs.randomLongs(spark, seed = 43, countPerShard = 10, shards = 4)
    assert(a.collect().sorted !== c.collect().sorted)
  }

  test("randomStrings yields fixed-length deterministic strings") {
    val a = Inputs.randomStrings(spark, 7, 5, 2, length = 8).collect()
    val b = Inputs.randomStrings(spark, 7, 5, 2, length = 8).collect()
    assert(a.sorted === b.sorted)
    assert(a.forall(s => s.length == 8 && s.forall(c => c >= 'a' && c <= 'z')))
  }

  test("inMemory keeps all records, none has zero with schema intact") {
    val ds = Inputs.inMemory(spark, Seq(Seq(1, 2), Seq(3)))
    assert(ds.collect().sorted === Array(1, 2, 3))
    val empty = Inputs.none[String](spark)
    assert(empty.count() === 0)
    assert(empty.schema.fieldNames === Array("value"))
  }

  test("tableScan validates filter properties and operators") {
    val path = s"${TestSpark.sfDir}/orders.parquet"
    intercept[IllegalArgumentException] {
      Inputs.tableScan(spark, path, Seq(("nope", "=", 1)))
    }
    intercept[IllegalArgumentException] {
      Inputs.tableScan(spark, path, Seq(("o_orderkey", "!=", 1)))
    }
    val n = Inputs.tableScan(spark, path,
      Seq(("o_orderkey", "<", 100L), ("o_orderstatus", "=", "F"))).count()
    assert(n > 0)
  }

  test("parquet reads under the schema inference returns, from one " +
      "footer and with no Spark job") {
    // every testdata table (timestamp encodings included) ...
    val tables = graft.core.Tables.names
      .map(n => s"${TestSpark.sfDir}/$n.parquet")
    // ... and a Spark-written, partitioned directory
    val dir = Files.createTempDirectory("graft-parquet-schema")
      .toString + "/out"
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x")
      .withColumn("batch_id", lit(7L))
      .write.partitionBy("batch_id").parquet(dir)
    Seq((3L, "c", 3.5)).toDF("id", "s", "x")
      .withColumn("batch_id", lit(8L))
      .write.mode("append").partitionBy("batch_id").parquet(dir)
    for (path <- tables :+ dir) {
      val inferred = scala.util.Try(spark.read.parquet(path).schema)
      val (read, jobs) = graft.SparkJobs.count(spark)(
        scala.util.Try(Inputs.parquet(spark, path).schema))
      assert(jobs === 0, s"$path: reading its schema ran $jobs jobs")
      assert(read.toOption === inferred.toOption, path)
    }
    assert(Inputs.parquet(spark, dir).as[(Long, String, Double, Int)]
      .collect().toSet === Set((1L, "a", 1.5, 7), (2L, "b", 2.5, 7),
        (3L, "c", 3.5, 8)))
  }

  test("keyScan prunes to a single column") {
    val df = Inputs.keyScan(spark, s"${TestSpark.sfDir}/customer.parquet", "c_custkey")
    assert(df.schema.fieldNames === Array("c_custkey"))
    assert(df.count() === 150)
  }

  test("zipText and zipTextLines decode zip archives of text") {
    val dir = Files.createTempDirectory("graft-zip").toFile
    val zf = new java.io.File(dir, "a.zip")
    val zos = new ZipOutputStream(new FileOutputStream(zf))
    zos.putNextEntry(new ZipEntry("one.txt"))
    zos.write("hello\nworld\n".getBytes("UTF-8")); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("two.txt"))
    zos.write("spark".getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    val entries = Inputs.zipText(spark, zf.getAbsolutePath)
    assert(entries.count() === 2)
    val lines = Inputs.zipTextLines(spark, zf.getAbsolutePath)
      .select("line").as[String].collect().sorted
    assert(lines === Array("hello", "spark", "world"))
  }

  test("logScan filters a time range and event types") {
    val df = Inputs.logScan(spark, s"${TestSpark.sfDir}/events.parquet",
      java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
      eventTypes = Seq("error"))
    assert(df.count() > 0)
    assert(df.select("event_type").distinct().as[String].collect() === Array("error"))
  }

  test("concatenating unions multiple inputs") {
    val o = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
    val u = Inputs.concatenating(Seq(o.limit(10), o.limit(5)))
    assert(u.count() === 15)
  }

  test("ndjson round-trips Outputs.ndjson with an explicit schema") {
    val dir = "/tmp/graft-test-ndjson"
    val src = spark.read.parquet(s"${TestSpark.sfDir}/nation.parquet")
    graft.sinks.Outputs.ndjson(src, dir)
    val back = Inputs.ndjson(spark, dir, Some(src.schema))
    assert(back.count() === src.count())
    assert(back.schema === src.schema)
    // values survive the encode/decode round trip
    val a = src.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("csv reads back a header-ful csv with explicit schema") {
    import spark.implicits._
    val dir = "/tmp/graft-test-csv"
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = Inputs.csv(spark, dir, Some(src.schema))
    assert(back.orderBy("k").collect().map(_.toSeq).toSeq ===
      src.orderBy("k").collect().map(_.toSeq).toSeq)
  }

  test("orc round-trips Outputs.orc with schema and values intact") {
    val dir = "/tmp/graft-test-orc"
    val src = spark.read.parquet(s"${TestSpark.sfDir}/nation.parquet")
    graft.sinks.Outputs.orc(src, dir)
    val back = Inputs.orc(spark, dir)
    assert(back.schema === src.schema)
    assert(back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq ===
      src.orderBy("n_nationkey").collect().map(_.toSeq).toSeq)
  }
}
