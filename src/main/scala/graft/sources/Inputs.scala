package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import java.io.{BufferedReader, ByteArrayInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream
import scala.collection.mutable

/** Source library — Spark-native equivalents of the reference's
  * InputReaders / Inputs (SURVEY.md §2.1). Each source returns a
  * Dataset/DataFrame so Catalyst plans splits, pushdown, and pruning;
  * none of the reference's split/serialize/lease machinery is needed
  * (Spark's FilePartition planning + task retry replace it, SURVEY.md §3.4).
  */
object Inputs {

  /** `spark.read.parquet(path)` — the same relation and columns —
    * with the schema taken from ONE footer read on the driver instead
    * of inferred. Inference without schema merging reads one footer
    * too, but in a one-task Spark job; this reads the first data file
    * in name order — the same schema whenever the path's files share
    * one, as a read without `mergeSchema` assumes — and converts it
    * with Spark's own footer conversion (the schema Spark
    * wrote into the footer's metadata, else the parquet types under
    * the session's parquet conf). Partition columns are not in the
    * footer: a read under this schema still discovers them from the
    * directory names, as inference does. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.FileStatus
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    // Spark's hidden-path rule; depth-first, stops at the first file
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    def files(st: FileStatus): Iterator[FileStatus] =
      if (!st.isDirectory) Iterator.single(st)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(c => hidden(c.getPath.getName)).flatMap(files)
    val first = files(fs.getFileStatus(root)).nextOption()
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet file under $path to read a schema from"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(first, conf))
    val footer = try reader.getFooter finally reader.close()
    spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      .parquet(path)
  }

  /** Entity-kind scan with conjunctive filter pushdown — the
    * DatastoreInputReader analogue
    * (reference: python/src/mapreduce/input_readers.py:607-785;
    * java/.../inputs/DatastoreInput.java).
    *
    * Filter contract mirrors the reference
    * (input_readers.py:554-567, property_range.py:109-136): a conjunction
    * of (property, op, value) with ops =, <, <=, >, >=; validated against
    * the schema. Catalyst pushes the conjunction into the parquet scan
    * (PushedFilters), so range sharding/scatter-split
    * (input_readers.py:417-519) is subsumed by row-group pruning +
    * FilePartition planning — the scan never reads non-matching row groups.
    */
  def tableScan(
      spark: SparkSession,
      path: String,
      filters: Seq[(String, String, Any)] = Nil,
      projection: Seq[String] = Nil): DataFrame = {
    val df = parquet(spark, path)
    val schema = df.schema.fieldNames.toSet
    filters.foreach { case (prop, op, _) =>
      require(schema.contains(prop), s"unknown filter property: $prop")
      require(Set("=", "<", "<=", ">", ">=").contains(op),
        s"unsupported operator: $op (reference allows = < <= > >=)")
    }
    val filtered = filters.foldLeft(df) { case (d, (prop, op, value)) =>
      val c: Column = op match {
        case "="  => col(prop) === lit(value)
        case "<"  => col(prop) < lit(value)
        case "<=" => col(prop) <= lit(value)
        case ">"  => col(prop) > lit(value)
        case ">=" => col(prop) >= lit(value)
      }
      d.filter(c)
    }
    if (projection.nonEmpty) filtered.select(projection.map(col): _*)
    else filtered
  }

  /** Keys-only scan (reference DatastoreKeyInputReader,
    * input_readers.py:788-791) — projection to the key column; Catalyst
    * column pruning means parquet only reads that column. */
  def keyScan(spark: SparkSession, path: String, keyCol: String): DataFrame =
    parquet(spark, path).select(col(keyCol))

  /** All longs in [start, limit), contiguous splits — reference
    * ConsecutiveLongInput.java:1-100. `spark.range` already plans
    * contiguous per-partition sub-ranges. */
  def consecutiveLongs(spark: SparkSession, start: Long, limit: Long,
      shards: Int = 0): Dataset[java.lang.Long] =
    if (shards > 0) spark.range(start, limit, 1, shards)
      .map(java.lang.Long.valueOf(_))(
        org.apache.spark.sql.Encoders.LONG)
    else spark.range(start, limit).map(java.lang.Long.valueOf(_))(
      org.apache.spark.sql.Encoders.LONG)

  /** Seeded PRNG longs, `countPerShard` per shard — reference
    * RandomLongInput.java:1-90. Deterministic per partition: the shard's
    * generator is seeded with (seed + shardId), mirroring the reference's
    * per-reader seeding so results are reproducible under retry
    * (SURVEY.md §7.4 seeded-randomness parity). */
  def randomLongs(spark: SparkSession, seed: Long, countPerShard: Int,
      shards: Int): Dataset[Long] = {
    import spark.implicits._
    spark.range(0, shards.toLong, 1, shards).flatMap { shardId =>
      val rnd = new java.util.Random(seed + shardId)
      Iterator.fill(countPerShard)(rnd.nextLong())
    }
  }

  /** Seeded random fixed-length strings — reference RandomStringInputReader
    * (input_readers.py:1834-1920). */
  def randomStrings(spark: SparkSession, seed: Long, countPerShard: Int,
      shards: Int, length: Int = 10): Dataset[String] = {
    import spark.implicits._
    spark.range(0, shards.toLong, 1, shards).flatMap { shardId =>
      val rnd = new java.util.Random(seed + shardId)
      Iterator.fill(countPerShard)(
        (0 until length).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    }
  }

  /** In-memory list-of-lists, one shard per inner list — reference
    * InMemoryInput.java:18. */
  def inMemory[T: Encoder](spark: SparkSession, shards: Seq[Seq[T]]): Dataset[T] =
    spark.createDataset(shards.flatten)(implicitly[Encoder[T]])
      .repartition(math.max(1, shards.size))

  /** Zero-record input with intact schema — reference NoInput.java:20. */
  def none[T: Encoder](spark: SparkSession): Dataset[T] =
    spark.emptyDataset[T](implicitly[Encoder[T]])

  /** Newline-delimited text with byte-range splits and
    * skip-first-partial-line semantics — reference BlobstoreLineInputReader
    * (input_readers.py:1286-1437). Spark's text source (Hadoop
    * LineRecordReader) implements exactly those split semantics. */
  def textLines(spark: SparkSession, path: String): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(path)
  }

  /** Zip archives of text files → (archivePath, entryName, content) —
    * reference BlobstoreZipInputReader (input_readers.py:1440-1601).
    * binaryFile scan assigns whole archives to tasks (the reference splits
    * *within* an archive by cumulative entry size; at 100 TB the unit of
    * parallelism is the archive, which is the same granularity its
    * round-robin file assignment achieves across many archives). */
  def zipText(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
        val out = mutable.ArrayBuffer.empty[(String, String, String)]
        var e = zin.getNextEntry
        while (e != null) {
          if (!e.isDirectory) {
            val content = new String(zin.readAllBytes(), StandardCharsets.UTF_8)
            out += ((path, e.getName, content))
          }
          e = zin.getNextEntry
        }
        out.toList
      }
      .toDF("archive", "entry", "content")
  }

  /** Lines inside zipped files — reference BlobstoreZipLineInputReader
    * (input_readers.py:1604-1831). */
  def zipTextLines(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    zipText(spark, pathGlob).as[(String, String, String)]
      .flatMap { case (archive, entry, content) =>
        val br = new BufferedReader(new InputStreamReader(
          new ByteArrayInputStream(content.getBytes(StandardCharsets.UTF_8))))
        Iterator.continually(br.readLine()).takeWhile(_ != null)
          .map(l => (archive, entry, l)).toList
      }
      .toDF("archive", "entry", "line")
  }

  /** Request-log scan by time range with optional attribute filters —
    * reference LogInputReader (input_readers.py:2022-2244). Time-range
    * sharding is Spark's file-split planning; the ts predicate is pushed
    * to parquet (row-group stats pruning = the reference's range split). */
  def logScan(spark: SparkSession, path: String,
      startTs: java.sql.Timestamp, endTs: java.sql.Timestamp,
      eventTypes: Seq[String] = Nil): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    // same ts normalization as Tables.events: nanos-as-long OR
    // TIMESTAMP_NTZ, depending on the generator's annotation
    val withTs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
    val base = withTs
      .filter(col("ts") >= lit(startTs) && col("ts") < lit(endTs))
    if (eventTypes.nonEmpty) base.filter(col("event_type").isin(eventTypes: _*))
    else base
  }

  /** Multiple file-sets / glob prefixes as one input — reference
    * _GoogleCloudStorageInputReader `*` expansion
    * (input_readers.py:2247-2538). */
  def fileSet(spark: SparkSession, format: String, paths: Seq[String]): DataFrame =
    spark.read.format(format).load(paths: _*)

  /** Chain several inputs into one — reference ConcatenatingInputReader
    * (inputs/ConcatenatingInputReader.java:16). UNION ALL, no shuffle. */
  def concatenating(inputs: Seq[DataFrame]): DataFrame =
    inputs.reduce(_ unionByName _)

  /** Newline-delimited JSON read — the inverse of Outputs.ndjson (the
    * BigQuery load-job side of the reference's NDJSON export,
    * outputs/BigQueryGoogleCloudStorageStoreOutput.java). With an
    * explicit schema the scan skips inference (one pass, not two) —
    * always pass one at scale. */
  def ndjson(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    schema.fold(spark.read.json(path))(s => spark.read.schema(s).json(path))

  /** Header-aware CSV read. Like ndjson: schema optional for
    * exploration, explicit at scale (inference scans the data twice). */
  def csv(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    schema.fold(base.option("inferSchema", "true").csv(path))(
      s => base.schema(s).csv(path))
  }

  /** ORC scan — the second columnar format Spark ships natively.
    * Schema rides in the file footer (no inference pass); predicate
    * pushdown and column pruning work exactly as for parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Parquet scan across files whose schemas EVOLVED — the multi-year
    * table case at 100 TB, where early files lack columns later ones
    * added. `mergeSchema` unions the per-file schemas (one footer read
    * per file, parallelized on the cluster — which is why it is not
    * Spark's default: a million-file table pays a million footer
    * reads, so production tables pin the merged schema in a catalog
    * and this reader is the BACKFILL/exploration path); rows from
    * files missing a column read as null for it, which is exactly the
    * semantic a late-added nullable column has. The reference's
    * BigQuery load path got this from BigQuery's schema-update options
    * (ALLOW_FIELD_ADDITION); this is the Spark-native equivalent. */
  def parquetEvolving(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
}
