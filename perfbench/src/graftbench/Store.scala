package graftbench

import graft.sinks.{IncrementalView, VersionedKeyedTable => VKT}
import graft.sources.Inputs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The versioned store both store workloads run on: a
  * `VersionedKeyedTable` created from `orders` (read through
  * `Inputs.tableScan`), an `IncrementalView` (per-customer count and
  * sum of cents) over it, and the table served as SQL through
  * `GraftCatalog`. Beside it, the benchmark keeps a driver-side model,
  * key -> row, and the per-customer totals that the view must hold:
  * the independent answer every operation is checked against. Batches
  * are small, Zipf-skewed on the key (10% new keys) and drawn from the
  * workload seed; [[reset]] restarts the draw, so every set-up
  * repetition builds the same state. */
final class Store(r: Run) {
  import Store._
  private val spark = r.spark
  import spark.implicits._
  val catBase: String = r.dir("store")
  val dir = s"$catBase/orders_v"
  val viewDir: String = r.dir("store_view")
  val cat = "perfbench"

  /** The model: key -> row, and group -> (count, cents). */
  var model = new java.util.TreeMap[java.lang.Long, Row]()
  val groups = mutable.HashMap.empty[Long, (Long, Long)]
  /** Groups touched and rows changed since the view's last refresh. */
  val touched = mutable.LinkedHashSet.empty[Long]
  var changed = 0L
  var watermark = 0L
  private var initial: java.util.TreeMap[java.lang.Long, Row] = _

  var rng: scala.util.Random = _
  private var zipf: Zipf = _
  private var nextKey = 0L

  /** Restart the seeded draw and the model at the created table. */
  def reset(): Unit = r.check {
    if (initial == null) initial = readInput()
    model = new java.util.TreeMap[java.lang.Long, Row](initial)
    groups.clear()
    model.values().asScala.foreach(x => addGroup(x, 1))
    touched.clear()
    changed = 0
    rng = new scala.util.Random(r.seed)
    zipf = new Zipf(TableRows.toInt, 1.1, r.seed)
    nextKey = TableRows
  }

  /** The model's first state, read from the `orders` parquet files with
    * parquet-mr directly: an independent path from the Spark scan the
    * table is created from. */
  private def readInput(): java.util.TreeMap[java.lang.Long, Row] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val m = new java.util.TreeMap[java.lang.Long, Row]()
    val files = new java.io.File(s"${r.base}/orders.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    files.foreach { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f.getPath)).build()
      try {
        var g = reader.read()
        while (g != null) {
          val k = g.getLong("o_orderkey", 0)
          if (k < TableRows) m.put(k, Row(g.getLong("o_custkey", 0),
            math.round(g.getDouble("o_totalprice", 0) * 100),
            g.getString("o_orderstatus", 0), g.getString("o_orderpriority", 0)))
          g = reader.read()
        }
      } finally reader.close()
    }
    m
  }

  private def source: DataFrame =
    Inputs.tableScan(spark, s"${r.base}/orders.parquet",
      Seq(("o_orderkey", "<", TableRows))).select(
      col("o_orderkey").as("k"), col("o_custkey").as("g"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderstatus").as("status"), col("o_orderpriority").as("pri"))

  /** Create the table (version 0) and register the catalog. */
  def create(): Unit = {
    Run.deleteTree(catBase)
    Run.deleteTree(viewDir)
    VKT.create(source, dir, "k", Buckets)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sinks.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.base", catBase)
  }

  def createView(): Unit = {
    watermark = IncrementalView.createFrom(spark, dir, viewDir, "g", "cents",
      Buckets)
    r.check { touched.clear(); changed = 0 }
  }

  // ---- the model ----

  def put(k: Long, row: Row): Unit = {
    Option(model.put(k, row)).foreach(old => addGroup(old, -1))
    addGroup(row, 1)
  }
  def remove(k: Long): Unit =
    Option(model.remove(k)).foreach(old => addGroup(old, -1))
  private def addGroup(row: Row, sign: Int): Unit = {
    val (n, c) = groups.getOrElse(row.g, (0L, 0L))
    val next = (n + sign, c + sign * row.cents)
    if (next._1 == 0) groups.remove(row.g) else groups(row.g) = next
    touched += row.g
    changed += 1
  }

  def zipfKeys(n: Int): Seq[Long] =
    Iterator.continually(zipf.next()).distinct.take(n).toSeq

  def newRows(n: Int): Seq[(Long, Row)] = {
    val ks = zipfKeys(n - n / 10) ++ (0 until n / 10).map { _ =>
      nextKey += 1; nextKey }
    ks.map(k => k -> Row(rng.nextInt(Data.Customers.toInt).toLong,
      10000L + rng.nextInt(49000000), Seq("F", "O", "P")(rng.nextInt(3)),
      s"${1 + rng.nextInt(5)}-P"))
  }

  def frame(rows: Seq[(Long, Row)]): DataFrame =
    rows.map { case (k, x) => (k, x.g, x.cents, x.status, x.pri) }
      .toDF("k", "g", "cents", "status", "pri")

  def collectRows(df: DataFrame): Seq[(Long, Row)] =
    df.select("k", "g", "cents", "status", "pri")
      .as[(Long, Long, Long, String, String)].collect().toSeq
      .map { case (k, g, c, s, p) => k -> Row(g, c, s, p) }

  def modelRows(keys: Iterable[Long]): Seq[(Long, Row)] =
    keys.toSeq.flatMap(k => Option(model.get(k)).map(k -> _))

  /** Rows read equal the model's; a mismatch is reported as `what`. */
  def sameRows(got: Seq[(Long, Row)], want0: Seq[(Long, Row)],
      what: String): Boolean = {
    val want = r.want(want0)(w => w.map { case (k, x) =>
      k -> x.copy(cents = x.cents + 1) } :+ (-1L -> Row(0, 0, "", "")))
    val ok = got.sortBy(_._1) == want.sortBy(_._1)
    if (!ok) r.problem(s"$what: ${got.size} rows read, ${want.size} in the model")
    ok
  }

  // ---- commits: the op runs the public mutation and the model applies
  // the same change; [[checkCommits]] reads every committed key back ----

  /** Keys committed since the last [[checkCommits]], and those ops. */
  private val pendingKeys = mutable.LinkedHashSet.empty[Long]
  private val pendingOps = mutable.Set.empty[Int]

  private def commit(kind: String, keys: Seq[Long])(f: => Unit)(
      apply: => Unit): Unit = {
    val before = if (r.traced) r.check(liveFiles()) else Set.empty[String]
    r.op(kind)(f) { _ =>
      apply
      pendingKeys ++= keys
      pendingOps += r.ledger.lastOp
      if (r.traced) {
        added(r.ledger.lastOp) = (liveFiles() -- before).size
        userBytes(r.ledger.lastOp) = pendingUserBytes
      }
      true
    }
  }

  /** Read back every key the commits since the last call wrote or
    * deleted, in one lookup, against the model; a mismatch fails all of
    * those commits. */
  def checkCommits(): Unit = r.check {
    val keys = pendingKeys.toSeq
    val ok = r.verifying(sameRows(collectRows(VKT.readKeys(spark, dir, "k", keys)),
      modelRows(keys), s"${pendingOps.size} commits: their keys read back"))
    if (!ok) r.markFailed(pendingOps.toSet)
    pendingKeys.clear()
    pendingOps.clear()
  }

  /** Files the latest snapshot references (data and delete files). */
  def liveFiles(): Set[String] = {
    val s = VKT.snapshot(spark, dir)
    (s.files.values.flatten ++ s.deletes.values.flatten).toSet
  }
  /** Traced runs, by op: files each commit added, and its user bytes. */
  val added = mutable.Map.empty[Int, Int]
  val userBytes = mutable.Map.empty[Int, Long]
  private var pendingUserBytes = 0L

  private def bytesOf(rows: Seq[(Long, Row)]): Long =
    rows.map(_._2.bytes + 8).sum

  def upsert(mor: Boolean): Unit = {
    val rows = newRows(BatchRows)
    pendingUserBytes = bytesOf(rows)
    commit(if (mor) "vkt.upsert_mor" else "vkt.upsert", rows.map(_._1)) {
      if (mor) VKT.upsertMor(spark, dir, frame(rows), "k")
      else VKT.upsert(spark, dir, frame(rows), "k")
    } { rows.foreach { case (k, x) => put(k, x) } }
  }

  def deleteMor(): Unit = {
    val keys = zipfKeys(BatchRows / 4)
    pendingUserBytes = keys.size * 8L
    commit("vkt.delete_mor", keys) {
      VKT.deleteMor(spark, dir, keys.toDF("k"), "k")
    } { keys.foreach(k => remove(k)) }
  }

  /** MERGE: a matched source row with status 'D' deletes; other
    * matches add their cents to the row's; unmatched rows insert. */
  def merge(): Unit = {
    val rows = newRows(BatchRows).map { case (k, x) =>
      k -> (if (rng.nextInt(10) == 0) x.copy(status = "D") else x) }
    pendingUserBytes = bytesOf(rows)
    commit("vkt.merge", rows.map(_._1)) {
      VKT.merge(spark, dir, frame(rows), "k",
        whenMatchedDelete = Some(col("s.status") === "D"),
        whenMatchedUpdate = Map("cents" -> (col("t.cents") + col("s.cents"))))
    } {
      rows.foreach { case (k, x) =>
        Option(model.get(k)) match {
          case Some(_) if x.status == "D" => remove(k)
          case Some(old) => put(k, old.copy(cents = old.cents + x.cents))
          case None => put(k, x)
        }
      }
    }
  }

  /** Whole-table totals (rows, cents, groups, keys) against the model. */
  def sameTotals(df: DataFrame, m: java.util.TreeMap[java.lang.Long, Row],
      what: String): Boolean = {
    val got = df.agg(count(lit(1)), sum("cents"), sum("g"), sum("k"))
      .as[(Long, Long, Long, Long)].head()
    val vs = m.asScala
    val want = r.want((vs.size.toLong, vs.values.map(_.cents).sum,
      vs.values.map(_.g).sum, vs.keys.map(_.longValue).sum))(w => w.copy(_1 = w._1 + 1))
    if (got != want) r.problem(s"$what: totals $got, model $want")
    got == want
  }

  /** Compaction folds every pending merge-on-read file: afterwards each
    * bucket holds one data file and no delete files, and the rows are
    * unchanged. */
  def compact(): Unit =
    r.op("vkt.compact")(VKT.compact(spark, dir, "k")) { _ => r.verifying {
      val s = VKT.snapshot(spark, dir)
      val shape = s.deletes.values.forall(_.isEmpty) &&
        s.files.values.forall(_.size <= 1)
      if (!shape) r.problem("compact left more than one file per bucket " +
        "or pending delete files")
      sameTotals(VKT.read(spark, dir), model, "table after compact") && shape
    } }

  /** The view's groups `gs` against the model's totals. */
  def sameGroups(got: Map[Long, (Long, Long)], gs: Seq[Long],
      what: String): Boolean = {
    val want = r.want(gs.flatMap(g => groups.get(g).map(g -> _)).toMap)(
      w => w.map { case (g, (n, c)) => g -> (n, c + 1) })
    if (got != want) r.problem(s"$what: ${got.size} groups read, " +
      s"${want.size} in the model (first diff: " +
      s"${gs.find(g => got.get(g) != want.get(g))})")
    got == want
  }

  def viewGroups(gs: Seq[Long]): Map[Long, (Long, Long)] =
    VKT.readKeys(spark, viewDir, "g", gs).select("g", "cnt", "total")
      .as[(Long, Long, Long)].collect().map { case (g, n, c) => g -> (n, c) }.toMap

  /** Refresh the view through every version since its watermark; the
    * groups touched since the last refresh are read back. Traced runs
    * record the versions and delta rows each refresh applied. */
  def refresh(): Unit = {
    val sample = touched.take(LookupGroups).toSeq
    val from = watermark
    val delta = changed
    r.op("ivm.refresh") {
      IncrementalView.refreshToLatest(spark, dir, viewDir, "k", "g", "cents",
        watermark)
    } { w =>
      watermark = w
      if (r.traced) refreshes(r.ledger.lastOp) = (w - from, delta)
      touched.clear()
      changed = 0
      r.verifying(sameGroups(viewGroups(sample), sample, "view groups after refresh"))
    }
  }
  /** Traced runs, by op: the versions and delta rows a refresh applied. */
  val refreshes = mutable.Map.empty[Int, (Long, Long)]

  /** Bytes of the files the latest snapshot of `d` references. */
  def liveBytes(d: String): Long = {
    val s = VKT.snapshot(spark, d)
    (s.files.values.flatten ++ s.deletes.values.flatten)
      .map(f => new java.io.File(s"$d/$f").length()).sum
  }

  /** Per-layer facts of the store at run end. */
  def shape(): Map[String, Double] = {
    val snap = VKT.snapshot(spark, dir)
    val live = model.values().asScala.map(_.bytes + 8).sum
    Map(
      "vkt.live_files" -> snap.files.values.map(_.size).sum.toDouble,
      "vkt.live_delete_files" -> snap.deletes.values.map(_.size).sum.toDouble,
      "vkt.space_amp" -> (liveBytes(dir) + liveBytes(viewDir)).toDouble / live)
  }
}

object Store {
  /** Hash buckets of the table and of the view. */
  val Buckets = 4
  /** Rows of `orders` (its first keys) the table is created from. */
  val TableRows = 30000L
  val BatchRows = 200
  val LookupGroups = 16
  /** The commit phases `VersionedKeyedTable` labels its jobs with. */
  val Phases = Seq("checkpoint-batch", "touched-buckets", "checkpoint-merged",
    "write-data", "file-stats", "write-cdf", "unlabeled")

  final case class Row(g: Long, cents: Long, status: String, pri: String) {
    def bytes: Long = 16L + status.length + pri.length
  }

  /** Zipf(s) over ranks 1..n, mapped to keys by a seeded permutation so
    * the hot keys spread over the key space. */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val rnd = new scala.util.Random(seed ^ 0x5eedL)
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val perm = rnd.shuffle((0 until n).toVector)
    def next(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      perm(if (i >= 0) i else math.min(-i - 1, n - 1)).toLong
    }
  }
}
