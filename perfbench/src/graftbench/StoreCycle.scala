package graftbench

import graft.mr.{Combiner, CounterNames, Counters, MapReduceJob,
  MapReduceSpecification, Mapper, Reducer}
import graft.sinks.{VersionedKeyedTable => VKT}
import graft.sources.Inputs
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `store`: the versioned store's commit lifecycle and its readers in
  * one closed loop. Each cycle starts from one data file per bucket and
  * no pending deletes, and runs, in order:
  *   - a CoW `upsert`, a `merge`, an `upsertMor` and a `deleteMor`, each
  *     a seeded Zipf batch of [[Store.BatchRows]] rows;
  *   - the readers, over the four new versions and the merge-on-read
  *     backlog of the last two: `readKeys`, `readRange`, a catalog SQL
  *     aggregate, a `MapReduceJob` recompute of the per-customer
  *     totals, a time-travel `read` of the cycle's first version, a
  *     `changesBetween` change feed over the cycle, and an
  *     `Inputs.tableScan` range-pushdown scan of the `orders` input;
  *   - one `refreshToLatest` of the view and a view lookup;
  *   - a `compact`, which folds the backlog and closes the cycle.
  * Every op is checked against the driver-side model. Every timed
  * cycle starts from a freshly set-up table and view with the seeded
  * draw restarted (see [[prepare]]), so every cycle runs the same
  * batches on the same state. */
final class StoreCycle(r: Run) extends Workload {
  import StoreCycle._
  private val s = new Store(r)
  private val spark = r.spark
  import spark.implicits._
  /** The cycle's first version and the model as of it. */
  private var v1 = 0L
  private var atV1: java.util.TreeMap[java.lang.Long, Store.Row] = _

  /** Traced runs, by op: files planned and rows returned per read op,
    * rows the MapReduce job mapped; by cycle: the snapshot probe's
    * seconds. */
  private val planned = mutable.Map.empty[Int, Int]
  private val returned = mutable.Map.empty[Int, Long]
  private val mapped = mutable.Map.empty[Int, Long]
  private val snapshotS = mutable.Map.empty[Int, Double]

  /** The state is as set-up left it: no cycle has run on it since. */
  private var fresh = false

  def setup(): Unit = {
    s.reset()
    s.create()
    s.createView()
    fresh = true
  }

  def prepare(again: Boolean): Unit = if (!fresh) setup()

  private def range(width: Long): (Long, Long) = {
    val lo = (s.rng.nextDouble() * (Store.TableRows - width)).toLong
    (lo, lo + width - 1)
  }

  private def readKeys(): Unit = {
    val keys = s.zipfKeys(PointKeys)
    r.read("vkt.read_keys")(s.collectRows(VKT.readKeys(spark, s.dir, "k", keys))) {
      got =>
        if (r.traced) {
          planned(r.ledger.lastOp) = VKT.keyFiles(spark, s.dir, "k", keys)._1.size
          returned(r.ledger.lastOp) = got.size
        }
        s.sameRows(got, s.modelRows(keys), "readKeys")
    }
  }

  private def readRange(): Unit = {
    val (lo, hi) = range(RangeWidth)
    r.read("vkt.read_range")(
      s.collectRows(VKT.readRange(spark, s.dir, "k", lo, hi))) { got =>
      if (r.traced) {
        planned(r.ledger.lastOp) = VKT.rangeFiles(spark, s.dir, "k", lo, hi)._1.size
        returned(r.ledger.lastOp) = got.size
      }
      s.sameRows(got, s.model.subMap(lo, true, hi, true).asScala.toSeq
        .map { case (k, x) => (k.longValue, x) }, s"readRange [$lo, $hi]")
    }
  }

  private def sqlAggregate(): Unit = {
    val (lo, hi) = range(SqlWidth)
    r.read("catalog.sql") {
      val df = r.ledger.span("catalog.plan") {
        val d = spark.sql(s"""SELECT status, count(*) AS n, sum(cents) AS c
          FROM ${s.cat}.orders_v WHERE k BETWEEN $lo AND $hi GROUP BY status""")
        d.queryExecution.executedPlan
        d
      }
      r.ledger.span("catalog.exec")(df.as[(String, Long, Long)].collect().toSeq.sorted)
    } { got =>
      val sub = s.model.subMap(lo, true, hi, true).values().asScala
      val want = r.want(sub.groupBy(_.status).map { case (st, xs) =>
        (st, xs.size.toLong, xs.map(_.cents).sum) }.toSeq.sorted)(_.drop(1))
      if (got != want) r.problem(s"catalog aggregate [$lo, $hi]: got $got, want $want")
      got == want
    }
  }

  /** MapReduce over the store: per-customer (count, cents) recomputed
    * from the latest snapshot, against the model's totals (the same
    * ones the view maintains incrementally). */
  private def mrTotals(): Unit = {
    val counters = new Counters(spark)
    r.read("mr.totals") {
      val job = r.ledger.span("mr.plan") {
        val d = MapReduceJob.run(MapReduceSpecification(
          jobName = "customer-totals",
          input = VKT.read(spark, s.dir).select("g", "cents").as[(Long, Long)],
          mapper = new CountCents, reducer = new EmitTotals,
          combiner = Some(SumPairs)), Some(counters))
        d.queryExecution.executedPlan
        d
      }
      r.ledger.span("mr.exec")(job.collect())
        .map { case (g, n, c) => g -> (n, c) }.toMap
    } { got =>
      if (r.traced) mapped(r.ledger.lastOp) = counters.value(CounterNames.MapperCalls)
      s.sameGroups(got, s.groups.keys.toSeq, "MapReduce totals")
    }
  }

  private def timeTravel(): Unit =
    r.read("vkt.time_travel")(VKT.read(spark, s.dir, Some(v1))
      .agg(count(lit(1)), sum("cents"), sum("g"), sum("k"))
      .as[(Long, Long, Long, Long)].head()) { got =>
      val vs = atV1.asScala
      val want = r.want((vs.size.toLong, vs.values.map(_.cents).sum,
        vs.values.map(_.g).sum, vs.keys.map(_.longValue).sum))(w => w.copy(_1 = w._1 + 1))
      if (got != want) r.problem(s"read($v1): totals $got, model $want")
      got == want
    }

  /** The change feed over the cycle's commits: key -> (type, cents)
    * from the model as of `v1` and the model now. */
  private def changeFeed(): Unit = {
    val v2 = r.check(VKT.snapshot(spark, s.dir).version)
    r.read("cdf.read")(VKT.changesBetween(spark, s.dir, "k", v1, v2)
      .select(col("k"), col("change_type"),
        when(col("change_type") =!= "delete", col("cents")).as("cents"))
      .as[(Long, String, Option[Long])].collect()) { got =>
      val keys = atV1.keySet().asScala ++ s.model.keySet().asScala
      val changes = keys.iterator.flatMap { k =>
        (Option(atV1.get(k)), Option(s.model.get(k))) match {
          case (None, Some(x)) => Some(k.longValue -> ("insert", Some(x.cents)))
          case (Some(_), None) => Some(k.longValue -> ("delete", None))
          case (Some(a), Some(b)) if a != b =>
            Some(k.longValue -> ("update", Some(b.cents)))
          case _ => None
        }
      }.toMap
      val g = got.map { case (k, t, c) => k -> (t, c) }.toMap
      val want = r.want(changes)(_.drop(1))
      if (g != want || got.length != g.size)
        r.problem(s"changesBetween($v1, $v2): ${got.length} changes, model ${want.size}")
      g == want && got.length == g.size
    }
  }

  private def viewLookup(): Unit = {
    val gs = Seq.fill(Store.LookupGroups)(s.rng.nextInt(Data.Customers.toInt).toLong)
      .distinct
    r.read("ivm.lookup")(s.viewGroups(gs))(s.sameGroups(_, gs, "view lookup"))
  }

  private def sourceScan(): Unit = {
    val (lo, hi) = range(RangeWidth)
    r.read("sources.scan")(Inputs.tableScan(spark, s"${r.base}/orders.parquet",
      Seq(("o_orderkey", ">=", lo), ("o_orderkey", "<=", hi)),
      Seq("o_orderkey")).count()) { n =>
      if (r.traced) returned(r.ledger.lastOp) = n
      val want = r.want(hi - lo + 1)(_ + 1)
      if (n != want) r.problem(s"tableScan [$lo, $hi]: $n rows, want $want")
      n == want
    }
  }

  /** Traced runs: the table's shape where the readers see it. */
  private var readShape = Map.empty[String, Double]

  private def reads(): Unit = {
    if (r.traced) readShape = r.check(s.shape())
    readKeys()
    readRange()
    sqlAggregate()
    mrTotals()
    timeTravel()
    changeFeed()
    sourceScan()
  }

  private def startCycle(): Unit = r.check {
    fresh = false
    v1 = VKT.snapshot(spark, s.dir).version
    atV1 = new java.util.TreeMap(s.model)
  }

  def cycle(): Unit = {
    startCycle()
    s.upsert(mor = false)
    s.merge()
    s.upsert(mor = true)
    s.deleteMor()
    s.checkCommits()
    reads()
    s.refresh()
    viewLookup()
    s.compact()
    if (r.traced) r.check {
      val t0 = System.nanoTime()
      VKT.snapshot(spark, s.dir)
      snapshotS(r.cycle) = (System.nanoTime() - t0) / 1e9
    }
  }

  /** Every op kind once, the refresh right after the first commit so
    * that it walks one version, not four: the set-up repetitions that
    * follow rebuild the table and the view anyway. */
  def warmup(): Unit = {
    startCycle()
    s.upsert(mor = false)
    s.refresh()
    s.merge()
    s.upsert(mor = true)
    s.deleteMor()
    s.checkCommits()
    reads()
    viewLookup()
    s.compact()
  }

  val setupAfterWarmup = true

  val nominalCycleS = 17.0

  /** Every cycle's `compact` already checks the whole table's totals. */
  def finalCheck(): Unit = ()

  def layer(l: Layer): Map[String, Double] = {
    /** Records read by an op kind's jobs per row its ops returned. */
    def scanned(kinds: String*): Double = {
      val ops = l.ops.filter(o => kinds.contains(o.kind))
      val read = ops.flatMap(l.jobs).map(_.recordsRead).sum
      val rows = ops.map(o => returned.getOrElse(o.seq, 0L)).sum
      if (rows == 0) 0.0 else read.toDouble / rows
    }
    def spanS(name: String) =
      l.mean(l.spans.filter(x => x.name == name && l.opSeqs(x.op)).map(_.seconds))
    /** A fact recorded per op, for the ops of the kept cycles. */
    def kept[T](m: mutable.Map[Int, T], kinds: String*): Seq[T] =
      l.ops.filter(o => kinds.contains(o.kind)).flatMap(o => m.get(o.seq))
    val mrOps = l.ops.filter(_.kind == "mr.totals")
    val commits = Seq("vkt.upsert", "vkt.merge", "vkt.upsert_mor",
      "vkt.delete_mor")
    val commitOps = l.ops.filter(o => commits.contains(o.kind))
    val phases = Store.Phases.flatMap { p =>
      val js = commitOps.map(o => l.jobs(o).filter(_.label == p))
      Seq(s"vkt.phase.$p.jobs" -> l.mean(js.map(_.size.toDouble)),
        s"vkt.phase.$p.busy_s" -> l.mean(js.map(Ledger.busy)))
    }
    val written = commitOps.flatMap(l.jobs).map(_.bytesWritten).sum
    val userBytes = kept(s.userBytes, commits: _*).sum
    val refreshes = kept(s.refreshes, "ivm.refresh")
    Map(
      "vkt.files_added_per_commit" ->
        l.mean(kept(s.added, commits: _*).map(_.toDouble)),
      "vkt.bytes_written_per_user_byte" ->
        (if (userBytes == 0) 0.0 else written.toDouble / userBytes),
      "ivm.versions_per_refresh" -> l.mean(refreshes.map(_._1.toDouble)),
      "ivm.delta_rows" -> l.mean(refreshes.map(_._2.toDouble)),
      "vkt.snapshot_s" ->
        Run.median(l.ops.map(_.cycle).distinct.flatMap(snapshotS.get)),
      "vkt.files_planned_per_read" ->
        l.mean(kept(planned, "vkt.read_keys", "vkt.read_range").map(_.toDouble)),
      "vkt.rows_scanned_per_row_returned" ->
        scanned("vkt.read_keys", "vkt.read_range"),
      "sources.rows_read_per_row_returned" -> scanned("sources.scan"),
      "catalog.plan_s" -> spanS("catalog.plan"),
      "catalog.exec_s" -> spanS("catalog.exec"),
      "mr.plan_s" -> spanS("mr.plan"),
      "mr.exec_s" -> spanS("mr.exec"),
      "mr.records_mapped" -> l.mean(kept(mapped, "mr.totals").map(_.toDouble)),
      "mr.shuffle_bytes" -> l.mean(mrOps.map(o =>
        l.jobs(o).map(_.shuffleBytes).sum.toDouble))
    ) ++ phases ++ readShape
  }
}

object StoreCycle {
  val PointKeys = 16
  val RangeWidth = 2000L
  val SqlWidth = 10000L

  class CountCents extends Mapper[(Long, Long), Long, (Long, Long)] {
    def map(in: (Long, Long), emit: (Long, (Long, Long)) => Unit): Unit =
      emit(in._1, (1L, in._2))
  }
  class EmitTotals extends Reducer[Long, (Long, Long), (Long, Long, Long)] {
    def reduce(g: Long, vs: Iterator[(Long, Long)],
        emit: ((Long, Long, Long)) => Unit): Unit = {
      val (n, c) = vs.foldLeft((0L, 0L))((a, v) => (a._1 + v._1, a._2 + v._2))
      emit((g, n, c))
    }
  }
  object SumPairs extends Combiner[(Long, Long), (Long, Long)] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(a: (Long, Long), v: (Long, Long)) = (a._1 + v._1, a._2 + v._2)
    def merge(a: (Long, Long), b: (Long, Long)) = reduce(a, b)
  }
}
