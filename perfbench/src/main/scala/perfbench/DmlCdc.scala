package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.{DeltaTable, Scan}

/** One evolving copy-on-write `orders` table, key-range-clustered into many
  * files. Each pass writes (an upsert MERGE on a seeded key band, two DELETE
  * and two UPDATE on seeded narrow key ranges, an OPTIMIZE of the fragments)
  * and then reads through a long-lived handle that refresh()es before each
  * read: a selective key-range lookup through the pruned-scan API and a
  * time-travel read of the version before the pass. Every op is checked against a
  * benchmark-side model of the rows. */
object DmlCdc {
  val Files = 32
  val MergeBand = 1200L
  val DeleteBand = 100L
  val UpdateBand = 200L
  val LookupBand = 4000L
  /** Narrow DELETE + UPDATE pairs per pass: the primary ops, so that a run
    * holds enough samples of one latency class. */
  val NarrowPerPass = 2
  val Writes: Seq[String] = Seq("merge", "delete", "update", "optimize")
  val Reads: Seq[String] = Seq("lookup", "travel")

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_status", StringType), StructField("o_cents", LongType),
    StructField("o_orderdate", DateType), StructField("o_priority", StringType)))
}

final class DmlCdc extends Workload {
  import DmlCdc._
  import Data.Order

  val name = "dml_cdc"
  val primary = Seq("delete", "update")

  private var path = ""
  private var reader: DeltaTable = _
  private val model = mutable.LongMap[Order]()
  private var rng: java.util.SplittableRandom = _
  private var liveFiles = 0L
  private var targetSize = 0L

  def setup(ctx: Ctx, dir: Path): Unit = {
    path = dir.resolve("orders").toString
    DeltaTable.write(ctx.spark, Data.orders(ctx.spark, 0, Data.Orders, Files), path)
    val c = LogFiles.commit(path, 0)
    liveFiles = c.adds
    // OPTIMIZE compacts only files well below the initial file size: the
    // fragments DML leaves behind, not the clustered base files
    targetSize = c.addBytes / math.max(1, c.adds) * 3 / 4
    reader = DeltaTable.forPath(ctx.spark, path)
    reader.snapshot
    model.clear()
    (0L until Data.Orders).foreach { i => val o = Data.order(i); model(o.key) = o }
    rng = ctx.rng(2)
  }

  private def open(ctx: Ctx): DeltaTable = ctx.tr.span("kernel.log.open") {
    val t = DeltaTable.forPath(ctx.spark, path)
    t.snapshot
    t
  }

  private def maxKey = 2 * Data.Orders

  def pass(ctx: Ctx): Unit = {
    val v0 = latest
    val before = (model.size.toLong, model.valuesIterator.map(_.cents).sum)
    merge(ctx)
    for (_ <- 0 until NarrowPerPass) { delete(ctx); update(ctx) }
    optimize(ctx)
    verifyBands(ctx)
    lookup(ctx)
    travel(ctx, v0, before)
  }

  private def latest: Long = LogFiles.state(path).latest

  /** Reads the op's own commit (the one after `before`) and records what
    * it wrote; an op that committed nothing reads as an empty commit. */
  private def committed(ctx: Ctx, op: String, before: Long): LogFiles.Commit = {
    val v = latest
    val c = if (v > before) LogFiles.commit(path, v) else LogFiles.Commit(before, 0, 0, 0, 0, 0, Map.empty)
    val rec = ctx.rec
    rec.add(s"n.$op", 1)
    rec.add(s"table.write.files_added.$op", c.adds)
    rec.add(s"table.write.bytes_added.$op", c.addBytes)
    rec.add(s"kernel.commit.json_bytes.$op", c.jsonBytes)
    rec.add(s"files_touched.$op", c.removes)
    rec.add(s"files_live.$op", liveFiles)
    c.metrics.get("execution_time_ms").foreach(v => rec.sample(s"ops.program_ms.$op", v.toDouble))
    liveFiles += c.adds - c.removes
    c
  }

  private def metric(c: LogFiles.Commit, k: String): Long = c.metrics.get(k).map(_.toLong).getOrElse(-1L)

  private final case class Band(op: String, lo: Long, hi: Long, status: String)
  private val pending = mutable.ArrayBuffer[Band]()

  /** Per band: (count, sum cents, sum custkey, count with the band's
    * status), all bands in one scan of the table. */
  private def bands(ctx: Ctx, bs: Seq[Band]): Seq[(Long, Long, Long, Long)] = {
    val k = col("o_orderkey")
    val aggs = bs.flatMap { b =>
      val in = k >= b.lo && k < b.hi
      Seq(count(when(in, 1)), coalesce(sum(when(in, col("o_cents"))), lit(0L)),
        coalesce(sum(when(in, col("o_custkey"))), lit(0L)), count(when(in && col("o_status") === b.status, 1)))
    }
    val r = DeltaTable.forPath(ctx.spark, path).toDF.agg(aggs.head, aggs.tail: _*).collect().head
    bs.indices.map(i => (r.getLong(4 * i), r.getLong(4 * i + 1), r.getLong(4 * i + 2), r.getLong(4 * i + 3)))
  }

  private def modelBand(lo: Long, hi: Long, s: String): (Long, Long, Long, Long) = {
    val rows = (lo until hi).flatMap(model.get)
    (rows.size.toLong, rows.map(_.cents).sum, rows.map(_.cust).sum, rows.count(_.status == s).toLong)
  }

  /** Queues a content check of [lo, hi) against the model; the queue is
    * verified once per pass, in one scan. */
  private def checkBand(op: String, lo: Long, hi: Long, s: String): Unit = pending += Band(op, lo, hi, s)

  private def verifyBands(ctx: Ctx): Unit = if (pending.nonEmpty) {
    for ((b, got) <- pending.zip(bands(ctx, pending.toSeq))) {
      val want = modelBand(b.lo, b.hi, b.status)
      ctx.rec.check(got == want, s"${b.op} band [${b.lo},${b.hi}): table $got, model $want")
    }
    pending.clear()
  }

  private def merge(ctx: Ctx): Unit = {
    val lo = rng.nextLong(maxKey - MergeBand)
    val src = (lo until lo + MergeBand).filter(_ => rng.nextInt(2) == 0).map { k =>
      Order(k, rng.nextLong(Data.Customers), "M", 100000L + rng.nextLong(5000000L), rng.nextInt(Data.Days),
        Data.Priorities(rng.nextInt(5)))
    }
    val df: DataFrame = ctx.spark.createDataFrame(
      java.util.Arrays.asList(src.map(o => Row(o.key, o.cust, o.status, o.cents, Data.date(o.day), o.priority)): _*),
      Schema)
    val matched = src.count(o => model.contains(o.key)).toLong
    val before = latest
    val done = ctx.rec.op("merge") {
      val t = open(ctx)
      ctx.tr.span("ops.merge")(t.merge(df, "target.o_orderkey = source.o_orderkey")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
    }
    if (done.isDefined) {
      src.foreach(o => model(o.key) = o)
      val c = committed(ctx, "merge", before)
      val upd = metric(c, "num_target_rows_updated")
      val ins = metric(c, "num_target_rows_inserted")
      ctx.rec.check(upd == matched && ins == src.size - matched,
        s"merge at $lo: updated $upd inserted $ins, model $matched / ${src.size - matched}")
      ctx.rec.add("rows_changed.merge", upd + ins)
      ctx.rec.add("rows_written.merge", metric(c, "num_output_rows"))
      checkBand("merge", lo, lo + MergeBand, "M")
    }
  }

  private def delete(ctx: Ctx): Unit = {
    val lo = rng.nextLong(maxKey - DeleteBand)
    val hi = lo + DeleteBand
    val want = (lo until hi).count(model.contains).toLong
    val before = latest
    val done = ctx.rec.op("delete") {
      val t = open(ctx)
      ctx.tr.span("ops.delete")(t.delete(Some(s"o_orderkey >= $lo AND o_orderkey < $hi")))
    }
    if (done.isDefined) {
      (lo until hi).foreach(model.remove)
      val c = committed(ctx, "delete", before)
      val got = math.max(0L, metric(c, "num_deleted_rows"))
      ctx.rec.check(got == want, s"delete [$lo,$hi): deleted $got, model $want")
      ctx.rec.add("rows_changed.delete", want)
      ctx.rec.add("rows_written.delete", math.max(0L, metric(c, "num_copied_rows")))
      checkBand("delete", lo, hi, "U")
    }
  }

  private def update(ctx: Ctx): Unit = {
    val lo = rng.nextLong(maxKey - UpdateBand)
    val hi = lo + UpdateBand
    val want = (lo until hi).count(model.contains).toLong
    val before = latest
    val done = ctx.rec.op("update") {
      val t = open(ctx)
      ctx.tr.span("ops.update")(t.update(Map("o_status" -> lit("U"), "o_cents" -> (col("o_cents") + 1)),
        Some(s"o_orderkey >= $lo AND o_orderkey < $hi")))
    }
    if (done.isDefined) {
      (lo until hi).foreach(k => model.get(k).foreach(o => model(k) = o.copy(status = "U", cents = o.cents + 1)))
      val c = committed(ctx, "update", before)
      val got = math.max(0L, metric(c, "num_updated_rows"))
      ctx.rec.check(got == want, s"update [$lo,$hi): updated $got, model $want")
      ctx.rec.add("rows_changed.update", want)
      ctx.rec.add("rows_written.update", want + math.max(0L, metric(c, "num_copied_rows")))
      checkBand("update", lo, hi, "U")
    }
  }

  private def optimize(ctx: Ctx): Unit = {
    val before = latest
    val done = ctx.rec.op("optimize") {
      val t = open(ctx)
      ctx.tr.span("ops.optimize")(t.optimizeCompact(targetSizeBytes = targetSize))
    }
    if (done.isDefined) {
      committed(ctx, "optimize", before)
      checkBand("optimize", 0, maxKey, "U")
    }
  }

  /** Plans and runs a read; records its scan operators. */
  private def run(ctx: Ctx, kind: String, df: DataFrame): Array[Row] = {
    ctx.tr.span("spark.plan")(df.queryExecution.executedPlan)
    val rows = ctx.tr.span("spark.execute")(df.collect())
    ctx.rec.put(s"spark.scan_nodes.$kind", Data.scanNodes(df.queryExecution.executedPlan))
    rows
  }

  /** Selective key range plus a price bound, through the pruned-scan API. */
  private def lookup(ctx: Ctx): Unit = {
    val tr = ctx.tr
    val spark = ctx.spark
    val lo = rng.nextLong(maxKey - LookupBand)
    val cmax = 100000L + rng.nextLong(5000000L)
    val text = s"o_orderkey >= $lo AND o_orderkey < ${lo + LookupBand} AND o_cents <= $cmax"
    val got = ctx.rec.op("lookup") {
      tr.span("kernel.log.refresh")(reader.refresh())
      val snap = reader.snapshot
      val (files, df) = tr.span("kernel.prune") {
        val p = tr.span("kernel.prune.parse")(Scan.parsePredicate(spark, text))
        val files = tr.span("kernel.prune.files")(Scan.prunedFiles(snap, Seq(p), Some(spark)))
        (files, tr.span("kernel.prune.read")(Scan.readFiles(spark, snap, files)))
      }
      val r = run(ctx, "lookup", df.filter(text).agg(count(lit(1)), coalesce(sum("o_cents"), lit(0L)))).head
      (r.getLong(0), r.getLong(1), files.size, files.flatMap(_.numRecords).sum, snap.numFiles)
    }
    got.foreach { case (n, s, kept, keptRecords, live) =>
      val hit = (lo until lo + LookupBand).flatMap(model.get).filter(_.cents <= cmax)
      ctx.rec.check(n == hit.size && s == hit.map(_.cents).sum,
        s"lookup [$text]: got ($n, $s), expected (${hit.size}, ${hit.map(_.cents).sum})")
      ctx.rec.add("prune.kept", kept)
      ctx.rec.add("prune.live", live)
      ctx.rec.add("prune.rows", n)
      ctx.rec.add("prune.kept_records", keptRecords)
    }
  }

  /** Row count and price sum as of the version before the pass. */
  private def travel(ctx: Ctx, version: Long, want: (Long, Long)): Unit = {
    val got = ctx.rec.op("travel") {
      ctx.tr.span("kernel.log.refresh")(reader.refresh())
      run(ctx, "travel", reader.asOfVersion(version).agg(count(lit(1)), sum("o_cents"))).head
    }
    got.foreach { r =>
      ctx.rec.check((r.getLong(0), r.getLong(1)) == want, s"as of v$version: got $r, expected $want")
    }
  }

  def finish(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val tr = ctx.tr
    val opens = Writes.flatMap(k => tr.perOp("kernel.log.open", k))
    rec.put("kernel.log.open_ms", if (opens.isEmpty) 0.0 else Stats.median(opens))
    rec.put("kernel.log.refresh_ms", tr.medianMs("kernel.log.refresh", "lookup"))
    for (op <- Writes) {
      val n = math.max(1.0, rec.get(s"n.$op"))
      Seq("table.write.files_added", "table.write.bytes_added", "kernel.commit.json_bytes")
        .foreach(k => rec.put(s"$k.$op", rec.get(s"$k.$op") / n))
      rec.put(s"ops.files_touched_ratio.$op", rec.get(s"files_touched.$op") / math.max(1.0, rec.get(s"files_live.$op")))
      rec.put(s"ops.program_ms.$op", rec.medianOf(s"ops.program_ms.$op"))
      if (op != "optimize") rec.put(s"ops.rows_rewritten_per_row_changed.$op",
        rec.get(s"rows_written.$op") / math.max(1.0, rec.get(s"rows_changed.$op")))
    }
    rec.put("kernel.prune_ms", tr.medianMs("kernel.prune", "lookup"))
    rec.put("kernel.prune.kept_ratio", rec.get("prune.kept") / math.max(1.0, rec.get("prune.live")))
    rec.put("kernel.prune.useful_ratio", rec.get("prune.rows") / math.max(1.0, rec.get("prune.kept_records")))
    for (k <- Reads) {
      rec.put(s"spark.plan_ms.$k", tr.medianMs("spark.plan", k))
      rec.put(s"spark.execute_ms.$k", tr.medianMs("spark.execute", k))
    }
    val st = LogFiles.state(path)
    rec.put("kernel.log.commits", st.commits)
    rec.put("kernel.log.checkpoints", st.checkpoints)
    rec.put("kernel.log.json_bytes", st.jsonBytes)
    rec.put("table.live_files", reader.refresh().numFiles)
    val got = bands(ctx, Seq(Band("run-end", 0, maxKey, "U"))).head
    val want = modelBand(0, maxKey, "U")
    rec.runEndCheck(got == want, s"run-end table $got, model $want")
  }
}
