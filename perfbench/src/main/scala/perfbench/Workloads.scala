package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gold.GoldCompaction
import graft.ingest.BronzeToSilver
import graft.lake.{LakeLayout, Snapshots}
import graft.queries.LakeCatalog
import graft.streaming.StreamingIngest

object Workload {
  /** Passes of the analyst read mix after each write: more read samples
    * per run for a steadier median, at ~0.5 s a pass. */
  val ReadPasses = 2
}

/** What a run hands back: the observation document and the counts that
  * per-layer ratios divide by. */
final case class Out(doc: Map[String, Any], facts: Map[String, Double])

/** A workload: seed state per input set, a round of timed work on a fresh
  * copy of that state, and the bytes it leaves on disk. */
abstract class Workload(val ctx: Ctx) {
  import ctx.spark

  /** Build the seed state from input set `set` at `dst`. */
  def seed(set: String, dst: Path): Map[String, Any]
  /** Untimed per-round preparation; returns the round's state root. */
  def prepare(set: String, tpl: Path, name: String): Path
  /** One round; returns what the checks compare. */
  def round(set: String, root: Path, timed: Boolean): Map[String, Any]
  /** Bytes of the tables the last round left. */
  def stored(root: Path): Long
  /** Observations read once, untimed, after the last round. */
  def finalObs(root: Path): Map[String, Any] = Map.empty
  def facts(root: Path): Map[String, Double] = Map.empty

  /** Times of timed operations that are neither the write nor the read op
    * (gold runs inside a drop, catalog registration, optimize). */
  val other = ArrayBuffer.empty[Double]

  def run(): Out = {
    val tracer = ctx.tracer
    val s0 = System.nanoTime()
    val timedTpl = ctx.freshDir("seed")
    val seedObs = seed("timed", timedTpl)
    val seedS = (System.nanoTime() - s0) / 1e9
    // warm-up: the throwaway input set's round on a copy of the seed state
    val w0 = System.nanoTime()
    round("warm", prepare("warm", timedTpl, "warm"), timed = false)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val firstTimedMs = System.currentTimeMillis()
    tracer.timedPhase = true
    val start = System.nanoTime()
    val rounds = ArrayBuffer.empty[Map[String, Any]]
    var last: Path = null
    while (rounds.isEmpty || (System.nanoTime() - start) / 1e9 < ctx.args.seconds) {
      val root = prepare("timed", timedTpl, s"round_${rounds.size}")
      val t0 = System.nanoTime()
      try {
        val obs = round("timed", root, timed = true)
        val wall = (System.nanoTime() - t0) / 1e9
        ctx.roundS += wall
        rounds += Map("ok" -> true, "wall_s" -> wall, "obs" -> obs)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] round ${rounds.size} failed: $e")
          e.printStackTrace()
          rounds += Map("ok" -> false, "error" -> e.toString)
      }
      last = root
    }
    tracer.timedPhase = false
    val doc = Map[String, Any](
      "seed_s" -> seedS, "warmup_s" -> warmupS,
      "first_timed_ms" -> firstTimedMs,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "rounds" -> rounds, "seed_obs" -> seedObs,
      "write_s" -> ctx.writeS, "read_s" -> ctx.readS, "round_s" -> ctx.roundS,
      "stored_bytes" -> stored(last), "final" -> finalObs(last))
    Out(doc, facts(last) ++ Map("cores" -> ctx.args.cpus.toDouble,
      "ingest_rows" -> ctx.ingestRows, "gold_partitions" -> ctx.goldPartitions,
      "gold_rows" -> ctx.goldRows))
  }

  // ---------------------------------------------------------- shared parts

  def layout(root: Path): LakeLayout = LakeLayout(root.toString)

  def land(set: String, name: String, l: LakeLayout): Unit = {
    val raw = java.nio.file.Paths.get(l.raw)
    Files.createDirectories(raw)
    Files.copy(ctx.inputs.resolve(set).resolve(name), raw.resolve(name),
      StandardCopyOption.REPLACE_EXISTING)
  }

  def pollOnce(l: LakeLayout, timed: Boolean,
      into: ArrayBuffer[Double]): StreamingIngest.Tick = {
    val tick = ctx.op("ingest", into, timed)(
      StreamingIngest.pollOnce(spark, l))
    if (timed) ctx.ingestRows += tick.ingested.map(_._2.totalRows).sum
    tick
  }

  def goldRun(conf: GoldCompaction.Conf, timed: Boolean): GoldCompaction.RunSummary = {
    val s = ctx.op("gold", other, timed)(GoldCompaction.run(spark, conf))
    if (timed) {
      ctx.goldPartitions += s.processedPartitions.size
      ctx.goldRows += s.results.map(_.rows_after_dedup).sum
    }
    s
  }

  def fileObs(tick: StreamingIngest.Tick): Seq[Map[String, Any]] =
    tick.ingested.map { case (_, r: BronzeToSilver.Result) =>
      Map("total" -> r.totalRows, "good" -> r.goodRows,
        "rejects" -> r.rejectsByReason, "dates" -> r.silverDates.sorted)
    } ++ tick.rejected.map { case (f, e) => Map("file_rejected" -> s"$f: ${e.detail}") }

  /** The analyst read mix over `retail_db.fact_sales`, each a timed read,
    * `ReadPasses` times over. Returns the first pass's answers and whether
    * every later pass gave the same ones. */
  def analystReads(timed: Boolean, lo: String, hi: String): Map[String, Any] = {
    val passes = (1 to Workload.ReadPasses).map(_ => readMix(timed, lo, hi))
    // to the cent: a float sum may differ in its last bits between passes
    def cents(v: Any): Any = v match {
      case d: Double => math.round(d * 100)
      case m: Map[_, _] => m.map { case (k, x) => k -> cents(x) }
      case xs: Seq[_] => xs.map(cents)
      case x => x
    }
    passes.head + ("passes_agree" -> passes.forall(p => cents(p) == cents(passes.head)))
  }

  private def readMix(timed: Boolean, lo: String, hi: String): Map[String, Any] = {
    val daily = ctx.op("queries.daily_revenue", ctx.readS, timed) {
      LakeCatalog.dailyRevenue(spark).collect()
    }
    val top = ctx.op("queries.top_products", ctx.readS, timed) {
      LakeCatalog.topProducts(spark).collect()
    }
    val range = ctx.op("queries.range", ctx.readS, timed) {
      spark.sql(s"""SELECT COUNT(*) AS n, SUM(revenue) AS rev
        FROM ${LakeCatalog.factSalesTable}
        WHERE date BETWEEN DATE'$lo' AND DATE'$hi'""").collect()
    }
    Map(
      "daily" -> daily.map(r => r.get(0).toString -> r.getDouble(1)).toMap,
      "top" -> top.map(r => Seq(r.getString(0), r.getDouble(1))).toSeq,
      "range" -> Map("rows" -> range(0).getLong(0),
        "rev" -> Option(range(0).get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)))
  }

  /** Gold rows per date, read from the table outside any timed operation. */
  def goldRowsPerDate(): Map[String, Long] =
    spark.sql(s"SELECT date, COUNT(*) FROM ${LakeCatalog.factSalesTable} GROUP BY date")
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap

  def rangeOf(set: String): (String, String) = {
    val r = ctx.plan(set).find(_(0) == "range").get
    (r(1), r(2))
  }

  def lakeBytes(root: Path): Long = {
    val l = layout(root)
    FsUtil.bytes(java.nio.file.Paths.get(l.processed)) +
      FsUtil.bytes(java.nio.file.Paths.get(l.goldFactSales))
  }

  def goldFacts(root: Path): Map[String, Double] = {
    val gold = java.nio.file.Paths.get(layout(root).goldFactSales)
    val parts = Option(gold.toFile.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("date="))
    Map("gold_partitions_last_round" -> parts.toDouble,
      "gold_data_files_last_round" ->
        FsUtil.files(gold, _.getFileName.toString.endsWith(".parquet")).size.toDouble)
  }
}

/** A few large messy files land one by one in raw/; each is ingested by
  * one `pollOnce`; one gold run covers every date they touched; then the
  * analyst reads. Every round starts from an empty lake. */
final class IngestBulk(c: Ctx) extends Workload(c) {
  import ctx.spark

  def seed(set: String, dst: Path): Map[String, Any] = Map.empty
  def prepare(set: String, tpl: Path, name: String): Path = ctx.freshDir(name)

  def round(set: String, root: Path, timed: Boolean): Map[String, Any] = {
    val l = layout(root)
    val files = ctx.plan(set).filter(_(0) == "file").map(_(1))
    val perFile = files.map { f =>
      land(set, f, l)
      fileObs(pollOnce(l, timed, ctx.writeS))
    }
    val gold = goldRun(GoldCompaction.Conf(l, maxPartitions = 10000,
      refreshTable = None), timed)
    ctx.op("queries.register", other, timed)(LakeCatalog.registerFactSales(spark, l))
    val (lo, hi) = rangeOf(set)
    val reads = analystReads(timed, lo, hi)
    Map("files" -> perFile.map(_.headOption.getOrElse(Map.empty)),
      "gold_partitions" -> gold.processedPartitions.size,
      "gold_rows_after_dedup" -> gold.results.map(_.rows_after_dedup).sum,
      "rows_per_date" -> goldRowsPerDate()) ++ reads
  }

  def stored(root: Path): Long = lakeBytes(root)
  override def facts(root: Path): Map[String, Double] = goldFacts(root)
}

/** A seeded lake takes small daily drops: each cycle lands one file, runs
  * `pollOnce`, then `GoldCompaction.run` forced to the dates the drop
  * touched (which also refreshes the catalog), then the analyst reads.
  * Every round replays the same cycles on a fresh copy of the seed lake. */
final class GoldIncremental(c: Ctx) extends Workload(c) {
  import ctx.spark

  def seed(set: String, dst: Path): Map[String, Any] = {
    val l = layout(dst)
    val base = ctx.plan(set).filter(_(0) == "base").map(_(1))
    base.foreach(land(set, _, l))
    val tick = StreamingIngest.pollOnce(spark, l)
    GoldCompaction.run(spark, GoldCompaction.Conf(l, maxPartitions = 10000,
      refreshTable = None))
    // pollOnce takes files in name order, which is the plan's order
    Map("files" -> fileObs(tick))
  }

  def prepare(set: String, tpl: Path, name: String): Path = {
    val root = ctx.freshDir(name)
    FsUtil.copyTree(tpl, root)
    ctx.op("queries.register", other, timed = false)(
      LakeCatalog.registerFactSales(spark, layout(root)))
    root
  }

  def round(set: String, root: Path, timed: Boolean): Map[String, Any] = {
    val l = layout(root)
    val (lo, hi) = rangeOf(set)
    val cycles = ctx.plan(set).filter(_(0) == "cycle").map(_(1)).map { f =>
      land(set, f, l)
      val tick = ctx.op("cycle", ctx.writeS, timed) {
        val t = pollOnce(l, timed, other)
        val dates = t.ingested.flatMap(_._2.silverDates).distinct.sorted
        goldRun(GoldCompaction.Conf(l, maxPartitions = 10000, forceDates = dates), timed)
        t
      }
      Map("file" -> fileObs(tick).headOption.getOrElse(Map.empty),
        "rows_per_date" -> goldRowsPerDate()) ++ analystReads(timed, lo, hi)
    }
    Map("cycles" -> cycles)
  }

  def stored(root: Path): Long = lakeBytes(root)
  override def facts(root: Path): Map[String, Double] = goldFacts(root)
}

/** Rounds of DML on a `Snapshots` table: append, merge (upsert by
  * transaction_id) and a one-date deleteWhere, each followed by an
  * aggregate `readLatest`; `optimize` every few steps. Every round replays
  * the same script on a fresh copy of the seeded table. */
final class LakeDml(c: Ctx) extends Workload(c) {
  import ctx.spark

  val schema: StructType = StructType(Seq(
    StructField("transaction_id", StringType), StructField("sale_date", DateType),
    StructField("store_id", StringType), StructField("item_id", StringType),
    StructField("quantity", LongType), StructField("revenue", DoubleType)))

  def csv(set: String, name: String): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .csv(ctx.inputs.resolve(set).resolve(name).toString)

  def table(root: Path): String = root.resolve("sales").toString

  def seed(set: String, dst: Path): Map[String, Any] = {
    val base = ctx.plan(set).find(_(0) == "base").get(1)
    Snapshots.append(spark, table(dst), csv(set, base))
    Map.empty
  }

  def prepare(set: String, tpl: Path, name: String): Path = {
    val root = ctx.freshDir(name)
    FsUtil.copyTree(tpl, root)
    root
  }

  def read(t: String, timed: Boolean): Seq[Any] = {
    val r = ctx.op("lake.read", ctx.readS, timed) {
      Snapshots.readLatest(spark, t).get
        .agg(count(lit(1)), sum(col("revenue"))).collect()(0)
    }
    Seq(r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0))
  }

  def round(set: String, root: Path, timed: Boolean): Map[String, Any] = {
    val t = table(root)
    val steps = ctx.plan(set).filter(_(0) == "step").map { s =>
      val commits = ArrayBuffer.empty[Double]
      ctx.op("lake.append", commits, timed)(Snapshots.append(spark, t, csv(set, s(1))))
      val a = read(t, timed)
      ctx.op("lake.merge", commits, timed)(
        Snapshots.merge(spark, t, csv(set, s(2)), Seq("transaction_id")))
      val m = read(t, timed)
      ctx.op("lake.delete", commits, timed)(
        Snapshots.deleteWhere(spark, t, col("sale_date") === lit(s(3)).cast(DateType)))
      val d = read(t, timed)
      if (timed) ctx.writeS += commits.sum
      val o =
        if (s(4) == "1") {
          ctx.op("lake.optimize", other, timed)(Snapshots.optimize(spark, t))
          Seq(read(t, timed))
        } else Nil
      Seq(a, m, d) ++ o
    }
    Map("steps" -> steps)
  }

  override def finalObs(root: Path): Map[String, Any] = {
    val rows = Snapshots.readLatest(spark, table(root)).get
      .select("transaction_id", "sale_date", "store_id", "item_id", "quantity", "revenue")
      .collect().map((r: Row) => Seq(r.getString(0), r.get(1).toString, r.getString(2),
        r.getString(3), r.getLong(4), r.getDouble(5)))
    Map("live_rows" -> rows.toSeq)
  }

  def stored(root: Path): Long = FsUtil.bytes(root.resolve("sales"))

  override def facts(root: Path): Map[String, Double] = {
    val dir = root.resolve("sales")
    val parquet = FsUtil.files(dir, _.getFileName.toString.endsWith(".parquet"))
    val (deletes, data) = parquet.partition(p =>
      dir.relativize(p).toString.split('/').exists(_.startsWith("d-")))
    val log = FsUtil.files(dir, p => !p.getFileName.toString.endsWith(".parquet") &&
      !p.getFileName.toString.endsWith(".crc"))
    Map("lake_data_files" -> data.size.toDouble,
      "lake_delete_files" -> deletes.size.toDouble,
      "lake_log_bytes" -> log.map(Files.size).sum.toDouble)
  }
}
