package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark. `run.py` generates the inputs and the plan,
  * starts this main, and checks what it writes to `<work>/obs.json`.
  *
  * Usage: perfbench.Main --workload W --work DIR --seconds S --trace 0|1
  *          --t0-ms EPOCH_MS --cpus N
  *
  * One closed-loop client: the main thread issues every operation and waits
  * for it. Each run builds its seed state, runs one warm-up round on
  * throwaway inputs at a separate path, then repeats whole timed rounds on
  * fresh copies of the seed state until `--seconds` have passed. */
object Main {

  final case class Args(workload: String, work: Path, seconds: Double,
      trace: Boolean, t0Ms: Long, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), Paths.get(m("work")).toAbsolutePath, m("seconds").toDouble,
      m("trace") == "1", m("t0-ms").toLong, m("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = graft.GraftSession.builder(s"local[${args.cpus}]", args.cpus)
      .appName("perfbench")
      .config("spark.local.dir", args.work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - args.t0Ms) / 1000.0
    val tracer = new Tracer(spark.sparkContext, args.trace)
    val ctx = new Ctx(spark, args, tracer)
    try {
      val workload: Workload = args.workload match {
        case "ingest_bulk" => new IngestBulk(ctx)
        case "gold_incremental" => new GoldIncremental(ctx)
        case "lake_dml" => new LakeDml(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val out = workload.run()
      tracer.drain()
      val unattributed = tracer.unattributedJobs
      // Total Spark jobs of the run = the id of one probe job submitted
      // after the timed rounds, in traced and untraced runs alike, to show
      // that tracing adds no job.
      val sc = spark.sparkContext
      sc.setJobGroup("perfbench-probe", "job count probe")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val jobsTotal = sc.statusTracker.getJobIdsForGroup("perfbench-probe")
        .headOption.map(_.toLong).getOrElse(-1L)
      val layers = if (args.trace) Layers.metrics(tracer, out) else Map.empty
      val doc = out.doc ++ Map(
        "session_s" -> sessionS,
        "jobs_total" -> jobsTotal,
        "unattributed_jobs" -> unattributed,
        "layers" -> layers)
      Files.write(args.work.resolve("obs.json"), Json.render(doc).getBytes("UTF-8"))
    } finally spark.stop()
  }
}

/** What every workload shares: the session, the tracer, timing and the
  * operation ledger. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val tracer: Tracer) {
  val inputs: Path = args.work.resolve("inputs")
  val lakes: Path = args.work.resolve("lakes")
  var attempted, failed = 0L
  val writeS = scala.collection.mutable.ArrayBuffer.empty[Double]
  val readS = scala.collection.mutable.ArrayBuffer.empty[Double]
  val roundS = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Denominators of the per-layer ratios, summed over timed rounds. */
  var ingestRows, goldPartitions, goldRows = 0.0

  /** Plan lines of one input set: tab-separated fields. */
  def plan(set: String): Seq[Array[String]] =
    Files.readAllLines(inputs.resolve(set).resolve("plan.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))

  /** Run one timed operation; its time goes to `into` when `timed`. A
    * failure is counted, never timed, and rethrown so the round stops. */
  def op[T](span: String, into: scala.collection.mutable.ArrayBuffer[Double],
      timed: Boolean)(body: => T): T = {
    if (timed) attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(span)(body)
      if (timed) into += (System.nanoTime() - t0) / 1e9
      r
    } catch {
      case e: Throwable =>
        if (timed) failed += 1
        throw e
    }
  }

  def freshDir(name: String): Path = {
    val p = lakes.resolve(name)
    Files.createDirectories(p)
    p
  }
}

object FsUtil {
  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Bytes of regular files under `p`, hidden checksum files included. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }

  def files(p: Path, pred: Path => Boolean): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(x => Files.isRegularFile(x) && pred(x)).toList
      finally walk.close()
    }
}

/** Minimal JSON rendering for the observation document. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
