package perfbench

/** Per-layer metrics from the spans of the timed rounds of a traced run.
  * Every name is always present: a layer the workload does not run reads 0,
  * so traced runs of all workloads print the same set of keys. */
object Layers {

  val names: Seq[String] = Seq(
    "ingest.file_s", "ingest.jobs_per_file", "ingest.stages_per_file",
    "ingest.driver_s_per_file", "ingest.task_cpu_us_per_row",
    "ingest.raw_records_read_per_row", "ingest.core_busy_share",
    "ingest.shuffle_bytes_per_row",
    "gold.run_s", "gold.jobs_per_partition", "gold.stages_per_partition",
    "gold.driver_s", "gold.task_cpu_s", "gold.files_per_partition",
    "gold.bytes_written_per_row",
    "queries.register_s", "queries.daily_revenue_s", "queries.top_products_s",
    "queries.range_s", "queries.jobs_per_query", "queries.stages_per_query",
    "queries.input_bytes_per_query",
    "lake.append_s", "lake.merge_s", "lake.delete_s", "lake.optimize_s",
    "lake.jobs_per_append", "lake.jobs_per_merge", "lake.jobs_per_delete",
    "lake.jobs_per_optimize", "lake.stages_per_commit", "lake.driver_s_per_commit",
    "lake.read_s", "lake.jobs_per_read", "lake.input_bytes_per_read",
    "lake.data_files", "lake.delete_files", "lake.log_bytes")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  def metrics(t: Tracer, out: Out): Map[String, Double] = {
    def sum(ss: Seq[Span])(f: Span => Double): Double = ss.map(f).sum
    val cores = out.facts.getOrElse("cores", 1.0)

    val ingest = t.timed("ingest")
    val ingestRows = out.facts.getOrElse("ingest_rows", 0.0)
    val files = ingest.size.toDouble
    val gold = t.timed("gold")
    val partitions = out.facts.getOrElse("gold_partitions", 0.0)
    val goldRows = out.facts.getOrElse("gold_rows", 0.0)
    val reads = Seq("queries.daily_revenue", "queries.top_products", "queries.range")
      .flatMap(t.timed)
    val appends = t.timed("lake.append")
    val merges = t.timed("lake.merge")
    val deletes = t.timed("lake.delete")
    val optimizes = t.timed("lake.optimize")
    val commits = appends ++ merges ++ deletes
    val lakeReads = t.timed("lake.read")

    Map(
      "ingest.file_s" -> median(ingest.map(_.wallS)),
      "ingest.jobs_per_file" -> ratio(sum(ingest)(_.jobs.get), files),
      "ingest.stages_per_file" -> ratio(sum(ingest)(_.stages.get), files),
      "ingest.driver_s_per_file" -> ratio(sum(ingest)(_.driverS), files),
      "ingest.task_cpu_us_per_row" -> ratio(sum(ingest)(_.taskCpuNs.get / 1e3), ingestRows),
      "ingest.raw_records_read_per_row" -> ratio(sum(ingest)(_.inputRecords.get), ingestRows),
      "ingest.core_busy_share" ->
        ratio(sum(ingest)(_.taskRunMs.get / 1e3), sum(ingest)(_.wallS) * cores),
      "ingest.shuffle_bytes_per_row" -> ratio(sum(ingest)(_.shuffleWriteBytes.get), ingestRows),
      "gold.run_s" -> median(gold.map(_.wallS)),
      "gold.jobs_per_partition" -> ratio(sum(gold)(_.jobs.get), partitions),
      "gold.stages_per_partition" -> ratio(sum(gold)(_.stages.get), partitions),
      "gold.driver_s" -> median(gold.map(_.driverS)),
      "gold.task_cpu_s" -> median(gold.map(_.taskCpuNs.get / 1e9)),
      "gold.files_per_partition" -> ratio(out.facts.getOrElse("gold_data_files_last_round", 0.0),
        out.facts.getOrElse("gold_partitions_last_round", 0.0)),
      "gold.bytes_written_per_row" -> ratio(sum(gold)(_.outputBytes.get), goldRows),
      "queries.register_s" -> median(t.timed("queries.register").map(_.wallS)),
      "queries.daily_revenue_s" -> median(t.timed("queries.daily_revenue").map(_.wallS)),
      "queries.top_products_s" -> median(t.timed("queries.top_products").map(_.wallS)),
      "queries.range_s" -> median(t.timed("queries.range").map(_.wallS)),
      "queries.jobs_per_query" -> ratio(sum(reads)(_.jobs.get), reads.size),
      "queries.stages_per_query" -> ratio(sum(reads)(_.stages.get), reads.size),
      "queries.input_bytes_per_query" -> ratio(sum(reads)(_.inputBytes.get), reads.size),
      "lake.append_s" -> median(appends.map(_.wallS)),
      "lake.merge_s" -> median(merges.map(_.wallS)),
      "lake.delete_s" -> median(deletes.map(_.wallS)),
      "lake.optimize_s" -> median(optimizes.map(_.wallS)),
      "lake.jobs_per_append" -> ratio(sum(appends)(_.jobs.get), appends.size),
      "lake.jobs_per_merge" -> ratio(sum(merges)(_.jobs.get), merges.size),
      "lake.jobs_per_delete" -> ratio(sum(deletes)(_.jobs.get), deletes.size),
      "lake.jobs_per_optimize" -> ratio(sum(optimizes)(_.jobs.get), optimizes.size),
      "lake.stages_per_commit" -> ratio(sum(commits)(_.stages.get), commits.size),
      "lake.driver_s_per_commit" -> ratio(sum(commits)(_.driverS), commits.size),
      "lake.read_s" -> median(lakeReads.map(_.wallS)),
      "lake.jobs_per_read" -> ratio(sum(lakeReads)(_.jobs.get), lakeReads.size),
      "lake.input_bytes_per_read" -> ratio(sum(lakeReads)(_.inputBytes.get), lakeReads.size),
      "lake.data_files" -> out.facts.getOrElse("lake_data_files", 0.0),
      "lake.delete_files" -> out.facts.getOrElse("lake_delete_files", 0.0),
      "lake.log_bytes" -> out.facts.getOrElse("lake_log_bytes", 0.0))
      .ensuring(_.keySet == names.toSet)
  }
}
