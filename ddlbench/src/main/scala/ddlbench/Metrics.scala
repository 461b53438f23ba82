package ddlbench

/** Per-layer figures of a traced run. Times are medians over the
  * measured passes; counts come from the first measured pass, since
  * every pass does the same work. */
object Metrics {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def perLayer(t: Tracer, layers: Seq[Layers.Totals], gcS: Seq[Double],
      passCpuS: Seq[Double], heapPeakBytes: Double): Map[String, Double] = {
    val passes = t.spans.filter(_.name == "pass").toSeq
    def calls(pass: Span, prefix: String) =
      t.spans.filter(c => c.parent == pass.id && c.name.startsWith(prefix)).toSeq
    def callTime(name: String) = median(passes.map(p => calls(p, name).map(_.seconds).sum))

    def spark(prefix: String): Map[String, Double] = {
      val perPass = passes.map(p => t.counters(calls(p, prefix).map(_.id)))
      val first = perPass.headOption.getOrElse(new Counters)
      def med(f: Counters => Long) = median(perPass.map(c => f(c) / 1e3))
      Map(
        "jobs" -> first.jobs.toDouble, "stages" -> first.stages.toDouble,
        "tasks" -> first.tasks.toDouble, "input_partitions" -> first.inputTasks.toDouble,
        "shuffle_write_bytes" -> first.shuffleWriteBytes.toDouble,
        "shuffle_read_bytes" -> first.shuffleReadBytes.toDouble,
        "spill_bytes" -> first.spillBytes.toDouble,
        "bytes_written" -> first.bytesWritten.toDouble,
        "task_busy_s" -> med(_.taskBusyMs), "task_wait_s" -> med(_.taskWaitMs),
        "max_task_s" -> med(_.maxTaskMs), "gc_s" -> med(_.gcMs))
    }
    val api = spark("api.")
    val sources = spark("sources.")
    val inspect = t.spans.find(_.name == "sources.inspect").map(_.attrs).getOrElse(Map.empty)

    val layer = layers.headOption.map(_.layers).getOrElse(Nil)
    def layerBusy(name: String) = median(layers.map(_.layers.find(_._1 == name).get._2 / 1e9))
    def layerAttr(name: String, attr: String, timed: Boolean) =
      if (timed) median(layers.map(_.layers.find(_._1 == name).get._3(attr)))
      else layer.find(_._1 == name).map(_._3(attr)).getOrElse(0.0)

    Map(
      "parse.busy_s" -> layerBusy("parse"),
      "parse.max_script_s" -> layerAttr("parse", "max_script_s", timed = true),
      "parse.statements" -> layerAttr("parse", "statements", timed = false),
      "parse.tables" -> layerAttr("parse", "tables", timed = false),
      "parse.alter_links" -> layerAttr("parse", "alter_links", timed = false),
      "mapping.busy_s" -> layerBusy("mapping"),
      "mapping.columns" -> layerAttr("mapping", "columns", timed = false),
      "convert.busy_s" -> layerBusy("convert"),
      "convert.ewi_markers" -> layerAttr("convert", "ewi_markers", timed = false),
      "convert.out_bytes" -> layerAttr("convert", "out_bytes", timed = false),
      "snowflake.parse_s" -> layerAttr("snowflake", "parse_s", timed = true),
      "snowflake.render_s" -> layerAttr("snowflake", "render_s", timed = true),
      "snowflake.tables" -> layerAttr("snowflake", "tables", timed = false),
      "assess.busy_s" -> layerBusy("assess"),
      "assess.render_s" -> layerAttr("assess", "render_s", timed = true),
      "assess.issues" -> layerAttr("assess", "issues", timed = false),
      "api.read_s" -> callTime("api.read"),
      "api.convert_s" -> callTime("api.convert"),
      "api.assess_s" -> callTime("api.assess"),
      "api.report_s" -> callTime("api.report"),
      "api.sf_convert_s" -> callTime("api.sf_convert"),
      "sources.migrate_s" -> callTime("sources.migrate"),
      "sources.upsert_s" -> callTime("sources.upsert"),
      "sources.delete_s" -> callTime("sources.delete"),
      "sources.append_s" -> callTime("sources.append"),
      "sources.read_s" -> callTime("sources.read"),
      "sources.commits" -> inspect.getOrElse("commits", 0.0),
      "sources.data_files" -> inspect.getOrElse("data_files", 0.0),
      "sources.delete_files" -> inspect.getOrElse("delete_files", 0.0),
      "jvm.heap_peak_bytes" -> heapPeakBytes,
      "jvm.gc_s" -> median(gcS),
      "trace.pass_s" -> median(passes.map(_.seconds)),
      "trace.pass_cpu_s" -> median(passCpuS)) ++
      Seq("jobs", "stages", "tasks", "input_partitions", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "task_busy_s", "task_wait_s", "max_task_s",
        "gc_s").map(k => s"api.$k" -> api(k)) ++
      Seq("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "bytes_written")
        .map(k => s"sources.$k" -> sources(k))
  }
}
