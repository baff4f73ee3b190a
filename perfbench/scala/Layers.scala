package perfbench

/** Per-layer aggregation of the traced run: Spark jobs, stages and tasks,
  * Catalyst phases and streaming progress are attributed to the op span
  * that issued them and reported per op. */
object Layers {
  import Trace._
  import scala.jdk.CollectionConverters._

  private def spanById: Map[Long, Span] = spans.synchronized(spans.map(s => s.id -> s).toMap)
  def opSpans: Seq[Span] = spans.synchronized(spans.filter(s => s.parent == 0 && s.name == "op").toVector)

  /** Jobs that ran inside an op span (directly or in a child span). */
  def opJobs: Seq[(Span, JobRec)] = {
    val byId = spanById
    val ops = opSpans.map(s => s.id -> s).toMap
    jobs.synchronized(jobs.values.toVector).flatMap { j =>
      byId.get(j.span).flatMap(s => ops.get(s.op)).map(_ -> j)
    }.filter(!_._2.end.isNaN)
  }

  /** Name of the innermost span a job ran in. */
  def spanName(j: JobRec): String = spanById.get(j.span).map(_.name).getOrElse("op")

  def outPath(j: JobRec): Option[String] = qes.synchronized(qes.get(j.execId)).flatMap(_.outPath)

  def common(cores: Int, nOps: Int): Map[String, Double] = {
    val ops = opSpans.filter(!_.end.isNaN)
    val oj = opJobs
    val opIds = ops.map(_.id).toSet
    val tasks = oj.flatMap(x => jobTasks.get(x._2.id))
    def sumT(f: TaskAgg => Long) = tasks.map(f).sum.toDouble
    val execIds = oj.map(_._2.execId).filter(_ >= 0).toSet
    val q = qes.synchronized(qes.values.filter(r => execIds(r.execId)).toVector)
    def phase(p: String) = q.map(_.phases.getOrElse(p, 0.0)).sum
    val wallS = ops.map(s => s.end - s.start).sum / 1e3
    val covered = ops.map(s => coveredMs(s, oj.filter(_._1.id == s.id).map(_._2))).sum / 1e3
    val stages = oj.map(_._2.stages.size).sum
    val n = nOps.toDouble
    Map(
      "catalyst.analysis_s" -> phase("analysis") / n,
      "catalyst.optimization_s" -> phase("optimization") / n,
      "catalyst.planning_s" -> phase("planning") / n,
      "scheduler.jobs" -> oj.size / n,
      "scheduler.stages" -> stages / n,
      "scheduler.tasks" -> sumT(_.tasks) / n,
      "scheduler.task_wait_s" -> sumT(_.waitMs) / 1e3 / n,
      "exec.task_run_s" -> sumT(_.runMs) / 1e3 / n,
      "exec.task_cpu_s" -> sumT(_.cpuNs) / 1e9 / n,
      "exec.busy_ratio" -> (if (wallS > 0) sumT(_.runMs) / 1e3 / (wallS * cores) else 0.0),
      "exec.shuffle_read_bytes" -> sumT(_.shuffleRead) / n,
      "exec.shuffle_write_bytes" -> sumT(_.shuffleWrite) / n,
      "exec.spill_bytes" -> sumT(_.spill) / n,
      "exec.input_bytes" -> sumT(_.input) / n,
      "exec.output_bytes" -> sumT(_.output) / n,
      "driver.self_s" -> (wallS - covered) / n,
      "trace.op_p50_s" -> median(ops.map(s => (s.end - s.start) / 1e3)),
      "trace.spans" -> spans.size.toDouble
    ) ++ streaming(opIds, n)
  }

  /** Milliseconds of the op span covered by at least one of `js`. */
  def coveredMs(op: Span, js: Seq[JobRec]): Double =
    selfMs(op, js.map(j => (j, "job"))).getOrElse("job", 0.0)

  /** Split an op span's wall time between job categories: each
    * millisecond goes to the first category (in `cats` order) of a job
    * running then; milliseconds no job covers are left out (they are the
    * driver's own time). */
  def selfMs(op: Span, cats: Seq[(JobRec, String)]): Map[String, Double] = {
    val t0 = op.start.toLong
    val len = math.max(0, (op.end - op.start).toInt)
    val owner = Array.fill[String](len)(null)
    cats.foreach { case (j, c) =>
      val a = math.max(0, (j.start.toLong - t0).toInt)
      val b = math.min(len, (j.end.toLong - t0).toInt)
      var k = a
      while (k < b) { if (owner(k) == null) owner(k) = c; k += 1 }
    }
    owner.filter(_ != null).groupBy(identity).map { case (k, v) => k -> v.length.toDouble }
  }

  def streaming(opIds: Set[Long], n: Double): Map[String, Double] = {
    val ps = streamProgress.synchronized(streamProgress.toVector).filter(p => opIds(p._1)).map(_._2.progress)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / 1e3 / n
    val stateOps = ps.flatMap(_.stateOperators.toSeq)
    // state rows: the largest state each query reached, summed over queries
    val stateRows = ps.groupBy(_.id).values.map(_.flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(_ max _)).sum
    Map(
      "streaming.batches" -> ps.size / n,
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.state_commit_s" -> stateOps.map(_.commitTimeMs).sum / 1e3 / n,
      "streaming.state_rows" -> stateRows / n)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** The recorded jobs and spans, as written to jobs.json and spans.json. */
  def jobsJson: AnyRef = jobs.synchronized(jobs.values.toVector.sortBy(_.id).map { j =>
    Map("job" -> j.id, "span" -> j.span, "exec" -> j.execId, "start" -> j.start,
      "end" -> Json.num(j.end), "out" -> outPath(j).orNull).asJava
  }.asJava)

  def spansJson: AnyRef = spans.synchronized(spans.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start" -> s.start, "end" -> Json.num(s.end)).asJava
  }.asJava)
}
