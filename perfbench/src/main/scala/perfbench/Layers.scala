package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of one traced pass, named `<layer>.<metric>`. */
object Layers {

  def metrics(t: Tracer, plans: Seq[PlanStats], stream: Option[StreamServe.PassRecord],
              kernels: Map[String, Kernels.Timing], buildS: Double, warmS: Double,
              untracedWall: Double, tracedWall: Double,
              cores: Int): Map[String, (Double, String)] = {
    val pass = t.spans.find(_.kind == "pass").get
    val inPass = t.subtree(pass.id)
    val spans = t.spans.filter(s => inPass(s.id))
    val kind = spans.map(s => s.id -> s.kind).toMap
    val jobs = t.jobs.asScala.filter(j => inPass(j.span)).toSeq
    val stages = t.stages.asScala.filter(s => inPass(s.span)).toSeq
    val tasks = t.tasks.asScala.filter(s => inPass(s.span)).toSeq
    def spanSeconds(k: String): Double = spans.filter(_.kind == k).map(_.seconds).sum
    def taskSum(f: TaskRec => Long): Double = tasks.map(f).sum.toDouble
    val taskCpuS = taskSum(_.cpuNs) / 1e9
    val skews = stages.filter(s => s.taskMs.size >= 2 && s.taskMs.max >= 100).map { s =>
      s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble)))
    }
    val lookupPlans = stream.map(_.lookupPlans.toSeq).getOrElse(Nil)
    val lookupFiles = stream.map(_.lookupFiles.toSeq).getOrElse(Nil)
    val allPlans = (plans ++ lookupPlans).foldLeft(PlanStats.zero)(_ + _)
    val directChildren = t.spans.filter(_.parent == pass.id).map(_.seconds).sum

    def ms(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq) * 1000
    def progressMs(key: String): Double = stream.map(r =>
      ms(r.replayProgress.map(p => Option(p.durationMs.get(key)).map(_.toDouble / 1000).getOrElse(0.0))))
      .getOrElse(0.0)
    // the state operators of each stream's last data-carrying trigger
    val lastState = stream.toSeq.flatMap(r => r.replayProgress.groupBy(_.id).values
      .map(_.last).flatMap(_.stateOperators))
    val stateCommit = stream.toSeq.flatMap(_.replayProgress.flatMap(_.stateOperators)
      .map(_.commitTimeMs.toDouble / 1000))
    val catchup = stream.toSeq.flatMap(_.catchupProgress.map { p =>
      p.numInputRows / math.max(1e-3, p.durationMs.get("triggerExecution").toDouble / 1000)
    })
    val replaySinks = stream.toSeq.flatMap(_.sinks.filter(_.phase == "replay").map(_.sink))
    val allSinks = stream.toSeq.flatMap(_.sinks.map(_.sink))
    val triggers = stream.map(_.triggerSeconds.toSeq).getOrElse(Nil)
    val lookups = stream.map(_.lookupSeconds.toSeq).getOrElse(Nil)
    def kernel(name: String): Double = kernels.get(name).map(_.nsPerRow).getOrElse(0.0)

    Map(
      "session.build_s" -> (buildS, "s"),
      "session.warmup_s" -> (warmS, "s"),
      "model.discovery_jobs" -> (jobs.count(_.callSite.contains("graft.model.Tables$")).toDouble, "count"),
      "model.input_bytes" -> (taskSum(_.inBytes), "bytes"),
      "model.input_records" -> (taskSum(_.inRecords), "count"),
      "queries.construct_s" -> (spanSeconds("construct"), "s"),
      "queries.construct_jobs" -> (jobs.count(j => kind.get(j.span).contains("construct")).toDouble, "count"),
      "queries.construct_share" -> (spanSeconds("construct") / tracedWall, "ratio"),
      "plans.plan_s" -> (spanSeconds("plan"), "s"),
      "plans.exchanges" -> (allPlans.exchanges.toDouble, "count"),
      "plans.broadcasts" -> (allPlans.broadcasts.toDouble, "count"),
      "plans.topk_nodes" -> (allPlans.topk.toDouble, "count"),
      "exec.execute_s" -> (spanSeconds("execute") + spanSeconds("trigger"), "s"),
      "exec.jobs" -> (jobs.size.toDouble, "count"),
      "exec.stages" -> (stages.size.toDouble, "count"),
      "exec.tasks" -> (tasks.size.toDouble, "count"),
      "exec.task_cpu_s" -> (taskCpuS, "s"),
      "exec.gc_s" -> (taskSum(_.gcMs) / 1000, "s"),
      "exec.core_util" -> (taskCpuS / (tracedWall * cores), "ratio"),
      "exec.single_task_stage_s" -> (stages.filter(_.numTasks == 1).map(_.durationMs).sum / 1000.0, "s"),
      "exec.stage_skew_max" -> (if (skews.isEmpty) 0.0 else skews.max, "ratio"),
      "exec.shuffle_write_bytes" -> (taskSum(_.shuffleWrite), "bytes"),
      "exec.shuffle_read_bytes" -> (taskSum(_.shuffleRead), "bytes"),
      "exec.spill_bytes" -> (taskSum(_.spill), "bytes"),
      "spread.repartitions" -> (allPlans.roundRobin.toDouble, "count"),
      "functions.float_dot_ns_per_row" -> (kernel("float_dot"), "ns/row"),
      "functions.simhash64_ns_per_row" -> (kernel("simhash64"), "ns/row"),
      "functions.minhash_ns_per_row" -> (kernel("minhash"), "ns/row"),
      "functions.token_ngrams_ns_per_row" -> (kernel("token_ngrams"), "ns/row"),
      "etl.output_bytes" -> (taskSum(_.outBytes), "bytes"),
      "etl.output_records" -> (taskSum(_.outRecords), "count"),
      "streaming.catchup_rows_per_s" -> (if (catchup.isEmpty) 0.0 else Stats.median(catchup), "rows/s"),
      "streaming.trigger_p50_ms" -> (ms(triggers), "ms"),
      "streaming.add_batch_ms" -> (progressMs("addBatch"), "ms"),
      "streaming.planning_ms" -> (progressMs("queryPlanning"), "ms"),
      "streaming.wal_commit_ms" -> (progressMs("walCommit"), "ms"),
      "streaming.commit_ms" -> (progressMs("commitOffsets"), "ms"),
      "streaming.state_rows" -> (lastState.map(_.numRowsTotal).sum.toDouble, "count"),
      "streaming.state_bytes" -> (lastState.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
      "streaming.state_commit_ms" -> (ms(stateCommit), "ms"),
      "serve.sink_write_ms" -> (ms(replaySinks.flatMap(_.writeSeconds)), "ms"),
      // append mode emits each key once, so items held = puts made
      "serve.kv_puts" -> (allSinks.map(_.store.size).sum.toDouble, "count"),
      "serve.lookup_p50_ms" -> (ms(lookups), "ms"),
      "serve.lookup_plan_ms" -> (ms(stream.toSeq.flatMap(_.lookupPlanSeconds)), "ms"),
      "serve.lookup_exec_ms" -> (ms(stream.toSeq.flatMap(_.lookupExecSeconds)), "ms"),
      "serve.lookup_files" -> (if (lookupPlans.isEmpty) 0.0
        else Stats.median(lookupFiles.map(_.toDouble)), "count"),
      "trace.wall_s" -> (tracedWall, "s"),
      "trace.untraced_wall_s" -> (untracedWall, "s"),
      "trace.overhead_s" -> (tracedWall - untracedWall, "s"),
      "trace.pass_self_s" -> (pass.seconds - directChildren, "s"))
  }
}
