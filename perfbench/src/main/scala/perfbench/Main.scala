package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. run.py builds it and starts it once per run:
  *
  * {{{
  * perfbench.Main --workload reference|curation|stream_serve --seed N
  *   --seconds S --trace 0|1 --data <sf dir> --work <dir> --cores N
  *   [--inject throw|wrong]
  * }}}
  *
  * It sets up the session (several times, keeping the last), runs whole
  * passes of the workload in a closed loop for at least `--seconds`, and
  * writes `<work>/result.json`. A batch run first makes an unmeasured
  * pass that writes the outputs run.py holds against the DuckDB oracles
  * right after the JVM exits; a stream run checks its last pass against
  * the batch twins here. With `--trace 1` it instead runs a traced pass
  * between two untraced ones and reports the per-layer figures of the
  * traced pass.
  */
object Main {
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, cores: Int, inject: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv("cores").toInt, kv.getOrElse("inject", ""))
  }

  /** Measured passes a timed run makes at least: three for a batch run,
    * so each query has a median; a stream pass is long enough on its own.
    */
  def minPasses(isStream: Boolean): Int = if (isStream) 1 else 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    // oracle SQL names aux files by the sf directory the queries read
    graft.queries.OracleAux.sqlSfDir = o.data
    val code = try { run(o); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        write(o, Map("error" -> StreamServe.message(e)))
        3
    }
    sys.exit(code)
  }

  private def write(o: Opts, result: Map[String, Any]): Unit =
    Files.write(Paths.get(o.work, "result.json"), Json(result).getBytes("UTF-8"))

  private def run(o: Opts): Unit = {
    val isStream = o.workload == "stream_serve"
    val buildS, warmS, setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var stream: StreamServe = null
    (1 to SetupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.build(o.cores)
      val t1 = System.nanoTime()
      Session.register(spark)
      Session.warm(spark)
      val t2 = System.nanoTime()
      if (isStream) {
        stream = new StreamServe(spark, o.data, o.work, o.seed)
        stream.prepare()
      }
      buildS += (t1 - t0) / 1e9
      warmS += (t2 - t1) / 1e9
      setupS += Stats.secondsSince(t0)
    }
    val failures = mutable.ArrayBuffer.empty[Op]
    if (!Session.topKFires(spark, o.data))
      failures += Op("check", "topk_rewrite", 0.0, Some("TopK rewrite did not fire"))

    // inputs fixed by the seed: batch query orders, stream lookup keys
    val names = if (isStream) Nil else Batch.queries(o.workload)
    val twins: Map[String, Seq[org.apache.spark.sql.Row]] =
      if (isStream) StreamServe.Plans.map(p => p.name -> stream.twin(p).collect().toSeq).toMap
      else Map.empty
    val keys = if (isStream) StreamServe.Plans.map(p => p.name -> stream.keys(p, twins(p.name))).toMap
      else Map.empty[String, Seq[Long]]
    val orders = mutable.ArrayBuffer.empty[Seq[String]]
    def orderFor(p: Int): Seq[String] = {
      while (orders.size <= p) orders += Batch.order(names, o.seed, orders.size)
      orders(p)
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    // the operations of the measured passes
    val measured = mutable.ArrayBuffer.empty[Op]
    var record: StreamServe.PassRecord = null
    val plans = mutable.ArrayBuffer.empty[PlanStats]
    val runDir = Paths.get(o.work, "passes")
    val checkDir = s"${o.work}/check"
    var written = Seq.empty[Op]

    def onePass(p: Int, trace: Trace): Double = {
      StreamServe.deleteTree(runDir)
      val t0 = System.nanoTime()
      trace.span("pass", o.workload) {
        if (isStream) {
          record = stream.pass(trace, s"$runDir/$p", keys, o.inject)
          ops ++= record.ops
        } else {
          ops ++= Batch.pass(spark, o.data, orderFor(p), trace, plans)
        }
      }
      Stats.secondsSince(t0)
    }
    var layers: Map[String, (Double, String)] = Map.empty
    // batch: an unmeasured warm-up pass for the JIT and Spark's caches,
    // which also writes the outputs the oracles check (every timed count
    // must then match); the stream's own catch-up triggers warm it up
    if (!isStream) {
      written = Batch.warmAndWrite(spark, o.data, orderFor(0), checkDir, o.inject)
      ops ++= written
    }
    if (!o.trace) {
      val t0 = System.nanoTime()
      var p = 1
      while (p <= minPasses(isStream) || Stats.secondsSince(t0) < o.seconds) {
        val from = ops.size
        passWalls += onePass(p, NoTrace)
        measured ++= ops.drop(from)
        p += 1
      }
    } else {
      // one untraced pass warms the JIT further, so the traced pass runs
      // near the timed runs' speed; the untraced pass after the traced one
      // is the baseline of the tracing overhead (taken after, so the JIT's
      // warming cannot pass for negative cost)
      onePass(1, NoTrace)
      val tracer = new Tracer(spark.sparkContext)
      val traced = onePass(2, tracer)
      val tracedRecord = record
      tracer.drain()
      tracer.close()
      val untraced = onePass(3, NoTrace)
      val kernels =
        if (o.workload == "curation") Kernels.run(spark, o.data)
        else Map.empty[String, Kernels.Timing]
      Files.write(Paths.get(o.work, "spans.jsonl"),
        (tracer.spanLines.mkString("\n") + "\n").getBytes("UTF-8"))
      Files.write(Paths.get(o.work, "jobs.jsonl"),
        (tracer.jobLines.mkString("\n") + "\n").getBytes("UTF-8"))
      passWalls += traced
      layers = Layers.metrics(tracer, plans.toSeq, Option(tracedRecord), kernels,
        Stats.median(buildS.toSeq), Stats.median(warmS.toSeq), untraced, traced, o.cores)
    }

    // the stream's last pass against its batch twins, outside the timed region
    val tCheck = System.nanoTime()
    if (isStream) failures ++= stream.check(record, twins)
    val checkS = Stats.secondsSince(tCheck)

    // Each operation class (a query; a plan's catch-up, triggers or
    // lookups) is timed by the median of its measured samples, so a short
    // slow phase of the host that hits a few operations does not move the
    // figures. A pass's wall is rebuilt from those medians, each times the
    // class's operations per pass; the latency figure is over queries
    // (batch) or lookups (stream).
    def opClass(op: Op): String =
      if (isStream) s"${op.kind} ${op.name.takeWhile(_ != '-')}" else op.name
    val classes = measured.filterNot(_.failed).groupBy(opClass)
    val classMedians = classes.map { case (k, v) => k -> Stats.median(v.map(_.seconds).toSeq) }
    val passWall = classes.map { case (k, v) => classMedians(k) * v.size / passWalls.size }.sum
    val opSeconds = classMedians.collect {
      case (k, m) if !isStream || k.startsWith("lookup ") => m }.toSeq
    val endToEnd: Map[String, (Double, String)] = Map(
      "setup_s" -> (Stats.median(setupS.toSeq), "s"),
      "wall_s" -> (passWall, "s"),
      "op_gmean_ms" -> (Stats.geomean(opSeconds) * 1000, "ms"),
      "peak_rss_mb" -> (Session.peakRssMb(), "MiB"))
    val metrics = if (o.trace) layers else endToEnd
    val opFailures = ops.filter(_.failed)
    val detail = mutable.LinkedHashMap[String, Any](
      "passes" -> passWalls.size,
      "pass_walls_s" -> passWalls,
      "setup_s" -> setupS,
      "check_s" -> checkS,
      "op_samples" -> measured.size,
      "cores" -> o.cores,
      "session" -> Session.config(o.cores).toMap)
    if (isStream && record != null) {
      detail("trigger_p50_ms") = Stats.median(record.triggerSeconds.toSeq) * 1000
      detail("lookup_p50_ms") = Stats.median(record.lookupSeconds.toSeq) * 1000
      detail("slices") = stream.slices.size
      detail("lookups") = record.lookups.size
      detail("lookups_nonempty") = record.nonEmptyLookups.toMap
    }
    detail("op_median_s") = classMedians
    write(o, Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "attempted" -> ops.size,
      "failed" -> (opFailures.size + failures.size),
      "failures" -> (opFailures ++ failures).map(f => s"${f.kind} ${f.name}: ${f.error.get}"),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> detail,
      "check" -> (if (isStream) Map.empty[String, Any]
        else Map("dir" -> checkDir, "queries" -> written.filterNot(_.failed).map(_.name),
          "counts" -> ops.filter(o => o.kind == "query" && o.rows >= 0)
            .groupBy(_.name).map { case (k, v) => k -> v.map(_.rows) })),
      "schedule" -> Map("orders" -> orders.toSeq, "keys" -> keys)))
    spark.stop()
  }
}
