package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.Tables
import graft.queries.ReferenceQueries
import graft.serve.Serving
import graft.streaming.{StatefulSpend, StreamingFraud}

/** The real-time path end to end. For each streaming plan in turn (fraud
  * windows, then stateful spend alerts): one trigger drains the whole
  * events backlog (catch-up), then a fresh query replays the same backlog
  * as time-ordered slices. A slice becomes visible only after the
  * previous trigger has committed and its lookups are done. The sink is a
  * `foreachBatch` that appends to a served parquet table and upserts into
  * a key-value store through `Serving.upsertPartitions`; after each
  * trigger one client reads the served table through
  * `Serving.pointLookup`.
  */
final class StreamServe(spark: SparkSession, dataDir: String, workDir: String, seed: Long) {
  import StreamServe._

  private val sliceDir = Paths.get(workDir, "slices")
  /** Slice files in time order, each with its exclusive upper bound in
    * epoch seconds (the last one is unbounded).
    */
  var slices: Seq[(Path, Long)] = Nil
  /** The latest event second in each slice. */
  var sliceMaxSec: Seq[Long] = Nil

  /** Cuts the events table into time-ordered slices on whole-second
    * bounds, so an event's slice follows from its second alone.
    */
  def prepare(): Unit = {
    val ev = Tables.events(spark, dataDir)
    val sec = unix_timestamp(col("ts"))
    val probs = (1 until MinSlices).map(_.toDouble / MinSlices).toArray
    val bounds = ev.select(sec.as("s")).stat.approxQuantile("s", probs, 0.001)
      .map(_.toLong).distinct.sorted.toSeq
    val index = bounds.map(b => when(sec >= lit(b), 1).otherwise(0)).reduce(_ + _)
    val stage = Paths.get(workDir, "slices-stage")
    deleteTree(stage)
    deleteTree(sliceDir)
    // one write task, so each slice lands in exactly one file
    ev.withColumn("slice", index).coalesce(1)
      .write.partitionBy("slice").parquet(stage.toString)
    Files.createDirectories(sliceDir)
    slices = (0 to bounds.size).map { i =>
      val part = Files.list(stage.resolve(s"slice=$i")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(part.size == 1, s"slice $i has ${part.size} files")
      val dst = sliceDir.resolve(f"slice-$i%03d.parquet")
      Files.move(part.head, dst)
      dst -> (if (i < bounds.size) bounds(i) else Long.MaxValue)
    }
    deleteTree(stage)
    require(slices.size >= MinSlices, s"only ${slices.size} slices")
    val latest = ev.select(index.as("slice"), sec.as("s")).groupBy("slice").agg(max("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    sliceMaxSec = slices.indices.map(latest)
  }

  /** Lookup keys for one plan, in trigger order, drawn by the seed. A
    * trigger's keys come from the users with a twin row that the stream
    * must already have emitted once that trigger committed, so the
    * lookups compare non-empty results; while there is no such row, from
    * every user the twin alerts on.
    */
  def keys(plan: Plan, twinRows: Seq[Row]): Seq[Long] = {
    val rows = twinRows.map(asStrings)
    def users(rs: Seq[Seq[String]]): Seq[Long] = rs.map(_.head.toLong).distinct.sorted
    val all = users(rows)
    val rnd = new scala.util.Random(seed * 31L + plan.name.hashCode)
    (0 until ReplaySlices).flatMap { i =>
      val due = users(rows.filter(plan.emitted(_, leastBound(plan, i))))
      val pool = if (due.nonEmpty) due else all
      Seq.fill(LookupsPerTrigger)(pool(rnd.nextInt(pool.size)))
    }
  }

  /** The least progress `plan` has made once replay trigger `i` committed,
    * as [[Plan.emitted]] takes it: for fraud the watermark (epoch ms),
    * at least the latest event second released so far less the watermark
    * delay; for spend alerts the released slices' upper bound.
    */
  private def leastBound(plan: Plan, i: Int): Long = plan.name match {
    case "fraud" => (sliceMaxSec.take(i + 1).max - FraudWatermarkSec) * 1000L
    case _       => slices(i)._2
  }

  def twin(plan: Plan): DataFrame = plan.name match {
    case "fraud" => graft.stream.Fraud.windowSum(Tables.events(spark, dataDir),
      ReferenceQueries.WindowSec, ReferenceQueries.Threshold)
    case "stateful" => StatefulSpend.batchSpendAlerts(Tables.events(spark, dataDir),
      SpendThreshold)
  }

  /** One pass: catch-up then sliced replay, for each plan. */
  def pass(trace: Trace, runDir: String, keysByPlan: Map[String, Seq[Long]],
           inject: String): PassRecord = {
    val rec = new PassRecord
    Plans.foreach { plan =>
      catchup(plan, s"$runDir/${plan.name}-catchup", trace, rec)
      replay(plan, s"$runDir/${plan.name}-replay", keysByPlan(plan.name), trace, rec, inject)
    }
    rec
  }

  private def linkSlice(src: Path, dir: Path): Unit =
    Files.createLink(dir.resolve(src.getFileName), src)

  private def start(plan: Plan, src: Path, ckpt: String, sink: Sink,
                    trigger: Trigger): StreamingQuery =
    plan.build(StreamingFraud.eventsStream(spark, src.toString, "*.parquet"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
      .trigger(trigger)
      .start()

  private def catchup(plan: Plan, dir: String, trace: Trace, rec: PassRecord): Unit = {
    val src = Files.createDirectories(Paths.get(dir, "src"))
    slices.foreach { case (f, _) => linkSlice(f, src) }
    val sink = new Sink(plan, s"$dir/served")
    val t0 = System.nanoTime()
    val err = try {
      trace.span("trigger", s"${plan.name}-catchup") {
        val q = start(plan, src, s"$dir/ckpt", sink, Trigger.AvailableNow())
        try q.awaitTermination() finally q.stop()
        rec.catchupProgress ++= q.recentProgress.filter(_.numInputRows > 0)
      }
      None
    } catch { case e: Throwable => Some(message(e)) }
    finally sink.close()
    rec.ops += Op("catchup", plan.name, Stats.secondsSince(t0), err)
    rec.sinks += SinkRec(plan, "catchup", sink, Long.MaxValue)
  }

  private def replay(plan: Plan, dir: String, keys: Seq[Long], trace: Trace,
                     rec: PassRecord, inject: String): Unit = {
    val src = Files.createDirectories(Paths.get(dir, "src"))
    val sink = new Sink(plan, s"$dir/served")
    var q: StreamingQuery = null
    var dead: Option[String] = None
    var bound = Long.MinValue
    val keyIt = keys.iterator
    try slices.take(ReplaySlices).zipWithIndex.foreach { case ((file, hi), i) =>
      val tVisible = System.nanoTime()
      dead match {
        case Some(why) =>
          rec.ops += Op("trigger", s"${plan.name}-$i", 0.0, Some(s"not run: $why"))
        case None =>
          try {
            trace.span("trigger", s"${plan.name}-$i") {
              linkSlice(file, src)
              if (q == null) q = start(plan, src, s"$dir/ckpt", sink, Trigger.ProcessingTime(0L))
              q.processAllAvailable()
            }
            rec.ops += Op("trigger", s"${plan.name}-$i", Stats.secondsSince(tVisible), None)
            rec.triggerSeconds += Stats.secondsSince(tVisible)
            // what the stream must have emitted by now: fraud windows the
            // watermark has closed, stateful alerts up to this slice
            bound = plan.name match {
              case "fraud" => Option(q.lastProgress).flatMap(p =>
                Option(p.eventTime.get("watermark")))
                .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
              case _ => hi
            }
            (1 to LookupsPerTrigger).foreach { j =>
              val key = keyIt.next()
              val tl = System.nanoTime()
              val first = !rec.ops.exists(_.kind == "lookup")
              try {
                if (inject == "throw" && first)
                  throw new IllegalStateException("injected failure in a lookup")
                val rows = lookup(sink.served, key, plan, trace, rec)
                val got =
                  if (inject == "wrong" && first) rows :+ plan.columns.map(_ => "0")
                  else rows
                rec.lookups += LookupRec(plan, key, bound, got, s"${plan.name}-$i-$j")
                rec.ops += Op("lookup", s"${plan.name}-$i-$j", Stats.secondsSince(tl), None)
              } catch {
                case e: Throwable =>
                  rec.ops += Op("lookup", s"${plan.name}-$i-$j", Stats.secondsSince(tl),
                    Some(message(e)))
              }
              rec.lookupSeconds += Stats.secondsSince(tl)
            }
          } catch {
            case e: Throwable =>
              dead = Some(message(e))
              rec.ops += Op("trigger", s"${plan.name}-$i", Stats.secondsSince(tVisible), dead)
          }
      }
    } finally {
      if (q != null) {
        rec.replayProgress ++= q.recentProgress.filter(_.numInputRows > 0)
        q.stop()
      }
      sink.close()
    }
    rec.sinks += SinkRec(plan, "replay", sink, bound)
  }

  private def lookup(served: String, key: Long, plan: Plan, trace: Trace,
                     rec: PassRecord): Seq[Seq[String]] = {
    val df = Serving.pointLookup(spark.read.parquet(served), "user_id", key, plan.sortCol)
    val rows = trace match {
      case NoTrace => df.collect()
      case t: Tracer =>
        t.span("lookup", s"${plan.name}-$key") {
          val t0 = System.nanoTime()
          t.span("plan", "lookup")(df.queryExecution.executedPlan)
          rec.lookupPlanSeconds += Stats.secondsSince(t0)
          val t1 = System.nanoTime()
          val r = t.span("execute", "lookup")(df.collect())
          rec.lookupExecSeconds += Stats.secondsSince(t1)
          rec.lookupPlans += PlanStats.of(df.queryExecution.executedPlan)
          rec.lookupFiles += df.inputFiles.length
          r
        }
    }
    rows.toSeq.map(asStrings)
  }

  /** Checks a finished pass against the batch twins, outside the timed
    * region: each sink's served table and key-value store must equal the
    * twin, and each lookup must equal the same filter on the twin,
    * restricted to what the stream had to have emitted at that point.
    * A plan none of whose lookups expected a row fails too, since its
    * lookups then prove nothing. Returns the failed checks as operations.
    */
  def check(rec: PassRecord, twins: Map[String, Seq[Row]]): Seq[Op] = {
    val failures = mutable.ArrayBuffer.empty[Op]
    def fail(name: String, why: String): Unit = failures += Op("check", name, 0.0, Some(why))
    rec.sinks.foreach { case SinkRec(plan, phase, sink, bound) =>
      val want = twins(plan.name).map(asStrings).filter(plan.emitted(_, bound))
      val name = s"${plan.name}-$phase"
      if (want.isEmpty) fail(name, "batch twin is empty")
      val got = try spark.read.parquet(sink.served).collect().toSeq.map(asStrings)
        catch { case e: Throwable => fail(name, message(e)); Nil }
      if (sorted(got) != sorted(want))
        fail(name, s"served table has ${got.size} rows, twin ${want.size}; they differ")
      val kv = sink.store.entries.map { case (k, attrs) =>
        k -> plan.columns.map(attrs.getOrElse(_, "<missing>")) }
      val kvWant = want.map(r => (r(0), r(plan.skIndex)) -> r).toMap
      if (kv != kvWant) fail(name, s"key-value store has ${kv.size} items, twin ${kvWant.size}; they differ")
    }
    rec.lookups.foreach { l =>
      val want = twins(l.plan.name).map(asStrings)
        .filter(r => r(0) == l.key.toString && l.plan.emitted(r, l.bound))
      if (want.nonEmpty) rec.nonEmptyLookups(l.plan.name) += 1
      val ordered = l.rows.map(_(l.plan.skIndex).toLong) ==
        l.rows.map(_(l.plan.skIndex).toLong).sorted
      if (!ordered || sorted(l.rows) != sorted(want))
        fail(l.op, s"lookup of user ${l.key} returned ${l.rows.size} rows, twin ${want.size}")
    }
    Plans.foreach { p =>
      if (rec.nonEmptyLookups(p.name) == 0) fail(s"${p.name}-lookups", "no lookup expected a row")
    }
    failures.toSeq
  }
}

object StreamServe {
  /** The backlog is cut into this many time slices... */
  val MinSlices = 32
  /** ...and a replay releases the first this-many of them, one per trigger. */
  val ReplaySlices = 3
  val LookupsPerTrigger = 3
  val SpendThreshold = 200.0
  /** `StreamingFraud.fraudStream`'s default watermark delay. */
  val FraudWatermarkSec = 10L

  /** A streaming plan, its served table's sort key and its columns. */
  final case class Plan(name: String, columns: Seq[String], skIndex: Int,
                        build: DataFrame => DataFrame) {
    def sortCol: String = columns(skIndex)

    /** Whether the stream must have emitted twin row `r` once its
      * progress reached `bound`: for fraud windows the event-time
      * watermark (epoch ms) has passed the window end; for spend alerts
      * the crossing's second lies before the released slices' bound.
      */
    def emitted(r: Seq[String], bound: Long): Boolean = name match {
      case "fraud" => r(2).toLong * 1000L <= bound
      case _       => r(1).toLong < bound
    }
  }

  val Plans: Seq[Plan] = Seq(
    Plan("fraud", Seq("user_id", "window_start", "window_end", "total_value"), 1,
      df => StreamingFraud.fraudStream(df, ReferenceQueries.WindowSec,
        ReferenceQueries.Threshold)),
    Plan("stateful", Seq("user_id", "alert_epoch", "total_at_alert"), 1,
      df => StatefulSpend.streamingSpendAlerts(StatefulSpend.asTxns(df),
        SpendThreshold).toDF()))

  final case class SinkRec(plan: Plan, phase: String, sink: Sink, bound: Long)

  final case class LookupRec(plan: Plan, key: Long, bound: Long,
                             rows: Seq[Seq[String]], op: String)

  /** Everything one pass measured; the layer figures fill only when traced. */
  final class PassRecord {
    val ops = mutable.ArrayBuffer.empty[Op]
    val triggerSeconds = mutable.ArrayBuffer.empty[Double]
    val lookupSeconds = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[LookupRec]
    val sinks = mutable.ArrayBuffer.empty[SinkRec]
    val catchupProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val replayProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val lookupPlanSeconds = mutable.ArrayBuffer.empty[Double]
    val lookupExecSeconds = mutable.ArrayBuffer.empty[Double]
    val lookupPlans = mutable.ArrayBuffer.empty[PlanStats]
    val lookupFiles = mutable.ArrayBuffer.empty[Int]
    /** Per plan, the lookups whose expected result held a row (by [[check]]). */
    val nonEmptyLookups = mutable.Map.empty[String, Int].withDefaultValue(0)
  }

  /** The `foreachBatch` body: append the micro-batch to the served table,
    * then upsert it into the key-value store, keyed (user_id, sort key).
    */
  final class Sink(plan: Plan, val served: String) {
    val store = new Serving.KvStore
    private val client = Serving.KvClients.register(store)
    val writeSeconds = mutable.ArrayBuffer.empty[Double]

    def apply(batch: DataFrame, id: Long): Unit = {
      batch.persist()
      try {
        val t0 = System.nanoTime()
        batch.write.mode("append").parquet(served)
        writeSeconds += Stats.secondsSince(t0)
        Serving.upsertPartitions(client, "user_id", plan.sortCol)(batch, id)
      } finally batch.unpersist()
    }

    def close(): Unit = Serving.KvClients.unregister(client)
  }

  def asStrings(r: Row): Seq[String] = r.toSeq.map(String.valueOf)

  private def sorted(rows: Seq[Seq[String]]): Seq[String] = rows.map(_.mkString("\u0001")).sorted

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
      all.foreach(Files.delete)
    }
}
