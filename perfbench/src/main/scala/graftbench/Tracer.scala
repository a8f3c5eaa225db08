package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftAnti}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, PivotFirst}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft, plus the two
  * listeners that attribute Spark's work to them.
  *
  * A span is (id, name, parent, start, end). While a span is open its
  * id is the job group, so the [[SparkListener]] attributes jobs,
  * stages and task metrics to it; the [[QueryExecutionListener]]
  * attributes each finished action's plan to the span open when the
  * action ran. Listener delivery is asynchronous, so the bus is
  * drained at every span boundary: the last job of a span is counted
  * before the span closes.
  *
  * Disabled (the timed runs), no listener is installed and `span`
  * just runs its body.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class Span(val id: Int, val name: String, val layer: String,
                   val parent: Option[Span]) {
    val startNs: Long = System.nanoTime()
    var endNs: Long = 0L
    var childNs: Long = 0L
    val task = new TaskAgg
    var jobs = 0
    var stages = 0
    val actions = mutable.ArrayBuffer.empty[Action]
    def selfS: Double = (endNs - startNs - childNs) / 1e9
  }

  final class TaskAgg {
    var tasks = 0L; var busyMs = 0L; var gcMs = 0L; var shuffleWrite = 0L
    var spill = 0L; var peakMem = 0L; var inBytes = 0L; var inRecords = 0L
  }

  /** One finished action: planning phases and per-layer plan facts. */
  final class Action(val planS: Map[String, Double]) {
    val weightMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open: List[Span] = Nil
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  /** (start ms, end ms) of every job, for the driver-side idle gaps. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = if (g == null) null else byGroup.get(g)
      if (s != null) {
        s.jobs += 1
        js.stageIds.foreach(stageSpan.put(_, s))
      }
      jobStart(js.jobId) = js.time
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      jobStart.remove(je.jobId).foreach(t => jobIntervals += ((t, je.time)))
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(sc.stageInfo.stageId)).foreach(_.stages += 1)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(te.stageId)
      val m = te.taskMetrics
      if (s != null && m != null) {
        val a = s.task
        a.tasks += 1
        a.busyMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      open.headOption.foreach { s =>
        val a = new Action(qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 })
        walk(qe.executedPlan, a, variant = open.exists(_.layer == Variant))
        s.actions += a
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var on = false

  /** Install (true) or remove (false) both listeners; off at first. */
  def setEnabled(b: Boolean): Unit = if (b != on) {
    drain()
    if (b) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    on = b
  }

  /** Run `body` as a span named `name` of module `layer`. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      drain()
      val s = new Span(spans.size, name, layer, open.headOption)
      spans += s
      byGroup.put(s"span-${s.id}", s)
      open = s :: open
      val sc = spark.sparkContext
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        open = open.tail
        s.parent.foreach(_.childNs += s.endNs - s.startNs)
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until every queued listener event has been delivered.
    * `LiveListenerBus.waitUntilEmpty` is private[spark] in Scala but
    * public in bytecode. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .getOrElse(sys.error("LiveListenerBus.waitUntilEmpty not found"))
      .invoke(bus)
  }

  /** Forget everything recorded so far (between iterations). */
  def reset(): Unit = {
    drain()
    spans.clear(); byGroup.clear(); stageSpan.clear(); jobIntervals.clear()
  }

  /** Per-layer metrics of everything recorded since the last
    * [[reset]], for one iteration of `wallS` seconds.
    *
    * A span's own time (its duration minus its child spans) less the
    * planning time of its actions is split across layers in
    * proportion to the task time the executed plans attribute to
    * each layer; task time no plan node accounts for goes to the
    * span's own module. */
  def report(wallS: Double, t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    drain()
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (s <- spans) {
      val acts = s.actions
      val planS = acts.map(_.planS.values.sum).sum
      for (x <- acts; (k, v) <- x.counts) out(k) += v
      for (x <- acts) {
        out("plans.analysis_s") += x.planS.getOrElse("parsing", 0.0) +
          x.planS.getOrElse("analysis", 0.0)
        out("plans.optimize_s") += x.planS.getOrElse("optimization", 0.0)
        out("plans.physical_s") += x.planS.getOrElse("planning", 0.0)
      }
      val w = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for (x <- acts; (k, v) <- x.weightMs) w(k) += v
      val own = if (s.layer == Read || s.layer == Write) s.layer else Other
      w(own) += math.max(0.0, s.task.busyMs - w.values.sum)
      val total = w.values.sum
      val execS = math.max(0.0, s.selfS - planS)
      if (total > 0) for ((k, v) <- w) out(k + "_s") += execS * v / total
      else out(own + "_s") += execS
      if (s.layer == "operators.reconcile") out("operators.reconcile_s") += s.selfS
      if (s.layer == "suite") {
        out("suite.plan_s") += planS
        out("suite.exec_s") += math.max(0.0, s.selfS - planS)
      }
      val t = s.task
      out("exec.jobs") += s.jobs
      out("exec.stages") += s.stages
      out("exec.tasks") += t.tasks
      out("exec.task_busy_s") += t.busyMs / 1e3
      out("exec.gc_s") += t.gcMs / 1e3
      out("exec.shuffle_write_bytes") += t.shuffleWrite
      out("exec.spill_bytes") += t.spill
      out("exec.peak_exec_mem_bytes") =
        math.max(out("exec.peak_exec_mem_bytes"), t.peakMem.toDouble)
      out("sources.read_bytes") += t.inBytes
      out("sources.read_records") += t.inRecords
    }
    // driver time with no job running, inside the iteration
    val iv = jobIntervals.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    out("exec.idle_gap_s") = math.max(0.0, wallS - busy / 1e3)
    val c = out("interval_join_candidates")
    out("operators.interval_join_yield") = if (c > 0) out("interval_join_pairs") / c else 0.0
    Map(
      "sources.read_s" -> out(Read + "_s"), "sources.write_s" -> out(Write + "_s"),
      "operators.interval_join_s" -> out(Interval + "_s"),
      "operators.pivot_s" -> out(Pivot + "_s"), "operators.variant_s" -> out(Variant + "_s"),
      "operators.dedup_s" -> out(Dedup + "_s"), "annotate_s" -> out(Annotate + "_s"),
      "exec.other_s" -> out(Other + "_s"),
      "sources.read_files" -> out("read_files"), "sources.read_scans" -> out("read_scans"),
      "sources.write_bytes" -> out("write_bytes"), "sources.write_files" -> out("write_files"),
      "operators.interval_join_runs" -> out("interval_join_runs"),
      "operators.interval_join_candidates" -> c,
      "operators.interval_join_pairs" -> out("interval_join_pairs"),
      "operators.pivot_columns" -> out("pivot_columns"),
      "operators.variant_shuffle_bytes" -> out("variant_shuffle_bytes"),
      "operators.dedup_rows_in" -> out("dedup_rows_in"),
      "operators.dedup_rows_out" -> out("dedup_rows_out"),
      "operators.dedup_spill_bytes" -> out("dedup_spill_bytes"),
    ) ++ out.filter { case (k, _) =>
      k.startsWith("plans.") || k.startsWith("exec.") || k.startsWith("suite.") ||
        k == "operators.reconcile_s" || k == "operators.interval_join_yield" ||
        k == "sources.read_bytes" || k == "sources.read_records"
    }
  }

  // ---------------------------------------------------------- plans

  /** Collect per-layer facts from an executed plan: counts from node
    * SQLMetrics, and time weights (task ms) per layer: codegen
    * pipeline time, which covers the scans, sorts and joins fused into
    * a stage, plus the shuffle-write and commit time outside it.
    *
    * `variant`: the action ran inside a span of module
    * `operators.variant`, whose plans are built by VariantOps: there
    * its full-outer and anti joins (tumor/normal merge, germline
    * subtraction), windows (breakpoint pairing) and generators
    * (multiallelic split) are VariantOps work. */
  private def walk(root: SparkPlan, a: Action, variant: Boolean): Unit = {
    def m(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

    // layer of a node, given the layer of the operator consuming it
    def layerOf(p: SparkPlan, consumer: String): String = p match {
      case _: DataSourceScanExec => Read
      case _: DataWritingCommandExec | _: WriteFilesExec => Write
      case j: BaseJoinExec =>
        if ((j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "__bin")))
          Interval
        else if (variant && (j.joinType == FullOuter || j.joinType == LeftAnti)) Variant
        else Other
      case g: BaseAggregateExec if pivotValues(g) > 0 => Pivot
      case _: WindowExec => if (variant) Variant else Dedup
      case g: GenerateExec if g.generatorOutput.exists(_.name == "__bin") => Interval
      case _: GenerateExec if variant => Variant
      case _: SortExec | _: ShuffleExchangeExec => consumer
      case _: MapPartitionsExec | _: DeserializeToObjectExec | _: SerializeFromObjectExec =>
        Annotate
      case _ => Other
    }

    def pivotValues(g: BaseAggregateExec): Int =
      g.aggregateExpressions.collect { ae =>
        ae.aggregateFunction match { case pf: PivotFirst => pf.pivotColumnValues.size; case _ => 0 }
      }.sum

    // expand AQE wrappers and query stages into the plan that ran
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case ad: AdaptiveSparkPlanExec => Seq(ad.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }

    def visit(p: SparkPlan, consumer: String): Unit = {
      val layer = layerOf(p, consumer)
      p match {
        case w: WholeStageCodegenExec =>
          // pipeline time split evenly over the layers fused into it
          val inside = mutable.LinkedHashSet.empty[String]
          def fused(q: SparkPlan, c: String): Unit = q match {
            // a row-based scan feeds the stage through an InputAdapter
            case ia: InputAdapter =>
              if (ia.child.isInstanceOf[DataSourceScanExec]) inside += Read
            case _ =>
              val l = layerOf(q, c)
              if (l != Other) inside += l
              q.children.foreach(fused(_, l))
          }
          fused(w.child, consumer)
          val ms = m(w, "pipelineTime")
          val ls = if (inside.isEmpty) Seq(consumer) else inside.toSeq
          ls.foreach(l => a.weightMs(l) += ms / ls.size)
        case s: DataSourceScanExec =>
          a.counts("read_scans") += 1
          a.counts("read_files") += m(s, "numFiles")
        case d: DataWritingCommandExec =>
          val cm = d.cmd.metrics
          def c(k: String) = cm.get(k).map(_.value.toDouble).getOrElse(0.0)
          a.counts("write_bytes") += c("numOutputBytes")
          a.counts("write_files") += c("numFiles")
          a.weightMs(Write) += c("taskCommitTime") + c("jobCommitTime")
        case x: ShuffleExchangeExec =>
          val bytes = m(x, "dataSize")
          a.weightMs(consumer) += m(x, "shuffleWriteTime") / 1e6
          if (consumer == Variant) a.counts("variant_shuffle_bytes") += bytes
        case j: BaseJoinExec if layer == Interval =>
          // candidates: binned rows of both sides; pairs: rows the
          // range and overlap-fraction conditions keep
          a.counts("interval_join_runs") += 1
          a.counts("interval_join_candidates") += rowsBelow(j.left) + rowsBelow(j.right)
          a.counts("interval_join_pairs") += m(j, "numOutputRows")
        case _: WindowExec if layer == Dedup =>
          a.counts("dedup_rows_in") += kids(p).map(rowsBelow).sum
        case g: BaseAggregateExec if layer == Pivot &&
            g.aggregateExpressions.forall(e => e.mode == Final || e.mode == Complete) =>
          a.counts("pivot_columns") += pivotValues(g)
        case s: SortExec if consumer == Dedup =>
          a.counts("dedup_spill_bytes") += m(s, "spillSize")
        case _ => ()
      }
      p match {
        // rows kept by the filter above a window (keep-first)
        case f: FilterExec if !variant && below(f).isInstanceOf[WindowExec] =>
          a.counts("dedup_rows_out") += m(f, "numOutputRows")
        case _ => ()
      }
      kids(p).foreach(visit(_, if (layer == Other) consumer else layer))
    }

    /** The first operator under `p` that is not a pass-through. */
    def below(p: SparkPlan): SparkPlan = kids(p) match {
      case Seq(c @ (_: ProjectExec | _: InputAdapter | _: WholeStageCodegenExec)) => below(c)
      case Seq(c) => c
      case _ => p
    }

    /** Rows flowing into `p` (or out of it, for a leaf stage): from `p`
      * down, the first operator on each branch that counts its rows,
      * skipping the window group limits a keep-first dedup plans under
      * itself. */
    def rowsBelow(p: SparkPlan): Double = {
      val rows = if (p.nodeName == "WindowGroupLimit") None
        else Seq("numOutputRows", "shuffleRecordsWritten")
          .flatMap(k => p.metrics.get(k)).map(_.value.toDouble).find(_ > 0)
      rows.getOrElse(kids(p).map(rowsBelow).sum)
    }

    visit(root, Other)
  }
}

object Tracer {
  val Read = "sources.read"
  val Write = "sources.write"
  val Interval = "operators.interval_join"
  val Pivot = "operators.pivot"
  val Variant = "operators.variant"
  val Dedup = "operators.dedup"
  val Annotate = "annotate"
  val Other = "exec.other"
}
