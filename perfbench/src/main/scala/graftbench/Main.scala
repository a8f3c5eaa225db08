package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.GraftSession

/** One benchmark JVM: sets up a graft session, then runs one
  * workload's iterations back to back (a closed loop with one
  * client) and reports each on stdout as a `PB {json}` line.
  *
  *   graftbench.Main <workload> <inputs> <work> <seconds> <trace> [rows]
  *
  * One cold iteration, one warm-up iteration (JIT compilation is still
  * settling in it), then measured ones until `seconds` have passed (at
  * least one); with trace=1 measured iterations alternate untraced and
  * traced, starting and ending untraced. Every iteration writes its
  * outputs under `<work>/it<k>` for the gate.
  */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def emit(fields: (String, Any)*): Unit = {
    println("PB " + json.writeValueAsString(fields.toMap))
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seconds, trace) = args.take(5)
    val rows = args.lift(5).getOrElse("")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    emit("kind" -> "setup", "setup_s" -> setupS, "session_s" -> sessionS)
    emit("kind" -> "host", "cores" -> cores, "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.memory")
      }.toMap)
    run(spark, workload, inputs, work, seconds.toDouble, trace == "1", rows)
    emit("kind" -> "end")
    spark.stop()
  }

  private def run(spark: SparkSession, workload: String, inputs: String,
                  work: String, seconds: Double, trace: Boolean, rows: String): Unit = {
    val tracer = new Tracer(spark)
    val w: Workload = workload match {
      case "flows" => new Flows(spark, tracer, inputs)
      case "query_suite" => new QuerySuite(spark, tracer, inputs, rows)
      case other => sys.error(s"unknown workload $other")
    }
    def iteration(i: Int, cold: Boolean, warmup: Boolean, traced: Boolean): Unit = {
      val dir = s"$work/it$i"
      tracer.setEnabled(traced)
      tracer.reset()
      val compile0 = CodeGenerator.compileTime
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ms0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val facts = try w.iteration(dir) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] iteration $i failed: $e")
          e.printStackTrace()
          Map[String, Any]("error" -> e.toString)
      }
      val wallS = (System.nanoTime() - n0) / 1e9
      val ms1 = System.currentTimeMillis()
      spark.catalog.clearCache()
      graft.operators.Batching.releasePins()
      emit(Seq("kind" -> "iter", "i" -> i, "cold" -> cold, "warmup" -> warmup, "traced" -> traced,
        "wall_s" -> wallS, "dir" -> dir) ++ facts.toSeq: _*)
      if (traced) {
        val layers = tracer.report(wallS, ms0, ms1) ++ Map(
          "plans.codegen_compile_s" -> (CodeGenerator.compileTime - compile0) / 1e9,
          "plans.codegen_classes" ->
            (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble)
        emit("kind" -> "layers", "i" -> i, "wall_s" -> wallS, "metrics" -> layers,
          "spans" -> tracer.spans.map(sp => Map("id" -> sp.id, "name" -> sp.name,
            "layer" -> sp.layer, "parent" -> sp.parent.map(_.id).getOrElse(-1),
            "start_s" -> (sp.startNs - n0) / 1e9, "end_s" -> (sp.endNs - n0) / 1e9)).toSeq)
      }
    }
    iteration(0, cold = true, warmup = false, traced = false)
    iteration(1, cold = false, warmup = true, traced = false)
    val start = System.nanoTime()
    var i = 2
    // a traced run brackets each traced (odd) iteration with untraced ones
    while (i <= (if (trace) 4 else 2) || (System.nanoTime() - start) / 1e9 < seconds ||
           (trace && i % 2 == 0)) {
      iteration(i, cold = false, warmup = false, traced = trace && i % 2 == 1)
      i += 1
    }
  }
}
