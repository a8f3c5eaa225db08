package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("TracerSpec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private def on(t: Tracer): Tracer = { t.setEnabled(true); t }

  test("the final job of a span is counted when the span closes") {
    val tr = on(new Tracer(spark))
    tr.span("two actions", "flows") {
      spark.range(0, 1000, 1, 2).selectExpr("id % 7 as k").distinct().count()
      spark.range(0, 1000, 1, 2).filter(col("id") > 10).count()
    }
    val s = tr.spans.head
    // read right after the span, with no wait of our own: the span's
    // closing drain must already have delivered every job end event
    assert(s.jobs >= 2)
    assert(s.stages >= s.jobs)
    assert(s.task.tasks > 0)
    assert(s.actions.size == 2)
    val last = spark.sparkContext.statusTracker.getJobIdsForGroup(s"span-${s.id}")
    assert(last.length == s.jobs)
  }

  test("work is attributed to the innermost open span") {
    val tr = on(new Tracer(spark))
    tr.span("outer", "flows") {
      spark.range(0, 10).count()
      tr.span("inner", "sources.write") {
        spark.range(0, 10).count()
        spark.range(0, 10).count()
      }
    }
    val Seq(outer, inner) = tr.spans.toSeq
    assert(inner.parent.contains(outer))
    assert(outer.actions.size == 1 && inner.actions.size == 2)
    assert(outer.selfS >= 0 && outer.childNs > 0)
  }

  test("a disabled tracer records nothing and sets no job group") {
    val tr = on(new Tracer(spark))
    tr.setEnabled(false)
    tr.span("quiet", "flows")(spark.range(0, 10).count())
    assert(tr.spans.isEmpty)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("interval join nodes are recognised by their bin key") {
    import spark.implicits._
    val tr = on(new Tracer(spark))
    val a = Seq(("chr1", 100L, 200L)).toDF("chrom", "s", "e")
    val b = Seq(("chr1", 150L, 400L), ("chr1", 900L, 950L)).toDF("chrom", "s", "e")
    tr.reset()
    val t0 = System.currentTimeMillis()
    tr.span("join", "flows") {
      graft.operators.IntervalJoin.overlapBinned(a, b, Seq("chrom"), "s", "e", "s", "e",
        binWidth = 100L).write.format("noop").mode("overwrite").save()
    }
    val r = tr.report(1.0, t0, System.currentTimeMillis())
    assert(r("operators.interval_join_runs") == 1.0)
    assert(r("operators.interval_join_pairs") == 1.0)
    assert(r("operators.interval_join_candidates") > 0.0)
  }

  test("VariantOps joins count as variant work only inside a variant span") {
    val tr = on(new Tracer(spark))
    def sites(step: Long) = spark.range(0, 2000, step, 4)
      .selectExpr("'p1'", "'chr1'", "id", "'A'", "'C'", "'DP=9'", "'50'")
      .toDF("participant_id", "CHROM", "POS", "REF", "ALT", "INFO", "QUAL")
    // a full outer join: never broadcast, so exchanges feed it
    def merge(): Unit = graft.operators.VariantOps
      .mergeTumorNormal(sites(1), sites(2), "SAMPLE", Seq("participant_id"))
      .write.format("noop").mode("overwrite").save()
    def traced(body: => Unit): Map[String, Double] = {
      tr.reset()
      val t0 = System.currentTimeMillis()
      body
      tr.report(1.0, t0, System.currentTimeMillis())
    }
    val outside = traced(tr.span("write", "sources.write")(merge()))
    val inside = traced(tr.span("outputs", Tracer.Variant) {
      tr.span("write", "sources.write")(merge())
    })
    assert(outside("operators.variant_shuffle_bytes") == 0.0)
    assert(inside("operators.variant_shuffle_bytes") > 0.0)
  }
}
