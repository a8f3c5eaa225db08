package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.annotate.{Annotator, MockAnnotator}
import graft.flows.{ClinicalMergeFlow, CnvFlow, DbCounter, PedmatchFlow, VcfAnnoFlow}
import graft.sources.{Readers, Writers}

/** Counts every annotate call into a Spark accumulator, then defers
  * to the wrapped annotator. */
final class CountingAnnotator(inner: Annotator,
                              calls: org.apache.spark.util.LongAccumulator)
    extends Annotator {
  def annotate(chrom: String, pos: Long, ref: String, alt: String)
  : (String, String, String) = {
    calls.add(1)
    inner.annotate(chrom, pos, ref, alt)
  }
  override def open(): Unit = inner.open()
  override def close(): Unit = inner.close()
}

/** One workload: `iteration` runs it once on the inputs under `in`,
  * writing into `dir`, and returns facts the files cannot show
  * (annotate calls, per-row times, failed suite rows). */
trait Workload {
  def iteration(dir: String): Map[String, Any]
}

/** The reference's flows back to back: CNV JSON to gene matrices,
  * paired tumor/blood VCFs to SV/CNV/SNV outputs, then VCF annotation
  * to the merged megaMAF and the dump counts. */
final class Flows(spark: SparkSession, tr: Tracer, in: String) extends Workload {
  private val key = Seq("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
    "Reference_Allele", "Tumor_Seq_Allele2")
  private val megaCols = Seq("Hugo_Symbol", "Tumor_Sample_Barcode", "Chromosome",
    "Start_Position", "End_Position", "Reference_Allele", "Tumor_Seq_Allele2",
    "Variant_Classification", "reported_significance", "source")

  private def schema(cols: (String, DataType)*): Option[StructType] =
    Some(StructType(cols.map { case (n, t) => StructField(n, t) }))

  def iteration(dir: String): Map[String, Any] = {
    cnv(s"$in/cnv", s"$dir/cnv")
    pedmatch(s"$in/pedmatch", s"$dir/pedmatch")
    maf(s"$in/maf", s"$dir/maf")
  }

  private def cnv(in: String, dir: String): Unit = {
    val manifest = tr.span("Readers.tsv", "sources.read") {
      Readers.tsv(spark, s"$in/cnv_manifest.tsv", Some(Readers.cnvManifestSchema))
    }
    val o = tr.span("CnvFlow.run", "flows") {
      CnvFlow.run(spark, s"$in/cnv_json", s"$in/genes.gtf", manifest)
    }
    tr.span("Writers.tsv:seg", "sources.write") {
      Writers.tsv(o.seg, s"$dir/data_cna.seg", single = true)
    }
    tr.span("Writers.cnaContinuous", "sources.write") {
      Writers.cnaContinuous(o.log2Matrix, s"$dir/data_log2_cna")
    }
    tr.span("Writers.cnaDiscrete", "sources.write") {
      Writers.cnaDiscrete(o.discreteMatrix, s"$dir/data_cna")
    }
    tr.span("Writers.tsv:reconciliation", "operators.reconcile") {
      Writers.tsv(o.reconciliation, s"$dir/reconciliation", single = true)
    }
    o.segments.unpersist()
  }

  private def pedmatch(in: String, dir: String): Unit = {
    val manifest = tr.span("Readers.tsv:pedmatch_manifest", "sources.read") {
      Readers.tsv(spark, s"$in/manifest.tsv", schema("participant_id" -> StringType,
        "sample_type" -> StringType, "sample_id" -> StringType, "file_name" -> StringType))
    }
    val o = tr.span("PedmatchFlow.runAll", "flows") {
      PedmatchFlow.runAll(spark, manifest, s"$in/vcf")
    }
    // the three outputs are where VariantOps' joins and windows run
    tr.span("PedmatchFlow outputs", Tracer.Variant) {
      tr.span("Writers.tsv:sv", "sources.write") {
        Writers.tsv(o.sv, s"$dir/data_sv", single = true)
      }
      tr.span("Writers.tsv:cnv", "sources.write") {
        Writers.tsv(o.cnvCalls, s"$dir/data_cnv", single = true)
      }
      tr.span("Writers.tsv:snv", "sources.write") {
        Writers.tsv(o.snvs, s"$dir/data_snv", single = true)
      }
    }
    tr.span("Writers.tsv:skipped", "operators.reconcile") {
      Writers.tsv(o.skipped, s"$dir/skipped", single = true)
    }
  }

  private def maf(in: String, dir: String): Map[String, Any] = {
    val calls = spark.sparkContext.longAccumulator("annotate.calls")
    val manifest = tr.span("Readers.tsv:manifest", "sources.read") {
      Readers.tsv(spark, s"$in/anno_manifest.tsv", schema(
        "file_name" -> StringType, "sample" -> StringType, "md5sum" -> StringType,
        "file_url" -> StringType, "expected_variants" -> LongType))
    }
    val (maf, check) = tr.span("VcfAnnoFlow.runAll", "flows") {
      VcfAnnoFlow.runAll(spark, manifest, s"$in/vcf",
        new CountingAnnotator(new MockAnnotator, calls))
    }
    tr.span("Writers.tsv:concat_check", "operators.reconcile") {
      Writers.tsv(check, s"$dir/concat_check", single = true)
    }
    val mafOut = maf.select(col("Hugo_Symbol"), col("Tumor_Sample_Barcode"),
      col("CHROM").as("Chromosome"), col("Start_Position"), col("End_Position"),
      col("REF").as("Reference_Allele"), col("ALT").as("Tumor_Seq_Allele2"),
      col("Variant_Classification"), lit(null).cast("string").as("reported_significance"),
      lit("annotated").as("source"))
    tr.span("Writers.maf:annotated", "sources.write") {
      Writers.maf(mafOut, s"$dir/annotated_maf")
    }
    val existing = tr.span("Readers.maf:existing", "sources.read") {
      Readers.maf(spark, s"$in/mega.maf", schema(megaCols.map {
        case c @ ("Start_Position" | "End_Position") => c -> LongType
        case c => c -> StringType
      }: _*))
    }
    val clinical = tr.span("ClinicalMergeFlow.prepClinical", "flows") {
      ClinicalMergeFlow.prepClinical(
        Readers.tsv(spark, s"$in/clinical.tsv", schema(
          "Tumor_Sample_Barcode" -> StringType, "chromosome" -> StringType,
          "Start_Position" -> LongType, "Reference_Allele" -> StringType,
          "Tumor_Seq_Allele2" -> StringType, "Hugo_Symbol" -> StringType,
          "genomic_source_category" -> StringType, "status" -> StringType,
          "test" -> StringType, "reported_significance" -> StringType)),
        Seq("Oncomine"))
        .select(col("Hugo_Symbol"), col("Tumor_Sample_Barcode"),
          col("chromosome").as("Chromosome"), col("Start_Position"),
          (col("Start_Position") + length(col("Reference_Allele")) - 1).as("End_Position"),
          col("Reference_Allele"), col("Tumor_Seq_Allele2"),
          lit("Missense_Mutation").as("Variant_Classification"),
          col("reported_significance"), lit("clinical").as("source"))
    }
    val merged = tr.span("ClinicalMergeFlow.mergeMegaMaf", "flows") {
      ClinicalMergeFlow.mergeMegaMaf(existing, mafOut.unionByName(clinical), key)
    }
    tr.span("Writers.maf:megamaf", "sources.write") {
      Writers.maf(merged, s"$dir/mega_maf")
    }
    val dump = tr.span("DbCounter.dumpCounts", "flows") {
      DbCounter.dumpCounts(spark, s"$in/dump.sql")
    }
    tr.span("Writers.tsv:dump_counts", "operators.reconcile") {
      Writers.tsv(dump, s"$dir/dump_counts", single = true)
    }
    Map("annotate_calls" -> calls.value.longValue)
  }
}

/** A fixed list of rows of the query registry
  * (`SparkEntry.queries ++ benchExtras`), each written to the `noop`
  * sink as `graft.Bench` does; `only` = `all` runs every row. */
final class QuerySuite(spark: SparkSession, tr: Tracer, in: String,
                       only: String) extends Workload {
  private val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchExtras
  val rows: Seq[String] =
    if (only == "all") all.keys.toSeq.sorted
    else if (only.nonEmpty) only.split(",").toSeq
    else QuerySuite.rows

  def iteration(dir: String): Map[String, Any] = {
    val times = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.ArrayBuffer.empty[String]
    for (name <- rows) {
      val t0 = System.nanoTime()
      try tr.span(name, "suite") {
        all(name)(spark, in).write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        failed += name
      } finally {
        graft.operators.Batching.releasePins()
        spark.catalog.clearCache()
      }
      times(name) = (System.nanoTime() - t0) / 1e9
    }
    Map("row_times" -> times.toMap, "failed_rows" -> failed.toSeq)
  }
}

object QuerySuite {
  /** 9 of the 265 rows, one per stratum of 9 equal-count strata of row
    * time in a full warm pass on the sf0.002 tables, each picked from
    * its stratum's middle half to cover the most suite rows' operator
    * modules; the pass and the comparison are in README.md. */
  val rows: Seq[String] = Seq(
    "q_d_minhash", "q_e_decay", "q_s_threshold", "q_sql_agg", "q_x_residuals",
    "q_x_shuffle", "q_x_calib", "q_t_keyterms", "q_j15_ivjaccard")
}
