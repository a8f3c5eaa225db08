package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.annotate.{Annotator, MockAnnotator}
import graft.flows.{ClinicalMergeFlow, CnvFlow, VcfAnnoFlow}
import graft.sources.{Readers, Writers}

class FlowsSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: java.nio.file.Path, name: String, s: String): String = {
    val p = dir.resolve(name); Files.writeString(p, s); p.toString
  }

  /** Two samples, one doc each; sample2's segment only 40% covers a
    * gene at chr1 [2001,3000] (dropped by -f 0.5), sample1's fully
    * covers it. Returns (dir, json dir, gtf path, manifest). */
  private def cnvFixture(name: String, gtfText: String)
  : (java.nio.file.Path, String, String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory(name)
    val doc1 =
      """{"metadata": {"sample_name": "PT1-S1"}, "segments": [
        |  {"position": {"chrom": "chr1", "start": 1000, "end": 5000, "length": 4000},
        |   "cnv": {"log2_copy_ratio": 1.5, "cnv_supporting_points": 10,
        |           "cnv_supporting_reads": 30, "log2_pval": 0.01,
        |           "log2_copy_ratio_90per_ci_low": 1.0,
        |           "log2_copy_ratio_90per_ci_high": 2.0}}]}""".stripMargin
    val doc2 =
      """{"metadata": {"sample_name": "PT2-S2"}, "segments": [
        |  {"position": {"chrom": "chr1", "start": 2600, "end": 2900, "length": 300},
        |   "cnv": {"log2_copy_ratio": -1.2, "cnv_supporting_points": 5,
        |           "cnv_supporting_reads": 12, "log2_pval": 0.05,
        |           "log2_copy_ratio_90per_ci_low": -1.6,
        |           "log2_copy_ratio_90per_ci_high": -0.8}}]}""".stripMargin
    val jsonDir = dir.resolve("json"); Files.createDirectories(jsonDir)
    write(jsonDir, "s1.json", doc1)
    write(jsonDir, "s2.json", doc2)
    val manifest = Seq(
      ("PT1-S1", "s3://b/s1.json", "s1.json", "m1", 10L),
      ("PT2-S2", "s3://b/s2.json", "s2.json", "m2", 11L))
      .toDF("sample_id", "s3_url", "file_name", "md5sum", "file_size")
    (dir, jsonDir.toString, write(dir, "g.gtf", gtfText), manifest)
  }

  private val tp53Gtf =
    "chr1\tHAVANA\tgene\t2001\t3000\t.\t+\t.\tgene_id \"E1\"; gene_type \"protein_coding\"; gene_name \"TP53\";\n"

  test("CnvFlow end-to-end on a hand-checked fixture") {
    // gene on chr1 [2001,3000] 1-based → len 1000; PT2 overlap 300 < 500
    val (dir, jsonDir, gtf, manifest) = cnvFixture("cnvflow",
      """chr1	HAVANA	gene	2001	3000	.	+	.	gene_id "E1"; gene_type "protein_coding"; gene_name "TP53";
        |chr1	HAVANA	gene	2001	3000	.	+	.	gene_id "E2"; gene_type "protein_coding"; gene_name "ZZZ"; tag "readthrough_gene";
        |chrM	x	gene	1	100	.	+	.	gene_id "E3"; gene_type "protein_coding"; gene_name "MT1";
        |""".stripMargin)

    val out = CnvFlow.run(spark, jsonDir, gtf, manifest)
    assert(out.segments.count() == 2)
    // only PT1's segment meets -f 0.5 on the single surviving gene
    val log2 = out.log2Matrix.collect()
    assert(log2.length == 1)
    val row = log2.head
    assert(row.getAs[String]("Hugo_Symbol") == "TP53")
    assert(row.getAs[Double]("PT1-S1") == 1.5 && row.isNullAt(2))
    val disc = out.discreteMatrix.collect().head
    assert(disc.getAs[Int]("PT1-S1") == 1 && disc.getAs[Int]("PT2-S2") == 0)
    // null rendering: continuous matrix writes NA for the missing cell
    val outPath = dir.resolve("cna").toString
    Writers.cnaContinuous(out.log2Matrix, outPath)
    val written = spark.read.option("sep", "\t").option("header", "true")
      .csv(outPath).collect().head
    assert(written.getAs[String]("PT2-S2") == "NA")
  }

  test("CnvFlow golden files: data_cna/data_log2_cna/.seg byte-compare") {
    // same fixture as the end-to-end test, but the assertion is on the
    // exact BYTES of the three file products (SURVEY §5 item 2):
    // header order, tab separation, chr-strip, NA/0 null rendering,
    // int-vs-float formatting
    val (dir, jsonDir, gtf, manifest) = cnvFixture("cnvflow-golden", tp53Gtf)
    val out = CnvFlow.run(spark, jsonDir, gtf, manifest)

    def readBack(path: String): String = {
      val part = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("part-")).head
      Files.readString(part.toPath)
    }
    val log2Path = dir.resolve("data_log2_cna.txt").toString
    Writers.cnaContinuous(out.log2Matrix.orderBy("Hugo_Symbol"), log2Path)
    assert(readBack(log2Path) ==
      "Hugo_Symbol\tPT1-S1\tPT2-S2\nTP53\t1.5\tNA\n")

    val cnaPath = dir.resolve("data_cna.txt").toString
    Writers.cnaDiscrete(out.discreteMatrix.orderBy("Hugo_Symbol"), cnaPath)
    assert(readBack(cnaPath) ==
      "Hugo_Symbol\tPT1-S1\tPT2-S2\nTP53\t1\t0\n")

    val segPath = dir.resolve("data_cna_hg38.seg").toString
    Writers.tsv(out.seg.orderBy(col("ID"), col("chrom"), col("`loc.start`")),
      segPath,
      nullAs = "", single = true)
    assert(readBack(segPath) ==
      "ID\tchrom\tloc.start\tloc.end\tnum.mark\tseg.mean\n" +
        "PT1-S1\t1\t1000\t5000\t10\t1.5\n" +
        "PT2-S2\t1\t2600\t2900\t5\t-1.2\n")
  }

  test("CnvFlow.run rejects a manifest with duplicate sample ids") {
    val dir = Files.createTempDirectory("cnvflow-bad")
    val gtf = write(dir, "g.gtf", "chr1\tx\tgene\t1\t10\t.\t+\t.\tgene_id \"E\"; gene_type \"protein_coding\"; gene_name \"G\";\n")
    val jsonDir = dir.resolve("json"); Files.createDirectories(jsonDir)
    write(jsonDir, "s.json",
      """{"metadata": {"sample_name": "P-S"}, "segments": []}""")
    val bad = Seq(
      ("S1", "u1", "f1", "m1", 1L), ("S1", "u2", "f2", "m2", 2L))
      .toDF("sample_id", "s3_url", "file_name", "md5sum", "file_size")
    intercept[IllegalArgumentException] {
      CnvFlow.run(spark, jsonDir.toString, gtf, bad)
    }
  }

  test("CnvFlow.run: outputs read the materialized cut, nothing is cached") {
    val (_, jsonDir, gtf, manifest) = cnvFixture("cnvflow-cut", tp53Gtf)
    spark.catalog.clearCache()
    val out = CnvFlow.run(spark, jsonDir, gtf, manifest)
    assert(spark.sharedState.cacheManager.isEmpty)
    Seq("seg" -> out.seg, "log2Matrix" -> out.log2Matrix,
      "discreteMatrix" -> out.discreteMatrix,
      "reconciliation" -> out.reconciliation).foreach { case (name, df) =>
      assert(!readsFiles(df), s"$name re-reads the input files")
    }
    out.segments.unpersist() // harmless: nothing was cached
    assert(out.log2Matrix.count() == 1)
  }

  /** a.vcf: one PASS + one lowq record; b.vcf: one PASS record; the
    * manifest also lists c.vcf, which was never produced. */
  private def vcfAnnoFixture(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("vcfanno_all")
    val vcfDir = dir.resolve("vcf"); Files.createDirectories(vcfDir)
    def vcfFile(name: String, rows: Seq[String]): Unit =
      Files.writeString(vcfDir.resolve(name),
        ("##fileformat=VCFv4.2" +:
          "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS" +:
          rows).mkString("", "\n", "\n"))
    vcfFile("a.vcf", Seq(
      "chr1\t100\tv1\tAT\tT\t50\tPASS\tDP=9\tGT\t0/1",
      "chr1\t150\tv2\tG\tC\t50\tlowq\tDP=2\tGT\t0/1")) // lowq dropped
    vcfFile("b.vcf", Seq(
      "chr2\t500\tv3\tG\tGA\t50\tPASS\tDP=7\tGT\t1/1"))
    val manifest = Seq(
      ("a.vcf", "TCGA-01", 1L), ("b.vcf", "TCGA-02", 1L),
      ("c.vcf", "TCGA-03", 3L)) // never produced -> rerun
      .toDF("file_name", "sample", "expected_variants")
    (vcfDir.toString, manifest)
  }

  test("VcfAnnoFlow.runAll: tagged scan -> annotate -> check, no per-file loop") {
    val (vcfDir, manifest) = vcfAnnoFixture()
    val (maf, check) = VcfAnnoFlow.runAll(spark, manifest,
      vcfDir, new MockAnnotator)
    val rows = maf.select("CHROM", "End_Position", "Tumor_Sample_Barcode",
      "Annotation_Status").as[(String, Long, String, String)].collect().toSet
    assert(rows == Set(
      ("1", 101L, "TCGA-01", "SUCCESS"),   // chr strip + AT end pos
      ("2", 500L, "TCGA-02", "SUCCESS")))
    val rerun = check.filter($"needs_rerun")
      .select("file_name").as[String].collect().toSet
    assert(rerun == Set("c.vcf"))
  }

  test("VcfAnnoFlow.runAll: the annotator runs once per PASS record") {
    val (vcfDir, manifest) = vcfAnnoFixture()
    val calls = spark.sparkContext.longAccumulator("annotate.calls")
    val (maf, check) = VcfAnnoFlow.runAll(spark, manifest, vcfDir,
      new FlowsSpec.CallCounting(new MockAnnotator, calls))
    check.collect()
    maf.collect()
    val mafOut = maf.select($"Tumor_Sample_Barcode", $"CHROM".as("Chromosome"),
      $"Start_Position", $"REF".as("Reference_Allele"),
      $"ALT".as("Tumor_Seq_Allele2"),
      lit(null).cast("string").as("reported_significance"))
    val merged = ClinicalMergeFlow.mergeMegaMaf(mafOut, mafOut,
      Seq("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "Reference_Allele", "Tumor_Seq_Allele2"))
    assert(merged.count() == 2)
    assert(calls.value == 2L) // two PASS records, one call each
  }

  test("VcfAnnoFlow: prep → mock annotate → concat → check") {
    val vcf1 = Seq(
      ("chr1", 100L, "v1", "AT", "T", "50", "PASS", "DP=9", "GT", "0/1"),
      ("chr1", 150L, "v2", "G", "C", "50", "lowq", "DP=2", "GT", "0/1"))
      .toDF("CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT", "S")
    val vcf2 = Seq(
      ("chr2", 500L, "v3", "G", "GA", "50", "PASS", "DP=7", "GT", "1/1"))
      .toDF("CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT", "S")

    val prepped = VcfAnnoFlow.concatMafs(Seq(
      VcfAnnoFlow.prep(vcf1, "a.vcf"), VcfAnnoFlow.prep(vcf2, "b.vcf")))
    // PASS filter dropped v2; chr stripped; End_Position = POS + len(REF) - 1
    val rows = prepped.orderBy("POS").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("CHROM") == "1")
    assert(rows(0).getAs[Long]("End_Position") == 101L)

    val barcodes = Seq(("a.vcf", "TCGA-01"), ("b.vcf", "TCGA-02"))
      .toDF("source_file", "sample")
    val maf = VcfAnnoFlow.annotateAll(prepped, new MockAnnotator, barcodes)
    assert(maf.filter($"Annotation_Status" === "SUCCESS").count() == 2)
    assert(maf.select("Tumor_Sample_Barcode").as[String].collect().toSet ==
      Set("TCGA-01", "TCGA-02"))

    val manifest = Seq(
      ("a.vcf", 1L), ("b.vcf", 1L), ("c.vcf", 3L))
      .toDF("file_name", "expected_variants")
    val check = VcfAnnoFlow.concatMafCheck(manifest, maf)
    val rerun = check.filter($"needs_rerun")
      .select("file_name").as[String].collect().toSet
    assert(rerun == Set("c.vcf")) // a/b reconciled; c produced nothing
  }
}

object FlowsSpec {
  /** Counts every annotate call into a Spark accumulator, then defers
    * to the wrapped annotator. */
  final class CallCounting(inner: Annotator,
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
}
