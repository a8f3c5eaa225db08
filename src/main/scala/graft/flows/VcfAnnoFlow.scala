package graft.flows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.annotate.{Annotate, Annotator}
import graft.functions.ColumnFns
import graft.operators.{Lineage, VariantOps}

/** Bulk VCF → annotated MAF flow (SURVEY.md §3.3, vcf_anno.py:489):
  * per-file VCF frames → PASS filter → 4-col projection → chr strip →
  * End_Position → pluggable annotation → union ("concat_mafs") →
  * reconciliation accounting + rerun manifest. The reference's batch
  * loops and resume bookkeeping dissolve into partitioning and
  * idempotent outputs (§2.11 X1–X6).
  */
object VcfAnnoFlow {

  /** vcf_anno.py:278-303: prep one VCF frame for annotation. The
    * source file name is stamped on so accounting can group by it. */
  def prep(vcf: DataFrame, sourceFile: String): DataFrame =
    VariantOps.passOnly(vcf)
      .select(
        ColumnFns.chrStrip(col("CHROM")).as("CHROM"),
        col("POS"), col("REF"), col("ALT"))
      .withColumn("Start_Position", col("POS"))
      .withColumn("End_Position",
        ColumnFns.endPosition(col("POS"), col("REF")))
      .withColumn("source_file", lit(sourceFile))

  /** Annotate + stamp barcodes (vcf_anno.py:339-348: the jar's output
    * barcode is overwritten with the manifest's sample id). */
  def annotateAll(prepped: DataFrame, annotator: Annotator,
                  barcodeByFile: DataFrame): DataFrame =
    Annotate.withAnnotations(prepped, annotator)
      .join(broadcast(barcodeByFile), Seq("source_file"), "left")
      .withColumnRenamed("sample", "Tumor_Sample_Barcode")

  /** S18/A7: concat of per-file MAFs = union (header discipline is the
    * reader's job, not string surgery). */
  def concatMafs(mafs: Seq[DataFrame]): DataFrame =
    mafs.reduce(_ unionByName _)

  /** Whole-manifest run, no per-file loop: one tagged VCF scan over
    * `vcfDir` (file name via input_file_name → manifest join), prep as
    * column transforms keyed by source_file, one annotation stage, one
    * accounting pass. The reference's 500-file download batches and
    * 200-file annotation batches (vcf_anno.py:595,636) dissolve into
    * partitioning. Returns (annotated MAF, check report — rerun
    * manifest = filter(needs_rerun)). EAGER: the annotated MAF is
    * materialized before this returns; the check and every later
    * read of the MAF use that snapshot. */
  def runAll(spark: SparkSession, manifest: DataFrame, vcfDir: String,
             annotator: Annotator): (DataFrame, DataFrame) = {
    import graft.sources.Readers
    val all = Readers.vcf(spark, vcfDir, Seq("SAMPLE"))
      .withColumn("source_file", ColumnFns.basename(input_file_name()))
    val prepped = VariantOps.passOnly(all)
      .select(
        ColumnFns.chrStrip(col("CHROM")).as("CHROM"),
        col("POS"), col("REF"), col("ALT"), col("source_file"))
      .withColumn("Start_Position", col("POS"))
      .withColumn("End_Position",
        ColumnFns.endPosition(col("POS"), col("REF")))
    val barcodes = manifest.select(col("file_name").as("source_file"),
      col("sample"))
    // annotated once: the check report describes exactly the MAF the
    // caller writes and merges, and the annotator runs once per record
    val maf = Lineage.cut(annotateAll(prepped, annotator, barcodes))
    (maf, concatMafCheck(manifest, maf))
  }

  /** vcf_anno.py:400-483: per-file expected counts vs observed rows,
    * FAILED detection (KI2* contigs exempt), null-barcode detection;
    * returns the check report (one row per source file, needs_rerun
    * flag) — the rerun manifest is `filter($"needs_rerun")`. */
  def concatMafCheck(manifest: DataFrame, maf: DataFrame): DataFrame = {
    val failed = col("Annotation_Status") === "FAILED" &&
      !col("CHROM").startsWith("KI2")
    val obs = maf.groupBy(col("source_file"))
      .agg(count(lit(1)).as("observed_rows"),
        sum(when(failed, 1).otherwise(0)).as("failed_rows"),
        sum(when(col("Tumor_Sample_Barcode").isNull ||
          col("Tumor_Sample_Barcode") === "", 1).otherwise(0))
          .as("null_barcode_rows"))
    manifest.join(obs, manifest("file_name") === obs("source_file"), "left")
      .na.fill(0, Seq("observed_rows", "failed_rows", "null_barcode_rows"))
      .withColumn("needs_rerun",
        col("observed_rows") =!= col("expected_variants") ||
          col("failed_rows") > 0 || col("null_barcode_rows") > 0)
  }
}
