package graft.flows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ColumnFns
import graft.operators.{Lineage, VariantOps}

/** Clinical VCF → somatic SNV / CNV / fusion extraction (SURVEY.md
  * §3.2, pedmatch-clinical-vcf-workflow.py:703).
  *
  * The reference fans out one thread per patient; here patients are
  * ROWS — every per-patient step is a single DataFrame transform keyed
  * by (participant_id, sample_type), so the same code serves 4
  * patients or 4 million.
  */
object PedmatchFlow {

  /** pedmatch:579-602: keep exactly one tissue + one blood sample per
    * participant; others are skipped (reported, not failed). Returns
    * (paired manifest, skipped participants). */
  def pairPatients(manifest: DataFrame): (DataFrame, DataFrame) = {
    val counts = manifest.groupBy("participant_id")
      .agg(
        sum(when(col("sample_type") === "tissue", 1).otherwise(0)).as("n_tissue"),
        sum(when(col("sample_type") === "blood", 1).otherwise(0)).as("n_blood"))
    val good = counts.filter(col("n_tissue") === 1 && col("n_blood") === 1)
      .select("participant_id")
    val skipped = counts.filter(!(col("n_tissue") === 1 && col("n_blood") === 1))
    (manifest.join(good, Seq("participant_id")), skipped)
  }

  /** pedmatch:106-121,156-183: fusion rows from a (pre-filtered PASS)
    * VCF: SVTYPE=Fusion INFO rows → field extracts → breakpoint
    * pairing in explicit `orderCol` order → germline subtraction on
    * the 4-col key. */
  def fusions(tumorVcf: DataFrame, normalVcf: DataFrame,
              orderCol: String, keyCols: Seq[String] = Nil): DataFrame = {
    def prep(vcf: DataFrame): DataFrame =
      vcf.filter(col("INFO").contains("SVTYPE=Fusion"))
        .withColumn("FUSION_ID", ColumnFns.splitIdx(col("ID"), "_", 0))
        // grouping key: (patient..., fusion id) in multi-patient
        // frames — fusion ids repeat across patients
        .withColumn("__pfid", concat_ws("#",
          (keyCols.map(col) :+ col("FUSION_ID")): _*))
        .withColumn("gene", ColumnFns.infoField(col("INFO"), "GENE_NAME"))
        .withColumn("exon", ColumnFns.infoField(col("INFO"), "EXON_NUM"))
        .withColumn("annot", ColumnFns.infoField(col("INFO"), "ANNOTATION"))
        .withColumn("reads",
          ColumnFns.infoField(col("INFO"), "READ_COUNT").cast("long"))
    // annot/reads ride in the pairing too: the SV row takes them from
    // the SECOND breakpoint (pedmatch:144,148)
    val pairCols = Seq("gene", "exon", "annot", "reads", "CHROM", "POS")
    val tumorPairs = VariantOps.pairBreakpoints(
      prep(tumorVcf), "__pfid", orderCol, pairCols)
    val normalPairs = VariantOps.pairBreakpoints(
      prep(normalVcf), "__pfid", orderCol, pairCols)
    VariantOps.subtractGermline(tumorPairs, normalPairs,
      keys = keyCols ++ Seq("site1_gene", "site2_gene",
        "site1_POS", "site2_POS"))
      .drop("__pfid")
  }

  /** pedmatch:131-150: the cBio SV projection of a paired-fusion
    * frame — constants (SOMATIC/GRCh37/Fusion/Oncomine/No/Yes) and the
    * second breakpoint's annotation + read count, exactly as the
    * reference builds each row dict. */
  def toSv(fusionPairs: DataFrame,
           sampleId: org.apache.spark.sql.Column): DataFrame =
    fusionPairs.select(
      sampleId.as("Sample_Id"),
      lit("SOMATIC").as("SV_Status"),
      col("site1_gene").as("Site1_Hugo_Symbol"),
      col("site1_exon").as("Site1_Region_Number"),
      col("site2_gene").as("Site2_Hugo_Symbol"),
      col("site2_exon").as("Site2_Region_Number"),
      lit("GRCh37").as("NCBI_Build"),
      lit("Fusion").as("Class"),
      lit("Oncomine").as("Method"),
      col("FUSION_ID").as("Event_Info"),
      col("site2_annot").as("Annotation"),
      lit("No").as("DNA_Support"),
      lit("Yes").as("RNA_Support"),
      col("site2_reads").as("Tumor_Read_Count"),
      col("site1_CHROM").as("Site1_Chromosome"),
      col("site1_POS").as("Site1_Position"),
      col("site2_CHROM").as("Site2_Chromosome"),
      col("site2_POS").as("Site2_Position"))

  /** pedmatch:197-205,289-308: copy-number rows: Amplification/KI2
    * filters, NUMTILES/END/RAW_CN extracts, log2+GISTIC calls, somatic
    * = tumor genes absent from normal (J5). */
  def somaticCnv(tumorVcf: DataFrame, normalVcf: DataFrame,
                 keyCols: Seq[String] = Nil): DataFrame = {
    def prep(vcf: DataFrame): DataFrame =
      vcf.filter(col("INFO").contains("Amplification") &&
          !col("CHROM").contains("KI2"))
        .withColumn("Hugo_Symbol", ColumnFns.infoField(col("INFO"), "GENE_NAME"))
        .withColumn("numtiles",
          ColumnFns.infoField(col("INFO"), "NUMTILES").cast("long"))
        .withColumn("seg_end", ColumnFns.infoField(col("INFO"), "END").cast("long"))
        .withColumn("raw_cn",
          ColumnFns.infoField(col("INFO"), "RAW_CN").cast("double"))
    val calls = VariantOps.copyNumberCalls(prep(tumorVcf), "raw_cn")
    VariantOps.subtractGermline(calls, prep(normalVcf),
      keys = keyCols :+ "Hugo_Symbol")
  }

  /** pedmatch:312-448: somatic SNVs: FT injection, tumor/normal merge,
    * multiallelic split, somatic filter, FORMAT extracts. */
  def somaticSnvs(tumorVcf: DataFrame, normalVcf: DataFrame,
                  tumorSample: String, normalSample: String,
                  keyCols: Seq[String] = Nil): DataFrame = {
    def prep(vcf: DataFrame, sample: String): DataFrame =
      VariantOps.injectFt(
          VariantOps.splitMultiallelic(vcf, renumberSamples = Seq(sample)),
          sample)
        .withColumnRenamed(sample, "SAMPLE")
    val merged = VariantOps.mergeTumorNormal(
      prep(tumorVcf, tumorSample), prep(normalVcf, normalSample), "SAMPLE",
      extraKeys = keyCols)
    val somatic = VariantOps.somaticFilter(merged, "SAMPLE", "SAMPLE")
    VariantOps.extractGenotypeFields(
      VariantOps.extractGenotypeFields(somatic, "tumor_SAMPLE", "t_"),
      "normal_SAMPLE", "n_")
  }

  final case class Outputs(sv: DataFrame, cnvCalls: DataFrame,
                           snvs: DataFrame, skipped: DataFrame)

  /** Whole flow, ALL patients at once (SURVEY §3.2: the reference fans
    * out one thread per patient over batches of 200; here the entire
    * cohort is ONE set of DataFrames keyed by participant — every
    * stage joins/windows on (participant_id, ...) so germline
    * subtraction, tumor/normal merges and fusion pairing stay
    * per-patient-correct with no driver loop and no per-patient
    * plans. Scales to any cohort size the cluster scales to.)
    *
    * `vcfDir` holds one single-sample VCF per manifest row; rows are
    * tagged back to the manifest by file name. EAGER: the VCFs are
    * scanned once, before this returns, into a PASS-filtered, tagged
    * snapshot that `sv`, `cnvCalls` and `snvs` read. */
  def runAll(spark: SparkSession, manifest: DataFrame,
             vcfDir: String, orderCol: String = "POS"): Outputs = {
    import graft.sources.Readers
    val (paired, skipped) = pairPatients(manifest)
    val all = Readers.vcf(spark, vcfDir, Seq("SAMPLE"))
      .withColumn("file_name", ColumnFns.basename(input_file_name()))
    // one VCF scan: the PASS rows, tagged with the manifest, are
    // materialized once and the SV, CNV and SNV outputs all read them
    val tagged = Lineage.cut(VariantOps.passOnly(all).join(
      paired.select("file_name", "participant_id", "sample_type", "sample_id"),
      Seq("file_name")))
    val tumor = tagged.filter(col("sample_type") === "tissue").drop("sample_type")
    val normal = tagged.filter(col("sample_type") === "blood").drop("sample_type")
    val key = Seq("participant_id")
    Outputs(
      sv = toSv(fusions(tumor, normal, orderCol, key), col("sample_id")),
      cnvCalls = somaticCnv(tumor, normal, key),
      snvs = somaticSnvs(tumor, normal, "SAMPLE", "SAMPLE", key),
      skipped = skipped)
  }
}
