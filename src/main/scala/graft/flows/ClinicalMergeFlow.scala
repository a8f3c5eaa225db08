package graft.flows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ColumnFns
import graft.operators.Dedup

/** Clinical-variant annotation merge → "megaMAF" (SURVEY.md §3 tail,
  * mci_clinical_variant_merge.py:301): clinical Excel rows filtered
  * and prepped, annotated (pluggable — graft.annotate), then
  * dedup-merged into the cumulative MAF with clinical rows winning on
  * the variant key.
  */
object ClinicalMergeFlow {

  /** mci:27-47: somatic + present + supported-test filter; chr strip. */
  def prepClinical(clinical: DataFrame,
                   supportedTests: Seq[String]): DataFrame =
    clinical.filter(
        col("genomic_source_category") === "Somatic" &&
          col("status") === "Present" &&
          col("test").isin(supportedTests: _*))
      .withColumn("chromosome", ColumnFns.chrStrip(col("chromosome")))

  /** A8 (mci:214) done right: the annotation arrives as a struct column
    * produced from the same row, so the horizontal bind is just a
    * select — no positional row-index zip. */
  def bindAnnotations(df: DataFrame, annotation: org.apache.spark.sql.Column)
  : DataFrame = df.withColumn("annotation", annotation)

  /** F16 (mci:99-142): pull (hgvs_short, variant_classification) from
    * the annotation consequence arrays — protein/coding containment
    * cascade with summaries fallback and del/dup/ins truncation retry.
    * `df` must carry the two consequence array<struct> columns plus
    * hgvs_protein / hgvs_coding; the extraction is a pure Column
    * expression, so it fuses into the surrounding plan. */
  def extractAnnotations(df: DataFrame,
                         consCol: String = "transcriptConsequences",
                         summCol: String = "transcriptConsequenceSummaries",
                         proteinCol: String = "hgvs_protein",
                         codingCol: String = "hgvs_coding"): DataFrame =
    df.withColumn("__ann", ColumnFns.hgvsExtract(
        col(consCol), col(summCol), col(proteinCol), col(codingCol)))
      .withColumn("hgvs_short", col("__ann.hgvs_short"))
      .withColumn("variant_classification", col("__ann.variant_classification"))
      .drop("__ann")

  /** A5c (mci:263-279): merge new clinical rows into the cumulative
    * megaMAF, dedup on the variant key keeping clinical rows first
    * ('Not Reported'/null significance sorts last), then the
    * presentation sort (mci:282). Rows of one key with the same rank
    * are ordered by the presentation columns, then by every other
    * non-key column, by name, ascending, nulls last, so the winner
    * does not depend on input order or partitioning (`keepFirst`'s
    * total-order contract). */
  def mergeMegaMaf(existing: DataFrame, clinical: DataFrame,
                   variantKey: Seq[String],
                   significanceCol: String = "reported_significance")
  : DataFrame = {
    val merged = existing.unionByName(clinical, allowMissingColumns = true)
    val presentation = Seq("Tumor_Sample_Barcode", "Chromosome", "Start_Position")
    val rest = merged.columns
      .filterNot(c => variantKey.contains(c) || presentation.contains(c)).sorted
    Dedup.preferReported(merged, variantKey, significanceCol,
      tiebreak = presentation.map(col(_).asc) ++
        rest.map(c => col(s"`${c.replace("`", "``")}`").asc_nulls_last))
      .orderBy(presentation.map(col): _*)
  }
}
