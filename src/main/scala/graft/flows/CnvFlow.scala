package graft.flows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ColumnFns
import graft.operators.{Dedup, IntervalJoin, Lineage, Pivots, Reconcile}
import graft.sources.Readers

/** CNV pipeline (SURVEY.md §3.1, workflows/cnv.py:487) as a pure
  * DataFrame composition: CNV JSON docs → segment table → gene-level
  * log2/discrete matrices + reconciliation report. No subprocesses —
  * the bedtools step is the relational interval join (J1), the GTF
  * munging is column expressions (F5, A5a/A5b, F10).
  *
  * Every stage is a function so callers can enter/exit at any point;
  * `run` wires the whole flow. Outputs stay distributed — writers
  * decide whether to coalesce.
  */
object CnvFlow {

  /** Steps 5–6 (cnv.py:352-392): GTF → deduped gene BED.
    * protein_coding genes, no readthrough, no chrM; gene_name parsed
    * from attributes (multi-value ;-joined); dedup keep-first on
    * (chrom,start,end) then keep-longest per (chrom,gene); BED
    * 0-based start. */
  def geneBed(gtf: DataFrame): DataFrame = {
    val genes = gtf
      .filter(col("feature") === "gene" &&
        col("attributes").contains("protein_coding") &&
        !col("attributes").contains("readthrough_gene") &&
        col("chrom") =!= "chrM")
      .select(col("chrom"), col("start"), col("end"),
        ColumnFns.gtfAttr(col("attributes"), "gene_name").as("gene_names"))
    val first = Dedup.keepFirst(genes, Seq("chrom", "start", "end"),
      Seq(col("gene_names").asc))
    val longest = Dedup.keepLongest(first, Seq("chrom", "gene_names"),
      "start", "end", Seq(col("start").asc))
    longest.withColumn("start", ColumnFns.bedStart(col("start")))
  }

  /** Step 7 (cnv.py:394-411): segment table → BED-ish frame with the
    * 'chr' prefix restored for the join against gene coordinates. */
  def segmentBed(segments: DataFrame): DataFrame =
    segments.select(
      ColumnFns.chrPrefix(col("chrom")).as("chrom"),
      col("start").as("seg_start"), col("end").as("seg_end"),
      col("sample_id"), col("log2ratio"))

  /** Step 8 (cnv.py:413-436): bedtools intersect -wo -f 0.5 → binned
    * interval join; gene-level rows carry (gene, sample, log2). */
  def geneLevelCalls(genes: DataFrame, segBed: DataFrame,
                     binWidth: Long = 1000000L): DataFrame =
    IntervalJoin.overlapBinned(
      genes.withColumnRenamed("start", "gene_start")
        .withColumnRenamed("end", "gene_end"),
      segBed, Seq("chrom"),
      "gene_start", "gene_end", "seg_start", "seg_end",
      frac = 0.5, binWidth = binWidth)
      .select(col("gene_names").as("Hugo_Symbol"), col("sample_id"),
        col("log2ratio"), col("overlap_len"))

  /** Steps 11 (cnv.py:650-684): wide matrices. `samples` must be the
    * explicit pivot-value list (a prior distinct) — SURVEY §7.4 item 3. */
  def matrices(calls: DataFrame, samples: Seq[String]): (DataFrame, DataFrame) = {
    val log2 = Pivots.continuous(
      calls.select("Hugo_Symbol", "sample_id", "log2ratio"),
      "Hugo_Symbol", "sample_id", "log2ratio", samples)
    val discrete = Pivots.discrete(
      calls.withColumn("gistic", ColumnFns.gisticBin(col("log2ratio")))
        .select("Hugo_Symbol", "sample_id", "gistic"),
      "Hugo_Symbol", "sample_id", "gistic", samples)
    (log2, discrete)
  }

  /** Step 12 (cnv.py:686-711): expected-vs-observed mapping counts. */
  def reconciliation(segBed: DataFrame, calls: DataFrame): DataFrame =
    Reconcile.countMatch(
      segBed.select(col("sample_id")),
      calls.select(col("sample_id")),
      Seq("sample_id"))

  /** SEG projection (cnv.py:288-306). */
  def toSeg(segments: DataFrame): DataFrame =
    segments.select(
      col("sample_id").as("ID"), col("chrom"),
      col("start").as("loc.start"), col("end").as("loc.end"),
      col("num_points").as("num.mark"), col("log2ratio").as("seg.mean"))

  final case class Outputs(segments: DataFrame, seg: DataFrame,
                           log2Matrix: DataFrame, discreteMatrix: DataFrame,
                           reconciliation: DataFrame)

  /** Whole flow with the GENCODE GTF staged over HTTP first (S13,
    * cnv.py:319-347: step 5 of the reference flow). The fetch is a
    * driver-side staging step; the staged `.gz` is read directly
    * (S9 transparent decompression). */
  def runWithGencode(spark: SparkSession, cnvJsonPath: String,
                     gencodeVersion: Int, stagingDir: String,
                     manifest: DataFrame): Outputs =
    run(spark, cnvJsonPath,
      graft.sources.HttpFetch.gencodeGtf(gencodeVersion, stagingDir).toString,
      manifest)

  /** Whole flow from file inputs. `samples` drawn from the manifest
    * (small, driver-side) as the explicit pivot column list. EAGER:
    * the segments and the gene-level calls are materialized before
    * this returns, and every output reads those snapshots, never the
    * input files. `Outputs.segments` is not cached; there is nothing
    * to unpersist. */
  def run(spark: SparkSession, cnvJsonPath: String, gtfPath: String,
          manifest: DataFrame): Outputs = {
    val violations = Reconcile.constraintViolations(manifest,
      requiredCols = Seq("sample_id", "s3_url", "file_name", "md5sum"),
      uniqueCols = Seq("sample_id", "s3_url", "file_name", "md5sum"))
    require(violations.isEmpty, "manifest constraint violations")

    // segments feed the SEG file, the interval join and the recon; the
    // gene-level calls feed both matrices and the recon — each is
    // computed once, here, so no output re-parses the JSON or re-runs
    // the interval join (SURVEY §4 "pipelining")
    val segments = Lineage.cut(Readers.cnvSegments(spark, cnvJsonPath))
    val genes = geneBed(Readers.gtf(spark, gtfPath))
    val segBed = segmentBed(segments)
    val calls = Lineage.cut(geneLevelCalls(genes, segBed))
    val samples = manifest.select("sample_id").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val (log2, discrete) = matrices(calls, samples)
    Outputs(segments, toSeg(segments), log2, discrete,
      reconciliation(segBed, calls))
  }
}
