package graft

import org.apache.spark.sql.functions._
import graft.flows.{ClinicalMergeFlow, DbCounter, PedmatchFlow}

class PedmatchFlowSpec extends SparkSpec {
  import spark.implicits._

  private val vcfCols = Seq("CHROM", "POS", "ID", "REF", "ALT", "QUAL",
    "FILTER", "INFO", "FORMAT", "S")

  test("pairPatients keeps exactly 1 tissue + 1 blood, reports the rest") {
    val m = Seq(
      ("p1", "s1", "tissue"), ("p1", "s2", "blood"),
      ("p2", "s3", "tissue"), ("p2", "s4", "tissue"), ("p2", "s5", "blood"),
      ("p3", "s6", "tissue"))
      .toDF("participant_id", "sample_id", "sample_type")
    val (paired, skipped) = PedmatchFlow.pairPatients(m)
    assert(paired.select("participant_id").distinct()
      .as[String].collect().toSeq == Seq("p1"))
    assert(skipped.select("participant_id").as[String].collect().toSet ==
      Set("p2", "p3"))
  }

  test("fusions: pairing + germline subtraction") {
    val t = Seq(
      ("chr22", 100L, "F1_1", "A", "T", "9", "PASS",
        "SVTYPE=Fusion;GENE_NAME=EWSR1;EXON_NUM=7;ANNOTATION=x;READ_COUNT=40", "GT", "0/1"),
      ("chr11", 200L, "F1_2", "A", "T", "9", "PASS",
        "SVTYPE=Fusion;GENE_NAME=FLI1;EXON_NUM=6;ANNOTATION=x;READ_COUNT=40", "GT", "0/1"),
      ("chr9", 300L, "F2_1", "A", "T", "9", "PASS",
        "SVTYPE=Fusion;GENE_NAME=BCR;EXON_NUM=1;ANNOTATION=y;READ_COUNT=10", "GT", "0/1"),
      ("chr22", 400L, "F2_2", "A", "T", "9", "PASS",
        "SVTYPE=Fusion;GENE_NAME=ABL1;EXON_NUM=2;ANNOTATION=y;READ_COUNT=10", "GT", "0/1"))
      .toDF(vcfCols: _*)
    // the normal shares the BCR-ABL1 event → germline, dropped
    val n = t.filter($"ID".startsWith("F2"))
    val got = PedmatchFlow.fusions(t, n, orderCol = "POS")
      .select("site1_gene", "site2_gene").as[(String, String)].collect().toSet
    assert(got == Set(("EWSR1", "FLI1")))
  }

  test("data_sv golden: SV projection bytes (pedmatch:131-150)") {
    val t = Seq(
      ("chr22", 100L, "F1_1", "A", "T", "9", "PASS",
        "SVTYPE=Fusion;GENE_NAME=EWSR1;EXON_NUM=7;ANNOTATION=x1;READ_COUNT=40", "GT", "0/1"),
      ("chr11", 200L, "F1_2", "A", "T", "9", "PASS",
        "SVTYPE=Fusion;GENE_NAME=FLI1;EXON_NUM=6;ANNOTATION=x2;READ_COUNT=41", "GT", "0/1"))
      .toDF(vcfCols: _*)
    val sv = PedmatchFlow.toSv(
      PedmatchFlow.fusions(t, t.limit(0), orderCol = "POS"),
      lit("PT1-S1"))
    val dir = java.nio.file.Files.createTempDirectory("sv").toString + "/data_sv.txt"
    graft.sources.Writers.tsv(sv.orderBy("Event_Info"), dir, single = true)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val text = java.nio.file.Files.readString(part.toPath)
    assert(text ==
      "Sample_Id\tSV_Status\tSite1_Hugo_Symbol\tSite1_Region_Number\t" +
        "Site2_Hugo_Symbol\tSite2_Region_Number\tNCBI_Build\tClass\tMethod\t" +
        "Event_Info\tAnnotation\tDNA_Support\tRNA_Support\tTumor_Read_Count\t" +
        "Site1_Chromosome\tSite1_Position\tSite2_Chromosome\tSite2_Position\n" +
        // Annotation/Tumor_Read_Count come from the SECOND breakpoint
        "PT1-S1\tSOMATIC\tEWSR1\t7\tFLI1\t6\tGRCh37\tFusion\tOncomine\t" +
        "F1\tx2\tNo\tYes\t41\tchr22\t100\tchr11\t200\n")
  }

  test("somaticCnv: amplification extract + gene-level germline anti join") {
    val t = Seq(
      ("chr8", 1L, "c1", "A", "<CNV>", "9", "PASS",
        "Amplification;GENE_NAME=MYC;NUMTILES=12;END=500;RAW_CN=8.0", "GT", "0/1"),
      ("chr7", 2L, "c2", "A", "<CNV>", "9", "PASS",
        "Amplification;GENE_NAME=EGFR;NUMTILES=5;END=900;RAW_CN=6.0", "GT", "0/1"),
      ("KI27", 3L, "c3", "A", "<CNV>", "9", "PASS",
        "Amplification;GENE_NAME=JUNK;NUMTILES=1;END=10;RAW_CN=4.0", "GT", "0/1"))
      .toDF(vcfCols: _*)
    val n = t.filter($"ID" === "c2") // EGFR germline
    val got = PedmatchFlow.somaticCnv(t, n)
      .select("Hugo_Symbol", "gistic").as[(String, Int)].collect().toSet
    assert(got == Set(("MYC", 1))) // log2(8/2)=2.0 exactly -> strict >2.0 fails -> bin 1
  }

  test("somaticSnvs end-to-end: split, merge, filter, extract") {
    val t = Seq(
      ("chr1", 100L, "v1", "A", "T,G", "9", "PASS", "DP=20",
        "GT:X:DP", "0/1:z:20"),
      ("chr1", 500L, "v9", "C", "A", "9", "PASS", "DP=9",
        "GT:X:DP", "0/0:z:9")) // ref genotype -> dropped
      .toDF(vcfCols.init :+ "TUM": _*)
    val n = Seq(
      ("chr1", 100L, "v1", "A", "T", "8", "PASS", "DP=18",
        "GT:X:DP", "0/0:z:18"))
      .toDF(vcfCols.init :+ "NOR": _*)
    val got = PedmatchFlow.somaticSnvs(t, n, "TUM", "NOR")
    val rows = got.select("POS", "ALT", "t_GT", "t_DP", "n_GT")
      .as[(Long, String, String, String, String)].collect().toSet
    // v1 splits to T and G; tumor GT 0/1 calls ONLY the first alt, so
    // after bcftools-faithful renumbering the T row keeps 0/1 (somatic
    // vs normal 0/0) and the G row becomes 0/0 and is dropped — the
    // pre-renumbering behavior kept a spurious somatic G row
    assert(rows == Set((100L, "T", "0/1", "20", "0/0")))
  }

  test("gistic boundary in somaticCnv is strict >2.0") {
    // RAW_CN=8 → log2(4)=2.0 exactly → bin 1 (not 2): documented edge
    val t = Seq(("chr8", 1L, "c1", "A", "<CNV>", "9", "PASS",
      "Amplification;GENE_NAME=MYC;NUMTILES=12;END=500;RAW_CN=8.0", "GT", "0/1"))
      .toDF(vcfCols: _*)
    val got = PedmatchFlow.somaticCnv(t, t.limit(0))
      .select("gistic").as[Int].collect().head
    assert(got == 1)
  }

  test("mergeMegaMaf: clinical wins on the variant key") {
    val existing = Seq(
      ("b1", "1", 100L, "A", "T", "old", null.asInstanceOf[String]))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "Reference_Allele", "Tumor_Seq_Allele2", "source",
        "reported_significance")
    val clinical = Seq(
      ("b1", "1", 100L, "A", "T", "clinical", "Pathogenic"),
      ("b2", "2", 300L, "G", "C", "clinical", "Benign"))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "Reference_Allele", "Tumor_Seq_Allele2", "source",
        "reported_significance")
    val got = ClinicalMergeFlow.mergeMegaMaf(existing, clinical,
      Seq("Chromosome", "Start_Position", "Reference_Allele",
        "Tumor_Seq_Allele2"))
      .select("source").as[String].collect().toSeq
    assert(got == Seq("clinical", "clinical"))
  }

  test("mergeMegaMaf: a same-rank tie has one stated winner under any order") {
    val cols = Seq("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
      "Reference_Allele", "Tumor_Seq_Allele2", "Hugo_Symbol",
      "reported_significance", "source")
    // both rows of the key are reported (rank 0); the tiebreak after the
    // key is Hugo_Symbol ascending, so BRAF wins over KRAS
    val a = Seq(("b1", "7", 100L, "A", "T", "KRAS", "Pathogenic", "mega"))
      .toDF(cols: _*)
    val b = Seq(("b1", "7", 100L, "A", "T", "BRAF", "Pathogenic", "clinical"))
      .toDF(cols: _*)
    val key = cols.take(5)
    for ((existing, clinical) <- Seq(a -> b, b -> a); n <- Seq(1, 4)) {
      val got = ClinicalMergeFlow.mergeMegaMaf(
          existing.repartition(n), clinical.repartition(n), key)
        .select("Hugo_Symbol", "source").as[(String, String)].collect().toSeq
      assert(got == Seq(("BRAF", "clinical")), s"partitions=$n")
    }
  }

  test("extractAnnotations: full F16 cascade (mci:99-142)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val consType = ArrayType(StructType(Seq(
      StructField("hgvsp", StringType), StructField("hgvsc", StringType),
      StructField("hgvspShort", StringType),
      StructField("variantClassification", StringType))))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("hgvs_protein", StringType),
      StructField("hgvs_coding", StringType),
      StructField("transcriptConsequences", consType),
      StructField("transcriptConsequenceSummaries", consType)))
    def c(p: String, cc: String, s: String, vc: String) = Row(p, cc, s, vc)
    val rows = Seq(
      // 1: protein containment (not equality) hits cons #2, first wins
      Row(1L, "p.V600E", "c.1A>C",
        Seq(c(null, "c.x", "skip", "skip"),             // falsy hgvsp skipped
          c("NP_x:p.V600Efs", "c.y", "p.V600Efs*", "Frame_Shift")),
        Seq(c("p.V600E", "c.z", "sum", "Sum"))),
      // 2: no consequence hit -> summaries fallback
      Row(2L, "p.G12D", "c.2G>A",
        Seq(c("p.OTHER", "c.q", "no", "no")),
        Seq(c("x p.G12D y", "c.w", "p.G12D", "Missense"))),
      // 3: 'Not Reported' protein -> coding containment path
      Row(3L, "Not Reported", "c.35G>T",
        Seq(c("p.A1B", "NM_1:c.35G>T", "p.C35", "Missense_C")),
        Seq(c("p.A1B", "c.nope", "no", "no"))),
      // 4: delins coding -> FIRST-marker truncation (c.52del, not
      //    c.52delins) matched against consequences only
      Row(4L, "p.MISS", "c.52delinsAA",
        Seq(c("p.OTHER", "NM_2:c.52delTT", "p.T52", "Del_Class")),
        Seq(c("p.OTHER", "c.52delinsAA", "never", "never"))),
      // 5: nothing matches anywhere
      Row(5L, "p.NOHIT", "c.9dupZZZ",
        Seq(c("p.A", "c.1dup", "no", "no")), Seq()))
    // rows 4/5: dup truncation 'c.9dup' vs 'c.1dup' -> miss
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val got = ClinicalMergeFlow.extractAnnotations(df)
      .select("id", "hgvs_short", "variant_classification")
      .as[(Long, String, String)].collect()
      .map { case (k, v1, v2) => k -> (v1, v2) }.toMap
    assert(got(1L) == ("p.V600Efs*", "Frame_Shift"))
    assert(got(2L) == ("p.G12D", "Missense"))
    assert(got(3L) == ("p.C35", "Missense_C"))
    assert(got(4L) == ("p.T52", "Del_Class"))
    assert(got(5L) == (null, null))
  }

  test("ClinicalMergeFlow end-to-end: prep -> annotation payload -> extract -> megaMAF") {
    // mci:301 composed: clinical filter/prep, annotation consequence
    // arrays (the Genome Nexus response shape), F16 extraction, A5c
    // merge where clinical rows beat the cumulative megaMAF
    val clinical = Seq(
      ("s1", "BRAF", "chr7", 140753336L, "A", "T",
        "p.V600E", "c.1799T>A", "Somatic", "Present", "panelA", "Pathogenic"),
      ("s2", "KRAS", "chr12", 25245351L, "C", "G",
        "Not Reported", "c.35delAAA", "Somatic", "Present", "panelA", "Benign"),
      ("s3", "GERM", "chrX", 5L, "G", "A",
        "p.X1Y", "c.1A>G", "Germline", "Present", "panelA", "Benign"))
      .toDF("Tumor_Sample_Barcode", "gene_symbol", "chromosome",
        "Start_Position", "Reference_Allele", "Tumor_Seq_Allele2",
        "hgvs_protein", "hgvs_coding", "genomic_source_category",
        "status", "test", "reported_significance")
    val prepped = ClinicalMergeFlow.prepClinical(clinical, Seq("panelA"))

    // annotation payload per row: protein consequence for s1 (matched
    // by containment), del-truncated coding consequence for s2
    // (matched only via the first-marker truncation stage)
    val consType = "array<struct<hgvsp:string,hgvsc:string," +
      "hgvspShort:string,variantClassification:string>>"
    val withPayload = prepped
      .withColumn("transcriptConsequences", array(struct(
        concat(lit("NP_1:"), col("hgvs_protein")).as("hgvsp"),
        concat(org.apache.spark.sql.functions.substring_index(
          col("hgvs_coding"), "del", 1), lit("del")).as("hgvsc"),
        concat(lit("p.Short_"), col("gene_symbol")).as("hgvspShort"),
        lit("Missense_Mutation").as("variantClassification"))))
      .withColumn("transcriptConsequenceSummaries",
        array().cast(consType))
    val extracted = ClinicalMergeFlow.extractAnnotations(withPayload)
      .withColumn("Chromosome", col("chromosome"))
    assert(extracted.select("gene_symbol", "hgvs_short")
      .as[(String, String)].collect().toMap ==
      Map("BRAF" -> "p.Short_BRAF", "KRAS" -> "p.Short_KRAS"))

    // cumulative megaMAF: same BRAF variant annotated long ago with no
    // significance (loses), plus an untouched historical row (kept)
    val existing = Seq(
      ("s1", "7", 140753336L, "A", "T", "Not Reported", "old_braf"),
      ("s9", "9", 1L, "G", "C", "Pathogenic", "old_keeper"))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "Reference_Allele", "Tumor_Seq_Allele2",
        "reported_significance", "hgvs_short")
    val merged = ClinicalMergeFlow.mergeMegaMaf(
      existing,
      extracted.select("Tumor_Sample_Barcode", "Chromosome",
        "Start_Position", "Reference_Allele", "Tumor_Seq_Allele2",
        "reported_significance", "hgvs_short"),
      variantKey = Seq("Chromosome", "Start_Position",
        "Reference_Allele", "Tumor_Seq_Allele2"))
    val got = merged.select("hgvs_short").as[String].collect().toSet
    assert(got == Set("p.Short_BRAF", "p.Short_KRAS", "old_keeper"))
  }

  /** Three participants: P1 somatic (fusion, snv, amp), P2 the same
    * events but germline, P3 tissue only. Returns (vcf dir, manifest). */
  private def cohortFixture(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("pedmatch_all")
    val vcfDir = dir.resolve("vcf"); java.nio.file.Files.createDirectories(vcfDir)
    def vcfFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(vcfDir.resolve(name),
        ("##fileformat=VCFv4.2" +:
          "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS" +:
          rows).mkString("", "\n", "\n"))
    def fus(id: String, chrom: String, pos: Long, gene: String, exon: Int) =
      s"$chrom\t$pos\t$id\tA\tT\t9\tPASS\tSVTYPE=Fusion;GENE_NAME=$gene;EXON_NUM=$exon;ANNOTATION=an;READ_COUNT=12\tGT\t0/1"
    def snv(chrom: String, pos: Long, gt: String) =
      s"$chrom\t$pos\tv$pos\tA\tT\t9\tPASS\tDP=20\tGT:X:DP\t$gt:z:20"
    def cnv(gene: String, cn: Double) =
      s"chr8\t1\tc_$gene\tA\t<CNV>\t9\tPASS\tSVTYPE=CNV;Amplification;GENE_NAME=$gene;NUMTILES=4;END=900;RAW_CN=$cn\tGT\t0/1"

    // P1: somatic fusion EWSR1-FLI1, somatic snv (0/1 vs 0/0), somatic MYC amp
    vcfFile("p1_t.vcf", Seq(fus("F1_1", "chr22", 100, "EWSR1", 7),
      fus("F1_2", "chr11", 200, "FLI1", 6), snv("chr1", 100, "0/1"),
      cnv("MYC", 8.0)))
    vcfFile("p1_b.vcf", Seq(snv("chr1", 100, "0/0")))
    // P2: the SAME fusion + amp, but germline (present in blood), snv
    // genotype equal in tumor/normal -> P2 contributes NOTHING somatic
    vcfFile("p2_t.vcf", Seq(fus("F1_1", "chr22", 100, "EWSR1", 7),
      fus("F1_2", "chr11", 200, "FLI1", 6), snv("chr2", 200, "1/1"),
      cnv("EGFR", 6.0)))
    vcfFile("p2_b.vcf", Seq(fus("F1_1", "chr22", 100, "EWSR1", 7),
      fus("F1_2", "chr11", 200, "FLI1", 6), snv("chr2", 200, "1/1"),
      cnv("EGFR", 6.0)))
    // P3: tissue only -> skipped by pairing
    vcfFile("p3_t.vcf", Seq(snv("chr3", 300, "0/1")))

    val manifest = Seq(
      ("P1-T", "s3://b/p1_t.vcf", "p1_t.vcf", "m1", 1L, "P1", "tissue"),
      ("P1-B", "s3://b/p1_b.vcf", "p1_b.vcf", "m2", 1L, "P1", "blood"),
      ("P2-T", "s3://b/p2_t.vcf", "p2_t.vcf", "m3", 1L, "P2", "tissue"),
      ("P2-B", "s3://b/p2_b.vcf", "p2_b.vcf", "m4", 1L, "P2", "blood"),
      ("P3-T", "s3://b/p3_t.vcf", "p3_t.vcf", "m5", 1L, "P3", "tissue"))
      .toDF("sample_id", "s3_url", "file_name", "md5sum", "file_size",
        "participant_id", "sample_type")
    (vcfDir.toString, manifest)
  }

  test("runAll: whole cohort in one DAG, germline subtraction stays per-patient") {
    val (vcfDir, manifest) = cohortFixture()
    val out = PedmatchFlow.runAll(spark, manifest, vcfDir)
    // fusion somatic ONLY for P1 — P2's germline copy must not erase
    // P1's (per-patient keying) and must itself be dropped
    val sv = out.sv.select("Sample_Id", "Site1_Hugo_Symbol",
      "Site2_Hugo_Symbol").as[(String, String, String)].collect().toSet
    assert(sv == Set(("P1-T", "EWSR1", "FLI1")))
    val cnvGot = out.cnvCalls.select("participant_id", "Hugo_Symbol")
      .as[(String, String)].collect().toSet
    assert(cnvGot == Set(("P1", "MYC")))
    val snvGot = out.snvs.select("participant_id", "POS", "t_GT", "n_GT")
      .as[(String, Long, String, String)].collect().toSet
    assert(snvGot == Set(("P1", 100L, "0/1", "0/0")))
    assert(out.skipped.select("participant_id").as[String].collect().toSeq
      == Seq("P3"))
  }

  test("runAll: the SV, CNV and SNV outputs read the cut, not the VCFs") {
    val (vcfDir, manifest) = cohortFixture()
    val out = PedmatchFlow.runAll(spark, manifest, vcfDir)
    Seq("sv" -> out.sv, "cnvCalls" -> out.cnvCalls, "snvs" -> out.snvs)
      .foreach { case (name, df) =>
        assert(!readsFiles(df), s"$name re-reads the VCFs")
      }
    assert(out.snvs.count() == 1)
  }

  test("DbCounter.reconcile flags mismatches") {
    val dump = Seq(("patient", 3L, 100L), ("sample", 2L, 50L))
      .toDF("table_name", "column_count", "row_count")
    val db = Seq(("patient", 3L, 100L), ("sample", 2L, 49L))
      .toDF("table_name", "column_count", "row_count")
    val got = DbCounter.reconcile(dump, db)
      .select("table_name", "rows_match").as[(String, Boolean)]
      .collect().toMap
    assert(got == Map("patient" -> true, "sample" -> false))
  }
}
