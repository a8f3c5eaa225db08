"""Seeded input generator for the graft benchmark.

Writes every input one workload reads, plus `truth.json`: the planted
answer the correctness gate compares outputs against. Only the
standard library and pyarrow (for the suite's parquet tables) are
used; nothing is downloaded. The same (workload, seed) always gives
byte-identical files.

    python3 perfbench/gen.py --workload flows --seed 1 --out DIR
"""

import argparse
import bisect
import hashlib
import json
import math
import os
import random
import shutil

# GRCh38 primary-assembly lengths (bp), chr1..chr22, chrX, chrY.
CHROM_LEN = [
    248956422, 242193529, 198295559, 190214555, 181538259, 170805979,
    159345973, 145138636, 138394717, 133797422, 135086622, 133275309,
    114364328, 107043718, 101991189, 90338345, 83257441, 80373285,
    58617616, 64444167, 46709983, 50818468, 156040895, 57227415]
CHROMS = [str(i) for i in range(1, 23)] + ["X", "Y"]

# ---- sizes (recorded in perfbench/README.md) ----
CNV_SAMPLES = 6
CNV_GENES = 4000
SEGMENTS_PER_GB = 180        # ~550 segments per sample
MAF_SAMPLES = 8
MAF_RECORDS = 800          # VCF records per sample
MAF_RECUR_SHARE = 0.3      # share of records drawn from a shared pool
MAF_EXISTING_ROWS = 30000  # rows of the existing megaMAF
MAF_CLINICAL_ROWS = 1500
DUMP_TABLES = 12
PED_PAIRED = 6             # participants with one tumor and one blood VCF
PED_GERMLINE = 600         # shared germline SNVs per participant
PED_SOMATIC = 240          # tumor-only SNVs per participant
PED_BLOOD_ONLY = 160       # blood-only SNVs per participant
SUITE_SCALE = 0.002        # sf of the suite tables (sf0.001 = 6k lineitem)


def _w(path, text):
    with open(path, "w", newline="\n") as f:
        f.write(text)


# ----------------------------------------------------------------- CNV

def gen_cnv(rng, out):
    """Nested CNV JSON (one doc per sample) + GTF + manifest.

    Segments tile each chromosome with log-uniform lengths in
    [10 kb, 50 Mb]. Gene BED lengths are odd, so at most one segment
    can cover half a gene: every (gene, sample) cell has one value.
    """
    jdir = os.path.join(out, "cnv_json")
    os.makedirs(jdir)
    # genes: unique names, random placement, odd BED length
    genes = []          # kept after geneBed: (chrom, bed_start, end, name)
    gtf = []
    per_chrom = [max(1, round(CNV_GENES * L / sum(CHROM_LEN))) for L in CHROM_LEN]
    gid = 0
    for ci, c in enumerate(CHROMS):
        for _ in range(per_chrom[ci]):
            ln = rng.randrange(1000, 200000) | 1          # BED length, odd
            s1 = rng.randrange(1, CHROM_LEN[ci] - ln - 1)  # 1-based start
            e = s1 + ln - 1
            name = "G%05d" % gid
            gid += 1
            genes.append(("chr" + c, s1 - 1, e, name))
            gtf.append((c, s1, e, name, "protein_coding", ""))
    # rows the flow must drop: other features, non-coding genes,
    # readthrough genes, chrM, a same-coordinate twin with a later
    # name (keep-first), a shorter same-name copy (keep-longest)
    extra = []
    for g in rng.sample(genes, 400):
        c, bs, e, n = g
        extra.append((c[3:], bs + 1, e, n, "protein_coding", "transcript"))
    for i in range(300):
        c = rng.randrange(len(CHROMS))
        s = rng.randrange(1, CHROM_LEN[c] - 100000)
        extra.append((CHROMS[c], s, s + 5000, "LNC%04d" % i, "lncRNA", ""))
    for i in range(40):
        c = rng.randrange(len(CHROMS))
        s = rng.randrange(1, CHROM_LEN[c] - 100000)
        extra.append((CHROMS[c], s, s + 8001, "RT%03d" % i, "protein_coding",
                      "readthrough"))
    for i in range(13):
        extra.append(("M", 100 + i * 1000, 900 + i * 1000, "MT-%02d" % i,
                      "protein_coding", ""))
    for g in rng.sample(genes, 200):
        c, bs, e, n = g
        extra.append((c[3:], bs + 1, e, "Z" + n, "protein_coding", ""))
    for g in rng.sample(genes, 200):
        c, bs, e, n = g
        if e - bs > 3000:
            extra.append((c[3:], bs + 2, e - 1, n, "protein_coding", ""))
    lines = ["##description: generated GTF", "##provider: perfbench"]
    for c, s, e, n, typ, kind in sorted(gtf + extra, key=lambda r: (r[0], r[1], r[3])):
        feature = "transcript" if kind == "transcript" else "gene"
        attrs = 'gene_id "E%s"; gene_type "%s"; gene_name "%s";' % (n, typ, n)
        if kind == "readthrough":
            attrs += ' tag "readthrough_gene";'
        lines.append("chr%s\tHAVANA\t%s\t%d\t%d\t.\t+\t.\t%s" % (c, feature, s, e, attrs))
    _w(os.path.join(out, "genes.gtf"), "\n".join(lines) + "\n")

    by_chrom = {}
    for c, bs, e, n in genes:
        by_chrom.setdefault(c, []).append((bs, e, n))
    lo, hi = math.log(1e4), math.log(5e7)
    manifest = ["sample_id\ts3_url\tfile_name\tmd5sum\tfile_size"]
    seg_per_sample, calls_per_sample = {}, {}
    cells = set()
    n_segments = 0
    for si in range(CNV_SAMPLES):
        sample = "PT%03d-S%03d" % (si, si)
        segs, ncalls = [], 0
        for ci, c in enumerate(CHROMS):
            chrom = "chr" + c
            # a fixed segment count per chromosome (the same for every
            # seed), log-uniform lengths scaled to tile it exactly
            n = max(1, SEGMENTS_PER_GB * CHROM_LEN[ci] // 10 ** 9)
            lens = [math.exp(rng.uniform(lo, hi)) for _ in range(n)]
            total, acc, bounds = sum(lens), 0.0, [0]
            for x in lens:
                acc += x
                bounds.append(max(bounds[-1] + 1, round(CHROM_LEN[ci] * acc / total)))
            bounds[-1] = CHROM_LEN[ci]
            starts, ends = bounds[:-1], bounds[1:]
            for pos, end in zip(starts, ends):
                lr = round(rng.gauss(0.0, 0.8), 4)
                pts = rng.randrange(5, 5000)
                segs.append(
                    '{"position": {"chrom": "%s", "start": %d, "end": %d, "length": %d}, '
                    '"cnv": {"log2_copy_ratio": %r, "cnv_supporting_points": %d, '
                    '"cnv_supporting_reads": %d, "log2_pval": %r, '
                    '"log2_copy_ratio_90per_ci_low": %r, "log2_copy_ratio_90per_ci_high": %r}}'
                    % (chrom, pos, end, end - pos, lr, pts, pts * 3,
                       round(rng.random(), 4), round(lr - 0.2, 4), round(lr + 0.2, 4)))
            # planted calls: overlap >= half the gene's BED length
            for bs, e, n in by_chrom.get(chrom, []):
                i = bisect.bisect_right(starts, bs) - 1
                while i < len(starts) and starts[i] < e:
                    ov = min(e, ends[i]) - max(bs, starts[i])
                    if ends[i] > bs and ov >= 0.5 * (e - bs):
                        ncalls += 1
                        cells.add(n)
                    i += 1
        seg_per_sample[sample] = len(segs)
        calls_per_sample[sample] = ncalls
        n_segments += len(segs)
        doc = ('{"metadata": {"sample_name": "%s"},\n "segments": [\n  %s]}\n'
               % (sample, ",\n  ".join(segs)))
        fname = "%s.cnv.json" % sample
        _w(os.path.join(jdir, fname), doc)
        manifest.append("%s\ts3://bench/cnv/%s\t%s\t%s\t%d" % (
            sample, fname, fname, hashlib.md5(doc.encode()).hexdigest(), len(doc)))
    _w(os.path.join(out, "cnv_manifest.tsv"), "\n".join(manifest) + "\n")
    return {
        "records": n_segments,
        "segments": n_segments,
        "samples": CNV_SAMPLES,
        "genes": len(genes),
        "gtf_rows": len(gtf) + len(extra),
        "matrix_rows": len(cells),
        "calls": sum(calls_per_sample.values()),
        "segments_per_sample": seg_per_sample,
        "calls_per_sample": calls_per_sample,
    }


# ----------------------------------------------------------- VCF text

VCF_HEAD = ("##fileformat=VCFv4.2\n##source=perfbench\n"
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tSAMPLE\n")
BASES = "ACGT"


def _alt(rng, ref):
    return rng.choice([b for b in BASES if b != ref])


def _gt_fields(rng, gt):
    dp = rng.randrange(20, 400)
    return "%s:%d:%d:%d:%d:%d:%d:%d:%.3f" % (
        gt, rng.randrange(30, 99), dp, rng.randrange(0, 9), rng.randrange(0, 9),
        rng.randrange(0, dp), rng.randrange(0, 9), rng.randrange(0, dp),
        rng.random())


FMT = "GT:GQ:DP:RO:AO:FRO:QA:FAO:AF"


def _snv_line(chrom, pos, vid, ref, alt, filt, info, sample):
    return "chr%s\t%d\t%s\t%s\t%s\t%d\t%s\t%s\t%s\t%s" % (
        chrom, pos, vid, ref, alt, 50, filt, info, FMT, sample)


# ------------------------------------------------------------ pedmatch

def _ped_vcf(rows):
    rows.sort()
    return VCF_HEAD + "".join(r[2] + "\n" for r in rows)


def gen_pedmatch(rng, out):
    """Tumor/blood VCF pairs per participant plus a manifest, for
    `PedmatchFlow.runAll`. Every file mixes shared germline SNVs
    (same genotype in both), tumor-only SNVs, multiallelic sites,
    loss-of-heterozygosity sites, non-PASS rows, fusion breakpoint
    pairs and amplification rows; two participants are unpaired.

    Planted answer, per paired participant: somatic SNV rows after the
    multiallelic split, somatic fusion pairs (tumor pairs absent from
    the blood) and somatic amplified genes (tumor genes absent from the
    blood; rows on KI270 contigs are dropped)."""
    vdir = os.path.join(out, "vcf")
    os.makedirs(vdir)
    manifest = ["participant_id\tsample_type\tsample_id\tfile_name"]
    snvs, fusions, amps = {}, {}, {}
    records = 0

    def site(seen):
        while True:
            c = rng.randrange(24)
            pos = rng.randrange(10000, CHROM_LEN[c] - 10000)
            if (c, pos) not in seen:
                seen.add((c, pos))
                return c, pos

    def snv(c, pos, ref, alt, gt, filt="PASS"):
        return (c, pos, _snv_line(CHROMS[c], pos, ".", ref, alt, filt,
                                  "DP=%d" % rng.randrange(20, 400), _gt_fields(rng, gt)))

    def write(name, rows, participant, kind, sample):
        nonlocal records
        _w(os.path.join(vdir, name), _ped_vcf(rows))
        manifest.append("%s\t%s\t%s\t%s" % (participant, kind, sample, name))
        records += len(rows)

    for p in range(PED_PAIRED + 2):
        pid = "PED-%03d" % p
        seen, tumor, blood = set(), [], []
        n_somatic = 0
        for _ in range(PED_GERMLINE):
            c, pos = site(seen)
            ref = rng.choice(BASES)
            alt, gt = _alt(rng, ref), rng.choice(["0/1", "0/1", "1/1"])
            tumor.append(snv(c, pos, ref, alt, gt))
            blood.append(snv(c, pos, ref, alt, gt))
        for i in range(PED_SOMATIC):
            c, pos = site(seen)
            ref = rng.choice(BASES)
            if i % 10 == 0:       # not PASS: dropped before the merge
                tumor.append(snv(c, pos, ref, _alt(rng, ref), "0/1", "LowQual"))
            else:
                tumor.append(snv(c, pos, ref, _alt(rng, ref), "0/1"))
                n_somatic += 1
        for i in range(60):       # multiallelic: 1/2 keeps both alleles, 0/1 only the first
            c, pos = site(seen)
            ref = rng.choice(BASES)
            alts = [b for b in BASES if b != ref]
            rng.shuffle(alts)
            gt = "1/2" if i % 2 == 0 else "0/1"
            tumor.append(snv(c, pos, ref, ",".join(alts[:2]), gt))
            n_somatic += 2 if gt == "1/2" else 1
        for _ in range(40):       # loss of heterozygosity: tumor 1/1, blood 0/1
            c, pos = site(seen)
            ref = rng.choice(BASES)
            alt = _alt(rng, ref)
            tumor.append(snv(c, pos, ref, alt, "1/1"))
            blood.append(snv(c, pos, ref, alt, "0/1"))
            n_somatic += 1
        for _ in range(PED_BLOOD_ONLY):
            c, pos = site(seen)
            ref = rng.choice(BASES)
            blood.append(snv(c, pos, ref, _alt(rng, ref), "0/1"))
        # fusions: two breakpoint rows sharing an id prefix; the first
        # two are germline (also in the blood)
        n_fusions = 0
        for f in range(6):
            fid = "FUS%02d" % f
            genes = rng.sample(["ALK", "EML4", "RET", "ROS1", "NTRK1", "FGFR3", "TACC3",
                                "BRAF", "KIAA1549", "NRG1"], 2)
            rows = []
            for k in (0, 1):
                c, pos = site(seen)
                info = "SVTYPE=Fusion;GENE_NAME=%s;EXON_NUM=%d;ANNOTATION=%s;READ_COUNT=%d" % (
                    genes[k], rng.randrange(1, 30), "%s-%s" % tuple(genes), rng.randrange(10, 5000))
                rows.append((c, pos, "chr%s\t%d\t%s_%d\tN\t<FUSION>\t50\tPASS\t%s\t%s\t%s" % (
                    CHROMS[c], pos, fid, k + 1, info, FMT, _gt_fields(rng, "0/1"))))
            tumor += rows
            if f < 2:
                blood += rows
            else:
                n_fusions += 1
        # amplifications: one row per gene; three genes also amplified
        # in the blood, one row on an unplaced contig
        n_amps = 0
        for g in range(9):
            c, pos = site(seen)
            info = "SVTYPE=CNV;END=%d;NUMTILES=%d;RAW_CN=%.2f;GENE_NAME=AMP%d;FUNC=Amplification" % (
                pos + 50000, rng.randrange(5, 80), rng.uniform(4.0, 30.0), g)
            chrom = "Un_KI270742v1" if g == 8 else CHROMS[c]
            row = (c, pos, "chr%s\t%d\t.\tN\t<CNV>\t50\tPASS\t%s\t%s\t%s" % (
                chrom, pos, info, FMT, _gt_fields(rng, "1/1")))
            tumor.append(row)
            if g < 3:
                blood.append(row)
            elif g < 8:
                n_amps += 1
        if p < PED_PAIRED:
            write(pid + "_tumor.vcf", tumor, pid, "tissue", pid + "-T")
            write(pid + "_blood.vcf", blood, pid, "blood", pid + "-B")
            snvs[pid], fusions[pid + "-T"], amps[pid] = n_somatic, n_fusions, n_amps
        elif p == PED_PAIRED:     # tumor only
            write(pid + "_tumor.vcf", tumor, pid, "tissue", pid + "-T")
        else:                     # two tumors and a blood
            write(pid + "_tumor.vcf", tumor, pid, "tissue", pid + "-T")
            write(pid + "_tumor2.vcf", list(tumor), pid, "tissue", pid + "-T2")
            write(pid + "_blood.vcf", blood, pid, "blood", pid + "-B")
    _w(os.path.join(out, "manifest.tsv"), "\n".join(manifest) + "\n")
    return {"records": records, "somatic_snvs": snvs, "fusion_pairs": fusions,
            "amplified_genes": amps,
            "skipped": ["PED-%03d" % p for p in (PED_PAIRED, PED_PAIRED + 1)]}


# ----------------------------------------------------------- maf merge

MAF_COLS = ["Hugo_Symbol", "Tumor_Sample_Barcode", "Chromosome", "Start_Position",
            "End_Position", "Reference_Allele", "Tumor_Seq_Allele2",
            "Variant_Classification", "reported_significance", "source"]
SIGNIF = ["Pathogenic", "Likely pathogenic", "Benign", "Not Reported"]


def gen_maf(rng, out):
    """VCFs for annotation (variants recur across samples at a fixed
    share), an existing megaMAF, clinical rows and a SQL dump."""
    vdir = os.path.join(out, "vcf")
    os.makedirs(vdir)
    pool = []
    for _ in range(2000):
        c = rng.randrange(24)
        ref = rng.choice(BASES)
        pool.append((CHROMS[c], rng.randrange(10000, CHROM_LEN[c] - 10000), ref, _alt(rng, ref)))
    manifest = ["file_name\tsample\tmd5sum\tfile_url\texpected_variants"]
    keys = set()            # merge keys of every new (annotated) row
    distinct_vars = set()
    pass_rows = 0
    for s in range(MAF_SAMPLES):
        barcode = "MCI-%04d" % s
        seen, body, n_pass = set(), [], 0
        # exactly 10% of each sample's records fail the filter
        failing = set(rng.sample(range(MAF_RECORDS), MAF_RECORDS // 10))
        while len(body) < MAF_RECORDS:
            if rng.random() < MAF_RECUR_SHARE:
                v = rng.choice(pool)
            else:
                c = rng.randrange(24)
                ref = rng.choice(BASES) * rng.choice([1, 1, 1, 2])
                v = (CHROMS[c], rng.randrange(10000, CHROM_LEN[c] - 10000), ref, _alt(rng, ref[0]))
            if (v[0], v[1]) in seen:
                continue
            seen.add((v[0], v[1]))
            filt = "LowQual" if len(body) in failing else "PASS"
            if filt == "PASS":
                n_pass += 1
                distinct_vars.add(v)
                keys.add((barcode, v[0], v[1], v[2], v[3]))
            ci = CHROMS.index(v[0])
            body.append((ci, v[1], _snv_line(v[0], v[1], ".", v[2], v[3], filt, "DP=50",
                                             _gt_fields(rng, "0/1"))))
        body.sort()
        text = VCF_HEAD + "".join(r[2] + "\n" for r in body)
        fname = "%s.vcf" % barcode
        _w(os.path.join(vdir, fname), text)
        manifest.append("%s\t%s\t%s\ts3://bench/anno/%s\t%d" % (
            fname, barcode, hashlib.md5(text.encode()).hexdigest(), fname, n_pass))
        pass_rows += n_pass
    _w(os.path.join(out, "anno_manifest.tsv"), "\n".join(manifest) + "\n")

    # existing megaMAF; some of its keys are re-reported by new rows
    # re-reported keys carry a reported significance, so the existing
    # row outranks the unreported annotated one: each key has one winner
    rereported = rng.sample(sorted(keys), 2000)
    lines = ["#version 2.4", "\t".join(MAF_COLS)]
    for i in range(MAF_EXISTING_ROWS):
        signif = rng.choice(SIGNIF)
        if i < len(rereported):
            b, c, pos, ref, alt = rereported[i]
            signif = rng.choice(SIGNIF[:3])
        else:
            b = "OLD-%05d" % rng.randrange(20000)
            ci = rng.randrange(24)
            c, pos = CHROMS[ci], rng.randrange(10000, CHROM_LEN[ci] - 10000)
            ref = rng.choice(BASES)
            alt = _alt(rng, ref)
        keys.add((b, c, pos, ref, alt))
        lines.append("\t".join([
            "GENE%d" % rng.randrange(5000), b, c, str(pos), str(pos + len(ref) - 1),
            ref, alt, "Missense_Mutation", signif, "existing"]))
    _w(os.path.join(out, "mega.maf"), "\n".join(lines) + "\n")

    # clinical rows: only Somatic/Present/supported-test rows survive
    cl = ["Tumor_Sample_Barcode\tchromosome\tStart_Position\tReference_Allele\t"
          "Tumor_Seq_Allele2\tHugo_Symbol\tgenomic_source_category\tstatus\ttest\t"
          "reported_significance"]
    kept = 0
    for i in range(MAF_CLINICAL_ROWS):
        ci = rng.randrange(24)
        ref = rng.choice(BASES)
        row = ("MCI-%04d" % rng.randrange(MAF_SAMPLES), CHROMS[ci],
               rng.randrange(10000, CHROM_LEN[ci] - 10000), ref, _alt(rng, ref))
        src = "Somatic" if rng.random() < 0.8 else "Germline"
        status = "Present" if rng.random() < 0.9 else "Absent"
        test = rng.choice(["Oncomine", "Oncomine", "Oncomine", "WES"])
        if src == "Somatic" and status == "Present" and test == "Oncomine":
            kept += 1
            keys.add(row)
        cl.append("%s\tchr%s\t%d\t%s\t%s\tGENE%d\t%s\t%s\t%s\t%s" % (
            row + (rng.randrange(5000), src, status, test, rng.choice(SIGNIF[:3]))))
    _w(os.path.join(out, "clinical.tsv"), "\n".join(cl) + "\n")

    # SQL dump: CREATE blocks plus three INSERT forms
    tables = {}
    # the same table shapes for every seed, in a seeded order
    shapes = [(3 + t % 9, 50 + t * 250) for t in range(DUMP_TABLES)]
    rng.shuffle(shapes)
    d = ["-- generated dump", "CREATE DATABASE `cbio`;", "USE `cbio`;"]
    tuples = 0
    for t in range(DUMP_TABLES):
        name = "table_%02d" % t
        ncol, nrow = shapes[t]
        d.append("DROP TABLE IF EXISTS `%s`;" % name)
        d.append("CREATE TABLE `%s` (" % name)
        for c in range(ncol):
            d.append("  `c%d` %s," % (c, "BIGINT" if c == 0 else "VARCHAR(64)"))
        d.append("  PRIMARY KEY (`c0`)")
        d.append(") ENGINE=InnoDB;")

        def tup(r):
            return "(" + ",".join([str(r)] + ["'v%d_%d'" % (r, c) for c in range(1, ncol)]) + ")"
        r = 0
        while r < nrow:
            form = rng.random()
            k = min(nrow - r, rng.randrange(1, 60))
            if form < 0.3:
                d.append("INSERT INTO `%s` VALUES %s;" % (name, tup(r)))
                r += 1
            elif form < 0.8:
                values = ",".join(tup(r + j) for j in range(k))
                d.append("INSERT INTO `%s` VALUES %s;" % (name, values))
                r += k
            else:
                d.append("INSERT INTO `%s` VALUES" % name)
                for j in range(k):
                    d.append(tup(r + j) + ("," if j < k - 1 else ";"))
                r += k
        tables[name] = [ncol, nrow]
        tuples += nrow
    _w(os.path.join(out, "dump.sql"), "\n".join(d) + "\n")
    return {"records": pass_rows + MAF_EXISTING_ROWS + tuples,
            "pass_rows": pass_rows, "distinct_variants": len(distinct_vars),
            "files": MAF_SAMPLES, "clinical_kept": kept,
            "merged_rows": len(keys), "dump_tables": tables, "dump_tuples": tuples}


# --------------------------------------------------------- query suite

WORDS = ("scan column window order sort part agg value line key join merge group query "
         "a vector hash slow stream filter fast the batch spark table small data big "
         "customer row").split()


def gen_suite(rng, out):
    """The suite's ten tables at SUITE_SCALE, same schemas and value
    domains as the suite's reference data."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq
    sf = SUITE_SCALE
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev, n_doc = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf), 500 * 2
    tables = {}
    tables["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    tables["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                        "n_name": ["NATION_%d" % i for i in range(25)],
                        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    seg = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables["customer"] = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(seg) for _ in range(n_cust)]}
    tables["supplier"] = {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)]}
    adj, noun = ["cold", "small", "large", "shiny", "red"], ["widget", "bolt", "gear", "nut"]
    tables["part"] = {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": ["%s %s" % (rng.choice(adj), rng.choice(noun)) for _ in range(n_part)],
        "p_brand": ["Brand#%d" % rng.randrange(1, 26) for _ in range(n_part)],
        "p_type": [rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
                   for _ in range(n_part)],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [round(900 + (i % 200) * 0.1, 2) for i in range(n_part)]}
    d0 = dt.datetime(1995, 1, 1)
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    tables["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array([d0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_ord)],
                                pa.timestamp("us")),
        "o_orderpriority": [rng.choice(pri) for _ in range(n_ord)]}
    lines = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate"]}
    for _ in range(n_li):
        q = float(rng.randrange(1, 51))
        lines["l_orderkey"].append(rng.randrange(n_ord))
        lines["l_partkey"].append(rng.randrange(n_part))
        lines["l_suppkey"].append(rng.randrange(n_supp))
        lines["l_linenumber"].append(rng.randrange(1, 8))
        lines["l_quantity"].append(q)
        lines["l_extendedprice"].append(round(q * rng.uniform(900, 2100), 2))
        lines["l_discount"].append(rng.randrange(11) / 100)
        lines["l_tax"].append(rng.randrange(9) / 100)
        lines["l_returnflag"].append(rng.choice("ANR"))
        lines["l_linestatus"].append(rng.choice("FO"))
        lines["l_shipdate"].append(d0 + dt.timedelta(days=rng.randrange(2500)))
    lines["l_orderkey"] = pa.array(lines["l_orderkey"], pa.int64())
    lines["l_partkey"] = pa.array(lines["l_partkey"], pa.int64())
    lines["l_suppkey"] = pa.array(lines["l_suppkey"], pa.int64())
    lines["l_linenumber"] = pa.array(lines["l_linenumber"], pa.int32())
    lines["l_shipdate"] = pa.array(lines["l_shipdate"], pa.timestamp("us"))
    tables["lineitem"] = lines
    e0 = dt.datetime(2024, 1, 1)
    ts = sorted(e0 + dt.timedelta(seconds=rng.uniform(0, 30 * 86400)) for _ in range(n_ev))
    tables["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(max(15, n_ev // 60)) for _ in range(n_ev)], pa.int64()),
        "event_type": [rng.choice(["click", "error", "purchase", "signup", "view"])
                       for _ in range(n_ev)],
        "value": [round(rng.uniform(0.01, 330), 2) for _ in range(n_ev)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_ev)]}
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.06:     # near-duplicate of an earlier doc
            t = texts[rng.randrange(len(texts))] + " dup"
        else:
            t = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(8, 90)))
        texts.append(t)
    tables["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()), "text": texts,
        "lang": [rng.choice(["de", "en", "es", "fr", "zh"]) for _ in range(n_doc)],
        "source": ["src%d" % rng.randrange(20) for _ in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    n_vec = 500 * 2
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array([[rng.gauss(0, 0.12) for _ in range(64)] for _ in range(n_vec)],
                              pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_vec)], pa.int32())}
    rows = {}
    for name, cols in tables.items():
        tb = pa.table(cols)
        rows[name] = tb.num_rows
        pq.write_table(tb, os.path.join(out, name + ".parquet"), compression="snappy")
    return {"records": sum(rows.values()), "rows": rows}


def gen_flows(rng, out):
    """Inputs of the three flows: CNV under cnv/, tumor/blood VCFs under
    pedmatch/, VCF annotation and merge under maf/."""
    truth = {}
    for name, g in (("cnv", gen_cnv), ("pedmatch", gen_pedmatch), ("maf", gen_maf)):
        os.makedirs(os.path.join(out, name))
        truth[name] = g(rng, os.path.join(out, name))
    truth["records"] = sum(truth[k]["records"] for k in ("cnv", "pedmatch", "maf"))
    return truth


GENERATORS = {"flows": gen_flows, "query_suite": gen_suite}


def checksum(d):
    """sha256 over this generator's source and every file under d except
    the checksum file itself, so a changed generator regenerates."""
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(hashlib.sha256(f.read()).digest())
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            if f == "SHA256":
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out` (replaced)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = random.Random("%s:%d" % (workload, seed))
    truth = GENERATORS[workload](rng, out)
    truth.update({"workload": workload, "seed": seed})
    _w(os.path.join(out, "truth.json"), json.dumps(truth, sort_keys=True, indent=1) + "\n")
    _w(os.path.join(out, "SHA256"), checksum(out) + "\n")
    return truth


def cached(workload, seed, out):
    """Reuse `out` when its recorded checksum still matches, else regenerate."""
    try:
        with open(os.path.join(out, "SHA256")) as f:
            if f.read().strip() == checksum(out):
                with open(os.path.join(out, "truth.json")) as t:
                    return json.load(t)
    except OSError:
        pass
    return generate(workload, seed, out)


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    truth = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: v for k, v in truth.items() if not isinstance(v, dict)}))


if __name__ == "__main__":
    main()
