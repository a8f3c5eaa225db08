"""Correctness gate for one benchmark iteration.

`check(workload, truth, it_dir, facts)` reads the files one iteration
wrote, compares them with the generator's planted truth and the
flow's own report, and returns (problems, checksum). `problems` is a
list of strings, empty when the iteration is correct; `checksum` is
an order-independent digest of every output line, which the runner
requires to repeat across iterations.
"""

import glob
import hashlib
import os


def _lines(path):
    """Data lines of a Spark output directory (part files), header and
    comment lines dropped; also returns the header."""
    header, rows = None, []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            for line in fh:
                line = line.rstrip("\n")
                if line.startswith("#"):
                    continue
                if header is None:
                    header = line.split("\t")
                    continue
                if line == "\t".join(header):
                    continue
                rows.append(line)
    if header is None:
        raise ValueError("no output under %s" % path)
    return header, rows


def _table(path):
    header, rows = _lines(path)
    return [dict(zip(header, r.split("\t"))) for r in rows]


def checksum(it_dir):
    """Sum of per-line digests over every output file: independent of
    row order and of how rows are split into part files."""
    total = 0
    for path, _, files in os.walk(it_dir):
        name = os.path.relpath(path, it_dir).encode()
        for f in files:
            if not f.startswith("part-"):
                continue
            with open(os.path.join(path, f), "rb") as fh:
                for line in fh:
                    d = hashlib.blake2b(name + b"\0" + line.rstrip(b"\n"), digest_size=8).digest()
                    total = (total + int.from_bytes(d, "little")) % (1 << 64)
    return "%016x" % total


def _expect(problems, what, got, want):
    if got != want:
        problems.append("%s: got %r, want %r" % (what, got, want))


def check_cnv(truth, d):
    p = []
    _, seg = _lines(os.path.join(d, "data_cna.seg"))
    _expect(p, "SEG rows", len(seg), truth["segments"])
    for name in ("data_log2_cna", "data_cna"):
        header, rows = _lines(os.path.join(d, name))
        _expect(p, name + " rows", len(rows), truth["matrix_rows"])
        _expect(p, name + " columns", len(header), truth["samples"] + 1)
    # the flow's own report: per-sample segment and gene-call counts
    rec = _table(os.path.join(d, "reconciliation"))
    _expect(p, "reconciliation rows", len(rec), truth["samples"])
    for r in rec:
        s = r["sample_id"]
        _expect(p, "reconciliation expected_count " + s, int(r["expected_count"]),
                truth["segments_per_sample"].get(s))
        _expect(p, "reconciliation observed_count " + s, int(r["observed_count"]),
                truth["calls_per_sample"].get(s))
    return p


def _per(rows, col):
    n = {}
    for r in rows:
        n[r[col]] = n.get(r[col], 0) + 1
    return n


def check_pedmatch(truth, d):
    p = []
    _expect(p, "somatic SNVs per participant",
            _per(_table(os.path.join(d, "data_snv")), "participant_id"), truth["somatic_snvs"])
    _expect(p, "fusion pairs per sample",
            _per(_table(os.path.join(d, "data_sv")), "Sample_Id"), truth["fusion_pairs"])
    _expect(p, "amplified genes per participant",
            _per(_table(os.path.join(d, "data_cnv")), "participant_id"), truth["amplified_genes"])
    _expect(p, "skipped participants",
            sorted(r["participant_id"] for r in _table(os.path.join(d, "skipped"))),
            truth["skipped"])
    return p


def check_maf(truth, d):
    p = []
    check = _table(os.path.join(d, "concat_check"))
    _expect(p, "concat check files", len(check), truth["files"])
    rerun = [r["file_name"] for r in check if r["needs_rerun"] != "false"]
    _expect(p, "files needing a rerun", rerun, [])
    _, maf = _lines(os.path.join(d, "annotated_maf"))
    _expect(p, "annotated MAF rows", len(maf), truth["pass_rows"])
    _, mega = _lines(os.path.join(d, "mega_maf"))
    _expect(p, "merged megaMAF rows", len(mega), truth["merged_rows"])
    dump = {r["table_name"]: [int(r["column_count"]), int(r["row_count"])]
            for r in _table(os.path.join(d, "dump_counts"))}
    _expect(p, "dump counts", dump, truth["dump_tables"])
    return p


def check_flows(truth, d):
    return check_cnv(truth["cnv"], os.path.join(d, "cnv")) + \
        check_pedmatch(truth["pedmatch"], os.path.join(d, "pedmatch")) + \
        check_maf(truth["maf"], os.path.join(d, "maf"))


def check(workload, truth, it_dir, facts):
    """Problems found in one iteration's outputs, and their checksum."""
    if "error" in facts:
        return ["iteration raised: " + facts["error"]], None
    if workload == "query_suite":
        return ["row failed: " + r for r in facts.get("failed_rows", [])], None
    try:
        problems = check_flows(truth, it_dir)
    except (OSError, ValueError, KeyError) as e:
        return ["unreadable output: %s" % e], None
    return problems, checksum(it_dir)
