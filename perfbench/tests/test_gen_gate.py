"""Tests of the input generator and the correctness gate.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gate  # noqa: E402
import gen  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_byte_identical_files(self):
        for w in sorted(gen.GENERATORS):
            a, b, c = (os.path.join(self.tmp, w + x) for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            self.assertTrue(same_tree(a, b), w)
            self.assertFalse(same_tree(a, c), w)

    def test_cache_regenerates_a_modified_input(self):
        d = os.path.join(self.tmp, "flows")
        truth = gen.generate("flows", 3, d)
        gtf = os.path.join(d, "cnv", "genes.gtf")
        with open(gtf, "a") as f:
            f.write("chr1\tx\tgene\t1\t10\t.\t+\t.\tgene_name \"EXTRA\";\n")
        self.assertEqual(gen.cached("flows", 3, d), truth)
        ref = os.path.join(self.tmp, "ref")
        gen.generate("flows", 3, ref)
        self.assertTrue(same_tree(d, ref))


def write_part(d, lines):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.csv"), "w") as f:
        f.write("".join(l + "\n" for l in lines))


class GateTest(unittest.TestCase):
    """The gate on hand-made outputs that match a small planted truth."""

    truth = {
        "cnv": {"segments": 2, "samples": 2, "matrix_rows": 1,
                "segments_per_sample": {"A-1": 1, "B-2": 1},
                "calls_per_sample": {"A-1": 1, "B-2": 1}},
        "pedmatch": {"somatic_snvs": {"P1": 2, "P2": 1}, "fusion_pairs": {"P1-T": 1},
                     "amplified_genes": {"P2": 1}, "skipped": ["P3"]},
        "maf": {"files": 1, "pass_rows": 2, "merged_rows": 3,
                "dump_tables": {"t": [2, 5]}},
    }

    def setUp(self):
        self.it = tempfile.mkdtemp()
        c, m = os.path.join(self.it, "cnv"), os.path.join(self.it, "maf")
        write_part(os.path.join(c, "data_cna.seg"), ["ID\tchrom", "A-1\t1", "B-2\t1"])
        write_part(os.path.join(c, "data_log2_cna"), ["Hugo_Symbol\tA-1\tB-2", "G1\t0.5\tNA"])
        write_part(os.path.join(c, "data_cna"), ["Hugo_Symbol\tA-1\tB-2", "G1\t1\t0"])
        write_part(os.path.join(c, "reconciliation"), [
            "sample_id\texpected_count\tobserved_count\tmismatch",
            "A-1\t1\t1\tfalse", "B-2\t1\t1\tfalse"])
        pm = os.path.join(self.it, "pedmatch")
        write_part(os.path.join(pm, "data_snv"), [
            "participant_id\tCHROM\tPOS", "P1\tchr1\t10", "P1\tchr1\t20", "P2\tchr2\t5"])
        write_part(os.path.join(pm, "data_sv"), ["Sample_Id\tEvent_Info", "P1-T\tFUS01"])
        write_part(os.path.join(pm, "data_cnv"), ["participant_id\tHugo_Symbol", "P2\tAMP1"])
        write_part(os.path.join(pm, "skipped"), ["participant_id\tn_tissue\tn_blood", "P3\t1\t0"])
        write_part(os.path.join(m, "concat_check"), ["file_name\tneeds_rerun", "a.vcf\tfalse"])
        write_part(os.path.join(m, "annotated_maf"), ["#version 2.4", "H\tB", "G\ta", "G\tb"])
        write_part(os.path.join(m, "mega_maf"), ["#version 2.4", "H\tB", "G\ta", "G\tb", "G\tc"])
        write_part(os.path.join(m, "dump_counts"), [
            "table_name\tcolumn_count\trow_count", "t\t2\t5"])

    def tearDown(self):
        shutil.rmtree(self.it)

    def check(self):
        return gate.check("flows", self.truth, self.it, {})

    def test_clean_outputs_pass(self):
        problems, cs = self.check()
        self.assertEqual(problems, [])
        self.assertIsNotNone(cs)

    def test_corrupted_outputs_fail(self):
        corruptions = [
            ("cnv/data_cna", ["Hugo_Symbol\tA-1\tB-2"]),                       # row lost
            ("cnv/reconciliation", ["sample_id\texpected_count\tobserved_count\tmismatch",
                                    "A-1\t1\t2\ttrue", "B-2\t1\t1\tfalse"]),  # report unclean
            ("cnv/reconciliation", ["sample_id\texpected_count\tobserved_count\tmismatch",
                                    "A-1\t1\t1\tfalse"]),                # a sample's row lost
            ("pedmatch/data_snv", ["participant_id\tCHROM\tPOS", "P1\tchr1\t10",
                                   "P2\tchr2\t5"]),                       # somatic SNV lost
            ("pedmatch/data_sv", ["Sample_Id\tEvent_Info", "P1-T\tFUS01",
                                  "P1-T\tFUS02"]),                         # germline fusion kept
            ("pedmatch/data_cnv", ["participant_id\tHugo_Symbol"]),        # amplification lost
            ("pedmatch/skipped", ["participant_id\tn_tissue\tn_blood"]),  # unpaired not reported
            ("maf/concat_check", ["file_name\tneeds_rerun", "a.vcf\ttrue"]),  # needs rerun
            ("maf/dump_counts", ["table_name\tcolumn_count\trow_count", "t\t2\t4"]),
            ("maf/mega_maf", ["#version 2.4", "H\tB", "G\ta"]),
        ]
        for rel, lines in corruptions:
            self.tearDown()
            self.setUp()
            write_part(os.path.join(self.it, rel), lines)
            problems, _ = self.check()
            self.assertTrue(problems, rel)

    def test_missing_output_fails(self):
        shutil.rmtree(os.path.join(self.it, "maf", "annotated_maf"))
        problems, _ = self.check()
        self.assertTrue(problems)

    def test_checksum_ignores_row_order_but_not_values(self):
        _, cs = self.check()
        write_part(os.path.join(self.it, "maf", "mega_maf"),
                   ["#version 2.4", "H\tB", "G\tc", "G\tb", "G\ta"])
        self.assertEqual(self.check()[1], cs)
        write_part(os.path.join(self.it, "cnv", "data_log2_cna"),
                   ["Hugo_Symbol\tA-1\tB-2", "G1\t0.6\tNA"])
        self.assertNotEqual(self.check()[1], cs)

    def test_failed_suite_rows_are_problems(self):
        problems, _ = gate.check("query_suite", {}, self.it, {"failed_rows": ["q_x"]})
        self.assertEqual(len(problems), 1)


if __name__ == "__main__":
    unittest.main()
