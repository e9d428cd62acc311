"""Tests of the benchmark's input generator and ground-truth checks.

    python3 -m unittest discover -s lakebench -p 'test_*.py'

Run from the repository root. The generator tests take seconds. The
perturbation tests build the program (if needed) and run each workload
twice, once with one expected value corrupted. To run only the generator
tests:

    python3 -m unittest discover -s lakebench -p 'test_*.py' -k Determinism -k PlantedCounts
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_run", "test")


def rows(path):
    return [tuple(r.values()) for r in pq.read_table(path).to_pylist()]


def generated(workload, seed, tag):
    out = os.path.join(SCRATCH, f"{workload}-{seed}-{tag}")
    shutil.rmtree(out, ignore_errors=True)
    return gen.generate(workload, seed, out), out


def files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in gen.WORKLOADS:
            _, a = generated(w, 7, "a")
            _, b = generated(w, 7, "b")
            _, c = generated(w, 8, "c")
            self.assertEqual(files(a), files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            _, mismatch, _ = filecmp.cmpfiles(a, c, files(a), shallow=False)
            self.assertIn("manifest.json", mismatch, w)
            self.assertTrue(any(f.endswith(".parquet") for f in mismatch), w)


# The orchestrator's rules per raw file: not-null columns, key columns,
# and the raw file/column the RI check looks keys up in.
RULES = {"orders": ((0, 1, 4), (0,), ("lineitem", 0)),
         "lineitem": ((0, 1, 10), (0, 3), ("orders", 0)),
         "part": ((0, 1), (0,), ("lineitem", 1))}


class PlantedCounts(unittest.TestCase):
    """Recount what each batch plants from the files alone and compare
    with what the generator reports."""

    def test_etl(self):
        man, d = generated("etl_batches", 3, "p")
        raw = {f: rows(os.path.join(d, "base", f"{f}.parquet")) for f in RULES}
        landed = {f: self.landed_keys(raw, f) for f in RULES}
        for b in man["batches"]:
            raw = {f: rows(os.path.join(d, b["dir"], f"{f}.parquet")) for f in RULES}
            for f, (notnull, key, _) in RULES.items():
                rs = raw[f]
                valid = [r for r in rs if all(r[i] is not None for i in notnull)]
                keys = {tuple(r[i] for i in key) for r in valid}
                got = self.landed_keys(raw, f)
                want = dict(
                    null_violations=len(rs) - len(valid),
                    dups=len(rs) - len(set(rs)),
                    late_versions=len(set(valid)) - len(keys),
                    orphans=len(keys - got),
                    updates=len(got & landed[f]),
                    new_keys=len(got - landed[f]))
                self.assertEqual(b["planted"][f], want, (b["dir"], f))
                landed[f] |= got
            self.assertGreater(sum(b["rejected"].values()), 0)

    @staticmethod
    def landed_keys(raw, f):
        notnull, key, (dim_file, dim_col) = RULES[f]
        dim = {r[dim_col] for r in raw[dim_file]}
        return {tuple(r[i] for i in key) for r in raw[f]
                if all(r[i] is not None for i in notnull) and r[key[0]] in dim}

    def test_ivm_threatening_dmls(self):
        man, d = generated("ivm_churn", 3, "p")
        fact = {(r[0], r[3]): r for r in rows(os.path.join(d, man["base"]))}
        threats = 0
        for s in man["batches"]:
            groups = {}
            for r in fact.values():
                groups.setdefault(r[2], []).append(r[5])
            lo = {g: min(v) for g, v in groups.items()}
            hi = {g: max(v) for g, v in groups.items()}
            if s["kind"] == "upsert":
                new = rows(os.path.join(d, s["file"]))
                removed = [fact[(r[0], r[3])] for r in new if (r[0], r[3]) in fact]
                self.assertEqual(len(new), s["rows"])
            else:
                ids = set(s["ids"])
                removed = [r for r in fact.values()
                           if r[11] == s["bucket"] and r[0] * 16 + r[3] in ids]
                self.assertEqual(len(removed), s["rows"])
                new = [] if s["kind"] == "delete" else \
                    [r[:5] + (r[5] * 0.9,) + r[6:] for r in removed]
                self.assertEqual(sorted(rows(os.path.join(d, s["file"]))),
                                 sorted(new or removed))
            threat = any(r[5] in (lo[r[2]], hi[r[2]]) for r in removed)
            self.assertEqual(s["threat"], threat)
            threats += threat
            for r in removed:
                del fact[(r[0], r[3])]
            for r in new:
                fact[(r[0], r[3])] = r
        self.assertTrue(0 < threats < len(man["batches"]))

    def test_dedup_planted_duplicates(self):
        man, d = generated("dedup_ann_ingest", 3, "p")
        docs = {r[0]: r[1] for r in rows(os.path.join(d, man["base"]))}
        kinds = {"copy": 0, "near": 0}
        for w in man["batches"]:
            new = rows(os.path.join(d, w["file"]))
            text = {r[0]: r[1] for r in new}
            planted = {p[0]: p for p in w["planted"]}
            for doc_id in w["new"]:
                known = set(docs.values())
                if doc_id in planted:
                    _, src, kind = planted[doc_id]
                    a, b = docs[src].split(), text[doc_id].split()
                    diff = sum(x != y for x, y in zip(a, b))
                    self.assertEqual(len(a), len(b))
                    self.assertEqual(diff, 0 if kind == "copy" else 1)
                    kinds[kind] += 1
                else:
                    self.assertNotIn(text[doc_id], known)
            docs.update(text)
            for i in w["deleted"]:
                del docs[i]
        self.assertGreater(kinds["copy"], 0)
        self.assertGreater(kinds["near"], 0)


class PerturbedExpectations(unittest.TestCase):
    """With one expected value corrupted the run must report incorrect
    output and exit with code 1; unperturbed, the same run is correct."""

    def run_bench(self, workload, perturb):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--perturb", str(perturb)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, perturb, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_checks_fail_on_perturbed_expectations(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertTrue(self.run_bench(w, 0)["correct"])
                self.assertFalse(self.run_bench(w, 1)["correct"])


if __name__ == "__main__":
    unittest.main()
