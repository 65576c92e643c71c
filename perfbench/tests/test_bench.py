"""Tests for the benchmark's own code. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(1, 11)), 50), (5, 5))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), (90, 10))
        self.assertEqual(stats.percentile([3.0], 90), (3.0, 0))
        self.assertEqual(stats.percentile(list(range(20, 0, -1)), 90), (18, 2))

    def test_request_tail_needs_ten_samples_beyond(self):
        def rec(n):
            ops = [{"start_ms": 0.0, "end_ms": float(i), "dropped_ms": 0.0} for i in range(1, n + 1)]
            return {"workload": "crawl_stream", "seed": 1, "nproc": 4, "spark_conf": {},
                    "ops": ops, "summary": {"rate_per_s": 10.0}}
        self.assertTrue(stats.validity(rec(100), False)["valid"])
        self.assertEqual(stats.validity(rec(100), False)["samples_beyond_p90"], 10)
        self.assertFalse(stats.validity(rec(99), False)["valid"])
        self.assertTrue(stats.validity(rec(99), True)["valid"])


def tree_digest(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in ("rag_ingest", "curate", "crawl_stream"):
            with tempfile.TemporaryDirectory() as t:
                gen.generate(w, 7, 2, f"{t}/a")
                gen.generate(w, 7, 2, f"{t}/b")
                gen.generate(w, 8, 2, f"{t}/c")
                a, b, c = tree_digest(f"{t}/a"), tree_digest(f"{t}/b"), tree_digest(f"{t}/c")
                self.assertEqual(a, b, w)
                self.assertNotEqual(a, c, w)

    def test_chunk_twin_matches_reference_windows(self):
        text = " ".join(f"w{i:04d}" for i in range(600))
        parts = gen.split_windows(text, 1200, 120)
        self.assertTrue(all(len(p) <= 1240 for p in parts))
        self.assertEqual(" ".join(parts).split(" ")[0], "w0000")
        self.assertTrue(parts[-1].endswith("w0599"))


class BenchmarkSpecTest(unittest.TestCase):
    spec = stats.benchmark_spec()

    def test_contract_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in s["end_to_end"])}, s["end_to_end"])
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)

    def test_printed_metrics_are_the_declared_ones(self):
        ops = [{"start_ms": 0.0, "end_ms": 10.0 + i, "units": 3, "call_start_ms": 1.0,
                "dropped_ms": 0.0} for i in range(4)]
        rec = {"workload": "crawl_stream", "seed": 1, "nproc": 4, "spark_conf": {},
               "session_s": 1.0, "prep_s": [1.0, 2.0, 3.0], "warmup_s": 1.0, "measure_s": 2.0,
               "cpu_s": 3.0, "ops": ops, "summary": {"rate_per_s": 10.0},
               "trace": {"ops": ops, "counters": {}, "layers": {}, "self_s": {},
                         "no_task_s": 0.5, "spans": [],
                         "spark": {k: 1.0 for k in ("plan_ms", "jobs", "tasks", "gc_s", "cpu_s",
                                                    "shuffle_read_bytes", "shuffle_write_bytes",
                                                    "spill_bytes", "peak_exec_mem_bytes",
                                                    "records_in")}}}
        e2e = stats.end_to_end(rec, [True] * len(ops))
        self.assertEqual(set(e2e), {m["name"] for m in self.spec["end_to_end"]})
        layer = stats.per_layer(rec, {}, {})
        self.assertEqual(set(layer), {m["name"] for m in self.spec["per_layer"]})


def write_parquet(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


class OutputCheckTest(unittest.TestCase):
    """A deliberately corrupted output row must fail its op."""

    def rag_fixture(self, t, corrupt):
        truth = {"chunks": {"PMC1": 2, "PMC2": 1}, "ok_docs": ["PMC1"], "prior_docs": ["PMC1", "PMC2"],
                 "reasons": {"No PMCID": 1},
                 "summary": {"input_unique_doi": 3, "appended": 1, "skipped_existing": 1, "failures": 1}}
        ids = ["PMC1::c0", "PMC1::c1", "PMC2::c0"]
        if corrupt:
            ids[1] = "PMC1::c0"
        meta = [{"doc_id": i.split("::")[0], "experiment": e} for i, e in zip(ids, ["exp1", "exp1", "exp0"])]
        write_parquet(f"{t}/vectors/part-0.parquet", pa.table({
            "id": ids, "text": ["a", "b", "c"], "embedding": [[0.5] * 64] * 3, "meta": meta}))
        os.makedirs(f"{t}/failures")
        with open(f"{t}/failures/part-0.csv", "w") as f:
            f.write("doi,journal,reason\n10.1/x,J,No PMCID\n")
        os.makedirs(f"{t}/summary")
        with open(f"{t}/summary/part-0.json", "w") as f:
            f.write(json.dumps(truth["summary"]) + "\n")
        return truth

    def test_rag(self):
        for corrupt in (False, True):
            with tempfile.TemporaryDirectory() as t:
                truth = self.rag_fixture(t, corrupt)
                problems = checks.check_rag_op(duckdb.connect(), t, truth)
                self.assertEqual(bool(problems), corrupt, problems)

    def test_curate(self):
        sql = "SELECT source, doc_id, 1 AS cluster_size, n_chars AS n_tokens, 100 AS quality_score, " \
              "n_chars AS cum_tokens FROM documents"
        with tempfile.TemporaryDirectory() as t:
            gen.write_parquet([(1, "x", "en", "src0", 5), (2, "yy", "en", "src1", 6)], f"{t}/documents.parquet")
            rows = {"source": ["src0", "src1"], "doc_id": [1, 2], "cluster_size": [1, 1],
                    "n_tokens": [5, 6], "quality_score": [100, 100], "cum_tokens": [5, 6]}
            write_parquet(f"{t}/good/part-0.parquet", pa.table(rows))
            rows["cum_tokens"] = [5, 7]
            write_parquet(f"{t}/bad/part-0.parquet", pa.table(rows))
            rec = {"seed": 1, "summary": {"oracle_sql": sql},
                   "ops": [{"out": f"{t}/good"}, {"out": f"{t}/bad"}]}
            ok, _ = checks.check_curate(rec, f"{t}/cache", t)
            self.assertEqual(ok, [True, False])

    def test_crawl(self):
        truth = {"files": [{"name": "f0", "first_id": 10, "last_id": 12},
                           {"name": "f1", "first_id": 13, "last_id": 15}],
                 "novel": [10, 11, 14]}
        for committed, expect in (([10, 11, 14], [True, True]), ([10, 11, 14, 15], [True, False]),
                                  ([10, 14], [False, True])):
            with tempfile.TemporaryDirectory() as t:
                write_parquet(f"{t}/out/b0/part-0.parquet", pa.table({"doc_id": committed}))
                rec = {"ops": [{"file": f, "out": f"{t}/out", "end_ms": 1.0} for f in ("f0", "f1")]}
                ok, _ = checks.check_crawl(rec, truth)
                self.assertEqual(ok, expect, committed)


if __name__ == "__main__":
    unittest.main()
