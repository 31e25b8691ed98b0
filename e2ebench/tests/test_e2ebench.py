"""Tests of the benchmark itself (not of graft).

Run from the root of a checkout:

    python3 -m unittest discover -s e2ebench/tests -v

Each test drives the one command, run.py, at the benchmark's own input
sizes with `--seconds 1`, so the whole file takes about eight minutes
on four cores (every run starts a JVM).
"""
import hashlib
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
RUN = ROOT / "e2ebench" / "run.py"
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
RUNS = ROOT / ".bench_build" / "e2ebench" / "runs"
ALL_WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["pretrain-capstone"]


def run(workload, seed, trace=0, *extra):
    cmd = [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return r.stdout.splitlines()


def input_digest(workload, seed):
    run(workload, seed, 0, "--gen-only")
    root = RUNS / f"{workload}-s{seed}-t0" / "input"
    h = hashlib.sha256()
    files = sorted(p for p in root.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest(), len(files)


def self_times(spans):
    """A span's duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(k["start_ms"], s["start_ms"]), min(k["end_ms"], s["end_ms"]))
                    for k in kids.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["id"]] = s["end_ms"] - s["start_ms"] - covered
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in ALL_WORKLOADS:
            with self.subTest(workload=w):
                a, n = input_digest(w, 9001)
                b, _ = input_digest(w, 9001)
                c, _ = input_digest(w, 9002)
                self.assertGreater(n, 1)
                self.assertEqual(a, b, "same seed must give byte-identical inputs")
                self.assertNotEqual(a, c, "another seed must give other inputs")


class MetricsTest(unittest.TestCase):
    def check_result(self, lines, spec, extra=()):
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], lines)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        metrics = result["metrics"]
        self.assertEqual(set(metrics), {m["name"] for m in spec} | set(extra))
        for m in spec:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(metrics[m["name"]]["value"], (int, float), m["name"])
            self.assertIn(f"metric {m['name']} = ", "\n".join(lines))
        return metrics

    def test_untraced_run_prints_every_end_to_end_metric(self):
        for w in ALL_WORKLOADS:
            with self.subTest(workload=w):
                metrics = self.check_result(run(w, 9003, 0), BENCH["end_to_end"])
                for k, v in metrics.items():
                    self.assertGreater(v["value"], 0, k)

    def test_traced_run_prints_every_layer_metric_and_spans_nest(self):
        for w in ALL_WORKLOADS:
            with self.subTest(workload=w):
                # only pretrain-capstone, outside BENCHMARK.json, calls PipelineOps.capstone
                capstone = ["queries.PipelineOps.capstone_call_s", "queries.PipelineOps.capstone_call_jobs"]
                metrics = self.check_result(run(w, 9004, 1), BENCH["per_layer"],
                                            capstone if w == "pretrain-capstone" else ())
                if w == "pretrain-capstone":
                    self.assertGreater(metrics["queries.PipelineOps.capstone_call_jobs"]["value"], 0)
                sources = [v["value"] for k, v in metrics.items() if k.startswith("sources.")]
                if w == "distill-landing":
                    self.assertTrue(all(v > 0 for v in sources), metrics)
                else:
                    self.assertTrue(all(v == 0 for v in sources), metrics)
                if w == "stream-ingest":
                    self.assertGreater(metrics["streaming.batches"]["value"], 0)
                spans = json.loads((RUNS / f"{w}-s9004-t1" / "spans.json").read_text())
                by_id = {s["id"]: s for s in spans}
                roots = {s["id"] for s in spans if s["parent"] == 0}
                self.assertTrue(roots)
                for s in spans:
                    self.assertIn(s["trace"], roots | {0}, s)
                    if s["name"] in ("spark.job", "spark.stage", "streaming.batch"):
                        self.assertIn(s["parent"], by_id, s)
                    if s["name"] == "spark.stage":
                        self.assertEqual(by_id[s["parent"]]["name"], "spark.job", s)
                    if s["parent"]:
                        self.assertEqual(s["trace"], by_id[s["parent"]]["trace"], s)
                jobs = [s for s in spans if s["name"] == "spark.job"]
                self.assertTrue(jobs)
                if w == "stream-ingest":
                    self.assertTrue(any(by_id[j["parent"]]["name"] == "streaming.batch" for j in jobs))
                for sid, t in self_times(spans).items():
                    self.assertGreaterEqual(t, -1e-6, by_id[sid])
                for k, v in metrics.items():
                    if k.startswith("self."):
                        self.assertGreaterEqual(v["value"], 0, k)


if __name__ == "__main__":
    unittest.main()
