#!/usr/bin/env python3
"""Writes the flagship traced run, artifacts/flagship_trace.json: one traced
run of every workload at full size (seed 1, the run length BENCHMARK.json
sets), its per-layer metrics, a per-span summary of its trace file, and the
rows of BASELINE.md's stage table set beside the matching measurement.

    python3 perfbench/flagship.py

Figures are from whatever host runs this; the artifact records that host's
CPU, core count and calibration probe so runs on different hosts can be told
apart.
"""
import json
import os
import platform
import subprocess
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "artifacts" / "flagship_trace.json"
WORKLOADS = ["build_dedup", "serve_read", "maintain_mixed"]
SEED = 1


def cpu_model():
    try:
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def span_summary(path):
    """Per span name: count, total seconds and listener counts (self)."""
    agg = defaultdict(lambda: defaultdict(float))
    for line in Path(path).read_text().splitlines():
        s = json.loads(line)
        a = agg[s["name"]]
        a["spans"] += 1
        a["seconds"] += (s["end_ms"] - s["start_ms"]) / 1000
        for k in ("jobs", "tasks", "task_ms", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "output_bytes"):
            a[k] += s[k]
    return {k: {kk: round(vv, 4) for kk, vv in v.items()} for k, v in sorted(agg.items())}


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    runs = {}
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                            "--seed", str(SEED), "--seconds", str(seconds), "--trace", "1"],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        if p.returncode != 0:
            sys.exit(f"traced {w} run failed (exit {p.returncode})")
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
        trace = detail.pop("trace_file")
        runs[w] = {
            "result": result,
            "detail": detail,
            "spans": span_summary(trace),
        }
    layer = {w: {k: v["value"] for k, v in r["result"]["metrics"].items()}
             for w, r in runs.items()}
    detail = {w: r["detail"] for w, r in runs.items()}
    baseline = [
        {"baseline_row": "vocab build (464,294 distinct shingles)",
         "baseline_s": 27.86, "baseline_docs": 5736,
         "here": "lsh.vocab_s, build_dedup", "here_s": layer["build_dedup"]["lsh.vocab_s"],
         "here_docs": int(detail["build_dedup"]["docs"])},
        {"baseline_row": "ANN query end-to-end, first query",
         "baseline_s": 85.57, "baseline_docs": 5736,
         "here": "first cold point query (approxNearestNeighborsIndexed), serve_read",
         "here_s": detail["serve_read"]["first_point_ms"] / 1000,
         "here_docs": int(detail["serve_read"]["docs"])},
        {"baseline_row": "in-memory index build, 1 thread (shingle + minhash + LSH)",
         "baseline_s": 144.32, "baseline_docs": 5736,
         "here": "fit + materialize (median of the traced run's builds), build_dedup",
         "here_s": sorted(detail["build_dedup"]["fit_s"])[len(detail["build_dedup"]["fit_s"]) // 2],
         "here_docs": int(detail["build_dedup"]["docs"])},
    ]
    artifact = {
        "what": "flagship traced run of perfbench (one traced run per workload)",
        "command": f"python3 perfbench/run.py --workload <w> --seed {SEED} "
                   f"--seconds {seconds} --trace 1",
        "host": {"cpu": cpu_model(), "nproc": os.cpu_count(),
                 "calib_s": {w: detail[w]["host_calib_s"] for w in WORKLOADS}},
        "baseline_rows": baseline,
        "per_layer": layer,
        "runs": runs,
    }
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text(json.dumps(artifact, indent=1) + "\n")
    print(f"wrote {OUT.relative_to(ROOT)}")


if __name__ == "__main__":
    main()
