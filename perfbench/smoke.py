#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny size (takes a few minutes).

    python3 perfbench/smoke.py

1. Runs every workload once untraced and once traced, and asserts that each
   run is correct and prints exactly the metrics BENCHMARK.json declares,
   each with its declared unit.
2. Runs each correctness check against a deliberately corrupted answer and
   asserts that the run reports it: exit code not 0 and "correct": false.
3. Runs the launcher in a copy holding only BENCHMARK.json and the
   benchmark's files, and asserts it fails without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN = HERE / "run.py"
# maintain_mixed is runnable but not in BENCHMARK.json (see README.md)
EXTRA_WORKLOADS = ["maintain_mixed"]
CORRUPTIONS = [
    ("build_dedup", "pairs"),       # join_equals_oracle, planted_strong_pairs_found
    ("serve_read", "point"),        # point_indexed_equals_in_memory
    ("serve_read", "topk"),         # planted_keys_find_self_and_strong_partners
    ("maintain_mixed", "maint"),    # maintained_equals_fresh_build
    ("maintain_mixed", "point"),    # point_indexed_equals_in_memory
]


def run(*args, cwd=ROOT, runner=RUN):
    p = subprocess.run([sys.executable, str(runner), *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    return p.returncode, (lines[-1] if lines else ""), p.stderr


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    workloads = [w["name"] for w in bench["workloads"]] + EXTRA_WORKLOADS
    for w in workloads:
        for trace in (0, 1):
            rc, last, err = run("--workload", w, "--seed", "1", "--seconds", "2",
                                "--trace", str(trace), "--size", "tiny")
            try:
                res = json.loads(last)
            except ValueError:
                res = {}
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            expect(rc == 0 and res.get("correct") is True,
                   f"{w} trace={trace}: correct run (exit {rc})")
            expect(got == declared[trace],
                   f"{w} trace={trace}: declared metrics and units printed"
                   + ("" if got == declared[trace] else
                      f" (missing {sorted(set(declared[trace]) - set(got))},"
                      f" extra {sorted(set(got) - set(declared[trace]))})"))
            if rc != 0:
                print(err[-3000:], file=sys.stderr)

    for w, c in CORRUPTIONS:
        rc, last, err = run("--workload", w, "--seed", "1", "--seconds", "2",
                            "--trace", "0", "--size", "tiny", "--corrupt", c)
        try:
            correct = json.loads(last).get("correct")
        except ValueError:
            correct = None
        tripped = [ln.split("check ")[1].split(" FAILED")[0]
                   for ln in err.splitlines() if " FAILED" in ln]
        expect(rc != 0 and correct is False,
               f"{w} --corrupt {c}: reported as incorrect (checks failed: {tripped})")

    bare = HERE / ".work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns(".work", "target"))
    rc, last, _ = run("--workload", workloads[0], "--seed", "1", "--seconds", "2",
                      "--trace", "0", cwd=bare, runner=bare / "perfbench" / "run.py")
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and not last.startswith("{"),
           "without the program's sources: fails and prints no result")

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
