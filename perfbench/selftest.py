"""Self-test of the benchmark.

    python3 perfbench/selftest.py

For every workload (the two in BENCHMARK.json and the two run by hand),
on tiny inputs:
- an untraced run exits 0, reports correct, and its result line holds
  exactly the end-to-end metrics BENCHMARK.json lists, with their units;
  its report line holds every end-to-end figure of the workload;
- a traced run does the same for the per-layer metrics;
- a run that drops one output row before the checks exits non-zero and
  reports not correct.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")

COMMON = ["setup_s", "batch_s_p50", "query_ms_p50", "query_ms_p90",
          "session_start_s", "peak_storage_mb", "failed_frac"]
FIGURES = {
    "ts_lineage": COMMON + ["stored_bytes_per_input_byte"],
    "corpus_curate": COMMON,
    "vector_search": COMMON + ["recall_at_10"],
    "stream_dedup": COMMON + ["stored_bytes_per_input_byte"],
}


def run(workload, trace, drop):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny",
         "--drop-row", str(drop)],
        capture_output=True, text=True, timeout=900, cwd=ROOT)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    report = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("perfbench.report ")), None)
    return p.returncode, result, report, p.stderr


def expect(cond, what, failures):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    failures = []
    for w in FIGURES:
        for trace, names in ((0, e2e), (1, layer)):
            rc, res, rep, err = run(w, trace, 0)
            tag = f"{w} trace={trace}"
            expect(rc == 0 and res is not None and res["correct"],
                   f"{tag}: exits 0 and correct", failures)
            if res is None:
                print(err[-2000:])
                continue
            got = res["metrics"]
            expect(set(got) == names, f"{tag}: metric names", failures)
            expect(all(got[n]["unit"] == units[n] for n in got if n in units),
                   f"{tag}: metric units", failures)
            expect(rep is not None and all(
                n in rep["metrics"] and "unit" in rep["metrics"][n] and
                "samples" in rep["metrics"][n] for n in FIGURES[w]),
                f"{tag}: report figures with unit and sample count", failures)
        rc, res, _, _ = run(w, 0, 1)
        expect(rc != 0 and (res is None or not res["correct"]),
               f"{w}: a dropped output row fails the checks", failures)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
