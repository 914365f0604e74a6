"""Self-test of the benchmark at tiny input sizes (a few minutes).

    python3 perfbench/selftest.py

Checks that
1. every end-to-end metric named in BENCHMARK.json is printed, with its
   unit, by an untraced run of each workload, and every per-layer
   metric by a traced run;
2. in the traced run's span file, every span's self time is
   non-negative and the self times sum to the root span's duration;
3. a deliberately corrupted output fails the matching checks and shows
   in ``failed`` (and so in the failed-operation fraction);
4. with only BENCHMARK.json and perfbench/ present, the command exits
   non-zero without printing a result.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout.strip().splitlines()


def result_of(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def record_of(lines: list[str]) -> dict:
    rec = next(ln for ln in lines if ln.startswith("# record "))
    return json.loads(rec[len("# record "):])


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def metrics_match(result: dict, spec: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    expect(got == want, f"{what}: metrics and units are exactly BENCHMARK.json's")
    expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
           f"{what}: every value is a number")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    for w in spec["workloads"]:
        rc, lines = bench("--workload", w["name"], "--trace", "0", "--tiny")
        expect(rc == 0, f"{w['name']}: untraced run exits 0")
        res = result_of(lines)
        metrics_match(res, spec["end_to_end"], w["name"])
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w['name']}: output checks pass")

    name = spec["workloads"][0]["name"]
    rc, lines = bench("--workload", name, "--trace", "1", "--tiny")
    expect(rc == 0, f"{name}: traced run exits 0")
    metrics_match(result_of(lines), spec["per_layer"], f"{name} traced")
    with open(os.path.join(ROOT, ".perfbench_out", f"trace-{name}-seed7.json")) as f:
        spans = json.load(f)["spans"]
    roots = [s for s in spans if s["parent"] is None]
    expect(len(roots) == 1, "spans form one tree")
    expect(all(s["self_s"] >= -1e-9 for s in spans), "every span's self time is >= 0")
    total = sum(s["self_s"] for s in spans)
    root = roots[0]["end"] - roots[0]["start"]
    expect(abs(total - root) <= 1e-6 * max(root, 1.0),
           f"self times sum to the root duration ({total:.6f} vs {root:.6f} s)")

    rc, lines = bench("--workload", name, "--trace", "1", "--tiny", "--corrupt")
    res = result_of(lines)
    bad = sorted(c[0] for c in record_of(lines)["checks"] if not c[1])
    expect(rc == 0 and not res["correct"] and res["failed"] == len(bad) > 0,
           f"corrupted output fails its checks and counts as failed ({bad})")
    expect({"digest_equals_extract_turns", "sample_matches_kernel_golden",
            "commit.output_digest_equals_direct_extract",
            "stream.no_duplicate_turns"} <= set(bad),
           "each corrupted output is caught by the check that reads it")
    rc, lines = bench("--workload", "catalog", "--trace", "0", "--tiny", "--corrupt")
    res = result_of(lines)
    expect(rc == 0 and not res["correct"] and res["failed"] == 1,
           "a corrupted catalog result fails its oracle check")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, lines = bench("--workload", name, "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass
    expect(rc != 0 and not any(ln.startswith("{") for ln in lines),
           "without the program the command fails and prints no result")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
