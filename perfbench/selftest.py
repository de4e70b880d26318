#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (sf 0.001, a 20-vehicle day).

    python3 perfbench/selftest.py        # from the root of a checkout

For each workload it asserts that an untraced run prints every
end-to-end metric of BENCHMARK.json with its unit and checks clean, that
a traced run prints every per-layer metric with its unit, and that a
deliberately corrupted output is counted as a failed operation.
"""
import contextlib
import glob
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = {"olhovivo-day": {"vehicles": 20}, "query-mix": {"sf": 0.001}}


def corrupt(res):
    """Changes one value in one output the check reads."""
    v = res["verify"]
    if v["kind"] == "day":
        path = sorted(glob.glob(f"{v['base']}/out/velocidades-agg/*/*/*.csv"))[0]
        with open(path) as f:
            lines = f.read().splitlines()
        cells = lines[1].split(",")
        cells[-2] = str(int(cells[-2]) + 1)          # tempo of the first group
        lines[1] = ",".join(cells)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
    else:
        import pyarrow.parquet as pq
        name = sorted(v["names"])[0]
        path = sorted(glob.glob(f"{v['dir']}/{name}/*.parquet"))[0]
        table = pq.read_table(path)
        pq.write_table(table.slice(1), path)         # drop one result row


def invoke(workload, trace, tamper=False):
    verify = run.verify

    def tampered(w, res, fixes):
        corrupt(res)
        return verify(w, res, fixes)

    run.verify = tampered if tamper else verify
    sys.argv = ["run.py", "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace)]
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            run.main()
    finally:
        run.verify = verify
    return json.loads(out.getvalue().strip().splitlines()[-1])


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    run.WORKLOADS = TINY
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = invoke(w, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {got} != {want}")
            if not r["correct"] or r["failed"]:
                problems.append(f"{w} trace={trace}: clean run reported failures: {r}")
        r = invoke(w, 0, tamper=True)
        if r["correct"] or r["failed"] < 1:
            problems.append(f"{w}: corrupted output not counted: {r}")
        print(f"selftest {w}: done", file=sys.stderr)
    for p in problems:
        print("SELFTEST FAIL " + p)
    print("selftest: " + ("FAIL" if problems else "PASS"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
