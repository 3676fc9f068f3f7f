#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on sf0.001-sized inputs.

    python3 perfbench/smoke_test.py [workload ...]

Run from the repository root. It checks that

1. the oracle check rejects a wrong answer and accepts the right one
   (no JVM involved);
2. `run.py --trace 0` prints every end-to-end metric of BENCHMARK.json
   with its unit, and `--trace 1` every per-layer metric, for each named
   workload (default: all of them), with every answer checked and correct;
3. the same seed gives byte-identical inputs.

Exits non-zero on the first failure.
"""
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_inputs  # noqa: E402
import oracle  # noqa: E402
from run import WORKLOADS  # noqa: E402


def fail(msg):
    raise SystemExit(f"smoke: FAIL {msg}")


def check_oracle_gate(tmp):
    """A hand-made answer is compared with a hand-written oracle query."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    data = os.path.join(tmp, "data")
    gen_inputs.write(data, 5, 0.001)
    sql = ("SELECT r_regionkey, r_name FROM region "
           "WHERE r_regionkey < 3 ORDER BY r_regionkey")
    for name, keys in [("right", [0, 1, 2]), ("wrong", [0, 1, 4])]:
        out = os.path.join(tmp, "answers")
        os.makedirs(os.path.join(out, name), exist_ok=True)
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        pq.write_table(pa.table({"r_regionkey": pa.array(keys, pa.int32()),
                                 "r_name": [names[k] for k in keys]}),
                       os.path.join(out, name, "part-0.parquet"))
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        json.dump({"right": sql, "wrong": sql}, f)
    verdict = oracle.check(data, out, ["right", "wrong", "missing"])
    if verdict["right"] is not None:
        fail(f"oracle rejected a right answer: {verdict['right']}")
    if verdict["wrong"] is None or verdict["missing"] is None:
        fail(f"oracle accepted a wrong or missing answer: {verdict}")
    print("smoke: oracle gate rejects wrong answers")


def check_inputs_deterministic(tmp):
    a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
    gen_inputs.write(a, 9, 0.001)
    gen_inputs.write(b, 9, 0.001)
    files = sorted(os.listdir(a))
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    if mismatch or errors or len(files) != len(gen_inputs.tables(9, 0.001)[0]):
        fail(f"inputs differ for one seed: {mismatch + errors}")
    print("smoke: one seed gives identical inputs")


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--scale", "0.001"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        fail(f"{workload} trace={trace} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def main():
    spec = json.load(open("BENCHMARK.json"))
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    os.makedirs(".bench_build", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=".bench_build") as tmp:
        check_oracle_gate(tmp)
        check_inputs_deterministic(tmp)
    for w in workloads:
        for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
            res, err = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                fail(f"{w} trace={trace}: metrics {sorted(got.items())} "
                     f"!= {sorted(want.items())}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w} trace={trace}: {res['failed']} of {res['attempted']} failed")
            checked = re.search(r"answers checked (\d+)/(\d+)", err)
            n = len(WORKLOADS[w][0])
            if not checked or checked.groups() != (str(n), str(n)):
                fail(f"{w} trace={trace}: the oracle did not check all {n} answers")
            print(f"smoke: {w} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} query runs, all answers correct")
    print("smoke: OK")


if __name__ == "__main__":
    main()
