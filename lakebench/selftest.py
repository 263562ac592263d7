#!/usr/bin/env python3
"""Self-test of the benchmark's own checks, on small inputs.

Runs each workload once honestly, then once with deliberately wrong
expectations, and fails unless the honest runs pass every check, the
tampered runs are caught by the check each tamper targets, and every
metric prints. Takes a few minutes. Usage, from the root of a checkout:

  python3 lakebench/selftest.py
"""
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

bench.SERVE_SF = 0.01
bench.COLD_KEYS = 1_000
bench.BATCH_SF = 0.001
bench.BATCH_ENTRIES = ["q1_pricing_summary", "q9_region_rollup", "c_cdc_batch"]

ARGS = {"serve": ["--workload", "serve", "--seed", "5", "--seconds", "6"],
        "ingest_serve": ["--workload", "ingest_serve", "--seed", "5", "--seconds", "6"],
        "batch": ["--workload", "batch", "--seed", "5", "--seconds", "0"]}


def failed_checks(record):
    return {name for name, ok, _ in record["checks"] if not ok}


def main():
    problems = []

    def expect(cond, what):
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            problems.append(what)

    # Wrong answers to /point reads, judged without the program: a base key
    # that waves updated but never deleted must not come back empty.
    data = os.path.join(os.getcwd(), ".lakebench_work", "selftest-model")
    os.makedirs(data, exist_ok=True)
    model = bench.EvModel(data, 5, 0.99)
    for _ in range(20):
        model.wave(bench.WAVE_ROWS)
    shutil.rmtree(data)
    updated = next(k for k in model.history if k < model.n_base and k not in model.deleted)
    empty = {"rows": []}
    expect(model.key_check(updated)(empty) is not None,
           "ingest_serve: an updated key read back empty is caught")
    expect(model.key_check(next(iter(model.deleted)))(empty) is None,
           "ingest_serve: a deleted key read back empty passes")

    for workload, argv in ARGS.items():
        result, named, record = bench.execute(bench.parse_args(argv))
        expect(result["correct"] and result["failed"] == 0, f"{workload}: honest run passes")
        expect(set(result["metrics"]) == set(bench.E2E_UNITS),
               f"{workload}: every end-to-end metric prints")
        expect(all(v is not None for v in named.values()), f"{workload}: named metrics print")

    # Wrong model of the table: checksum off by one, and every value a
    # read returns judged stale.
    checksum, consistent = bench.EvModel.checksum, bench.EvModel.consistent
    bench.EvModel.checksum = lambda self: checksum(self) + 1
    bench.EvModel.consistent = lambda self, row: False
    try:
        serve, _, serve_record = bench.execute(bench.parse_args(ARGS["serve"]))
        result, _, record = bench.execute(bench.parse_args(ARGS["ingest_serve"]))
    finally:
        bench.EvModel.checksum, bench.EvModel.consistent = checksum, consistent
    expect(not serve["correct"] and serve_record["reads"]["failed"] > 0,
           "serve: read checks fire and count toward failed")
    expect(not result["correct"], "ingest_serve: tampered run is not correct")
    expect("ev checksum" in failed_checks(record), "ingest_serve: checksum check fires")
    expect(record["reads"]["failed"] > 0 and result["failed"] > 0,
           "ingest_serve: read checks fire and count toward failed")

    # Wrong oracle: every entry's expected result replaced.
    oracle_check = bench.oracle_check
    bench.oracle_check = lambda run, out, oracle: oracle_check(
        run, out, {k: "SELECT 42 AS wrong" for k in oracle})
    try:
        result, _, record = bench.execute(bench.parse_args(ARGS["batch"]))
    finally:
        bench.oracle_check = oracle_check
    expect(result["failed"] == len(bench.BATCH_ENTRIES) and not result["correct"],
           "batch: every oracle check fires")

    print("self-test " + ("passed" if not problems else f"FAILED: {problems}"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
