#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the digests every benchmark run checks.

    python3 perfbench/record_expected.py

Runs each workload flow once over the benchmark tables, writes its output as
parquet in the layout tools/check.py reads, and has tools/check.py compare
it with the flow's DuckDB oracle SQL. A flow whose output the oracle
confirms keeps its row count and digest; a flow without oracle SQL keeps
its row count only. Any oracle mismatch aborts without writing the file.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

import run


def main():
    cp, _, _ = run.build()
    flows = sorted({f for fl, _, _ in run.WORKLOADS.values() for f in fl})
    work = os.path.join(run.WORK, f"expected-{os.getpid()}")
    out = os.path.join(work, "out")
    record = os.path.join(work, "record.jsonl")
    for d in (out, f"{work}/tmp", f"{work}/local"):
        os.makedirs(d, exist_ok=True)
    try:
        rc = run.run_jvm(cp, {
            "mode": "record", "flows": ",".join(flows), "data": run.DATA,
            "cpus": len(os.sched_getaffinity(0)), "scratch": work,
            "record": record, "out": out,
        }, record, os.path.join(work, "jvm.log"), time.time() + 1800)
        if rc != 0:
            run.fail(f"record run failed (exit {rc}); see {work}/jvm.log")
        lines, _ = run.read_record(record)
        got = {l["flow"]: l for l in lines if l.get("type") == "expected"}
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
             out, run.DATA], capture_output=True, text=True)
        print(check.stdout)
        if check.returncode != 0:
            run.fail(f"tools/check.py failed: {check.stderr[-2000:]}")
        verdict = dict(re.findall(r"^\[\w+\] (\S+): (.*)$", check.stdout, re.M))
        expected = {}
        for f in flows:
            g, v = got.get(f, {}), verdict.get(f, "MISSING")
            if "error" in g or g.get("digest") != g.get("parquet_digest"):
                run.fail(f"{f}: {g.get('error', 'digest changed on parquet round trip')}")
            if v == "OK":
                expected[f] = {"rows": g["rows"], "digest": g["digest"],
                               "oracle": "duckdb"}
            elif v == f"ROWS_ONLY n={g['rows']}":
                expected[f] = {"rows": g["rows"], "oracle": "none"}
            else:
                run.fail(f"{f}: oracle check says {v}")
        with open(run.EXPECTED, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(expected)} flows to {run.EXPECTED}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
