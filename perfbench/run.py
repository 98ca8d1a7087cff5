#!/usr/bin/env python3
"""Benchmark of the graft engine's registered flows.

    python3 perfbench/run.py --workload etl_flows --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt), then runs
one workload in a single JVM: set-up (session, GraftExtensions, untimed
warm passes over the small warm-up tables), a fixed number of timed
closed-loop passes over the benchmark tables, an untimed output check of
every flow, and the box fingerprint. The last stdout line is one JSON
object: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import ctypes
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
WARM_DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")

# Each workload is a fixed flow list, a fixed number of timed passes
# (scaled by --seconds / 10, at least 2), so that every commit measures the
# same work, and the number of warm passes; the seed permutes the flow order
# of each timed pass. On a 4-core box the timed passes of one run take
# about 9 s (etl_flows) and 18 s (corpus_refresh). The etl flows are short
# and still sped up pass over pass after one warm pass (5.0, 3.9, 3.5 s),
# which doubled the run-to-run spread of pass_s; five warm passes of 3 s
# each remove most of that. One corpus warm pass costs 21 s, so it gets one.
WORKLOADS = {
    # Cascading pipe assemblies: Each/Every/GroupBy/CoGroup/Buffer, a trap,
    # TPC-H q1 and three tap round trips (csv, seqfile, orc). Short flows,
    # so lowering, Catalyst planning, codegen and tap I/O dominate.
    "etl_flows": ([
        "q01_groupby_agg", "q04_cogroup_inner", "q09_buffer_running",
        "q52_trap", "q124_tpch_q1", "q60_csv_roundtrip",
        "q62_seqfile_roundtrip", "q101_orc_roundtrip",
    ], 3, 5),
    # A corpus refresh: a streaming upsert of three document batches into
    # the corpus snapshot tables (foreachBatch, staging writes, commit logs),
    # then an eager PageRank loop with checkpoints, MinHash banding and the
    # naive-Bayes kernel. Driver actions, shuffles, kernel CPU and stream
    # commits dominate; planning is a small share.
    "corpus_refresh": ([
        "q146_stream_upsert", "q249_pagerank", "q173_minhash_accuracy",
        "q288_nb_kernel",
    ], 2, 1),
}

# A flow whose later pass takes less than this share of its first timed
# pass is flagged: warm-up alone has not made a pass faster than 0.35x, so
# a drop this large points at a result kept from an earlier pass.
MEMO_SHARE = 0.1

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed heap and young generation keep peak RSS from following the
# collector's sizing decisions from run to run; no perf-data file in /tmp.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData"]
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_RUN_LIMIT_S = 880  # ... or 900 s when it also builds


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sanitize(s):
    """Arguments that become part of a path keep only [A-Za-z0-9_-]."""
    return re.sub(r"[^A-Za-z0-9_-]", "_", str(s))


def source_digest():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the engine sources (build.sbt, src/main) are not here", 2)
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    if os.path.isfile(cp_file) and os.path.isfile(stamp):
        with open(stamp) as f, open(cp_file) as g:
            if f.read() == digest:
                return g.read(), digest, False
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (rc={rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, digest, True


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def append(path, obj):
    with open(path, "a") as f:
        f.write(json.dumps(obj) + "\n")


def read_record(path):
    """Parse a run record; a truncated last line (killed mid-write) is
    skipped. Returns (lines, aborted)."""
    lines = []
    with open(path) as f:
        for raw in f:
            try:
                lines.append(json.loads(raw))
            except json.JSONDecodeError:
                pass
    types = {l.get("type") for l in lines}
    return lines, "end" not in types or "aborted" in types


def die_with_parent():
    """In the child: ask Linux to SIGKILL it when the runner dies, so a
    runner killed outright leaves no JVM behind."""
    PR_SET_PDEATHSIG = 1
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def run_jvm(cp, args, record, log, deadline):
    """Run the harness; on SIGTERM/SIGINT or deadline, stop it, wait for it
    and mark the record aborted."""
    cmd = (["java"] + JVM_OPTS + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={args['scratch']}/tmp", "-cp", cp,
              "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{args['scratch']}/local")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                preexec_fn=die_with_parent)
    append(record, {"type": "jvm", "pid": proc.pid})

    def stop(reason):
        proc.terminate()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        append(record, {"type": "aborted", "reason": reason})

    def on_signal(signum, _frame):
        stop(f"signal {signum}")
        raise SystemExit(128 + signum)

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop("deadline")
            return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def finite(v):
    return isinstance(v, (int, float)) and math.isfinite(v)


def memo_suspects(execs):
    """Flows with a later pass below MEMO_SHARE of their first timed pass.
    The output check digests only the first timed execution, so a result
    memo would pass it; this is the sign such a memo leaves in the times."""
    first = {x["flow"]: x["s"] for x in execs if x["ok"] and x["pass"] == 1}
    return sorted({x["flow"] for x in execs
                   if x["ok"] and x["pass"] > 1 and x["flow"] in first
                   and x["s"] < MEMO_SHARE * first[x["flow"]]})


def summarize(lines, flows, expected):
    """End-to-end metrics and the correctness verdict from a run record."""
    setup = next(l for l in lines if l["type"] == "setup")
    end = next(l for l in lines if l["type"] == "end")
    execs = [l for l in lines if l["type"] == "flow"]
    checks = {l["flow"]: l for l in lines if l["type"] == "check"}
    bad_flows = set()
    for f in flows:
        c, e = checks.get(f), expected.get(f)
        if c is None or "error" in c or e is None or c["rows"] != e["rows"]:
            bad_flows.add(f)
        elif "digest" in e and c["digest"] != e["digest"]:
            bad_flows.add(f)
    failed = [x for x in execs if not x["ok"] or x["flow"] in bad_flows]
    samples = [x["s"] for x in execs if x["ok"]]
    failed_passes = {x["pass"] for x in execs if not x["ok"]}
    passes = [l["s"] for l in lines
              if l["type"] == "pass" and l["pass"] not in failed_passes]
    metrics = {
        "setup_s": setup["setup_s"],
        # mean, not median: a run has 2-3 passes, each faster than the one
        # before while the JIT warms, so the middle pass is the noisier
        "pass_s": statistics.mean(passes) if passes else None,
        "flow_p50_s": statistics.median(samples) if samples else None,
        "flow_p90_s": (statistics.quantiles(samples, n=10, method="inclusive")[8]
                       if len(samples) >= 2 else None),
        "peak_rss_mb": end["peak_rss_mb"],
    }
    info = {
        "flow_samples": len(samples), "passes": len(passes),
        "failed_flows": sorted(bad_flows),
        "failed_share": len(failed) / len(execs) if execs else 1.0,
        "memo_suspects": memo_suspects(execs),
    }
    correct = not failed and not bad_flows and all(
        finite(v) for v in metrics.values())
    return metrics, correct, len(execs), len(failed), info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="directory to copy the record, spans and "
                    "summary of this run into")
    a = ap.parse_args()
    start = time.time()
    cp, digest, built = build()
    # set-up time counts from the harness launch, not from the build
    t0_us = time.time_ns() // 1000
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)
    with open(EXPECTED) as f:
        expected = json.load(f)
    with open(SPEC) as f:
        spec = json.load(f)

    flows, passes_per_10s, warm_passes = WORKLOADS[a.workload]
    passes = max(2, round(passes_per_10s * a.seconds / 10))
    run_id = sanitize(f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    records = os.path.join(WORK, "records")
    scratch = os.path.join(WORK, "runs", run_id)
    for d in (records, f"{scratch}/tmp", f"{scratch}/local"):
        os.makedirs(d, exist_ok=True)
    record = os.path.join(records, f"{run_id}.jsonl")
    spans = os.path.join(records, f"{run_id}.spans.jsonl")
    append(record, {
        "type": "context", "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)), "loadavg": loadavg(),
        "git_commit": git_commit(), "source_digest": digest,
    })
    try:
        rc = run_jvm(cp, {
            "mode": "bench", "flows": ",".join(flows), "data": DATA,
            "warm_data": WARM_DATA, "warm_passes": warm_passes,
            "cpus": len(os.sched_getaffinity(0)),
            "seed": a.seed, "passes": passes, "trace": a.trace,
            "t0_us": t0_us, "scratch": scratch, "record": record,
            "spans": spans,
        }, record, os.path.join(records, f"{run_id}.log"), deadline)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines, aborted = read_record(record)
    if rc != 0 or aborted:
        if rc is not None and not any(l.get("type") == "aborted" for l in lines):
            append(record, {"type": "aborted", "reason": f"exit {rc}"})
        fail(f"run did not finish (exit {rc}); record {record}, "
             f"log {os.path.join(records, run_id + '.log')}")

    metrics, correct, attempted, failed, info = summarize(lines, flows, expected)
    if info["memo_suspects"]:
        print("perfbench: later passes far faster than the first for "
              + ", ".join(info["memo_suspects"]), file=sys.stderr)
    kind = "end_to_end"
    if a.trace:
        kind = "per_layer"
        metrics = next(l for l in lines if l["type"] == "layer")["metrics"]
        correct = correct and all(finite(v) for v in metrics.values())
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if set(metrics) != set(units):
        fail(f"{kind} metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(units) - set(metrics))}, "
             f"unlisted {sorted(set(metrics) - set(units))}")
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    append(record, {"type": "result", **info, **result,
                    "loadavg_end": loadavg()})
    if a.save:
        save(a, lines, spans, record, result, info)
    print(json.dumps(result))


def save(a, lines, spans, record, result, info):
    """Keep this run's evidence: record, spans and a summary. A traced run
    also reports its tracing overhead against the untraced summary of the
    same workload and seed, when one was saved before it."""
    os.makedirs(a.save, exist_ok=True)
    base = os.path.join(a.save, f"{a.workload}.trace{a.trace}")
    shutil.copyfile(record, base + ".record.jsonl")
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               **info, **result}
    if a.trace:
        shutil.copyfile(spans, base + ".spans.jsonl")
        layer = next(l for l in lines if l["type"] == "layer")
        summary["self_s_per_pass"] = layer["self_s"]
        passes = [l["s"] for l in lines if l["type"] == "pass"]
        summary["traced_pass_s"] = statistics.mean(passes)
        untraced = os.path.join(a.save, f"{a.workload}.trace0.summary.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                u = json.load(f)
            if u["seed"] == a.seed:
                summary["untraced_pass_s"] = u["metrics"]["pass_s"]["value"]
                summary["tracing_overhead_s"] = (summary["traced_pass_s"]
                                                 - summary["untraced_pass_s"])
    with open(base + ".summary.json", "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
