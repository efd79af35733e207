#!/usr/bin/env python3
"""graft benchmark: workloads on local[4], driven through the public API.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke ...      # on the sf0.001 tables

It builds the harness and the library from the checkout's sources (once per
source state), prepares the corpus, runs the Scala harness in one JVM,
checks every workload query once against the DuckDB oracle with the rules
of tools/check_oracle.py, and prints one JSON line last: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Everything it writes goes
under .perfbench/ in the checkout. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
TESTDATA = Path(os.environ.get("GRAFT_TESTDATA", "/root/testdata"))
CORES = 4
RUN_LIMIT_S = 175      # one workload run, build excluded
BUILD_LIMIT_S = 700    # the first invocation in a checkout builds

WORKLOADS = {
    "tpch_sf01": dict(
        corpus="sf0.1",
        batch=["ref_full_scan", "ref_filter", "ref_aggregation",
               "q1_pricing_summary", "q3_shipping_priority",
               "q6_revenue_forecast"],
        warm_passes=2, min_passes=3),
    "iterative_sf001": dict(
        corpus="sf0.01",
        batch=["dedup_cc"],
        warm_passes=8, min_passes=3),
}

# The calibration loop's median time on an idle 4-vCPU VM. Timed metrics
# with the _adj suffix are scaled by CAL_REF_S / (the window's median
# calibration time): seconds at that reference host speed.
CAL_REF_S = 0.05

END_TO_END = {
    "setup_s": "s", "pass_adj_s": "s", "query_geomean_adj_s": "s",
}
PER_LAYER = {
    "build.s": "s", "build.jobs": "count", "plan.s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_union_s": "s", "sched.driver_gap_s": "s",
    "sched.task_wait_s": "s", "sched.first_task_wait_s": "s",
    "scan.bytes": "bytes", "scan.records": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.parallelism": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "ckpt.blocks": "count", "ckpt.bytes": "bytes", "ckpt.peak_mb": "MB",
    "jvm.jit_s": "s", "host.cal_s": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so no process outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError(f"timed out after {timeout:.0f} s: {cmd[0]}")
    finally:
        with contextlib.suppress(ProcessLookupError, PermissionError):
            os.killpg(proc.pid, signal.SIGKILL)
    return proc.returncode


# ---------------------------------------------------------------- build

def source_digest():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles library + harness with sbt and returns the runtime classpath.

    sbt compiles into the checkout's shared target/ directories, which other
    builds (the test suite, graft.Bench) overwrite. So every classpath entry
    inside the checkout is copied into .perfbench/build/<source digest>/,
    and the classpath points at the copies: a later run with the same
    sources reuses them, and never reads classes of another source state."""
    digest = source_digest()
    cache = WORK / "build" / digest
    stamp = cache / "classpath.txt"
    if stamp.exists():
        return stamp.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = WORK / "build.log"
    log("building library and harness with sbt (first run for these sources)")
    t0 = time.time()
    with open(out, "w") as f:
        rc = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=env, stdout=f,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = out.read_text().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        raise BenchError("sbt build failed:\n" + "\n".join(lines[-30:]))
    shutil.rmtree(cache, ignore_errors=True)
    entries = []
    for i, entry in enumerate(cp[-1].split(os.pathsep)):
        src = Path(entry).resolve()
        if ROOT in src.parents and src.exists():
            dst = cache / f"{i}-{src.name}"
            if src.is_dir():
                shutil.copytree(src, dst)
            else:
                dst.parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dst)
            entry = str(dst)
        entries.append(entry)
    classpath = os.pathsep.join(entries)
    cache.mkdir(parents=True, exist_ok=True)
    stamp.write_text(classpath)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


# ---------------------------------------------------------------- corpus

def corpus(sf, smoke):
    """The read-only test tables of the workload's scale factor."""
    base = TESTDATA / ("sf0.001" if smoke else sf)
    if not (base / "lineitem.parquet").exists():
        raise BenchError(f"test tables not found under {base}")
    return base


def row_counts(d):
    import pyarrow.parquet as pq
    return {p.stem: pq.ParquetFile(p).metadata.num_rows for p in sorted(Path(d).glob("*.parquet"))}


# ---------------------------------------------------------------- oracle

def oracle_check(data, dump, names):
    """Per-query verdicts: DuckDB oracle compare (tools/check_oracle.py)
    where SparkEntry.oracleSql has the key, else a non-empty row count."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle
    import pyarrow.parquet as pq
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(str(data), str(dump))
    verdict = {}
    for line in buf.getvalue().splitlines():
        if line.startswith("OK "):
            verdict[line.split()[1]] = "ok"
        elif line.startswith("FAIL "):
            verdict[line[5:].split(":")[0]] = line
    oracles = json.loads((dump / "oracle_sql.json").read_text())
    for name in names:
        if name in oracles:
            continue
        files = sorted((dump / name).glob("*.parquet"))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        verdict[name] = "ok (rows-only)" if rows > 0 else \
            f"FAIL {name}: rows-only check found {'no output' if not files else '0 rows'}"
    return verdict


# ---------------------------------------------------------------- metrics

def wall(s):
    return s["build_s"] + s["plan_s"] + s["exec_s"]


def per_query_medians(samples):
    by = {}
    for s in samples:
        by.setdefault(s["query"], []).append(wall(s))
    return {q: statistics.median(v) for q, v in sorted(by.items())}


def pass_s(w):
    """Wall of one sequential pass: the sum of per-query medians."""
    return sum(per_query_medians(w["samples"]).values())


def cal_s(w):
    """The window's median calibration time: the host's speed over it."""
    return statistics.median(w["cal_s"])


def host_factor(w):
    """Scales the window's walls to the reference host speed."""
    return CAL_REF_S / cal_s(w)


def end_to_end(w, setup_s):
    f = host_factor(w)
    med = per_query_medians(w["samples"])
    return {
        "setup_s": setup_s,
        "pass_adj_s": f * pass_s(w),
        "query_geomean_adj_s": f * math.exp(statistics.fmean(math.log(v) for v in med.values())),
    }


def union_len(intervals):
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_layer(w, spans, blocks, untraced_pass_adj_s):
    """Per-pass layer split of the traced window."""
    windows = [tuple(p) for p in w["passes"]]
    n = len(windows)
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = [s["attrs"] for s in spans if s["kind"] == "stage"]
    wall_ms = sum(b - a for a, b in windows)
    union_ms = 0.0
    for a, b in windows:
        union_ms += union_len([(max(a, j["start_ms"]), min(b, j["end_ms"]))
                               for j in jobs
                               if j["end_ms"] >= 0 and j["start_ms"] < b and j["end_ms"] > a])

    def stage_sum(key):
        return sum(s[key] for s in stages) / n

    samples = w["samples"]
    task_s = sum(s["task_s"] for s in stages)
    return {
        "build.s": sum(s["build_s"] for s in samples) / n,
        "build.jobs": sum(j["parent"].endswith(".build") for j in jobs) / n,
        "plan.s": sum(s["plan_s"] for s in samples) / n,
        "sched.jobs": len(jobs) / n,
        "sched.stages": len(stages) / n,
        "sched.tasks": stage_sum("tasks"),
        "sched.job_union_s": union_ms / 1e3 / n,
        "sched.driver_gap_s": (wall_ms - union_ms) / 1e3 / n,
        "sched.task_wait_s": stage_sum("task_wait_s"),
        "sched.first_task_wait_s": stage_sum("first_task_wait_s"),
        "scan.bytes": stage_sum("input_bytes"),
        "scan.records": stage_sum("input_records"),
        "exec.task_s": task_s / n,
        "exec.cpu_s": stage_sum("cpu_s"),
        "exec.gc_s": stage_sum("gc_s"),
        "exec.parallelism": task_s / (wall_ms / 1e3),
        "shuffle.write_bytes": stage_sum("shuffle_write_bytes"),
        "shuffle.read_bytes": stage_sum("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": stage_sum("fetch_wait_s"),
        "spill.bytes": stage_sum("spill_bytes"),
        "ckpt.blocks": blocks["new_blocks"] / n,
        "ckpt.bytes": blocks["new_bytes"] / n,
        "ckpt.peak_mb": blocks["peak_bytes"] / 2**20,
        "jvm.jit_s": sum(s["jit_s"] for s in samples) / n,
        "host.cal_s": cal_s(w),
        "trace.pass_s": wall_ms / 1e3 / n,
        "trace.overhead_s": host_factor(w) * pass_s(w) - untraced_pass_adj_s,
    }


def trace_spans(w, spans):
    """Pass, query and phase spans of the traced window, followed by the job
    and stage spans the listener recorded."""
    out = [{"id": f"pass{i}", "parent": None, "kind": "pass", "name": f"pass {i}",
            "start_ms": a, "end_ms": b} for i, (a, b) in enumerate(w["passes"])]
    for s in w["samples"]:
        t = s["ms"]
        out.append({"id": s["id"], "parent": f"pass{s['pass']}", "kind": "query",
                    "name": s["query"], "start_ms": t[0], "end_ms": t[3]})
        for i, phase in enumerate(("build", "plan", "execute")):
            out.append({"id": f"{s['id']}.{phase}", "parent": s["id"], "kind": phase,
                        "name": s["query"], "start_ms": t[i], "end_ms": t[i + 1]})
    return out + spans


# ---------------------------------------------------------------- run

def run_workload(name, seed, seconds, trace, smoke, classpath, deadline):
    """Runs one workload. Returns the result line, the summary lines above
    it, and whether the run produced metrics: a run whose timed window holds
    no query (every query threw) reports correct=false with no metrics."""
    spec = WORKLOADS[name]
    data = corpus(spec["corpus"], smoke)
    out = WORK / "runs" / f"{name}-seed{seed}-trace{int(trace)}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    java = [
        "java", "-Xmx3g", f"-Djava.io.tmpdir={out / 'tmp'}",
        *[x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
        "-cp", classpath, "perfbench.Harness",
        "--workload", name, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--data", str(data), "--out", str(out),
        "--cores", str(CORES), "--batch", ",".join(spec["batch"]),
        "--min-passes", "1" if smoke else str(spec["min_passes"]),
        "--warm-passes", "0" if smoke else str(spec["warm_passes"]),
        "--launched-ms", str(int(time.time() * 1000)),
    ]
    budget = deadline - time.time() - 15
    with open(out / "harness.log", "w") as f:
        rc = run_bounded(java, budget, cwd=out, stdout=f, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if rc != 0:
        tail = (out / "harness.log").read_text().splitlines()[-30:]
        raise BenchError(f"harness exited with {rc}:\n" + "\n".join(tail))
    res = json.loads((out / "result.json").read_text())
    names = spec["batch"]
    t1 = time.time()
    verdict = oracle_check(data, out / "dump", names)
    oracle_s = time.time() - t1

    windows = res["windows"]
    errors = res["warmup_errors"] + [e for w in windows for e in w["errors"]]
    attempted = sum(len(w["samples"]) + len(w["errors"]) for w in windows) + len(names)
    bad = [q for q in names if not verdict.get(q, "FAIL").startswith("ok")]
    failed = len(errors) + len(bad)
    failed_keys = sorted(set(bad) | {q for q, _ in errors + res["dump_failures"]})

    untraced = windows[0]
    summary = [f"workload {name} seed {seed} on {data} ({CORES} cores)",
               "corpus rows: " + ", ".join(f"{t}={n}" for t, n in row_counts(data).items()),
               f"setup: session {res['session_s']:.2f} s, "
               f"dump and warm-up passes {res['warmup_s']:.2f} s",
               f"untraced window: {(untraced['end_ms'] - untraced['start_ms']) / 1e3:.1f} s, "
               f"{len(untraced['passes'])} passes, {len(untraced['samples'])} timed queries"]
    summary.append(f"  raw pass wall {pass_s(untraced):.4f} s; calibration median "
                   f"{cal_s(untraced):.4f} s (reference {CAL_REF_S} s)")
    for q, v in per_query_medians(untraced["samples"]).items():
        n = sum(s["query"] == q for s in untraced["samples"])
        summary.append(f"  {q:<28} median {v:8.4f} s  (n={n})")
    for q in names:
        summary.append(f"  oracle {q:<21} {verdict.get(q, 'FAIL: no verdict')}")
    for q, e in res["dump_failures"] + errors:
        summary.append(f"  error {q}: {e[:300]}")
    summary.append(f"oracle check {oracle_s:.2f} s; failed_frac {failed / attempted:.4f} "
                   f"({failed}/{attempted}); failed keys: {', '.join(failed_keys) or 'none'}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": {}}
    if not all(w["samples"] for w in windows):
        result["correct"] = False
        summary.append("no query completed in a timed window, so there are no metrics")
        return result, summary, False

    metrics = end_to_end(untraced, res["session_s"] + res["warmup_s"])
    units = END_TO_END
    if trace:
        traced = windows[1]
        metrics = per_layer(traced, res["spans"], res["blocks"], metrics["pass_adj_s"])
        units = PER_LAYER
        spans = trace_spans(traced, res["spans"])
        (out / "trace.json").write_text("\n".join(json.dumps(s) for s in spans) + "\n")
        summary.append(f"traced window: {len(traced['passes'])} passes; spans in {out / 'trace.json'}")
        summary.append(f"  driver gap {metrics['sched.driver_gap_s']:.4f} s + job union "
                       f"{metrics['sched.job_union_s']:.4f} s = traced pass {metrics['trace.pass_s']:.4f} s")
    for k, v in metrics.items():
        summary.append(f"  {k:<26} {v:.6g} {units[k]}")
    result["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    return result, summary, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on the sf0.001 tables (a fast end-to-end check)")
    a = ap.parse_args()
    try:
        if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
            raise BenchError(f"no graft sources under {ROOT}: run from the root of a checkout")
        WORK.mkdir(exist_ok=True)
        classpath = build()
        result, summary, ok = run_workload(a.workload, a.seed, a.seconds, bool(a.trace), a.smoke,
                                           classpath, time.time() + RUN_LIMIT_S)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print("\n".join(summary), flush=True)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
