#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client per workload.

Usage:
  python3 perfbench/run.py --workload geo_join --seed 1 --seconds 10 --trace 0

Run from anywhere inside a source tree of the repository. The first run
builds the engine and the harness with sbt (offline) into target/ and
caches the classpath under .bench_build/; later runs start the JVM
directly. Each run generates the workload's inputs from --seed, sets up
Spark several times, times passes over the workload's query list for
--seconds (a traced run for at least seven passes), checks every query's
output against its DuckDB oracle, and
prints one JSON line: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. See perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Rows per generated table: the repo's sf0.01 sizes.
SIZES = {"customer": 1500, "supplier": 100, "documents": 500}
# Each workload: its query list, run in this order, and the queries whose
# DuckDB oracle takes too long at the timed size to run on every benchmark
# run (15 s each at 500 documents, with the edge list below materialized).
# Those are checked against their
# oracle on a 1/10 derivative of the same seed (the generator's output at a
# tenth of SIZES), and at the timed size for identical output across two
# executions and across runs on identical inputs.
WORKLOADS = {
    # broadcast, grid and sphere joins and nearest-neighbour searches; a
    # traced pass runs no Spark job for about half its wall time (query
    # building and the eager control actions behind most of its jobs)
    "geo_join": {"queries": "g03 g15 g87 g90 g74 g77", "small_oracle": ""},
    # text kernels, LSH band shuffles and the driver-side loop of connected
    # components, in about equal parts executor and driver time; shares no
    # geometry code with geo_join
    "text_dedup": {"queries": "t02 t05 t07 t10 t31 t68", "small_oracle": "t10 t68"},
}
SETUPS = 3
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
MB = 1048576.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: no engine sources (build.sbt, src/main/scala) next to perfbench/")
    os.makedirs(WORK, exist_ok=True)
    stamp = _source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.exit("perfbench: sbt build failed, see .bench_build/perfbench/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ------------------------------------------------------------ harness run

def _steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs: a
    diagnostic for noisy runs on shared virtual machines."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def run_harness(cp, workload, data, small, out, seed, seconds, trace, deadline):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # -XX:-UsePerfData: no hsperfdata file outside the run directory
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
        "--data", data, "--small-data", small, "--out", out,
        "--queries", ",".join(WORKLOADS[workload]["queries"].split()),
        "--small", ",".join(WORKLOADS[workload]["small_oracle"].split()),
        "--seconds", str(seconds), "--trace", str(trace), "--setups", str(SETUPS),
        "--cores", str(cores), "--seed", str(seed)]
    with open(os.path.join(out, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit("perfbench: harness timed out, see harness.log in the run directory")
    if rc != 0:
        sys.exit(f"perfbench: harness exited with {rc}, see {out}/harness.log")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------- correctness gate

def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("|".join(f"{r[i]:.9g}" if isinstance(r[i], float) else repr(r[i])
                            for i in order))
    out.sort()
    return hashlib.md5("\n".join(out).encode()).hexdigest()


def _output_hash(con, path):
    r = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = [d[0] for d in r.description]
    rows = r.fetchall()
    return cols, rows, _canon(rows, cols)


def _duckdb(data):
    con = duckdb.connect()
    for t in ("region", "customer", "supplier", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


# The connected-components oracles (t10, t68) join a recursive CTE against
# the edge list `e`, and DuckDB 1.0 evaluates `e`, with the whole MinHash
# pipeline under it, again at every step of the recursion: 15 s at 50
# documents. Materializing `e` evaluates it once (1.5 s) and gives the same
# rows.
EDGES = "      e AS (SELECT id_a AS a"


def _evaluate_edges_once(sql):
    return sql.replace(EDGES, "      e AS MATERIALIZED (SELECT id_a AS a")


def _against_oracle(con, sql, path):
    """Compare the parquet output under `path` with the oracle's rows (row
    count, column names, hash of the sorted values). Returns both row counts
    and None when they agree, else the cause."""
    cols, rows, digest = _output_hash(con, path)
    if not sql:
        return len(rows), None, "no oracle"
    o = con.execute(_evaluate_edges_once(sql))
    ocols = [d[0] for d in o.description]
    orows = o.fetchall()
    if (len(rows) == len(orows) and sorted(cols) == sorted(ocols)
            and digest == _canon(orows, ocols)):
        return len(rows), len(orows), None
    return len(rows), len(orows), f"rows {len(rows)} vs oracle {len(orows)}, " \
                                  f"columns {cols} vs {ocols}, or values differ"


def check_outputs(res, workload, data, small, out, manifest):
    """Check each query's output from the first set-up pass against its
    DuckDB oracle on the same inputs (`check: oracle`). A small-oracle
    query is checked against its oracle on the 1/10 derivative inputs, and
    at the timed size against the output of its second execution in that
    pass and the output hash an earlier run recorded for identical inputs
    (`check: oracle-1/10+determinism`)."""
    con, con_small = _duckdb(data), _duckdb(small)
    slow = set(WORKLOADS[workload]["small_oracle"].split())
    inputs = hashlib.sha256(json.dumps(manifest["tables"], sort_keys=True).encode()).hexdigest()
    known_path = os.path.join(WORK, "output_hashes", f"{inputs}.json")
    known = {}
    if os.path.exists(known_path):
        with open(known_path) as f:
            known = json.load(f)
    checks = {}
    for q, sql in res["oracle_sql"].items():
        c = {"check": "oracle-1/10+determinism" if q in slow else "oracle"}
        t0 = time.monotonic()
        errors = [f"{k}: {v}" for k, v in res["dump_errors"].items() if k.split(".")[0] == q]
        if errors:
            c.update(ok=False, cause="; ".join(errors))
            checks[q] = c
            continue
        if q in slow:
            rows, orows, cause = _against_oracle(con_small, sql, f"{out}/outputs/{q}.small")
            c.update(small_rows=rows, small_oracle_rows=orows)
            digest = _output_hash(con, f"{out}/outputs/{q}")[2]
            again = _output_hash(con, f"{out}/outputs/{q}.2")[2]
            if cause is None and (again != digest or known.setdefault(q, digest) != digest):
                cause = "output differs between executions or runs"
        else:
            rows, orows, cause = _against_oracle(con, sql, f"{out}/outputs/{q}")
            c.update(rows=rows, oracle_rows=orows)
        c.update(ok=cause is None, check_s=round(time.monotonic() - t0, 3))
        if cause:
            c["cause"] = cause
        checks[q] = c
    os.makedirs(os.path.dirname(known_path), exist_ok=True)
    with open(known_path, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    return checks


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_len(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def by_pass(res):
    """Per timed pass: its record, executions, jobs, stages and plans."""
    out = []
    for p in res["passes"]:
        lo, hi = p["start_ns"], p["end_ns"]
        out.append({
            "pass": p, "wall_s": (hi - lo) / 1e9,
            "execs": [e for e in res["execs"] if e["pass"] == p["pass"]],
            "jobs": [j for j in res["jobs"] if j["pass"] == p["pass"]],
            "stages": [s for s in res["stages"] if s["pass"] == p["pass"]],
            "plans": [r for r in res["plans"]
                      if r["phases"] and lo <= min(ph["start_ms"] for ph in r["phases"]) * 1e6 <= hi],
        })
    return out


def layer_split(bp):
    """Pass wall time split by the deepest layer active at each instant:
    exec (a stage is running), sched (a job, but no stage), driver (inside
    a query's build or exec call, no job) and harness (between queries)."""
    lo, hi = bp["pass"]["start_ns"], bp["pass"]["end_ns"]
    stages = [(s["submit_ms"] * 1e6, s["complete_ms"] * 1e6) for s in bp["stages"]]
    jobs = [(j["start_ms"] * 1e6, j["end_ms"] * 1e6) for j in bp["jobs"]] + stages
    calls = [(e["start_ns"], e["start_ns"] + e["build_ns"] + e["exec_ns"]) for e in bp["execs"]]
    t_exec = union_len(stages, lo, hi)
    t_jobs = union_len(jobs, lo, hi)
    t_calls = union_len(calls + jobs, lo, hi)
    wall = hi - lo
    return {"exec": t_exec / 1e9, "sched": (t_jobs - t_exec) / 1e9,
            "driver": (t_calls - t_jobs) / 1e9, "harness": (wall - t_calls) / 1e9,
            "idle": (wall - t_jobs) / 1e9}


def pass_layers(bp, cores):
    st, jobs = bp["stages"], bp["jobs"]
    run_s = sum(s["run_ms"] for s in st) / 1e3
    n_jobs = len(jobs)
    return {
        "driver.build_s": sum(e["build_ns"] for e in bp["execs"]) / 1e9,
        "driver.build_jobs": sum(1 for j in jobs if j["phase"] == "build"),
        "driver.plan_s": sum(ph["end_ms"] - ph["start_ms"]
                             for r in bp["plans"] for ph in r["phases"]) / 1e3,
        "driver.idle_s": layer_split(bp)["idle"],
        "driver.result_mb": sum(s["result_b"] for s in st) / MB,
        "sched.jobs": n_jobs,
        "sched.stages": len(st),
        "sched.tasks": sum(s["tasks"] for s in st),
        "sched.tasks_per_job": sum(s["tasks"] for s in st) / max(1, n_jobs),
        "sched.single_task_stages": sum(1 for s in st if s["num_tasks"] == 1),
        "sched.slot_util": run_s / (cores * bp["wall_s"]),
        "exec.task_run_s": run_s,
        "exec.gc_s": sum(s["gc_ms"] for s in st) / 1e3,
        "exec.input_mb": sum(s["input_b"] for s in st) / MB,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / MB,
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in st) / MB,
        "exec.spill_mb": sum(s["spill_b"] for s in st) / MB,
        "exec.max_task_s": max([s["max_task_ms"] for s in st] or [0]) / 1e3,
    }


def end_to_end(res, passes):
    timed = [bp for bp in passes if not bp["pass"]["traced"]]
    walls = [bp["wall_s"] for bp in timed]
    per_q = {}
    for bp in timed:
        for e in bp["execs"]:
            per_q.setdefault(e["query"], []).append((e["build_ns"] + e["exec_ns"]) / 1e9)
    cpu = [sum(s["cpu_ns"] for s in bp["stages"]) / 1e9 for bp in timed]
    return {
        "pass_s": median(walls),
        "task_cpu_s": median(cpu),
        "live_heap_mb": res["live_heap_mb"],
        "setup_s": median(res["setup_s"]),
    }, {"passes": len(walls), "executions": sum(len(v) for v in per_q.values()),
        "pass_s_quartiles": statistics.quantiles(walls, n=4) if len(walls) > 1 else walls,
        "query_s_median": {q: median(v) for q, v in per_q.items()}}


def per_layer(res, passes):
    """Per-layer metrics: medians over the traced passes. Pass i of a traced
    run is traced when i is odd and the harness ends the run on an untraced
    pass, so each traced pass has an untraced neighbour on either side;
    its tracing overhead is its wall time minus the mean of theirs, which
    cancels the drift of pass times through the window (JIT warm-up)."""
    cores = res["cores"]
    traced = [k for k, bp in enumerate(passes) if bp["pass"]["traced"]]
    rows = [pass_layers(passes[k], cores) for k in traced]
    m = {key: median([r[key] for r in rows]) for key in rows[0]}
    splits = [layer_split(passes[k]) for k in traced]
    for layer in ("driver", "sched", "exec", "harness"):
        m[f"self.{layer}_s"] = median([sp[layer] for sp in splits])
    m["trace.pass_s"] = median([passes[k]["wall_s"] for k in traced])
    neighbours = [(passes[k - 1]["wall_s"] + passes[k + 1]["wall_s"]) / 2 for k in traced]
    overheads = [passes[k]["wall_s"] - n for k, n in zip(traced, neighbours)]
    m["trace.overhead_s"] = median(overheads)
    # the driver, sched and exec self times of a traced pass should add up
    # to its untraced neighbours plus the tracing overhead; what they miss
    # is time no layer claims (self.harness_s). The check allows the
    # scatter of the overhead samples.
    accounted = [sp["driver"] + sp["sched"] + sp["exec"] for sp in splits]
    m["trace.self_gap_s"] = median([x - n for x, n in zip(accounted, neighbours)])
    tolerance = max(abs(o - m["trace.overhead_s"]) for o in overheads)
    check = {"untraced_pass_s": median(neighbours),
             "gap_s": m["trace.self_gap_s"], "overhead_s": m["trace.overhead_s"],
             "overhead_samples_s": overheads, "tolerance_s": tolerance,
             "ok": abs(m["trace.self_gap_s"] - m["trace.overhead_s"]) <= tolerance}
    m.update(res["kernels"])
    return m, check


def trace_spans(res, passes):
    """Span tree of the traced passes: run > pass > query > build/exec >
    job > stage, plus planning phases and the kernel/codec spans."""
    spans = []

    def add(name, layer, start, end, parent, **kw):
        spans.append(dict(id=len(spans), parent=parent, name=name, layer=layer,
                          start_ns=int(start), end_ns=int(end), **kw))
        return len(spans) - 1

    ends = [p["end_ns"] for p in res["passes"]] + [s["end_ns"] for s in res["kernel_spans"]]
    run = add("run", "harness", min(p["start_ns"] for p in res["passes"]), max(ends), None)
    for bp in passes:
        p = bp["pass"]
        pid = add(p["pass"], "harness", p["start_ns"], p["end_ns"], run, traced=p["traced"])
        if not p["traced"]:
            continue
        for e in bp["execs"]:
            q0, q1 = e["start_ns"], e["start_ns"] + e["build_ns"]
            qid = add(e["query"], "harness", q0, q1 + e["exec_ns"], pid, error=e["error"])
            phase_ids = {"build": add("build", "driver", q0, q1, qid),
                         "exec": add("exec", "driver", q1, q1 + e["exec_ns"], qid)}
            for r in bp["plans"]:
                for ph in r["phases"]:
                    t = ph["start_ms"] * 1e6
                    for name, sid in phase_ids.items():
                        s = spans[sid]
                        if s["start_ns"] <= t <= s["end_ns"]:
                            add("plan." + ph["phase"], "driver", t, ph["end_ms"] * 1e6, sid)
            for j in bp["jobs"]:
                if j["query"] != e["query"] or j["phase"] not in phase_ids:
                    continue
                jid = add(f"job {j['job']}", "sched", j["start_ms"] * 1e6, j["end_ms"] * 1e6,
                          phase_ids[j["phase"]])
                for s in bp["stages"]:
                    if s["stage"] in j["stages"]:
                        add(f"stage {s['stage']}", "exec", s["submit_ms"] * 1e6,
                            s["complete_ms"] * 1e6, jid, tasks=s["tasks"],
                            run_ms=s["run_ms"], cpu_ns=s["cpu_ns"])
    if res["kernel_spans"]:
        k0 = min(s["start_ns"] for s in res["kernel_spans"])
        k1 = max(s["end_ns"] for s in res["kernel_spans"])
        kid = add("kernels", "harness", k0, k1, run)
        for s in res["kernel_spans"]:
            add(s["name"], s["name"].split(".")[0], s["start_ns"], s["end_ns"], kid)
    return spans


def per_query(passes):
    """Per-query breakdown over the traced passes (medians)."""
    out = {}
    for bp in passes:
        if not bp["pass"]["traced"]:
            continue
        for e in bp["execs"]:
            jobs = [j for j in bp["jobs"] if j["query"] == e["query"]]
            st = [s for s in bp["stages"] if s["query"] == e["query"]]
            r = out.setdefault(e["query"], {k: [] for k in (
                "build_s", "exec_s", "jobs", "build_jobs", "tasks", "task_run_s")})
            r["build_s"].append(e["build_ns"] / 1e9)
            r["exec_s"].append(e["exec_ns"] / 1e9)
            r["jobs"].append(len(jobs))
            r["build_jobs"].append(sum(1 for j in jobs if j["phase"] == "build"))
            r["tasks"].append(sum(s["tasks"] for s in st))
            r["task_run_s"].append(sum(s["run_ms"] for s in st) / 1e3)
    return {q: {k: median(v) for k, v in r.items()} for q, r in out.items()}


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    data = os.path.join(WORK, "data", f"{a.workload}-s{a.seed}")
    manifest = gen.generate(data, a.seed, SIZES)
    small = data + "-tenth"
    gen.generate(small, a.seed, {t: n // 10 for t, n in SIZES.items()})
    out = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    steal0 = _steal_s()
    res = run_harness(cp, a.workload, data, small, out, a.seed, a.seconds, a.trace, deadline)
    steal_s = _steal_s() - steal0
    checks = check_outputs(res, a.workload, data, small, out, manifest)
    passes = by_pass(res)

    bad = {q for q, c in checks.items() if not c["ok"]}
    timed = [e for bp in passes for e in bp["execs"]]
    if not timed:
        sys.exit("perfbench: no timed pass completed")
    failed = sum(1 for e in timed if e["error"] or e["query"] in bad)
    e2e, samples = end_to_end(res, passes)
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "manifest": manifest,
               "samples": samples, "checks": checks, "setup_runs_s": res["setup_s"],
               "host_steal_s": steal_s, "end_to_end": e2e, "metrics": e2e}
    if a.trace:
        summary["metrics"], summary["trace_check"] = per_layer(res, passes)
        if not summary["trace_check"]["ok"]:
            log("self times do not account for the untraced pass within the tracing "
                "overhead: " + json.dumps(summary["trace_check"]))
        summary["per_query"] = per_query(passes)
        summary["pass_counts"] = [pass_layers(bp, res["cores"]) for bp in passes
                                  if bp["pass"]["traced"]]
        with open(os.path.join(out, "trace.json"), "w") as f:
            json.dump({"spans": trace_spans(res, passes), "per_query": summary["per_query"]}, f)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for d in ("spark-local", "tmp", "codec", "outputs"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    if bad:
        log("failed correctness: " + ", ".join(f"{q} ({checks[q]['cause']})" for q in sorted(bad)))
    log(f"{a.workload} seed {a.seed}: {samples['passes']} untraced passes, "
        f"{len(timed)} executions, {failed} failed")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": len(timed),
                      "failed": failed,
                      "metrics": {m["name"]: {"value": summary["metrics"][m["name"]],
                                              "unit": m["unit"]}
                                  for m in declared}}))


if __name__ == "__main__":
    main()
