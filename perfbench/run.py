#!/usr/bin/env python3
"""Build-to-result benchmark for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 15 --trace 0

The first run builds the engine and the driver in perfbench/ with sbt and
keeps the classpath under .bench_build/. Each run then starts one JVM
(perfbench.Driver): one closed-loop client on a session profile derived
from the number of usable cpus. The driver sets up the session and tables
once, warms up, times whole passes over the workload's ops, each sample
running from the call that builds the DataFrame to the last row
collected, runs a host speed burst after each sample, and writes the
first timed pass's results. This script compares them with each op's
DuckDB oracle SQL, using tools/selfcheck.py's comparison, and derives the
metrics:

  --trace 0  end-to-end metrics (setup_s, pass_s, latency_p50_ms), scaled
             to the reference host speed by the bursts; the times as
             measured (*_wall) and the latency tail are printed beside
             them. No listener is attached.
  --trace 1  per-layer metrics from a SparkListener and the driver's own
             spans. Passes run traced, untraced, untraced, traced; the
             untraced ones give the pass time trace.overhead_pct is taken
             against.

Every line printed before the last carries the run's stamp (cpus, parts,
shuffle, aqe, lane, heap, commit, seed, warm-up passes, set-up time,
loadavg bookends, cpu steal, first quartile of the host speed bursts).
The last line is the result: {"correct", "attempted", "failed",
"metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")

# The TPC-H queries the benchmark's layers are read from: q1, the
# engine's flagship query; q15, the only one that runs a job while its
# DataFrame is built; q6, short and launch-bound; q18 and q21, the longest;
# q11, q16 and q18, shuffle-heavy; q2, q16, q21 and q22, the floor-bound
# cells. All 22 do not fit the benchmark's time budget (perfbench/README.md).
TPCH = ["q1", "q2", "q6", "q11", "q15", "q16", "q18", "q21", "q22"]
WORKLOADS = {
    "tpch": ("cached", TPCH),
    "tpch_parquet": ("parquet", TPCH),
}
# Per-op layer rows are printed for these cells of the traced run.
FLOOR_CELLS = ["q2", "q16", "q21", "q22"]
HEAP = "4g"
RUN_LIMIT_S = 170   # the whole run, build excluded
# Wall time of one host speed burst (perfbench.HostSpeed, on 4 threads),
# the first quartile of a run's bursts, on the reference host: a 4-cpu KVM
# guest, Xeon at 2.0 GHz, in a calm phase. The end-to-end times are scaled
# to it (perfbench/README.md, "Host speed").
REF_BURST_MS = 25.0
# The union of stage intervals plus sched.gap_ms must equal exec.ms within
# this share; stage times are whole milliseconds, driver spans microseconds.
UNION_TOLERANCE = 0.02

# Per-layer metrics and their units, by layer.
PER_LAYER = {
    "session.start_ms": "ms",
    "tables.load_ms": "ms", "tables.jobs": "count", "tables.task_ms": "ms",
    "tables.cached_bytes": "bytes",
    "build.ms": "ms", "build.jobs": "count", "build.tasks": "count",
    "build.task_ms": "ms",
    "plan.ms": "ms", "plan.exchanges": "count", "plan.rdd_scans": "count",
    "plan.codegen_stages": "count", "codegen.compiles": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "sched.delay_ms": "ms", "sched.gap_ms": "ms",
    "exec.ms": "ms", "task.run_ms": "ms", "task.cpu_ms": "ms",
    "task.gc_ms": "ms", "task.deser_ms": "ms", "task.retries": "count",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "scan.input_bytes": "bytes", "scan.input_rows": "count",
    "scan.rows_per_result_row": "ratio",
    "self.build_ms": "ms", "self.plan_ms": "ms", "self.exec_ms": "ms",
    "self.job_ms": "ms", "self.stage_ms": "ms",
    "trace.overhead_pct": "%", "trace.union_err_pct": "%",
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def cpu_ticks():
    """(steal, total) jiffies of all cpus, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return 0, 0


def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            if os.sep + "target" in d:
                continue
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def commit():
    """git HEAD when there is one, else a hash of the sources built."""
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "tree-" + h.hexdigest()[:12]


def classpath():
    """Build once per checkout with sbt; rebuild when a source is newer."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"{ROOT} holds no engine sources (build.sbt, src/main)")
    cp_file = os.path.join(BUILD, "classpath.txt")
    newest = max(os.path.getmtime(f) for f in source_files())
    if os.path.isfile(cp_file) and os.path.getmtime(cp_file) >= newest:
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # the build resolves nothing new: offline, from the local caches
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail(f"build printed no usable classpath, see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def run_driver(cp, workload, seed, seconds, trace, run_dir, deadline):
    lane, ops = WORKLOADS[workload]
    n = cpus()
    tmp = os.path.join(run_dir, "tmp")
    check = os.path.join(run_dir, "check")
    os.makedirs(tmp)
    os.makedirs(check)
    raw = os.path.join(run_dir, "raw.json")
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # C1 only: a run's JVM lives under a minute, too short for C2 to
           # settle (pass times still fell after ten passes); C1 code
           # levels off after the first pass, which the warm-up absorbs.
           # Gains in operators and kernels are to be confirmed under C2
           # with graft.Bench (perfbench/README.md)
           + [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
              "-XX:TieredStopAtLevel=1",
              "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", cp, "perfbench.Driver",
              f"data={DATA}", f"lane={lane}", f"ops={','.join(ops)}",
              f"cpus={n}", f"seed={seed}", f"seconds={seconds}",
              f"trace={trace}", f"check={check}", f"out={raw}"])
    log = os.path.join(run_dir, "driver.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=out,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"driver exceeded the run's time limit, see {log}")
    if r.returncode != 0 or not os.path.isfile(raw):
        fail(f"driver exited with {r.returncode}, see {log}")
    with open(raw) as f:
        return json.load(f), check


def oracle_check(ops, raw, check):
    """Each op's result against its DuckDB oracle SQL, compared the way
    tools/selfcheck.py compares them. Returns {op: mismatch message}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    import selfcheck

    con = None
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def expected(sql):
        # DuckDB's answer for fixed SQL over the fixed tables is cached per
        # checkout: some oracles take a minute, and every run checks again
        nonlocal con
        key = hashlib.sha1((DATA + "\0" + sql).encode()).hexdigest()
        path = os.path.join(BUILD, "oracle", key + ".pkl")
        if os.path.isfile(path):
            return pd.read_pickle(path)
        if con is None:
            con = duckdb.connect()
            for t in selfcheck.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(DATA, t + '.parquet')}')")
        df = con.execute(sql).fetchdf()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df
    errors = {s[0]: s[8] for s in raw["samples"] if s[1] == 0 and s[8]}
    bad = {}
    for op in ops:
        if op in errors:
            bad[op] = f"threw: {errors[op]}"
            continue
        if op not in oracle:
            bad[op] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(check, op, "*.parquet")))
        if not files:
            bad[op] = "no result written"
            continue
        try:
            got = pd.concat([pd.read_parquet(f) for f in files])
            want = expected(oracle[op])
            err = selfcheck.compare(got, want, 1e-9)
        except Exception as e:  # a failed comparison is a mismatch, by name
            err = f"{type(e).__name__}: {e}"
        if err:
            bad[op] = err
    return bad


def end_to_end(raw):
    """The end-to-end metrics at the reference host speed, the same as
    measured (wall), and the latency tail where it is defined."""
    passes = [us / 1e6 for us, traced, _ in raw["passes"] if not traced]
    lat = [(s[6] - s[3]) / 1e3 for s in raw["samples"] if not s[2] and not s[8]]
    wall = {
        "setup_s": (sum(raw["setup"]) / 1e6, "s"),
        "pass_s": (stats.p50(passes), "s"),
        "latency_p50_ms": (stats.p50(lat), "ms"),
    }
    # one factor for the whole run: bursts run at set-up tracked the host
    # less well than those run between the timed samples (README)
    scale = stats.host_scale(raw["host_burst_ns"], REF_BURST_MS)
    metrics = {k: (v * scale, unit) for k, (v, unit) in wall.items()}
    return metrics, wall, stats.tail(lat), len(lat)


def per_layer(raw, ops):
    """Per-layer metrics, each a total per traced pass."""
    traced = [s for s in raw["samples"] if s[2]]
    traced_passes = sorted({s[1] for s in traced})
    P = len(traced_passes)
    jobs = {j[0]: j for j in raw["jobs"]}
    stage_recs = {}
    for st in raw["stages"]:
        stage_recs.setdefault(st[0], []).append(st)
    owner = {}  # stage id -> the first job that lists it, which ran it
    for jid in sorted(jobs):
        for sid in jobs[jid][4]:
            owner.setdefault(sid, jid)
    job_stages = {jid: [] for jid in jobs}
    for sid, recs in stage_recs.items():
        if sid in owner:
            job_stages[owner[sid]] += recs

    # samples by (op, pass); each job to (op, pass, phase) by its job group,
    # or, failing that, by the sample window its start falls in
    by_key = {(s[0], s[1]): s for s in traced}

    def phase_of(job):
        parts = job[1].split("|")
        if len(parts) == 3 and parts[1].lstrip("-").isdigit():
            return parts[0], int(parts[1]), parts[2]
        start_us = job[2] * 1000
        for s in traced:
            if s[3] <= start_us <= s[6]:
                ph = "build" if start_us < s[4] else "plan" if start_us < s[5] else "exec"
                return s[0], s[1], ph
        return None, None, "other"

    sample_jobs = {}
    table_jobs = []
    for j in jobs.values():
        op, p, ph = phase_of(j)
        if ph == "tables":
            table_jobs.append(j)
        elif (op, p) in by_key:
            sample_jobs.setdefault((op, p, ph), []).append(j)

    def jobs_in(phase, op=None):
        return [j for (o, _, ph), js in sample_jobs.items()
                if ph == phase and (op is None or o == op) for j in js]

    def stages_of(js):
        return [st for j in js for st in job_stages[j[0]]]

    def col(sts, i):
        return sum(st[i] for st in sts)

    def span(st):
        return (st[2] * 1000, st[3] * 1000) if st[2] >= 0 and st[3] >= 0 else (0, 0)

    def job_span(j):
        return (j[2] * 1000, j[3] * 1000)

    def layer_rows(op=None):
        ss = [s for s in traced if op is None or s[0] == op]
        bj, pj, ej = (jobs_in(ph, op) for ph in ("build", "plan", "exec"))
        bs, es, alls = stages_of(bj), stages_of(ej), stages_of(bj + pj + ej)
        gap_us = union_us = self_build = self_plan = self_exec = 0
        for s in ss:
            def spans(ph):
                return [job_span(j) for j in sample_jobs.get((s[0], s[1], ph), [])]
            ex = [span(st) for st in
                  stages_of(sample_jobs.get((s[0], s[1], "exec"), []))]
            window = (s[5], s[6])
            # exec time with no stage of the sample running
            gap_us += stats.self_time(window, ex)
            union_us += stats.covered(ex)
            self_build += stats.self_time((s[3], s[4]), spans("build"))
            self_plan += stats.self_time((s[4], s[5]), spans("plan"))
            self_exec += stats.self_time(window, spans("exec"))
        self_job = sum(stats.self_time(job_span(j), [span(st) for st in job_stages[j[0]]])
                       for j in bj + pj + ej)
        rows = sum(s[7] for s in ss)
        exec_us = sum(s[6] - s[5] for s in ss)
        r = {
            "build.ms": sum(s[4] - s[3] for s in ss) / 1e3,
            "build.jobs": len(bj),
            "build.tasks": col(bs, 4),
            "build.task_ms": col(bs, 6),
            "plan.ms": sum(s[5] - s[4] for s in ss) / 1e3,
            "plan.exchanges": sum(s[9] for s in ss),
            "plan.rdd_scans": sum(s[10] for s in ss),
            "plan.codegen_stages": sum(s[11] for s in ss),
            "exec.jobs": len(ej),
            "exec.stages": len(es),
            "exec.tasks": col(es, 4),
            "sched.delay_ms": col(es, 10),
            "sched.gap_ms": gap_us / 1e3,
            "exec.ms": exec_us / 1e3,
            "task.run_ms": col(es, 6),
            "task.cpu_ms": col(es, 7),
            "task.gc_ms": col(es, 8),
            "task.deser_ms": col(es, 9),
            "task.retries": col(alls, 5),
            "shuffle.read_bytes": col(alls, 13),
            "shuffle.write_bytes": col(alls, 14),
            "shuffle.fetch_wait_ms": col(alls, 15),
            "spill.bytes": col(alls, 16),
            "scan.input_bytes": col(alls, 11),
            "scan.input_rows": col(alls, 12),
            "scan.rows_per_result_row": col(alls, 12) / rows if rows else 0.0,
            "self.build_ms": self_build / 1e3,
            "self.plan_ms": self_plan / 1e3,
            "self.exec_ms": self_exec / 1e3,
            "self.job_ms": self_job / 1e3,
            "self.stage_ms": sum(span(st)[1] - span(st)[0] for st in alls) / 1e3,
        }
        err = abs(union_us + gap_us - exec_us) / exec_us if exec_us else 0.0
        return {k: (v if k == "scan.rows_per_result_row" else v / P)
                for k, v in r.items()}, err

    m, union_err = layer_rows()
    tstages = stages_of(table_jobs)
    session_us, tables_us = raw["setup"]
    untraced = [us for us, t, _ in raw["passes"] if not t]
    traced_p = [us for us, t, _ in raw["passes"] if t]
    compiles = [c for _, t, c in raw["passes"] if t]
    m.update({
        "session.start_ms": session_us / 1e3,
        "tables.load_ms": tables_us / 1e3,
        "tables.jobs": len(table_jobs),
        "tables.task_ms": col(tstages, 6),
        "tables.cached_bytes": raw["cached_bytes"],
        "codegen.compiles": sum(compiles) / len(compiles),
        "trace.overhead_pct": (stats.p50(traced_p) / stats.p50(untraced) - 1) * 100,
        "trace.union_err_pct": union_err * 100,
    })
    floor = {op: layer_rows(op)[0] for op in FLOOR_CELLS if op in ops}
    return m, floor, union_err


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()
    cp = classpath()
    load_before = loadavg()
    ticks_before = cpu_ticks()
    deadline = time.monotonic() + RUN_LIMIT_S
    lane, ops = WORKLOADS[a.workload]
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    raw, check = run_driver(cp, a.workload, a.seed, a.seconds, a.trace, run_dir, deadline)
    ticks = [now - then for now, then in zip(cpu_ticks(), ticks_before)]
    bad = oracle_check(ops, raw, check)

    stamp = {
        "workload": a.workload, "cpus": raw["cpus"], "parts": raw["parts"],
        "shuffle": raw["shuffle"], "aqe": raw["aqe"], "lane": raw["lane"],
        "heap": HEAP, "heap_bytes": raw["heap_bytes"], "spark": raw["spark"],
        "commit": commit(), "seed": a.seed, "trace": a.trace,
        "data": os.path.relpath(DATA, ROOT),
        "warmup_passes": raw["warmup"],
        # session start and table loading
        "setup_s": [round(x / 1e6, 3) for x in raw["setup"]],
        "timed_passes": len(raw["passes"]), "timed_s": raw["timed_us"] / 1e6,
        "loadavg": {"before": load_before, "after": loadavg()},
        # cpu time the hypervisor gave to other guests while the driver ran
        "steal_pct": round(100 * ticks[0] / ticks[1], 2) if ticks[1] else None,
        # host speed bursts of the timed passes, first quartile, and the
        # reference
        "host_burst_ms": [stats.q1(raw["host_burst_ns"]) / 1e6, REF_BURST_MS],
    }

    def emit(**kv):
        print(json.dumps({**kv, "stamp": stamp}))

    threw = [s for s in raw["samples"] if s[8]]
    attempted = len(raw["samples"]) + len(ops)
    failed = len(threw) + len(bad)
    for op, msg in sorted(bad.items()):
        emit(mismatch=op, detail=msg[:500])
    for s in threw:
        emit(failed_sample=s[0], detail=s[8][:500])
    emit(metric="error_rate", value=stats.error_rate(failed, attempted),
         unit="ratio", failed=failed, attempted=attempted)

    if a.trace == 0:
        metrics, wall, tail, n = end_to_end(raw)
        for k, (v, unit) in wall.items():
            emit(metric=k + "_wall", value=v, unit=unit,
                 detail="as measured, not scaled to the reference host speed")
        if tail:
            emit(metric="latency_tail_ms", value=tail[1], unit="ms",
                 percentile=tail[0], beyond=tail[2], samples=n)
        else:
            emit(metric="latency_tail_ms", value=None, unit="ms", samples=n,
                 detail="fewer than 10 samples lie past the median")
    else:
        metrics, floor, union_err = per_layer(raw, ops)
        for op, row in floor.items():
            emit(op_layers=op, per_pass={k: round(v, 3) for k, v in row.items()})
        emit(check="stage_union_plus_gap_vs_exec_ms", error_pct=union_err * 100,
             tolerance_pct=UNION_TOLERANCE * 100, ok=union_err <= UNION_TOLERANCE)
        if union_err > UNION_TOLERANCE:
            bad["<trace>"] = "stage intervals plus gap do not add up to exec.ms"
        metrics = {k: (metrics[k], unit) for k, unit in PER_LAYER.items()}
    for k, (v, unit) in metrics.items():
        emit(metric=k, value=v, unit=unit)
    out = {
        "correct": not bad and not threw,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    sys.stdout.flush()
    print(f"perfbench: {a.workload} seed {a.seed} took "
          f"{time.monotonic() - start:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
