#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <suite|etl_refresh> \
        --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
program and the harness (``sbt benchLaunch`` in this directory) and
generates the fixed base tables; later runs reuse both while their sources
are unchanged. Everything a run writes goes under ``.bench_build/``.

A run makes its inputs from the seed, runs the harness JVM (``Main.scala``:
set-up three times, an untimed output pass and an untimed warm pass, timed
passes for ``--seconds``), checks the outputs against DuckDB (``oracle.py``)
and prints, as its last line, ``{"correct", "attempted", "failed",
"metrics"}``. See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BASE_SEED, BASE_SCALE = 0, 0.01
RUN_LIMIT_S = 170
JVM_HEAP = "3g"
QUERY_TIMEOUT_S = 60

# A fixed slice of the query suite (README.md says why these). It has no
# streaming, source/sink round-trip or bucketed/partitioned-layout query:
# those write to fixed paths outside the data directory.
SUITE = """
flagship_refined a1_groupby_agg a7_percentiles j1_normalized_key_join
w3_rolling_mean w19_rolling_median o4_skyline sc4_global_rank x1_pivot
p13_stratified_sample f7_json_extract ty1_typed_pipeline tj1_asof_join
stats_spearman c3_ks_drift h3_shipping_priority
""".split()

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
              "query_p75_s": "s", "heap_live_mb": "MB"}
PER_LAYER = {
    "construct_s": "s", "construct_jobs": "count", "plan_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s", "busy_frac": "ratio",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "input_mb": "MB", "scan_tasks": "count",
    "etl_build_s": "s", "etl_write_s": "s", "etl_catalog_s": "s", "etl_read_s": "s",
    "output_mb": "MB", "output_files": "count", "write_amp": "ratio",
    "cache_mb": "MB", "gen_s": "s", "setup_cold_s": "s", "first_pass_s": "s",
    "trace_overhead_frac": "ratio",
    "failed_frac": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    """Content hash of every regular file under `paths` (sorted walk)."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in sorted(files):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's scratch files (file watcher, sockets) stay in the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    return env


def build():
    """Compile the program and harness once per source state."""
    sources = [os.path.join(ROOT, p) for p in
               ("build.sbt", "project/build.properties", "src/main")] + \
              [os.path.join(HERE, p) for p in
               ("build.sbt", "project/build.properties", "src/main")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"cannot build: missing {', '.join(missing)}")
    stamp = digest(sources)
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return launch
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                            "benchLaunch"],
                           cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0 or not os.path.exists(launch):
        raise SystemExit("build failed; see .bench_build/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def base_inputs():
    """The fixed base tables of the suite, made once."""
    path = os.path.join(BUILD, "data", "base")
    stamp = f"{digest([os.path.join(HERE, 'gen.py')])}:{BASE_SEED}:{BASE_SCALE}"
    stamp_file = path + ".stamp"
    t0 = time.perf_counter()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(path, ignore_errors=True)
        gen.gen_base(path, BASE_SEED, BASE_SCALE)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return path, time.perf_counter() - t0


def lake_inputs(seed):
    path = os.path.join(BUILD, "data", "lake")
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    stats = gen.gen_lake(path, seed)
    return path, time.perf_counter() - t0, stats


def order(ops, seed):
    """The seed's permutation of the operation order."""
    ops = list(ops)
    random.Random(seed).shuffle(ops)
    return ops


def orders(ops, seed, passes=32):
    """One order per pass, all fixed by the seed: pass k runs the seed's
    k-th permutation, so a run's figures average over several orders
    instead of resting on one."""
    return [order(ops, seed * 1000 + k) for k in range(passes)]


def run_jvm(launch, args, work, deadline):
    lines = open(launch).read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    cmd = ["java", *opts, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main", *args]
    env = dict(os.environ, SPARK_GRAFT_QUERY_TIMEOUT_SEC=str(QUERY_TIMEOUT_S))
    # Spark prefers these over spark.local.dir; the session's scratch stays
    # in the work directory
    env.pop("SPARK_LOCAL_DIRS", None)
    env.pop("LOCAL_DIRS", None)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=err, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit("harness JVM exceeded the run's time limit")
        finally:
            # also on a timeout or a signal to this process: never leave it running
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        raise SystemExit(f"harness JVM exited with {rc}; see {work}/jvm.log")


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def latencies(rec):
    """Each operation's latencies (construction + action) over the passes."""
    by_op = {}
    for p in rec["passes"]:
        for o in p["ops"]:
            if o["ok"]:
                by_op.setdefault(o["name"], []).append(o["construct_s"] + o["action_s"])
    return by_op


def metrics_from(rec, gen_s, n_attempted, n_failed, trace):
    if not trace:
        by_op = latencies(rec)
        # the query latencies: every timed suite query, or on etl_refresh
        # the consumer aggregate read through the catalog after each refresh
        lat = (rec["etl"]["read_samples_s"] if rec["workload"] == "etl_refresh"
               else [v for vs in by_op.values() for v in vs])
        m = {
            "setup_s": statistics.median(rec["setup_s"]),
            # a typical pass: each operation's median over the passes, summed
            "wall_s": sum(statistics.median(vs) for vs in by_op.values()),
            "query_p50_s": quantile(lat, 0.5),
            "query_p75_s": quantile(lat, 0.75),
            "heap_live_mb": rec["heap_live_mb"],
        }
        units = END_TO_END
    else:
        t = dict(rec["trace"])
        t.update(rec.get("etl") or {})
        m = {k: t.get(k, 0.0) for k in PER_LAYER}
        m["busy_frac"] = t["task_run_s"] / max(1e-9, t["wall_s"] * rec["cores"])
        m["cache_mb"] = rec["cache_mb"]
        m["first_pass_s"] = rec["first_pass_s"]
        m["setup_cold_s"] = rec["setup_s"][0]
        m["gen_s"] = gen_s
        m["trace_overhead_frac"] = t["overhead_frac"]
        m["failed_frac"] = n_failed / n_attempted
        units = PER_LAYER
    return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["suite", "etl_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.monotonic()
    # a terminated run unwinds, so the finally blocks stop its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    launch = build()
    # the build may take long the first time; the run's own limit starts here
    deadline = time.monotonic() + RUN_LIMIT_S
    base, gen_s = base_inputs()
    work = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    lake = ""
    if a.workload == "etl_refresh":
        lake, gen_s, stats = lake_inputs(a.seed)
        log(f"lake: {json.dumps(stats, sort_keys=True)}")
        per_pass = [["etl_refresh"]]
    else:
        per_pass = orders(SUITE, a.seed)
    ops = per_pass[0]
    with open(os.path.join(work, "ops.txt"), "w") as f:
        f.write("".join(" ".join(o) + "\n" for o in per_pass))

    out = os.path.join(work, "record.json")
    t_jvm = time.monotonic()
    run_jvm(launch, ["--workload", a.workload, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--base", base, "--lake", lake,
                     "--work", work, "--ops", os.path.join(work, "ops.txt"),
                     "--out", out, "--cores", str(os.cpu_count() or 1)],
            work, deadline)
    rec = json.load(open(out))
    jvm_s = time.monotonic() - t_jvm

    # output check, outside the timed region
    check = os.path.join(work, "check")
    t_check = time.monotonic()
    if a.workload == "etl_refresh":
        mismatches = oracle.check_etl(lake, check, rec["oracle_sql"])
        n_checked = 2
    else:
        mismatches = oracle.check_queries(base, check, ops, rec["oracle_sql"])
        n_checked = len(ops)
    check_s = time.monotonic() - t_check
    for name, why in mismatches:
        log(f"MISMATCH {name}: {why}")
    # attempted: every timed or warm execution plus every checked output; an
    # output fails once, whether its operation failed or its rows mismatched
    n_timed = sum(len(p["ops"]) for p in rec["passes"])
    attempted = n_timed + int(rec["warm_attempted"]) + n_checked
    failed_checks = {f[:-len("#check")] for f in rec["failed"] if f.endswith("#check")}
    failed_timed = len(rec["failed"]) - len(failed_checks)
    failed = failed_timed + min(n_checked, len(failed_checks | {n for n, _ in mismatches}))
    samples = sum(len(v) for v in latencies(rec).values())
    log(f"contention (wall/cpu, start and end): {rec['contention']}; "
        f"passes: {len(rec['passes'])}; samples: {samples}; "
        f"elapsed {time.monotonic() - start:.1f}s")
    print(json.dumps({"contention": rec["contention"], "setup_s": rec["setup_s"],
                      "first_pass_s": rec["first_pass_s"],
                      "pass_wall_s": [p["wall_s"] for p in rec["passes"]],
                      "samples": samples, "heap_live_mb": rec["heap_live_mb"],
                      "jvm_s": jvm_s, "check_s": check_s,
                      "run_s": time.monotonic() - start}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics_from(rec, gen_s, attempted, failed, a.trace == 1),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
