#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, fresh JVMs, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload monthly_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the harness
from source with sbt (cached by a digest of the sources), generates the
seed's inputs (cached per workload and seed), then runs the workload in a
fresh JVM on local[nproc] until `--seconds` of measured wall time have
passed (at least one round; each round is its own JVM), and takes set-up
samples from further JVMs that stop once set up. With `--trace 0`
the last stdout line carries the end-to-end metrics; with `--trace 1` the
per-layer metrics of a traced run. Everything it writes lives under
`.bench_build/perfbench/` in the checkout; see perfbench/NOTES.md.
"""
import argparse
import hashlib
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

STARTED = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("monthly_batch", "delta_curate", "registry_sweep")
# full = the sizes BENCHMARK.json is calibrated for; tiny = the smoke tests
SIZES = {
    "full": {"docs": 1000, "copies": 10, "planted": 200, "sf": 0.01, "stride": 15},
    "tiny": {"docs": 40, "copies": 3, "planted": 20, "sf": 0.001, "stride": 40},
}
PROVIDERS = 8
JVM_TIMEOUT_S = 170
# no further round starts that would end past this many seconds into the
# run, which keeps a run inside 180 s
RUN_LIMIT_S = 120
SETUP_SAMPLES = 3  # JVM set-ups per untraced run; setup_s is their median
CONTENDED_CORES = 0.12  # other processes' average cores that flag a round
E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
             "write_amp": "ratio"}
POISON = 1e9  # cpu_s and wall_s of a run with a failed operation or check

COUNTERS = ["wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
            "input_mb", "output_mb", "shuffle_write_mb", "spill_mb"]
FAMILIES = ["base", "conv", "dq", "media", "pref", "profiling", "relational",
            "schema", "text", "vector"]


def per_layer_names(workload=None):
    """The per-layer metric names BENCHMARK.json declares, in its order;
    for `delta_curate` (runnable by hand, not a declared workload) its own
    span counters follow."""
    names = ["sources.catalog.wall_s"]
    names += [f"sources.avro_read.{c}" for c in ("wall_s", "exec_cpu_s", "input_mb")]
    for span in ("sinks.parquet_dump", "sinks.jsonl_dump", "processes.mq_reports",
                 "sinks.sitemap"):
        names += [f"{span}.{c}" for c in COUNTERS]
    names.append("processes.mq_reports.scans")
    for fam in FAMILIES:
        names += [f"queries.{fam}.{c}" for c in ("wall_s", "driver_s", "plan_s",
                                                  "exec_cpu_s")]
    if workload == "delta_curate":
        for span in ("processes.delta_bootstrap", "processes.delta_increment",
                     "processes.delta_compact"):
            names += [f"{span}.{c}" for c in COUNTERS + ["plan_s", "task_skew"]]
    return names


def layer_unit(name):
    counter = name.rsplit(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "ratio" if counter == "task_skew" else "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build

def tree_files(top, skip=("target", ".bsp")):
    for dirpath, dirnames, files in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if d not in skip)
        for f in sorted(files):
            yield os.path.join(dirpath, f)


def sources_digest():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    paths += list(tree_files(os.path.join(ROOT, "src", "main")))
    paths += list(tree_files(os.path.join(HERE, "harness")))
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile the program and the harness (sbt, offline) unless the
    cached build matches the current sources; return the JVM classpath."""
    stamp_file = os.path.join(STATE, "classpath.json")
    stamp = sources_digest()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building the program and the harness with sbt ...")
    # offline, against the pre-filled dependency cache; sbt's own global
    # state (boot files, server socket) goes under the checkout
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.global.base=" + os.path.join(STATE, "sbt"),
        "-Dsbt.server.autostart=false", "-Xmx2g"]))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if "/classes" in l and ":" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# ----------------------------------------------------------------- JVMs

WORK_IDS = itertools.count()

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cores():
    return len(os.sched_getaffinity(0))


def jvm(cp, mode, work, **kw):
    """Run one harness JVM in a fresh work dir; return its result dict
    (None if it crashed or timed out). The work dir holds the session's
    warehouse, local, checkpoint and temp dirs and is removed afterwards
    by the caller."""
    for d in ("warehouse", "local", "checkpoint", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    result = os.path.join(work, "result.json")
    args = {"mode": mode, "work": work, "result": result, "cores": str(cores()),
            **{k.replace("_", "-"): str(v) for k, v in kw.items()}}
    # -Xmn fixes the young generation: with G1's adaptive young sizing the
    # peak resident set of the same work swung by a quarter between runs
    cmd = ["java", "-Xmx3g", "-Xmn512m", "-XX:ReservedCodeCacheSize=1g",
           "-XX:-UsePerfData",
           *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main"]
    args["launch-ms"] = str(int(time.time() * 1000))
    for k, v in args.items():
        cmd += [f"--{k}", v]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        log(f"{mode} JVM failed (exit {p.returncode})")
        return None
    with open(result) as f:
        return json.load(f)


def run_jvm(cp, mode, **kw):
    """`jvm` in a new work dir under the state dir, removed afterwards."""
    work = os.path.join(STATE, "runs", f"{mode}-{os.getpid()}-{next(WORK_IDS)}")
    try:
        return jvm(cp, mode, work, **kw)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------- inputs

def dir_bytes(path):
    return sum(os.path.getsize(p) for p in tree_files(path))


def cache_digest(path):
    """Content digest of every file of a cached input dir but DIGEST."""
    h = hashlib.sha256()
    for p in tree_files(path):
        rel = os.path.relpath(p, path)
        if rel != "DIGEST":
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def stamp(path):
    with open(os.path.join(path, "DIGEST"), "w") as f:
        f.write(cache_digest(path) + "\n")


def cached(path):
    """True if `path` holds inputs whose DIGEST matches their bytes."""
    try:
        with open(os.path.join(path, "DIGEST")) as f:
            want = f.read().strip()
    except OSError:
        return False
    if cache_digest(path) == want:
        return True
    log(f"cached inputs do not match their DIGEST, regenerating: {path}")
    return False


def inputs(cp, workload, seed, size):
    """The seed's inputs, generated once and cached; returns the dir and
    the set-up time of the JVM that generated them (None if no JVM ran)."""
    sys.path.insert(0, HERE)
    import gen_tables
    z = SIZES[size]
    final = os.path.join(STATE, "inputs", f"{workload}-{size}-seed{seed}")
    if cached(final):
        return final, None
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    gen_setup = None
    if workload == "registry_sweep":
        gen_tables.fixture_tables(seed, z["sf"], tmp)
    elif workload == "delta_curate":
        counts = gen_tables.delta_snapshots(seed, z["docs"], z["copies"],
                                            z["planted"], tmp)
        with open(os.path.join(tmp, "delta_counts.json"), "w") as f:
            json.dump(counts, f, sort_keys=True)
    else:
        gen_tables.monthly_records(seed, z["docs"], z["copies"], PROVIDERS, tmp)
        res = run_jvm(cp, "gen-monthly", inputs=tmp, snapshot=gen_tables.SNAPSHOT)
        if res is None:
            die("input generation failed")
        gen_setup = res["setup_s"]
    stamp(tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, gen_setup


def input_bytes(workload, path):
    if workload == "monthly_batch":
        return dir_bytes(os.path.join(path, "master"))
    if workload == "delta_curate":
        return sum(os.path.getsize(os.path.join(path, f))
                   for f in ("empty.parquet", "base.parquet", "next.parquet"))
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if f.endswith(".parquet"))


def registry_checks(res, tables):
    """Compare each selected query's output row count with its DuckDB
    oracle on the same tables (cached per seed and SQL text). Queries
    without an oracle are checked for completing only."""
    import duckdb
    cache_file = os.path.join(tables, "oracle_rows.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = None
    for op in res["ops"]:
        name = op["name"].rsplit(".", 1)[1]
        sql = res["oracle_sql"].get(name)
        if not op["ok"] or sql is None:
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()
        if cache.get(name, {}).get("sql") != key:
            if con is None:
                con = duckdb.connect()
                for t in ("region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events", "documents", "embeddings"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{tables}/{t}.parquet'")
            try:
                rows = con.sql(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
            except duckdb.Error as e:
                op["ok"] = False
                op["detail"] = f"oracle failed: {e}"
                continue
            cache[name] = {"sql": key, "rows": rows}
        want, got = cache[name]["rows"], res["rows"].get(name)
        if got != want:
            op["ok"] = False
            op["detail"] = f"rows: got {got}, oracle {want}"
    with open(cache_file, "w") as f:
        json.dump(cache, f, sort_keys=True, indent=0)


# ------------------------------------------------------------------ run

def round_metrics(res, in_bytes):
    return {"cpu_s": res["cpu_s"], "wall_s": res["wall_s"],
            "op_max_s": max(op["sec"] for op in res["ops"]),
            "peak_rss_mb": res["peak_rss_mb"],
            "write_amp": res["written_bytes"] / in_bytes}


def layer_metrics(workload, trace):
    """Map a traced run's span counters onto the per-layer names; a layer
    this workload never enters reads 0."""
    out = {}
    for name in per_layer_names(workload):
        parts = name.split(".")
        if parts[0] == "queries":
            prefix, counter = f"queries.{parts[1]}.", parts[2]
            out[name] = sum(v for k, v in trace.items()
                            if k.startswith(prefix) and k.endswith("." + counter))
        else:
            out[name] = trace.get(name, 0.0)
    return out


def detail_path(workload, seed, trace):
    """Where a run leaves its per-operation detail (per-query times, host
    evidence, the raw span counters of a traced run)."""
    return os.path.join(STATE, "detail", f"{workload}-seed{seed}-trace{trace}.json")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--corrupt", choices=("export_row", "delta_survivor"),
                    help="damage one output before the checks (negative test)")
    ap.add_argument("--sink", choices=("noop", "count"), default="noop",
                    help="registry_sweep sink; count reproduces the older "
                         "registry bench's .count() timing, for comparison")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run from the root of a checkout holding the program (build.sbt, src/)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    cp = classpath()
    t_in = time.time()
    path, gen_setup = inputs(cp, a.workload, a.seed, a.size)
    log(f"inputs ready in {time.time() - t_in:.1f} s: {path}")
    in_bytes = input_bytes(a.workload, path)

    # Set-up samples: the JVM that generated this seed's inputs, if one
    # ran, then set-up-only JVMs, then one per round below. A traced run
    # reports no setup_s and takes none.
    setups = [] if gen_setup is None else [gen_setup]
    while not a.trace and len(setups) < SETUP_SAMPLES - 1:
        res = run_jvm(cp, "setup")
        if res is None:
            die("set-up JVM failed")
        setups.append(res["setup_s"])

    # Rounds until `--seconds` of measured wall time; a traced run is one
    # round, whose spans are the per-layer numbers.
    rounds, last = [], 0.0
    while not rounds or (not a.trace and sum(r["wall_s"] for r in rounds) < a.seconds
                         and time.time() - STARTED + last < RUN_LIMIT_S):
        t0 = time.time()
        kw = dict(workload=a.workload, inputs=path, trace=a.trace,
                  stride=SIZES[a.size]["stride"], sink=a.sink)
        if a.corrupt:
            kw["corrupt"] = a.corrupt
        res = run_jvm(cp, "run", **kw)
        if res is None:
            die("workload JVM failed")
        if a.workload == "registry_sweep":
            registry_checks(res, path)
        last = time.time() - t0
        res["contended"] = res["host"]["ext_cores"] > CONTENDED_CORES
        rounds.append(res)
        setups.append(res["setup_s"])
    # the run verified the cache before using it; what the rounds added to
    # it (expected outputs, oracle row counts) is stamped in now
    stamp(path)
    loaded = any(r["contended"] for r in rounds)
    attempted = sum(len(r["ops"]) for r in rounds)
    failed = sum(1 for r in rounds for op in r["ops"] if not op["ok"])
    per_round = [round_metrics(r, in_bytes) for r in rounds]
    e2e = {k: statistics.median(m[k] for m in per_round) for k in per_round[0]}
    e2e["setup_s"] = statistics.median(setups)
    if failed:
        e2e["cpu_s"] = e2e["wall_s"] = POISON

    for i, r in enumerate(rounds):
        h = r["host"]
        print(f"round {i}: ext_cores={h['ext_cores']:.2f} load={h['load_before']:.2f}"
              f" speed={h['speed_mops']:.0f} Mops" + (" CONTENDED" if r["contended"] else ""))
        for op in r["ops"]:
            flag = "ok" if op["ok"] else f"FAILED {op['detail']}"
            print(f"  {op['name']:<48} {op['sec']:8.3f} s  {flag}")
    print("setup samples: " + " ".join(f"{x:.3f}" for x in setups) + " s")
    print(f"rounds={len(rounds)} attempted={attempted} "
          f"failed={failed} fail_ratio={failed / attempted:.4f}"
          + ("  HOST LOADED: other processes took more than "
             f"{CONTENDED_CORES} cores; treat these timings with care"
             if loaded else ""))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in layer_metrics(a.workload, rounds[0]["trace"]).items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    if not a.trace:
        # reported, not declared: see "Why wall time is not a declared
        # metric" in perfbench/NOTES.md
        print(f"wall_s = {e2e['wall_s']:.6g} s, op_max_s = {e2e['op_max_s']:.6g} s"
              " (not declared)")
    detail = detail_path(a.workload, a.seed, a.trace)
    os.makedirs(os.path.dirname(detail), exist_ok=True)
    with open(detail, "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "input_bytes": in_bytes, "host_loaded": loaded,
                   "setup_samples": setups, "rounds": rounds}, f, indent=1)
    print(f"detail: {detail}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
