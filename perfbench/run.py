#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine
(through the root build.sbt) and the harness (perfbench/build.sbt); later
runs reuse the build while the sources are unchanged.

A run repeats units of work until --seconds have passed (at least one
unit). Each unit is a fresh JVM: session set-up, then the workload's
call list, generated here from --seed. After each unit the outputs are
checked against committed references with DuckDB and the unit's
directory is deleted. With --trace 1 the run makes one untraced and one
traced unit and reports per-layer metrics; their wall-time difference is
all.trace_overhead_s.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Progress and failures go to stderr.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data" / "sf0.01"
SPEC = ROOT / "BENCHMARK.json"
WORKLOADS = ("f1_medallion", "llm_corpus", "query_mix")

# the LLM-data DAG, in dependency order
LLM_CALLS = ["c2_curation_full", "d3_minhash_lsh", "t12_chunk",
             "c3_chunk_corpus", "s17_bm25", "d12_stream_ingest_gate"]
# timed passes of query_mix after its untimed warm pass (one: a run of
# the three workloads must fit the benchmark's time budget)
MIX_PASSES = 1
DRIVER_MEM = "2g"
UNIT_TIMEOUT_S = 170

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return str(len(os.sched_getaffinity(0)))


# ------------------------------------------------------------------ build

def source_stamp():
    """Hash of the engine's build and sources and of the benchmark's own
    files: a change to any rebuilds and starts a fresh wall-time history.
    What sbt and Python write next to them is left out."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", *sorted((ROOT / "src" / "main" / "scala").rglob("*")),
             *sorted(BENCH.rglob("*"))]
    for f in files:
        parts = f.relative_to(ROOT).parts
        if f.is_file() and not {"target", "__pycache__"} & set(parts) \
                and parts[:3] != ("perfbench", "project", "project"):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"[perfbench] {ROOT} is not a graft checkout "
                         "(no build.sbt / src/main/scala); nothing to build")
    stamp, cp_file, stamp_file = source_stamp(), BUILD / "classpath.txt", BUILD / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    for f in BUILD.glob("walls-*.json"):
        f.unlink()
    log("building engine + harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    t0 = time.perf_counter()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True,
                       timeout=850)
    (BUILD / "build.log").write_text(p.stdout + p.stderr)
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.perf_counter() - t0:.1f} s")
    return cps[-1].strip()


# ------------------------------------------------------------------ JVM units

def jvm(cp, mode, unit_dir, calls, workload="", trace=False):
    """Runs one harness JVM in `unit_dir`. Returns (setup_s, result dict);
    setup_s is spawn -> session ready (JVM start + Sessions.get). A JVM
    still running after UNIT_TIMEOUT_S is killed."""
    for d in ("tmp", "local", "out"):
        (unit_dir / d).mkdir(parents=True, exist_ok=True)
    (unit_dir / "calls.txt").write_text("".join(" ".join(c) + "\n" for c in calls))
    out = unit_dir / "out"
    cmd = ["java", f"-Xmx{DRIVER_MEM}", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={unit_dir / 'tmp'}",
           f"-Dspark.local.dir={unit_dir / 'local'}",
           f"-Dspark.sql.warehouse.dir={unit_dir / 'warehouse'}",
           "-cp", cp, "perfbench.Main", "--mode", mode, "--workload", workload,
           "--data", str(DATA), "--repo", str(ROOT), "--out", str(out),
           "--calls", str(unit_dir / "calls.txt"), "--trace", "1" if trace else "0"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus(), SPARK_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=str(unit_dir / "local"))
    errlog = open(unit_dir / "stderr.log", "w")
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=unit_dir, env=env, stdout=subprocess.PIPE,
                         stderr=errlog, text=True)
    # reading stdout blocks until the JVM closes it, so the time limit
    # is a watchdog started before the first read
    killed = threading.Event()
    watchdog = threading.Timer(UNIT_TIMEOUT_S, lambda: (killed.set(), p.kill()))
    watchdog.start()
    setup_s = None
    try:
        for line in p.stdout:
            if setup_s is None and line.strip() == "PERFBENCH_READY":
                setup_s = time.perf_counter() - t0
        rc = p.wait()
    except BaseException:
        p.kill()
        p.wait()
        raise
    finally:
        watchdog.cancel()
        errlog.close()
    if killed.is_set():
        raise SystemExit(f"[perfbench] {mode} JVM killed after {UNIT_TIMEOUT_S} s")
    if rc != 0 or setup_s is None:
        tail = (unit_dir / "stderr.log").read_text()[-3000:]
        raise SystemExit(f"[perfbench] {mode} JVM failed (exit {rc}):\n{tail}")
    return setup_s, json.loads((out / "result.json").read_text())


# ------------------------------------------------------------------ checks

def canon_hash(rel):
    """sha256 of a DuckDB relation in tools/check_oracle.py's canonical
    form: columns sorted by name, cells as str (floats to 6 significant
    digits), rows sorted."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cv(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6g}"
        return str(v)

    rows = sorted(tuple(cv(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def parquet_hash(con, path):
    p = Path(path)
    glob = f"{p}/**/*.parquet" if any(p.glob("*=*")) else f"{p}/*.parquet"
    return canon_hash(con.sql(
        f"SELECT * FROM read_parquet('{glob}', hive_partitioning = true)"))


def check_outputs(result, expected):
    """Marks ops whose output hash differs from the committed reference."""
    import duckdb
    con = duckdb.connect()
    ops = {o["id"]: o for o in result["ops"]}
    for c in result["checks"]:
        want = expected.get(c["key"])
        try:
            got = parquet_hash(con, c["path"])
        except Exception as e:  # unreadable output is a failed output
            got = f"error: {e}"
        if got != want:
            o = ops.get(c["op"])
            if o is not None:
                o["ok"], o["err"] = False, f"output {c['key']} differs from the reference"
    con.close()


def store_stats(unit_dir, workload):
    """Files, bytes and (f1) rows of the stores a unit left on disk,
    listed from outside the JVM: the f1 feature store, or every store the
    LLM steps keep under the JVM's tmpdir."""
    f1 = workload == "f1_medallion"
    root = unit_dir / "out" / "f1_store" if f1 else unit_dir / "tmp"
    files = [f for f in root.rglob("part-*") if f.is_file()] if root.is_dir() else []
    rows = 0
    if f1 and files:
        import duckdb
        rows = duckdb.sql(f"SELECT count(*) FROM read_parquet('{root}/**/*.parquet')").fetchone()[0]
    return {"store_files": len(files), "store_bytes": sum(f.stat().st_size for f in files),
            "store_rows": rows}


# ------------------------------------------------------------------ workloads

def frozen(name):
    return [l.strip() for l in (BENCH / name).read_text().splitlines()
            if l.strip() and not l.startswith("#")]


def mix_ids():
    return [l.split()[0] for l in frozen("mix_queries.txt")]


def calls_for(workload, rng):
    """The call sequence a unit receives. The seed only permutes the f1
    replay order and the order of each timed query_mix pass; the LLM DAG
    is a chain with one order."""
    if workload == "f1_medallion":
        dates = frozen("f1_dates.txt")
        replay = dates[:]
        rng.shuffle(replay)
        return [("date", d) for d in dates] + [("replay", d) for d in replay]
    if workload == "query_mix":
        ids = mix_ids()
        calls = [("warm", q) for q in ids]
        for _ in range(MIX_PASSES):
            rng.shuffle(ids)
            calls += [("timed", q) for q in ids]
        return calls
    return [("q", q) for q in LLM_CALLS]


def run_unit(cp, workload, seed, index, trace, expected):
    unit_dir = BUILD / "runs" / f"{workload}-{os.getpid()}-{index}"
    shutil.rmtree(unit_dir, ignore_errors=True)
    try:
        rng = random.Random(seed * 1000 + index)
        setup_s, res = jvm(cp, "run", unit_dir, calls_for(workload, rng),
                           workload, trace)
        check_outputs(res, expected)
        res["setup_s"] = setup_s
        res.update(store_stats(unit_dir, workload))
        # the last unit of each kind stays readable after the run
        keep = BUILD / "last" / f"{workload}{'-traced' if trace else ''}"
        keep.mkdir(parents=True, exist_ok=True)
        (keep / "result.json").write_text(json.dumps(res, indent=1) + "\n")
        spans = unit_dir / "out" / "spans.jsonl"
        if spans.is_file():
            shutil.copy(spans, keep / "spans.jsonl")
        return res
    finally:
        shutil.rmtree(unit_dir, ignore_errors=True)


def host_record(cp):
    """Core count, driver memory and the two Bench calibration probes,
    measured once per checkout so a noisy host is visible."""
    rec_file = BUILD / "host.json"
    if not rec_file.is_file():
        unit_dir = BUILD / "runs" / f"probe-{os.getpid()}"
        try:
            _, res = jvm(cp, "probe", unit_dir, [])
        finally:
            shutil.rmtree(unit_dir, ignore_errors=True)
        res.update(cores=int(cpus()), driver_mem=DRIVER_MEM)
        rec_file.write_text(json.dumps(res) + "\n")
    log(f"host {rec_file.read_text().strip()}")


# ------------------------------------------------------------------ metrics

def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(units):
    cpu_ms = [o["cpu_ms"] for u in units for o in u["ops"] if o["phase"] == "timed"]
    med = lambda f: statistics.median(f(u) for u in units)
    return {
        "setup_s": med(lambda u: u["setup_s"]),
        "cpu_s": med(lambda u: u["cpu_s"]),
        "op_cpu_mean_ms": statistics.mean(cpu_ms),
        "live_heap_mb": med(lambda u: u["live_heap_mb"]),
        # +1 on both sides: a workload that writes nothing reads 1
        "write_amp": med(lambda u: (u["output_bytes"] + 1) / (u["store_bytes"] + 1)),
    }


def per_layer(traced, untraced_wall_s):
    layers = dict(traced["layers"])
    layers["sources.Sinks.output_files"] = float(traced["store_files"])
    rows_in = 2 * traced["store_rows"]  # every f1 date is written twice
    layers["sources.Sinks.rows_written_per_row_in"] = (
        layers.get("sources.Sinks.rows_written", 0.0) / rows_in if rows_in else 0.0)
    layers["all.traced_wall_s"] = traced["wall_s"]
    layers["all.peak_rss_mb"] = traced["peak_rss_mb"]
    layers["all.warmup_s"] = traced["warmup_s"]
    timed = [o["ms"] for o in traced["ops"] if o["phase"] == "timed"]
    layers["all.op_p50_ms"], layers["all.op_p90_ms"] = pct(timed, 0.5), pct(timed, 0.9)
    layers["all.wall_s"] = untraced_wall_s
    layers["all.trace_overhead_s"] = traced["wall_s"] - untraced_wall_s
    return layers


def main():
    # a terminated run still stops and reaps its JVM (see jvm())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads(SPEC.read_text())
    expected = json.loads((BENCH / "expected.json").read_text())
    cp = build()
    host_record(cp)
    # untraced walls of this checkout: the reference for trace overhead
    walls_file = BUILD / f"walls-{a.workload}.json"
    walls = json.loads(walls_file.read_text()) if walls_file.is_file() else []
    t0 = time.perf_counter()
    units = []

    def unit(trace):
        units.append(run_unit(cp, a.workload, a.seed, len(units), trace, expected))
        if not trace:
            walls.append(units[-1]["wall_s"])

    if a.trace:
        if not walls:
            unit(False)
        unit(True)
    else:
        while not units or time.perf_counter() - t0 < a.seconds:
            unit(False)
    walls_file.write_text(json.dumps(walls) + "\n")
    ops = [o for u in units for o in u["ops"]]
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        log(f"FAILED {o['id']} ({o['phase']}): {o['err']}")
    log(f"{len(units)} unit(s), {len(ops)} ops, {len(failed)} failed, "
        f"{time.perf_counter() - t0:.1f} s")
    if a.trace:
        values = per_layer(units[-1], statistics.median(walls))
        values["all.failed_ops_ratio"] = len(failed) / len(ops)
        declared = spec["per_layer"]
    else:
        values = end_to_end(units)
        declared = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
