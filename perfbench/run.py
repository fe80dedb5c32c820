#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the harness from
source with sbt (offline) into `perfbench/target`, and records the
classpath in `.bench_build/`. Each run then starts JVMs
(`perfbench.Main`) one after another, each in a fresh `local[n]` session
(n: the cores the workload is given), under a per-run scratch root in
`.bench_build/runs/` that holds the Spark warehouse, the JVM temp dir, the
docstore table, the key outputs and the trace record, and is removed at
exit. The first JVMs only set up and exit; the last one also runs the
workload. Set-up time is taken from process start to ready in each of
them.

With `--trace 0` no listener is attached and the last line carries the
end-to-end metrics; with `--trace 1` passes alternate between traced and
untraced, and the last line carries the per-layer metrics, taken from the
traced passes. Every run checks outputs: each key against its DuckDB
oracle twin, each docstore lookup and aggregate against an in-memory model
of the generated ops. The lines before the last one are a readable report.
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

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
BUILD = os.path.join(CHECKOUT, ".bench_build")
DATA = os.path.join(HERE, "data")
DEADLINE_S = 170
JVM_HEAP = "3g"
# JVMs per run whose set-up is timed from process start; `setup_s` is their
# median. All but the last only set up.
SETUP_JVMS = 3

WORKLOADS = ("etl_sf001", "docstore_rw")
# A workload's JVM is told (-XX:ActiveProcessorCount) that it has the
# host's cores divided by this; local[n], the shuffle partitions and the
# JVM's own compiler and GC threads follow it. docstore_rw is driver-bound
# (at local[4] its tasks kept a sixth of the cores busy) and gets half: on
# a shared 4-vCPU host its cold pass spread 20% over 9 runs at local[4]
# and 13% over 9 runs at local[2], taken alternately.
CORE_DIVISOR = {"etl_sf001": 1, "docstore_rw": 2}
# TABLES and _canon are a pinned copy of TABLES and canon in
# tools/check_oracle.py, not an import: the benchmark's verdict on a result
# must not change when a later change edits the repository's tools.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DATA_DIRS = {"etl_sf001": "sf0.01"}

# Spark 4 on JDK 17 needs these outside spark-submit, as in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OFFLINE = ("-Dsbt.override.build.repos=true "
               "-Dsbt.repository.config={home}/.sbt/repositories "
               "-Dsbt.offline=true -Xmx3g")


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _build_inputs():
    """Every file the build reads from the checkout, in a fixed order."""
    roots = [os.path.join(CHECKOUT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
            continue
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def classpath(log):
    """Builds when the sources changed since the last build; returns the
    runtime classpath of the harness."""
    if not os.path.isdir(os.path.join(CHECKOUT, "src", "main", "scala")):
        raise BenchError("program sources (src/main/scala) not found in "
                         + CHECKOUT)
    h = hashlib.sha256()
    for f in _build_inputs():
        h.update(os.path.relpath(f, CHECKOUT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OFFLINE.format(home=os.path.expanduser("~")))
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(os.path.join(BUILD, "build.log")) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        raise BenchError("sbt build failed:\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1])
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


# ---------------------------------------------------------------- checks

def _canon(rows, cols):
    """Columns sorted by name, rows sorted, values stringified: the
    canonical form of tools/check_oracle.py's canon."""
    import math
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "<null>"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    out = sorted(tuple(cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def oracle_check(checks, sf_dir):
    """Compares each key's output with its DuckDB oracle twin. Returns
    {key: error or None}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    verdict = {}
    for c in checks:
        key = c["key"]
        if not c["ok"]:
            verdict[key] = c["error"]
            continue
        if not c.get("oracle"):
            verdict[key] = "no oracle SQL for this key"
            continue
        try:
            s = con.execute(f"SELECT * FROM '{c['out']}/*.parquet'")
            sc, sr = _canon(s.fetchall(), [d[0] for d in s.description])
            o = con.execute(c["oracle"])
            oc, orr = _canon(o.fetchall(), [d[0] for d in o.description])
        except Exception as e:  # duckdb raises many types
            verdict[key] = f"oracle check error: {e}"
            continue
        if sc != oc:
            verdict[key] = f"schema mismatch: {sc} vs oracle {oc}"
        elif sr != orr:
            verdict[key] = f"value mismatch ({len(sr)} rows vs {len(orr)})"
        else:
            verdict[key] = None
    return verdict


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile) of the highest sample with ten samples above
    it, or None below eleven samples."""
    if len(xs) < 11:
        return None
    xs = sorted(xs)
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Record:
    """Indexes the spans of one run record."""

    def __init__(self, rec):
        self.rec = rec
        self.spans = rec["spans"]
        self.children = {}
        for s in self.spans:
            s["ms"] = (s["end"] or s["start"]) - s["start"]
            self.children.setdefault(s["parent"], []).append(s)
        self.passes = sorted((s for s in self.spans if s["kind"] == "pass"),
                             key=lambda s: s["attrs"]["index"])
        self.queries = [s for s in self.spans if s["kind"] == "query"]

    def kids(self, s, kind):
        return [c for c in self.children.get(s["id"], []) if c["kind"] == kind]

    def ops(self, p):
        return self.kids(p, "op")

    def steady(self):
        """The untraced passes after the first third (rounded up) of those
        after the cold one. That third still carries JIT warm-up: on a
        4-vCPU host the first warm pass runs up to twice as long as the
        converged ones."""
        warm = self.passes[1:]
        return [p for p in warm[(len(warm) + 2) // 3:] if not p["attrs"]["traced"]]

    def wall_ms(self, p):
        """A pass's timed wall: the sum of its successful ops. A failed op
        is never timed."""
        return sum(o["ms"] for o in self.ops(p) if o["attrs"]["ok"])

    def leaves(self, op):
        return self.kids(op, "build") + self.kids(op, "action")

    def jobs(self, leaf):
        return self.kids(leaf, "job")


def mark_wrong(r, verdict):
    """A key whose output is wrong fails every op that ran it."""
    for s in r.spans:
        if s["kind"] == "op" and verdict.get(s["name"]) and s["attrs"]["ok"]:
            s["attrs"]["ok"] = False
            s["attrs"]["error"] = "wrong result: " + verdict[s["name"]]


def end_to_end(r):
    return {
        "setup_s": (median(r.rec["setup_s"]), "s"),
        "cold_pass_s": (r.wall_ms(r.passes[0]) / 1000, "s"),
        "pass_s": (median([r.wall_ms(p) for p in r.steady()]) / 1000, "s"),
    }


def layer_pass(r, p, cores):
    """Per-layer numbers of one traced pass."""
    ops = r.ops(p)
    wall = r.wall_ms(p)
    builds = [b for o in ops for b in r.kids(o, "build")]
    leaves = [leaf for o in ops for leaf in r.leaves(o)]
    jobs = [j for leaf in leaves for j in r.jobs(leaf)]
    stages = [s for j in jobs for s in r.kids(j, "stage")]
    queries = [q for q in r.queries if p["start"] <= q["start"] <= p["end"]]

    def in_build(q):
        return any(b["start"] <= q["end"] <= b["end"] for b in builds)

    def phase_ms(name):
        return sum(ph["ms"] for q in queries for ph in r.kids(q, "phase")
                   if ph["name"] == name)

    # a built frame is analysed in the build call; count it here unless an
    # action ran that same query execution, whose phases already hold it
    executed = {q["attrs"]["qe"] for q in queries}
    build_analysis = sum(b["attrs"].get("analysis_ms", 0) for b in builds
                         if b["attrs"].get("qe") not in executed)

    def stage_sum(k):
        return sum(s["attrs"][k] for s in stages)

    gap = 0.0
    for o in ops:
        iv = [(j["start"], j["end"] or j["start"])
              for leaf in r.leaves(o) for j in r.jobs(leaf)]
        gap += o["ms"] - covered(iv, o["start"], o["end"])
    lookups = [o for o in ops if o["attrs"]["class"] == "lookup"]
    lookup_in = sum(s["attrs"]["input_rows"] for o in lookups
                    for leaf in r.leaves(o) for j in r.jobs(leaf)
                    for s in r.kids(j, "stage"))
    lookup_rows = sum(o["attrs"].get("rows", 0) for o in lookups)

    def op_share(cls):
        return sum(o["ms"] for o in ops if o["attrs"]["class"] == cls) / wall if wall else 0.0

    task_s = stage_sum("run_ms") / 1000
    mb = 1024.0 * 1024.0
    return {
        "queries.build_s": sum(b["ms"] for b in builds) / 1000,
        "queries.build_jobs": sum(len(r.jobs(b)) for b in builds),
        "queries.actions": sum(1 for q in queries if in_build(q)),
        "plans.analysis_ms": phase_ms("analysis") + build_analysis,
        "plans.optimization_ms": phase_ms("optimization"),
        "plans.planning_ms": phase_ms("planning"),
        "plans.executed_nodes": sum(q["attrs"]["executed_nodes"] for q in queries),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": stage_sum("tasks"),
        "scheduler.driver_gap_s": gap / 1000,
        "exec.task_s": task_s,
        "exec.cpu_s": stage_sum("cpu_ns") / 1e9,
        "exec.gc_s": p["attrs"]["gc_ms"] / 1000,
        "exec.cores_busy": task_s / (wall / 1000 * cores) if wall else 0.0,
        "exec.shuffle_read_mb": stage_sum("shuffle_read_bytes") / mb,
        "exec.shuffle_write_mb": stage_sum("shuffle_write_bytes") / mb,
        "exec.spill_mb": stage_sum("spill_bytes") / mb,
        "exec.input_rows": stage_sum("input_rows"),
        "cache.rdds_left": sum(o["attrs"].get("cache_rdds", 0) for o in ops),
        "cache.bytes_left": sum(o["attrs"].get("cache_bytes", 0) for o in ops),
        "sources.data_files": max([o["attrs"].get("data_files", 0) for o in ops]),
        "sources.rows_read_per_row_returned":
            lookup_in / lookup_rows if lookup_rows else 0.0,
        "sources.compact_share": op_share("compact"),
        "sources.vacuum_share": op_share("vacuum"),
        "sources.files_rewritten":
            sum(o["attrs"].get("files_rewritten", 0) for o in ops),
    }


PER_LAYER_UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.actions": "count", "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.executed_nodes": "count", "scheduler.jobs": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.driver_gap_s": "s", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.cores_busy": "ratio", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_rows": "count", "exec.rss_peak_mb": "MB",
    "cache.rdds_left": "count",
    "cache.bytes_left": "bytes", "sources.data_files": "count",
    "sources.manifests": "count", "sources.bytes_on_disk": "bytes",
    "sources.rows_read_per_row_returned": "ratio",
    "sources.compact_share": "ratio", "sources.vacuum_share": "ratio",
    "sources.files_rewritten": "count", "sources.bytes_per_user_byte": "ratio",
    "trace.overhead_s": "s",
}


def per_layer(r):
    traced = [p for p in r.passes[1:] if p["attrs"]["traced"]]
    untraced = [p for p in r.passes[1:] if not p["attrs"]["traced"]]
    rows = [layer_pass(r, p, r.rec["cores"]) for p in traced]
    out = {k: median([row[k] for row in rows]) for k in rows[0]}
    # bounded across compaction cycles: the largest count any cycle saw
    out["sources.data_files"] = max(row["sources.data_files"] for row in rows)
    # peak resident memory spreads too widely between runs to gate on
    out["exec.rss_peak_mb"] = r.rec["rss_peak_mb"]
    extra = r.rec["extra"]
    out["sources.manifests"] = extra.get("manifests", 0)
    out["sources.bytes_on_disk"] = extra.get("bytes_on_disk", 0)
    out["sources.bytes_per_user_byte"] = (
        extra["bytes_on_disk"] / extra["user_bytes"] if extra else 0.0)
    out["trace.overhead_s"] = (median([r.wall_ms(p) for p in traced]) -
                               median([r.wall_ms(p) for p in untraced])) / 1000
    return {k: (out[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


def self_times(r):
    """Self time per span kind over the whole run: duration minus the part
    its child spans cover."""
    acc = {}
    for s in r.spans:
        if s["kind"] in ("workload", "setup"):
            continue
        iv = [(c["start"], c["end"] or c["start"]) for c in r.children.get(s["id"], [])]
        acc[s["kind"]] = acc.get(s["kind"], 0.0) + s["ms"] - covered(iv, s["start"], s["end"] or s["start"])
    return acc


def report(r, log):
    """Readable lines: per-class latencies with sample counts, failures,
    and the trace's self-time split."""
    warm = r.steady()
    by_class = {}
    for p in warm:
        for o in r.ops(p):
            if o["attrs"]["ok"]:
                cls = o["name"] if o["attrs"]["class"] == "key" else o["attrs"]["class"]
                by_class.setdefault(cls, []).append(o["ms"])
    walls = ", ".join(f"{r.wall_ms(p) / 1000:.2f}" + ("t" if p["attrs"]["traced"] else "")
                      for p in r.passes)
    log(f"run {r.rec['run_id']}: cores {r.rec['cores']}, pass walls (s; t = traced; "
        f"cold, warm-up third, steady rest): {walls}")
    log("set-up from process start (s): "
        + ", ".join(f"{x:.3f}" for x in r.rec["setup_s"]))
    log("waits for an idle JIT before the warm passes (ms): "
        + ", ".join(str(p["attrs"].get("quiet_ms", 0)) for p in r.passes[1:]))
    # printed, not gated: every pass runs a fixed number of ops, so it is
    # pass_s in another form
    n = sum(len(xs) for xs in by_class.values())
    secs = sum(r.wall_ms(p) for p in warm) / 1000
    if secs:
        log(f"ops_per_s {n / secs:.3f} 1/s ({n} ops in {secs:.2f} s of steady passes)")
    for cls in sorted(by_class):
        xs = by_class[cls]
        t = tail(xs)
        ts = f", p{t[1]:.0f} {t[0]:.1f} ms" if t else ""
        log(f"  {cls:28s} p50 {median(xs):9.1f} ms{ts}  (n={len(xs)})")
    for s in r.spans:
        if s["kind"] == "op" and not s["attrs"]["ok"]:
            log(f"  FAILED {s['name']}: {s['attrs'].get('error')}")
    if r.rec["trace"]:
        for kind, ms in sorted(self_times(r).items(), key=lambda kv: -kv[1]):
            log(f"  self time {kind:10s} {ms / 1000:9.3f} s")


# ---------------------------------------------------------------- run

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("throw", "wrong"),
                    help="self-test only: plant a throwing key or a wrong "
                         "docstore answer")
    a = ap.parse_args(argv)

    def log(msg):
        print(f"[perfbench] {msg}", flush=True)

    root = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    proc = None
    # SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        os.makedirs(BUILD, exist_ok=True)
        cp = classpath(log)
        t_start = time.time()  # a build may take longer; the run may not
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "tmp"))
        java = shutil.which("java") or "java"
        cores = max(1, len(os.sched_getaffinity(0)) // CORE_DIVISOR[a.workload])
        base = [java, f"-XX:ActiveProcessorCount={cores}"]
        for m in ADD_OPENS:
            base += ["--add-opens", f"{m}=ALL-UNNAMED"]
        base += [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={root}/tmp",
                 "-XX:ReservedCodeCacheSize=1g", "-XX:MaxMetaspaceSize=2g",
                 "-cp", cp, "perfbench.Main",
                 "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--root", root, "--data", DATA]
        if a.plant:
            base += ["--plant", a.plant]
        setups = []
        for cycle in range(SETUP_JVMS):
            cmd = base + ["--cycle", str(cycle)]
            if cycle < SETUP_JVMS - 1:
                cmd += ["--setup-only", "1"]
            jvm_log = os.path.join(root, f"jvm-{cycle}.log")
            with open(jvm_log, "w") as jlog:
                t0 = time.time()
                proc = subprocess.Popen(cmd, cwd=root, stdout=jlog,
                                        stderr=subprocess.STDOUT,
                                        stdin=subprocess.DEVNULL)
                try:
                    rc = proc.wait(timeout=max(1, DEADLINE_S - (time.time() - t_start)))
                except subprocess.TimeoutExpired:
                    raise BenchError("run exceeded its deadline")
            ready = os.path.join(root, f"ready-{cycle}")
            if rc != 0 or not os.path.exists(ready):
                with open(jvm_log) as fh:
                    tail_lines = fh.read().splitlines()[-30:]
                raise BenchError(f"JVM exited with {rc}:\n" + "\n".join(tail_lines))
            with open(ready) as fh:
                setups.append(float(fh.read()) - t0)
        rec_file = os.path.join(root, "record.json")
        if not os.path.exists(rec_file):
            raise BenchError("the workload JVM wrote no run record")
        with open(rec_file) as fh:
            r = Record(dict(json.load(fh), setup_s=setups))
        if a.workload in DATA_DIRS:
            verdict = oracle_check(r.rec["checks"],
                                   os.path.join(DATA, DATA_DIRS[a.workload]))
            mark_wrong(r, verdict)
            for key, err in sorted(verdict.items()):
                log(f"check {key}: {'ok' if err is None else 'FAILED: ' + err}")
        else:
            for c in r.rec["checks"]:
                log(f"check {c['key']}: "
                    f"{'ok' if c['ok'] else 'FAILED: ' + str(c['error'])}")
        ops = [s for s in r.spans if s["kind"] == "op"]
        failed = sum(1 for s in ops if not s["attrs"]["ok"])
        report(r, log)
        metrics = per_layer(r) if a.trace else end_to_end(r)
        log(f"failed_frac {failed / len(ops):.4f} ({failed} of {len(ops)} ops)")
        for k, (v, u) in metrics.items():
            log(f"  {k:36s} {v:14.4f} {u}")
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 1
    finally:
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
