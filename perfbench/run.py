#!/usr/bin/env python3
"""Benchmark of the engine's two workloads, run from the repo root:

    python3 perfbench/run.py --workload daily-pack|engine-mix \
        --seed N --seconds S --trace 0|1

It builds the engine (root sbt build) and the harness
(perfbench/harness) from source on first use, runs the workload in
fresh JVMs against the fixture copies under perfbench/data, checks the
outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Progress and input sizes go to the lines before it. Each workload
measures one fixed pass of cold calls, whatever --seconds says, so
that a faster engine is measured doing the same work.
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

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import metrics as M  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")
SF = os.path.join(DATA, "sf0.1")
SMALL = os.path.join(DATA, "sf0.01")
HARNESS = os.path.join(HERE, "harness")
RUN_BUDGET_S = 175  # every run ends within 180 s once built
HEAP = "4g"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def die(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _tree_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    if not opts:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    # keep the build's scratch files in the checkout
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dsbt.server.autostart=false"]
    env["SBT_OPTS"] = " ".join(opts)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return env


def _sbt(args, cwd, env, logfile):
    with open(logfile, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"]
                           + args, cwd=cwd, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           start_new_session=True)
    if p.returncode != 0:
        with open(logfile) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"sbt {' '.join(args)} failed in {cwd}")
    with open(logfile) as fh:
        return fh.read()


def build():
    """Compile the engine and the harness unless the sources are
    unchanged since the last build in this checkout."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine sources not found ({need}); run from a checkout")
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.json")
    stamp = _tree_hash()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            st = json.load(fh)
        if st.get("stamp") == stamp:
            return st["classpath"]
    log("building engine and harness (first run in this checkout)")
    env = _sbt_env()
    out = _sbt(["compile", "export Compile/fullClasspath"], ROOT, env,
               os.path.join(STATE, "build-engine.log"))
    lines = [l for l in out.splitlines()
             if os.pathsep in l and "scala-library" in l and " " not in l]
    if not lines:
        die("could not read the engine classpath from sbt")
    engine_cp = lines[-1].strip()
    env["PERFBENCH_CP"] = engine_cp
    _sbt(["compile"], HARNESS, env, os.path.join(STATE, "build-harness.log"))
    cp = os.path.join(HARNESS, "target", "scala-2.13", "classes") \
        + os.pathsep + engine_cp
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


# ------------------------------------------------------------------ jvm

class Runner:
    def __init__(self, classpath, work, deadline):
        self.cp, self.work, self.deadline = classpath, work, deadline
        self.n = 0

    def harness(self, mode, trace, **opts):
        """One fresh JVM; returns its result JSON."""
        self.n += 1
        tag = f"{self.n:02d}-{mode}-t{trace}"
        jwork = os.path.join(self.work, tag)
        tmp = os.path.join(jwork, "tmp")
        os.makedirs(tmp, exist_ok=True)
        out = os.path.join(jwork, "result.json")
        cmd = ["java"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += [f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
                "-Duser.timezone=UTC",
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={tmp}", "-cp", self.cp,
                "perfbench.Harness", "--mode", mode, "--trace", str(trace),
                "--work", jwork, "--out", out]
        for k, v in opts.items():
            cmd += ["--" + k, str(v)]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
                   SPARK_LOCAL_DIRS=os.path.join(jwork, "spark-local"))
        for k in ("SPARK_GRAFT_STATE_PARTITIONS", "SPARK_CONF_DIR"):
            env.pop(k, None)
        left = self.deadline - time.time()
        if left < 5:
            die("time budget spent before the next JVM")
        logf = os.path.join(self.work, tag + ".log")
        with open(logf, "w") as fh:
            p = subprocess.Popen(cmd, cwd=jwork, env=env, stdout=fh,
                                 stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL,
                                 start_new_session=True)
            try:
                p.wait(timeout=left)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                die(f"{tag} ran past the time budget")
        if p.returncode != 0 or not os.path.exists(out):
            with open(logf) as fh:
                sys.stderr.write(fh.read()[-4000:])
            die(f"{tag} exited with {p.returncode}")
        with open(out) as fh:
            r = json.load(fh)
        r["work"] = jwork
        return r


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------ workloads

def pick_inputs(seed):
    """Month M and 1,000 lookup keys from the seed. M is drawn among
    the full months (the partial latest month is excluded) whose fact
    row count lies in the middle half, so runs with different seeds
    pack comparable work."""
    counts = checks.month_counts(SF)
    full = sorted(counts)[:-1]
    ns = sorted(counts[m] for m in full)
    q1, _, q3 = statistics.quantiles(ns, n=4)
    cands = [m for m in full if q1 <= counts[m] <= q3]
    rng = random.Random(seed)
    month = rng.choice(cands)
    keys = rng.sample(range(1, checks.rows(SF, "part") + 1), 1000)
    return month, counts[month], keys


def daily_pack(runner, args, check):
    month, fact_rows, keys = pick_inputs(args.seed)
    log(f"daily-pack month {month}: {fact_rows} fact rows; "
        f"{checks.rows(SF, 'lineitem')} lineitem, "
        f"{checks.rows(SF, 'part')} part, "
        f"{checks.rows(SF, 'supplier')} supplier rows")
    app = runner.harness("daily-pack", 0, sf=SF, month=month)
    out = os.path.join(app["work"], "out")
    db = os.path.join(out, "pricecatcher.db")
    zp = os.path.join(out, "pricecatcher.zip")
    spans = app["report"]["spans"]
    check("app", all(s["ok"] for s in spans),
          "; ".join(s["error"] or "" for s in spans))
    if not os.path.exists(db):
        die("the app wrote no pricecatcher.db")
    checks.daily_pack(db, zp, SF, month, check)
    results = [app]
    e2e = {"wall_s": app["region"]["wall_s"], "cpu_s": app["region"]["cpu_s"],
           "heap_retained_mb": app["region"]["heap_retained_mb"],
           "artifact_bytes": os.path.getsize(zp)}
    if not args.trace:
        return results, e2e, {}

    tr = runner.harness("daily-pack", 1, sf=SF, month=month)
    results.append(tr)
    ex = tr["extra"]
    with open(db, "rb") as fh:
        app_db = fh.read()
    for name in ("export_db", "sqlitefile_db"):
        with open(ex[name], "rb") as fh:
            check(f"traced {name} identical to the app's db",
                  fh.read() == app_db, ex[name])
    checks.schema_matches(db, tr["schema"], check)
    rep = tr["report"]
    per = M.span_counters(rep["spans"], rep["jobs"], rep["tasks"])
    check("traced spans ran", all(s["ok"] for s in rep["spans"]),
          "; ".join(s["error"] or "" for s in rep["spans"]))
    layer = {f"{s}.{c}": per.get(s, {}).get(c, 0)
             for s in M.DAILY_SPANS for c, _ in M.DAILY_COUNTERS}
    wall = tr["region"]["wall_s"]
    layer.update({
        "sqlitefile.pages": per["sqlitefile"]["pages"],
        "sqlitefile.index_entries": per["sqlitefile"]["index_entries"],
        "sqlitefile.share": M.share(per["sqlitefile"]["wall_s"], wall),
        "export.share": M.share(per["export"]["wall_s"], wall),
        "export.heap_live_peak_mb": tr["heap_by_span"]["export"],
        "daily-pack.scan_amplification": M.scan_amplification(
            ex["fact_scan_rows"], checks.rows(SF, "lineitem")),
        "pack.zip_bytes": os.path.getsize(zp),
        "pack.db_bytes": os.path.getsize(db),
        "pack.artifact_query_ms": checks.artifact_query_ms(db, keys),
        "daily-pack.trace_overhead_frac": wall / e2e["wall_s"] - 1,
    })
    return results, e2e, layer


def stage_streams(stage):
    """The drives' sources: the events fixture as the one file of a
    directory, and the documents as 4 doc_id-range files with ascending
    modification times, so each is one micro-batch, ingested in order."""
    os.makedirs(os.path.join(stage, "events"))
    shutil.copyfile(os.path.join(SF, "events.parquet"),
                    os.path.join(stage, "events", "events.parquet"))
    docs = pq.read_table(os.path.join(SF, "documents.parquet")).sort_by("doc_id")
    os.makedirs(os.path.join(stage, "docs"))
    n, t0 = docs.num_rows, time.time() - 60
    for i in range(checks.INGEST_FILES):
        lo, hi = i * n // checks.INGEST_FILES, (i + 1) * n // checks.INGEST_FILES
        f = os.path.join(stage, "docs", f"docs-{i}.parquet")
        pq.write_table(docs.slice(lo, hi - lo), f)
        os.utime(f, (t0 + i, t0 + i))


def engine_mix(runner, args, check):
    stage = os.path.join(runner.work, "stage")
    stage_streams(stage)
    # the registry rows' oracle outputs are written and checked by the
    # untraced runs; a traced run leaves them out to stay within budget
    opts = {} if args.trace else {"small": SMALL}
    r = runner.harness("engine-mix", 0, sf=SF, stage=stage, **opts)
    results = [r]
    checks.engine_mix(r, SF, SMALL, check)
    calls = r["report"]["spans"]
    e2e = {"wall_s": sum(s["wall_s"] for s in calls),
           "cpu_s": sum(s["cpu_s"] for s in calls),
           "heap_retained_mb": r["region"]["heap_retained_mb"],
           "artifact_bytes": sum(dir_bytes(os.path.join(r["work"], d))
                                 for d in ("lake", "corpus"))}
    log("engine-mix: " + " ".join(
        f"{s['name']}={s['wall_s']:.2f}s" for s in calls))
    if not args.trace:
        return results, e2e, {}
    tr = runner.harness("engine-mix", 1, sf=SF, stage=stage)
    results.append(tr)
    checks.engine_mix(tr, SF, SMALL, check)
    rep = tr["report"]
    per = M.span_counters(rep["spans"], rep["jobs"], rep["tasks"])
    layer = {f"{s}.{c}": per.get(s, {}).get(c, 0)
             for spans, counters in ((M.BATCH_SPANS, M.BATCH_COUNTERS),
                                     (M.STREAM_SPANS, M.STREAM_COUNTERS))
             for s in spans for c, _ in counters}
    wall = sum(s["wall_s"] for s in rep["spans"])
    layer["engine-mix.trace_overhead_frac"] = wall / e2e["wall_s"] - 1
    return results, e2e, layer


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=M.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the command line's shape; one pass is measured
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    start = time.time()
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    work = os.path.join(STATE, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runner = Runner(cp, work, start + RUN_BUDGET_S)
    outcomes = []

    def check(name, ok, detail=""):
        outcomes.append((name, bool(ok)))
        if not ok:
            log(f"CHECK FAILED {name}: {str(detail)[:300]}")

    try:
        if args.workload == "daily-pack":
            results, e2e, layer = daily_pack(runner, args, check)
        else:
            results, e2e, layer = engine_mix(runner, args, check)
        # one sample per JVM: extra start-up probes would cost ~5 s per
        # run, and the spread of setup_s across runs is what is compared
        e2e["setup_s"] = statistics.median(r["setup_s"] for r in results)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(outcomes)
    failed = sum(1 for _, ok in outcomes if not ok)
    if args.trace:
        layer["failed_frac"] = M.failed_frac(attempted, failed)
        units = M.per_layer_names()
    else:
        layer = e2e
        units = M.END_TO_END
    values = {n: layer.get(n, 0) for n, _ in units}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units}}))


if __name__ == "__main__":
    main()
