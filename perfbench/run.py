#!/usr/bin/env python3
"""The repository benchmark: one workload per run, at local[<cpus>].

    python3 perfbench/run.py --workload kpi_dash --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10
    python3 perfbench/run.py --derby-repro

Builds the program and the harness from the checkout's sources (sbt, only
when a source changed), generates the workload's inputs from the seed,
runs the harness JVM, checks every output and prints each metric by name
with its unit. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones of BENCHMARK.json; with --trace 1 they are the per-layer
ones, and the self time of each layer is printed above. --all runs every
workload untraced and traced and prints one table. --derby-repro runs the
concurrent-writer repro of NOTES.md. See perfbench/NOTES.md.
"""
import argparse
import glob
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
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# runnable by hand for the traced baseline, but too slow for the run budget
# of BENCHMARK.json (see NOTES.md)
EXTRA_WORKLOADS = ["curation_batch"]
# fixed input sizes: star-schema scale factor, drop-zone shape, gate batches
SF = 0.01
INGEST_FILES, INGEST_ROWS = 6, 1000
GATE_PER_COHORT, GATE_PERIOD_S, GATE_WARM = 7, 5.0, 1
RUN_LIMIT_S = 175
# no hsperfdata file in the system temp directory
JVM_FLAGS = ["-XX:-UsePerfData"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ------------------------------------------------------------------- build

def source_digest():
    """Digest of everything the build reads: the root build and sources and
    the harness build and sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 HARNESS):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness unless the sources are unchanged
    since the last build; returns the harness runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to perfbench/ (build.sbt, src/main/scala)")
    digest = source_digest()
    cp_file = os.path.join(HARNESS, "target", "runtime-classpath.txt")
    stamp = os.path.join(HARNESS, "target", "source-digest")
    if (os.path.isfile(cp_file) and os.path.isfile(stamp)
            and open(stamp).read() == digest):
        classpath = open(cp_file).read().strip()
        # a clean of either build removes class directories the stamp vouches for
        if all(os.path.exists(e) for e in classpath.split(os.pathsep)):
            return classpath, digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building program and harness (sbt)")
    t0 = time.time()
    p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "writeClasspath"],
                         cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=850)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)  # sbt's JVM is a child of its script
        p.wait()
        fail("build timed out", 3)
    if p.returncode != 0 or not os.path.isfile(cp_file):
        log(out[-4000:])
        fail("build failed", 3)
    log(f"perfbench: build took {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip(), digest


# ------------------------------------------------------------------- inputs

def generate(workload, seed, seconds, data):
    sys.path.insert(0, HERE)
    import gen
    t0 = time.perf_counter()
    if workload in ("kpi_dash", "curation_batch"):
        gen.star_schema(data, SF, seed)
    elif workload == "ingest_upsert":
        gen.ingest_zone(data, seed, INGEST_FILES, INGEST_ROWS)
    elif workload == "gate_stream":
        gen.gate_batches(data, seed, GATE_WARM,
                         max(2, int(round(seconds / GATE_PERIOD_S))), GATE_PER_COHORT)
    return time.perf_counter() - t0


# ------------------------------------------------------------------- checks

def oracle_check(oracle, data):
    """Each query result against DuckDB running the query's oracle SQL over
    the same parquet: columns sorted by name, rows sorted by every column,
    floats bit-exact, everything else compared as text."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        try:
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        except TypeError:
            pass
        return df.reset_index(drop=True)

    failures = []
    for name, o in sorted(oracle.items()):
        if not o["sql"]:
            failures.append(f"{name}: no oracle SQL")
            continue
        try:
            files = sorted(glob.glob(os.path.join(o["path"], "*.parquet")))
            got = norm(pq.read_table(files[0]).to_pandas())
            want = norm(con.execute(o["sql"]).arrow().to_pandas())
        except Exception as e:  # a query or oracle that cannot run fails its check
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            failures.append(f"{name}: shape {list(got.columns)}x{len(got)} vs "
                            f"{list(want.columns)}x{len(want)}")
            continue
        bad = []
        for c in got.columns:
            g, w = got[c], want[c]
            if str(g.dtype) != str(w.dtype):
                bad.append(f"{c} dtype {g.dtype} vs {w.dtype}")
            elif np.issubdtype(g.dtype, np.floating):
                ga, wa = g.to_numpy(float), w.to_numpy(float)
                nan = np.isnan(ga) & np.isnan(wa)
                if not np.array_equal(ga[~nan], wa[~nan]):
                    bad.append(f"{c} floats differ")
            elif not np.array_equal(g.astype(str).to_numpy(), w.astype(str).to_numpy()):
                bad.append(f"{c} values differ")
        if bad:
            failures.append(f"{name}: " + "; ".join(bad))
    return len(oracle), failures


# ------------------------------------------------------------------- metrics

def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples, the maximum."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def med(xs):
    return statistics.median(xs) if xs else 0.0


def self_times(spans_path):
    """Self time per layer (span duration minus the part its children
    cover), summed per traced pass and given as the median over passes."""
    spans = [json.loads(l) for l in open(spans_path) if l.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    per_pass = {}
    for s in spans:
        cover, end = 0.0, s["start_s"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(c["start_s"], end), min(c["end_s"], s["end_s"])
            if b > a:
                cover += b - a
            end = max(end, c["end_s"])
        name = s["name"] if "." in s["name"] else "op"
        key = (s["pass"], name)
        per_pass[key] = per_pass.get(key, 0.0) + (s["end_s"] - s["start_s"] - cover)
    names = sorted({k[1] for k in per_pass})
    passes = sorted({k[0] for k in per_pass})
    return {n: med([per_pass.get((p, n), 0.0) for p in passes]) for n in names}


def metrics(rec, gen_s, workload, traced):
    passes = rec["passes"]
    setup = rec["setup"]
    plain = [p for p in passes if not p["traced"]] or passes
    ops = [x for p in plain for x in p["ops"] if x is not None]
    tv, tp, tn = tail(ops)
    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": med([p["wall_s"] for p in plain]),
        "op_p50_s": med(ops),
        "live_heap_mb": rec["live_heap_mb"],
    }
    info = {"op_tail_s": tv, "op_tail_percentile": round(tp, 1),
            "op_samples": tn, "passes": len(plain)}
    if not traced:
        return e2e, info
    tr = [p for p in passes if p["traced"]]
    layer = {}
    for k in {k for p in tr for k in p["layers"]}:
        layer[k] = med([p["layers"].get(k, 0.0) for p in tr])
    for k in ("core_util", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb"):
        layer[f"spark.{k}"] = med([p["counts"][k] for p in tr])
    if workload == "ingest_upsert":
        layer["ingest.jobs_per_file"] = med(
            [p["counts"]["jobs"] / max(1, p["layers"].get("ingest.files", 1)) for p in tr])
    layer["jvm.gc_s"] = med([p["gc_s"] for p in tr])
    layer["setup.input_gen_s"] = gen_s
    for k in ("session_s", "store_build_s", "warmup_s"):
        layer[f"setup.{k}"] = setup[k]
    if [p for p in passes if not p["traced"]] and tr:
        info["trace_overhead_s"] = (med([p["wall_s"] for p in tr])
                                    - med([p["wall_s"] for p in plain]))
    return layer, info


# ------------------------------------------------------------------- run

def run_one(args):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    classpath, digest = build()
    t_start = time.time()  # set-up time and the per-run limit start here
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(data)
    out = os.path.join(run_dir, "record.json")
    cmd = (["java"] + JVM_FLAGS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", f"-Xmx{heap}", "-cp", classpath,
            "perfbench.Harness", "--workload", args.workload,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out, "--cpus", cpus,
            "--t0", str(int(t_start * 1000)), "--period", str(GATE_PERIOD_S)])
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            # the inputs are generated while the JVM starts its session
            gen_s = generate(args.workload, args.seed, args.seconds, data)
            open(os.path.join(data, "ready"), "w").close()
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        try:
            rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start) - 10))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("harness timed out", 4)
    if rc != 0 or not os.path.isfile(out):
        log(open(jvm_log).read()[-4000:])
        fail(f"harness exited with {rc}", 5)
    rec = json.load(open(out))
    attempted = rec["checks"]["attempted"]
    failed = rec["checks"]["failed"]
    notes = list(rec["checks"]["notes"])
    if rec["oracle"]:
        n, bad = oracle_check(rec["oracle"], data)
        attempted += n
        failed += len(bad)
        notes += bad
    # every measured operation counts as attempted; a failed check fails one
    attempted += sum(len(p["ops"]) for p in rec["passes"])
    vals, info = metrics(rec, gen_s, args.workload, args.trace == 1)
    spec = SPEC["per_layer"] if args.trace == 1 else SPEC["end_to_end"]
    out_metrics = {m["name"]: {"value": float(vals.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec}
    stamp = dict(rec["stamp"], sf=SF, workload=args.workload, seed=args.seed,
                 source_digest=digest[:16], commit=git_commit())
    print(f"# stamp {json.dumps(stamp)}")
    print(f"# info {json.dumps(info)}")
    if args.trace == 1:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            st = self_times(spans)
            total = sum(st.values()) or 1.0
            print("# self time per traced pass (median over passes)")
            for k, v in sorted(st.items(), key=lambda kv: -kv[1]):
                print(f"#   {k:<22} {v:9.3f} s  {100 * v / total:5.1f}%")
    for note in notes:
        print(f"# check failed: {note}")
    for k, m in out_metrics.items():
        print(f"{k:<26} {m['value']:14.6f} {m['unit']}")
    result = {"correct": failed == 0, "attempted": int(attempted),
              "failed": int(failed), "metrics": out_metrics}
    print(json.dumps(result), flush=True)


def git_commit():
    try:
        # the ceiling keeps git from reporting an enclosing repository
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def derby_repro():
    """The embedded-Derby concurrent MERGE repro (NOTES.md, "Defect")."""
    classpath, _ = build()
    work = os.path.join(WORK, "derby-repro")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    r = subprocess.run(["java"] + JVM_FLAGS + [
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Xmx2g", "-cp", classpath, "perfbench.DerbyMergeRepro", work,
        "20000", "4", "10"], cwd=work, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        log(r.stderr[-3000:])
    print(r.stdout, end="")
    sys.exit(r.returncode)


def run_all(args):
    """Every workload, untraced then traced, as one table."""
    rows = []
    for w in WORKLOADS:
        for trace in (0, 1):
            r = subprocess.run([sys.executable, os.path.abspath(__file__),
                                "--workload", w, "--seed", str(args.seed),
                                "--seconds", str(args.seconds), "--trace", str(trace)],
                               stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            print("\n".join(f"[{w} trace={trace}] {l}" for l in lines[:-1]))
            if r.returncode != 0 or not lines:
                fail(f"{w} trace={trace} failed", 6)
            res = json.loads(lines[-1])
            for k, m in res["metrics"].items():
                rows.append((w, k, m["value"], m["unit"]))
            rows.append((w, "checks_failed", res["failed"], f"of {res['attempted']}"))
    for w, k, v, u in rows:
        print(f"{w:<16} {k:<26} {v:14.6f} {u}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--derby-repro", action="store_true")
    args = ap.parse_args()
    if args.derby_repro:
        derby_repro()
    elif args.all:
        run_all(args)
    elif args.workload:
        run_one(args)
    else:
        ap.error("give --workload or --all")


if __name__ == "__main__":
    main()
