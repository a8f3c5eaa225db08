"""The graft benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload flows --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It builds the harness and graft from
source with sbt (skipped while the sources are unchanged), generates
the workload's inputs from the seed (cached per seed, verified by
checksum), starts one benchmark JVM, gates every iteration's outputs
against the planted truth, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. Everything it writes goes under
`.perfbench/` in the checkout; the full record of a run, host shape
included, is `.perfbench/runs/<workload>-<seed>-<trace>.json`.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gate  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HEAP = "2g"
JVM_TIMEOUT_S = 160
KEEP_INPUTS = 8
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build

def _sources():
    """Every file the build reads, for the up-to-date stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no graft build at %s; run from a checkout root" % ROOT)
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.json")
    stamp = _sources()
    try:
        with open(stamp_file) as f:
            b = json.load(f)
        if b["stamp"] == stamp and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=850)
    cp = [l for l in p.stdout.splitlines() if l.startswith(os.sep)]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = cp[-1].split(os.pathsep)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log("built in %.0f s" % (time.time() - t0))
    return classpath


# ------------------------------------------------------------------ host

def _steal():
    """(steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def _mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def _commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout); source stamp " + _sources()[:16]


# ------------------------------------------------------------------- JVM

def run_jvm(classpath, args, log_path, timeout_s=JVM_TIMEOUT_S):
    """Start one benchmark JVM, return (PB records, peak RSS MB)."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(STATE, "warehouse"),
        "-Dderby.system.home=" + tmp, "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(classpath), "graftbench.Main"] + args
    with open(log_path, "w") as err, tempfile.TemporaryFile("w+", dir=tmp) as out:
        proc = subprocess.Popen(cmd, cwd=tmp, stdin=subprocess.DEVNULL, stdout=out, stderr=err)
        # reap the JVM ourselves: wait4's rusage holds this one child's
        # peak resident set (ru_maxrss, KiB)
        deadline = time.time() + timeout_s
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                proc.kill()
                _, status, usage = os.wait4(proc.pid, 0)
                break
            time.sleep(0.1)
        proc.returncode = os.waitstatus_to_exitcode(status)
        out.seek(0)
        recs = [json.loads(l[3:]) for l in out if l.startswith("PB ")]
    if proc.returncode != 0 or not recs or recs[-1].get("kind") != "end":
        raise SystemExit("perfbench: benchmark JVM failed (exit %s); see %s"
                         % (proc.returncode, log_path))
    return recs, usage.ru_maxrss / 1024.0


def prune_inputs(keep):
    """Mark `keep` as just used and delete all but the most recently
    used KEEP_INPUTS input sets, so many seeds do not fill the disk."""
    os.utime(keep)
    root = os.path.dirname(keep)
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------------------- results

def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(workload, truth, recs, peak_mb, trace):
    iters = [r for r in recs if r["kind"] == "iter"]
    setup = next(r for r in recs if r["kind"] == "setup")
    attempted = failed = 0
    sums, problems = [], []
    for it in iters:
        p, cs = gate.check(workload, truth, it["dir"], it)
        if workload == "query_suite":
            attempted += max(1, len(it.get("row_times", {})))
            failed += len(p)
        else:
            attempted += 1
            if cs is not None:
                sums.append(cs)
            failed += 1 if p else 0
        problems += ["it%d: %s" % (it["i"], x) for x in p]
    # outputs must repeat across iterations
    if len(set(sums)) > 1:
        problems.append("output checksums differ across iterations: %s" % sorted(set(sums)))
        failed = max(failed, 1)
    warm = [it for it in iters if not (it["cold"] or it["warmup"] or it["traced"])]
    wall = median([it["wall_s"] for it in warm])
    if trace:
        layers = [r["metrics"] for r in recs if r["kind"] == "layers"]
        traced = [r["wall_s"] for r in recs if r["kind"] == "layers"]
        m = {k["name"]: median([l.get(k["name"], 0.0) for l in layers])
             for k in SPEC["per_layer"]}
        m["session.start_s"] = setup["session_s"]
        calls = median([it.get("annotate_calls", 0) for it in iters])
        m["annotate.calls"] = calls
        distinct = truth.get("maf", {}).get("distinct_variants", 0)
        m["annotate.distinct_share"] = distinct / calls if calls else 0.0
        m["suite.rows_failed"] = sum(len(it.get("failed_rows", [])) for it in iters)
        m["trace.overhead_s"] = median(traced) - wall
    else:
        if workload == "query_suite":
            rows = sorted(warm[0]["row_times"]) if warm else []
            per_row = [median([it["row_times"][r] for it in warm]) for r in rows]
            p50 = median(per_row)
            records = len(rows)
        else:
            p50 = wall
            records = truth["records"]
        m = {"setup_s": setup["setup_s"], "wall_s": wall, "cold_wall_s": iters[0]["wall_s"],
             "records_per_s": records / wall if wall else 0.0, "query_p50_s": p50,
             "peak_rss_mb": peak_mb}
    spec = SPEC["per_layer" if trace else "end_to_end"]
    metrics = {k["name"]: {"value": m[k["name"]], "unit": k["unit"]} for k in spec}
    return {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", default="",
                    help="query_suite only: 'all' or a comma list instead of the fixed rows; "
                         "for choosing that list, not for measuring")
    a = ap.parse_args()

    classpath = build()
    inputs = os.path.join(STATE, "inputs", "%s-%d" % (a.workload, a.seed))
    truth = gen.cached(a.workload, a.seed, inputs)
    prune_inputs(inputs)
    tag = "%s-%d-%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(STATE, "work", tag)
    for sub in ("runs", "logs"):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
    if os.path.exists(work):
        shutil.rmtree(work)
    steal0 = _steal()
    t0 = time.time()
    recs, peak_mb = run_jvm(
        classpath, [a.workload, inputs, work, str(a.seconds), str(a.trace), a.rows],
        os.path.join(STATE, "logs", tag + ".log"),
        timeout_s=JVM_TIMEOUT_S if not a.rows else 3600)
    steal1 = _steal()
    result, problems = summarize(a.workload, truth, recs, peak_mb, a.trace == 1)
    host = next((r for r in recs if r["kind"] == "host"), {})
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": {"nproc": os.cpu_count(), "mem_total_mb": _mem_total_mb(), "jvm_heap": HEAP,
                 "jvm_cores": host.get("cores"), "spark_conf": host.get("spark_conf"),
                 "commit": _commit(),
                 "cpu_steal_share": ((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
                                     if steal0 and steal1 else None)},
        "run_s": time.time() - t0, "truth": {k: v for k, v in truth.items()
                                             if not isinstance(v, dict)},
        "problems": problems, "records": recs, "result": result}
    with open(os.path.join(STATE, "runs", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for p in problems[:20]:
        log("gate:", p)
    log("host:", json.dumps({k: v for k, v in record["host"].items() if k != "spark_conf"}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
