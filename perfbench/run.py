#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine: one client, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the harness package
(perfbench/harness, which compiles the engine's sources with the
harness) once per source tree, starts one JVM on
`GraftSession.local(nproc)` and runs the workload's query set back to
back (see perfbench/harness/.../Harness.scala). Every query's result is
checked once against the digest of its DuckDB twin stored in
perfbench/twins/. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The line before it stamps the run (load average, cores, heap,
commit, tail percentile, failing queries). A traced run also writes its
spans and per-query detail to .bench_build/perfbench/traces/.

Everything it builds or writes stays under the checkout: the harness
build output in perfbench/harness/target, the rest in .bench_build/.
The corpus is the read-only sf0.1 TESTDATA directory that TESTDATA.md
names (PERFBENCH_SF_DIR overrides it); the ×10 corpus is generated from
it once.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# MakeScaled copies these as they are; it replicates every other table.
FIXED_TABLES = {"region", "nation"}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "3g"
# Part of the build cache key: bump it when build() changes what it makes.
BUILD_RECIPE = "jars+cds-1"
JVM_TIMEOUT_S = 170


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


# --- build ------------------------------------------------------------------

def source_files():
    # workloads.json picks the queries the class archive is recorded from
    files = [os.path.join(HERE, "workloads.json")]
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, names in os.walk(top):
            # the harness's project/ holds build.properties; everything
            # else named target/ or project/ below it is build output
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                             or (x == "project" and d == HARNESS))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256(BUILD_RECIPE.encode())
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           "-Dsbt.repository.config=%s -Dsbt.offline=true "
                           "-Xmx2g" % repos)
    return env


def build(src_hash, workloads):
    """Compiles the harness package once per source tree and records a
    class-data-sharing archive of the classes a check pass loads, which
    halves JVM and session start. Returns (classpath, archive)."""
    d = os.path.join(WORK, "build", src_hash)
    stamp = os.path.join(d, "classpath.txt")
    archive = os.path.join(d, "classes.jsa")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip(), archive
    log("building harness (source tree %s)" % src_hash)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("harness build failed")
    classpath = lines[-1].strip()
    os.makedirs(d, exist_ok=True)
    log("built in %.1f s; recording the class archive" % (time.time() - t0))
    queries = sorted({q for w in workloads.values() if w.get("archive")
                      for q in w["queries"]})
    run_dir = new_run_dir("archive")
    try:
        run_jvm(java_cmd(classpath, "perfbench.Harness", [
            "--queries", ",".join(queries),
            "--data", corpus_dir("sf0.1", classpath),
            "--seed", "0", "--seconds", "0", "--min-passes", "0",
            "--warm-passes", "0",
            "--out", os.path.join(run_dir, "out.json"),
            "--check-dir", os.path.join(run_dir, "check"),
            "--cores", str(cores())], os.path.join(run_dir, "tmp"),
            jvm_flags=["-XX:ArchiveClassesAtExit=" + archive]),
            run_dir, 600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(classpath)
    log("build and archive took %.1f s" % (time.time() - t0))
    return classpath, archive


def java_cmd(classpath, main, args, tmpdir, archive=None, jvm_flags=(),
             heap=HEAP):
    cmd = ["java"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    if archive and os.path.exists(archive):
        cmd.append("-XX:SharedArchiveFile=" + archive)
    cmd += list(jvm_flags) + [
        # a fixed-size heap keeps GC timing, and so heap_peak_mb, steadier
        "-Xms" + heap, "-Xmx" + heap, "-Djava.io.tmpdir=" + tmpdir,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dfile.encoding=UTF-8", "-cp", classpath, main] + args
    return cmd


def run_jvm(cmd, run_dir, timeout, extra_env=None):
    """Runs one JVM in its own process group with its own temp and Spark
    local dirs; kills the group if it outlives `timeout`."""
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8",
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               **(extra_env or {}))
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, cwd=run_dir, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(logf, errors="replace") as f:
            tail = [l for l in f.read().splitlines()
                    if not l.lstrip().startswith("at ")][-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("JVM exited with %s" % code)


def new_run_dir(tag):
    d = os.path.join(WORK, "runs", "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(d, sub))
    return d


# --- corpora ----------------------------------------------------------------

def sf01_dir():
    """The sf0.1 corpus directory: PERFBENCH_SF_DIR, else the one that
    TESTDATA.md lists for sf 0.1."""
    if "PERFBENCH_SF_DIR" in os.environ:
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        m = None
    if not m:
        fail("TESTDATA.md names no sf0.1 directory; set PERFBENCH_SF_DIR")
    return m.group(1).rstrip("/")


def table_rows(con, d, t):
    return con.execute(
        "SELECT count(*) FROM '%s/%s.parquet'" % (d, t)).fetchone()[0]


def corpus_dir(name, classpath):
    base = sf01_dir()
    missing = [t for t in TABLES
               if not os.path.exists(os.path.join(base, t + ".parquet"))]
    if missing:
        fail("corpus %s lacks %s" % (base, ", ".join(missing)))
    if name == "sf0.1":
        return base
    if name != "x10":
        fail("unknown corpus " + name)
    out = os.path.join(WORK, "corpus", "x10")
    if os.path.exists(os.path.join(out, "READY")):
        return out
    import duckdb
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_dir = new_run_dir("makescaled")
    try:
        log("generating the x10 corpus (once per checkout)")
        t0 = time.time()
        run_jvm(java_cmd(classpath, "graft.tools.MakeScaled", [out, "10"],
                         os.path.join(run_dir, "tmp")), run_dir, 900,
                {"SPARK_GRAFT_SF_DIR": base, "SPARK_GRAFT_CPUS": str(cores())})
        gen_s = time.time() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    con = duckdb.connect()
    for t in TABLES:
        want = table_rows(con, base, t) * (1 if t in FIXED_TABLES else 10)
        got = table_rows(con, out, t)
        if got != want:
            fail("x10 corpus: %s has %d rows, expected %d" % (t, got, want))
    with open(os.path.join(out, "READY"), "w") as f:
        json.dump({"generation_s": gen_s}, f)
    log("x10 corpus generated in %.1f s (not part of setup_s)" % gen_s)
    return out


# --- results ----------------------------------------------------------------

def result_digests(check_dir, names):
    import duckdb
    con = duckdb.connect()
    got = {}
    for n in names:
        path = os.path.join(check_dir, n)
        if not os.path.isdir(path):
            continue
        rel = con.sql("SELECT * FROM read_parquet('%s/*.parquet')" % path)
        got[n] = M.digest(list(rel.columns), rel.fetchall())
    return got


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def end_to_end(out):
    timed = out["passes"]
    walls = [p["wall_s"] for p in timed]
    per_query = [s["build_s"] + s["action_s"] for p in timed
                 for s in p["samples"]]
    # Too few samples (under 40) for a tail percentile to leave ten beyond
    # it: report the slowest sample, stamped as percentile 100, none beyond.
    t = M.tail(per_query) or (max(per_query), 100.0, 0)
    setup_s = (out["setup_end_ms"] - out["jvm_start_ms"]) / 1000.0
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (M.median(walls), "s"),
        "query_p50_s": (M.median(per_query), "s"),
        "query_tail_s": (t[0], "s"),
        "cpu_s": (M.median([p["cpu_s"] for p in timed]), "s"),
        "heap_peak_mb": (out["heap_peak_mb"], "MB"),
    }
    stamp = {"tail_percentile": t[1], "tail_beyond": t[2],
             "samples": len(per_query), "passes": len(timed)}
    return metrics, stamp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM and run dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under %s/src/main/scala/graft" % ROOT)
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if a.workload not in workloads:
        fail("unknown workload %r (have: %s)" % (a.workload,
                                                 ", ".join(workloads)))
    wl = workloads[a.workload]
    load_start = os.getloadavg()[0]
    src_hash = source_hash()
    classpath, archive = build(src_hash, workloads)
    data = corpus_dir(wl["corpus"], classpath)
    twins = load_json(os.path.join(HERE, "twins", wl["corpus"] + ".json"))

    run_dir = new_run_dir(a.workload)
    try:
        out_path = os.path.join(run_dir, "out.json")
        check_dir = os.path.join(run_dir, "check")
        run_jvm(java_cmd(classpath, "perfbench.Harness", [
            "--queries", ",".join(wl["queries"]), "--data", data,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out_path,
            "--check-dir", check_dir, "--cores", str(cores()),
            "--min-passes", str(wl.get("min_passes", 2))],
            os.path.join(run_dir, "tmp"), archive,
            heap=wl.get("heap", HEAP)), run_dir,
            wl.get("timeout_s", JVM_TIMEOUT_S))
        out = load_json(out_path)
        last = os.path.join(WORK, "last", a.workload + ".json")
        os.makedirs(os.path.dirname(last), exist_ok=True)
        shutil.copyfile(out_path, last)
        actual = result_digests(check_dir, wl["queries"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    check = [(c["name"], c["error"]) for c in out["check"]]
    attempted, failed, why = M.failures(check, twins, actual, out["passes"])
    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "corpus": wl["corpus"], "queries": len(wl["queries"]),
             "cores": out["cores"], "heap_max_mb": out["heap_max_mb"],
             "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
             "commit": commit(), "source_tree": src_hash,
             "session_s": out["session_s"],
             "check_s": sum(c["wall_s"] for c in out["check"]),
             "failed_frac": failed / attempted, "failing": why}
    if a.trace:
        import layers
        untraced = [p for p in out["passes"] if not p["traced"]]
        traced = [p for p in out["passes"] if p["traced"]]
        metrics, detail = layers.per_layer(out, traced, untraced)
        trace_path = os.path.join(WORK, "traces", "%s-seed%d.json"
                                  % (a.workload, a.seed))
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump(dict(detail, stamp=stamp), f)
        stamp["trace_file"] = os.path.relpath(trace_path, ROOT)
        stamp["tracing_overhead"] = detail["tracing_overhead"]
        layers.sanity(a.workload, wl.get("nonzero", []), metrics)
    else:
        metrics, extra = end_to_end(out)
        stamp.update(extra)
    print(json.dumps({"stamp": stamp}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
