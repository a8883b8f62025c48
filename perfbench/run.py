#!/usr/bin/env python3
"""Build the engine, generate seeded inputs, run one benchmark workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_fixture --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke             # every workload, tiny inputs
    python3 perfbench/run.py --record-goldens    # rewrite perfbench/goldens/

The engine is compiled from the checkout's sources with sbt (offline)
the first time and whenever a source file changes. Inputs and build
outputs live under ``.perfbench-work/`` in the checkout. The engine's own
log output goes to ``.perfbench-work/logs/``; stdout carries a readable
summary and, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["query_fixture", "query_x10", "ingest_mixed"]
X10_FACTOR = 10
SMOKE_SCALE = 0.1
INGEST_CYCLES = 3  # a traced run uses three
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def java_cmd(classpath):
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def build():
    """Compile engine + harness; return the runtime classpath (jars)."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
            and os.path.isfile(cp_file)):
        classpath = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in classpath.split(":")):
            return classpath
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("building the engine and the harness with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=HERE, env=sbt_env(), capture_output=True, text=True, timeout=1500)
    with open(os.path.join(WORK, "logs", "build.log"), "w") as f:
        f.write(out.stdout + out.stderr)
    lines = [l for l in out.stdout.splitlines() if l.endswith(".jar") and ":" in l]
    if out.returncode != 0 or not lines:
        fail("sbt build failed; see .perfbench-work/logs/build.log")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    # nothing an older build persisted may serve this one
    shutil.rmtree(os.path.join(WORK, "jvm", "target"), ignore_errors=True)
    log(f"build done in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def ensure_fixture(kind):
    """Generate (once per generator version) and return a fixture dir."""
    data = os.path.join(WORK, "data")
    os.makedirs(data, exist_ok=True)
    gen_stamp = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()
    base = os.path.join(data, "base")
    if kind == "smoke":
        return _cached(os.path.join(data, "smoke"), gen_stamp,
                       lambda d: gen.fixture(d, SMOKE_SCALE))
    _cached(base, gen_stamp, lambda d: gen.fixture(d, 1))
    if kind == "base":
        return base
    # the blow-up is rebuilt only when the base fixture's bytes change
    return _cached(os.path.join(data, "x10"), gen.fingerprint(base),
                   lambda d: gen.blowup(base, d, X10_FACTOR))


def _cached(path, stamp, make):
    marker = path + ".source"
    if os.path.isdir(path) and os.path.isfile(marker) and open(marker).read() == stamp:
        return path
    gen.fresh(path)
    tmp = path + ".tmp"
    gen.fresh(tmp)
    make(tmp)
    os.rename(tmp, path)
    with open(marker, "w") as f:
        f.write(stamp)
    return path


def ensure_batches(fixture_dir, seed):
    out = os.path.join(WORK, "batches")
    gen.fresh(out)
    gen.ingest(fixture_dir, out, seed, INGEST_CYCLES)
    return out


def golden_path(workload, smoke):
    name = "smoke" if smoke else workload
    return os.path.join(HERE, "goldens", f"{name}.json")


def run_jvm(classpath, workload, seed, trace, smoke, record, deadline):
    t0 = time.time()
    kind = "smoke" if smoke else ("x10" if workload == "query_x10" else "base")
    fixture_dir = ensure_fixture(kind)
    goldens = golden_path(workload, smoke)
    if workload.startswith("query") and not record:
        g = json.load(open(goldens))
        if g.get("fixture") != gen.fingerprint(fixture_dir):
            fail(f"fixture bytes differ from the ones {goldens} was recorded on")
    batches = ensure_batches(fixture_dir, seed) if workload == "ingest_mixed" else ""
    gen_s = time.time() - t0
    jvm_dir = os.path.join(WORK, "jvm")
    cmd = java_cmd(classpath) + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--trace", "1" if trace else "0",
        "--fixture", fixture_dir, "--work", jvm_dir, "--batches", batches,
        "--goldens", goldens,
        "--setup-reps", "1" if (smoke or record) else "2",
        "--gen-s", repr(gen_s)]
    if record:
        cmd.append("--record-goldens")
    log_path = os.path.join(WORK, "logs", f"{workload}.log")
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=jvm_dir, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} timed out; see {log_path}", 1)
    rec = [l for l in out.splitlines() if l.startswith("PERFBENCH_RECORD ")]
    if p.returncode != 0 or not rec:
        fail(f"{workload} exited with {p.returncode}; see {log_path}", 1)
    record_json = json.loads(rec[-1][len("PERFBENCH_RECORD "):])
    if record and workload.startswith("query"):
        g = json.load(open(goldens))
        g["fixture"] = gen.fingerprint(fixture_dir)
        with open(goldens, "w") as f:
            json.dump(g, f, indent=1, sort_keys=True)
            f.write("\n")
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{workload}-seed{seed}-trace{int(trace)}{'-smoke' if smoke else ''}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record_json, f, indent=1, sort_keys=True)
    return record_json


def summarize(rec):
    e = rec["end_to_end"]
    r = rec["report"]
    fails = rec["failed"] / max(1, rec["attempted"])
    host = rec["host"]
    print(f"== {rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} "
          f"({host['master']}, {host['nproc']} cpus, load "
          f"{host['loadavg_before']}->{host['loadavg_after']}, spark "
          f"{host['spark_version']}, heap {host['heap_max_mb']} MB, "
          f"shuffle partitions {host['shuffle_partitions']})")
    print(f"  setup_s {e['setup_s']:.3f}   pass_s {e['pass_s']:.3f} "
          f"({rec['samples']['passes']} passes)   op_gmean_ms "
          f"{e['op_gmean_ms']:.1f} ({rec['samples']['ops']} ops)")
    if rec["workload"] == "ingest_mixed":
        print(f"  commit_p50_ms {r['commit_p50_ms']:.1f}   commit_p90_ms "
              f"{r['commit_p90_ms']:.1f}   ingest_rows_per_s "
              f"{r['ingest_rows_per_s']:.0f} (batch {r['batch_rows']:.0f} rows)")
        print(f"  read_p50_ms {r['read_p50_ms']:.1f}   read_p90_ms "
              f"{r['read_p90_ms']:.1f}   maint_p50_ms {r['maint_p50_ms']:.1f}"
              f"   space_amp {r['space_amp']:.3f}")
    else:
        print(f"  query_p50_ms {r['query_p50_ms']:.1f}   query_p90_ms "
              f"{r['query_p90_ms']:.1f} ({r['query_samples']:.0f} samples)")
    print(f"  failed_frac {fails:.4f} ({rec['failed']} of {rec['attempted']})")
    for n in rec["notes"]:
        print(f"  note: {n}")
    if rec["trace"]:
        for k in sorted(rec["per_layer"]):
            print(f"  {k} {rec['per_layer'][k]:.6g}")


def result_line(rec, trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {}
    source = rec["per_layer"] if trace else rec["end_to_end"]
    for m in spec["per_layer" if trace else "end_to_end"]:
        if m["name"] not in source:
            fail(f"metric {m['name']} missing from the record", 1)
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    return json.dumps({"correct": rec["failed"] == 0,
                       "attempted": rec["attempted"], "failed": rec["failed"],
                       "metrics": metrics})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted for the runner's interface; a run always "
                         "measures exactly one schedule, which takes longer "
                         "than this at 4 cores")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one schedule of every workload on a tiny fixture")
    ap.add_argument("--record-goldens", action="store_true",
                    help="rewrite the query goldens from this build")
    a = ap.parse_args()
    deadline = time.time() + 175
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from a checkout of the engine: its sources are missing")
    for d in ("logs", "tmp", "jvm"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        t_build = time.time()
        classpath = build()
        deadline += time.time() - t_build
        if a.smoke or a.record_goldens:
            ok = True
            for w in WORKLOADS:
                smokes = [True] if a.smoke else [False, True]
                for smoke in smokes:
                    if a.record_goldens and w == "ingest_mixed":
                        continue
                    rec = run_jvm(classpath, w, a.seed, a.trace == 1, smoke,
                                  a.record_goldens, time.time() + 600)
                    summarize(rec)
                    ok = ok and rec["failed"] == 0
            sys.exit(0 if ok else 1)
        if not a.workload:
            fail("--workload is required")
        rec = run_jvm(classpath, a.workload, a.seed, a.trace == 1, False,
                      False, deadline)
    summarize(rec)
    print(result_line(rec, a.trace == 1), flush=True)


if __name__ == "__main__":
    main()
