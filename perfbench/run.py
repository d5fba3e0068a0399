#!/usr/bin/env python3
"""Repository benchmark: one command per workload.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run generates its tables from the seed,
launches `java` directly (so sbt start-up is not part of any metric) on
`local[nproc]` with a fixed heap, checks every answer, prints each metric
as `name value unit` and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. The exit code is non-zero when any check failed or
the run could not complete. `--test` runs the harness's own test suite.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HEAP = "3g"
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# Scale factor of the generated tables, per workload.
SCALE = {"serve_mixed": 0.01, "batch_iter": 0.01}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` in its own process group, logging to `log_path`; the
    whole group is killed on timeout and reaped before returning."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def sources():
    """Files that determine the built classes."""
    out = []
    for base in (ROOT, BENCH):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            out.append(os.path.join(base, name))
        for top, dirs, files in os.walk(os.path.join(base, "src", "main")):
            dirs.sort()
            out += [os.path.join(top, f) for f in sorted(files)]
    return out


CLASSPATH = os.path.join(WORK, "classpath.txt")


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine and harness unless the sources are unchanged, and
    record the runtime classpath sbt resolves for them."""
    h = hashlib.sha256()
    for path in sources():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(WORK, "build.stamp")
    if (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()
            and os.path.exists(CLASSPATH)):
        return
    if shutil.which("sbt") is None:
        fail("sbt not found; it is needed to build the engine")
    log = os.path.join(WORK, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  BENCH, log, BUILD_TIMEOUT_S, sbt_env())
    cp = [ln.strip() for ln in open(log) if "scala-2.13" in ln and
          os.pathsep in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}):\n{tail(log)}")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def generate(sf, seed):
    """Tables for (sf, seed), generated once and reused by later runs."""
    sys.path.insert(0, BENCH)
    import datagen
    data = os.path.join(WORK, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(data, "done")):
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
        datagen.generate(data, sf, seed)
        open(os.path.join(data, "done"), "w").close()
    return data


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_batch(result, data):
    """Checks each batch_iter result against its DuckDB oracle."""
    sys.path.insert(0, BENCH)
    from oracle import Oracle
    o = Oracle(data, result["oracle_sql"])
    errors = [e for e in (o.check(out["name"], out["path"])
                          for out in result["outputs"]) if e]
    return errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true",
                    help="run the harness's own tests instead of a workload")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{ROOT} holds no engine sources to build and measure")
    if not a.test and a.workload is None:
        fail("--workload is required")
    os.makedirs(WORK, exist_ok=True)
    build()
    if a.test:
        data = generate(0.001, 7)
        env = dict(sbt_env(), PERFBENCH_SF_DIR=data)
        log = os.path.join(WORK, "test.log")
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                      BENCH, log, BUILD_TIMEOUT_S, env)
        print(tail(log, 40))
        sys.exit(0 if rc == 0 else 1)

    names = spec()["per_layer" if a.trace else "end_to_end"]
    t0 = time.time()
    data = generate(SCALE[a.workload], a.seed)
    gen_s = time.time() - t0
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", open(CLASSPATH).read(),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", run_dir, "--cores", str(cores),
            "--out", out])
    log = os.path.join(WORK, f"{a.workload}.log")
    # Spark's shuffle and spill files go under the run directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    rc = run_proc(cmd, ROOT, log, RUN_TIMEOUT_S, env)
    if rc != 0 or not os.path.exists(out):
        fail(f"{a.workload} run failed (exit {rc}):\n{tail(log)}", 1)
    with open(out) as f:
        result = json.load(f)
    errors = list(result["errors"])
    failed = result["failed"]
    if a.workload == "batch_iter":
        t_check = time.time()
        wrong = check_batch(result, data)
        result["notes"].append(
            f"oracle check took {time.time() - t_check:.1f} s (not part of any metric)")
        errors += wrong
        failed += len(wrong)
    # keep the spans and the raw result of the latest run for inspection
    for keep in ("spans.jsonl", "result.json"):
        if os.path.exists(os.path.join(run_dir, keep)):
            shutil.copy(os.path.join(run_dir, keep),
                        os.path.join(WORK, f"{a.workload}-{keep}"))
    shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {}
    for m in names:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or in another unit: {got}", 1)
        metrics[m["name"]] = got
        print(f"{m['name']} {got['value']:.6g} {got['unit']}")
    attempted = result["attempted"]
    print(f"failed_frac {failed / max(1, attempted):.6g} ratio "
          f"({failed} of {attempted} ops)")
    for note in result["notes"]:
        print(f"# {note}")
    print(f"# data generated in {gen_s:.2f} s (not part of setup_s); "
          f"{cores} cores, heap {HEAP}")
    for e in errors[:20]:
        print(f"FAILED {e}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
