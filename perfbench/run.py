#!/usr/bin/env python3
"""The graft engine's benchmark: one workload per run, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program (src/main/scala)
and the harness (perfbench/harness) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/; makes the workload's inputs;
launches the harness at local[nproc] with the JVM options build.sbt passes;
checks the outputs; and prints one JSON result as the last stdout line.
The client is closed-loop: each operation starts after the previous one
returns. A run executes whole passes over the workload's operations until
at least --seconds have been measured.

Workloads:
  relational     relational queries on the fixture tables (fixed cost per query)
  shared_index   a session-index carrier and its riders (eager construction, reuse)
  donations_csv  the paper's CSV pipeline on seeded data (data-bound scan, shuffle, writes)

The fixture workloads read SPARK_GRAFT_SF_DIR, by default the sf0.1 fixture
graft.Bench reads; their seed is recorded but cannot change the inputs.
With --trace 1 the run also records Spark events and reports per-layer
numbers, per operation on stdout and as workload sums in the result.
"""
import argparse
import hashlib
import json
import multiprocessing
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import donations  # noqa: E402
import metrics  # noqa: E402

# build.sbt's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_PROPS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "documents"]
WORKLOADS = ["relational", "shared_index", "donations_csv"]
SETUPS = 3
# Time left for the harness and the checks after build and input generation.
RUN_TIMEOUT_S = 150
# Loop iterations that take about half a second on one idle core of the
# reference host (Python 3.11); the stamp is relative within a sitting.
SPIN_ITERS = 11_500_000
SPIN_S = 0.5


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def _spin(n):
    x = 0
    for i in range(n):
        x += i
    return x


def host_stamp():
    """Wall of an nproc-way CPU spin divided by its work per thread: about
    1.0 on an idle host, higher when the host is contended."""
    n = len(os.sched_getaffinity(0))
    ctx = multiprocessing.get_context("fork")
    procs = [ctx.Process(target=_spin, args=(SPIN_ITERS,), daemon=True) for _ in range(n)]
    t = time.perf_counter()
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return (time.perf_counter() - t) / SPIN_S


def source_files(root, rel):
    out = []
    for d, _, files in os.walk(os.path.join(root, rel)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def read_default(root, rel, pattern):
    """A setting the program's own files fix, so the benchmark cannot drift
    from them: build.sbt's jar directory, graft.Bench's fixture default."""
    try:
        with open(os.path.join(root, rel)) as f:
            return re.search(pattern, f.read()).group(1)
    except (OSError, AttributeError):
        fail(f"cannot read the setting {pattern!r} from {rel}")


def scalac(out_dir, files, jars, classpath):
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out_dir]
    if classpath:
        cmd += ["-cp", classpath]
    proc = subprocess.run(cmd + files, capture_output=True, text=True, timeout=800)
    if proc.returncode != 0:
        fail(f"compile failed:\n{proc.stdout[-4000:]}{proc.stderr[-4000:]}")


def build(root, build_dir):
    """Compiles program and harness once per source content; returns the
    run classpath: harness, program, and build.sbt's unmanagedBase jars
    (Spark and Scala, compiler included)."""
    main_src = source_files(root, "src/main/scala")
    harness_src = source_files(root, "perfbench/harness")
    if not main_src or not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("no program sources here: run from the root of a graft checkout")
    jars = read_default(root, "build.sbt", r'unmanagedBase := file\("([^"]+)"\)')
    if not os.path.isdir(jars):
        fail(f"{jars} (build.sbt's unmanagedBase) is missing")
    os.makedirs(build_dir, exist_ok=True)
    h = hashlib.sha256()
    for f in main_src + harness_src:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\0".join(sorted(os.listdir(jars))).encode())
    target = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    main_out, harness_out = os.path.join(target, "main"), os.path.join(target, "harness")
    if not os.path.isfile(os.path.join(target, "done")):
        for old in os.listdir(build_dir):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(build_dir, old))
        t = time.perf_counter()
        scalac(main_out, main_src, jars, None)
        scalac(harness_out, harness_src, jars, main_out)
        open(os.path.join(target, "done"), "w").close()
        log(f"built program and harness in {time.perf_counter() - t:.1f} s")
    return [harness_out, main_out, f"{jars}/*"]


def donation_inputs(build_dir, seed):
    """Generated inputs, cached by seed and generator source; only the two
    newest are kept."""
    data_root = os.path.join(build_dir, "data")
    with open(donations.__file__, "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(data_root, f"donations-{generator}-{seed}")
    if not os.path.isfile(os.path.join(d, "expected.json")):
        shutil.rmtree(d, ignore_errors=True)
        t = time.perf_counter()
        donations.generate(seed, d)
        log(f"generated donations inputs for seed {seed} in {time.perf_counter() - t:.1f} s")
    os.utime(d)
    kept = sorted((os.path.join(data_root, x) for x in os.listdir(data_root)),
                  key=os.path.getmtime, reverse=True)
    for old in kept[2:]:
        shutil.rmtree(old, ignore_errors=True)
    with open(os.path.join(d, "expected.json")) as f:
        return d, json.load(f)


def fixture_dir(root):
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or read_default(
        root, "src/main/scala/graft/Bench.scala", r'"SPARK_GRAFT_SF_DIR", "([^"]+)"')
    missing = [t for t in FIXTURE_TABLES if not os.path.exists(f"{d}/{t}.parquet")]
    if missing:
        fail(f"fixture tables {missing} not found under {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def driver_mem():
    """SPARK_DRIVER_MEM as build.sbt reads it; unset, half the RAM within [2g, 8g]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def java_cmd(classpath, heap, extra=()):
    """A java command line with build.sbt's JVM options, up to the main class."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + JVM_PROPS + [f"-Xmx{heap}"] + list(extra)
            + ["-cp", ":".join(classpath)])


def launch(build_dir, classpath, workload, data_dir, out_dir, trace, seconds, deadline):
    work = os.path.join(build_dir, "work")
    tmp = os.path.join(build_dir, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = java_cmd(classpath, driver_mem(), [f"-Djava.io.tmpdir={tmp}"]) + [
        "perfbench.Harness", workload, data_dir, out_dir, str(trace), str(seconds)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(out_dir, "harness.log"), "w") as logf:
        launch_ms = time.time() * 1000.0
        proc = subprocess.Popen(cmd + [repr(launch_ms), str(SETUPS)], cwd=work, env=env,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = os.path.join(out_dir, "harness.json")
    if code != 0 or not os.path.isfile(result):
        with open(os.path.join(out_dir, "harness.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def check(workload, record, out_dir, expected):
    """Names of operations whose output is wrong, with the reason."""
    bad = {}
    if workload == "donations_csv":
        for name, fn in (("by_state", donations.check_by_state),
                         ("chunk_export", donations.check_chunks)):
            err = fn(out_dir, expected)
            if err:
                bad[name] = err
        return bad
    with open(os.path.join(HERE, "goldens.json")) as f:
        goldens = json.load(f)["digests"]
    for name, digest in record["digests"].items():
        if goldens.get(name) != digest:
            bad[name] = f"digest {digest} != golden {goldens.get(name)}"
    return bad


UNITS = {"ms": "ms", "mb": "MB", "s": "s", "util": "frac", "ratio": "ratio"}


def unit_of(name):
    """Unit from the metric name's last token (`sink.ms`, `exec.gc_ms`, ...)."""
    return UNITS.get(re.split(r"[._]", name)[-1], "count")


def main():
    # a terminated run still stops its JVM (launch's finally) and spinners
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classpath = build(root, build_dir)

    expected = None
    if args.workload == "donations_csv":
        data_dir, expected = donation_inputs(build_dir, args.seed)
    else:
        data_dir = fixture_dir(root)
    out_dir = os.path.join(build_dir, "out", args.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    deadline = time.monotonic() + RUN_TIMEOUT_S
    stamp_start = host_stamp()
    record = launch(build_dir, classpath, args.workload, data_dir, out_dir,
                    args.trace, args.seconds, deadline)
    stamp_end = host_stamp()

    bad = check(args.workload, record, out_dir, expected)
    failed = sum(1 for op in record["ops"] if op["error"] or op["name"] in bad)
    for op in record["ops"]:
        if op["error"]:
            log(f"{op['name']} failed: {op['error']}")
    for name, why in sorted(bad.items()):
        log(f"{name} output check failed: {why}")

    e2e, shape = metrics.end_to_end(record)
    run_record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": data_dir, "cores": record["cores"], "passes": record["passes"],
        "host_stamp": [round(stamp_start, 3), round(stamp_end, 3)],
        "setup_s": record["setup_s"], **shape,
        "op_walls_s": {op["name"]: round((op["end_ms"] - op["start_ms"]) / 1000.0, 3)
                       for op in record["ops"]},
    }
    print(json.dumps({"run": run_record}))

    if args.trace:
        layers, rows = metrics.layer_sums(record, record["cores"], e2e["wall_s"][0])
        layers["host.spin_ratio"] = max(stamp_start, stamp_end)
        for row in rows:
            print(json.dumps({"op_layers": row}))
        with open(os.path.join(out_dir, "spans.json"), "w") as f:
            json.dump(metrics.spans(record), f)
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(record["ops"]),
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
