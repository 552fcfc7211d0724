#!/usr/bin/env python3
"""End-to-end benchmark of the engine, run from the root of a checkout.

    python3 e2ebench/run.py --workload batch_queries --seed 1 --seconds 20 --trace 0
    python3 e2ebench/run.py --golden    # re-record golden/short.json and golden/mine.json

Builds the program and the benchmark package from source on first use
(sbt, offline), generates the benchmark tables once per source state,
then runs one workload in a fresh JVM at local[nproc]. Prints every
metric by name with its unit, and as the last stdout line one JSON object
with the keys correct, attempted, failed and metrics. --trace 1 reports
the per-layer metrics instead of the end-to-end ones and writes the span
file under .e2ebench/traces/. Everything it writes stays under
.e2ebench/ and the sbt target/ directories of the checkout.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".e2ebench")
GOLDEN = os.path.join(BENCH, "golden")
SPEC_FILE = os.path.join(ROOT, "BENCHMARK.json")
SF = 0.01
HEAP = "3g"
# Per-op costs on the 4-core reference host at the commit that added the
# benchmark. They turn --seconds into a fixed amount of work, so the work
# never depends on how fast the program under test is.
SHORT_SHARE = 0.6      # share of --seconds given to the short set
SHORT_QUERY_S = 0.65
MINE_QUERY_S = 1.05
INGEST_BATCH_S = 4.0   # publish, store and read one batch
INGEST_ROWS = 2500
INGEST_WARM = 2        # batches setup runs before the measured ones
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads: program and benchmark sources."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties", "e2ebench/build.sbt",
             "e2ebench/project/build.properties"]
    for top in ("src/main", "e2ebench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def build():
    """Compile with sbt once per source state.

    Returns (runtime classpath, source stamp, whether this call built)."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp, False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env.setdefault("SBT_OPTS", opts)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export e2ebench/Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in open(log) if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (rc={rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], stamp, True


def java(cp, args, log, timeout):
    # A fixed heap, so GC sizing does not differ between runs (live memory is
    # measured after a full collection, not from the heap size). C1 only:
    # under tiered compilation the C2 compiles of a fresh JVM outlast a run,
    # so ingest batches kept getting faster and the heaviest queries swung
    # with when their loops got compiled; C1 ran both workloads as fast, and
    # steadier. No hsperfdata file: the JVM writes it to the system temp
    # dir, outside the checkout.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(STATE, 'work')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.e2ebench.Main", "--cpus", str(len(os.sched_getaffinity(0))),
            "--work", os.path.join(STATE, "work")] + args
    with open(log, "w") as out:
        return run_child(cmd, cwd=ROOT, stdout=out, timeout=timeout)


def fresh_work_dir():
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def ensure_data(cp, stamp):
    """Generate the tables once per source state; returns (dir, whether generated)."""
    data = os.path.join(STATE, f"data-sf{SF}")
    stamp_file = os.path.join(data, "_stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return data, False
    shutil.rmtree(data, ignore_errors=True)
    fresh_work_dir()
    rc = java(cp, ["--mode", "prepare", "--data", data, "--sf", str(SF)],
              os.path.join(STATE, "prepare.log"), 600)
    if rc != 0:
        fail("table generation failed, see .e2ebench/prepare.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return data, True


def record_golden(cp, data):
    for s in ("short", "mine"):
        fresh_work_dir()
        log = os.path.join(STATE, f"golden-{s}.log")
        rc = java(cp, ["--mode", "golden", "--set", s, "--data", data,
                       "--out", os.path.join(GOLDEN, s + ".json")], log, 900)
        if rc != 0:
            fail(f"golden run failed, see {log}")
        print(f"recorded {os.path.join(GOLDEN, s + '.json')}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("batch_queries", "feature_ingest"))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden", action="store_true")
    a = ap.parse_args()
    if not a.golden and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    started = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src/main/scala/graft"))):
        fail("run from the root of a checkout of the program (build.sbt, src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp, stamp, built = build()
    data, generated = ensure_data(cp, stamp)
    if a.golden:
        record_golden(cp, data)
        return
    # a run that built or generated tables may take longer than the others
    budget = JVM_TIMEOUT_S - (0 if built or generated else time.time() - started)

    work = fresh_work_dir()
    for d in ("logs", "results", "traces"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    raw = os.path.join(work, "result.json")
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--trace", str(a.trace), "--data", data, "--out", raw,
            "--trace-out", os.path.join(STATE, "traces", tag + ".json")]
    if a.workload == "feature_ingest":
        size = [INGEST_WARM + round(a.seconds / INGEST_BATCH_S), INGEST_ROWS, INGEST_WARM]
        args += ["--batches", str(size[0]), "--rows", str(size[1]), "--warm", str(size[2])]
    else:
        short_s = a.seconds * SHORT_SHARE
        size = [round(short_s / SHORT_QUERY_S), round((a.seconds - short_s) / MINE_QUERY_S)]
        args += ["--short", str(size[0]), "--mine", str(size[1]),
                 "--golden-short", os.path.join(GOLDEN, "short.json"),
                 "--golden-mine", os.path.join(GOLDEN, "mine.json")]
    args += ["--launch-ms", str(int(time.time() * 1000))]
    log = os.path.join(STATE, "logs", tag + ".log")
    rc = java(cp, args, log, budget)
    if rc != 0 or not os.path.exists(raw):
        fail(f"benchmark JVM failed (rc={rc}), see {log}")
    r = json.load(open(raw))
    shutil.rmtree(work, ignore_errors=True)

    # same seed and size, same generated input: checked against every
    # earlier run in this checkout
    hashes_file = os.path.join(STATE, "input_hashes.json")
    hashes = json.load(open(hashes_file)) if os.path.exists(hashes_file) else {}
    key = "/".join(map(str, [a.workload, a.seed] + size))
    same_input = hashes.setdefault(key, r["input_hash"]) == r["input_hash"]
    with open(hashes_file, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)

    failed = r["failed"] + (0 if same_input else 1)
    errors = r["errors"] + ([] if same_input else ["generated input differs for the same seed"])
    e2e = {
        "setup_s": r["setup_s"],
        "op_geomean_ms": statistics.geometric_mean(r["op_ms"]) if r["op_ms"] else 0.0,
        "work_s": r["work_s"],
        "peak_live_mb": r["peak_live_mb"],
    }
    spec = json.load(open(SPEC_FILE))
    if a.trace:
        # the traced run's own end-to-end figures, to state the tracing overhead
        for n, v in e2e.items():
            r["layers"]["trace." + n] = v
        values, kind = r["layers"], "per_layer"
    else:
        values, kind = e2e, "end_to_end"
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[kind]}
    out = {"correct": failed == 0, "attempted": r["attempted"], "failed": failed,
           "metrics": metrics}
    with open(os.path.join(STATE, "results", tag + ".json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "result": out,
                   "raw": r, "errors": errors}, f, indent=1, sort_keys=True)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  size {size}  "
          f"input {r['input_hash'][:16]}")
    print("  setup parts (s): session {:.3f}, warm-up {:.3f}, fixtures/stream {:.3f}".format(
        *r["setup_parts_s"]))
    if "checks" in r:
        print("  checks: " + ", ".join(f"{k}={v}" for k, v in sorted(r["checks"].items())))
    for e in errors[:20]:
        print(f"  FAILED {e}")
    print(f"  fail_ratio {failed / max(1, r['attempted']):.4f}  ({failed}/{r['attempted']})")
    print(f"  ops {len(r['op_ms'])}")
    for n, m in metrics.items():
        print(f"  {n:40s} {m['value']:>16.4f} {m['unit']}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
