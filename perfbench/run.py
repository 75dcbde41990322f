#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload elt_queries --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run builds the engine and
the harness from source with sbt (offline) into ``.bench_build/``; later
runs launch the JVM directly. Each run works in a fresh directory under
``.bench_run/`` (warehouse, catalog, checkpoints, Spark local dir, temp
files) and deletes it at the end. A record of the run (host, settings,
sample counts, warm-up, failures; in a traced run the spans and each
layer's self time) goes to ``.bench_out/``.

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`` with
the end-to-end metrics when ``--trace 0`` and the per-layer metrics when
``--trace 1``. Any error exits non-zero without printing a result.

The harness's own tests: ``python3 -m unittest discover -s perfbench/tests``
and, from ``perfbench/``, ``sbt test``. ``gen_expected.py`` regenerates the
expected result digests.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "sbt" / "classpath.txt"
WORKLOADS = ("elt_queries", "corpus_queries", "elt_loop")
# the read-only fixture tables (TESTDATA.md), at scale factor 0.01
FIXTURE = os.environ.get("PERFBENCH_FIXTURE",
                         str(Path.home() / "testdata" / "sf0.01"))
HEAP = "2g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for d in (ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala"):
        yield from (p for p in d.rglob("*.scala") if p.is_file())
    yield HERE / "build.sbt"
    yield HERE / "project" / "build.properties"


def build():
    """Compiles engine and harness unless the classpath file is newer than
    every source. Returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError("no engine sources (src/main/scala) in this checkout")
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        newest = max(p.stat().st_mtime for p in sources())
        if CLASSPATH.exists() and CLASSPATH.stat().st_mtime > newest:
            return CLASSPATH.read_text().strip()
        log("building engine and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
            " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"))
        t0 = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not CLASSPATH.exists():
            raise BenchError(f"sbt build failed (exit {r.returncode})")
        log(f"built in {time.time() - t0:.1f} s")
        return CLASSPATH.read_text().strip()


def cpu_times():
    """Host-wide CPU jiffies from /proc/stat: (total, steal)."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def source_id():
    """The commit when the checkout is a git repository, else a digest of
    the engine and harness sources."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return "src-sha256:" + h.hexdigest()[:16]


def run_jvm(cp, work, argv):
    """Runs the harness JVM; returns its peak resident set in MB."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:InitiatingHeapOccupancyPercent=30",
        "-XX:MaxGCPauseMillis=100",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dspark.local.dir={work / 'local'}",
        f"-Dderby.system.home={work / 'derby'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
    ] + argv
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = {s: signal.signal(s, lambda *a: (kill(), sys.exit(1)))
           for s in (signal.SIGTERM, signal.SIGINT)}
    signal.signal(signal.SIGALRM, kill)
    signal.alarm(JVM_TIMEOUT_S)
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        signal.alarm(0)
        for s, h in old.items():
            signal.signal(s, h)
        kill()  # anything the JVM left in its process group
    code = os.waitstatus_to_exitcode(status)
    proc.returncode = code
    if code != 0:
        raise BenchError(f"harness JVM exited with {code}")
    return usage.ru_maxrss / 1024.0


def self_times(spans, n_ops):
    """Each span name's self time per operation: its duration minus the
    part of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur = 0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        name = "operation" if s["parent"] == -1 else s["name"].split(":")[0]
        out[name] = out.get(name, 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return {k: v / max(n_ops, 1) for k, v in sorted(out.items())}


def metrics_of(rec, rss_mb, setup_s, spec, trace):
    acc = stats.account(rec["ops"])
    # passes with a failed operation are left out, unless all have one:
    # then the run still reports its times, marked incorrect
    passes = (stats.clean_passes(rec["passes"], rec["ops"])
              or [p["seconds"] for p in rec["passes"]])
    p50 = stats.nearest_rank(acc["times"], 0.5) if acc["times"] else None
    # the tail percentile with ten samples beyond it at elt_queries' 40
    p75 = stats.nearest_rank(acc["times"], 0.75) if acc["times"] else None
    pass_s = stats.median(passes)
    values = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "op_p50_s": p50["value"] if p50 else float("nan"),
        "op_p75_s": p75["value"] if p75 else float("nan"),
        "rows_per_s": rec["rows_per_pass"] / pass_s if passes else float("nan"),
        "rss_peak_mb": rss_mb,
    }
    values.update(rec.get("layers", {}))
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or v != v:
            raise BenchError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    samples = {"op_p50_s": p50, "op_p75_s": p75,
               "pass_s": {"samples": len(passes)}}
    return acc, metrics, samples, values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    launched = time.time()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not Path(FIXTURE).is_dir():
        raise BenchError(f"fixture {FIXTURE} is missing")
    cp = build()
    build_s = time.time() - launched
    launched = time.time()  # set-up is timed from the harness start

    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    runs = ROOT / ".bench_run"
    work = runs / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "warehouse", "local", "derby", "work"):
        (work / d).mkdir(parents=True)
    result = work / "result.json"
    trace_file = out_dir / f"trace-{tag}.json"
    try:
        rss_mb = run_jvm(cp, work, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixture", FIXTURE,
            "--expected", str(HERE / "expected" / "digests.json"),
            "--work", str(work / "work"), "--out", str(result),
            "--trace-out", str(trace_file)])
        rec = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            runs.rmdir()
        except OSError:
            pass
    cpu_end = cpu_times()
    setup_s = rec["setup_end_ms"] / 1000.0 - launched
    self_per_op = None
    if a.trace:
        spans = json.loads(trace_file.read_text())
        self_per_op = self_times(spans, len(rec["ops"]))
        # the share of operation time that the layers' spans cover
        rec["layers"]["trace.accounted_frac"] = (
            1 - self_per_op.get("operation", 0.0) / rec["layers"]["trace.op_s"])
    acc, metrics, samples, values = metrics_of(rec, rss_mb, setup_s, spec, a.trace)
    checks = rec.get("failed_checks", [])
    correct = acc["failed"] == 0 and not checks

    host = {
        "workload": a.workload, "seed": a.seed, "trace": bool(a.trace),
        "seconds": a.seconds, "commit": source_id(), "nproc": os.cpu_count(),
        "master": rec["master"], "heap": HEAP, "heap_max_mb": rec["heap_max_mb"],
        "fixture": FIXTURE, "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "build_s": build_s,
        # share of the host's CPU time taken by the hypervisor during the run
        "steal_frac": (cpu_end[1] - cpu_start[1]) / max(cpu_end[0] - cpu_start[0], 1),
        "measured_s": rec["measured_s"], "gc_s": rec["gc_s"],
        "warm_pass_s": rec["warm_pass_s"],
        "warm_settled": rec["warm_settled"], "warm_failures": rec["warm_failures"],
        "samples": samples, "failed_frac": acc["failed"] / max(acc["attempted"], 1),
        "failures": [f"{o['name']}#{o['pass']}: {o['error']}"
                     for o in rec["ops"] if not o["ok"]],
        "failed_checks": checks, "values": values,
        "ops": [[o["name"], o["pass"], round(o["seconds"], 4), o["ok"]]
                for o in rec["ops"]],
    }
    if self_per_op is not None:
        host["self_s_per_op"] = self_per_op
        host["trace_file"] = str(trace_file.relative_to(ROOT))
    (out_dir / f"{tag}.json").write_text(json.dumps(host, indent=1))
    log(f"{tag}: attempted {acc['attempted']} failed {acc['failed']} "
        f"setup {setup_s:.2f}s passes {len(rec['passes'])} "
        f"warm {['%.2f' % w for w in rec['warm_pass_s']]} load {host['loadavg_end'][0]:.2f} "
        f"steal {host['steal_frac']:.2f}")
    if a.trace:
        log("self time per op: " + ", ".join(
            f"{k}={v:.3f}s" for k, v in host.get("self_s_per_op", {}).items()))
    print(json.dumps({"correct": correct, "attempted": acc["attempted"],
                      "failed": acc["failed"], "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, OSError, KeyError, ValueError,
            subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        sys.exit(1)
