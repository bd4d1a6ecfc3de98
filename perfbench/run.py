"""graft's repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source (perfbench/build.py). A plain run first starts
SETUP_SAMPLES - 1 JVMs that only set up a session, then one fresh JVM at
local[nproc] that sets up a session, writes the seeded inputs, runs the
workload in a closed loop (one client) for --seconds, checks the outputs
and writes its record. `setup_s` (JVM start until the session is ready)
is the median over all of these JVMs. A traced run starts only the last
JVM. Every JVM of a run must end within RUN_DEADLINE_S of its start.

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics of a run that registers the
benchmark's listeners and spans. The full run record (host facts, every
metric and call, failures, load sentinel) is kept under
.bench_build/records/. Everything a run writes stays under .bench_build/,
and the run's own directory there is deleted at the end.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("sentiment_flagship", "curation")
SETUP_SAMPLES = 3
# |sentinel after / before - 1| above DRIFT_FLAG, or a steal share above
# STEAL_FLAG, marks the run as taken on a host whose load changed while it ran
DRIFT_FLAG = 0.2
STEAL_FLAG = 0.05
# every JVM of a run must end within RUN_DEADLINE_S of the run's start
RUN_DEADLINE_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def bench_json() -> dict:
    return json.loads((build.ROOT / "BENCHMARK.json").read_text())


def jvm(cp: str, tmp: Path, log: Path, args: list, deadline: float) -> float:
    """Runs one benchmark JVM to its end; returns its wall time in seconds.
    The JVM is killed if it is still running at `deadline` (monotonic)."""
    opts = [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = ["java", *opts, "-cp", cp, "graftbench.Main", *args]
    t0 = time.monotonic()
    with open(log, "ab") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=tmp,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - t0))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM passed the run's {RUN_DEADLINE_S} s deadline: {' '.join(args)}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        tail = log.read_text(errors="replace")[-4000:]
        raise RuntimeError(f"JVM exited {rc}: {' '.join(args)}\n{tail}")
    return time.monotonic() - t0


def cpu_ticks() -> tuple:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def git_head():
    """The checkout's commit, or None outside a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def main() -> int:
    # a terminated run still stops its JVM (jvm()'s finally kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt",
                    help="comma-separated checks to hand a wrong expected value (self-test)")
    a = ap.parse_args()

    spec = bench_json()
    cp = build.build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    cpus = len(os.sched_getaffinity(0))
    runs = build.BUILD / "runs"
    run_dir = runs / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    base = build.BUILD / "base"
    base.mkdir(exist_ok=True)
    (run_dir / "base").symlink_to(base)
    log = run_dir / "jvm.log"
    common = ["--cpus", str(cpus), "--workload", a.workload, "--seed", str(a.seed),
              "--dir", str(run_dir)]
    run_args = [*common, "--out", str(run_dir / "run.json"), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    if a.corrupt:
        run_args += ["--corrupt", a.corrupt]
    ticks0 = cpu_ticks()
    try:
        setups, jvm_s = [], []
        # set-up-only JVMs feed setup_s, which traced runs do not report
        for k in range(0 if a.trace else SETUP_SAMPLES - 1):
            out = run_dir / f"setup{k}.json"
            jvm_s.append(jvm(cp, tmp, log, ["--cpus", str(cpus), "--setup-only", "1",
                                            "--out", str(out)], deadline))
            setups.append(json.loads(out.read_text()))
        jvm_s.append(jvm(cp, tmp, log, run_args, deadline))
        rec = json.loads((run_dir / "run.json").read_text())
        setups.append(rec["e2e"]["setup_s"])
        rec["setup_s_samples"] = setups
        rec["jvm_wall_s"] = jvm_s
        rec["e2e"]["setup_s"] = statistics.median(setups)
        if rec.get("spans"):
            rec["spans"] = json.loads(Path(rec["spans"]).read_text())
    except RuntimeError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        return 1
    finally:
        records = build.BUILD / "records"
        records.mkdir(exist_ok=True)
        if log.exists():
            shutil.copy(log, records / f"{run_dir.name}.log")
        shutil.rmtree(run_dir, ignore_errors=True)

    ticks1 = cpu_ticks()
    # share of the host's CPU time taken by other guests on the same machine
    rec["steal_share"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    rec["host"] = {"nproc": cpus, "master": f"local[{cpus}]", "heap": HEAP,
                   "load_avg": os.getloadavg(), "git_head": git_head(),
                   "source_sha256": build.STAMP.read_text()}
    rec["host_drift_flag"] = abs(rec["host_drift"]) > DRIFT_FLAG or rec["steal_share"] > STEAL_FLAG
    if rec["host_drift_flag"]:
        sys.stderr.write(
            f"perfbench: host load changed during the run (load sentinel "
            f"{rec['load_sentinel_ms_before']:.0f} ms before, "
            f"{rec['load_sentinel_ms_after']:.0f} ms after, "
            f"{rec['steal_share']:.1%} of CPU time stolen); compare its figures with care\n")
    (records / f"{run_dir.name}.json").write_text(json.dumps(rec, indent=1))

    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    src = rec["layer"] if a.trace else rec["e2e"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    attempted, failed = int(rec["attempted"]), int(rec["failed"])
    for f in rec["failures"]:
        sys.stderr.write(f"perfbench: FAILED {f}\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": src[n], "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
