"""Benchmark entry point: runs one workload in a fresh process and prints its result.

    python3 perfbench/run.py --workload kg_small --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 5

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it (``perfbench-meta {...}``) records the run's metadata: cores, memory,
Spark version, git commit when there is one, host md5 probes taken before and
after the workload process, and the per-operation latencies.

Each run starts the workload (workloads.py) in a new process and session,
after any other Spark JVM on the host has exited, and samples the resident
memory of that session: the workload, its Spark JVM and the JVM's Python
workers. Spark's scratch space and temporary files go under
``.perfbench/`` at the repository root. ``--all`` runs every workload untraced
and traced, each in its own process, between two Spark md5 host probes
(``bench._standalone_probe_mrows``), and prints every metric by name and unit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PAGE = os.sysconf("SC_PAGE_SIZE")
CHILD_TIMEOUT_S = 160  # the waits around it take a few seconds: a run ends within 180 s
VOLUME_TIMEOUT_S = 900  # kg_volume (``--all`` only): three 100k-doc builds when traced
SPARK_JVM_MARK = b"org.apache.spark.deploy.SparkSubmit"
WORKLOADS = ("kg_small", "query_service", "kg_volume")


def _session_rss(sid: int) -> dict[int, int]:
    """pid -> resident bytes of every live process of session ``sid``. A
    zombie has ended and only waits to be reaped, so it is left out."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid or fields[0] == "Z":
                continue
            with open(f"/proc/{name}/statm") as f:
                out[int(name)] = int(f.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            continue  # the process exited while being read
    return out


class SessionSampler(threading.Thread):
    """Samples the summed RSS of a process session every 0.2 s."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak_bytes = 0
        self.peak_parts: list[int] = []  # MB per process at the peak
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.2):
            rss = _session_rss(self.sid)
            total = sum(rss.values())
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_parts = sorted((b >> 20 for b in rss.values()), reverse=True)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _kill_session(sid: int) -> None:
    """SIGKILL the processes of session ``sid`` that are alive now."""
    for pid in _session_rss(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _wait_session_gone(sid: int, timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while _session_rss(sid) and time.monotonic() < deadline:
        time.sleep(0.2)
    return not _session_rss(sid)


def _spark_jvms() -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/cmdline", "rb") as f:
                    if SPARK_JVM_MARK in f.read():
                        pids.append(int(name))
            except OSError:
                continue
    return pids


def wait_for_no_spark_jvm(timeout_s: float = 15.0) -> int:
    """Wait until no Spark JVM is resident; returns how many still are."""
    deadline = time.monotonic() + timeout_s
    while _spark_jvms() and time.monotonic() < deadline:
        time.sleep(0.5)
    return len(_spark_jvms())


def md5_probe_mhash() -> float:
    """Single-thread md5 rate of this host in millions of hashes per second."""
    n = 200_000
    t = time.perf_counter()
    for i in range(n):
        hashlib.md5(str(i).encode()).digest()
    return n / (time.perf_counter() - t) / 1e6


def host_facts(cores: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip() or None
    return {
        "cores": cores,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "git_commit": commit,
    }


def child_env(run_dir: str, cores: int) -> dict:
    """Environment that keeps every file a run writes inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        **os.environ,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def run_once(workload: str, seed: int, seconds: float, trace: int, cores: int) -> dict:
    """Run one workload in a fresh process; returns its result with metadata."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{workload}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    resident = wait_for_no_spark_jvm()
    probe_pre = md5_probe_mhash()
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores), "--work", run_dir]
    # a session of its own: the JVM and its Python workers (which move to a
    # process group of their own) stay in it, and no other process joins it
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=child_env(run_dir, cores), stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    timeout_s = VOLUME_TIMEOUT_S if workload == "kg_volume" else CHILD_TIMEOUT_S
    sampler = SessionSampler(child.pid)
    sampler.start()
    try:
        stdout, _ = child.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        _kill_session(child.pid)
        child.communicate()
        _wait_session_gone(child.pid, 5)
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit(f"perfbench: {workload} did not finish in {timeout_s} s")
    finally:
        sampler.stop()
    # the JVM and its Python workers outlive the workload process briefly
    if not _wait_session_gone(child.pid, 15):
        _kill_session(child.pid)
        _wait_session_gone(child.pid, 5)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH_CHILD ")]
    if child.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        raise SystemExit(f"perfbench: {workload} exited with code {child.returncode}")
    result = json.loads(lines[-1].split(" ", 1)[1])
    meta = result.pop("meta")
    meta.update(host_facts(cores))
    meta.update(
        {
            "seed": seed,
            "trace": trace,
            "spark_jvms_resident_at_start": resident,
            "host_md5_mhash_pre": round(probe_pre, 3),
            "host_md5_mhash_post": round(md5_probe_mhash(), 3),
            "peak_rss_parts_mb": sampler.peak_parts,
        }
    )
    # not an end-to-end metric: G1 heap sizing moves it 15-25% run to run
    peak = {"value": sampler.peak_bytes / 2**20, "unit": "MB"}
    if trace:
        result["metrics"]["session.peak_rss_mb"] = peak
    else:
        meta["reported"]["peak_rss_mb"] = peak
    result["meta"] = meta
    return result


def run_all(seed: int, seconds: float, cores: int) -> None:
    """Every workload untraced and traced, between two Spark md5 host probes."""
    sys.path.insert(0, ROOT)
    import bench

    os.environ.update(child_env(os.path.join(WORK, "probe"), cores))
    wait_for_no_spark_jvm()
    probes = {"pre": bench._standalone_probe_mrows(cores)}
    results = {}
    for workload in WORKLOADS:
        for trace in (0, 1):
            res = run_once(workload, seed, seconds, trace, cores)
            results[f"{workload}/trace{trace}"] = res
            print(f"# {workload} trace={trace} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for name, m in {**res["metrics"], **res["meta"].get("reported", {})}.items():
                print(f"{workload}\t{name}\t{m['value']:.6g}\t{m['unit']}")
            sys.stdout.flush()
    wait_for_no_spark_jvm()
    probes["post"] = bench._standalone_probe_mrows(cores)
    shutil.rmtree(os.path.join(WORK, "probe"), ignore_errors=True)
    print(f"# spark md5 host probe (Mrows/s at {cores} cores): "
          f"pre {probes['pre']} post {probes['post']}")
    print(json.dumps({"host_probe_mrows": probes, "results": results}))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "mmgraphrag_spark", "pipeline.py")):
        raise SystemExit(f"perfbench: no mmgraphrag_spark package under {ROOT}")
    if args.all:
        run_all(args.seed, args.seconds, args.cores)
        return
    if not args.workload:
        ap.error("--workload or --all is required")
    res = run_once(args.workload, args.seed, args.seconds, args.trace, args.cores)
    print("perfbench-meta " + json.dumps(res.pop("meta")))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
