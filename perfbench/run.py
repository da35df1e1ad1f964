"""Frontier benchmark entry point.

    python3 perfbench/run.py --workload polite --seed 0 --seconds 20 --trace 0

Runs one workload in a child Spark process (``frontier.py``) on
``local[$(nproc)]`` and prints, as the last line of standard output,
one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``.  With ``--trace 0`` the metrics are the end-to-end
metrics of ``BENCHMARK.json``; with ``--trace 1`` they are its
per-layer metrics, and the run's spans are written under
``.perfbench/spans/``.

This process owns the host hygiene: it pins ``SPARK_GRAFT_CPUS`` to the
CPU count, caps the driver heap below physical memory, gives the child a
private scratch directory (Spark local dirs, JVM and Python temp files,
checkpoints) that it deletes afterwards, records a host probe (1-minute
load average and the time of a fixed CPU loop), samples the peak resident
memory (PSS) of the child's whole process group (driver, JVM, Python workers) from
``/proc``, and stops that process group before it exits.

Other modes:
    --self-check   replay the discover and polite configurations at a tiny
                   size through plans.oracle.simulate
    --pin          run the workload at the pin seed and record its output
                   fingerprint in perfbench/pins.json
"""

from __future__ import annotations

import argparse
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
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("polite", "kernel", "discover")
RUN_TIMEOUT_S = 170
SELF_CHECK_TIMEOUT_S = 900
DRIVER_MEM_MB = 3072


def host_probe() -> dict:
    t = time.perf_counter()
    acc = 0
    for k in range(2_000_000):
        acc += k * k
    return {"load1": os.getloadavg()[0], "cpu_loop_s": time.perf_counter() - t}


def group_pss_mb(pgid: int) -> float:
    """Proportional set size of the process group: forked Python workers
    share pages with their parent, so plain RSS would count them twice."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[2]) != pgid:  # fields after comm: state, ppid, pgrp
                continue
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
    return total / 1e6


def group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


class MemorySampler(threading.Thread):
    def __init__(self, pgid: int, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.pgid, self.period = pgid, period
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, group_pss_mb(self.pgid))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the child's group and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not group_alive(proc.pid):
            break
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + grace
        while group_alive(proc.pid) and time.time() < deadline:
            if proc.poll() is None:
                try:
                    proc.wait(timeout=0.2)
                except subprocess.TimeoutExpired:
                    pass
            else:
                time.sleep(0.2)
    proc.wait()


def child_env(work: str) -> dict:
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{min(DRIVER_MEM_MB, mem_mb // 4)}m",
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_LOCAL_DIR=local,
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_child(
    workload: str, seed: int, seconds: float, trace: int, timeout: float, repin: bool = False
) -> tuple[dict | None, dict]:
    """Run frontier.py in its own process group; returns (result, run record)."""
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    spans_dir = os.path.join(OUT, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace}
    try:
        env = child_env(work)
        record["host"] = host_probe()
        record["env"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")}
        cmd = [
            sys.executable, os.path.join(HERE, "frontier.py"),
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--result", result_path,
            "--spans", os.path.join(spans_dir, f"{workload}-seed{seed}.json"),
            "--t0", repr(time.time()),
        ] + (["--repin"] if repin else [])
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
        )
        sampler = MemorySampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop()
            stop_group(proc)
        record["exit_code"] = code
        record["peak_rss_mb"] = sampler.peak
        result = None
        if code == 0 and os.path.isfile(result_path):
            with open(result_path) as fh:
                result = json.load(fh)
        return result, record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Frontier benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pyppeteer_scraper_spark")):
        print("perfbench: the pyppeteer_scraper_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    if args.self_check:
        result, record = run_child("self-check", 0, 0, 0, SELF_CHECK_TIMEOUT_S)
        if result is None:
            print(f"perfbench: self-check did not finish: {record}", file=sys.stderr)
            return 1
        print(json.dumps(result["self_check"], indent=1))
        return 0 if all(r["match"] for r in result["self_check"].values()) else 1

    if args.workload is None:
        ap.error("--workload is required")
    spec = load_spec()
    seed = 0 if args.pin else args.seed
    timeout = SELF_CHECK_TIMEOUT_S if args.pin else RUN_TIMEOUT_S
    result, record = run_child(args.workload, seed, args.seconds, args.trace, timeout, args.pin)
    if result is None:
        print(f"perfbench: run failed: {record}", file=sys.stderr)
        return 1

    if args.pin:
        pins = {}
        if os.path.isfile(os.path.join(HERE, "pins.json")):
            with open(os.path.join(HERE, "pins.json")) as fh:
                pins = json.load(fh)
        pins[args.workload] = {
            "seed": seed, "params": result["params"], "fingerprint": result["fingerprint"],
        }
        with open(os.path.join(HERE, "pins.json"), "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")

    if args.trace:
        values = result["layer"]
        wanted = spec["per_layer"]
    else:
        values = dict(result["metrics"], peak_rss_mb=record["peak_rss_mb"])
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for problem in result["problems"]:
        print(f"perfbench: {problem}", file=sys.stderr)
    record.update(
        setup=result["setup"], detail=result["detail"], fingerprint=result["fingerprint"],
        problems=result["problems"], end_to_end=result["metrics"],
    )
    runs_dir = os.path.join(OUT, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, f"{args.workload}-seed{seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"host": record["host"], "setup": result["setup"]}), file=sys.stderr)
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
