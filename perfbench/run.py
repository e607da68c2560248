"""Benchmark launcher: one run of one workload.

    python3 perfbench/run.py --workload many_topics --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The launcher pins the environment,
generates the workload's inputs from the seed, starts the system in fresh
processes (see worker.py), samples their memory, checks every output against
the generator's truth, prints a readable summary and, as the last line of
standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from worker import (  # noqa: E402
    OPEN_FILES, STREAM_INTERVAL_S, STREAM_RATE, WORKLOADS)

PKG = "kafka_connect_expand_json_transform_spark"
FEED_SCRIPT = os.path.join(HERE, "feed.py").encode()
PR_SET_CHILD_SUBREAPER = 36  # prctl(2)
# the whole run must end well inside the 180 s a run is allowed
DEADLINE_S = 170
TOPICS_PER_FLEET, TOPIC_FLEETS, TOPIC_RECORDS = len(gen.TOPIC_WIDTHS), 10, 2_000
STREAM_BACKLOG_FILES, STREAM_FILE_RECORDS = 20, 1_000

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "records_per_s": "1/s",
    "job_s": "s",
    "event_latency_p50_ms": "ms",
    "event_latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "sources.records_in": "count",
    "schema_inference.sample_s": "s",
    "schema_inference.infer_s": "s",
    "schema_inference.calls": "count",
    "schema_inference.samples": "count",
    "expand_json.plan_s": "s",
    "expand_json.memo_hit_ratio": "ratio",
    "expand_json.memo_lookups": "count",
    "expand_json.exec_self_s": "s",
    "expand_json.malformed_records": "count",
    "connect_smt.dlq_records": "count",
    "connect_smt.filtered_records": "count",
    "connect_smt.plan_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_p95": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.bookkeeping_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.bookkeeping_share": "ratio",
    "streaming.trigger_ms_total": "ms",
    "sink.write_s": "s",
    "sink.records_written": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.speedup_vs_1core": "ratio",
    "spark.job_s_1core": "s",
    "generator.lateness_ms_p99": "ms",
    "trace.overhead_share": "ratio",
    "trace.untraced_unit_s": "s",
}


def pinned_env(work: str) -> dict:
    """The environment every process of a run gets: the core count from the
    CPUs this process may use, a driver heap sized to the machine, and every
    scratch directory inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # the machine is shared: a sixteenth of its memory, 1-4 GiB
    heap_gb = max(1, min(4, mem_kb // (16 * 1024 * 1024)))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
    })
    for d in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[d], exist_ok=True)
    return env


def generate(workload: str, seed: int, work: str) -> dict:
    inputs: dict = {"seed": seed}
    data = os.path.join(work, "data")
    if workload == "many_topics":
        t = gen.gen_topics(os.path.join(data, "topics"), seed,
                           TOPICS_PER_FLEET * TOPIC_FLEETS, TOPIC_RECORDS)
        inputs["fleets"] = [t[i:i + TOPICS_PER_FLEET]
                            for i in range(0, len(t), TOPICS_PER_FLEET)]
    else:
        inputs["stream"] = {
            "snapshot": gen.gen_stream_files(os.path.join(data, "snapshot"), seed, 2,
                                             STREAM_FILE_RECORDS),
            "backlog": gen.gen_stream_files(
                os.path.join(data, "backlog"), seed + 7919, STREAM_BACKLOG_FILES,
                STREAM_FILE_RECORDS, first_offset=10**6),
            # placed one by one into the watched directory by feed.py
            "feed": gen.gen_stream_files(
                os.path.join(data, "feed"), seed + 1, OPEN_FILES,
                round(STREAM_RATE * STREAM_INTERVAL_S), first_offset=10**9,
                stamp_step_ms=round(STREAM_INTERVAL_S * 1000)),
        }
    return inputs


# ---------------------------------------------------------------------------
# correctness gate
# ---------------------------------------------------------------------------


def _expand_mismatches(spec: dict, obs: dict, aggs: bool = True) -> list[str]:
    out = []
    if obs["schema"] != spec["schema"]:
        out.append(f"schema {obs['schema']} != {spec['schema']}")
    for name, want in spec["expected"].items() if aggs else ():
        got = obs["aggs"].get(name)
        if got != want:
            out.append(f"{name}: {got!r} != {want!r}")
    return out


def _stream_mismatches(truth: dict, obs: dict) -> list[str]:
    out = []
    if obs["schema"] != gen.STREAM_SCHEMA:
        out.append(f"schema {obs['schema']} != {gen.STREAM_SCHEMA}")
    filtered = truth["records"] - obs["good"] - obs["dlq"]
    for name, got in (("good", obs["good"]), ("dlq", obs["dlq"]),
                      ("filtered", filtered), ("sum_amount", obs["sum_amount"]),
                      ("sum_offset", obs["sum_offset"])):
        if got != truth[name]:
            out.append(f"{name}: {got!r} != {truth[name]!r}")
    for name in ("bad_keys", "bad_dlq"):
        if obs[name]:
            out.append(f"{name}: {obs[name]} records")
    return out


def gate(inputs: dict, report: dict) -> list[str]:
    """Every difference between what the system produced and what the
    generator says it must produce (``output_mismatches`` is its length)."""
    out = []
    topics = {t["index"]: t for f in inputs.get("fleets", []) for t in f}
    for obs in report["observed"]:
        check, unit = obs["check"], obs["unit"]
        if check in ("topic", "replan"):
            found = _expand_mismatches(topics[int(unit.split("/")[1])], obs,
                                       aggs=check == "topic")
        elif check == "drain":
            found = _stream_mismatches(inputs["stream"]["backlog"], obs)
        elif check == "malformed":
            want = inputs["stream"]["backlog"]["malformed"]
            found = [] if obs["malformed"] == want else [
                f"malformed: {obs['malformed']} != {want}"]
        else:
            found = _stream_mismatches(gen.merge_truth(
                inputs["stream"]["feed"]["files"][k] for k in obs["files"]), obs)
        out += [f"{check} {unit}: {m}" for m in found]
    return out


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def _group_rss_mb(pgid: int) -> float:
    """Peak resident memory of the system's processes: the sum of each one's
    high-water mark (VmHWM), over every process in the worker's process group
    (the Python driver, its JVM and any Python workers) except the open-loop
    feed, which is not the system.  The kernel keeps the high-water
    mark, so a peak between two samples is not missed.

    A child running the same program as its parent shares the parent's
    memory and is left out, so that memory is not counted twice: a helper
    the JVM spawns through vfork reports the JVM's whole resident set
    until it execs, and forked Python workers share their daemon's pages."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[2]) != pgid:
                continue
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if FEED_SCRIPT in f.read():
                    continue
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/status") as f:
                hwm_kb = int(next(line for line in f
                                  if line.startswith("VmHWM:")).split()[1])
            if os.readlink(f"/proc/{pid}/exe") != exe:
                continue  # it exec'd while being read: the mark may be its parent's
            procs[int(pid)] = (int(fields[1]), exe, hwm_kb)
        except (OSError, IndexError, ValueError, StopIteration):
            continue  # the process ended while being read
    total = sum(kb for ppid, exe, kb in procs.values()
                if ppid not in procs or procs[ppid][1] != exe)
    return total / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far.  Steal is time the
    hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait until it
    is gone.  The worker has written its report (or failed), so nothing in
    the group needs a graceful stop.  The launcher is the subreaper of the
    group (see main), so it reaps the worker and every orphan the worker
    leaves: until then their zombies keep the group alive."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    for _ in range(100):
        proc.poll()
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        if not _group_alive(proc.pid):
            return
        time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def run_worker(args: list[str], env: dict, work: str, deadline: float,
               report_path: str) -> tuple[dict, float]:
    """Run worker.py in a fresh process group; return its report and the
    group's peak resident memory in MB."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args,
           "--work", work, "--report", report_path,
           "--spawned-at", repr(time.time())]
    with open(os.path.join(work, "worker.log"), "ab") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        peak = 0.0
        try:
            while proc.poll() is None and not os.path.exists(report_path):
                if time.time() > deadline:
                    raise TimeoutError("worker did not finish in time")
                peak = max(peak, _group_rss_mb(proc.pid))
                time.sleep(0.2)
        finally:
            _stop_group(proc)
            proc.wait()
    if not os.path.exists(report_path):
        with open(os.path.join(work, "worker.log"), errors="replace") as f:
            tail = "".join(f.readlines()[-30:])
        raise RuntimeError(f"worker exited with {proc.returncode}; its log ends:\n{tail}")
    with open(report_path) as f:
        return json.load(f), peak


# ---------------------------------------------------------------------------


def end_to_end(report: dict, peak_rss: float) -> dict:
    return {
        "setup_s": report["setup_s"],
        "records_per_s": report["records_per_s"],
        "job_s": report["job_s"],
        "event_latency_p50_ms": report["latency_p50_ms"],
        "event_latency_p99_ms": report["latency_p99_ms"],
        "peak_rss_mb": peak_rss,
    }


def per_layer(report: dict) -> dict:
    layers = report["layers"]
    return {name: float(layers.get(name, 0.0)) for name in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated launcher still stops its workers (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # orphans of the worker (its JVM, once the worker is gone) become this
    # process's children, so that _stop_group can wait until each has ended
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = pinned_env(work)
        t0 = time.time()
        inputs = generate(a.workload, a.seed, work)
        gen_s = time.time() - t0
        inputs_path = os.path.join(work, "inputs.json")
        with open(inputs_path, "w") as f:
            json.dump(inputs, f)

        ticks0 = cpu_ticks()
        report, peak_rss = run_worker(
            ["--workload", a.workload, "--inputs", inputs_path,
             "--seconds", str(a.seconds), "--trace", str(a.trace)],
            env, work, deadline, os.path.join(work, "report.json"))

        ticks1 = cpu_ticks()
        steal = steal_share(ticks0, ticks1)
        mismatches = gate(inputs, report)
        if a.trace:
            metrics = per_layer(report)
            units = PER_LAYER
            trace_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                trace_dir, f"{a.workload}-s{a.seed}-{int(t_start)}.jsonl"))
        else:
            metrics = end_to_end(report, peak_rss)
            units = END_TO_END
    except (RuntimeError, TimeoutError, OSError, KeyError, ValueError) as exc:
        print(f"perfbench: run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = report["attempted"], report["failed"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("  env: " + json.dumps({
        k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
        | {"python": sys.version.split()[0], "input_generation_s": round(gen_s, 3),
           "host_cpu_steal_share": round(steal, 4)}))
    for name, value in metrics.items():
        print(f"  {name:34s} {value:>16.6g} {units[name]}")
    print(f"  {'output_mismatches':34s} {len(mismatches):>16d} count")
    print(f"  {'failed_share':34s} {failed / max(attempted, 1):>16.6g} "
          f"ratio ({failed} of {attempted} operations)")
    print(f"  latency samples: {report['latency_samples']}; per unit (ms): "
          f"{report['latency_units_ms']}")
    print(f"  phases (wall s): {json.dumps(report['phase_s'])}")
    print(f"  timed units (wall s): {report['unit_s']}")
    print(f"  host speed (the timings above are scaled by it): "
          f"{report['host_speed']:.4f}; probes (s): {report['probe_s']}")
    for line in mismatches[:20] + report["errors"][:20]:
        print(f"  ! {line}")
    print(json.dumps({
        "correct": not mismatches and bool(report["observed"]),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
