"""tzengine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload assign_synth --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from the seed, starts one benchmark session (``worker.py``) in its own
process group, samples the resident memory of that process tree, and
prints the metrics: end-to-end ones with ``--trace 0``, per-layer ones
with ``--trace 1``. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 0
only when every job ran and passed its checks.

Everything is written under ``.perfbench_work/`` in the checkout; each
run keeps only its record, ``.perfbench_work/runs/<workload>-<seed>-<trace>.json``,
which also holds the host-noise readings (1-minute load average and the
CPU steal share over the run), every job's wall time and, when traced,
every span.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave the checkout as it was

END_TO_END = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_s_p50": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "geojson.ingest_s": "s",
    "index.compile_s": "s",
    "index.driver_compile_s": "s",
    "index.bytes": "bytes",
    "index.pieces": "count",
    "index.levels": "count",
    "index.segments": "count",
    "index.boundary_entry_share": "ratio",
    "engine.broadcast_s": "s",
    "engine.plan_s": "s",
    "engine.arrow_in_bytes_per_row": "bytes/row",
    "engine.arrow_out_bytes_per_row": "bytes/row",
    "engine.python_init_s": "s",
    "engine.python_exec_s": "s",
    "engine.python_rows": "rows",
    "engine.codegen_s": "s",
    "engine.shuffle_bytes": "bytes",
    "engine.floor_job_s": "s",
    "probe.lookup_rows_per_s": "rows/s",
    "probe.candidates_per_row": "ratio",
    "probe.boundary_candidate_share": "ratio",
    "probe.first_rows_per_s": "rows/s",
    "probe.all_rows_per_s": "rows/s",
    "probe.distance_rows_per_s": "rows/s",
    "probe.knn_rows_per_s": "rows/s",
    "probe.knn_evals_per_row": "ratio",
    "geom.geodesic_pairs_per_s": "pairs/s",
    "tables.write_s": "s",
    "tables.staging_write_s": "s",
    "tables.commit_s": "s",
    "tables.units": "count",
    "tables.stored_bytes_per_input_byte": "ratio",
    "trace.overhead_frac": "ratio",
}

RUN_DEADLINE_S = 170.0  # the whole run, preparation included
JOB_TIMEOUT_S = 60.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def session_members(sid: int) -> list[int]:
    """Live pids in session ``sid`` (the worker, its JVM and the
    pyspark daemon with its workers)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of a process session."""

    def __init__(self, sid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.interval = sid, interval
        self.peak = 0
        self.stop = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self.stop.is_set():
            total = 0
            for pid in session_members(self.sid):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self.page
                except OSError:
                    pass
            self.peak = max(self.peak, total)
            self.stop.wait(self.interval)


def reap(sid: int) -> None:
    """Wait for every process of the session to end, then make sure."""
    for sig, grace in ((None, 15.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in session_members(sid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + grace
        while session_members(sid) and time.monotonic() < end:
            time.sleep(0.1)
        if not session_members(sid):
            return


def end_to_end(jobs: list, n_rows: int, setup_s, peak_rss: int) -> dict:
    steady = [j["wall"] for j in jobs if j.get("steady") and j["ok"]]
    return {
        "setup_s": setup_s,
        "first_job_s": jobs[0]["wall"] if jobs else None,
        "job_s_p50": statistics.median(steady) if steady else None,
        "rows_per_s": n_rows * len(steady) / sum(steady) if steady else None,
        "peak_rss_mb": peak_rss / 1e6,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tzengine", "__init__.py")):
        print("run from the root of a tzengine checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"].get(args.workload)
    if spec is None:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path[:0] = [root, HERE]
    import inputs

    work_root = os.path.join(root, ".perfbench_work")
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    work = os.path.join(work_root, tag)
    cache = os.path.join(work_root, "cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    # inputs and world files are made before the session starts, untimed
    pieces = inputs.load_world(spec["world"])
    fp = inputs.check_fingerprint(spec["world"], pieces, spec["fingerprint"])
    world_path = (
        inputs.world_geojsonl(spec["world"], pieces, cache)
        if spec["setup"] == "geojsonl" else None
    )
    # the oracle's copy of the world, so the session need not rebuild it
    pieces_path = os.path.join(work, "pieces.pkl")
    with open(pieces_path, "wb") as f:
        pickle.dump(pieces, f)
    del pieces
    meta = inputs.make_inputs(spec, args.seed, work)

    cfg_path = os.path.join(work, "config.json")
    env = dict(
        os.environ,
        TMPDIR=work,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS="4",
        PYTHONPATH=root,
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM, the spark-submit launcher too: no /tmp perf files
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
    )
    cpu0, load0 = cpu_times(), os.getloadavg()[0]
    t_spawn = time.monotonic()
    cfg = {
        "spec": spec, "input": meta, "seed": args.seed, "trace": bool(args.trace),
        "seconds": args.seconds, "work_dir": work, "cache_dir": cache,
        "world_path": world_path, "pieces_path": pieces_path, "t_spawn": t_spawn,
        "job_timeout_s": JOB_TIMEOUT_S,
        # stop starting jobs early enough for the traced layer pass
        "budget_s": RUN_DEADLINE_S - 60.0 - (t_spawn - t_start),
    }
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=root, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
    sampler = RssSampler(proc.pid)
    sampler.start()
    timed_out = False
    try:
        proc.wait(timeout=max(1.0, RUN_DEADLINE_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        timed_out = True
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    t_exit = time.monotonic()
    reap(proc.pid)
    t_reaped = time.monotonic()
    sampler.stop.set()
    sampler.join()
    cpu1 = cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)]
    host = {
        "loadavg_1m_start": load0,
        "loadavg_1m_end": os.getloadavg()[0],
        # /proc/stat cpu fields: user nice system idle iowait irq softirq steal
        "steal_share": d[7] / max(sum(d[:8]), 1),
    }
    phases = {"prepare_s": t_spawn - t_start, "session_s": t_exit - t_spawn,
              "reap_s": t_reaped - t_exit}

    result = {}
    res_path = os.path.join(work, "result.json")
    if os.path.exists(res_path):
        with open(res_path) as f:
            result = json.load(f)
    jobs = result.get("jobs", [])
    errors = list(result.get("errors", []))
    if timed_out:
        errors.append(f"run exceeded {RUN_DEADLINE_S} s and was killed")
    if proc.returncode != 0 or not result:
        with open(os.path.join(work, "worker.log")) as f:
            errors.append(f"worker exit {proc.returncode}: " + f.read()[-3000:])

    e2e = end_to_end(jobs, meta["rows"], result.get("setup_s"), sampler.peak)
    wanted = PER_LAYER if args.trace else END_TO_END
    values = result.get("layers", {}) if args.trace else e2e
    missing = [k for k in wanted if values.get(k) is None]
    if missing:
        errors.append(f"metrics not measured: {missing}")
    attempted = max(len(jobs), 1)
    failed = sum(not j["ok"] for j in jobs) if jobs else 1
    correct = not errors and failed == 0

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "world": fp, "input": {
            k: meta[k] for k in ("rows", "dirty_rows", "input_bytes")},
        "host": host, "phases": phases, "end_to_end": e2e, "failed_frac": failed / attempted,
        "steady_jobs": sum(bool(j.get("steady")) for j in jobs),
        "job_walls": [j["wall"] for j in jobs],
        "oracle_s": result.get("oracle_s"), "stop_s": result.get("stop_s"),
        "layers": result.get("layers"), "self_s": result.get("self_s"),
        "spans": result.get("spans"), "errors": errors,
    }
    os.makedirs(os.path.join(work_root, "runs"), exist_ok=True)
    with open(os.path.join(work_root, "runs", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print("ERROR", e)
    print(f"{args.workload} seed={args.seed} jobs={len(jobs)} failed={failed} "
          f"steal={host['steal_share']:.3f} load1={host['loadavg_1m_end']:.2f}")
    if args.trace and result.get("self_s"):
        for name, v in sorted(result["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"  self {name:34s} {v:10.4f} s")
    metrics = {}
    for name, unit in wanted.items():
        v = values.get(name)
        if v is not None:
            metrics[name] = {"value": v, "unit": unit}
            print(f"  {name:34s} {v:14.6g} {unit}")
    if not args.trace:
        print(f"  {'failed_frac':34s} {failed / attempted:14.6g} ratio")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
