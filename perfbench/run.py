"""The repository benchmark: one command per workload, outputs checked.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The command generates the workload's inputs
from ``--seed`` (untimed), starts a fresh worker process that opens one Spark
session (``local[nproc]``, the package's ``get_spark`` defaults) and runs the
workload through the package's public entry points, checks every output, and
prints one JSON object as the last line of stdout::

    {"correct": true, "attempted": 40, "failed": 0,
     "metrics": {"setup_s": {"value": 12.9, "unit": "s"}, ...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
runs the workload traced and reports its per-layer metrics plus
``trace.overhead.<metric>`` (traced minus untraced) for every end-to-end
metric; the untraced side is an untraced run of the same inputs made first
in the same invocation, and each of the two measures for half the window.
Metrics of layers a workload does not exercise read 0.

Workloads (see BENCHMARK.json for why each exists):

- ``etl_many_small``: the four daily pipelines over their own raw dirs of
  small mixed-format reports; closed loop, one client.
- ``query_registry``: five pinned registry queries, fully materialized, on
  a generated sf0.01 star schema; closed loop, one client. Its traced run
  then measures the streaming layer: two streaming queries over a directory
  that receives one events file every ``STREAM_INTERVAL_S`` seconds (open
  loop).

Everything the run writes stays under ``.bench_work/`` in the checkout; a copy
of each result, with the host fingerprint, lands in ``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = {
    "etl_many_small": "etl",
    "query_registry": "queries",
}
STAR_SF = 0.01
STREAM_ROWS_PER_FILE = 500
STREAM_INTERVAL_S = 2.0
DEADLINE_S = 170.0


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def make_inputs(workload: str, seed: int, seconds: float, trace: bool, inputs: Path) -> None:
    """Untimed: everything the program will read, generated from the seed.
    A traced registry run also gets the events files of its stream phase."""
    inputs.mkdir(parents=True)
    if WORKLOADS[workload] == "etl":
        import gen_reports

        gen_reports.generate(inputs, seed)
        return
    import gen_star

    rows = gen_star.generate(inputs / "star", seed, STAR_SF)
    (inputs / "star_rows.json").write_text(json.dumps(rows))
    if trace:
        import numpy as np

        n_files = int(seconds / STREAM_INTERVAL_S) + 1
        n_rows = n_files * STREAM_ROWS_PER_FILE
        table = gen_star.events_table(np.random.default_rng(seed), n_rows, max(n_rows // 66, 10))
        paths = gen_star.split_events(table, inputs / "stream_staging", n_files)
        (inputs / "stream_plan.json").write_text(json.dumps({
            "files": [p.name for p in paths], "rows": n_rows,
            "interval_s": STREAM_INTERVAL_S,
        }))


def host_fingerprint() -> dict:
    mem = next(
        (line.split()[1] for line in Path("/proc/meminfo").read_text().splitlines()
         if line.startswith("MemTotal:")), "0")
    java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": int(mem) // 1024,
        "spark": pyspark.__version__,
        "java": (java.stderr.splitlines() or ["?"])[0],
        "python": platform.python_version(),
    }


def _reap_group(proc: subprocess.Popen) -> None:
    """The session's JVM runs in the worker's process group and outlives the
    worker by seconds of shutdown hooks. By now the worker has written its
    result (or overran), so kill the whole group and wait until it is gone;
    the JVM's temp files are inside the run's work dir."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(100):
        proc.poll()  # reap the worker itself: a zombie still counts as a member
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_worker(kind: str, inputs: Path, work: Path, seconds: float, trace: bool,
               deadline: float) -> dict:
    """Start one fresh worker process and wait for it; kills its whole
    process group (the JVM included) if it overruns the deadline."""
    tag = "traced" if trace else "untraced"
    out = work / f"{tag}.json"
    tmp = work / "tmp"
    tmp.mkdir(exist_ok=True)
    nproc = str(len(os.sched_getaffinity(0)))
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": nproc,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # keep the JVMs' temp files (and no hsperfdata in /tmp) inside the checkout
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, str(HERE / "worker.py"), "--kind", kind, "--inputs", str(inputs),
           "--out", str(out), "--seconds", str(seconds), "--launched", repr(time.time())]
    if trace:
        cmd.append("--trace")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap_group(proc)
        proc.wait()
    if code is None:
        raise RuntimeError(f"{tag} worker overran the {DEADLINE_S:.0f}s deadline")
    if code != 0 or not out.exists():
        raise RuntimeError(f"{tag} worker exited with code {code}")
    return json.loads(out.read_text())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still reaps its worker (SystemExit runs the finally
    # blocks in run_worker)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_begin = time.time()
    deadline = t_begin + DEADLINE_S

    if not (ROOT / "polars_ad_etl_spark" / "__init__.py").is_file():
        _log(f"the package polars_ad_etl_spark is not in {ROOT}; run from a full checkout")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bench_root = ROOT / ".bench_work"
    work = bench_root / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    try:
        host = host_fingerprint()
        load_before = os.getloadavg()
        # A traced invocation splits the window between the untraced twin
        # and the traced run: together they time as many units as one run.
        seconds = args.seconds / 2 if args.trace else args.seconds
        make_inputs(args.workload, args.seed, seconds, bool(args.trace), work / "inputs")
        kind = WORKLOADS[args.workload]
        # the traced run's overhead is against this untraced twin
        runs = [run_worker(kind, work / "inputs", work, seconds, False, deadline)]
        if args.trace:
            runs.append(run_worker(kind, work / "inputs", work, seconds, True, deadline))
        load_after = os.getloadavg()
    except RuntimeError as exc:
        _log(str(exc))
        return 1

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for r in runs:
        for p in r["problems"]:
            _log(f"FAILED {p}")
    if args.trace:
        # layers this workload does not exercise read 0
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        untraced, traced = runs
        values.update(traced["layers"])
        values["error_rate"] = failed / attempted
        for m, v in traced["e2e"].items():
            values[f"trace.overhead.{m}"] = v - untraced["e2e"][m]
        wanted = spec["per_layer"]
    else:
        values = runs[0]["e2e"]
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "loadavg_before": load_before,
        "loadavg_after": load_after, "wall_s": time.time() - t_begin,
        "runs": runs, "metrics": metrics,
    }
    results = bench_root / "results"
    results.mkdir(exist_ok=True)
    (results / f"{work.name}.json").write_text(json.dumps(record, indent=1, default=str))
    spans = work / "traced" / "spans.json"
    if spans.exists():
        shutil.move(spans, results / f"{work.name}.spans.json")
    _log(f"host {json.dumps(host)} load {load_before} -> {load_after}")
    _log(f"extra {json.dumps(runs[0]['extra'], default=str)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
