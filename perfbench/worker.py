"""One workload in one fresh Spark session; writes its measurements as JSON.

``run.py`` starts this as a new process for every measurement, so the session
launch and the first unit of work are really cold. The first unit is timed
on its own; after one untimed warm-up unit a fixed number of units is
timed. Everything timed here is a call into the package's public surface;
inputs were generated beforehand and are read only through the package.

Usage (normally via run.py)::

    python3 perfbench/worker.py --kind etl|queries --inputs DIR --out FILE \\
        --seconds N --launched EPOCH_S [--trace]
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from tracing import CatalystPhases, Tracer  # noqa: E402

import verify  # noqa: E402

# The registry queries timed by ``query_registry``: the five queries ROADMAP.md
# names as per-job-floor targets. Pinned here so that edits to bench.py cannot
# change the workload.
QUERY_SET = [
    "q10_returned_items",
    "q18_large_volume_customers",
    "sim_ivf_probe_topk",
    "dedup_near_dup_keep_list",
    "curation_contamination_check",
]
# After the cold unit and one untimed warm-up unit (the steepest part of the
# JIT warm-up), a run times a fixed number of units, so that every run's
# median sits at the same point of the warm-up: one per NOMINAL_UNIT_S
# seconds of the window (a warm daily run and a warm query pass each take
# about 6 s on a 4-core host), and at least one.
NOMINAL_UNIT_S = 6.0
# The 4-core host is a VM whose neighbours take CPU in bursts: a daily run
# during which the hypervisor took CPU time (steal, summed over CPUs) ran up
# to 80% slower than the same run undisturbed. A unit with more than
# STEAL_LIMIT seconds of steal per second of wall is run again, at most
# EXTRA_UNITS more times a run, and the least disturbed units are kept.
STEAL_LIMIT = 0.1
EXTRA_UNITS = 1


class Ledger:
    """Counts operations and failures; a failed output check is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, label: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - the benchmark keeps going and reports it
            self.failed += 1
            self.problems.append(f"{label}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, p):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(p * (len(xs) - 1))))]


def _n_units(seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_UNIT_S))


def _steal_s() -> float:
    """CPU time the hypervisor took from this VM since boot, summed over
    CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def timed_units(n: int, unit) -> tuple[list, list[float]]:
    """Run ``unit(i)`` until ``n`` runs were undisturbed by the host or
    ``n + EXTRA_UNITS`` ran. Returns the results of the ``n`` runs with the
    least steal per second, and the steal rate of every run."""
    runs = []
    while len(runs) < n + EXTRA_UNITS:
        s0, t0 = _steal_s(), time.perf_counter()
        result = unit(len(runs))
        runs.append(((_steal_s() - s0) / (time.perf_counter() - t0), len(runs), result))
        if sum(rate <= STEAL_LIMIT for rate, _, _ in runs) >= n:
            break
    kept = sorted(runs, key=lambda r: r[:2])[:n]
    return [r[2] for r in sorted(kept, key=lambda r: r[1])], [r[0] for r in runs]


def _peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this process and of the session's JVM, in MB."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return hwm("self"), hwm(jvm_pid)


# ------------------------------------------------------------------- ETL


def _wrap_etl(tracer) -> None:
    """Traced runs only: wrap the steps of ``pipelines.<name>.run`` and
    ``export_daily`` where the package looks them up, so the untouched entry
    points run and each step gets a span: the ``MultiSourceAdETL`` stage
    methods, the per-file ``sources.tabular`` readers, and the filename and
    sink calls of ``export_daily``."""
    from polars_ad_etl_spark.pipelines import export
    from polars_ad_etl_spark.plans import MultiSourceAdETL
    from polars_ad_etl_spark.sources import tabular

    for method, span in (("read_tabular_files", "sources.read"),
                         ("capitalize_col_names", "plans.capitalize"),
                         ("assign_source", "plans.assign_source"),
                         ("clean_dataframes", "plans.clean"),
                         ("standardize_dataframes", "plans.standardize"),
                         ("merge", "plans.merge")):
        tracer.wrap(MultiSourceAdETL, method, span)
    for fn in ("read_csv", "read_excel", "read_jsonl"):
        tracer.wrap(tabular, fn, f"sources.{fn}")
    tracer.wrap(export, "make_date_filename", "utils.make_date_filename")
    tracer.wrap(export, "write_csv_bom", "sinks.write_csv_bom")


def run_etl(spark, tracer, ledger, inputs: Path, work: Path, seconds: float, traced: bool):
    from polars_ad_etl_spark.pipelines import PIPELINES, export_daily

    manifest = json.loads((inputs / "manifest.json").read_text(encoding="utf-8"))
    if traced:
        _wrap_etl(tracer)
    rows_exported = sum(
        s["rows"] for pm in manifest["pipelines"].values() for s in pm["sources"].values()
    )

    def day(i: int) -> tuple[dict[str, float], dict]:
        """One daily run; returns each pipeline's wall (run + export)."""
        out_dir = work / f"out_{i}"
        out_dir.mkdir(parents=True)
        paths, walls = {}, {}
        with tracer.span("etl.day", unit=i) as unit:
            for name, pm in manifest["pipelines"].items():
                raw = str(inputs / pm["raw_dir"])
                t0 = time.perf_counter()
                with tracer.span("pipelines.run", pipeline=name):
                    df = ledger.op(f"{name}.run", lambda: PIPELINES[name].run(spark, raw))
                if df is None:
                    continue
                with tracer.span("pipelines.export_daily", pipeline=name):
                    paths[name] = ledger.op(
                        f"{name}.export", lambda: export_daily(df, name, out_dir))
                if paths[name] is not None:
                    walls[name] = time.perf_counter() - t0
        for name, path in paths.items():
            if path is not None:
                ledger.check(verify.check_export(
                    path, name, PIPELINES[name].config(), manifest["pipelines"][name]))
        return walls, {"unit": unit, "paths": paths}

    cold, _ = day(0)
    day(1)  # warm-up, untimed
    warm_from = tracer.max_job_id()
    kept, steal = timed_units(_n_units(seconds), lambda i: day(i + 2))
    warm_to = tracer.max_job_id()
    walls: dict[str, list[float]] = {name: [] for name in manifest["pipelines"]}
    units = []
    for got, info in kept:
        for name, wall in got.items():
            walls[name].append(wall)
        units.append(info)
    # a daily run is the four pipelines in turn: the sum of their medians
    # (a stall that hits one run of a pipeline does not move its median)
    p50 = sum(_median(ws) for ws in walls.values())
    e2e = {"unit_p50_s": p50, "rows_per_s": rows_exported / p50}
    layers = {}
    if traced:
        tracer.finish()
        roots = [u["unit"] for u in units]
        n = len(roots)
        tot = lambda name, key="dur": tracer.total(roots, name, key) / n  # noqa: E731
        readers = ("sources.read_csv", "sources.read_excel", "sources.read_jsonl")
        layers.update({
            "sources.read_s": tot("sources.read"),
            "sources.files": sum(len(tracer.under(roots, r)) for r in readers) / n,
            "sources.spark_jobs": tot("sources.read", "jobs"),
            "sources.xlsx_s": tot("sources.read_excel"),
            "sources.py4j_calls": tot("sources.read", "py4j_calls"),
            "plans.capitalize_s": tot("plans.capitalize"),
            "plans.assign_source_s": tot("plans.assign_source"),
            "plans.clean_s": tot("plans.clean"),
            "plans.standardize_s": tot("plans.standardize"),
            "plans.merge_s": tot("plans.merge"),
            "plans.py4j_calls": sum(tot(s, "py4j_calls") for s in (
                "plans.capitalize", "plans.assign_source", "plans.clean",
                "plans.standardize", "plans.merge")),
            "plans.spark_jobs": sum(tot(s, "jobs") for s in (
                "plans.capitalize", "plans.assign_source", "plans.clean",
                "plans.standardize", "plans.merge")),
            "utils.make_date_filename_s": tot("utils.make_date_filename"),
            "sinks.write_csv_bom_s": tot("sinks.write_csv_bom"),
            "export.spark_jobs": tot("pipelines.export_daily", "jobs"),
            "export.tasks": tot("pipelines.export_daily", "tasks"),
            "etl.self_s": (tot("etl.day", "self_s") + tot("pipelines.run", "self_s")
                           + tot("pipelines.export_daily", "self_s")),
        })
        last = units[-1]["paths"].values()
        layers["sinks.rows_written"] = float(rows_exported)
        layers["sinks.bytes_written"] = float(sum(Path(p).stat().st_size for p in last if p))
    return e2e, layers, {"cold_s": sum(cold.values()), "warm_walls": walls,
                         "steal_per_s": steal, "warm_from": warm_from, "warm_to": warm_to,
                         "units_run": len(steal)}


# --------------------------------------------------------------- registry


def _tables_of(sql: str) -> set[str]:
    import re

    return {t for t in verify.oracle_util().TABLES if re.search(rf"\b{t}\b", sql)}


def run_queries(spark, tracer, ledger, inputs: Path, work: Path, seconds: float, traced: bool):
    from polars_ad_etl_spark.operators import ORACLES, QUERIES

    star = inputs / "star"
    rows = json.loads((inputs / "star_rows.json").read_text())
    sf_dir = str(star)

    def execute(q: str, unit: int) -> float:
        """One fully materialized execution: every output column is written
        to the noop sink."""
        with tracer.span("operators.query", query=q, unit=unit) as rec:
            t0 = time.perf_counter()
            with tracer.span("operators.construct", query=q):
                df = QUERIES[q](spark, sf_dir)
            analyzed = catalyst.analyzed(df) if catalyst else None
            with tracer.span("operators.exec", query=q):
                df.write.format("noop").mode("overwrite").save()
            dt_s = time.perf_counter() - t0
        if catalyst:
            rec["attrs"].update(catalyst.take(analyzed))
        return dt_s

    # Cold pass: each query's first execution in this session, materialized
    # to the driver and checked against its DuckDB oracle (the check untimed).
    con = verify.oracle_util().duckdb_conn(sf_dir)
    cold = 0.0
    for q in QUERY_SET:
        t0 = time.perf_counter()
        got = ledger.op(f"{q}.collect", lambda: QUERIES[q](spark, sf_dir).toPandas())
        cold += time.perf_counter() - t0
        if got is not None:
            ledger.check(verify.check_query(q, got, con, ORACLES[q]))
    con.close()
    for q in QUERY_SET:  # warm-up pass, untimed
        ledger.op(f"{q}.warmup",
                  lambda: QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save())

    def one_pass(i: int) -> tuple[int, dict[str, float]]:
        got = {}
        for q in QUERY_SET:
            dt_s = ledger.op(q, lambda: execute(q, i))
            if dt_s is not None:
                got[q] = dt_s
        return i, got

    catalyst = CatalystPhases(spark) if traced else None
    warm_from = tracer.max_job_id()
    roots_start = len(tracer.spans)
    kept, steal = timed_units(_n_units(seconds), one_pass)
    warm_to = tracer.max_job_id()
    if catalyst:
        catalyst.close()
    passes = len(kept)
    samples = {q: [got[q] for _, got in kept if q in got] for q in QUERY_SET}
    flat = [x for xs in samples.values() for x in xs]
    medians = {q: _median(xs) for q, xs in samples.items()}
    suite = sum(medians.values())
    input_rows = sum(rows[t] for q in QUERY_SET for t in _tables_of(ORACLES[q]))
    # the unit is one pass over the five queries: the sum of per-query
    # medians (a median over five different queries would flip between them)
    e2e = {"unit_p50_s": suite, "rows_per_s": input_rows / suite}
    extra = {"cold_s": cold, "passes": passes, "samples": len(flat),
             "query_p50_s": _median(flat), "query_p90_s": _pct(flat, 0.9),
             "per_query_median_s": medians, "steal_per_s": steal, "warm_from": warm_from,
             "warm_to": warm_to, "units_run": len(steal)}
    layers = {}
    kept_ids = {i for i, _ in kept}
    roots = [s for s in tracer.spans[roots_start:]
             if s["name"] == "operators.query" and s["attrs"]["unit"] in kept_ids]
    if traced and roots:
        tracer.finish()
        tot = lambda name, key="dur": tracer.total(roots, name, key) / passes  # noqa: E731
        layers.update({
            "operators.construct_s": tot("operators.construct"),
            "operators.exec_s": tot("operators.exec"),
            "operators.spark_jobs": tot("operators.query", "jobs"),
            "operators.stages": tot("operators.query", "stages"),
            "operators.tasks": tot("operators.query", "tasks"),
            "operators.shuffle_records": tot("operators.query", "shuffle_records"),
            "operators.shuffle_bytes": tot("operators.query", "shuffle_bytes"),
            "operators.self_s": tot("operators.query", "self_s"),
        })
        for ph in ("analysis", "optimization", "planning"):
            layers[f"catalyst.{ph}_s"] = sum(r["attrs"].get(ph, 0.0) for r in roots) / passes
        for q in QUERY_SET:
            mine = [r for r in roots if r["attrs"]["query"] == q]
            # construction runs jobs for some queries, so the per-query
            # figure is the whole timed execution, not the exec span alone
            layers[f"{q}.exec_s"] = tracer.total(mine, "operators.query") / len(mine)
            layers[f"{q}.stages"] = tracer.total(mine, "operators.query", "stages") / len(mine)
    return e2e, layers, extra


# -------------------------------------------------------------- streaming


def _progress_epoch(p: dict) -> float:
    """Wall-clock end of a micro-batch: trigger start + trigger duration."""
    import datetime as dt

    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000


def _file_log_ids(ckpt: Path) -> dict[str, int]:
    """file name -> file-source log id that took it, from the source's
    metadata log (plain and compacted entries both carry the id)."""
    out: dict[str, int] = {}
    log = ckpt / "sources" / "0"
    for f in log.iterdir() if log.is_dir() else []:
        if f.name.split(".")[0].isdigit():
            for line in f.read_text().splitlines()[1:]:
                if line.strip():
                    entry = json.loads(line)
                    out[Path(entry["path"]).name] = entry["batchId"]
    return out


def _log_offset(p: dict) -> int:
    """The file-source log id a data micro-batch read up to."""
    end = p["sources"][0]["endOffset"]  # a dict, or its Python repr
    return int((ast.literal_eval(end) if isinstance(end, str) else end)["logOffset"])


def run_stream(spark, tracer, ledger, inputs: Path, work: Path) -> tuple[dict, dict]:
    """The streaming layer: an open loop of events files into the hourly
    rollup and dedup streams; returns its per-layer metrics."""
    from polars_ad_etl_spark.streaming.events import (
        dedup_events_stream,
        hourly_rollup_stream,
        read_events_stream,
    )

    plan = json.loads((inputs / "stream_plan.json").read_text())
    staging = inputs / "stream_staging"
    src_root = work / "stream_src"
    table_dir = src_root / "events.parquet"
    table_dir.mkdir(parents=True)
    files = plan["files"]
    interval = plan["interval_s"]

    def drop(f: str) -> None:
        """Publish one staged file atomically (dot-files are invisible to
        the file source until the rename)."""
        tmp = table_dir / f".{f}.tmp"
        shutil.copyfile(staging / f, tmp)
        os.replace(tmp, table_dir / f)

    drop(files[0])  # the schema probe needs one file

    t_start = time.time()
    with tracer.span("streaming.run"):
        events = read_events_stream(spark, str(src_root))
        queries = {}
        for name, build, mode in (("hourly_rollup", hourly_rollup_stream, "update"),
                                  ("dedup_events", dedup_events_stream, "append")):
            ckpt = work / f"ckpt_{name}"
            queries[name] = (build(events).writeStream.format("noop").outputMode(mode)
                             .queryName(name).option("checkpointLocation", str(ckpt)).start(),
                             ckpt)
        due: dict[str, float] = {}
        late, backlog = [], []

        def taken(ckpt: Path) -> int:
            """Files a query has picked up so far (one per micro-batch)."""
            log = ckpt / "sources" / "0"
            ids = [int(f.name.split(".")[0]) for f in log.iterdir()
                   if f.name.split(".")[0].isdigit()] if log.is_dir() else []
            return max(ids, default=-1) + 1

        def committed(ckpt: Path) -> int:
            commits = ckpt / "commits"
            return sum(f.name.isdigit() for f in commits.iterdir()) if commits.is_dir() else 0

        def drop_files():
            # The open loop starts once both queries committed the first file,
            # so the schedule measures the warm stream, not the session's
            # first-trigger compile.
            while (min(committed(c) for _, c in queries.values()) < 1
                   and time.time() - t_start < 60):
                time.sleep(0.05)
            due[files[0]] = time.time()
            for i, f in enumerate(files[1:], 1):
                due_t = due[files[0]] + i * interval
                time.sleep(max(0.0, due_t - time.time()))
                drop(f)
                due[f] = due_t
                late.append(time.time() - due_t)
                backlog.append(i + 1 - min(taken(c) for _, c in queries.values()))

        gen = threading.Thread(target=drop_files, name="file-drops")
        gen.start()
        gen.join()
        for name, (q, _) in queries.items():
            ledger.op(f"{name}.drain", q.processAllAvailable)
        progress = {name: list(q.recentProgress) for name, (q, _) in queries.items()}
        for name, (q, _) in queries.items():
            exc = q.exception()
            q.stop()
            ingested = sum(p["numInputRows"] for p in progress[name])
            ledger.check(verify.check_stream(name, ingested, plan["rows"], exc))

    lags, first_commit, last_commit, rows = [], [], 0.0, 0
    for name, (q, ckpt) in queries.items():
        commit_at = {_log_offset(p): _progress_epoch(p) for p in progress[name]
                     if p["numInputRows"] > 0}
        log_id = _file_log_ids(ckpt)
        for f, lid in log_id.items():
            if lid not in commit_at:
                continue
            if f == files[0]:
                first_commit.append(commit_at[lid] - t_start)
            else:
                lags.append(commit_at[lid] - due[f])
        last_commit = max([last_commit, *commit_at.values()])
        # rows committed inside the open-loop window (the first file is not)
        rows += sum(p["numInputRows"] for p in progress[name]
                    if p["numInputRows"] > 0 and _log_offset(p) != log_id.get(files[0]))
    window = last_commit - due[files[0]] if last_commit else 0.0
    extra = {"lag_samples": len(lags), "lags_s": lags, "interval_s": interval,
             "files": len(files)}
    data = [p for ps in progress.values() for p in ps if p["numInputRows"] > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in data]  # noqa: E731
    state = [p.get("stateOperators") or [] for p in data]
    layers = {
        "streaming.first_commit_s": max(first_commit, default=0.0),
        "streaming.lag_p50_s": _median(lags),
        "streaming.lag_p90_s": _pct(lags, 0.9),
        "streaming.rows_per_s": rows / window if window > 0 else 0.0,
        "streaming.trigger_ms_p50": _median(dur("triggerExecution")),
        "streaming.trigger_ms_p90": _pct(dur("triggerExecution"), 0.9),
        "streaming.add_batch_ms_p50": _median(dur("addBatch")),
        "streaming.query_planning_ms_p50": _median(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": _median(dur("walCommit")),
        "streaming.batches": float(len(data)),
        "streaming.state_rows_max": float(max((sum(o.get("numRowsTotal", 0) for o in s)
                                               for s in state), default=0)),
        "streaming.state_bytes_max": float(max((sum(o.get("memoryUsedBytes", 0) for o in s)
                                                for s in state), default=0)),
        "streaming.state_commit_ms_p50": _median([sum(o.get("commitTimeMs", 0) for o in s)
                                                  for s in state if s]),
        "gen.late_s_max": max(late, default=0.0),
        "gen.backlog_files_max": float(max(backlog, default=0)),
    }
    return layers, extra


WORKLOADS = {"etl": run_etl, "queries": run_queries}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    work = Path(args.out).parent / ("traced" if args.trace else "untraced")
    work.mkdir(parents=True, exist_ok=True)
    tracer = Tracer(args.trace, run_id=f"pb{os.getpid()}")
    from polars_ad_etl_spark.session import get_spark

    t0 = time.perf_counter()
    # The traced session enables the UI for its monitoring REST endpoint.
    conf = {"spark.ui.enabled": "true", "spark.ui.port": "0"} if args.trace else None
    spark = get_spark(extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    setup_s = time.time() - args.launched
    tracer.attach(spark)

    ledger = Ledger()
    e2e, layers, extra = WORKLOADS[args.kind](
        spark, tracer, ledger, Path(args.inputs), work, args.seconds, args.trace)
    py_mb, jvm_mb = _peak_rss_mb(spark)
    e2e = {"setup_s": setup_s, **e2e, "driver_rss_mb": py_mb}
    layers["jvm.peak_rss_mb"] = jvm_mb
    layers["jvm.cold_unit_s"] = extra["cold_s"]
    if args.trace:
        # engine totals per timed unit (daily run, query pass), over every
        # timed unit run, kept or not
        jobs = [j for j in tracer.rest("jobs") or []
                if extra["warm_from"] < j["jobId"] <= extra["warm_to"]]
        units = extra["units_run"]
        layers.update({
            "session.get_spark_s": get_spark_s,
            "spark.jobs": len(jobs) / units,
            "spark.stages": sum(j["numCompletedStages"] + j["numFailedStages"] for j in jobs) / units,
            "spark.tasks": sum(j["numCompletedTasks"] + j["numFailedTasks"] for j in jobs) / units,
            "spark.failed_tasks": sum(j["numFailedTasks"] for j in jobs) / units,
        })
        if args.kind == "queries":
            # the streaming layer is measured on this workload's traced run,
            # after every registry number above is taken
            stream_layers, extra["stream"] = run_stream(spark, tracer, ledger,
                                                        Path(args.inputs), work)
            layers.update(stream_layers)
        tracer.dump(work / "spans.json")
        tracer.close()
    spark.stop()
    Path(args.out).write_text(json.dumps({
        "attempted": ledger.attempted, "failed": ledger.failed,
        "problems": ledger.problems, "e2e": e2e, "layers": layers, "extra": extra,
    }, default=float))
    return 0


if __name__ == "__main__":
    sys.exit(main())
