"""Self-tests of the benchmark: generators, manifest and verifiers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import json
import sys
from decimal import Decimal
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import gen_reports  # noqa: E402
import gen_star  # noqa: E402
import verify  # noqa: E402
from worker import Ledger  # noqa: E402


def _tree(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_report_generator_is_deterministic(tmp_path):
    gen_reports.generate(tmp_path / "a", 5)
    gen_reports.generate(tmp_path / "b", 5)
    gen_reports.generate(tmp_path / "c", 6)
    a, b, c = _tree(tmp_path / "a"), _tree(tmp_path / "b"), _tree(tmp_path / "c")
    assert a == b
    assert a != c


def test_star_generator_is_deterministic(tmp_path):
    gen_star.generate(tmp_path / "a", 5, 0.001)
    gen_star.generate(tmp_path / "b", 5, 0.001)
    gen_star.generate(tmp_path / "c", 6, 0.001)
    a, b, c = _tree(tmp_path / "a"), _tree(tmp_path / "b"), _tree(tmp_path / "c")
    assert a == b
    assert a != c


def test_reports_carry_every_quirk_and_format(tmp_path):
    import re
    import zipfile

    gen_reports.generate(tmp_path, 9)
    files = [p for p in tmp_path.rglob("*") if p.parent.name == "raw"]
    text = "".join(
        zipfile.ZipFile(p).read("xl/worksheets/sheet1.xml").decode()
        if p.suffix == ".xlsx" else p.read_bytes().decode("utf-8-sig")
        for p in files
    )
    assert "Total of" in text  # TikTok summary rows
    assert ".mp4" in text
    assert re.search(r'(,-\n|"-"|>-<)', text)  # X "-" average frequency
    assert re.search(r"\d{4}\.\d{2}\.\d{2}\.", text)  # Naver GFA dates
    assert any(k.strip() in text for k in gen_reports.GFA_AGE_GENDER_CASES)
    assert "캠페인 이름" in text  # Korean headers
    assert {p.suffix for p in files} == {".csv", ".xlsx", ".jsonl"}
    assert any(p.read_bytes().startswith(verify.BOM) for p in files)
    tiktok = {p.suffix for p in files if "tiktok" in p.name}
    assert tiktok and ".jsonl" not in tiktok  # positional cleaner: never JSONL


@pytest.fixture(scope="module")
def spark():
    from polars_ad_etl_spark.session import get_spark

    s = get_spark()
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny_run(spark, tmp_path_factory):
    """Generated inputs and their exports from a direct pipeline run."""
    from polars_ad_etl_spark.pipelines import PIPELINES, export_daily

    root = tmp_path_factory.mktemp("tiny")
    manifest = gen_reports.generate(root / "in", 3)
    out = root / "out"
    out.mkdir()
    frames, paths = {}, {}
    for name, pm in manifest["pipelines"].items():
        frames[name] = PIPELINES[name].run(spark, str(root / "in" / pm["raw_dir"]))
        paths[name] = export_daily(frames[name], name, out)
    return manifest, frames, paths


def _spend_col(header):
    return next(c for c in header if c.startswith(verify.SPEND_PREFIXES))


def test_manifest_matches_direct_pipeline_run(tiny_run):
    from pyspark.sql import functions as F

    manifest, frames, _ = tiny_run
    for name, df in frames.items():
        spend = _spend_col(df.columns)
        got = {
            r["Source"]: (r["n"], Decimal(str(r["s"])))
            for r in df.groupBy("Source").agg(
                F.count("*").alias("n"),
                F.sum(F.col(spend).cast("decimal(20,2)")).alias("s"),
            ).collect()
        }
        want = {
            src: (v["rows"], Decimal(v["spend"]))
            for src, v in manifest["pipelines"][name]["sources"].items()
        }
        assert got == want, name


def _check(path, name, manifest):
    from polars_ad_etl_spark.pipelines import PIPELINES

    return verify.check_export(path, name, PIPELINES[name].config(), manifest["pipelines"][name])


def test_exports_pass_the_verifier(tiny_run):
    manifest, _, paths = tiny_run
    for name, path in paths.items():
        assert _check(path, name, manifest) == [], name


def _rewrite(src: Path, dst_dir: Path, mutate) -> Path:
    rows = list(csv.reader(src.read_bytes().decode("utf-8-sig").splitlines()))
    rows = mutate(rows)
    dst_dir.mkdir(exist_ok=True)
    dst = dst_dir / src.name
    with open(dst, "w", encoding="utf-8-sig", newline="") as fh:
        csv.writer(fh).writerows(rows)
    return dst


def test_planted_wrong_outputs_are_caught(tiny_run, tmp_path):
    manifest, _, paths = tiny_run
    apsl = Path(paths["apsl"])

    def keep_total_row(rows):
        idx = {c: i for i, c in enumerate(rows[0])}
        total = next(r for r in rows[1:] if r[idx["Source"]] == "TikTok")[:]
        total[idx["Day"]] = ""
        total[idx[_spend_col(rows[0])]] = "123.45"
        return rows + [total]

    def drop_one_row(rows):
        return rows[:-1]

    cases = {
        "total_row": _rewrite(apsl, tmp_path / "a", keep_total_row),
        "dropped_row": _rewrite(apsl, tmp_path / "b", drop_one_row),
    }
    plain = tmp_path / "c" / apsl.name
    plain.parent.mkdir()
    plain.write_bytes(apsl.read_bytes()[len(verify.BOM):])
    cases["no_bom"] = plain
    renamed = tmp_path / "d" / apsl.name.replace(manifest["pipelines"]["apsl"]["date_max"], "2099-01-01")
    renamed.parent.mkdir()
    renamed.write_bytes(apsl.read_bytes())
    cases["wrong_filename"] = renamed
    for label, path in cases.items():
        ledger = Ledger()
        ledger.check(_check(path, "apsl", manifest))
        assert ledger.failed == 1 and ledger.attempted == 1, label


def test_oracle_and_stream_verifiers_flag_mismatches():
    import pandas as pd

    con = verify.oracle_util().duckdb_conn(".")
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 0.5), (2, 1.5)) v(k, v)")
    a = pd.DataFrame({"k": [2, 1], "v": [1.5, 0.5]})
    assert verify.check_query("q", a, con, "SELECT * FROM t") == []
    assert verify.check_query("q", a, con, "SELECT k, v / 2 AS v FROM t")
    assert verify.check_query("q", a, con, "SELECT * FROM t LIMIT 1")
    assert verify.check_stream("q", 10, 10, None) == []
    assert verify.check_stream("q", 9, 10, None)
    assert verify.check_stream("q", 10, 10, RuntimeError("boom"))


def test_wrapped_entry_points_run_inside_spans():
    from tracing import Tracer

    class Stages:
        def first(self):
            return self.second()

        def second(self):
            return 2

    tracer = Tracer(True, run_id="t")
    tracer.wrap(Stages, "first", "a")
    tracer.wrap(Stages, "second", "b")
    assert Stages().first() == 2
    assert [(s["name"], s["parent"]) for s in tracer.spans] == [("a", None), ("b", 0)]


def test_benchmark_json_matches_the_runner():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    import run

    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert spec["end_to_end"][0]["name"] == "setup_s"


def test_units_disturbed_by_the_host_are_run_again(monkeypatch):
    import worker

    def steal_readings(values):
        it = iter(values)
        monkeypatch.setattr(worker, "_steal_s", lambda: next(it))

    # unit 0 loses CPU to the hypervisor, units 1 and 2 do not: one more
    # unit runs and the two undisturbed ones are kept
    steal_readings([0, 10, 10, 10, 10, 10])
    kept, rates = worker.timed_units(2, lambda i: i)
    assert kept == [1, 2] and len(rates) == 3
    # every unit disturbed: no more than EXTRA_UNITS extra, the least kept
    steal_readings([0, 1, 1, 100, 100, 101])
    kept, rates = worker.timed_units(2, lambda i: i)
    assert kept == [0, 2] and len(rates) == 2 + worker.EXTRA_UNITS
    # nothing disturbed: exactly n units
    steal_readings([0] * 4)
    assert worker.timed_units(2, lambda i: i) == ([0, 1], [0.0, 0.0])
