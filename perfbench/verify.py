"""Output checks. Each returns a list of problems; an empty list is a pass.

- Daily CSV exports against the generator's manifest: UTF-8 BOM, header in
  the configured ``standard_schema`` order, per-Source rows and exact spend
  sums, Naver GFA age/gender buckets, and the date range in the filename.
- Registry query outputs against their DuckDB oracle, with the comparison
  of the repository's oracle tests (``tests/oracle_util.py``): same column
  set, same row count, equal values after a column-sorted, row-sorted
  normalization.
- Streaming runs: every query ingested exactly the generated rows and ended
  without an exception.
"""

from __future__ import annotations

import csv
import sys
from collections import Counter, defaultdict
from decimal import Decimal
from pathlib import Path
from types import SimpleNamespace

BOM = b"\xef\xbb\xbf"
SPEND_PREFIXES = ("Amount spent", "지출 금액")  # the standardized spend column


def check_export(path: str | Path, pipeline: str, config, expected: dict) -> list[str]:
    """``config`` is the pipeline's ``PipelineConfig``; ``expected`` is its
    entry of the generator manifest."""
    path = Path(path)
    header = list(config.standard_schema)
    date_col = next(c for c, t in config.standard_schema.items() if t.typeName() == "date")
    spend_col = next(c for c in header if c.startswith(SPEND_PREFIXES))
    problems = []
    want_name = f"{pipeline}_{expected['date_min']}–{expected['date_max']}.csv"
    if path.name != want_name:
        problems.append(f"{pipeline}: filename {path.name!r} != {want_name!r}")
    raw = path.read_bytes()
    if not raw.startswith(BOM):
        problems.append(f"{pipeline}: no UTF-8 BOM")
    rows = list(csv.reader(raw.decode("utf-8-sig").splitlines()))
    if not rows or rows[0] != header:
        problems.append(f"{pipeline}: header {rows[0] if rows else None} != {header}")
        return problems
    idx = {c: i for i, c in enumerate(header)}
    n = Counter()
    spend = defaultdict(Decimal)
    ages = Counter()
    for r in rows[1:]:
        src = r[idx["Source"]]
        n[src] += 1
        if r[idx[spend_col]]:
            spend[src] += Decimal(r[idx[spend_col]])
        if src == "Naver_GFA":
            ages[f"{r[idx['연령']]}|{r[idx['성']]}"] += 1
    for src, want in expected["sources"].items():
        if n[src] != want["rows"]:
            problems.append(f"{pipeline}/{src}: {n[src]} rows != {want['rows']}")
        if spend[src] != Decimal(want["spend"]):
            problems.append(f"{pipeline}/{src}: spend {spend[src]} != {want['spend']}")
    extra = set(n) - set(expected["sources"])
    if extra:
        problems.append(f"{pipeline}: unexpected sources {sorted(extra)}")
    if expected.get("age_gender") and dict(ages) != expected["age_gender"]:
        problems.append(f"{pipeline}: age/gender {dict(ages)} != {expected['age_gender']}")
    days = [r[idx[date_col]] for r in rows[1:] if r[idx[date_col]]]
    if days and (min(days), max(days)) != (expected["date_min"], expected["date_max"]):
        problems.append(f"{pipeline}: dates {min(days)}..{max(days)} out of manifest range")
    return problems


def oracle_util():
    """The repository's ``tests/oracle_util.py``, imported on first use so
    that workloads without oracle checks never load DuckDB."""
    tests = str(Path(__file__).resolve().parent.parent / "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle_util as module

    return module


def check_query(name: str, got, con, oracle_sql: str) -> list[str]:
    """A query result already collected to pandas against its DuckDB oracle,
    by the repository's own ``oracle_util.compare`` (which collects whatever
    it is given through ``toPandas``)."""
    diff = oracle_util().compare(SimpleNamespace(toPandas=lambda: got), con, oracle_sql)
    return [f"{name}: {diff}"] if diff else []


def check_stream(name: str, rows_ingested: int, rows_generated: int, exception) -> list[str]:
    problems = []
    if exception is not None:
        problems.append(f"{name}: ended with {exception}")
    if rows_ingested != rows_generated:
        problems.append(f"{name}: ingested {rows_ingested} rows != {rows_generated} generated")
    return problems
