"""Seeded raw-report generator for the four daily pipelines.

Writes one raw directory per pipeline (``<out>/<pipeline>/raw``) shaped like
the platform exports in FIXTURES.md Part A, plus ``<out>/manifest.json`` with
the answers the exported CSVs must reproduce. The manifest is computed here,
from the generated values, never by running the package.

Quirk rows included in every run:

- TikTok ``Total of N days`` summary rows in the positional (date) column,
  and one TikTok row whose date is empty (kept: null-keeping remove);
- X ``Average frequency`` values of ``"-"`` (at least one per X file);
- TikTok ad names ending in ``.mp4``;
- Naver GFA ``2026.02.09.`` dates and combined age/gender strings, with
  dash and whitespace variants;
- Korean headers (like_eat), mixed-case headers for the capitalizing
  pipelines.

File formats: mostly CSV, some CSV with a UTF-8 BOM, some xlsx, and JSONL only
for sources whose cleaners do not depend on column position (the JSON reader
orders columns by name).

The same seed gives byte-identical files: all randomness comes from one
``random.Random(seed)`` and the xlsx zip entries carry a fixed timestamp.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import random
import zipfile
from decimal import Decimal
from pathlib import Path
from xml.sax.saxutils import escape

# Column kinds: how a raw value is drawn.
DATE, TEXT, AD, ADMP4, SPEND, INT, FREQ, VALUE, XFREQ = (
    "date", "text", "ad", "admp4", "spend", "int", "freq", "value", "xfreq"
)
GENDER, AGE, URL, GFA_DATE, GFA_AGE_GENDER = (
    "gender", "age", "url", "gfa_date", "gfa_age_gender"
)

# (pipeline, source) -> (raw header -> kind), in file column order. Headers
# are the pre-capitalize forms a platform actually exports.
SOURCES: dict[str, dict[str, dict[str, str]]] = {
    "apsl": {
        "Meta": {
            "Day": DATE, "Account name": TEXT, "Campaign name": TEXT,
            "Ad set name": TEXT, "Ad name": AD, "Amount spent (USD)": SPEND,
            "Impressions": INT, "Reach": INT, "Frequency": FREQ,
            "Link clicks": INT, "Registrations completed": INT,
            "Adds to cart": INT, "Checkouts initiated": INT, "Purchases": INT,
            "Purchases conversion value": VALUE,
        },
        "Meta_OLIVE": {
            "Day": DATE, "Campaign name": TEXT, "Ad set name": TEXT,
            "Ad name": AD, "Amount spent (USD)": SPEND, "Impressions": INT,
            "Frequency": FREQ, "Reach": INT, "Link clicks": INT,
            "Adds to cart with shared items": INT,
            "Purchases with shared items": INT,
            "Purchases conversion value for shared items only": VALUE,
        },
        "Meta_Lead": {
            "Day": DATE, "Campaign name": TEXT, "Ad set name": TEXT,
            "Ad name": AD, "Amount spent (USD)": SPEND, "Impressions": INT,
            "Frequency": FREQ, "Reach": INT, "Link clicks": INT, "Leads": INT,
            "Leads conversion value": VALUE,
        },
        "X (Twitter)": {
            "Time period": DATE, "Funding source name": TEXT,
            "Campaign name": TEXT, "Ad group name": TEXT, "Spend": SPEND,
            "Impressions": INT, "Link clicks": INT, "Leads": INT,
            "Cart additions": INT, "Checkouts initiated": INT,
            "Purchases": INT, "Purchases - sale amount": VALUE,
            "Average frequency": XFREQ,
        },
        "TikTok": {
            "By Day": DATE, "Account name": TEXT, "Campaign name": TEXT,
            "Ad group name": TEXT, "Ad name": ADMP4, "Cost": SPEND,
            "Impressions": INT, "Reach": INT, "Frequency": FREQ,
            "Clicks (destination)": INT, "Adds to cart (website)": INT,
            "Checkouts initiated (website)": INT, "Purchases (website)": INT,
            "Purchase value (website)": VALUE,
        },
    },
    "manaboo": {
        "Meta": {
            "Day": DATE, "Campaign name": TEXT, "Ad Set Name": TEXT,
            "Ad name": AD, "Gender": GENDER, "Age": AGE,
            "Link (ad settings)": URL, "Amount spent (USD)": SPEND,
            "Impressions": INT, "Frequency": FREQ, "Reach": INT,
            "Clicks (all)": INT, "ThruPlays": INT, "3-second video plays": INT,
            "Registrations Completed": INT, "Purchases": INT,
            "Purchases conversion value": VALUE, "Video plays": INT,
        },
        "X (Twitter)": {
            "Time period": DATE, "Objective": TEXT, "Campaign name": TEXT,
            "Spend": SPEND, "Impressions": INT, "Average frequency": XFREQ,
            "Total audience reach": INT, "Clicks": INT,
            "Video completions": INT, "3s/100% video views": INT, "Leads": INT,
            "Purchases": INT, "Purchases - sale amount": VALUE,
            "Video views": INT,
        },
    },
    "podl": {
        "Meta": {
            "Day": DATE, "Campaign name": TEXT, "Ad Set Name": TEXT,
            "Ad name": AD, "Gender": GENDER, "Age": AGE,
            "Amount spent (USD)": SPEND, "Impressions": INT,
            "Frequency": FREQ, "Reach": INT, "Unique outbound clicks": INT,
            "Link clicks": INT, "Video plays": INT, "Video plays at 25%": INT,
            "Video plays at 50%": INT, "Video plays at 75%": INT,
            "Video plays at 100%": INT, "Adds to cart": INT,
            "Checkouts Initiated": INT, "Purchases": INT,
            "Purchases conversion value": VALUE,
        },
        "TikTok": {
            "By Day": DATE, "Campaign name": TEXT, "Ad group name": TEXT,
            "Ad name": ADMP4, "Cost": SPEND, "Impressions": INT,
            "Frequency": FREQ, "Reach": INT, "Clicks (destination)": INT,
            "Video views": INT, "Video views at 25%": INT,
            "Video views at 50%": INT, "Video views at 75%": INT,
            "Video views at 100%": INT, "Adds to cart (website)": INT,
            "Checkouts initiated (website)": INT, "Purchases (website)": INT,
            "Purchase value (website)": VALUE,
        },
    },
    "like_eat": {
        "Meta_naver": {
            "일": DATE, "캠페인 이름": TEXT, "광고 세트 이름": TEXT,
            "광고 이름": AD, "웹사이트 URL": URL, "지출 금액 (KRW)": SPEND,
            "노출": INT, "빈도": FREQ, "도달": INT, "링크 클릭": INT,
            "공유 항목이 포함된 장바구니에 담기": INT,
            "공유 항목이 포함된 구매": INT, "공유 항목의 구매 전환값": VALUE,
            "동영상 25% 재생": INT, "동영상 50% 재생": INT,
            "동영상 75% 재생": INT, "동영상 95% 재생": INT,
            "동영상 100% 재생": INT, "동영상 재생": INT, "THRUPLAY": INT,
        },
        "Naver_GFA": {
            "기간": GFA_DATE, "연령 및 성별": GFA_AGE_GENDER,
            "애셋 그룹 이름": TEXT, "캠페인 이름": TEXT, "총 비용": SPEND,
            "노출": INT, "클릭": INT, "구매완료수": INT, "장바구니 담기수": INT,
            "구매완료 전환 매출액": VALUE,
        },
    },
}

# Sources whose cleaner reads a column by position: never JSONL.
POSITIONAL = {"TikTok"}

# Naver GFA raw age/gender strings -> the (연령, 성) the cleaner must produce.
GFA_AGE_GENDER_CASES = {
    "25~34세 남성": ("25-34", "male"),
    "35–44세 여자": ("35-44", "female"),
    "50세 이상 여성": ("50+", "female"),
    "연령모름 성별모름": ("unknown", "unknown"),
    "  18 ~ 24세   남자 ": ("18-24", "male"),
    "45—49세  여성": ("45-49", "female"),
}

# Rows per file run from 20 to 100; every run gets the same sizes in a seeded
# order, so the total row count (and so rows/s) does not depend on the seed.
ROWS_MIN, ROWS_MAX = 20, 100

_FIXED_ZIP_TIME = (2026, 1, 1, 0, 0, 0)


def _spend_column(pipeline: str, source: str) -> str:
    return next(h for h, k in SOURCES[pipeline][source].items() if k == SPEND)


def _draw(rng: random.Random, kind: str, day: dt.date, header: str):
    """One raw cell value. Spend/value/frequency are 2-decimal strings so the
    manifest can sum them exactly."""
    if kind in (DATE, GFA_DATE):
        return day.isoformat() if kind == DATE else day.strftime("%Y.%m.%d.")
    if kind == TEXT:
        return f"{header.split()[0].lower()}_{rng.randrange(12)}"
    if kind == AD:
        return f"ad_{rng.randrange(40)}"
    if kind == ADMP4:
        return f"vid_{rng.randrange(40)}.mp4"
    if kind == SPEND:
        return f"{rng.randrange(100, 500000) / 100:.2f}"
    if kind == VALUE:
        return f"{rng.randrange(0, 2000000) / 100:.2f}"
    if kind == FREQ:
        return f"{rng.randrange(100, 400) / 100:.2f}"
    if kind == XFREQ:
        return "-" if rng.random() < 0.2 else f"{rng.randrange(100, 400) / 100:.2f}"
    if kind == INT:
        return str(rng.randrange(0, 50000))
    if kind == GENDER:
        return rng.choice(["female", "male", "unknown"])
    if kind == AGE:
        return rng.choice(["18-24", "25-34", "35-44", "45-54", "55+"])
    if kind == URL:
        return f"https://shop.example/p/{rng.randrange(100)}"
    if kind == GFA_AGE_GENDER:
        return rng.choice(sorted(GFA_AGE_GENDER_CASES))
    raise ValueError(kind)


def _numeric(v: str):
    """xlsx/JSONL cell typing: numbers as numbers, everything else as text."""
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        return v


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def _xlsx_bytes(header: list[str], rows: list[list[str | None]], text_cols: set[int]) -> bytes:
    """A minimal one-sheet workbook: numeric cells as numbers, the rest as
    inline strings (columns in ``text_cols`` are always strings)."""

    def text(ref: str, v) -> str:
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    def cell(ref: str, ci: int, v) -> str:
        if v is None or v == "":
            return ""
        val = v if ci in text_cols else _numeric(v)
        if isinstance(val, (int, float)):
            return f'<c r="{ref}"><v>{val}</v></c>'
        return text(ref, val)

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    body = [
        '<row r="1">'
        + "".join(text(f"{_col_letter(ci)}1", h) for ci, h in enumerate(header))
        + "</row>"
    ]
    for rn, row in enumerate(rows, 2):
        cells = "".join(cell(f"{_col_letter(ci)}{rn}", ci, v) for ci, v in enumerate(row))
        body.append(f'<row r="{rn}">{cells}</row>')
    parts = {
        "[Content_Types].xml": (
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>'
        ),
        "xl/workbook.xml": (
            f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
            '<sheet name="Report" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<worksheet xmlns="{ns}"><sheetData>{"".join(body)}</sheetData></worksheet>'
        ),
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, xml in parts.items():
            zf.writestr(zipfile.ZipInfo(name, date_time=_FIXED_ZIP_TIME), xml)
    return buf.getvalue()


def _write_file(path: Path, fmt: str, header: list[str], rows: list[list[str | None]],
                text_cols: set[int]) -> Path:
    if fmt in ("csv", "csv_bom"):
        path = path.with_suffix(".csv")
        out = io.StringIO(newline="")
        w = csv.writer(out, lineterminator="\n")
        w.writerow(header)
        w.writerows([["" if v is None else v for v in r] for r in rows])
        path.write_bytes(out.getvalue().encode("utf-8-sig" if fmt == "csv_bom" else "utf-8"))
    elif fmt == "xlsx":
        path = path.with_suffix(".xlsx")
        path.write_bytes(_xlsx_bytes(header, rows, text_cols))
    elif fmt == "jsonl":
        path = path.with_suffix(".jsonl")
        lines = [
            json.dumps(
                {h: (v if i in text_cols else _numeric(v)) for i, (h, v) in enumerate(zip(header, r))},
                ensure_ascii=False,
            )
            for r in rows
        ]
        path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    else:
        raise ValueError(fmt)
    return path


# Format rotation: half plain CSV, the rest CSV+BOM, xlsx and JSONL. Sources
# take formats in turn from the start of the rotation, so every format
# appears and each source has the same format whatever the seed (a source's
# read path costs more or less per format; the seed only changes values,
# dates and row order); sources with a positional cleaner skip JSONL.
FORMATS = ["csv", "csv_bom", "csv", "xlsx", "csv", "jsonl"]
POSITIONAL_FORMATS = ["csv", "csv_bom", "xlsx"]


def generate(out_dir: str | Path, seed: int) -> dict:
    """Write one raw report per source of every pipeline, and
    ``manifest.json``, under ``out_dir``; return the manifest.

    Manifest layout: ``{"seed", "pipelines": {name: {"raw_dir",
    "files", "rows_in", "date_min", "date_max", "sources": {Source: {"rows",
    "spend"}}, "age_gender": {"연령|성": rows}}}}`` — ``rows`` counts rows that
    survive the cleaners, ``spend`` is their exact decimal sum as a string.
    """
    rng = random.Random(seed)
    out = Path(out_dir)
    start = dt.date(2026, 1, 1) + dt.timedelta(days=rng.randrange(60))
    manifest: dict = {"seed": seed, "pipelines": {}}
    n_files = sum(len(srcs) for srcs in SOURCES.values())
    sizes = [ROWS_MIN + (ROWS_MAX - ROWS_MIN) * i // (n_files - 1) for i in range(n_files)]
    rng.shuffle(sizes)
    turn = {False: 0, True: 0}
    for pipeline in SOURCES:
        raw = out / pipeline / "raw"
        raw.mkdir(parents=True, exist_ok=True)
        pm = {"raw_dir": f"{pipeline}/raw", "files": 0, "rows_in": 0, "sources": {}, "age_gender": {}}
        dates: list[dt.date] = []
        for si, (source, cols) in enumerate(SOURCES[pipeline].items()):
            header = list(cols)
            kinds = list(cols.values())
            text_cols = {i for i, k in enumerate(kinds) if k in (XFREQ, DATE, GFA_DATE)}
            spend_i = header.index(_spend_column(pipeline, source))
            sm = {"rows": 0, "spend": Decimal("0")}
            n_rows = sizes.pop()
            rows: list[list[str | None]] = []
            for _ in range(n_rows):
                day = start + dt.timedelta(days=rng.randrange(28))
                row = [_draw(rng, k, day, h) for h, k in cols.items()]
                rows.append(row)
                dates.append(day)
            if XFREQ in kinds:  # every X file carries the "-" quirk
                rows[0][kinds.index(XFREQ)] = "-"
            positional = source in POSITIONAL
            cycle = POSITIONAL_FORMATS if positional else FORMATS
            fmt = cycle[turn[positional] % len(cycle)]
            turn[positional] += 1
            if source == "TikTok":
                # summary row in the positional column: dropped by the cleaner
                total = list(rows[0])
                total[0] = f"Total of {n_rows} days"
                total[spend_i] = str(sum(Decimal(r[spend_i]) for r in rows))
                rows.insert(rng.randrange(len(rows) + 1), total)
                # null positional cell: kept (null-keeping remove)
                nulled = list(rows[-1] if rows[-1] is not total else rows[0])
                nulled[0] = None
                rows.append(nulled)
            for r in rows:
                if r[0] is not None and str(r[0]).startswith("Total"):
                    continue
                sm["rows"] += 1
                sm["spend"] += Decimal(r[spend_i])
                if GFA_AGE_GENDER in kinds:
                    age, gender = GFA_AGE_GENDER_CASES[r[kinds.index(GFA_AGE_GENDER)]]
                    key = f"{age}|{gender}"
                    pm["age_gender"][key] = pm["age_gender"].get(key, 0) + 1
            name = f"{si:02d}_{source.split()[0].lower()}"
            _write_file(raw / name, fmt, header, rows, text_cols)
            pm["files"] += 1
            pm["rows_in"] += len(rows)
            pm["sources"][source] = {"rows": sm["rows"], "spend": str(sm["spend"])}
        pm["date_min"] = min(dates).isoformat()
        pm["date_max"] = max(dates).isoformat()
        manifest["pipelines"][pipeline] = pm
    (out / "manifest.json").write_text(
        json.dumps(manifest, ensure_ascii=False, indent=1, sort_keys=True), encoding="utf-8"
    )
    return manifest
