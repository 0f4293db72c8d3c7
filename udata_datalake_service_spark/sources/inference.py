"""S6 — the schema-inference engine (csv_detective replacement).

Reference behavior (analysis/csv.py:152-154, csv_detective 0.7.3 with
``output_profile=True, num_rows=-1``): detect encoding/separator/header
row, then infer a ``python_type`` per column from the 7-type system, plus a
per-column profile. SURVEY §7.3 calls this the hardest, most
behavior-laden piece; golden tests pin the semantics
(tests/test_analysis/test_analysis_csv.py:89-168).

Two-phase Spark-first design:

1. **Driver-side sniff** (small sample bytes): encoding (BOM + utf-8 trial,
   latin-1 fallback — chardet-free), separator (csv.Sniffer over candidate
   set), header row heuristic (first row whose cells are non-numeric and
   distinct). Cheap, bounded, never touches the cluster.
2. **Distributed type vote**: read everything as strings, ONE aggregate
   pass computes per column the success-rate of each candidate caster
   (bool/int/float/date/datetime/json) using the same null-on-failure
   expressions that later cast the data (functions/casting.py) — inference
   and casting can't drift apart. Most specific type with 100% parse rate
   on non-null cells wins, with the reference's priority
   bool > int > float > date > datetime > json > string.

At 100 TB the vote is still one scan + one reduce row; for quick looks a
``sample_rows`` cap bounds the scan.
"""

from __future__ import annotations

import copy
import csv as _csv
import io
import threading
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udata_datalake_service_spark.functions.casting import smart_cast
from udata_datalake_service_spark.schemas import PYTHON_TYPE_TO_SPARK, renamed

CANDIDATE_SEPARATORS = (",", ";", "\t", "|")
# priority: most specific first (reference tries bool/int/float before text)
TYPE_PRIORITY = ("bool", "int", "float", "date", "datetime", "json", "string")


@dataclass
class Inspection:
    """The inspection report (csv_detective dict equivalent).

    ``engine``/``sheet_name`` mirror the reference inspection's Excel
    fields (None for CSV; reader name + sheet for workbooks)."""

    encoding: str = "utf-8"
    separator: str = ","
    header_row_idx: int = 0
    header: list[str] = field(default_factory=list)
    total_lines: int = 0
    columns: dict[str, dict] = field(default_factory=dict)  # name → {python_type, score}
    profile: dict[str, dict] = field(default_factory=dict)
    engine: str | None = None
    sheet_name: str | None = None

    def to_dict(self) -> dict:
        return {
            "encoding": self.encoding,
            "separator": self.separator,
            "header_row_idx": self.header_row_idx,
            "header": self.header,
            "total_lines": self.total_lines,
            "columns": self.columns,
            "profile": self.profile,
            "engine": self.engine,
            "sheet_name": self.sheet_name,
        }


# ------------------------------------------------------------ phase 1 ------
def sniff_bytes(sample: bytes) -> tuple[str, str, int]:
    """(encoding, separator, header_row_idx) from a byte sample."""
    if sample.startswith(b"\xef\xbb\xbf"):
        encoding = "utf-8-sig"
    else:
        try:
            sample.decode("utf-8")
            encoding = "utf-8"
        except UnicodeDecodeError:
            encoding = "latin-1"
    text = sample.decode(encoding, errors="replace")

    try:
        dialect = _csv.Sniffer().sniff(text[:8192], delimiters="".join(CANDIDATE_SEPARATORS))
        separator = dialect.delimiter
    except _csv.Error:
        counts = {s: text.count(s) for s in CANDIDATE_SEPARATORS}
        separator = max(counts, key=counts.get) if any(counts.values()) else ","

    header_row_idx = 0
    try:
        rows = list(_csv.reader(io.StringIO(text), delimiter=separator))[:10]
    except _csv.Error:
        # binary garbage can trip the C reader ("new-line character seen
        # in unquoted field") — no detectable header, not a crash
        rows = []
    for i, row in enumerate(rows):
        cells = [c.strip() for c in row if c.strip()]
        if len(cells) >= 2 and len(set(cells)) == len(cells) and not any(
            _looks_numeric(c) for c in cells
        ):
            header_row_idx = i
            break
    return encoding, separator, header_row_idx


def _looks_numeric(s: str) -> bool:
    try:
        float(s.replace(",", "."))
        return True
    except ValueError:
        return False


# ------------------------------------------------------------ phase 2 ------
_JSON_RE = r"^\s*(\{.*\}|\[.*\])\s*$"



def _qcol(name: str) -> F.Column:
    """Resolve a column whose name is ARBITRARY BYTES decoded to text —
    crawled CSV headers contain dots (struct-access syntax to the
    analyzer), backticks, quotes. Backtick-quote with doubling, the SQL
    identifier escape Spark honors."""
    return F.col("`" + name.replace("`", "``") + "`")


def _indicator_columns(c: str) -> list[F.Column]:
    """Per-column candidate indicators as one flat projection.

    Semantically identical to summing ``_candidate_ok`` per candidate, but
    the expensive subtrees are built ONCE per column — in particular the
    timestamp chain (shared by the date and datetime candidates, and the
    single pandas-UDF fallback instance per column instead of two). The
    downstream aggregate then sums plain ints, so the agg's expression
    tree stays tiny (large per-agg trees measured seconds of driver-side
    analysis + codegen on their own).
    """
    from udata_datalake_service_spark.functions.casting import (
        _FALSE_VALUES,
        _TRUE_VALUES,
        normalize_number,
    )
    from udata_datalake_service_spark.functions.dates import (
        parse_datetime_multi,
        verbal_date_rlike,
    )

    col = _qcol(c)
    trimmed = F.trim(col)
    blank = col.isNull() | (trimmed == "")
    low = F.lower(trimmed)
    n = normalize_number(trimmed)
    d = n.try_cast("double")
    # int is STRICTER than smart_cast("int", …): casting truncates float
    # strings per the reference's int(str2float(v)) fallback
    # (analysis/csv.py:210-213), but "2.0" infers int while "3.5" must
    # infer float — inference accepts integral values only
    int_ok = n.try_cast("long").isNotNull() | (d.isNotNull() & (d == F.floor(d)))
    # vote-time timestamp check stays pure-JVM: pattern chain + verbal
    # regex, NOT the pandas-UDF fallback the actual cast uses (an
    # ArrowEvalPython node here measured ~4 s of overhead per inspection
    # for a boolean answer)
    ts_ok = (
        parse_datetime_multi(trimmed, verbal_fallback=False).isNotNull()
        | verbal_date_rlike(trimmed)
    )
    has_time = trimmed.rlike(r"\d[:hH]\d")
    ok = {
        "bool": low.isin(*(_TRUE_VALUES + _FALSE_VALUES)),
        "int": int_ok,
        "float": d.isNotNull(),
        "date": ts_ok & ~has_time,
        "datetime": ts_ok,
        "json": trimmed.rlike(_JSON_RE),
    }
    out = [blank.cast("int").alias(f"{c}__blank")]
    for t in TYPE_PRIORITY[:-1]:
        out.append((blank | ok[t]).cast("int").alias(f"{c}__{t}"))
    return out


def infer_types(df: DataFrame, columns: list[str] | None = None) -> dict[str, str]:
    """Distributed type vote: one indicator projection + one aggregate pass
    over an all-strings frame.

    For every column × candidate type we sum the clean-cast indicator; a
    candidate with zero failures (and at least one non-blank success) wins
    by priority order.
    """
    return _vote(df, columns)[0]


def _vote(df: DataFrame, columns: list[str] | None = None) -> tuple[dict[str, str], int]:
    """`infer_types` plus the frame's row count, which the vote aggregate
    computes anyway — the inspection's ``total_lines`` without a second
    scan."""
    cols = columns or df.columns
    proj = []
    for c in cols:
        proj.extend(_indicator_columns(c))
    ind = df.select(*proj)
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(_qcol(c)).alias(c) for c in ind.columns
    ]
    row = ind.agg(*aggs).collect()[0].asDict()

    n = row["__n"]
    out: dict[str, str] = {}
    for c in cols:
        # sums over ZERO rows aggregate to NULL, not 0 — a header-only
        # or unparseable file must infer all-strings, not TypeError
        blanks = row[f"{c}__blank"] or 0
        chosen = "string"
        if blanks < n:  # at least one real value
            for t in TYPE_PRIORITY[:-1]:
                if row[f"{c}__{t}"] == n:
                    chosen = t
                    break
        out[c] = chosen
    return out, n


def apply_types(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """Cast an all-strings frame to its inferred schema with smart_cast
    (null-on-failure) + the reference's reserved-name renames and the
    synthetic ``__id`` column (analysis/csv.py:228,356-360)."""
    cols = [
        smart_cast(types[c], _qcol(c)).alias(renamed(c)) for c in df.columns
    ]
    out = df.select(*cols)
    return out.withColumn("__id", F.monotonically_increasing_id() + 1)


# Memo of completed inspections keyed by file identity. The reference
# persists every inspection in ``tables_index`` (analysis/csv.py:398-408)
# precisely so downstream steps never re-infer; this is the in-process
# equivalent — re-inspecting an unchanged file re-runs only the cheap
# all-strings read + cast, not the vote/count jobs. Entries are stored and
# returned as deep copies (callers mutate Inspection.profile freely) and
# the memo is LRU-bounded so a long-lived session can't grow it unbounded.
_INSPECT_MEMO: "OrderedDict[tuple, tuple[dict, Inspection]]" = OrderedDict()
_INSPECT_MEMO_MAX = 256
# Driver apps routinely run inspections from a thread pool (one per file);
# OrderedDict move_to_end/popitem are not atomic together.
_INSPECT_MEMO_LOCK = threading.Lock()


def _memo_get(key: tuple):
    # only the OrderedDict ops run under the lock; the deepcopy happens on
    # a snapshot reference outside it (stored values are never mutated in
    # place — puts deepcopy on insert), so concurrent readers don't
    # serialize on the slowest copy
    with _INSPECT_MEMO_LOCK:
        hit = _INSPECT_MEMO.get(key)
        if hit is not None:
            _INSPECT_MEMO.move_to_end(key)
    if hit is None:
        return None
    return copy.deepcopy(hit)


def _memo_put(key: tuple, value: tuple) -> None:
    snapshot = copy.deepcopy(value)  # copy outside the lock, too
    with _INSPECT_MEMO_LOCK:
        _INSPECT_MEMO[key] = snapshot
        _INSPECT_MEMO.move_to_end(key)
        while len(_INSPECT_MEMO) > _INSPECT_MEMO_MAX:
            _INSPECT_MEMO.popitem(last=False)


def inspect_csv(
    spark,
    path: str,
    sample_bytes: int = 1 << 20,
) -> tuple[DataFrame, Inspection]:
    """Full inspection pipeline: sniff → all-strings read → type vote →
    typed frame + report. Returns (typed_df, inspection)."""
    import os

    from udata_datalake_service_spark.operators.profile import profile
    from udata_datalake_service_spark.sources.csv_reader import read_csv_with_dialect

    st = os.stat(path)
    memo_key = (os.path.abspath(path), st.st_size, st.st_mtime_ns, sample_bytes)

    # Spark picks the decompression codec from the EXTENSION; a gzip
    # payload behind a lying name (.csv serving gz bytes) would scan
    # compressed garbage. Alias it with a .gz symlink so the codec engages
    # — one step past the reference, which keys gz routing on the url
    # (utils/csv.py:18-22) and mis-serves the same case.
    spark_path = path
    with open(path, "rb") as fh:
        if fh.read(2) == b"\x1f\x8b" and not path.lower().endswith(".gz"):
            link = path + ".alias.gz"
            if not os.path.islink(link) and not os.path.exists(link):
                os.symlink(os.path.abspath(path), link)
            spark_path = link

    hit = _memo_get(memo_key)
    if hit is not None:
        types, insp = hit
        raw = read_csv_with_dialect(
            spark,
            spark_path,
            separator=insp.separator,
            encoding=insp.encoding,
            header_row_idx=insp.header_row_idx,
            all_strings=True,
        )
        return apply_types(raw, types), insp

    with open(path, "rb") as fh:
        sample = fh.read(sample_bytes)
    if sample.startswith(b"\x1f\x8b"):
        # S2 (utils/file.py:27-31): the reference inflates .csv.gz before
        # analysis. Spark's csv reader inflates by extension on its own;
        # only the sniff needs inflated bytes. decompressobj tolerates the
        # truncated member a bounded sample produces.
        import zlib

        sample = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS).decompress(
            sample, sample_bytes
        )
    encoding, separator, header_row_idx = sniff_bytes(sample)

    raw = read_csv_with_dialect(
        spark,
        spark_path,
        separator=separator,
        encoding=encoding,
        header_row_idx=header_row_idx,
        all_strings=True,
    )
    types, total_lines = _vote(raw)
    typed = apply_types(raw, types)

    insp = Inspection(
        encoding=encoding,
        separator=separator,
        header_row_idx=header_row_idx,
        header=list(raw.columns),
        total_lines=total_lines,
        columns={
            renamed(c): {
                "python_type": types[c],
                "spark_type": PYTHON_TYPE_TO_SPARK[types[c]].simpleString(),
            }
            for c in raw.columns
        },
    )
    _memo_put(memo_key, (types, insp))
    return typed, insp


def inspect_excel(
    spark,
    path: str,
    sheet_name: str | None = None,
    header_row_idx: int = 0,
    fmt: str | None = None,
) -> tuple[DataFrame, Inspection]:
    """Workbook → same inference pipeline as CSV (the reference routes
    xls/xlsx through csv_detective with an ``engine`` field —
    analysis/csv.py:152-154, utils/reader.py:31-41)."""
    from udata_datalake_service_spark.sources.excel_reader import (
        HAS_OPENPYXL,
        HAS_XLRD,
        read_excel,
    )

    low = path.lower()
    fmt = fmt or ("xls" if low.endswith(".xls") else "ods" if low.endswith(".ods") else "xlsx")
    raw = read_excel(
        spark, path, sheet_name=sheet_name, header_row_idx=header_row_idx, fmt=fmt
    )
    types, total_lines = _vote(raw)
    typed = apply_types(raw, types)
    insp = Inspection(
        encoding="binary",
        separator="",
        header_row_idx=header_row_idx,
        header=list(raw.columns),
        total_lines=total_lines,
        columns={
            renamed(c): {
                "python_type": types[c],
                "spark_type": PYTHON_TYPE_TO_SPARK[types[c]].simpleString(),
            }
            for c in raw.columns
        },
        engine=(
            ("xlrd" if HAS_XLRD else "stdlib-biff")
            if fmt == "xls"
            else "stdlib-ods"
            if fmt == "ods"
            else ("openpyxl" if HAS_OPENPYXL else "stdlib-xlsx")
        ),
        sheet_name=sheet_name,
    )
    return typed, insp


def inspect_tabular(
    spark,
    path: str,
    sheet_name: str | None = None,
) -> tuple[DataFrame, Inspection]:
    """Format dispatch, as the reference's analyse flow does by DETECTED
    format, not extension (utils/csv.py:4-43): csv / csv.gz → sniff+vote
    pipeline; xlsx / xls → workbook reader into the same vote pipeline.
    Content magic wins over a lying extension (an OLE2 payload behind a
    ``.csv`` URL still routes to the workbook reader, like the reference)."""
    low = path.lower()
    try:
        with open(path, "rb") as f:
            head = f.read(8)
    except OSError:
        head = b""
    if head == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":  # OLE2 → binary xls
        return inspect_excel(spark, path, sheet_name=sheet_name, fmt="xls")
    if head[:4] == b"PK\x03\x04":
        kind = _zip_workbook_kind(path) if not low.endswith((".xlsx", ".ods")) else (
            "ods" if low.endswith(".ods") else "xlsx"
        )
        if kind:
            return inspect_excel(spark, path, sheet_name=sheet_name, fmt=kind)
    if low.endswith((".xlsx", ".xls", ".ods")):
        return inspect_excel(spark, path, sheet_name=sheet_name)
    return inspect_csv(spark, path)


def _zip_workbook_kind(path: str) -> str | None:
    """Classify a zip payload: 'xlsx' (xl/ part tree), 'ods' (OpenDocument
    mimetype entry), or None (a plain .zip of CSVs stays on the CSV path)."""
    import zipfile

    try:
        with zipfile.ZipFile(path) as z:
            names = z.namelist()
            if any(n.startswith("xl/") for n in names):
                return "xlsx"
            if "mimetype" in names and z.read("mimetype").startswith(
                b"application/vnd.oasis.opendocument.spreadsheet"
            ):
                return "ods"
    except (zipfile.BadZipFile, OSError):
        pass
    return None


def schema_drift(old: "Inspection | dict", new: "Inspection | dict") -> list[dict]:
    """Column-level drift between two inspections of the same resource —
    the signal the reference's change-detection cascade (ST4) lacks at
    the SCHEMA level: it spots content changes, this names what changed
    structurally before a reload breaks downstream consumers.

    Returns one dict per drifted column, deterministic order (added /
    removed by header position, retyped by name):
    ``{"column", "change": added|removed|retyped, "old_type", "new_type"}``.
    Driver-side over two metadata dicts — no Spark job.
    """
    o = old.to_dict() if hasattr(old, "to_dict") else old
    n = new.to_dict() if hasattr(new, "to_dict") else new
    ocols, ncols = o.get("columns", {}), n.get("columns", {})
    out: list[dict] = []
    for c in n.get("header", []) or ncols:
        if c not in ocols and c in ncols:
            out.append(
                {"column": c, "change": "added", "old_type": None,
                 "new_type": ncols[c].get("python_type")}
            )
    for c in o.get("header", []) or ocols:
        if c not in ncols and c in ocols:
            out.append(
                {"column": c, "change": "removed",
                 "old_type": ocols[c].get("python_type"), "new_type": None}
            )
    for c in sorted(set(ocols) & set(ncols)):
        ot, nt = ocols[c].get("python_type"), ncols[c].get("python_type")
        if ot != nt:
            out.append(
                {"column": c, "change": "retyped", "old_type": ot, "new_type": nt}
            )
    return out
