"""Driver-faithful contract-row canonicalization.

The spark-graft driver compares each ``queries()`` entry against its
``oracle_sql()`` twin by fetching BOTH sides into pandas (Spark via
Arrow ``toPandas()``, DuckDB via ``.df()``) and hashing stringified
values after sorting columns by name and rows by value. Round 4 proved
the hard way that any local gate looser than that canon ships typing
defects the driver then flags:

* DuckDB integer ``sum()`` returns HUGEINT, which ``.df()`` coerces to
  **float64** — ``7.0`` vs Spark's bigint ``7`` is a hash mismatch.
* DuckDB ``round()`` emits IEEE ``-0.0``; the string canon sees
  ``"-0.0" != "0.0"`` even though the multisets compare equal.
* list/bytes cells crash the driver's ``sort_values`` canonicalizer
  outright (``unhashable type``) — contract rows must be scalar-only.

This module is the single source of truth for the strict local gate:
``tools/check_correctness.py`` (CLI sweep) and ``tests/test_entry.py``
(CI pin) both build on it, so a new contract row that would fail the
driver fails here first.
"""

from __future__ import annotations

import hashlib
import math

#: Spark field types a contract row may emit (scalar-only rule — the
#: driver's pandas canonicalizer crashes on array/map/struct/binary).
ALLOWED_SPARK_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "boolean", "timestamp", "timestamp_ntz", "date",
}


def spark_schema_violations(sdf):
    """Return [(col, type)] for non-scalar columns in a Spark DataFrame."""
    return [
        (f.name, f.dataType.simpleString())
        for f in sdf.schema.fields
        if f.dataType.simpleString() not in ALLOWED_SPARK_TYPES
    ]


def dtype_kind(s):
    """Collapse a pandas Series dtype to the kind string the gate compares.

    ``int`` vs ``float`` is the HUGEINT tell."""
    import pandas as pd

    d = s.dtype
    if pd.api.types.is_datetime64_any_dtype(d):
        # storage unit deliberately NOT part of the kind: Spark's
        # toPandas yields datetime64[ns] while DuckDB .df() yields
        # datetime64[us] for the SAME microsecond-precision values,
        # and the driver accepts that pairing (r4 q_events_user_stats
        # green). Values still compare at full ISO precision below.
        return "datetime"
    if pd.api.types.is_bool_dtype(d):
        return "bool"
    if pd.api.types.is_integer_dtype(d):
        return "int"
    if pd.api.types.is_float_dtype(d):
        return "float"
    if pd.api.types.is_object_dtype(d) or pd.api.types.is_string_dtype(d):
        return "str"
    return str(d)


def canon_column(s):
    """Full-precision per-dtype string canon for one pandas Series.

    Returns ``(list[str], bad_cell_type | None)``. ``repr`` on floats
    keeps ``-0.0`` and the trailing ``.0`` — exactly the distinctions a
    ``%.6g`` canon erases and the driver's hasher keeps."""
    import pandas as pd

    kind = dtype_kind(s)
    out = []
    if kind == "datetime":
        for v in s:
            out.append("∅" if pd.isna(v) else pd.Timestamp(v).isoformat())
        return out, None
    if kind == "float":
        for v in s:
            fv = float(v)
            out.append("nan" if math.isnan(fv) else repr(fv))
        return out, None
    if kind == "int":  # nullable Int64 columns may hold pd.NA
        return ["∅" if pd.isna(v) else str(int(v)) for v in s], None
    if kind == "bool":
        return [str(bool(v)) for v in s], None
    for v in s:  # object/str column: every cell must be a plain string or null
        if v is None or (isinstance(v, float) and math.isnan(v)):
            out.append("∅")
        elif isinstance(v, str):
            out.append(v)
        else:
            return out, type(v).__name__
    return out, None


def canon_frame(pdf):
    """pandas frame → (sorted line list, {col: kind}); raises ValueError
    on a non-scalar cell (the driver-crash class)."""
    cols = sorted(pdf.columns)
    kinds, col_strs = {}, []
    for c in cols:
        kinds[c] = dtype_kind(pdf[c])
        strs, bad = canon_column(pdf[c])
        if bad is not None:
            raise ValueError(f"non-scalar cell type {bad!r} in column {c!r}")
        col_strs.append(strs)
    lines = sorted("|".join(vals) for vals in zip(*col_strs)) if col_strs else []
    return lines, kinds


def frame_hash(lines):
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compare(spdf, opdf):
    """Driver-faithful compare of two pandas frames → (ok, detail)."""
    ok_rows = len(spdf) == len(opdf)
    ok_schema = sorted(spdf.columns) == sorted(opdf.columns)
    detail = ""
    if not ok_rows:
        detail += f" rows {len(spdf)}!={len(opdf)}"
    if not ok_schema:
        detail += f" schema {sorted(spdf.columns)}!={sorted(opdf.columns)}"
        return False, detail
    s_lines, s_kinds = canon_frame(spdf)
    o_lines, o_kinds = canon_frame(opdf)
    kind_mismatch = {
        c: (s_kinds[c], o_kinds[c]) for c in s_kinds if s_kinds[c] != o_kinds[c]
    }
    if kind_mismatch:
        detail += f" dtype {kind_mismatch}"
    sh, oh = frame_hash(s_lines), frame_hash(o_lines)
    if sh != oh:
        diff = next(
            (i for i, (a, b) in enumerate(zip(s_lines, o_lines)) if a != b), None
        )
        detail += f" hash {sh}!={oh}"
        if diff is not None:
            detail += (
                f" first-diff@{diff}: spark={s_lines[diff][:120]!r}"
                f" oracle={o_lines[diff][:120]!r}"
            )
    return ok_rows and not kind_mismatch and sh == oh, detail
