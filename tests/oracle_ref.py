"""Slow differential oracle: row-at-a-time re-implementation of the
reference SchemaValidator's semantics (app/core/schema_validator.py) over
plain dicts, written independently for testing the Spark engine.

Differences from the reference that are pinned engine decisions
(SURVEY.md §1.2): absent and None collapse (typed DataFrame), and a
required null reports REQUIRED_FIELD_MISSING by default.
"""

from __future__ import annotations

import re
from datetime import datetime
from typing import Any, Dict, List, Tuple

from pyspark.sql import functions as F

from data_contract_engine_spark.contracts.model import (
    Contract,
    FieldDef,
    FORMAT_REGEXES,
)

MAX_ERRORS = 10
MAX_ARRAY_ITEMS = 10


def _type_ok(t: str, v: Any) -> bool:
    if t == "string":
        return isinstance(v, str)
    if t == "integer":
        return isinstance(v, int) and not isinstance(v, bool)
    if t == "float":
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if t == "boolean":
        return isinstance(v, bool)
    if t == "timestamp":
        return isinstance(v, (str, int, float, datetime))
    if t == "date":
        return isinstance(v, (str,))
    if t == "array":
        return isinstance(v, list)
    if t == "object":
        return isinstance(v, dict)
    return False


def _parse_ts(v: Any):
    if isinstance(v, datetime):
        return v
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return datetime.utcfromtimestamp(float(v))
    if isinstance(v, str):
        try:
            return datetime.fromisoformat(v.replace("Z", "+00:00")).replace(
                tzinfo=None
            )
        except ValueError:
            return None
    return None


def _scalar_checks(path: str, v: Any, fd: FieldDef, out: List[Tuple[str, str]]):
    if fd.type == "string" and isinstance(v, str):
        if fd.pattern and not re.match(fd.pattern, v):
            out.append((path, "PATTERN_MISMATCH"))
        if fd.format:
            rx = FORMAT_REGEXES.get(fd.format)
            if rx and not re.match(rx, v, re.IGNORECASE):
                out.append((path, "FORMAT_MISMATCH"))
        if fd.min_length is not None and len(v) < fd.min_length:
            out.append((path, "LENGTH_TOO_SHORT"))
        if fd.max_length is not None and len(v) > fd.max_length:
            out.append((path, "LENGTH_TOO_LONG"))
        if fd.enum and v not in fd.enum:
            out.append((path, "ENUM_MISMATCH"))
    elif fd.type in ("integer", "float"):
        if fd.min is not None and v < fd.min:
            out.append((path, "VALUE_TOO_SMALL"))
        if fd.max is not None and v > fd.max:
            out.append((path, "VALUE_TOO_LARGE"))
        if fd.enum and v not in fd.enum:
            out.append((path, "ENUM_MISMATCH"))


def _validate_nested(path: str, v: Any, fd: FieldDef, out):
    if v is None:
        return
    if not _type_ok(fd.type, v):
        out.append((path, "TYPE_MISMATCH"))
        return
    if fd.type == "object":
        _validate_object(path, v, fd, out)
    else:
        _scalar_checks(path, v, fd, out)


def _validate_object(path: str, v: Dict, fd: FieldDef, out):
    for pname, pdef in fd.properties or ():
        ppath = f"{path}.{pname}"
        pv = v.get(pname)
        if pv is None:
            if pdef.required:
                out.append((ppath, "REQUIRED_FIELD_MISSING"))
            continue
        _validate_nested(ppath, pv, pdef, out)


def validate_record(record: Dict[str, Any], contract: Contract):
    """Returns ordered [(field_path, error_type), ...] capped at 10."""
    out: List[Tuple[str, str]] = []
    for name, fd in contract.fields:
        v = record.get(name)
        if v is None:
            if fd.required:
                out.append((name, "REQUIRED_FIELD_MISSING"))
            continue
        if not _type_ok(fd.type, v):
            out.append((name, "TYPE_MISMATCH"))
            continue
        if fd.type in ("string", "integer", "float"):
            _scalar_checks(name, v, fd, out)
        elif fd.type == "timestamp":
            ts = _parse_ts(v)
            if ts is None:
                out.append((name, "INVALID_TIMESTAMP"))
            else:
                if fd.min and ts < _parse_ts(str(fd.min)):
                    out.append((name, "TIMESTAMP_TOO_OLD"))
                if fd.max and ts > _parse_ts(str(fd.max)):
                    out.append((name, "TIMESTAMP_TOO_RECENT"))
        elif fd.type == "array":
            if fd.min is not None and len(v) < int(fd.min):
                out.append((name, "ARRAY_TOO_SHORT"))
            if fd.max is not None and len(v) > int(fd.max):
                out.append((name, "ARRAY_TOO_LONG"))
            if fd.items is not None:
                for i, item in enumerate(v[:MAX_ARRAY_ITEMS]):
                    p = f"{name}[{i}]"
                    if item is None:
                        if fd.items.required:
                            out.append((p, "TYPE_MISMATCH"))
                        continue
                    _validate_nested(p, item, fd.items, out)
        elif fd.type == "object":
            _validate_object(name, v, fd, out)
    return out[:MAX_ERRORS]


# --------------------------------------------------------------------------
# Reference spec for the whitespace tokenizer and k-word gram builder in
# ``operators/textstats.py``: the earlier lambda forms, kept only to pin
# the compiled regex forms to them. Too slow for production (the
# ``transform`` lambda captures ``toks``, so every gram re-tokenizes the
# whole document).
# --------------------------------------------------------------------------


def ws_tokens_ref(text):
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def word_grams_ref(text, k: int):
    toks = ws_tokens_ref(text)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))
