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


# --------------------------------------------------------------------------
# Reference spec for the Arrow fold-exact vector kernels in
# ``operators/similarity.py``: the Column higher-order-function forms of
# the same math, a sequential fold over dimensions starting from 0.0 (the
# DuckDB oracles replay it with list_reduce). The kernels must equal these
# bit for bit. Too slow for production: Spark interprets the lambdas per
# row and never compiles them into whole-stage codegen.
# --------------------------------------------------------------------------


def lit_vec(vec):
    return F.array(*[F.lit(float(x)) for x in vec])


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def hyperplane_bucket(vec, planes=16, seed=42, dim=64):
    """Bucket id from the sign bits of <vec, plane_i> (bit i = plane i)."""
    from data_contract_engine_spark.operators.similarity import _hyperplanes

    bucket = None
    for i, plane in enumerate(_hyperplanes(dim, planes, seed)):
        bit = F.when(dot(vec, lit_vec(plane)) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def hyperplane_band_buckets(vec, planes=16, bands=4, seed=42, dim=64):
    """Array of ``bands`` band-bucket ids: band b packs the sign bits of
    planes b*per .. b*per+per-1 (bit j = plane b*per+j)."""
    from data_contract_engine_spark.operators.similarity import _hyperplanes

    per = planes // bands
    hp = _hyperplanes(dim, planes, seed)
    band_cols = []
    for b in range(bands):
        acc = None
        for j in range(per):
            bit = F.when(
                dot(vec, lit_vec(hp[b * per + j])) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            acc = bit if acc is None else acc + bit
        band_cols.append(acc.cast("long"))
    return F.array(*band_cols)


def cosine_topk_multi(emb_df, queries_df, k=10, id_col="vec_id",
                      vec_col="embedding", q_id_col="q_id", q_vec_col="q_vec"):
    """Per-query exact top-k (q_id, id, sim, rank) as a broadcast
    crossJoin scored by :func:`cosine`, ranked by (sim desc, id asc)."""
    from pyspark.sql import Window

    scored = emb_df.crossJoin(F.broadcast(queries_df)).select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_assign(emb_df, centroids, id_col="vec_id", vec_col="embedding"):
    """list_id = argmax cosine to the centroid literals, first index on
    exact ties."""
    v = F.col(vec_col)
    scores = F.array(*[cosine(v, lit_vec(c)) for c in centroids])
    return emb_df.select(
        F.col(id_col),
        v,
        (F.array_position(scores, F.array_max(scores)) - 1)
        .cast("int")
        .alias("list_id"),
    )
