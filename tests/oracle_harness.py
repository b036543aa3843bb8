"""Local replica of the driver's correctness gate: run a Spark query and
its DuckDB oracle side-by-side, compare row count, column names, and
order-insensitive values (exact after normalization).

Every :func:`compare` call also records its evidence (rows, value
hashes, per-check verdicts) into :data:`PARITY_RECORDS`; when a pytest
run has covered the ENTIRE registry (both tiers),
:func:`emit_parity_attestation` writes ``PARITY_LOCAL_r{N}.json`` next
to the driver's CORRECTNESS file — the machine-generated, auditable
counterpart of the local gate's green for the LOCAL_ONLY twins the
driver never re-checks (r14 verdict "What's missing #1")."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import re

import duckdb
import pandas as pd

#: query name -> evidence dict, filled by :func:`compare` as the parity
#: suite runs (pass AND fail outcomes — a failed compare still records
#: its evidence before raising).
PARITY_RECORDS: dict[str, dict] = {}

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    return v


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def _dtype_group(dtype) -> str:
    """Coarse dtype family used for the driver-fidelity check.

    The driver's value hash is dtype-sensitive: a DuckDB HUGEINT lands as
    float64 in its comparison frame while Spark emits int64, and the hashes
    diverge even when every value is numerically equal (the r07 x34 red row).
    Python `==` hides that (int 5 == float 5.0), so row comparison alone is
    not a faithful replica of the gate — we additionally require that each
    column's pandas dtype falls in the same family on both sides.
    """
    kind = getattr(dtype, "kind", "O")
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    if kind == "M":
        return "datetime"
    if kind == "b":
        return "bool"
    return "object"


def _dtype_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[tuple]:
    mism = []
    for c in sorted(sdf.columns):
        if c not in odf.columns:
            continue  # column-set mismatch is schema_match's job
        sg, og = _dtype_group(sdf[c].dtype), _dtype_group(odf[c].dtype)
        if sg != og:
            mism.append((c, f"spark={sdf[c].dtype}({sg})", f"oracle={odf[c].dtype}({og})"))
    return mism


def assert_dtype_compatible(sdf: pd.DataFrame, odf: pd.DataFrame, name: str = "?") -> None:
    mism = _dtype_mismatches(sdf, odf)
    assert not mism, (
        f"{name}: dtype mismatch between Spark and oracle frames (the driver's "
        f"hash is dtype-sensitive — CAST the oracle to the Spark type): {mism}"
    )


def _value_hash(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def compare(spark, query_fn, oracle: str | None, sf_dir: str, name: str = "?") -> None:
    sdf = query_fn(spark, sf_dir).toPandas()
    if oracle is None:
        PARITY_RECORDS[name] = {
            "spark_rows": len(sdf), "oracle_rows": None,
            "rows_match": None, "schema_match": None, "hash_match": None,
            "value_hash": _value_hash(normalize(sdf)),
            "verdict": "rows_only",
        }
        assert len(sdf) >= 0  # rows-only smoke
        return
    con = duck_connection(sf_dir)
    odf = con.execute(oracle).df()
    s_rows, o_rows = normalize(sdf), normalize(odf)
    s_hash, o_hash = _value_hash(s_rows), _value_hash(o_rows)
    dtype_mism = _dtype_mismatches(sdf, odf)
    rec = PARITY_RECORDS[name] = {
        "spark_rows": len(sdf), "oracle_rows": len(odf),
        "rows_match": len(sdf) == len(odf),
        "schema_match": sorted(sdf.columns) == sorted(odf.columns),
        "hash_match": s_hash == o_hash,
        # the driver's hash is dtype-sensitive, so the attestation
        # verdict must reflect dtype compatibility too — a query with
        # matching normalized values but incompatible dtypes would
        # otherwise record 'pass' while the pytest gate itself fails
        # (r15 ADVICE, oracle_harness.py).
        "dtype_compatible": not dtype_mism,
        "value_hash": s_hash, "oracle_value_hash": o_hash,
        "verdict": None,
    }
    rec["verdict"] = ("pass" if rec["rows_match"] and rec["schema_match"]
                      and rec["hash_match"] and rec["dtype_compatible"]
                      else "fail")
    assert rec["schema_match"], (
        f"{name}: column mismatch spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert rec["rows_match"], f"{name}: row count spark={len(sdf)} oracle={len(odf)}"
    # assert from the SAME mismatch list the attested dtype_compatible
    # field was computed from (no second scan, no drift between them)
    assert not dtype_mism, (
        f"{name}: dtype mismatch between Spark and oracle frames (the driver's "
        f"hash is dtype-sensitive — CAST the oracle to the Spark type): {dtype_mism}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first: {mismatches[0]}"


def _current_round(repo_dir: str) -> int:
    """The round the NEXT attestation belongs to: SPARK_GRAFT_ROUND if
    set, else 1 + the newest driver CORRECTNESS file (the driver writes
    CORRECTNESS_r{N} at the END of round N, so mid-round the max is
    N−1)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [int(m.group(1)) for p in glob.glob(
        os.path.join(repo_dir, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))]
    return (max(rounds) + 1) if rounds else 1


def emit_parity_attestation(repo_dir: str | None = None) -> str | None:
    """Write ``PARITY_LOCAL_r{N}.json`` from :data:`PARITY_RECORDS` —
    only when this run covered the FULL registry (both tiers), so a
    partial ``-k``-filtered run can never publish a misleadingly thin
    attestation. A record equal to the one on disk except for
    ``generated_at`` is not rewritten, so a re-run leaves the tree
    clean. Returns the path written, or None when skipped."""
    from spaceparts_data_pipeline_spark.queries import LOCAL_ONLY, all_queries

    repo_dir = repo_dir or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = set(all_queries())
    if not names <= set(PARITY_RECORDS):
        return None
    import datetime as dt

    local = {n: {**PARITY_RECORDS[n], "twin": LOCAL_ONLY[n]}
             for n in sorted(names) if n in LOCAL_ONLY}
    driver = {n: PARITY_RECORDS[n] for n in sorted(names) if n not in LOCAL_ONLY}
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    # the driver-comparable attestation lives at the driver's gate scale
    # (sf0.01); a stretch sweep (e.g. SPARK_GRAFT_ORACLE_SF=sf0.1) gets
    # its own suffixed file instead of clobbering that record
    suffix = ""
    if sf_dir.rstrip("/") != "/root/testdata/sf0.01":
        suffix = "_" + (os.path.basename(sf_dir.rstrip("/")) or "custom")
    out = {
        "round": _current_round(repo_dir),
        "sf_dir": sf_dir,
        "generated_by": "tests/test_oracle_parity.py via tests.oracle_harness.compare;"
                        " emitted by tests/conftest.py pytest_sessionfinish",
        "generated_at": dt.datetime.now(dt.timezone.utc).isoformat(),
        "full_tier_count": len(names),
        "local_only_count": len(local),
        "all_pass": all(r["verdict"] in ("pass", "rows_only")
                        for r in PARITY_RECORDS.values()),
        "local_only": local,
        "driver_tier": driver,
    }
    path = os.path.join(repo_dir, f"PARITY_LOCAL_r{out['round']}{suffix}.json")
    try:
        with open(path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = None
    fresh = json.loads(json.dumps(out, default=str))
    fresh.pop("generated_at")
    if isinstance(prev, dict):
        prev.pop("generated_at", None)
    if prev == fresh:
        return None
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    return path
