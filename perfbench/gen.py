"""Seeded inputs for the benchmark, in two SpaceParts-shaped domains.

- The sales star: ``fact_invoices`` and the two dims its gold model
  joins (``dim_budget_rate``, ``dim_invoice_doctype``) feed
  ``gold_fact_sales``.
- The budget fact: ``fact_budget`` feeds ``gold_fact_budget``; deltas
  land new keys, updated budgets and rows to quarantine.
- A document batch for the corpus funnel, with labelled classes, and
  the registry queries' input tables (``lineitem``, ``embeddings``;
  ``documents`` is the batch itself).

Everything is a pure function of the seed; the
program only ever sees the parquet files written here. The generator
also keeps a ledger of what it planted, so the row-count checks compare
against the inputs, never against numbers the program produced.

Determinism rules:

- no two rows sharing a dedup key carry the same ``dwcreateddate``
  (``dedup_latest`` breaks such ties arbitrarily);
- future dates sit in year 2200, past any horizon derived from today,
  and every other date sits in 2023-2025, before any such horizon, so
  the quarantine split never depends on the day the benchmark runs;
- each dirty class lands on rows of its own, so its effect on the row
  counts is exact.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
#: ``dwcreateddate`` of the base rows; delta ``k`` lands ``7 (k + 1)`` days later
T_BASE = dt.datetime(2025, 1, 1, tzinfo=UTC)
NS = 10**9
DATE_LO = int(dt.datetime(2023, 1, 1, tzinfo=UTC).timestamp())
DATE_HI = int(dt.datetime(2025, 1, 1, tzinfo=UTC).timestamp())
FUTURE_S = int(dt.datetime(2200, 1, 1, tzinfo=UTC).timestamp())
NULL_TOKENS = ("N/A", " null ", "", "#N/A", "none", "UNKNOWN ")
CURRENCIES = ("USD", "GBP", "JPY", "CHF", "CAD", "AUD", "SEK", "NOK", "DKK", "PLN")
DOCTYPES = (("F2", "Invoice"), ("G2", "Adjustment"), ("L2", "Debit"), ("S1", None), ("RE", "Return"))
#: quarantine value bounds of the silver layer (reference: silver_processor.py)
VALUE_MAX, VALUE_MIN = 1e8, -1e7

INVOICE_SCHEMA = pa.schema([
    ("customer_key", pa.string()), ("product_key", pa.string()),
    ("billing_date", pa.int64()), ("ship_date", pa.int64()),
    ("billing_document_number", pa.string()),
    ("billing_document_line_item_number", pa.string()),
    ("billing_document_type_code", pa.string()),
    ("net_invoice_value", pa.float64()), ("net_invoice_cogs", pa.float64()),
    ("delivery_cost", pa.float64()), ("freight", pa.float64()),
    ("taxes_commercial_fees", pa.float64()), ("net_invoice_quantity", pa.float64()),
    ("local_currency", pa.string()), ("otd_indicator", pa.int64()),
    ("dwcreateddate", pa.timestamp("us", tz="UTC")),
])
RATE_SCHEMA = pa.schema([
    ("from_currency", pa.string()), ("to_currency", pa.string()),
    ("rate", pa.float64()), ("dwcreateddate", pa.timestamp("us", tz="UTC")),
])
DOCTYPE_SCHEMA = pa.schema([
    ("billing_document_type_code", pa.string()), ("group_col", pa.string()),
    ("text", pa.string()), ("dwcreateddate", pa.timestamp("us", tz="UTC")),
])
BUDGET_SCHEMA = pa.schema([
    ("customer_key", pa.string()), ("product_key", pa.string()), ("month", pa.int64()),
    ("total_budget", pa.float64()), ("dwcreateddate", pa.timestamp("us", tz="UTC")),
])
SCHEMAS = {"fact_invoices": INVOICE_SCHEMA, "dim_budget_rate": RATE_SCHEMA,
           "dim_invoice_doctype": DOCTYPE_SCHEMA, "fact_budget": BUDGET_SCHEMA}


def rng_for(seed: int, stream: int) -> np.random.Generator:
    """One independent stream per purpose (0 = base, k + 1 = delta k);
    any integer seed works, negative ones included."""
    return np.random.default_rng([seed % 2**63, stream])


class Table:
    """Rows of one source table as a list of dicts, plus the ledger:
    ``survives[i]`` is True for the rows silver must keep, and
    ``quarantined[i]`` for the rows its quarantine split must catch."""

    def __init__(self, name: str, rows: list[dict]):
        self.name = name
        self.rows = rows
        self.survives = [True] * len(rows)
        self.quarantined = [False] * len(rows)

    def add(self, rows: list[dict], survives: bool, quarantined: bool = False) -> None:
        self.rows += rows
        self.survives += [survives] * len(rows)
        self.quarantined += [quarantined] * len(rows)

    def arrow(self) -> pa.Table:
        return pa.Table.from_pylist(self.rows, schema=SCHEMAS[self.name])


def _created(rng: np.random.Generator, n: int, day: dt.datetime) -> list[dt.datetime]:
    """``n`` distinct instants within one day: no ``dwcreateddate`` ties."""
    secs = rng.choice(86_400, size=n, replace=False)
    return [day + dt.timedelta(seconds=int(s)) for s in secs]


def _epoch(rng: np.random.Generator, seconds: int) -> int:
    """Half the dates in epoch seconds, half in nanoseconds (silver tells
    them apart by magnitude)."""
    return seconds * NS if rng.random() < 0.5 else seconds


def _invoices(rng: np.random.Generator, first: int, n: int, day: dt.datetime) -> list[dict]:
    created = _created(rng, n, day)
    rows = []
    for i in range(n):
        bill = int(rng.integers(DATE_LO, DATE_HI))
        value = round(float(rng.random()) * 5e4 + 10, 2)
        rows.append({
            "customer_key": f"C{int(rng.integers(0, 500)):05d}",
            "product_key": f"P{int(rng.integers(0, 250)):05d}",
            "billing_date": _epoch(rng, bill),
            "ship_date": _epoch(rng, bill + int(rng.integers(0, 20)) * 86_400),
            "billing_document_number": f"INV{first + i:010d}",
            "billing_document_line_item_number": str(1 + (first + i) % 5),
            "billing_document_type_code":
                DOCTYPES[int(rng.integers(0, 5))][0] if rng.random() < 0.95 else "Z9",
            "net_invoice_value": value,
            "net_invoice_cogs": round(value * (0.5 + 0.3 * float(rng.random())), 2),
            "delivery_cost": round(float(rng.random()) * 500, 2),
            "freight": round(float(rng.random()) * 200, 2),
            "taxes_commercial_fees": round(float(rng.random()) * 300, 2),
            "net_invoice_quantity": float(rng.integers(1, 50)),
            "local_currency": CURRENCIES[int(rng.integers(0, 10))] if rng.random() < 0.95 else "XXX",
            "otd_indicator": int(rng.integers(0, 2)),
            "dwcreateddate": created[i],
        })
    return rows


def _later(rows: list[dict], rng: np.random.Generator, day: dt.datetime) -> list[dict]:
    """Later versions of ``rows``: same key, new ``dwcreateddate``."""
    created = _created(rng, len(rows), day)
    return [{**r, "dwcreateddate": c} for r, c in zip(rows, created)]


def _disjoint(rng: np.random.Generator, n: int, k: int, classes: int) -> list[list[int]]:
    idx = rng.permutation(n)
    return [sorted(int(i) for i in idx[c * k:(c + 1) * k]) for c in range(classes)]


def star_base(seed: int, n_invoices: int) -> dict[str, Table]:
    """The base load: clean rows plus every planted dirty class."""
    rng = rng_for(seed, 0)
    rates = Table("dim_budget_rate", [
        {"from_currency": c, "to_currency": "EUR", "rate": round(0.5 + float(rng.random()), 6),
         "dwcreateddate": t}
        for c, t in zip(CURRENCIES, _created(rng, len(CURRENCIES), T_BASE))])
    doctypes = Table("dim_invoice_doctype", [
        {"billing_document_type_code": c, "group_col": g, "text": f"Document type {c}",
         "dwcreateddate": t}
        for (c, g), t in zip(DOCTYPES, _created(rng, len(DOCTYPES), T_BASE))])
    # dims: one exact later copy each (their dedup key is the whole row,
    # so only an exact copy collapses) and a null token in free text
    for t in (rates, doctypes):
        copy = _later([t.rows[1]], rng, T_BASE + dt.timedelta(days=1))
        t.survives[1] = False
        t.add(copy, survives=True)
    doctypes.rows[2]["text"] = " N/A "

    inv = Table("fact_invoices", _invoices(rng, 0, n_invoices, T_BASE))
    k = max(3, n_invoices // 200)
    pad, tokens, nans, dups, future, extreme = _disjoint(rng, n_invoices, k, 6)
    for i in pad:
        r = inv.rows[i]
        r["customer_key"] = f"  {r['customer_key'].lower()} "
        r["product_key"] = f"{r['product_key'].lower()}  "
    for j, i in enumerate(tokens):
        col = ("local_currency", "billing_document_type_code")[j % 2]
        inv.rows[i][col] = NULL_TOKENS[j % len(NULL_TOKENS)]
    scrubbed = (("net_invoice_cogs", float("nan")), ("freight", float("inf")),
                ("delivery_cost", float("-inf")), ("net_invoice_value", float("nan")))
    for j, i in enumerate(nans):
        col, v = scrubbed[j % len(scrubbed)]
        inv.rows[i][col] = v
    for j, i in enumerate(future):
        inv.rows[i]["billing_date"] = FUTURE_S * NS if j % 2 else FUTURE_S
        inv.survives[i], inv.quarantined[i] = False, True
    for j, i in enumerate(extreme):
        inv.rows[i]["net_invoice_value"] = 5e8 if j % 2 else -5e7
        inv.survives[i], inv.quarantined[i] = False, True
    later = _later([inv.rows[i] for i in dups], rng, T_BASE + dt.timedelta(days=3))
    for j, r in enumerate(later):
        r["net_invoice_value"] = r["net_invoice_value"] + 1.0
        if j % 3 == 0:  # the later version spells the key padded
            r["customer_key"] = f" {r['customer_key'].lower()}"
    for i in dups:
        inv.survives[i] = False
    inv.add(later, survives=True)
    # two all-null source rows: bronze stamps load metadata on them, so
    # silver's all-null drop does not apply; they share the all-NULL key
    # and dedup keeps one
    inv.add([{c: None for c in INVOICE_SCHEMA.names}] * 2, survives=False)
    inv.survives[-1] = True
    return {t.name: t for t in (inv, rates, doctypes)}


def budget_base(seed: int, n_rows: int) -> dict[str, Table]:
    """``fact_budget``, one row per (customer, product), with its dirty
    classes: padded keys, months mixed between epoch seconds and
    nanoseconds, NaN and ±inf budgets, null months (silver keeps them,
    gold drops them), later versions of a key and two all-null rows.
    Its only quarantine rule is a future ``dwcreateddate``; the deltas
    plant those. None is planted here: the initial load would carry the
    bronze watermark to year 2200 and hide every delta."""
    rng = rng_for(seed, 0)
    pairs = rng.choice(500 * 250, size=n_rows, replace=False)
    created = _created(rng, n_rows, T_BASE)
    rows = [{
        "customer_key": f"C{int(p) // 250:05d}", "product_key": f"P{int(p) % 250:05d}",
        "month": _epoch(rng, int(dt.datetime(2023 + m // 12, m % 12 + 1, 1, tzinfo=UTC).timestamp())),
        "total_budget": round(float(rng.random()) * 1e5, 2), "dwcreateddate": c,
    } for p, m, c in zip(pairs, rng.integers(0, 24, n_rows), created)]
    t = Table("fact_budget", rows)
    k = max(3, n_rows // 200)
    pad, nans, null_month, dups = _disjoint(rng, n_rows, k, 4)
    for i in pad:
        rows[i]["customer_key"] = f" {rows[i]['customer_key'].lower()}  "
    for j, i in enumerate(nans):
        rows[i]["total_budget"] = (float("nan"), float("inf"), float("-inf"))[j % 3]
    for i in null_month:
        rows[i]["month"] = None
    later = _later([rows[i] for i in dups], rng, T_BASE + dt.timedelta(days=3))
    for j, r in enumerate(later):
        r["total_budget"] = r["total_budget"] + 1.0
        if j % 3 == 0:
            r["product_key"] = f"  {r['product_key'].lower()}"
    for i in dups:
        t.survives[i] = False
    t.add(later, survives=True)
    t.add([{c: None for c in BUDGET_SCHEMA.names}] * 2, survives=False)
    t.survives[-1] = True
    return {"fact_budget": t}


def budget_delta(seed: int, cycle: int, base: dict[str, Table], frac: float) -> dict[str, Table]:
    """Incremental drop ``cycle`` of ``fact_budget``: budgets for new
    (customer, product) keys, later versions of existing keys with a
    changed budget, and new keys stamped in year 2200, which silver must
    quarantine."""
    rng = rng_for(seed, cycle + 1)
    day = T_BASE + dt.timedelta(days=7 * (cycle + 1))
    b = base["fact_budget"]
    n_new = max(4, int(len(b.rows) * frac))
    fresh = [{
        # customers from C00500 up never occur in the base
        "customer_key": f"C{500 + 10 * cycle + i // 250:05d}", "product_key": f"P{i % 250:05d}",
        "month": _epoch(rng, int(dt.datetime(2024, 1 + i % 12, 1, tzinfo=UTC).timestamp())),
        "total_budget": round(float(rng.random()) * 1e5, 2), "dwcreateddate": c,
    } for i, c in enumerate(_created(rng, n_new, day))]
    t = Table("fact_budget", fresh)
    live = [i for i, (r, s) in enumerate(zip(b.rows, b.survives))
            if s and r["customer_key"] is not None]
    picks = rng.choice(len(live), size=max(2, n_new // 2), replace=False)
    updates = _later([b.rows[live[int(p)]] for p in picks], rng, day + dt.timedelta(days=1))
    for r in updates:
        r["total_budget"] = round(r["total_budget"] * 1.1 + 1.0, 2)
    t.add(updates, survives=True)
    n_future = max(2, n_new // 10)
    future_day = dt.datetime(2200, 1, 1, tzinfo=UTC) + dt.timedelta(days=cycle)
    t.add([{
        # products from P00250 up never occur elsewhere
        "customer_key": f"C{500 + 10 * cycle:05d}", "product_key": f"P{250 + i:05d}",
        "month": _epoch(rng, int(dt.datetime(2024, 6, 1, tzinfo=UTC).timestamp())),
        "total_budget": round(float(rng.random()) * 1e5, 2), "dwcreateddate": c,
    } for i, c in enumerate(_created(rng, n_future, future_day))],
        survives=False, quarantined=True)
    return {"fact_budget": t}


def expected_counts(base: dict[str, Table]) -> dict[str, int]:
    """Row counts the medallion pass must produce from the star's
    ``base``: silver keeps the survivors, quarantine catches the planted
    bad rows, and the gold fact has one row per silver invoice (both
    joined dims are unique on their join keys)."""
    out = {}
    for name, t in base.items():
        out[f"silver_{name}"] = sum(t.survives)
        if any(t.quarantined):
            out[f"silver_quarantine_{name}"] = sum(t.quarantined)
    out["gold_fact_sales"] = out["silver_fact_invoices"]
    return out


def write_landing(tables: dict[str, Table], landing: str, part: str) -> int:
    """Write one file per table under ``<landing>/<table>.parquet/``;
    files of later drops accumulate next to the base, like a source
    table that grows between runs. Returns the rows written."""
    n = 0
    for name, t in tables.items():
        d = os.path.join(landing, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(t.arrow(), os.path.join(d, f"{part}.parquet"))
        n += len(t.rows)
    return n


# -- the corpus batch and the query tables ----------------------------------

#: the quality gate's English stop words; every corpus document carries
#: them, so only the planted short documents fail the gate
STOP = ("the", "and", "of", "to", "a", "in", "is")
SYLLABLES = ("ka", "lo", "mi", "ra", "te", "su", "no", "vi", "pe", "da", "go", "ri",
             "ma", "ze", "tu", "bo")
SOURCES = ("web", "books", "wiki", "forum")
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])


def _words(rng: np.random.Generator, n: int, prefix: str = "") -> list[str]:
    """``n`` distinct three-syllable words; no syllable starts with ``x``,
    so words with the ``x`` prefix never occur among the others."""
    idx = rng.choice(len(SYLLABLES) ** 3, size=n, replace=False)
    s = len(SYLLABLES)
    return [prefix + SYLLABLES[i // s**2] + SYLLABLES[i // s % s] + SYLLABLES[i % s] for i in idx]


def _prose(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    """``n`` tokens, every fourth a stop word."""
    return [STOP[int(rng.integers(len(STOP)))] if i % 4 == 3 else vocab[int(rng.integers(len(vocab)))]
            for i in range(n)]


class Corpus:
    """One document batch for ``run_corpus_ingest`` plus the benchmark
    set its contamination screen reads. ``label[doc_id]`` is the class;
    ``groups`` lists the id sets of which the funnel keeps exactly the
    smallest id (an original and its exact or near duplicate)."""

    def __init__(self, seed: int, batch: int, n_docs: int):
        rng = rng_for(seed, 1000 + batch)
        vocab = _words(rng, 1500)
        bench_vocab = _words(rng, 400, prefix="x")
        # benchmark documents hold no stop words and no corpus word, so
        # every shingle they have is distinctive
        self.bench = [" ".join(bench_vocab[int(i)] for i in rng.integers(0, 400, 40))
                      for _ in range(20)]
        k = max(2, n_docs // 20)
        n_clean = n_docs - 6 * k
        ids = [int(i) for i in rng.permutation(n_docs) + batch * 1_000_000]
        texts: list[str] = []
        labels: list[str] = []

        def add(tokens: list[str], label: str) -> None:
            texts.append(" ".join(tokens))
            labels.append(label)

        originals = []
        for _ in range(n_clean):
            tokens = _prose(rng, vocab, int(rng.integers(60, 120)))
            originals.append(tokens)
            add(tokens, "clean")
        self.groups: list[set[int]] = []
        #: what redaction must leave of each PII document
        self.redacted: dict[int, str] = {}
        for j in range(k):  # an exact copy of a clean document
            add(originals[j], "exact_dup")
            self.groups.append({ids[j], ids[len(texts) - 1]})
        for j in range(k, 2 * k):  # one word changed mid-document: Jaccard >= 0.9
            tokens = list(originals[j])
            mid = len(tokens) // 2 - (len(tokens) // 2 % 4 == 3)
            tokens[mid] = vocab[(vocab.index(tokens[mid]) + 1) % len(vocab)]
            add(tokens, "near_dup")
            self.groups.append({ids[j], ids[len(texts) - 1]})
        for _ in range(k):
            tokens = _prose(rng, vocab, int(rng.integers(60, 120)))
            who = f"{vocab[int(rng.integers(len(vocab)))]}.{vocab[int(rng.integers(len(vocab)))]}"
            phone = f"+49 171 {int(rng.integers(1_000_000, 10_000_000))}"
            clean = [*tokens[:8], "write", "to", "<EMAIL>", "or", "call", "<PHONE>", *tokens[8:]]
            tokens[8:8] = ["write", "to", f"{who}@example.org", "or", "call", *phone.split()]
            add(tokens, "pii")
            self.redacted[ids[len(texts) - 1]] = " ".join(clean)
        for _ in range(k):  # eight consecutive words of a benchmark document
            tokens = _prose(rng, vocab, int(rng.integers(60, 120)))
            src = self.bench[int(rng.integers(len(self.bench)))].split()
            at = int(rng.integers(0, len(src) - 8))
            tokens[20:20] = src[at:at + 8]
            add(tokens, "contaminated")
        for _ in range(k):  # below the gate's 20-token floor
            add(_prose(rng, vocab, 12), "low_quality")
        self.rows = [{"doc_id": i, "text": t, "lang": "en", "source": SOURCES[i % len(SOURCES)],
                      "n_chars": len(t)} for i, t in zip(ids, texts)]
        self.label = dict(zip(ids, labels))
        self.text = dict(zip(ids, texts))

    def expected_admitted(self) -> set[int]:
        """Ids the funnel must admit: every clean and PII document, and of
        each duplicate group only its smallest id."""
        dropped = {i for g in self.groups for i in g if i != min(g)}
        return {i for i, c in self.label.items()
                if c in ("clean", "exact_dup", "near_dup", "pii") and i not in dropped}

    def write(self, root: str) -> int:
        write_files(pa.Table.from_pylist(self.rows, schema=DOC_SCHEMA), root, "documents")
        pq.write_table(pa.table({"doc_id": pa.array(range(len(self.bench)), pa.int64()),
                                 "text": self.bench}), os.path.join(root, "benchmark.parquet"))
        return len(self.rows)


def write_files(table: pa.Table, root: str, name: str, n_files: int = 4) -> None:
    """``<root>/<name>.parquet/`` as ``n_files`` files of consecutive rows."""
    d = os.path.join(root, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for j in range(n_files):
        pq.write_table(table.slice(j * step, step), os.path.join(d, f"part-{j}.parquet"))


def query_tables(seed: int, root: str, n_lineitem: int, n_vectors: int) -> int:
    """The registry queries' other inputs, TPC-H- and fixture-shaped:
    ``lineitem`` and 64-dimensional ``embeddings``, rows permuted across
    the file layout. Returns the rows written."""
    rng = rng_for(seed, 2000)
    n = n_lineitem
    day0 = dt.datetime(1992, 1, 1)
    qty = rng.integers(1, 51, n).astype(float)
    write_files(pa.table({
        "l_orderkey": pa.array(rng.permutation(n) // 4 + 1, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array([day0 + dt.timedelta(days=int(d)) for d in rng.integers(0, 2526, n)],
                               pa.timestamp("us")),
    }), root, "lineitem")
    vecs = rng.standard_normal((n_vectors, 64)).astype(np.float32)
    write_files(pa.table({
        "vec_id": pa.array(rng.permutation(n_vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, n_vectors), pa.int32()),
    }), root, "embeddings")
    return n_lineitem + n_vectors
